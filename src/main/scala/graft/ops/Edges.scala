package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints.StageCheckpoint

/** The one undirected-edge builder behind every graph operator
  * ([[ConnectedComponents]], [[PageRank]], [[HyperBall]], [[Triangles]])
  * and the co-purchase graph queries: how a caller's edge list becomes
  * the (u, v) frame that each loop round joins against.
  *
  * Canonical dedup before symmetrizing (r15): distinct() on
  * (least, greatest) sees HALF the rows of a symmetrize-then-distinct
  * (which shuffled and double-aggregated BOTH orientations), and
  * [[symmetric]] then re-adds each non-self-loop edge's other
  * orientation without introducing duplicates. The produced SET is the
  * same for every input class (duplicates, both orientations,
  * self-loops kept once). Measured on PageRank at sf1.0/16t: build
  * 171 → 114 shuffle-MB, ~53 → ~25 cpu-s.
  *
  * [[canonical]] is checkpointed BEFORE any swapped union is built
  * (r15 session 2): with a lazy canonical frame the union's two
  * branches each re-ran the distinct aggregation — and the caller's
  * whole edge subplan under it (LSH pair generation, the
  * orders⋈lineitem join) — inside the next checkpoint action; exchange
  * reuse dedups the shuffle write, not the aggregation pass above it
  * (−5.2 shuffle-read MB on the lpa/bfs builders at sf0.1/16t). The
  * union over the checkpointed blocks is two cheap scans.
  *
  * [[symmetric]] is lazy: a caller stages it when two or more
  * consumers re-read it (the loop rounds of CC and PageRank, BFS,
  * modularity) and leaves it lazy when one pass reads it.
  */
object Edges {

  /** (u, v) with u ≤ v, each undirected edge once, checkpointed. The
    * casts run BEFORE least/greatest so that u ≤ v holds numerically:
    * string ids order lexicographically ("9" > "10"), and a consumer's
    * u < v filter would drop such an edge. A self-loop is kept once as
    * (u, u).
    */
  def canonical(edges: DataFrame, src: String, dst: String): DataFrame = {
    val a = col(src).cast("long")
    val b = col(dst).cast("long")
    edges.select(least(a, b).as("u"), greatest(a, b).as("v"))
      .distinct()
      .stageCheckpoint()
  }

  /** Both orientations as (u, v): the swapped non-loop rows, then the
    * rows themselves (swapped branch first keeps PageRank's summation
    * order). Precondition: each undirected edge appears once, in either
    * orientation — [[canonical]] output, or a distinct bipartite list.
    */
  def symmetric(edges: DataFrame, src: String = "u",
      dst: String = "v"): DataFrame =
    edges.filter(col(src) =!= col(dst))
      .select(col(dst).as("u"), col(src).as("v"))
      .union(edges.select(col(src).as("u"), col(dst).as("v")))

  /** The distinct endpoints of a [[canonical]] frame, as `node`. A node
    * whose only edge is a self-loop is included.
    */
  def nodes(canon: DataFrame): DataFrame =
    canon.select(col("u").as("node"))
      .union(canon.select(col("v").as("node")))
      .distinct()
}
