package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Checkpoints.StageCheckpoint

/** Multi-source breadth-first search over a symmetric edge frame —
  * the reachability/hop-distance primitive (influence radius, crawl
  * frontier depth, friend-of-friend expansion).
  *
  * Frontier-set formulation: per round, one frontier⋈edges join
  * (shuffle keyed on node id) and one anti-join against the visited
  * set — both node-sized; never an all-pairs distance matrix. Visited
  * state records first-reach distance, which equals min-distance
  * because expansion is synchronous by level. Per-round stage
  * checkpoints keep lineage flat (same lifecycle as CC / k-core; the
  * `spark.graft.checkpoint.mode` toggle picks local vs reliable).
  */
object Bfs {

  /** Hop distances from `sources` (a bounded frame with one `node`
    * column) over `sym` (must hold both directions as (u, v) —
    * [[Edges.symmetric]]; every round re-reads it, so a caller with an
    * expensive edge build stages it first). Returns (node, dist) for
    * every node reached within `rounds` hops; dist 0 = the sources
    * themselves.
    */
  def hops(sym: DataFrame, sources: DataFrame, rounds: Int): DataFrame = {
    // distinct: duplicate source rows would emit duplicate (node, 0)
    // state rows and fan out every downstream join/count
    var frontier = sources.select(col("node")).distinct().stageCheckpoint()
    // state stays a lazy union of per-round CHECKPOINTED frontiers:
    // each member's lineage is already flat, so the union never
    // re-plans — one materialization per round, not two
    var state = frontier.withColumn("dist", lit(0L))
    for (r <- 1 to rounds) {
      val next = sym.join(frontier.select(col("node").as("u")), Seq("u"))
        .select(col("v").as("node")).distinct()
        .join(state.select(col("node")), Seq("node"), "left_anti")
        .stageCheckpoint()
      frontier = next
      state = state.unionByName(next.withColumn("dist", lit(r.toLong)))
    }
    state
  }
}
