package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints.StageCheckpoint

/** Distributed connected components over an undirected edge list — the
  * missing step between "near-duplicate PAIRS" and an actually deduped
  * corpus: pairs (a,b),(b,c) must collapse to ONE cluster {a,b,c} with one
  * surviving representative, or transitive duplicates leak through
  * pairwise-only removal (ref's dedup is key-equality only, `etl.py:451`;
  * similarity dedup needs the transitive closure).
  *
  * Algorithm: iterative min-label propagation. Each node starts labeled
  * with min(self, neighbors); each round every node takes the min label
  * across its neighborhood; fixpoint = every node holds its component's
  * minimum id. Each round is ONE hash-shuffle join of the (compact,
  * two-column) edge list against the (one-row-per-node) label frame plus a
  * groupBy — no row explosion, nothing driver-side; the convergence check
  * is a count() on the changed-label frame.
  *
  * Round count is the graph DIAMETER. For near-dup clusters that is ~2-3:
  * LSH components are dense blobs of mutually-similar documents (long
  * thin chains would require a ladder of just-barely-0.8 neighbors that
  * similarity graphs don't produce). For general graphs with adversarial
  * diameter the published fix is the alternating large-star/small-star
  * contraction (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14) at O(log²n) rounds — same per-round shuffle shape,
  * so swapping it in changes this loop body, not the callers.
  *
  * Per-round `localCheckpoint` truncates lineage: without it the plan
  * doubles per iteration (label frame feeds the next join AND the change
  * count), and Catalyst analysis time — not the data — becomes the
  * bottleneck by round ~15.
  */
object ConnectedComponents {

  /** (node, component) for every node appearing in `edges`; component =
    * min node id reachable. `maxIter` bounds pathological diameters; the
    * loop exits as soon as a round changes no label.
    */
  def components(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30): DataFrame = {
    // materialized once: the edge list is re-joined EVERY round, and the
    // caller's edge frame is typically an expensive subplan (LSH pair
    // generation) that must not re-run per iteration ([[Edges]]).
    val both = Edges.symmetric(Edges.canonical(edges, srcCol, dstCol))
      .stageCheckpoint()
    var labels = both.groupBy(col("u"))
      .agg(least(min(col("v")), col("u")).as("comp"))
      .select(col("u").as("node"), col("comp"))
      .stageCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // pull each neighbor's current label, fold min per node
      val nbrMin = both
        .join(labels.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u")).agg(min(col("comp")).as("nbr_comp"))
        .withColumnRenamed("u", "node")
      val next = labels.as("l")
        .join(nbrMin.as("n"), Seq("node"), "left")
        .select(col("node"),
          least(col("l.comp"), coalesce(col("n.nbr_comp"), col("l.comp"))).as("comp"),
          (col("n.nbr_comp") < col("l.comp")).as("_chg"))
        .stageCheckpoint()
      converged = next.filter(col("_chg")).isEmpty
      labels = next.drop("_chg")
      iter += 1
    }
    // fail LOUDLY at the iteration cap: truncated labels are silently
    // WRONG (one component carrying several ids), and a downstream dedup
    // would keep multiple "representatives" of one duplicate cluster
    if (!converged) throw new IllegalStateException(
      s"ConnectedComponents.components did not converge in $maxIter rounds " +
        "(graph diameter exceeds maxIter) — raise maxIter or use componentsStar")
    labels
  }

  /** The adversarial-diameter path: alternating large-star / small-star
    * edge contraction (Kiveris et al., SoCC'14) — converges in O(log² n)
    * rounds on ANY graph, vs min-label propagation's O(diameter). Same
    * per-round shuffle shape (one grouped aggregation over the edge
    * list); use this when components can be long chains (similarity
    * graphs aren't, so [[components]] stays the default).
    *
    *  - large-star: every node connects its LARGER neighbors to the
    *    minimum of its neighborhood (incl. itself).
    *  - small-star: with edges oriented larger→smaller, every node
    *    connects its not-larger neighbors (and itself) to that minimum.
    *
    * Fixpoint: the edge set is a forest of stars (v, min-of-component);
    * reading the labels off is one projection. Both operations preserve
    * connectivity, so the result provably equals [[components]].
    * Deliberate library API, pinned by ConnectedComponentsSpec (also on
    * randomized graphs).
    */
  def componentsStar(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30): DataFrame = {
    val canon = Edges.canonical(edges, srcCol, dstCol)
    var e = canon.filter(col("u") =!= col("v"))
      .select(col("v").as("u"), col("u").as("v"))
    var converged = e.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star over the symmetrized view: per node, m = min(N(u)∪{u});
      // emit (w, m) for larger neighbors w
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star on larger→smaller edges: per node, connect not-larger
      // neighbors and self to the minimum
      val sMins = large.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      val small = large.join(sMins, "u")
        .select(explode(array(col("v"), col("u"))).as("w"), col("m"))
        .filter(col("w") =!= col("m"))
        .select(col("w").as("u"), col("m").as("v"))
        .distinct()
        .stageCheckpoint()
      // both frames are distinct(): set-equal iff equal cardinality and
      // one-sided difference empty — one exceptAll shuffle per round,
      // not two
      converged = small.count() == e.count() && small.exceptAll(e).isEmpty
      e = small
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"ConnectedComponents.componentsStar did not converge in $maxIter " +
        "rounds — a truncated star contraction can label one node twice")
    // star fixpoint: every remaining edge points child → component min.
    // Everything else (star roots, and nodes whose only edges were
    // self-loops) labels itself — matching [[components]]' node universe.
    val members = e.select(col("u").as("node"), col("v").as("comp"))
    val selfLabeled = Edges.nodes(canon)
      .join(members.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("comp"))
    members.union(selfLabeled)
  }
}
