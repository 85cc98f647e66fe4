package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints.StageCheckpoint

/** Neighborhood-function estimation via mergeable distinct sketches —
  * the HyperBall idea (Boldi & Vigna, "In-Core Computation of
  * Geometric Centralities with HyperBall", 2013): each node carries a
  * fixed-size distinct sketch of its radius-r ball; one round of
  * merging every neighbor's sketch into your own advances r by one.
  * Exact wedge/path expansion is Σd² per hop and densifies at scale;
  * the sketch path is one edge-keyed shuffle per hop with O(k) state
  * per node — the 100 TB shape for reach/neighborhood-size queries.
  * KMV (k minimum md5-60 values, [[graft.functions.KmvAgg]]) rather
  * than HLL keeps the sketch EXACT below k members and cross-engine
  * auditable: the DuckDB oracle rebuilds every sketch from raw rows.
  */
object HyperBall {

  /** Symmetric edge view (lazy) plus the node universe, both off one
    * [[Edges.canonical]] checkpoint. The node universe comes from the
    * canonical frame WITH its self-loops: a node whose only incident
    * edge is a self-loop has no sym row (u < v drops it) but still owns
    * the ball {self} — dropping it would emit no row where a BFS oracle
    * reports size 1.
    *
    * The checkpoint is what keeps the caller's edge-BUILDING subplan to
    * one evaluation: sym, nodes and the callers' per-round actions all
    * hang off it (r15 stage attribution on the co-purchase graph: the
    * 898k-row pair-explode stage ran 3× per diameter query / 2× per
    * radius-2 query — 40%/25% of the queries' cpu — for a frame that is
    * 14.6k rows once built).
    *
    * Staging sym as well is worth it only when ≥2 merge ROUNDS re-consume
    * it ([[ballSizes3]], [[neighborhoodFunction]]); the radius-2 path
    * measured ~1 s/sf0.1 SLOWER with the eager sym checkpoint than with
    * Spark's own exchange reuse, so [[twoHopBallSizes]] keeps it lazy.
    */
  private def symAndNodes(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame) = {
    val canon = Edges.canonical(edges, srcCol, dstCol)
    (Edges.symmetric(canon.filter(col("u") < col("v"))), Edges.nodes(canon))
  }

  /** Radius-1 ball sketch per node: self + direct neighbors. */
  private def radius1(sym: DataFrame, nodes: DataFrame, k: Int): DataFrame =
    sym.select(col("u"), col("v").cast("string").as("m"))
      .unionByName(nodes.select(col("node").as("u"),
        col("node").cast("string").as("m")))
      .groupBy(col("u"))
      .agg(graft.functions.KmvAgg.sketchMd5(col("m"), k).as("sk"))

  /** One HyperBall round: ball_{r+1}(u) = ∪_{v ∈ N(u) ∪ {u}} ball_r(v),
    * as a bounded sketch merge keyed by the edge list.
    *
    * The round's fused join+partial-merge stage runs at AQE-coalesced
    * width (4 tasks at sf0.1/32t) because the join exchanges move only
    * a few MB while the in-stage sketch fan-out dominates CPU — the
    * jaccard-style "AQE is blind to the blowup" signature. The
    * explicit-N fix was A/B'd here (r15): repartitioning the sketch
    * side of the join to session parallelism made the query STRICTLY
    * worse — graph_effective_diameter 13.2 → 24.1 cpu-s, 47.6 → 56.6
    * shuffle-MB at sf0.1/32t — because the added sketch-row exchange
    * (≤2 KB rows × nodes × rounds) plus the lost locality of the
    * coalesced merge cost more than the extra width bought. Unlike the
    * jaccard wedge join there is no spill here at any measured SF (the
    * merge state is O(k) per group), so the narrow stage is cheap
    * throughput, not a hazard. Left as-is, with the numbers.
    */
  private def nextRadius(sym: DataFrame, h: DataFrame, k: Int): DataFrame =
    sym.join(h.select(col("u").as("v"), col("sk")), "v")
      .select(col("u"), col("sk"))
      .unionByName(h)
      .groupBy(col("u"))
      .agg(graft.functions.KmvAgg.mergeSketches(col("sk"), k).as("sk"))

  /** Floored ball-size estimate per node — the codegen
    * [[graft.functions.KmvEstimate]] expression (identical IEEE
    * arithmetic to [[graft.functions.KmvAgg.estimateDistinctMd5]]; the
    * former Scala udf here was the last udf in the graph family).
    */
  private def estU(k: Int)(c: org.apache.spark.sql.Column) =
    graft.functions.KmvEstimate(c, k)

  /** Per-node 2-hop BALL size estimates (|{w : dist(v,w) ≤ 2}|,
    * self included — the paper's ball convention). Input may carry
    * duplicates or both orientations; k is the KMV sketch width.
    * Returns (node, sketch_size, ball2_est). The unrolled radius-2
    * special case of [[ballSizes3]]'s iteration.
    */
  def twoHopBallSizes(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int = 256): DataFrame = {
    val (sym, nodes) = symAndNodes(edges, srcCol, dstCol)
    val h1 = radius1(sym, nodes, k)
    val h2 = nextRadius(sym, h1, k)
    h2.select(col("u").as("node"), size(col("sk")).as("sketch_size"),
      estU(k)(col("sk")).as("ball2_est"))
  }

  /** Ball-size estimates at radii 1, 2, 3 — the harmonic/closeness-
    * centrality input: each radius is ONE more sketch-merge round over
    * the edge list. Ball growth is monotone by construction —
    * ball_{r} ⊇ ball_{r−1}, and the KMV estimate of a superset's
    * k-smallest hash set is ≥ the subset's — so derived per-shell
    * differences are never negative. Per-round frames are
    * localCheckpoint'd: each round's sketch feeds both the next merge
    * and its own estimate, and the iterative-loop lineage rule applies.
    * Returns (node, b1, b2, b3).
    */
  def ballSizes3(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int = 256): DataFrame = {
    val (symLazy, nodes) = symAndNodes(edges, srcCol, dstCol)
    val sym = symLazy.stageCheckpoint()
    val h1 = radius1(sym, nodes, k).stageCheckpoint()
    val h2 = nextRadius(sym, h1, k).stageCheckpoint()
    val h3 = nextRadius(sym, h2, k)
    val est = estU(k) _
    h1.select(col("u"), est(col("sk")).as("b1"))
      .join(h2.select(col("u"), est(col("sk")).as("b2")), "u")
      .join(h3.select(col("u"), est(col("sk")).as("b3")), "u")
      .select(col("u").as("node"), col("b1"), col("b2"), col("b3"))
  }

  /** The neighborhood function iterated to CONVERGENCE plus the 90%
    * effective diameter — the Boldi–Vigna headline use of HyperBall:
    * N(r) = Σ_u |ball_r(u)| (floored KMV estimates), one bounded
    * sketch-merge round per radius, stopping at the first radius whose
    * total matches the previous one (the paper's "no counter changed"
    * rule applied to the estimate totals — a plateau where balls still
    * grow only in above-v_k hashes terminates identically on any
    * engine sharing the estimator, which is exactly the oracle
    * contract) or at `maxR`. Effective diameter = the smallest r with
    * N(r) ≥ ⌈0.9·N(∞)⌉, integer-interpolated between the bracketing
    * radii in milli-units — every step is Long arithmetic, so an
    * independent engine reproduces the value bit-for-bit from the same
    * N(r) table.
    *
    * Returns (r, n_reach, eff_diameter_milli) for r = 0..r_stop; the
    * diameter column is constant by construction. Driver state is
    * O(maxR) scalars — per-round frames are stage-checkpointed and the
    * only collected values are the per-round totals.
    */
  def neighborhoodFunction(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int = 256, maxR: Int = 8): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (symLazy, nodes) = symAndNodes(edges, srcCol, dstCol)
    val sym = symLazy.stageCheckpoint()
    val n0 = nodes.count()
    if (n0 == 0L)
      return Seq.empty[(Long, Long, Long)]
        .toDF("r", "n_reach", "eff_diameter_milli")
    val est = estU(k) _
    def total(h: DataFrame): Long =
      h.agg(sum(est(col("sk"))).as("t")).first().getLong(0)
    val ns = scala.collection.mutable.ArrayBuffer(n0)
    var h = radius1(sym, nodes, k).stageCheckpoint()
    ns += total(h)
    var r = 1
    while (r < maxR && ns(r) != ns(r - 1)) {
      h = nextRadius(sym, h, k).stageCheckpoint()
      ns += total(h)
      r += 1
    }
    val ninf = ns.last
    // ceil(0.9·N∞) and the interpolation below stay in Long arithmetic
    // end-to-end (floor division on non-negative operands == DuckDB //)
    val t = (9L * ninf + 9L) / 10L
    val rh = ns.indexWhere(_ >= t)
    val dMilli =
      if (rh <= 0) 0L
      else (rh - 1).toLong * 1000L +
        (t - ns(rh - 1)) * 1000L / (ns(rh) - ns(rh - 1))
    ns.zipWithIndex
      .map { case (n, i) => (i.toLong, n, dMilli) }.toSeq
      .toDF("r", "n_reach", "eff_diameter_milli")
  }
}
