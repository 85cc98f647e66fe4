package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints.StageCheckpoint

/** Damped PageRank over an undirected edge list — the second iterative
  * graph operator next to [[ConnectedComponents]] (CC labels components;
  * PageRank scores CENTRALITY inside them — which suppliers/customers
  * anchor the co-purchase graph, which documents anchor a near-dup
  * cluster).
  *
  * Fixed-iteration power method, fully deterministic: rank⁰ = 1/N;
  * rankᵏ⁺¹(v) = (1−d)/N + d · Σ_{u→v} rankᵏ(u)/deg(u). Undirected input
  * (edges symmetrized) means every node has outdegree ≥ 1, so there is
  * no dangling-mass correction term to redistribute.
  *
  * Scale shape per iteration: one broadcast-or-hash join of the compact
  * (u, v) edge list against the one-row-per-node rank frame, one
  * groupBy(v) partial-aggregated sum — the same movement as one CC
  * round. The node count is the only scalar on the driver; per-round
  * `localCheckpoint` truncates lineage exactly as in CC.
  *
  * The loop shape is MEASURED, not assumed (r15, BASELINE.md "pagerank
  * loop A/B"): three reuse-one-edge-partitioning rewrites — persist the
  * edge frame hash(u) so iterations co-locate (a localCheckpoint comes
  * back UnknownPartitioning, a persist keeps partitioning), the same
  * plus an explicit rank broadcast, and degree pre-joined into the edge
  * checkpoint — were all timed at sf0.1 and sf1.0: the columnar-cache
  * decode (persist) and the 32-thread broadcast-probe profile cost more
  * cpu than the per-round edge exchange they remove at every config
  * measured, so the checkpoint-per-round SMJ loop stays. What DID
  * measure is the canonical edge build ([[Edges]]).
  */
object PageRank {

  /** Personalized PageRank: the restart mass returns to the SEED set
    * instead of spreading uniformly — rank⁰(v) = s(v), rankᵏ⁺¹(v) =
    * (1−d)·s(v) + d·Σ_{u→v} rankᵏ(u)/deg(u) with s uniform over the
    * seeds. The locality-centrality scorer ("importance relative to
    * THESE nodes" — recommendation neighborhoods, trust propagation)
    * next to [[ranks]]'s global view. Same per-iteration movement as
    * the global method plus one full-outer combine with the
    * seed-vector frame (node-sized); rank support grows only with
    * reachability, so early iterations carry frontier-sized state.
    */
  def personalizedRanks(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iters: Int = 3, damping: Double = 0.85): DataFrame = {
    val sym = Edges.symmetric(Edges.canonical(edges, srcCol, dstCol))
      .stageCheckpoint()
    // staged: deg is re-joined EVERY iteration — unstaged, each round's
    // checkpoint would re-run the full edge-list aggregation
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .stageCheckpoint()
    val s = seeds.select(col("node")).distinct().stageCheckpoint()
    val ns = s.count()
    val seedR = s.withColumn("s", lit(1.0 / ns))
    var ranksDf = seedR.select(col("node"), col("s").as("r"))
    for (_ <- 1 to iters) {
      val summed = sym
        .join(deg, "u")
        .join(ranksDf.withColumnRenamed("node", "u"), "u")
        .select(col("v").as("node"), (col("r") / col("d")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("sc"))
      ranksDf = summed.join(seedR, Seq("node"), "full_outer")
        .select(col("node"),
          (lit(1 - damping) * coalesce(col("s"), lit(0.0))
            + lit(damping) * coalesce(col("sc"), lit(0.0))).as("r"))
        .stageCheckpoint()
    }
    ranksDf
  }

  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, damping: Double = 0.85): DataFrame = {
    val sym = Edges.symmetric(Edges.canonical(edges, srcCol, dstCol))
      .stageCheckpoint()
    // staged for the same per-iteration reuse as in personalizedRanks
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .stageCheckpoint()
    val n = deg.count()
    var ranks = deg.select(col("u").as("node"), lit(1.0 / n).as("r"))
    for (_ <- 1 to iters) {
      val contrib = sym
        .join(deg, "u")
        .join(ranks.withColumnRenamed("node", "u"), "u")
        .select(col("v").as("node"), (col("r") / col("d")).as("c"))
      ranks = contrib.groupBy(col("node"))
        .agg((lit((1 - damping) / n) + lit(damping) * sum(col("c"))).as("r"))
        .stageCheckpoint()
    }
    ranks
  }
}
