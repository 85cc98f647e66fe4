package graft.analytics

import graft.{Q, QueryPack, Tables}
import graft.functions.ZOrder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical / structural analytics wave: triangle census over the
  * co-purchase graph, closed-form trend regression from integral
  * sufficient statistics, pareto-frontier (skyline), equi-depth
  * histograms, MAD robust outliers, and z-order clustering layout — each
  * the Spark-first shape of a capability a 100 TB warehouse leans on, each
  * hash-compared against an independent DuckDB formulation.
  *
  * Cross-engine determinism rules used throughout (the house conventions):
  * money through DECIMAL or integer cents, comparisons in exact integer
  * domains, doubles only in identically-written final expressions, ranks
  * over 6dp-quantized scores.
  */
object StatsQueries extends QueryPack {

  /** Triangle census of the supplier co-purchase graph (suppliers linked
    * when they serve the same order ≥ 5 times). Edge building fans out
    * only within an order (≤ 7 lineitems ⇒ ≤ 21 pairs); the census runs
    * on the degree-oriented node-iterator ([[graft.ops.Triangles]]) whose
    * wedge fan-out is O(√m) per node — the hub-proof shape. The oracle
    * counts the same triangles orientation-free: x<y<z with all three
    * canonical edges present.
    */
  private val triangles = Q(
    "graph_triangle_count",
    (s, d) => graft.ops.Triangles.census(suppEdges(s, d), "u", "v"),
    Some("""WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
           |  FROM lineitem),
           |e AS (SELECT a.sk AS u, b.sk AS v FROM os a
           |  JOIN os b ON a.ok = b.ok AND a.sk < b.sk
           |  GROUP BY 1, 2 HAVING count(*) >= 5)
           |SELECT
           | CAST((SELECT count(DISTINCT n) FROM
           |   (SELECT u AS n FROM e UNION ALL SELECT v FROM e)) AS BIGINT)
           |   AS n_nodes,
           | CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           | CAST(count(*) AS BIGINT) AS n_triangles
           |FROM e e1 JOIN e e2 ON e2.u = e1.v
           | JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin),
    headline = true)

  /** Clustering coefficients of the same supplier co-purchase graph —
    * the cohesion summary on top of the triangle census: global
    * transitivity (3·triangles / wedges) and the average LOCAL
    * coefficient (Watts–Strogatz) over nodes of degree ≥ 2, both in
    * integer basis points (every division is integer, every sufficient
    * statistic an exact BIGINT). Per-node triangle participation comes
    * from [[graft.ops.Triangles.perNode]] — the same degree-oriented
    * O(√m)-wedge pipeline as the census, plus one bounded 3-corner
    * explode — so the whole query stays hub-proof; the output is one
    * row. The two metrics diverging (transitivity ≪ avg-local) is the
    * classic signal that hubs sit in sparse neighborhoods while leaves
    * cluster — which join-salting strategy cares about directly.
    */
  /** The supplier co-purchase edge list (suppliers linked when they
    * serve the same order ≥ 5 times) — shared by the triangle census,
    * the clustering-coefficient query, and the two-hop reach query.
    * Pair expansion stays WITHIN an order's supplier array (≤ 7
    * lineitems ⇒ ≤ 21 pairs) — never a supplier self-join: one shuffle
    * builds the per-order supplier sets (collect_set merges map-side),
    * where the self-join formulation re-shuffles the distinct frame
    * twice more.
    */
  private def suppEdges(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_suppkey"))).as("sks"))
      .select(explode(expr(
        """flatten(transform(sks, (x, i) ->
          |  transform(slice(sks, i + 2, size(sks)), y -> struct(x AS u, y AS v))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.u").as("u"), col("p.v").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 5)
      .select(col("u"), col("v"))

  /** The same edge list as DuckDB CTEs (`os`, `e`). */
  private val suppEdgeCte =
    """os AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
      |  FROM lineitem),
      |e AS (SELECT a.sk AS u, b.sk AS v FROM os a
      |  JOIN os b ON a.ok = b.ok AND a.sk < b.sk
      |  GROUP BY 1, 2 HAVING count(*) >= 5)""".stripMargin

  private val clusteringCoeff = Q(
    "graph_clustering_coeff",
    (s, d) => {
      val pn = graft.ops.Triangles.perNode(suppEdges(s, d), "u", "v")
      pn.agg(
          count(lit(1)).as("n_nodes"),
          sum(col("deg")).as("sum_deg"),
          sum(col("n_tri")).as("sum_tri"),
          sum(expr("deg * (deg - 1) div 2")).as("n_wedges"),
          sum(when(col("deg") >= 2, lit(1L)).otherwise(0L)).as("n_deg2"),
          sum(when(col("deg") >= 2,
            expr("(20000 * n_tri) div (deg * (deg - 1))"))).as("sum_local_bp"))
        .select(col("n_nodes"),
          expr("sum_deg div 2").as("n_edges"),
          expr("sum_tri div 3").as("n_triangles"),
          col("n_wedges"),
          when(col("n_wedges") > 0,
            expr("(10000 * sum_tri) div n_wedges")).as("transitivity_bp"),
          col("n_deg2"),
          when(col("n_deg2") > 0,
            expr("sum_local_bp div n_deg2")).as("avg_local_bp"))
    },
    Some("""WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
           |  FROM lineitem),
           |e AS (SELECT a.sk AS u, b.sk AS v FROM os a
           |  JOIN os b ON a.ok = b.ok AND a.sk < b.sk
           |  GROUP BY 1, 2 HAVING count(*) >= 5),
           |deg AS (SELECT n, count(*) AS dg FROM
           |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
           |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
           |  FROM e e1 JOIN e e2 ON e2.u = e1.v
           |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
           |tn AS (SELECT n, count(*) AS t FROM
           |  (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
           |   UNION ALL SELECT z FROM tri) GROUP BY 1),
           |p AS (SELECT deg.n, deg.dg, COALESCE(tn.t, 0) AS t
           |  FROM deg LEFT JOIN tn ON tn.n = deg.n)
           |SELECT count(*) AS n_nodes,
           | CAST(sum(dg) AS BIGINT) // 2 AS n_edges,
           | CAST(sum(t) AS BIGINT) // 3 AS n_triangles,
           | CAST(sum(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges,
           | CASE WHEN CAST(sum(dg * (dg - 1) // 2) AS BIGINT) > 0 THEN
           |  (10000 * CAST(sum(t) AS BIGINT))
           |    // CAST(sum(dg * (dg - 1) // 2) AS BIGINT) END
           |  AS transitivity_bp,
           | CAST(sum(CASE WHEN dg >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           |  AS n_deg2,
           | CASE WHEN sum(CASE WHEN dg >= 2 THEN 1 ELSE 0 END) > 0 THEN
           |  CAST(sum(CASE WHEN dg >= 2
           |    THEN (20000 * t) // (dg * (dg - 1)) END) AS BIGINT)
           |   // CAST(sum(CASE WHEN dg >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           |  END AS avg_local_bp
           |FROM p""".stripMargin),
    headline = true)

  /** Exact two-hop reach over the supplier co-purchase graph — the
    * "how far does influence spread in ≤ 2 steps" neighborhood-size
    * profile (top-20 by reach): reach₂(v) = |{w ≠ v : dist(v,w) ≤ 2}|,
    * from one mid-node self-join of the symmetric edge list plus a
    * UNION with the direct neighbors (set semantics dedup the
    * overlapping hop-1/hop-2 sets). Exact two-hop is inherently
    * Σ d(mid)² pair work — affordable here because the co-occurrence
    * graph is dimension-sized with a ≥5-support floor; at a 100 TB
    * social-scale graph the same query swaps the exact distinct for
    * per-node HLL sketches merged over neighbors (HyperBall, Boldi &
    * Vigna 2013) — the output schema is unchanged, the counts become
    * estimates. That sketch path IS the registered headline
    * ([[twoHopHyperball]]); this exact query stays as its small-SF
    * oracle twin and correctness anchor.
    */
  private val twoHopReach = Q(
    "graph_two_hop_reach",
    (s, d) => {
      import graft.ops.Checkpoints.StageCheckpoint
      val canon = suppEdges(s, d).stageCheckpoint()
      val sym = canon.select(col("u"), col("v"))
        .unionByName(canon.select(col("v").as("u"), col("u").as("v")))
      val hop2 = sym.as("a")
        .join(sym.as("b"), col("a.v") === col("b.u"))
        .filter(col("b.v") =!= col("a.u"))
        .select(col("a.u").as("u"), col("b.v").as("w"))
      val reach = sym.select(col("u"), col("v").as("w"))
        .unionByName(hop2).distinct()
        .groupBy(col("u")).agg(count(lit(1)).as("reach2"))
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("reach1"))
      reach.join(deg, Seq("u"))
        .select(col("u").as("node"), col("reach1"), col("reach2"))
        .orderBy(col("reach2").desc, col("node"))
        .limit(20)
    },
    Some(s"""WITH $suppEdgeCte,
            |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
            |h2 AS (SELECT a.u AS u, b.v AS w FROM sym a
            |  JOIN sym b ON a.v = b.u WHERE b.v <> a.u),
            |allr AS (SELECT u, v AS w FROM sym UNION SELECT u, w FROM h2),
            |reach AS (SELECT u, count(*) AS reach2 FROM allr GROUP BY 1),
            |deg AS (SELECT u, count(*) AS reach1 FROM sym GROUP BY 1)
            |SELECT u AS node, reach1, reach2
            |FROM reach JOIN deg USING (u)
            |ORDER BY reach2 DESC, node LIMIT 20""".stripMargin))

  /** Two-hop reach via HyperBall KMV ball sketches
    * ([[graft.ops.HyperBall.twoHopBallSizes]]) — the 100 TB path for
    * the neighborhood-size profile, and the HEADLINE: the exact
    * [[twoHopReach]] expands Σ d(mid)² wedge pairs, which a densifying
    * graph cannot afford, while the sketch is one edge-keyed sketch
    * merge per hop with O(k) state per node. Below k=256 distinct
    * members the KMV sketch IS the ball set and the estimate is exact
    * (ball₂ = reach₂ + 1, the paper's self-inclusive convention);
    * above width the (k−1)/v_k estimator engages with ~1/√k relative
    * error. The oracle is valid in BOTH regimes at any SF: it
    * enumerates each ball exactly, hashes members through the same
    * md5-60 convention, takes the k smallest per node, and applies the
    * identically-written estimator expression — so the compare holds
    * whether or not the graph (sf0.1 reaches ~1000-member balls)
    * exceeds the sketch. HyperBallSpec additionally pins the
    * above-width regime against a brute BFS. Top-20 by estimated ball.
    */
  private val twoHopHyperball = Q(
    "graph_two_hop_hyperball",
    (s, d) =>
      graft.ops.HyperBall.twoHopBallSizes(suppEdges(s, d), "u", "v",
          k = 256)
        .orderBy(col("ball2_est").desc, col("node"))
        .limit(20),
    Some(s"""WITH $suppEdgeCte,
            |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
            |h2 AS (SELECT a.u AS u, b.v AS w FROM sym a
            |  JOIN sym b ON a.v = b.u WHERE b.v <> a.u),
            |ball AS (SELECT u, v AS w FROM sym UNION SELECT u, w FROM h2
            |  UNION SELECT DISTINCT u, u FROM sym),
            |hh AS (SELECT DISTINCT u,
            |   ('0x' || substring(md5(CAST(w AS VARCHAR)), 1, 15))
            |     ::BIGINT AS h
            |  FROM ball),
            |r AS (SELECT u, h, row_number() OVER (
            |   PARTITION BY u ORDER BY h) AS rn FROM hh),
            |sk AS (SELECT u,
            |   CAST(sum(CASE WHEN rn <= 256 THEN 1 ELSE 0 END) AS BIGINT)
            |     AS n_sk,
            |   max(CASE WHEN rn <= 256 THEN h END) AS vk
            |  FROM r GROUP BY 1)
            |SELECT u AS node, n_sk AS sketch_size,
            | CASE WHEN n_sk < 256 THEN n_sk
            |  ELSE CAST(floor((256 - 1) / (CAST(vk AS DOUBLE)
            |    / pow(2.0, 60))) AS BIGINT) END AS ball2_est
            |FROM sk ORDER BY ball2_est DESC, node LIMIT 20""".stripMargin),
    headline = true)

  /** Harmonic centrality by HyperBall shell sums (Boldi & Vigna's
    * stated use of the neighborhood function): harmonic(u) ≈
    * Σ_r |shell_r(u)|/r over radii 1..3, with shell sizes from the
    * [[graft.ops.HyperBall.ballSizes3]] KMV ball sketches — the
    * centrality whose exact computation is all-pairs BFS, collapsed to
    * three edge-keyed sketch-merge rounds with O(k) state per node.
    * Published in integer milli-units with exact integer division per
    * shell ((b3−b2)·1000 div 3 — no float division crosses the
    * compare), over ball estimates that are monotone by construction
    * (superset sketches estimate ≥ their subsets in both regimes, so
    * shells are never negative). The oracle enumerates each radius's
    * ball exactly, hashes members through the same md5-60 convention,
    * takes the k smallest and applies the identically-written
    * estimator — valid below AND above sketch width (the
    * `graph_two_hop_hyperball` oracle contract). Top-20 by centrality.
    */
  /** The KMV ball-size estimator as paired (r_i, b_i) CTEs over a ball-
    * membership CTE `src(u, w)` — the bit-identical expression
    * [[graft.functions.KmvAgg.estimateDistinctMd5]] computes, written
    * ONCE and interpolated per radius so a width change cannot desync
    * the three copies.
    */
  private def kmvBallCte(src: String, out: String): String =
    s"""r_$out AS (SELECT u, row_number() OVER (PARTITION BY u ORDER BY h)
       |   AS rn, h FROM (SELECT DISTINCT u,
       |   ('0x' || substring(md5(CAST(w AS VARCHAR)), 1, 15))::BIGINT
       |     AS h FROM $src)),
       |$out AS (SELECT u, CASE
       |   WHEN sum(CASE WHEN rn <= 256 THEN 1 ELSE 0 END) < 256
       |   THEN CAST(sum(CASE WHEN rn <= 256 THEN 1 ELSE 0 END) AS BIGINT)
       |   ELSE CAST(floor((256 - 1) / (CAST(max(CASE WHEN rn <= 256
       |     THEN h END) AS DOUBLE) / pow(2.0, 60))) AS BIGINT)
       |   END AS $out FROM r_$out GROUP BY 1)""".stripMargin

  private val harmonicCentrality = Q(
    "graph_harmonic_hyperball",
    (s, d) =>
      graft.ops.HyperBall.ballSizes3(suppEdges(s, d), "u", "v", k = 256)
        .withColumn("harmonic_milli", expr(
          "(b1 - 1) * 1000 + (b2 - b1) * 500 + ((b3 - b2) * 1000) div 3"))
        .orderBy(col("harmonic_milli").desc, col("node"))
        .limit(20),
    Some(s"""WITH $suppEdgeCte,
            |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
            |m1 AS (SELECT u, v AS w FROM sym
            |  UNION SELECT DISTINCT u, u FROM sym),
            |m2 AS (SELECT u, w FROM m1
            |  UNION SELECT a.u, m.w FROM sym a JOIN m1 m ON m.u = a.v),
            |m3 AS (SELECT u, w FROM m2
            |  UNION SELECT a.u, m.w FROM sym a JOIN m2 m ON m.u = a.v),
            |${kmvBallCte("m1", "b1")},
            |${kmvBallCte("m2", "b2")},
            |${kmvBallCte("m3", "b3")}
            |SELECT u AS node, b1, b2, b3,
            | (b1 - 1) * 1000 + (b2 - b1) * 500 + ((b3 - b2) * 1000) // 3
            |   AS harmonic_milli
            |FROM b1 JOIN b2 USING (u) JOIN b3 USING (u)
            |ORDER BY harmonic_milli DESC, node LIMIT 20""".stripMargin))

  /** 90% effective diameter via the converged HyperBall neighborhood
    * function ([[graft.ops.HyperBall.neighborhoodFunction]]) — the
    * Boldi–Vigna headline number: how many hops cover 90% of all
    * reachable pairs. One bounded KMV sketch-merge round per radius
    * until the estimate total plateaus (never an all-pairs BFS — the
    * exact computation is O(n·m) and the 100 TB non-starter this
    * operator exists to replace); the diameter interpolates between
    * the bracketing radii in integer milli-units, so every published
    * cell is Long arithmetic. The oracle rebuilds the whole table
    * independently: exact BFS distances via a recursive CTE capped at
    * the same maxR, per-radius balls hashed through the shared md5-60
    * convention with the identically-written (k−1)/v_k estimator
    * (valid below AND above sketch width — the
    * `graph_two_hop_hyperball` contract), the same first-plateau stop
    * rule, and the same ⌈0.9·N∞⌉ integer interpolation. HyperBallSpec
    * additionally pins the exact-regime table against a brute BFS and
    * the estimator-regime band on a sparse random graph.
    */
  /** Sketch width 64, not the family's 256: the diameter sums ~n·k
    * longs per merge round ACROSS ALL RADII to convergence, and the
    * published number is a single corpus-level scalar where ±1/√64 ≈
    * 12% per-node noise averages out across nodes — Boldi & Vigna run
    * comparable register budgets (2⁶) for exactly this query. Width is
    * interpolated into the oracle text so the two can't desync.
    */
  private val EffDiamK = 64

  /** The converged neighborhood-function table as DuckDB CTEs ending in
    * `rows_(rr, n_reach)` — exact recursive-BFS balls, the KMV
    * estimator at width [[EffDiamK]], the first-plateau stop rule —
    * shared by the effective-diameter and mean-distance oracles so the
    * chain lives once.
    */
  private def nfCtes: String =
    s"""WITH RECURSIVE $suppEdgeCte,
       |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
       |nodes AS (SELECT DISTINCT u FROM sym),
       |r(u, w, d) AS (
       |  SELECT u, u, 0 FROM nodes
       |  UNION
       |  SELECT r.u, s.v, r.d + 1 FROM r JOIN sym s ON s.u = r.w
       |  WHERE r.d < 8),
       |m AS (SELECT u, w, min(d) AS d FROM r GROUP BY 1, 2),
       |mem AS (SELECT rad.rr, m.u,
       |   ('0x' || substring(md5(CAST(m.w AS VARCHAR)), 1, 15))::BIGINT
       |     AS h
       |  FROM m JOIN range(9) rad(rr) ON m.d <= rad.rr),
       |rk AS (SELECT rr, u, h, row_number() OVER (
       |   PARTITION BY rr, u ORDER BY h) AS rn FROM mem),
       |est AS (SELECT rr, u, CASE
       |   WHEN sum(CASE WHEN rn <= $EffDiamK THEN 1 ELSE 0 END)
       |     < $EffDiamK
       |   THEN CAST(sum(CASE WHEN rn <= $EffDiamK THEN 1 ELSE 0 END)
       |     AS BIGINT)
       |   ELSE CAST(floor(($EffDiamK - 1) / (CAST(max(CASE WHEN
       |     rn <= $EffDiamK THEN h END) AS DOUBLE) / pow(2.0, 60)))
       |     AS BIGINT)
       |   END AS b FROM rk GROUP BY 1, 2),
       |nf AS (SELECT rr, CAST(sum(b) AS BIGINT) AS n_reach
       |  FROM est GROUP BY 1),
       |lagd AS (SELECT rr, n_reach,
       |   lag(n_reach) OVER (ORDER BY rr) AS prev FROM nf),
       |stp AS (SELECT CAST(coalesce(min(rr) FILTER (
       |   WHERE n_reach = prev), 8) AS BIGINT) AS r_stop FROM lagd),
       |rows_ AS (SELECT rr, n_reach FROM nf, stp WHERE rr <= r_stop)"""
      .stripMargin

  private val effectiveDiameter = Q(
    "graph_effective_diameter",
    (s, d) => graft.ops.HyperBall.neighborhoodFunction(
        suppEdges(s, d), "u", "v", k = EffDiamK, maxR = 8)
      .orderBy(col("r")),
    Some(s"""$nfCtes,
            |tgt AS (SELECT (9 * (SELECT n_reach FROM rows_
            |   ORDER BY rr DESC LIMIT 1) + 9) // 10 AS t),
            |hit AS (SELECT min(rr) AS rh FROM rows_, tgt WHERE n_reach >= t),
            |dm AS (SELECT CAST(CASE WHEN x.rr = 0 THEN 0
            |   ELSE (x.rr - 1) * 1000 + ((tgt.t - x.np) * 1000) // (x.nh - x.np)
            |   END AS BIGINT) AS eff_diameter_milli
            |  FROM (SELECT rr, n_reach AS nh,
            |     lag(n_reach) OVER (ORDER BY rr) AS np FROM rows_) x, hit, tgt
            |  WHERE x.rr = hit.rh)
            |SELECT CAST(rr AS BIGINT) AS r, n_reach, eff_diameter_milli
            |FROM rows_ CROSS JOIN dm ORDER BY 1""".stripMargin),
    headline = true)

  /** Mean distance over reachable ordered pairs — Boldi & Vigna's other
    * headline statistic from the SAME converged neighborhood function:
    * MD = Σ_r r·(N(r) − N(r−1)) / (N(∞) − N(0)), the shell-weighted
    * average published in integer milli-units (shells are never
    * negative — ball monotonicity — so the single integer division is
    * on non-negative ground). One extra bounded-frame window over the
    * ≤ maxR+1-row table [[graft.ops.HyperBall.neighborhoodFunction]]
    * already produces; no additional graph pass.
    */
  private val meanDistance = Q(
    "graph_mean_distance_hyperball",
    (s, d) => {
      val nf = graft.ops.HyperBall.neighborhoodFunction(
        suppEdges(s, d), "u", "v", k = EffDiamK, maxR = 8)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("r"))
      nf.withColumn("prev", lag(col("n_reach"), 1).over(w))
        .select(col("r"), col("n_reach"),
          (col("n_reach") - coalesce(col("prev"), col("n_reach")))
            .as("shell"))
        .agg(coalesce(min(when(col("r") === 0, col("n_reach"))), lit(0L))
            .as("n_nodes"),
          coalesce(max(col("n_reach")), lit(0L)).as("n_reach_inf"),
          coalesce(sum(col("r") * col("shell")), lit(0L)).as("wsum"))
        .select(col("n_nodes"), col("n_reach_inf"),
          when(col("n_reach_inf") > col("n_nodes"),
            expr("(wsum * 1000) div (n_reach_inf - n_nodes)"))
            .as("mean_dist_milli"))
    },
    Some(s"""$nfCtes,
            |sh AS (SELECT rr, n_reach,
            |   n_reach - coalesce(lag(n_reach) OVER (ORDER BY rr), n_reach)
            |     AS shell
            |  FROM rows_),
            |ag AS (SELECT
            |  CAST(coalesce(min(CASE WHEN rr = 0 THEN n_reach END), 0)
            |    AS BIGINT) AS n_nodes,
            |  CAST(coalesce(max(n_reach), 0) AS BIGINT) AS n_reach_inf,
            |  CAST(coalesce(sum(rr * shell), 0) AS BIGINT) AS wsum
            | FROM sh)
            |SELECT n_nodes, n_reach_inf,
            | CASE WHEN n_reach_inf > n_nodes
            |  THEN (wsum * 1000) // (n_reach_inf - n_nodes) END
            |   AS mean_dist_milli
            |FROM ag""".stripMargin))

  /** Range-partition write plan — the boundary computation behind
    * every sorted/range-partitioned table layout (Spark's
    * repartitionByRange, Iceberg sort orders): 32 exact equi-depth
    * partitions over the order-total cents via the global-ntile
    * operator (quantile-sketch bucketing + exact within-bucket ranks —
    * never an unpartitioned window), then per-partition row counts and
    * [min, max) boundaries, plus each partition's deviation from the
    * ideal n/32 in basis points — the skew number that decides whether
    * these boundaries can ship. Ties sit entirely inside one partition
    * by the (cents, o_orderkey) total order, so boundaries are
    * exclusive by construction.
    */
  private val rangePartitionPlan = Q(
    "storage_range_partition_plan",
    (s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tiled = graft.ops.GlobalOrder
        .ntileBy(base, "cents", "o_orderkey", 32, "part")
      val n = tiled.agg(count(lit(1)).as("n_total"))
      tiled.groupBy(col("part"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("cents")).as("lo_cents"),
          max(col("cents")).as("hi_cents"))
        .crossJoin(broadcast(n))
        .select(col("part"), col("n_rows"), col("lo_cents"),
          col("hi_cents"),
          expr("(10000 * abs(32 * n_rows - n_total)) div n_total")
            .as("skew_bp"))
        .orderBy(col("part"))
    },
    Some("""WITH b AS (SELECT o_orderkey,
           |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           | FROM orders),
           |t AS (SELECT cents,
           |  ntile(32) OVER (ORDER BY cents, o_orderkey) AS part FROM b),
           |g AS (SELECT part, count(*) AS n_rows, min(cents) AS lo_cents,
           |   max(cents) AS hi_cents
           |  FROM t GROUP BY 1),
           |n AS (SELECT count(*) AS n_total FROM b)
           |SELECT part, n_rows, lo_cents, hi_cents,
           | (10000 * abs(32 * n_rows - n_total)) // n_total AS skew_bp
           |FROM g CROSS JOIN n ORDER BY 1""".stripMargin))

  /** Mann–Kendall trend test over the monthly revenue series — the
    * nonparametric significance companion to `stats_theil_sen_trend`
    * (Theil–Sen says HOW steep, Mann–Kendall says WHETHER the monotone
    * trend is real): S = Σ_{i<j} sign(y_j − y_i), exact integer over
    * the same bounded monthly frame, variance via the exact integral
    * 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (tie-corrected), and
    * the z statistic as one identically-written double expression with
    * the ±1 continuity correction picked by S's sign (S = 0 ⇒ z = 0
    * exactly). Every compared quantity before z is a BIGINT.
    */
  private val mannKendall = Q(
    "stats_mann_kendall",
    (s, d) => {
      val monthly = Tables.orders(s, d)
        .select((year(col("o_orderdate")) * 100 +
          month(col("o_orderdate"))).as("ym"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("ym")).agg(sum(col("cents")).as("rev"))
      val a = monthly.select(col("ym").as("yi"), col("rev").as("ri"))
      val b = monthly.select(col("ym").as("yj"), col("rev").as("rj"))
      val sStat = a.crossJoin(b).filter(col("yi") < col("yj"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(signum(col("rj") - col("ri")).cast("long")).as("s_stat"))
      val ties = monthly.groupBy(col("rev")).agg(count(lit(1)).as("t"))
        .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie18"))
      val nRow = monthly.agg(count(lit(1)).as("n"))
      sStat.crossJoin(ties).crossJoin(nRow)
        .select(col("n"), col("n_pairs"), col("s_stat"),
          (expr("n * (n - 1) * (2 * n + 5)") - col("tie18")).as("var18"))
        .withColumn("z",
          when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") /
              sqrt(col("var18").cast("double") / 18.0))
            .when(col("s_stat") < 0,
              (col("s_stat") + 1).cast("double") /
                sqrt(col("var18").cast("double") / 18.0))
            .otherwise(lit(0.0)))
    },
    Some("""WITH m AS (SELECT year(o_orderdate) * 100 + month(o_orderdate)
           |   AS ym, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
           |   AS BIGINT) AS rev
           |  FROM orders GROUP BY 1),
           |p AS (SELECT count(*) AS n_pairs,
           |   CAST(sum(CASE WHEN b.rev > a.rev THEN 1
           |     WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
           |  FROM m a JOIN m b ON a.ym < b.ym),
           |t AS (SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
           |   AS tie18
           |  FROM (SELECT count(*) AS t FROM m GROUP BY rev)),
           |nn AS (SELECT count(*) AS n FROM m)
           |SELECT n, n_pairs, s_stat,
           | n * (n - 1) * (2 * n + 5) - tie18 AS var18,
           | CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
           |    / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie18 AS DOUBLE)
           |      / 18.0)
           |  WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
           |    / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie18 AS DOUBLE)
           |      / 18.0)
           |  ELSE 0.0 END AS z
           |FROM nn, p, t""".stripMargin))

  /** Rich-club coefficient of the supplier co-purchase graph — do the
    * best-connected suppliers preferentially trade alongside each
    * other? φ(k) = E_{>k} / (N_{>k}·(N_{>k}−1)/2) over nodes of degree
    * > k, reported in integer basis points for five degree thresholds.
    * The per-threshold subgraphs derive from ONE degree frame and ONE
    * edge pass (each edge compares its endpoints' degrees against the
    * bounded threshold list — a 5× bounded fan-out, not five scans).
    * The structural complement to `graph_assortativity`: assortativity
    * is the correlation, the rich club is where it lives.
    */
  private val richClub = Q(
    "graph_rich_club",
    (s, d) => {
      import graft.ops.Checkpoints.StageCheckpoint
      val canon = suppEdges(s, d).stageCheckpoint()
      val deg = canon.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("dg"))
      val ks = Seq(0, 1, 2, 4, 8)
      val kDf = ks.map(k => s"($k)").mkString(", ")
      val thresholds = canon.sparkSession.sql(
        s"SELECT * FROM VALUES $kDf AS t(k)")
      val nodesAbove = deg.crossJoin(broadcast(thresholds))
        .filter(col("dg") > col("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_above"))
      val du = deg.select(col("n").as("u"), col("dg").as("du"))
      val dv = deg.select(col("n").as("v"), col("dg").as("dv"))
      val edgesAbove = canon.join(du, "u").join(dv, "v")
        .crossJoin(broadcast(thresholds))
        .filter(col("du") > col("k") && col("dv") > col("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("e_above"))
      nodesAbove.join(edgesAbove, Seq("k"), "left")
        .select(col("k"), col("n_above"),
          coalesce(col("e_above"), lit(0L)).as("e_above"))
        .withColumn("phi_bp",
          when(col("n_above") >= 2,
            expr("(10000 * e_above) div (n_above * (n_above - 1) div 2)")))
        .orderBy(col("k"))
    },
    Some(s"""WITH $suppEdgeCte,
            |deg AS (SELECT n, count(*) AS dg FROM
            |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
            |ks(k) AS (VALUES (0), (1), (2), (4), (8)),
            |na AS (SELECT k, count(*) AS n_above
            |  FROM deg CROSS JOIN ks WHERE dg > k GROUP BY 1),
            |ea AS (SELECT k, count(*) AS e_above
            |  FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n
            |  CROSS JOIN ks WHERE du.dg > k AND dv.dg > k GROUP BY 1)
            |SELECT na.k, n_above, COALESCE(e_above, 0) AS e_above,
            | CASE WHEN n_above >= 2 THEN
            |  (10000 * COALESCE(e_above, 0))
            |    // (n_above * (n_above - 1) // 2) END AS phi_bp
            |FROM na LEFT JOIN ea ON na.k = ea.k ORDER BY 1""".stripMargin))

  /** Daily-revenue linear trend — regression as a ONE-PASS aggregation of
    * integral sufficient statistics (n, Σx, Σy, Σxy, Σx²), the
    * map-side-combinable shape that replaces any iterative fit for simple
    * models at scale. Days are integers around a fixed center; daily
    * revenue goes through exact DECIMAL into 10⁻⁴-dollar integer units
    * (the q1_pricing_decimal convention), so every sufficient statistic
    * is an exact BIGINT and the slope is one identically-written double
    * expression in both engines. The verified payload is the statistics
    * themselves; the slope is derived.
    */
  private val trend = Q(
    "stats_linear_trend",
    (s, d) => {
      val dec = "decimal(12,2)"
      val daily = Tables.lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(sum(col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))).as("rev4"))
        .select(
          datediff(col("day"), lit("1998-06-01").cast("date")).cast("long").as("x"),
          (col("rev4") * 10000).cast("long").as("y"))
      val st = daily.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      val (n, sx, sy, sxy, sxx) = (col("n").cast("double"),
        col("sx").cast("double"), col("sy").cast("double"),
        col("sxy").cast("double"), col("sxx").cast("double"))
      st.select(col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"),
        round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
          .as("slope_e4_per_day"))
    },
    Some("""WITH daily AS (SELECT
           |  date_diff('day', DATE '1998-06-01', CAST(l_shipdate AS DATE)) AS x,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           |    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
           |    * 10000 AS BIGINT) AS y
           | FROM lineitem GROUP BY 1),
           |st AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
           |  CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*y) AS BIGINT) AS sxy,
           |  CAST(sum(x*x) AS BIGINT) AS sxx FROM daily)
           |SELECT n, sx, sy, sxy, sxx,
           | round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           |  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
           |   AS slope_e4_per_day
           |FROM st""".stripMargin))

  /** Pareto frontier (skyline) of parts on (size ↑, min price ↓): the
    * points no other point dominates. Reduce-first: aggregate to one
    * (size, min_price) point per distinct size — a BOUNDED frame (the
    * size domain), so the running-min dominance sweep is a window over
    * dozens of rows, not a data-scale sort (the de-scale-killed pattern:
    * never window the raw table). The oracle states dominance directly
    * as NOT EXISTS. Comparisons are on raw stored doubles — no
    * arithmetic, so no cross-engine tails.
    */
  private val pareto = Q(
    "pareto_frontier_parts",
    (s, d) => {
      val pts = Tables.part(s, d)
        .groupBy(col("p_size"))
        .agg(min(col("p_retailprice")).as("mp"), count(lit(1)).as("n_parts"))
      // dominance as a broadcast NOT-EXISTS anti-join over the BOUNDED
      // post-aggregation frame (|distinct p_size| rows) — same shape as
      // the oracle. The earlier unpartitioned cumulative-min window was
      // equally bounded but logged the "WindowExec: No Partition Defined"
      // scale warning on every run, indistinguishable in a log tail from
      // a genuine single-partition sort; k² comparisons on a dim-sized k
      // buy a warning-free plan.
      pts.as("a")
        .join(broadcast(pts.as("b")),
          col("b.p_size") > col("a.p_size") && col("b.mp") <= col("a.mp"),
          "left_anti")
        .select(col("p_size"), round(col("mp"), 2).as("min_price"),
          col("n_parts"))
        .orderBy(col("p_size"))
    },
    Some("""WITH pts AS (SELECT p_size, min(p_retailprice) AS mp,
           |  count(*) AS n_parts FROM part GROUP BY 1)
           |SELECT p_size, round(mp, 2) AS min_price,
           | CAST(n_parts AS BIGINT) AS n_parts
           |FROM pts a
           |WHERE NOT EXISTS (SELECT 1 FROM pts b
           |  WHERE b.p_size > a.p_size AND b.mp <= a.mp)
           |ORDER BY p_size""".stripMargin))

  /** Equi-depth (quantile-boundary) histogram of order totals — the
    * binning that adapts to the distribution where A6's equi-width bins
    * collapse on skew. Two passes: one exact-percentile aggregation for
    * the 9 decile boundaries (broadcast as a 1-row frame; the 100 TB
    * path swaps in approx_percentile, same plan), one streaming bucket
    * pass. Bucket membership can't diverge across engines: an
    * interpolated boundary lies strictly between two adjacent sorted
    * values (no data there), and a boundary that lands on a value
    * (g = 0, or equal neighbors) is that value EXACTLY in both
    * interpolation formulas — ties then go to the lower bucket on both
    * sides. Unrolled 9-term bucket expression keeps both engines
    * scalar-deterministic (no lambda-evaluation differences).
    */
  private val equidepth = Q(
    "agg_equidepth_hist_price",
    (s, d) => {
      val qs = array((1 to 9).map(i => lit(i / 10.0)): _*)
      val bounds = Tables.orders(s, d)
        .agg(percentile(col("o_totalprice"), qs).as("bs"))
      val bucket = (1 to 9).map(i =>
        (col("o_totalprice") > element_at(col("bs"), i)).cast("int"))
        .reduce(_ + _) + lit(1)
      Tables.orders(s, d).crossJoin(broadcast(bounds))
        .select(bucket.as("bucket"), col("o_totalprice"))
        .groupBy(col("bucket"))
        // lo/hi are single ROW values (order statistics of identical
        // parquet doubles — no accumulation), only the SUM needed the
        // exact-decimal treatment
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"),
          Money.sumMoney2(col("o_totalprice")).as("total"))
        .orderBy(col("bucket"))
    },
    Some(s"""WITH b AS (SELECT quantile_cont(o_totalprice,
            |  [${(1 to 9).map(i => s"0.$i").mkString(", ")}]) AS bs
            | FROM orders)
            |SELECT (1 ${(1 to 9).map(i =>
              s"+ CAST(o_totalprice > bs[$i] AS INT)").mkString(" ")})
            |   AS bucket,
            | CAST(count(*) AS BIGINT) AS n,
            | round(min(o_totalprice), 2) AS lo,
            | round(max(o_totalprice), 2) AS hi,
            | CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(20,2))
            |   AS STRING) AS total
            |FROM orders, b GROUP BY 1 ORDER BY 1""".stripMargin),
    headline = true)

  /** Median-absolute-deviation outlier gate on event values — the robust
    * sibling of the IQR fence (MAD shrugs off the outliers themselves,
    * where mean/stddev z-scores don't). All comparisons run in an EXACT
    * integer domain: values are quantized to integer centi-units (the
    * operator's declared resolution — both engines quantize the same
    * doubles identically), the median doubles to the always-integral
    * 2·median, deviations to |2c − 2·med|, and the fence test is
    * `2·dev₂ > 3·mad₄` — integer-valued doubles on both sides, so the
    * two engines cannot disagree on membership (quantile interpolation
    * at q=0.5 yields exact halves: (a+b)/2 of integers is exact FP).
    * Three streaming passes with two broadcast scalars; the scale path
    * swaps exact percentiles for approx, identically shaped.
    */
  private val madOutliers = Q(
    "dq_mad_outliers",
    (s, d) => {
      val o = Tables.events(s, d).filter(col("value").isNotNull)
        .select(round(col("value") * 100).cast("long").as("c"),
          col("value").as("p"))
      val m = o.agg((percentile(col("c"), lit(0.5)) * 2).as("m2"))
      val dev = o.crossJoin(broadcast(m))
        .select(col("p"), col("m2"), abs(col("c") * 2 - col("m2")).as("d2"))
      val mad = dev.agg((percentile(col("d2"), lit(0.5)) * 2).as("mad4"))
      val flag = col("d2") * 2 > lit(3) * col("mad4")
      dev.crossJoin(broadcast(mad)).agg(
        count(when(flag, lit(1))).as("n_outliers"),
        round(min(when(flag, col("p"))), 2).as("min_outlier"),
        round(max(when(flag, col("p"))), 2).as("max_outlier"),
        round(min(col("m2")) / 200.0, 4).as("median_value"),
        round(min(col("mad4")) / 400.0, 4).as("mad_value"))
    },
    Some("""WITH o AS (SELECT CAST(round(value*100) AS BIGINT) AS c,
           |  value AS p FROM events WHERE value IS NOT NULL),
           |m AS (SELECT 2*quantile_cont(c, 0.5) AS m2 FROM o),
           |d AS (SELECT p, m2, abs(2*c - m2) AS d2 FROM o, m),
           |md AS (SELECT 2*quantile_cont(d2, 0.5) AS mad4 FROM d)
           |SELECT
           | CAST(count(CASE WHEN 2*d2 > 3*mad4 THEN 1 END) AS BIGINT)
           |   AS n_outliers,
           | round(min(CASE WHEN 2*d2 > 3*mad4 THEN p END), 2) AS min_outlier,
           | round(max(CASE WHEN 2*d2 > 3*mad4 THEN p END), 2) AS max_outlier,
           | round(min(m2)/200.0, 4) AS median_value,
           | round(min(mad4)/400.0, 4) AS mad_value
           |FROM d, md""".stripMargin))

  /** Z-order clustering layout audit: Morton-interleave (partkey,
    * suppkey), split the curve into 16 equal-width cells, and report each
    * cell's row count and per-dimension bounding box — the shrinking
    * boxes ARE the data-skipping effect `OPTIMIZE ZORDER` buys (parquet
    * min/max row-group stats become tight on BOTH columns; see
    * [[graft.functions.ZOrder]] and ZOrderSpec for the write-side
    * layout). Pure integer bit arithmetic end to end, so the oracle
    * reproduces the z-values exactly from the same unrolled expression.
    */
  private val zorder = Q(
    "storage_zorder_layout",
    (s, d) => {
      val zdf = Tables.lineitem(s, d).select(
        ZOrder.zValue(col("l_partkey"), col("l_suppkey")).as("z"),
        col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      val mz = zdf.agg(max(col("z")).as("mz"))
      zdf.crossJoin(broadcast(mz))
        .select(expr("z * 16 div (mz + 1)").as("cell"), col("pk"), col("sk"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
          min(col("pk")).as("pk_min"), max(col("pk")).as("pk_max"),
          min(col("sk")).as("sk_min"), max(col("sk")).as("sk_max"))
        .orderBy(col("cell"))
    },
    Some(s"""WITH z AS (SELECT
            |  ${ZOrder.zValueSql("l_partkey", "l_suppkey")} AS z,
            |  l_partkey AS pk, l_suppkey AS sk FROM lineitem),
            |m AS (SELECT max(z) AS mz FROM z)
            |SELECT (z * 16) // (mz + 1) AS cell,
            | CAST(count(*) AS BIGINT) AS n,
            | min(pk) AS pk_min, max(pk) AS pk_max,
            | min(sk) AS sk_min, max(sk) AS sk_max
            |FROM z, m GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Compaction (bin-packing) planner — the OPTIMIZE/small-file-problem
    * operator: assign files (docs stand in, `n_chars` as size) to
    * sequential target-sized bins and report each bin's fill. Greedy
    * sequential packing = floor(cumulative-size-before / target), a pure
    * prefix-sum — deterministic across engines because the pack order is
    * the md5 of the file id, not arrival order. The cumsum window
    * partitions by `source` (the table-partition axis): real compaction
    * plans one partition at a time, so no global sort exists at any
    * scale; within a partition the planner's sequential scan IS the
    * algorithm. Integer chars end-to-end; fill reported in basis points
    * of target via integer division.
    */
  private val compactionBins = Q(
    "storage_compaction_bins",
    (s, d) => {
      val target = 25000L
      val files = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          col("n_chars").cast("long").as("sz"),
          md5(col("doc_id").cast("string")).as("ord"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("ord"), col("doc_id"))
      files
        .withColumn("cum_before", coalesce(
          sum(col("sz")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select(col("source"),
          expr(s"cum_before div $target").as("bin"), col("sz"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("sz")).as("total_chars"))
        .withColumn("fill_bp", expr(s"total_chars * 10000 div $target"))
        .orderBy(col("source"), col("bin"))
    },
    Some("""WITH f AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS sz,
           |   md5(CAST(doc_id AS VARCHAR)) AS ord
           |  FROM documents),
           |c AS (SELECT source, sz, coalesce(
           |   sum(sz) OVER (PARTITION BY source ORDER BY ord, doc_id
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |     AS cum_before
           |  FROM f),
           |b AS (SELECT source,
           |   CAST(cum_before // 25000 AS BIGINT) AS bin, sz FROM c)
           |SELECT source, bin, count(*) AS n_files,
           | CAST(sum(sz) AS BIGINT) AS total_chars,
           | CAST((CAST(sum(sz) AS BIGINT) * 10000) // 25000 AS BIGINT)
           |   AS fill_bp
           |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Train/serve distribution-drift monitor: decile boundaries from the
    * REFERENCE half of the event stream (exact percentiles of integer
    * centi-units — partial-aggregating, no global sort; the 100 TB path
    * swaps in approx_percentile identically shaped), both halves
    * bucketed by the same broadcast boundaries, shares compared in
    * integer basis points. Same can't-diverge bucket-membership argument
    * as [[equidepth]]: an interpolated boundary either falls strictly
    * between adjacent integers (no data there) or IS a data value
    * exactly, and ties go to the lower bucket on both engines.
    */
  private val distributionDrift = Q(
    "dq_distribution_drift",
    (s, d) => {
      val mid = lit("2024-01-15").cast("timestamp")
      val ev = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("ts"), round(col("value") * 100).cast("long").as("c"))
      val ref = ev.filter(col("ts") < mid)
      val cur = ev.filter(col("ts") >= mid)
      val qs = array((1 to 9).map(i => lit(i / 10.0)): _*)
      val bounds = ref.agg(percentile(col("c"), qs).as("bs"))
      val bucket = (1 to 9).map(i =>
        (col("c") > element_at(col("bs"), i)).cast("int"))
        .reduce(_ + _) + lit(1)
      def counted(df: org.apache.spark.sql.DataFrame, nm: String) = df
        .crossJoin(broadcast(bounds))
        .select(bucket.as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as(nm))
      val refTot = ref.agg(count(lit(1)).as("nr"))
      val curTot = cur.agg(count(lit(1)).as("nc"))
      counted(ref, "n_ref")
        .join(counted(cur, "n_cur"), Seq("bucket"), "full_outer")
        .na.fill(0L, Seq("n_ref", "n_cur"))
        .crossJoin(broadcast(refTot)).crossJoin(broadcast(curTot))
        .select(col("bucket"), col("n_ref"), col("n_cur"),
          expr("n_ref * 10000 div nr").as("ref_bp"),
          expr("n_cur * 10000 div nc").as("cur_bp"))
        .withColumn("diff_bp", col("cur_bp") - col("ref_bp"))
        .orderBy(col("bucket"))
    },
    Some(s"""WITH e AS (SELECT ts, CAST(round(value*100) AS BIGINT) AS c
            |  FROM events WHERE value IS NOT NULL),
            |r AS (SELECT c FROM e WHERE ts < TIMESTAMP '2024-01-15'),
            |u AS (SELECT c FROM e WHERE ts >= TIMESTAMP '2024-01-15'),
            |b AS (SELECT quantile_cont(c,
            |  [${(1 to 9).map(i => s"0.$i").mkString(", ")}]) AS bs FROM r),
            |rb AS (SELECT (1 ${(1 to 9).map(i =>
               s"+ CAST(c > bs[$i] AS INT)").mkString(" ")}) AS bucket,
            |   count(*) AS n_ref FROM r, b GROUP BY 1),
            |ub AS (SELECT (1 ${(1 to 9).map(i =>
               s"+ CAST(c > bs[$i] AS INT)").mkString(" ")}) AS bucket,
            |   count(*) AS n_cur FROM u, b GROUP BY 1),
            |t AS (SELECT (SELECT count(*) FROM r) AS nr,
            |   (SELECT count(*) FROM u) AS nc),
            |j AS (SELECT coalesce(rb.bucket, ub.bucket) AS bucket,
            |   coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
            |  FROM rb FULL OUTER JOIN ub ON rb.bucket = ub.bucket)
            |SELECT bucket, CAST(n_ref AS BIGINT) AS n_ref,
            | CAST(n_cur AS BIGINT) AS n_cur,
            | (CAST(n_ref AS BIGINT) * 10000) // nr AS ref_bp,
            | (CAST(n_cur AS BIGINT) * 10000) // nc AS cur_bp,
            | (CAST(n_cur AS BIGINT) * 10000) // nc
            |   - (CAST(n_ref AS BIGINT) * 10000) // nr AS diff_bp
            |FROM j, t ORDER BY 1""".stripMargin))

  /** Analytic window value-function zoo (lag / lead-gap / first_value /
    * last_value over an explicit full frame), folded to one exact row per
    * user: ascending-step count (raw double compares, no arithmetic),
    * max inter-event gap in exact microseconds, first/last event type
    * under the deterministic (ts, event_id) total order. One shuffle,
    * one sort per user partition — the canonical windowed-sessionization
    * movement.
    */
  private val windowValues = Q(
    "window_value_functions",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("user_id"), col("value"), col("event_type"),
          col("ts"), col("event_id"))
        .select(col("user_id"),
          (col("value") > lag(col("value"), 1).over(w)).as("asc_step"),
          (lead(expr("unix_micros(ts)"), 1).over(w) -
            expr("unix_micros(ts)")).as("gap_us"),
          first(col("event_type")).over(full).as("first_et"),
          last(col("event_type")).over(full).as("last_et"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          count(when(col("asc_step"), lit(1))).as("n_asc"),
          max(col("gap_us")).as("max_gap_us"),
          min(col("first_et")).as("first_et"),
          min(col("last_et")).as("last_et"))
        .orderBy(col("user_id"))
    },
    Some("""WITH v AS (SELECT user_id,
           |  value > lag(value, 1) OVER w AS asc_step,
           |  lead(epoch_us(ts), 1) OVER w - epoch_us(ts) AS gap_us,
           |  first_value(event_type) OVER
           |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           |    AS first_et,
           |  last_value(event_type) OVER
           |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           |    AS last_et
           | FROM events
           | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
           |SELECT user_id, count(*) AS n,
           | CAST(count(CASE WHEN asc_step THEN 1 END) AS BIGINT) AS n_asc,
           | max(gap_us) AS max_gap_us,
           | min(first_et) AS first_et, min(last_et) AS last_et
           |FROM v GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Rolling 7-day distinct users per day (trailing WAU) — the sliding
    * DISTINCT that a RANGE window cannot partially aggregate. The
    * scalable rewrite: dedup to (user, day) first (one partial-agg
    * shuffle that shrinks events to active-days), then each active day
    * CONTRIBUTES itself to the 7 window-ending days via a bounded
    * explode, and a plain count-distinct per day finishes. Linear in
    * events, ≤ 7× fan-out on the already-deduped frame, no per-day
    * re-scan — at 100 TB this is the difference between one pass and 7
    * full self-joins.
    */
  private val rollingWau = Q(
    "agg_rolling_7d_distinct_users",
    (s, d) => Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .orderBy(col("day")),
    Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           |  FROM events),
           |x AS (SELECT user_id, day + CAST(i AS INT) AS day
           | FROM ud, range(7) t(i))
           |SELECT day, count(DISTINCT user_id) AS wau
           |FROM x GROUP BY 1 ORDER BY 1""".stripMargin),
    headline = true)

  /** Exact per-group order-statistic quantiles (p50/p90/p95/p99 of event
    * value by type) — DISCRETE quantiles (the k-th smallest actual value,
    * k = ⌈q·n⌉), not interpolated ones: interpolation at arbitrary q
    * differs across engines in the last ulp, order statistics of integer
    * centi-units cannot. One window rank + one grouped conditional-max.
    * Group partitions are the sort unit — the scale path swaps in
    * approx_percentile per group, same output shape.
    */
  private val groupQuantiles = Q(
    "agg_group_quantiles_value",
    (s, d) => {
      val base = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("c"))
      val ranked = base
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      def oq(q: Double) = max(when(col("rn") <= ceil(lit(q) * col("n")), col("c")))
      ranked.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), oq(0.5).as("p50_centi"),
          oq(0.9).as("p90_centi"), oq(0.95).as("p95_centi"),
          oq(0.99).as("p99_centi"))
        .orderBy(col("event_type"))
    },
    Some("""WITH b AS (SELECT event_type,
           |  CAST(round(value*100) AS BIGINT) AS c
           | FROM events WHERE value IS NOT NULL),
           |r AS (SELECT event_type, c,
           |  row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
           |  count(*) OVER (PARTITION BY event_type) AS n FROM b)
           |SELECT event_type, count(*) AS n,
           | max(CASE WHEN rn <= ceil(0.5 * n) THEN c END) AS p50_centi,
           | max(CASE WHEN rn <= ceil(0.9 * n) THEN c END) AS p90_centi,
           | max(CASE WHEN rn <= ceil(0.95 * n) THEN c END) AS p95_centi,
           | max(CASE WHEN rn <= ceil(0.99 * n) THEN c END) AS p99_centi
           |FROM r GROUP BY 1 ORDER BY 1""".stripMargin))

  /** First-significant-digit CASE over integer cents, shared between the
    * engines with only the integer-division operator differing (Spark
    * `div`, DuckDB `//`). Unrolled magnitude thresholds — no log10, whose
    * libm tails differ across engines.
    */
  private def firstDigitCase(c: String, intDiv: String): String =
    "CASE " + (1 to 9).map(k =>
      s"WHEN $c < ${"1" + "0" * k} THEN $c $intDiv ${"1" + "0" * (k - 1)}")
      .mkString(" ") + s" ELSE $c $intDiv 1000000000 END"

  /** Benford per-digit expectations in basis points — fixed public
    * constants (⌊log₁₀(1+1/d)·10⁴⌋), inlined as the SAME literals on both
    * sides rather than computed, so no transcendental function enters the
    * compared output.
    */
  private val benfordBp =
    Seq(1 -> 3010, 2 -> 1760, 3 -> 1249, 4 -> 969, 5 -> 791,
      6 -> 669, 7 -> 579, 8 -> 511, 9 -> 457)

  /** Benford's-law first-digit audit of order totals — the classic
    * fabricated-data screen, as one exact integer query: digit shares in
    * basis points via integer division against the window total (a
    * 9-row frame), deviations against the inlined Benford table. A
    * distribution-level data-quality gate next to the row-level
    * constraint pack.
    */
  private val benford = Q(
    "dq_benford_first_digit",
    (s, d) => {
      val caseSql = firstDigitCase("c", "div")
      val bSql = "CASE digit " + benfordBp.map { case (k, v) =>
        s"WHEN $k THEN ${v}L" }.mkString(" ") + " END"
      val g = Tables.orders(s, d)
        .select(round(col("o_totalprice") * 100).cast("long").as("c"))
        .select(expr(caseSql).as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      // The grand total joins back as a broadcast 1-row frame instead of
      // `sum(n) over ()`: the digit frame is ≤9 rows so the window was
      // never a scale risk, but an empty-partition WindowExec is the one
      // plan shape this engine bans outright (see ops/BoundedRank) — a
      // map-side aggregate + broadcast join expresses the same total
      // with no single-partition sort anywhere in the plan.
      g.join(broadcast(g.agg(sum(col("n")).as("_total"))))
        .withColumn("share_bp", expr("n * 10000 div _total"))
        .withColumn("benford_bp", expr(bSql))
        .select(col("digit"), col("n"), col("share_bp"), col("benford_bp"),
          abs(col("share_bp") - col("benford_bp")).as("dev_bp"))
        .orderBy(col("digit"))
    },
    Some(s"""WITH c0 AS (SELECT CAST(round(o_totalprice*100) AS BIGINT) AS c
            | FROM orders),
            |dg AS (SELECT ${firstDigitCase("c", "//")} AS digit FROM c0),
            |g AS (SELECT digit, count(*) AS n FROM dg GROUP BY 1),
            |sh AS (SELECT digit, n,
            |  (n * 10000) // CAST(sum(n) OVER () AS BIGINT) AS share_bp,
            |  CASE digit ${benfordBp.map { case (k, v) =>
              s"WHEN $k THEN CAST($v AS BIGINT)" }.mkString(" ")} END
            |    AS benford_bp
            | FROM g)
            |SELECT digit, n, share_bp, benford_bp,
            | abs(share_bp - benford_bp) AS dev_bp
            |FROM sh ORDER BY digit""".stripMargin))

  /** Relative-rank window functions (percent_rank, cume_dist, nth_value)
    * over customer balances per market segment — deterministic across
    * engines because both compute the SAME integer ratios
    * ((rank−1)/(n−1), peers/n) as one double division of identical
    * integers, and ties break on the unique key. Completes the window-
    * function surface next to ranking (rank/ntile), value (lag/lead/
    * first/last), and frame (RANGE) queries.
    */
  private val rankMetrics = Q(
    "window_rank_metrics",
    (s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_custkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          nth_value(col("c_custkey"), 3).over(full).as("third_poorest"))
        .filter(col("pr") >= 0.99)
        .select(col("c_mktsegment"), col("c_custkey"),
          round(col("pr"), 6).as("pr"), round(col("cd"), 6).as("cd"),
          col("third_poorest"))
        .orderBy(col("c_mktsegment"), col("c_custkey"))
    },
    Some("""WITH r AS (SELECT c_mktsegment, c_custkey,
           |  percent_rank() OVER w AS pr,
           |  cume_dist() OVER w AS cd,
           |  nth_value(c_custkey, 3) OVER
           |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           |    AS third_poorest
           | FROM customer
           | WINDOW w AS (PARTITION BY c_mktsegment
           |   ORDER BY c_acctbal, c_custkey))
           |SELECT c_mktsegment, c_custkey, round(pr, 6) AS pr,
           | round(cd, 6) AS cd, third_poorest
           |FROM r WHERE pr >= 0.99 ORDER BY 1, 2""".stripMargin))

  /** Statistical MODE per group with a DETERMINISTIC tie-break — both
    * engines' built-in `mode()` returns an arbitrary row on ties, which
    * a hash-compared (or reproducible) pipeline can't use. The exact
    * formulation: count per (group, value), rank by (count desc, value
    * asc), keep rank 1 — two partial-aggregating shuffles, and the
    * ranking window runs over the already-aggregated (group, value)
    * frame, never the raw data.
    */
  private val groupedMode = Q(
    "agg_grouped_mode",
    (s, d) => {
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_quantity").cast("int").as("qty"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("n").desc, col("qty"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("qty").as("mode_qty"), col("n"))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH c AS (SELECT l_returnflag, CAST(l_quantity AS INT) AS qty,
           |  count(*) AS n FROM lineitem GROUP BY 1, 2),
           |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
           |  ORDER BY n DESC, qty) AS rn FROM c)
           |SELECT l_returnflag, qty AS mode_qty, n
           |FROM r WHERE rn = 1 ORDER BY 1""".stripMargin))

  /** 2-D histogram (quantity × price decade grid) — the heatmap/density
    * primitive behind every scatter-density dashboard panel, as one
    * grouped aggregation over integer-exact cell ids: quantity is already
    * integral, price buckets by integer division of cents, so cell
    * membership cannot diverge across engines. One scan, partial-agg
    * combine, |cells| output rows regardless of input size.
    */
  private val hist2d = Q(
    "a6_histogram_2d_qty_price",
    (s, d) => Tables.lineitem(s, d)
      .select(col("l_quantity").cast("int").as("qx"),
        (round(col("l_extendedprice") * 100).cast("long") / lit(1000000L))
          .cast("long").as("py"))
      .groupBy(col("qx"), col("py"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("qx"), col("py")),
    Some("""SELECT CAST(l_quantity AS INT) AS qx,
           | CAST(round(l_extendedprice*100) AS BIGINT) // 1000000 AS py,
           | count(*) AS n
           |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Winsorized robust means per event_type: clamp values to the
    * [p05, p95] order-statistic fences before summing — the standard
    * heavy-tail guard before any mean-based monitoring (MAD flags
    * outliers; winsorizing BOUNDS their leverage instead of dropping
    * rows). Two passes in the house two-phase shape: pass 1 derives the
    * per-group fences (k=⌈q·n⌉ order statistics over integer centi-units
    * — the `agg_group_quantiles_value` convention, no interpolation
    * tails), pass 2 streams the table once against the BROADCAST
    * |groups|-row fence frame with a map-side-combinable clamp-and-sum.
    * All compared quantities are exact BIGINT sums (means are a division
    * away for the consumer; integer division on possibly-negative sums
    * truncates differently across engines, so the sums ARE the output).
    */
  private val winsorized = Q(
    "dq_winsorized_means",
    (s, d) => {
      val base = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("c"))
      val ranked = base
        .withColumn("rn", row_number().over(w))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("event_type"))))
      val fences = ranked.groupBy(col("event_type"))
        .agg(max(when(col("rn") <= ceil(lit(0.05) * col("n")), col("c")))
            .as("lo_centi"),
          max(when(col("rn") <= ceil(lit(0.95) * col("n")), col("c")))
            .as("hi_centi"))
      base.join(broadcast(fences), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("lo_centi")).as("lo_centi"),
          max(col("hi_centi")).as("hi_centi"),
          sum(col("c")).as("sum_raw_centi"),
          sum(least(greatest(col("c"), col("lo_centi")), col("hi_centi")))
            .as("sum_winsor_centi"))
        .orderBy(col("event_type"))
    },
    Some("""WITH b AS (SELECT event_type,
           |  CAST(round(value*100) AS BIGINT) AS c
           | FROM events WHERE value IS NOT NULL),
           |r AS (SELECT event_type, c,
           |  row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
           |  count(*) OVER (PARTITION BY event_type) AS n FROM b),
           |f AS (SELECT event_type,
           |  max(CASE WHEN rn <= ceil(0.05 * n) THEN c END) AS lo_centi,
           |  max(CASE WHEN rn <= ceil(0.95 * n) THEN c END) AS hi_centi
           | FROM r GROUP BY 1)
           |SELECT event_type, count(*) AS n,
           | max(lo_centi) AS lo_centi, max(hi_centi) AS hi_centi,
           | CAST(sum(c) AS BIGINT) AS sum_raw_centi,
           | CAST(sum(least(greatest(c, lo_centi), hi_centi)) AS BIGINT)
           |   AS sum_winsor_centi
           |FROM b JOIN f USING (event_type)
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Two-proportion A/B z-test per metric (the experimentation
    * readout): users md5-split 50/50 into variants (deterministic,
    * reproducible — the same uniform convention as every sampler
    * here), conversion = "user emitted ≥1 event of type t", and the
    * z² > 4 (|z| > 2) significance test rewritten over integral
    * sufficient statistics —
    *   n·(cA·nB − cB·nA)² > 4·c·(n−c)·nA·nB
    * — so no proportion, pooled variance, or standard error is ever
    * rounded (the ts_anomalous_hours rule); the single squaring
    * happens in double from identical exact integers. Scale shape:
    * one distinct-pairs aggregation per metric (map-side combined),
    * variant totals broadcast as one row; at any user count the
    * compared frame is |metrics| rows.
    */
  private val abTest = Q(
    "stats_ab_proportion_ztest",
    (s, d) => {
      val ev = Tables.events(s, d)
      val users = ev.select(col("user_id")).distinct()
        .withColumn("v",
          conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
            .cast("long") % 2)
      val tot = users.agg(
        sum(when(col("v") === 0, 1L).otherwise(0L)).as("nA"),
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("nB"))
      val convs = ev.select(col("event_type"), col("user_id")).distinct()
        .join(users, "user_id")
        .groupBy(col("event_type"))
        .agg(sum(when(col("v") === 0, 1L).otherwise(0L)).as("cA"),
          sum(when(col("v") === 1, 1L).otherwise(0L)).as("cB"))
      convs.crossJoin(broadcast(tot))
        .withColumn("n", col("nA") + col("nB"))
        .withColumn("c", col("cA") + col("cB"))
        .withColumn("significant",
          (col("n").cast("double") *
            pow((col("cA") * col("nB") - col("cB") * col("nA")).cast("double"), 2)
            > (lit(4) * col("c") * (col("n") - col("c")) * col("nA") * col("nB"))
              .cast("double")).cast("int"))
        .select(col("event_type"), col("nA"), col("nB"), col("cA"),
          col("cB"), col("significant"))
        .orderBy(col("event_type"))
    },
    Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
           |v AS (SELECT user_id,
           |  ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           |    % 2 AS v FROM u),
           |t AS (SELECT CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nA,
           |  CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nB FROM v),
           |p AS (SELECT DISTINCT event_type, user_id FROM events),
           |c AS (SELECT event_type,
           |  CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cA,
           |  CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cB
           | FROM p JOIN v USING (user_id) GROUP BY 1)
           |SELECT event_type, nA, nB, cA, cB,
           | CAST(CASE WHEN CAST(nA + nB AS DOUBLE)
           |     * pow(CAST(cA * nB - cB * nA AS DOUBLE), 2)
           |     > CAST(4 * (cA + cB) * ((nA + nB) - (cA + cB)) * nA * nB
           |       AS DOUBLE)
           |   THEN 1 ELSE 0 END AS INT) AS significant
           |FROM c, t ORDER BY 1""".stripMargin))

  /** CUPED variance-reduced A/B effect (Deng et al., WSDM'13 — adjust
    * the experiment metric by a pre-experiment covariate:
    * Y' = Y − θ·X with θ = cov(X,Y)/var(X); variance drops by ρ²): the
    * experimentation-platform companion to the proportion z-test.
    * Pre/post periods split at the data's own temporal midpoint (the
    * SCD2-snapshot convention), per-user centi-unit sums, variants by
    * the md5 %2 split. Every moment (Σx, Σy, Σxy, Σx², Σy², per-variant
    * sums) is an exact BIGINT; the overflow-prone cross products
    * n·Σxy − Σx·Σy run through DECIMAL(19,0)×DECIMAL(19,0) (the house
    * int128 rule), and θ / effects / ρ² are single-expression doubles
    * from those exact integers — no double is ever summed, so the
    * compare is deterministic. One fact pass: the per-user fold is one
    * keyed aggregation; everything after is a one-row frame.
    */
  private val cuped = Q(
    "stats_ab_cuped_adjusted",
    (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          round(col("value") * 100).cast("long").as("centi"))
      val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val per = ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(sum(when(col("us") < col("mid"), col("centi")).otherwise(0L))
            .as("x"),
          sum(when(col("us") >= col("mid"), col("centi")).otherwise(0L))
            .as("y"))
        .withColumn("v",
          conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
            .cast("long") % 2)
      val st = per.agg(
        count(lit(1)).as("n"),
        sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(when(col("v") === 0, col("x")).otherwise(0L)).as("sx_a"),
        sum(when(col("v") === 1, col("x")).otherwise(0L)).as("sx_b"),
        sum(when(col("v") === 0, col("y")).otherwise(0L)).as("sy_a"),
        sum(when(col("v") === 1, col("y")).otherwise(0L)).as("sy_b"))
      def dec(c: String) = col(c).cast("decimal(19,0)")
      st
        .withColumn("cov_n",
          (dec("n") * dec("sxy") - dec("sx") * dec("sy")).cast("double"))
        .withColumn("var_n",
          (dec("n") * dec("sxx") - dec("sx") * dec("sx")).cast("double"))
        .withColumn("vary_n",
          (dec("n") * dec("syy") - dec("sy") * dec("sy")).cast("double"))
        .select(col("n").as("n_users"), col("n_a"), col("n_b"),
          col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"),
          when(col("var_n") > 0, round(col("cov_n") / col("var_n"), 6))
            .as("theta"),
          when(col("n_a") > 0 && col("n_b") > 0, round(
            col("sy_b").cast("double") / col("n_b").cast("double")
              - col("sy_a").cast("double") / col("n_a").cast("double"), 6))
            .as("effect_raw_centi"),
          when(col("n_a") > 0 && col("n_b") > 0 && col("var_n") > 0, round(
            (col("sy_b").cast("double") / col("n_b").cast("double")
              - col("sy_a").cast("double") / col("n_a").cast("double"))
              - (col("cov_n") / col("var_n"))
                * (col("sx_b").cast("double") / col("n_b").cast("double")
                  - col("sx_a").cast("double") / col("n_a").cast("double")), 6))
            .as("effect_cuped_centi"),
          when(col("var_n") > 0 && col("vary_n") > 0, round(
            col("cov_n") * col("cov_n") / (col("var_n") * col("vary_n")), 6))
            .as("rho2"))
    },
    Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
           |  CAST(round(value * 100) AS BIGINT) AS centi
           | FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
           |md AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
           |per AS (SELECT user_id,
           |  CAST(sum(CASE WHEN us < mid THEN centi ELSE 0 END) AS BIGINT)
           |    AS x,
           |  CAST(sum(CASE WHEN us >= mid THEN centi ELSE 0 END) AS BIGINT)
           |    AS y,
           |  ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
           |    ::BIGINT % 2 AS v
           | FROM ev, md GROUP BY user_id, v),
           |st AS (SELECT count(*) AS n,
           |  CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           |  CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |  CAST(sum(x * y) AS BIGINT) AS sxy,
           |  CAST(sum(x * x) AS BIGINT) AS sxx,
           |  CAST(sum(y * y) AS BIGINT) AS syy,
           |  CAST(sum(CASE WHEN v = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
           |  CAST(sum(CASE WHEN v = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
           |  CAST(sum(CASE WHEN v = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
           |  CAST(sum(CASE WHEN v = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
           | FROM per),
           |dd AS (SELECT st.*,
           |  CAST(CAST(n AS DECIMAL(19,0)) * CAST(sxy AS DECIMAL(19,0))
           |    - CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))
           |   AS DOUBLE) AS cov_n,
           |  CAST(CAST(n AS DECIMAL(19,0)) * CAST(sxx AS DECIMAL(19,0))
           |    - CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0))
           |   AS DOUBLE) AS var_n,
           |  CAST(CAST(n AS DECIMAL(19,0)) * CAST(syy AS DECIMAL(19,0))
           |    - CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))
           |   AS DOUBLE) AS vary_n
           | FROM st)
           |SELECT n AS n_users, n_a, n_b, sx, sy, sxy, sxx, syy,
           | CASE WHEN var_n > 0 THEN round(cov_n / var_n, 6) END AS theta,
           | CASE WHEN n_a > 0 AND n_b > 0 THEN round(
           |   CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
           |   - CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
           |  END AS effect_raw_centi,
           | CASE WHEN n_a > 0 AND n_b > 0 AND var_n > 0 THEN round(
           |   (CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
           |    - CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE))
           |   - (cov_n / var_n)
           |     * (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)
           |       - CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)), 6)
           |  END AS effect_cuped_centi,
           | CASE WHEN var_n > 0 AND vary_n > 0 THEN round(
           |   cov_n * cov_n / (var_n * vary_n), 6) END AS rho2
           |FROM dd""".stripMargin))

  /** Weekly-seasonality STRENGTH of the daily event series — the
    * variance-decomposition companion to the per-dow median residuals
    * (`ts_dow_seasonal_residuals` shows the profile; this publishes ONE
    * number: the share of daily-count variance the day-of-week means
    * explain, η² in integer basis points — the "is weekly seasonality
    * worth modeling" gate). ANOVA identity in exact integers:
    * SS_between·10⁶ = Σ_g ⌊S_g²·10⁶ / n_g⌋ − ⌊S²·10⁶ / n⌋ and
    * SS_total·10⁶ = Q·10⁶ − ⌊S²·10⁶ / n⌋, where the per-group
    * quantization happens BEFORE the 7-term sum (a double Σ S_g²/n_g
    * would be accumulation-order-dependent); every division is on
    * non-negative ground — including the final bp division, because
    * ss_between_micro is clamped to ≥ 0 on both sides (the per-group
    * floors can land a few micro-units below the global floor when the
    * true SS_between is 0, and a negative η² is semantically invalid;
    * unclamped, Spark's trunc-toward-zero `div` and DuckDB's flooring
    * `//` would also disagree on that negative ground). All squared
    * cross-products route through DECIMAL(38,0) / HUGEINT (the house
    * int128 rule) so S²·10⁶ cannot wrap BIGINT at large SFs. Day of
    * week is the epoch-anchored (epoch_days+4) mod 7 house convention.
    */
  private val seasonalityStrength = Q(
    "ts_weekly_seasonality_strength",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("dow", pmod(datediff(col("day"),
          lit("1970-01-01").cast("date")) + lit(4), lit(7)))
      val tot = daily.agg(count(lit(1)).as("n_days"),
        coalesce(sum(col("x")), lit(0L)).as("s"),
        coalesce(sum(col("x") * col("x")), lit(0L)).as("q"))
      val between = daily.groupBy(col("dow"))
        .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"))
        .agg(coalesce(sum(expr(
          "(CAST(s_g AS DECIMAL(38,0)) * s_g * 1000000) div n_g")), lit(0L))
          .as("sum_terms"))
      tot.crossJoin(broadcast(between))
        .select(col("n_days"), col("s").as("n_events"),
          when(col("n_days") > 0, expr(
            "greatest(sum_terms - " +
              "(CAST(s AS DECIMAL(38,0)) * s * 1000000) div n_days, 0)"))
            .otherwise(0L).as("ss_between_micro"),
          when(col("n_days") > 0, expr(
            "CAST(CAST(q AS DECIMAL(38,0)) * 1000000 - " +
              "(CAST(s AS DECIMAL(38,0)) * s * 1000000) div n_days AS BIGINT)"))
            .otherwise(0L).as("ss_total_micro"))
        .withColumn("strength_bp",
          when(col("ss_total_micro") > 0, expr(
            "(CAST(ss_between_micro AS DECIMAL(38,0)) * 10000)" +
              " div ss_total_micro")))
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS x
           |  FROM events GROUP BY 1),
           |dd AS (SELECT x,
           |  (day - DATE '1970-01-01' + 4) % 7 AS dow FROM daily),
           |t AS (SELECT count(*) AS n_days,
           |  CAST(COALESCE(sum(x), 0) AS BIGINT) AS s,
           |  CAST(COALESCE(sum(x * x), 0) AS BIGINT) AS q FROM dd),
           |g AS (SELECT dow, count(*) AS n_g,
           |  CAST(sum(x) AS BIGINT) AS s_g FROM dd GROUP BY 1),
           |b AS (SELECT CAST(COALESCE(sum(
           |   (CAST(s_g AS HUGEINT) * s_g * 1000000) // n_g), 0)
           |   AS BIGINT) AS sum_terms FROM g),
           |f AS (SELECT n_days, s AS n_events,
           |  CASE WHEN n_days > 0
           |   THEN GREATEST(CAST(sum_terms
           |     - (CAST(s AS HUGEINT) * s * 1000000) // n_days AS BIGINT), 0)
           |   ELSE 0 END AS ss_between_micro,
           |  CASE WHEN n_days > 0
           |   THEN CAST(CAST(q AS HUGEINT) * 1000000
           |     - (CAST(s AS HUGEINT) * s * 1000000) // n_days AS BIGINT)
           |   ELSE 0 END AS ss_total_micro
           | FROM t, b)
           |SELECT n_days, n_events, ss_between_micro, ss_total_micro,
           | CASE WHEN ss_total_micro > 0
           |  THEN CAST((CAST(ss_between_micro AS HUGEINT) * 10000)
           |    // ss_total_micro AS BIGINT) END AS strength_bp
           |FROM f""".stripMargin))

  /** Market-concentration audit per nation (supplier side): total
    * revenue, the Herfindahl numerator Σ revᵢ² (HHI = Σ shareᵢ² falls
    * out as sum_rev_sq/total² — publishing the integrals keeps the
    * compare exact, the linear-trend rule), and the top supplier's
    * share in integer basis points. Two keyed aggregations (supplier
    * level, then nation level) with one max(struct) argmax — the fact
    * table is touched once; nation frames are dim-sized. The squared
    * sums overflow BIGINT, and a double sum would be accumulation-
    * order-dependent — so they run in DECIMAL(38,0): exact at any
    * order, explicit final-precision cast on both sides (the house
    * DECIMAL rule). The cell itself publishes as the canonical decimal
    * STRING: int128-wide decimals fall outside readers' int64 fast path
    * and format differently per client, so the portable compare
    * convention is the digit string (the `sum_disc_price` precedent in
    * RelationalExt).
    */
  private val concentration = Q(
    "agg_market_concentration",
    (s, d) => {
      val perSupp = Tables.lineitem(s, d)
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("rev_centi"))
      perSupp.groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("rev_centi")).as("total_centi"),
          sum(col("rev_centi").cast("decimal(19,0)")
              * col("rev_centi").cast("decimal(19,0)"))
            .cast("decimal(38,0)").cast("string").as("sum_rev_sq"),
          max(col("rev_centi")).as("top_centi"))
        .withColumn("top_share_bp",
          expr("(top_centi * 10000) div total_centi"))
        .orderBy(col("s_nationkey"))
    },
    Some("""WITH ps AS (SELECT s_nationkey, s_suppkey,
           |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
           |    AS BIGINT) AS rev_centi
           | FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           | GROUP BY 1, 2)
           |SELECT s_nationkey, count(*) AS n_suppliers,
           | CAST(sum(rev_centi) AS BIGINT) AS total_centi,
           | CAST(CAST(sum(CAST(rev_centi AS DECIMAL(19,0))
           |     * CAST(rev_centi AS DECIMAL(19,0))) AS DECIMAL(38,0))
           |   AS VARCHAR) AS sum_rev_sq,
           | max(rev_centi) AS top_centi,
           | (max(rev_centi) * 10000) // CAST(sum(rev_centi) AS BIGINT)
           |   AS top_share_bp
           |FROM ps GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Gini inequality of supplier revenue per nation — the concentration
    * companion to [[concentration]]'s HHI, published as integral parts:
    * with ranks i ascending on (rev, suppkey), G = 2·Σi·xᵢ/(n·Σx) −
    * (n+1)/n, so (n, Σx, Σi·xᵢ) determine it exactly — all BIGINTs,
    * no division in the compared output. The rank window is PARTITIONED
    * by nation over the supplier-level aggregate (dim-sized groups),
    * never the fact table.
    */
  private val gini = Q(
    "agg_gini_revenue",
    (s, d) => {
      val perSupp = Tables.lineitem(s, d)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("rev_centi"))
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("rev_centi"), col("s_suppkey"))
      perSupp.withColumn("i", row_number().over(w).cast("long"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("rev_centi")).as("total_centi"),
          sum(col("i") * col("rev_centi")).as("rank_weighted_centi"))
        .orderBy(col("s_nationkey"))
    },
    Some("""WITH ps AS (SELECT s_nationkey, s_suppkey,
           |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
           |    AS BIGINT) AS rev_centi
           | FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           | GROUP BY 1, 2),
           |r AS (SELECT s_nationkey, rev_centi,
           |  CAST(row_number() OVER (PARTITION BY s_nationkey
           |    ORDER BY rev_centi, s_suppkey) AS BIGINT) AS i
           | FROM ps)
           |SELECT s_nationkey, count(*) AS n,
           | CAST(sum(rev_centi) AS BIGINT) AS total_centi,
           | CAST(sum(i * rev_centi) AS BIGINT) AS rank_weighted_centi
           |FROM r GROUP BY 1 ORDER BY 1""".stripMargin))

  /** The sketch's bucket index as a SQL expression over a non-negative
    * BIGINT column (parenthesized against compound-expression callers) —
    * shared with the streaming monitor twin
    * ([[graft.streaming.EventStream.quantileSketchSink]]) so the batch
    * query and the stream maintain ONE bucket definition.
    */
  private[graft] def hdrBucketSql(centi: String): String =
    s"""CASE WHEN ($centi) < 32 THEN ($centi)
       | ELSE (length(bin(($centi))) - 6) * 32
       |   + (($centi) div CAST(pow(2, length(bin(($centi))) - 6) AS BIGINT))
       | END""".stripMargin

  /** Inverse midpoint estimate for [[hdrBucketSql]] buckets. */
  private[graft] def hdrMidpointSql(bucket: String): String =
    s"""CASE WHEN ($bucket) < 64 THEN ($bucket)
       | ELSE (32 + ($bucket) % 32)
       |     * CAST(pow(2, ($bucket) div 32 - 1) AS BIGINT)
       |   + CAST(pow(2, ($bucket) div 32 - 2) AS BIGINT)
       | END""".stripMargin

  /** DDSketch-style mergeable quantile sketch (Masson et al., VLDB'19;
    * bucket function per the paper's "fast" variant / HdrHistogram's
    * public design — log₂ octaves split into 32 linear sub-buckets):
    * values quantize to exact integer cents, bucket
    * b = (bitlen−6)·32 + (centi >> (bitlen−6)) for centi ≥ 32 (exact
    * identity below 32) — a STRICTLY MONOTONE, pure-integer bit
    * function, so unlike a ⌊ln x/lnγ⌋ key nothing transcendental ever
    * decides GROUP MEMBERSHIP (the one place a last-ulp libm
    * disagreement would change row counts rather than a published
    * value). Quantile = first bucket whose cumulative count reaches the
    * k = ⌈q·n⌉ rank; estimate = the bucket's integer midpoint, relative
    * error ≤ 1/64 ≈ 1.6%. THE scale story is that the per-bucket counts
    * ARE the sketch: they add under union, so Spark's map-side partial
    * aggregation performs the sketch merge and the shuffled state is
    * ≤ ~32·octaves (bucket, count) rows at ANY input size — the
    * lifecycle of a t-digest/KLL merge tree with an engine-portable
    * bucket function. The cumulative walk runs on that bounded bucket
    * frame (the latency-histogram bounded-window precedent); every
    * published cell is integral. RoundNineWaveSpec pins the error band
    * against the exact order statistic.
    */
  private val ddsketch = Q(
    "agg_ddsketch_quantiles",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(round(col("l_extendedprice") * 100).cast("long").as("centi"))
      val counts = li
        .withColumn("b", expr(hdrBucketSql("centi")))
        .groupBy(col("b")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = counts.withColumn("cum", sum(col("c")).over(w))
      val tot = counts.agg(sum(col("c")).as("n"))
      val qrows = s.range(1).select(explode(
        array(lit(5000), lit(9000), lit(9900))).as("q_bp"))
      cum.crossJoin(broadcast(tot)).crossJoin(broadcast(qrows))
        .withColumn("k", expr("(q_bp * n + 9999) div 10000"))
        .filter(col("cum") >= col("k"))
        .groupBy(col("q_bp"))
        .agg(min(col("n")).as("n"), min(col("k")).as("k"),
          min(col("b")).as("bucket"))
        .withColumn("est_centi", expr(hdrMidpointSql("bucket")))
        .orderBy(col("q_bp"))
    },
    Some("""WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
           |    AS centi FROM lineitem),
           |s AS (SELECT CASE WHEN centi < 32 THEN centi
           |    ELSE (length(bin(centi)) - 6) * 32
           |      + (centi // CAST(pow(2, length(bin(centi)) - 6) AS BIGINT))
           |    END AS b, count(*) AS c
           |  FROM v GROUP BY 1),
           |cm AS (SELECT b, c, sum(c) OVER (ORDER BY b
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM s),
           |t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM s),
           |q AS (SELECT unnest([5000, 9000, 9900]) AS q_bp),
           |pick AS (SELECT q_bp, min(n) AS n,
           |   min((q_bp * n + 9999) // 10000) AS k, min(b) AS bucket
           |  FROM cm CROSS JOIN t CROSS JOIN q
           |  WHERE cum >= (q_bp * n + 9999) // 10000
           |  GROUP BY 1)
           |SELECT q_bp, n, k, bucket,
           | CASE WHEN bucket < 64 THEN bucket
           |  ELSE (32 + bucket % 32)
           |      * CAST(pow(2, bucket // 32 - 1) AS BIGINT)
           |    + CAST(pow(2, bucket // 32 - 2) AS BIGINT)
           |  END AS est_centi
           |FROM pick ORDER BY q_bp""".stripMargin))

  /** Chi-squared test of independence between event type and day of
    * week — the categorical-association screen behind "does traffic mix
    * shift by weekday". Observed counts, row/column margins, and N are
    * integral sufficient statistics from ONE map-side-combined scan
    * (the `stats_ab_proportion_ztest` discipline); the per-cell
    * (o−e)²/e term quantizes to micro-units per CELL (each cell's
    * double math is one identically-written expression from exact
    * integers — the KL-divergence rule) and the statistic is then an
    * integer sum over the |types|×7 bounded cell frame, immune to
    * accumulation order. Day of week is the epoch-anchored
    * (epoch_days+4) mod 7 house convention. Output: one row per event
    * type pinning its margin and its chi² contribution, plus the test's
    * degrees of freedom — the global statistic is the exact integer sum
    * of the published column.
    */
  private val chi2 = Q(
    "stats_chi2_independence",
    (s, d) => {
      val base = Tables.events(s, d).select(col("event_type"),
        pmod(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          + lit(4), lit(7)).as("dow"))
      val cells = base.groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("o"))
      val rowM = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
      val colM = cells.groupBy(col("dow")).agg(sum(col("o")).as("cm"))
      val tot = cells.agg(sum(col("o")).as("nn"),
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(col("dow")).as("n_dows"))
      // complete the contingency grid: unobserved (type, dow) cells
      // still contribute their expected count (o=0 → term = e) — the
      // margins' cross product is |types|×7, dimension-sized
      rowM.crossJoin(colM)
        .join(cells, Seq("event_type", "dow"), "left_outer")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("term_micro", expr(
          """CAST(round(pow(CAST(o AS DOUBLE)
            |  - CAST(r AS DOUBLE) * cm / nn, 2)
            |  / (CAST(r AS DOUBLE) * cm / nn) * 1e6) AS BIGINT)"""
            .stripMargin))
        .groupBy(col("event_type"))
        .agg(min(col("r")).as("row_total"),
          count(lit(1)).as("n_cells"),
          sum(col("term_micro")).as("chi2_part_micro"),
          min((col("n_types") - 1) * (col("n_dows") - 1)).as("dof"))
        .orderBy(col("event_type"))
    },
    Some("""WITH b AS (SELECT event_type,
           |  (CAST(ts AS DATE) - DATE '1970-01-01' + 4) % 7 AS dow
           | FROM events),
           |cl AS (SELECT event_type, dow, count(*) AS o FROM b GROUP BY 1, 2),
           |rm AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
           |  FROM cl GROUP BY 1),
           |cm AS (SELECT dow, CAST(sum(o) AS BIGINT) AS cm FROM cl GROUP BY 1),
           |t AS (SELECT CAST(sum(o) AS BIGINT) AS nn,
           |  count(DISTINCT event_type) AS n_types,
           |  count(DISTINCT dow) AS n_dows FROM cl),
           |grid AS (SELECT rm.event_type, rm.r, cm.dow, cm.cm,
           |  coalesce(cl.o, 0) AS o
           | FROM rm CROSS JOIN cm
           | LEFT JOIN cl ON cl.event_type = rm.event_type
           |  AND cl.dow = cm.dow),
           |terms AS (SELECT grid.event_type, r,
           |  CAST(round(pow(CAST(o AS DOUBLE)
           |    - CAST(r AS DOUBLE) * cm / nn, 2)
           |    / (CAST(r AS DOUBLE) * cm / nn) * 1e6) AS BIGINT) AS term_micro,
           |  n_types, n_dows
           | FROM grid CROSS JOIN t)
           |SELECT event_type, min(r) AS row_total, count(*) AS n_cells,
           | CAST(sum(term_micro) AS BIGINT) AS chi2_part_micro,
           | CAST(min((n_types - 1) * (n_dows - 1)) AS BIGINT) AS dof
           |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Kendall rank correlation between the daily event count and daily
    * value mass — the nonparametric "do these two series move together"
    * readout that, unlike Pearson (`stats_event_correlation`), is
    * immune to outlier days and monotone rescaling. Published as the
    * tau-b INTEGRALS (concordant, discordant, tie pair counts, n) —
    * the house publish-the-sufficient-statistics rule: no square root
    * or ratio is ever rounded, and the reader assembles
    * τ_b = (nc−nd)/√((n₀−t_x)(n₀−t_y)) with t_x = ties_x + ties_xy and
    * t_y = ties_y + ties_xy (the published tie columns are DISJOINT —
    * x-only, y-only, both — so they add back to the formula's totals
    * without double counting). The pair enumeration is
    * a self-join on the |days|-bounded daily frame (the `ts_acf_lags`
    * precedent) — quadratic in DAYS, constant in events.
    */
  private val kendall = Q(
    "stats_kendall_tau",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"),
          coalesce(sum(round(col("value") * 100).cast("long")), lit(0L))
            .as("y"))
      val pairs = daily.as("a")
        .join(daily.as("b"), col("a.day") < col("b.day"))
        .select((col("a.x") - col("b.x")).as("dx"),
          (col("a.y") - col("b.y")).as("dy"))
      // sign comparison, never the dx·dy product: at corpus scale the
      // product of a count delta and a centi-mass delta outruns BIGINT
      // (the text_kl_source_divergence overflow rule)
      pairs.agg(
        count(lit(1)).as("n_pairs"),
        count(when((col("dx") > 0 && col("dy") > 0) ||
          (col("dx") < 0 && col("dy") < 0), lit(1))).as("n_concordant"),
        count(when((col("dx") > 0 && col("dy") < 0) ||
          (col("dx") < 0 && col("dy") > 0), lit(1))).as("n_discordant"),
        count(when(col("dx") === 0 && col("dy") =!= 0, lit(1))).as("ties_x"),
        count(when(col("dy") === 0 && col("dx") =!= 0, lit(1))).as("ties_y"),
        count(when(col("dx") === 0 && col("dy") === 0, lit(1))).as("ties_xy"))
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS x,
           |  COALESCE(CAST(sum(CAST(round(value * 100) AS BIGINT))
           |    AS BIGINT), 0) AS y
           | FROM events GROUP BY 1),
           |p AS (SELECT a.x - b.x AS dx, a.y - b.y AS dy
           | FROM daily a JOIN daily b ON a.day < b.day)
           |SELECT count(*) AS n_pairs,
           | CAST(count(CASE WHEN (dx > 0 AND dy > 0)
           |    OR (dx < 0 AND dy < 0) THEN 1 END) AS BIGINT)
           |   AS n_concordant,
           | CAST(count(CASE WHEN (dx > 0 AND dy < 0)
           |    OR (dx < 0 AND dy > 0) THEN 1 END) AS BIGINT)
           |   AS n_discordant,
           | CAST(count(CASE WHEN dx = 0 AND dy <> 0 THEN 1 END) AS BIGINT)
           |   AS ties_x,
           | CAST(count(CASE WHEN dy = 0 AND dx <> 0 THEN 1 END) AS BIGINT)
           |   AS ties_y,
           | CAST(count(CASE WHEN dx = 0 AND dy = 0 THEN 1 END) AS BIGINT)
           |   AS ties_xy
           |FROM p""".stripMargin))

  /** Spearman rank correlation over the same daily pair of series —
    * the tie-robust integer formulation: each series ranks with
    * DOUBLED average ranks (rank_min + rank_max per tie group — always
    * an integer, never a .5), so the rank difference d and Σd² are
    * exact BIGINTs at any tie structure, alongside the cubic tie
    * corrections Σ(t³−t). The reader assembles ρ from the published
    * integrals; nothing fractional ever crosses the compare. Ranks run
    * on the |days|-bounded frame (two bounded windows per series).
    */
  private val spearman = Q(
    "stats_spearman_rho",
    (s, d) => {
      import graft.ops.Checkpoints.StageCheckpoint
      // staged: the daily frame feeds the rank pass plus both tie
      // aggregates — one events scan instead of three
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"),
          coalesce(sum(round(col("value") * 100).cast("long")), lit(0L))
            .as("y"))
        .stageCheckpoint()
      def dblRank(c: String) = {
        val grp = Window.partitionBy(col(c))
        // doubled average rank of a tie group = (first rank) + (last
        // rank) = 2·rank + (count−1) with SQL rank() semantics
        (rank().over(Window.orderBy(col(c))) * 2
          + count(lit(1)).over(grp) - 1).as(s"r$c")
      }
      val ranked = daily.select(col("x"), col("y"), dblRank("x"), dblRank("y"))
      val ties = (c: String) => daily.groupBy(col(c))
        .agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")), lit(0L)))
      ranked
        .select(((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("d2"))
        .agg(count(lit(1)).as("n"), sum(col("d2")).as("sum_4d2"))
        .crossJoin(broadcast(ties("x").toDF("tie_cubic_x")))
        .crossJoin(broadcast(ties("y").toDF("tie_cubic_y")))
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS x,
           |  COALESCE(CAST(sum(CAST(round(value * 100) AS BIGINT))
           |    AS BIGINT), 0) AS y
           | FROM events GROUP BY 1),
           |r AS (SELECT
           |  CAST(rank() OVER (ORDER BY x) * 2
           |    + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS rx,
           |  CAST(rank() OVER (ORDER BY y) * 2
           |    + count(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS ry
           | FROM daily),
           |tx AS (SELECT COALESCE(CAST(sum(t * t * t - t) AS BIGINT), 0)
           |   AS tie_cubic_x
           |  FROM (SELECT count(*) AS t FROM daily GROUP BY x)),
           |ty AS (SELECT COALESCE(CAST(sum(t * t * t - t) AS BIGINT), 0)
           |   AS tie_cubic_y
           |  FROM (SELECT count(*) AS t FROM daily GROUP BY y))
           |SELECT (SELECT count(*) FROM r) AS n,
           | (SELECT CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) FROM r)
           |   AS sum_4d2,
           | tie_cubic_x, tie_cubic_y
           |FROM tx CROSS JOIN ty""".stripMargin))

  override def qs: Seq[Q] =
    Seq(triangles, clusteringCoeff, twoHopReach, twoHopHyperball,
      harmonicCentrality, effectiveDiameter, meanDistance,
      rangePartitionPlan, ddsketch, chi2, kendall, spearman,
      mannKendall, richClub, trend,
      pareto, equidepth, madOutliers,
      zorder, compactionBins, distributionDrift, windowValues, rollingWau,
      groupQuantiles, benford, rankMetrics, groupedMode, hist2d,
      winsorized, abTest, cuped, seasonalityStrength, concentration, gini)
}
