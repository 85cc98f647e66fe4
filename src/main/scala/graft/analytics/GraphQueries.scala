package graft.analytics

import graft.{Q, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints.StageCheckpoint
import graft.ops.Edges

/** Graph analytics over the customer↔supplier co-purchase graph (the
  * same edge construction as `graph_pagerank_copurchase`: one edge per
  * distinct trading pair, supplier ids offset into a disjoint key
  * space). Complements PageRank/triangles/CC with the degree profile
  * and community structure — all iterative state is edge-partitioned,
  * all outputs are distribution/summary-sized.
  */
object GraphQueries extends QueryPack {

  /** Distinct co-purchase edges (cu, su) — also the edge list of
    * `graph_pagerank_copurchase` (RelationalExt). */
  private[analytics] def edges(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cu"), (col("l_suppkey") + 1000000L).as("su"))
      .distinct()

  private val edgeSql =
    """SELECT DISTINCT o_custkey AS cu, l_suppkey + 1000000 AS su
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin

  /** Two synchronous LPA rounds as DuckDB CTEs ending in
    * `l2(node, lbl)` (plus `sym(u, v)`) — shared by the LPA oracle and
    * the modularity oracle so both compare against the identical
    * deterministic label assignment.
    */
  private val LpaCte =
    s"""e0 AS ($edgeSql),
       |sym AS (SELECT cu AS u, su AS v FROM e0
       |  UNION ALL SELECT su AS u, cu AS v FROM e0),
       |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym),
       |c1 AS (SELECT s.u AS node, l.lbl, count(*) AS c
       |  FROM sym s JOIN l0 l ON s.v = l.node GROUP BY 1, 2),
       |l1 AS (SELECT node, lbl FROM (SELECT node, lbl,
       |   row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
       |  FROM c1) WHERE rn = 1),
       |c2 AS (SELECT s.u AS node, l.lbl, count(*) AS c
       |  FROM sym s JOIN l1 l ON s.v = l.node GROUP BY 1, 2),
       |l2 AS (SELECT node, lbl FROM (SELECT node, lbl,
       |   row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
       |  FROM c2) WHERE rn = 1)""".stripMargin

  /** Degree distribution per side: how many customers (suppliers) have
    * exactly d trading partners. The first diagnostic run on any graph
    * before choosing join strategies (it bounds wedge fan-out and
    * exposes hubs needing salting). Two keyed aggregations; output is
    * |distinct degrees|-sized.
    */
  private val degreeDist = Q(
    "graph_degree_distribution",
    (s, d) => {
      val e = edges(s, d)
      val cu = e.groupBy(col("cu")).agg(count(lit(1)).as("deg"))
        .select(lit("customer").as("role"), col("deg"))
      val su = e.groupBy(col("su")).agg(count(lit(1)).as("deg"))
        .select(lit("supplier").as("role"), col("deg"))
      cu.unionByName(su)
        .groupBy(col("role"), col("deg"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("role"), col("deg"))
    },
    Some(s"""WITH e AS ($edgeSql),
            |cd AS (SELECT 'customer' AS role, count(*) AS deg FROM e GROUP BY cu),
            |sd AS (SELECT 'supplier' AS role, count(*) AS deg FROM e GROUP BY su),
            |a AS (SELECT * FROM cd UNION ALL SELECT * FROM sd)
            |SELECT role, deg, count(*) AS n_nodes
            |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Two synchronous label-propagation iterations (Raghavan 2007, the
    * deterministic argmax-mode variant: most frequent neighbor label,
    * smallest label breaking ties). Unlike min-label CC this converges
    * toward dense communities, not connected components. Per iteration:
    * one edge⋈label join and one mode argmax via `max(struct(count,
    * -label))` — partial-aggregating, no per-node window. The edge
    * frame is checkpointed once; label state is node-sized. Output
    * pins node count, community count, the largest community, and the
    * surviving label SET (sum over distinct labels).
    */
  /** The LPA iteration itself, shared between the registered query and
    * the planted-structure spec (GraphQueriesSpec) so the ground-truth
    * tests exercise THIS code, not a copy. `sym` must hold both edge
    * directions as (u, v); returns (node, lbl) after `iters` synchronous
    * rounds. Each round is one edge⋈label join plus a two-level
    * partial-aggregating mode argmax — label state stays node-sized and
    * no per-node window appears in the plan.
    */
  def lpa(sym: DataFrame, iters: Int): DataFrame = {
    var lbl = sym.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to iters) {
      lbl = sym
        .join(lbl.select(col("node").as("v"), col("lbl")), Seq("v"))
        .groupBy(col("u").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("b"))
        .select(col("node"), (-col("b.neg")).as("lbl"))
    }
    lbl
  }

  private val labelProp = Q(
    "graph_label_propagation",
    (s, d) => {
      val sym = Edges.symmetric(edges(s, d).stageCheckpoint(), "cu", "su")
      lpa(sym, 2).groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
        .agg(sum(col("sz")).as("n_nodes"),
          count(lit(1)).as("n_communities"),
          max(col("sz")).as("max_community"),
          sum(col("lbl")).as("sum_labels"))
    },
    Some(s"""WITH $LpaCte,
            |sizes AS (SELECT lbl, count(*) AS sz FROM l2 GROUP BY 1)
            |SELECT CAST(sum(sz) AS BIGINT) AS n_nodes,
            | count(*) AS n_communities, max(sz) AS max_community,
            | CAST(sum(lbl) AS BIGINT) AS sum_labels
            |FROM sizes""".stripMargin),
    headline = true)

  /** Modularity of the LPA communities (Newman–Girvan Q) — the number
    * that says whether the detected communities are real structure or
    * noise: Q = Σ_c [e_in(c)/m − (D_c/2m)²], published through exact
    * BIGINT sufficient statistics (m, total intra-community edges,
    * Σ D_c²) with Q itself as the single double division of
    * q_num = 4m·Σe_in − ΣD_c² by q_den = 4m² (numerator can be
    * negative, so no integer division — `div`/`//` disagree below
    * zero). Community labels come from the SAME shared [[lpa]]
    * iteration the registered LPA query runs; one edge⋈label join per
    * side, everything else is community-sized.
    */
  private val modularity = Q(
    "graph_modularity",
    (s, d) => {
      val sym = Edges.symmetric(edges(s, d).stageCheckpoint(), "cu", "su")
        .stageCheckpoint()
      val lbl = lpa(sym, 2).stageCheckpoint()
      // (sym stays checkpointed here unlike the registered lpa query:
      // modularity fans sym out to canon, m, ein and deg — the lazy
      // union lost its A/B at this fan-out, +1.2 cpu-s)
      val canon = sym.filter(col("u") < col("v"))
      val m = canon.agg(count(lit(1)).as("m"))
      val ein = canon
        .join(lbl.select(col("node").as("u"), col("lbl").as("la")), "u")
        .join(lbl.select(col("node").as("v"), col("lbl").as("lb")), "v")
        .agg(sum(when(col("la") === col("lb"), 1L).otherwise(0L))
          .as("e_in"))
      val dsq = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .join(lbl.select(col("node").as("u"), col("lbl")), "u")
        .groupBy(col("lbl")).agg(sum(col("deg")).as("dsum"))
        .agg(sum(col("dsum") * col("dsum")).as("sum_d2"))
      m.crossJoin(ein).crossJoin(dsq)
        .select(col("m"), col("e_in"), col("sum_d2"),
          (lit(4L) * col("m") * col("e_in") - col("sum_d2")).as("q_num"),
          (lit(4L) * col("m") * col("m")).as("q_den"))
        .withColumn("modularity",
          col("q_num").cast("double") / col("q_den").cast("double"))
    },
    Some(s"""WITH $LpaCte,
            |canon AS (SELECT u, v FROM sym WHERE u < v),
            |mm AS (SELECT count(*) AS m FROM canon),
            |ein AS (SELECT CAST(sum(CASE WHEN a.lbl = b.lbl THEN 1 ELSE 0
            |    END) AS BIGINT) AS e_in
            |  FROM canon JOIN l2 a ON canon.u = a.node
            |  JOIN l2 b ON canon.v = b.node),
            |deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY 1),
            |dc AS (SELECT l2.lbl, CAST(sum(deg) AS BIGINT) AS dsum
            |  FROM deg JOIN l2 ON deg.u = l2.node GROUP BY 1),
            |dsq AS (SELECT CAST(sum(dsum * dsum) AS BIGINT) AS sum_d2
            |  FROM dc)
            |SELECT m, e_in, sum_d2,
            | 4 * m * e_in - sum_d2 AS q_num,
            | 4 * m * m AS q_den,
            | CAST(4 * m * e_in - sum_d2 AS DOUBLE)
            |   / CAST(4 * m * m AS DOUBLE) AS modularity
            |FROM mm, ein, dsq""".stripMargin))

  /** k-core peeling rounds, shared between the registered query and the
    * planted-graph spec (GraphQueriesSpec) so ground-truth tests
    * exercise THIS code. `sym` holds both edge directions; each round
    * drops every node whose current degree is below `k` (and its
    * incident edges) — the standard iterative peel whose fixpoint is
    * the k-core. Per round: ONE keyed degree aggregation over the edge
    * frame and two semi-joins, all partitioned on node id; the edge
    * frame is checkpointed per round so lineage stays flat (the CC
    * lifecycle). The per-round (n_nodes, n_edges) stats derive from
    * the NODE-sized degree frame (rows = distinct nodes, Σdeg/2 =
    * undirected edges) — the degree aggregation the peel needs anyway
    * — so no second full pass over the edge frame per round (that
    * separate count_distinct pass was ~40% of the round cost at 10×).
    * Returns one (round, n_nodes, n_edges) row per peel state — the
    * driver-side state is the ROUNDS-sized stats list, never graph
    * data.
    */
  def kcorePeel(sym0: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = sym0.sparkSession
    import spark.implicits._
    var sym = sym0.stageCheckpoint()
    val stats = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    for (r <- 0 to rounds) {
      // staged: the degree frame feeds the stats action AND (for all
      // but the last round) the keep set of the next peel — node-sized,
      // so the checkpoint is cheap
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("n"))
        .stageCheckpoint()
      val row = deg.agg(
        count(lit(1)).as("nodes"),
        coalesce(sum(col("n")), lit(0L)).as("degsum")).first()
      stats += ((r, row.getLong(0), row.getLong(1) / 2))
      if (r < rounds) {
        val keep = deg.filter(col("n") >= k).select(col("u"))
        sym = sym.join(keep, Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
          .select(col("u"), col("v"))
          .stageCheckpoint()
      }
    }
    stats.toSeq.toDF("round", "n_nodes", "n_edges")
  }

  /** DuckDB rebuild of [[kcorePeel]]: the peel unrolled as chained CTEs
    * (degree filter + two-sided edge semi-join per round), stats row
    * per round. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e0 AS ($edgeSql),\n"
    sb ++= "s0 AS (SELECT cu AS u, su AS v FROM e0 UNION ALL SELECT su, cu FROM e0)"
    for (r <- 1 to rounds) {
      sb ++= s""",
        |k$r AS (SELECT u FROM (SELECT u, count(*) AS n FROM s${r - 1}
        |  GROUP BY 1) WHERE n >= $k),
        |s$r AS (SELECT s.u, s.v FROM s${r - 1} s
        |  JOIN k$r a ON s.u = a.u JOIN k$r b ON s.v = b.u)""".stripMargin
    }
    sb ++= "\nSELECT * FROM (\n"
    sb ++= (0 to rounds).map { r =>
      s""" SELECT CAST($r AS INT) AS round,
         |  (SELECT count(DISTINCT u) FROM s$r) AS n_nodes,
         |  (SELECT count(*) FROM s$r) // 2 AS n_edges""".stripMargin
    }.mkString("\n UNION ALL\n")
    sb ++= "\n) ORDER BY round"
    sb.toString
  }

  /** 3 rounds of 3-core peeling over the co-purchase graph: each round
    * drops every node trading with fewer than 3 partners. The per-round
    * (nodes, edges) trajectory is the operator's output — the shrinking
    * curve IS the cohesion profile (where it flattens, the 3-core has
    * stabilized). Peeling is the degeneracy-ordering building block
    * (Matula–Beck); at 100 TB each round is one degree aggregation and
    * two node-keyed semi-joins — no global structure, no window.
    */
  private val kcore = Q(
    "graph_kcore_rounds",
    (s, d) => {
      // the DISTINCT EDGE frame is staged before the swapped union
      // ([[Edges]]); kcorePeel stages sym itself. The lpa A/B measured
      // the single-build shape at −27% cpu at sf0.1/16t.
      val sym = Edges.symmetric(edges(s, d).stageCheckpoint(), "cu", "su")
      kcorePeel(sym, k = 3, rounds = 3).orderBy(col("round"))
    },
    Some(kcoreSql(k = 3, rounds = 3)),
    headline = true)

  /** Multi-source BFS hop distances (3 rounds) from the three
    * smallest-id customer nodes — the reachability/radius primitive
    * under every "how far is everything from the seed set" question
    * (influence spread, crawl frontier depth, friend-of-friend
    * expansion). Frontier-set formulation: per round one
    * frontier⋈edges join (shuffle keyed on node), one anti-join
    * against the visited set, both node-sized — never an all-pairs
    * distance matrix. Visited state carries first-reach distance,
    * which equals min-distance because expansion is synchronous by
    * level; per-round stage checkpoints keep lineage flat (the CC/
    * k-core lifecycle). Output: node count + id-sum per distance
    * (pinning the exact reachable SET per level) plus an
    * unreachable bucket at dist = -1. Oracle: recursive CTE
    * level-expansion with min(dist) per node — an independent
    * formulation of the same semantics.
    */
  private val bfs = Q(
    "graph_bfs_hops",
    (s, d) => {
      // sym is staged HERE (Bfs.hops takes it as given): the
      // unreachable-bucket pass below reuses the same frame — unstaged,
      // it re-planned the whole orders⋈lineitem edge build a second
      // time. The distinct edge frame under it is staged too
      // ([[Edges]]). Dropping the sym checkpoint was A/B'd and lost
      // (+0.4 cpu-s): bfs fans sym out to 6 consumers (3 rounds +
      // sources + nodes + anti), and six lazy re-unions cost more than
      // one materialization.
      val sym = Edges.symmetric(edges(s, d).stageCheckpoint(), "cu", "su")
        .stageCheckpoint()
      val sources = sym.select(col("u").as("node")).distinct()
        .filter(col("node") < 1000000L)
        .orderBy(col("node")).limit(3)
      val state = graft.ops.Bfs.hops(sym, sources, rounds = 3)
      val nodes = sym.select(col("u").as("node")).distinct()
      val unreachable = nodes
        .join(state.select(col("node")), Seq("node"), "left_anti")
        .select(lit(-1L).as("dist"), col("node"))
      state.select(col("dist"), col("node")).unionByName(unreachable)
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("sum_nodes"))
        .orderBy(col("dist"))
    },
    Some(s"""WITH RECURSIVE e AS ($edgeSql),
            |sym AS (SELECT cu AS u, su AS v FROM e
            |        UNION ALL SELECT su, cu FROM e),
            |src AS (SELECT DISTINCT cu AS node FROM e ORDER BY 1 LIMIT 3),
            |r(node, dist) AS (
            |  SELECT node, 0 FROM src
            |  UNION
            |  SELECT sym.v, r.dist + 1 FROM r JOIN sym ON sym.u = r.node
            |  WHERE r.dist < 3),
            |m AS (SELECT node, min(dist) AS dist FROM r GROUP BY 1),
            |alln AS (SELECT DISTINCT u AS node FROM sym),
            |un AS (SELECT -1 AS dist, node FROM alln
            |  WHERE node NOT IN (SELECT node FROM m)),
            |a AS (SELECT dist, node FROM m
            |      UNION ALL SELECT dist, node FROM un)
            |SELECT dist, count(*) AS n_nodes,
            |  CAST(sum(node) AS BIGINT) AS sum_nodes
            |FROM a GROUP BY 1 ORDER BY 1""".stripMargin),
    headline = true)

  /** Common-neighbor Jaccard similarity between suppliers (link
    * prediction / "customers also bought from" — the neighborhood-
    * overlap score behind collaborative recommendations): for supplier
    * pairs sharing at least one customer, J = |N(i)∩N(j)| / |N(i)∪N(j)|
    * over customer neighborhoods, reported in integer basis points
    * (positive integers — `div` and `//` agree). Candidate pairs come
    * from wedge expansion keyed on the shared customer (one self-join
    * on the edge list, count = common-neighbor cardinality) — never a
    * supplier×supplier cross product. Wedge work is Σ d(cu)² over the
    * mid customers, so the expansion runs on the HUB-CAPPED graph
    * ([[graft.ops.DegreeCap]]): customers above the p99.9 degree order
    * statistic — "everyone shops there", quadratic cost, no similarity
    * signal — are dropped from the graph, and the Jaccard (neighborhoods
    * AND common counts) is EXACT on the remaining ≥99.9% of mids. The
    * identical cap runs in the oracle SQL, so the compare stays exact.
    * Top-20 by similarity via TakeOrderedAndProject.
    *
    * PLAN CHOICE IS MEASURED — keep the self-join (r14, BASELINE.md
    * "jaccard wedge A/B"). Three within-array rewrites of the wedge
    * expansion (triangle-census collect_set + nested-transform structs;
    * packed `(i<<32)|j` UDF; a one-pass primitive open-addressing
    * partial-count kernel over the neighbor arrays) were built and
    * timed at sf1.0/16t: 218–290 cpu-s vs 165–209 for THIS plan, same
    * ±7% shuffle bytes. The wedge mass (125.4M updates → 5.0M distinct
    * pairs, DuckDB-pinned) is intrinsic — exact common-neighbor
    * counting admits no prune here (similarities are homogeneous, and
    * per-pair array intersection would visit 47× more elements) — and
    * the streaming SMJ expansion feeds the partial agg cheaper than any
    * array-materializing variant on a DRAM-bound host. Don't "optimize"
    * this into the array shape without re-measuring.
    */
  private val jaccardNeighbors = Q(
    "graph_jaccard_neighbors",
    (s, d) => {
      // staged once: the edge list feeds the cap build, both wedge
      // sides and two degree lookups — each would otherwise re-plan
      // the whole orders⋈lineitem build
      val e0 = edges(s, d).stageCheckpoint()
      // the capped list is itself staged: it feeds the degree lookup
      // and BOTH wedge sides, and each would otherwise re-run the
      // whole DegreeCap build (degree histogram + rank window)
      val capped = e0.join(
          graft.ops.DegreeCap.keptMids(e0, "cu"),
          Seq("cu"), "left_semi")
        .stageCheckpoint()
      val deg = capped.groupBy(col("su")).agg(count(lit(1)).as("deg"))
      // EXPLOSION-SIZED parallelism (r14, BASELINE.md sf10 audit): the
      // wedge join multiplies its input ~20× before the pair agg, and
      // AQE coalesces the join's exchanges by MAP-OUTPUT bytes — it
      // cannot see the blowup. At sf10 that fused join+partial-agg
      // stage ran at 16 tasks, overflowed every agg hash table and
      // spilled 75.6 GB (6,235 of the query's 10,157 cpu-s). The
      // builder, unlike AQE, can PRICE the explosion exactly: Σd(cu)²
      // off the capped frame (one scalar job on a checkpointed input),
      // then an explicit-N hash repartition on the wedge key — explicit
      // numPartitions is exempt from AQE coalescing, and the self-join
      // reuses the one exchange for both sides. ~8M wedges per task
      // keeps the partial-agg table under ~200 MB (no spill at any SF)
      // while leaving every bench-SF plan at the session's
      // shuffle.partitions floor — sf1.0's 125M wedges stay at 16 tasks
      // (measured: 32 tasks there costs +9% cpu for nothing), sf10's
      // 1.25G get 157.
      // The pricing job is itself gated on the raw input's on-disk
      // bytes (r14 verdict item 7): below [[graft.ops.JoinGate
      // .JaccardPriceBytes]] the priced `parts` can never exceed the
      // core floor, so the blocking Σd² scalar job (measured ≤0.6 cpu-s
      // at sf0.1, but paid on EVERY invocation including Verify) is
      // skipped outright and the plan is byte-identical to the ungated
      // one. inputBytes reads driver-side file metadata of the
      // un-checkpointed edge build — the checkpointed frames report no
      // input files.
      val wedges =
        if (graft.ops.JoinGate.inputBytes(edges(s, d)) <=
            graft.ops.JoinGate.JaccardPriceBytes) 0L
        else capped.groupBy(col("cu")).agg(count(lit(1)).as("d"))
          .agg(sum(col("d") * col("d")).as("w")).head().getLong(0)
      val parts = math.min(2000L, wedges / 8000000L + 1L).toInt
      // AQE's coalescing floors at the cluster parallelism
      // (parallelismFirst), so the explicit exchange is only needed
      // when the wedge mass wants MORE tasks than the cores provide —
      // the r12 sf10 sweep set shuffle.partitions=160 and still
      // spilled, because AQE coalesced those 160 back to the 16-core
      // floor. Below the gate the session's own exchange is already
      // right-sized (adding the repartition there measured +8% cpu /
      // +18% shuffle at sf1.0 for nothing).
      val e = if (parts > s.sparkContext.defaultParallelism)
        capped.repartition(parts, col("cu"))
      else capped
      val pairs = e.as("a")
        .join(e.withColumnRenamed("su", "sv").as("b"), "cu")
        .filter(col("su") < col("sv"))
        .groupBy(col("su").as("i"), col("sv").as("j"))
        .agg(count(lit(1)).as("common"))
      pairs
        .join(deg.select(col("su").as("i"), col("deg").as("deg_i")), "i")
        .join(deg.select(col("su").as("j"), col("deg").as("deg_j")), "j")
        .withColumn("jac_bp",
          expr("(common * 10000) div (deg_i + deg_j - common)"))
        .select(col("i"), col("j"), col("common"), col("deg_i"),
          col("deg_j"), col("jac_bp"))
        .orderBy(col("jac_bp").desc, col("i"), col("j"))
        .limit(20)
    },
    Some(s"""WITH e0 AS ($edgeSql),
            |${graft.ops.DegreeCap.keptMidsSql("e0", "cu")},
            |e AS (SELECT e0.cu, e0.su FROM e0 JOIN dckeep USING (cu)),
            |deg AS (SELECT su, count(*) AS deg FROM e GROUP BY 1),
            |p AS (SELECT a.su AS i, b.su AS j, count(*) AS common
            |  FROM e a JOIN e b ON a.cu = b.cu AND a.su < b.su
            |  GROUP BY 1, 2)
            |SELECT i, j, common, di.deg AS deg_i, dj.deg AS deg_j,
            |  (common * 10000) // (di.deg + dj.deg - common) AS jac_bp
            |FROM p JOIN deg di ON di.su = i JOIN deg dj ON dj.su = j
            |ORDER BY jac_bp DESC, i, j LIMIT 20""".stripMargin),
    headline = true)

  /** One personalized-PageRank step as a DuckDB CTE (the global
    * `graph_pagerank_copurchase` convention, plus the seed-restart
    * full-outer combine; `(1 - 0.85)` stays written as the subtraction
    * so both engines evaluate the identical double).
    */
  private def pprStep(k: Int): String =
    s"""p$k AS (SELECT COALESCE(c.node, sv.node) AS node,
       |  (1 - 0.85) * COALESCE(sv.sr, 0) + 0.85 * COALESCE(c.sc, 0) AS r
       | FROM (SELECT e.v AS node, sum(p${k - 1}.r / deg.d) AS sc
       |   FROM e JOIN deg ON e.u = deg.u
       |   JOIN p${k - 1} ON e.u = p${k - 1}.node GROUP BY 1) c
       | FULL OUTER JOIN sv ON sv.node = c.node)""".stripMargin

  /** Personalized PageRank from the same three seed customers the BFS
    * starts at — "who matters most to THESE customers" (recommendation
    * neighborhoods, trust propagation), the locality complement to the
    * global centrality query. Three deterministic iterations via
    * [[graft.ops.PageRank.personalizedRanks]]; output compares the
    * top-10 RANKS under the 6dp-quantize + node-tiebreak convention,
    * never raw doubles.
    */
  private val ppr = Q(
    "graph_ppr_seeded",
    (s, d) => {
      val e = edges(s, d)
      val seeds = e.select(col("cu").as("node")).distinct()
        .orderBy(col("node")).limit(3)
      val r = graft.ops.PageRank.personalizedRanks(
        e, "cu", "su", seeds, iters = 3)
      val top = r.orderBy(round(col("r"), 6).desc, col("node")).limit(10)
      graft.ops.BoundedRank.attach(
          top.select(col("node"), round(col("r"), 6).as("r6")), "rank",
          Seq("r6" -> true, "node" -> false))
        .select(col("rank"), col("node"))
        .orderBy(col("rank"))
    },
    Some(s"""WITH e0 AS (SELECT DISTINCT o_custkey AS u,
            |   l_suppkey + 1000000 AS v
            | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
            |e AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
            |deg AS (SELECT u, count(*) AS d FROM e GROUP BY 1),
            |sds AS (SELECT DISTINCT u AS node FROM e0 ORDER BY 1 LIMIT 3),
            |sv AS (SELECT node,
            |  1.0 / (SELECT CAST(count(*) AS DOUBLE) FROM sds) AS sr
            | FROM sds),
            |p0 AS (SELECT node, sr AS r FROM sv),
            |${pprStep(1)},
            |${pprStep(2)},
            |${pprStep(3)}
            |SELECT CAST(row_number() OVER (ORDER BY round(r, 6) DESC, node)
            |   AS INT) AS rank, node
            |FROM p3 ORDER BY 1 LIMIT 10""".stripMargin))

  /** Degree assortativity — does the graph wire hubs to hubs (r > 0) or
    * hubs to leaves (r < 0)? The network-science summary behind
    * partitioning/caching decisions (disassortative bipartite trade
    * graphs concentrate load on hub-leaf edges). Output is the INTEGRAL
    * sufficient statistics of the Pearson correlation over directed
    * edge endpoints' degrees — m, Σxy, Σx, Σy, Σx², Σy², all exact
    * BIGINTs from one edge⋈deg⋈deg join (r itself is one double
    * division away; publishing the integrals keeps the compare exact —
    * the linear-trend convention). Degree frames are node-sized and
    * broadcastable.
    */
  private val assortativity = Q(
    "graph_assortativity",
    (s, d) => {
      val sym = Edges.symmetric(edges(s, d).stageCheckpoint(), "cu", "su")
      val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      sym
        .join(deg.select(col("u"), col("deg").as("dx")), "u")
        .join(deg.select(col("u").as("v"), col("deg").as("dy")), "v")
        .agg(count(lit(1)).as("m"),
          sum(col("dx") * col("dy")).as("sum_xy"),
          sum(col("dx")).as("sum_x"), sum(col("dy")).as("sum_y"),
          sum(col("dx") * col("dx")).as("sum_x2"),
          sum(col("dy") * col("dy")).as("sum_y2"))
    },
    Some(s"""WITH e0 AS ($edgeSql),
            |sym AS (SELECT cu AS u, su AS v FROM e0
            |        UNION ALL SELECT su, cu FROM e0),
            |deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY 1)
            |SELECT count(*) AS m,
            | CAST(sum(dx.deg * dy.deg) AS BIGINT) AS sum_xy,
            | CAST(sum(dx.deg) AS BIGINT) AS sum_x,
            | CAST(sum(dy.deg) AS BIGINT) AS sum_y,
            | CAST(sum(dx.deg * dx.deg) AS BIGINT) AS sum_x2,
            | CAST(sum(dy.deg * dy.deg) AS BIGINT) AS sum_y2
            |FROM sym JOIN deg dx ON sym.u = dx.u
            | JOIN deg dy ON sym.v = dy.u""".stripMargin))

  /** HITS hubs & authorities (Kleinberg, JACM'99) on the natural
    * bipartite orientation of the trading graph — customers are hubs,
    * suppliers authorities. Run UNNORMALIZED for two synchronous
    * iterations: with h₀ ≡ 1, the scores stay exact INTEGERS with a
    * combinatorial meaning (a₁ = degree, h₁ = Σ neighbor degrees,
    * a₂ = number of length-3 alternating paths ending at the supplier)
    * — the engine never sums a float, so the ranking is deterministic
    * at any partitioning (the normalized variant would cross-partition
    * double sums every round; normalization only rescales within an
    * iteration, so the RANKING is identical). Each iteration is one
    * keyed join + map-side-combined aggregation on the edge list —
    * the PageRank shuffle shape without the damping constant. At
    * 100 TB path counts outgrow BIGINT after ~3 rounds — the documented
    * switch is DECIMAL(38,0) accumulators (the house overflow rule),
    * not normalization.
    */
  private val hits = Q(
    "graph_hits_bipartite",
    (s, d) => {
      val e = edges(s, d).stageCheckpoint()
      val a1 = e.groupBy(col("su")).agg(count(lit(1)).as("a1"))
      val h1 = e.join(a1, "su")
        .groupBy(col("cu")).agg(sum(col("a1")).as("h1"))
      e.join(h1, "cu")
        .groupBy(col("su")).agg(sum(col("h1")).as("a2"))
        .join(a1, "su")
        .select(col("su"), col("a1"), col("a2"))
        .orderBy(col("a2").desc, col("su"))
        .limit(15)
    },
    Some(s"""WITH e AS ($edgeSql),
            |a1 AS (SELECT su, count(*) AS a1 FROM e GROUP BY 1),
            |h1 AS (SELECT cu, CAST(sum(a1) AS BIGINT) AS h1
            |  FROM e JOIN a1 USING (su) GROUP BY 1),
            |a2 AS (SELECT su, CAST(sum(h1) AS BIGINT) AS a2
            |  FROM e JOIN h1 USING (cu) GROUP BY 1)
            |SELECT su, a1, a2 FROM a2 JOIN a1 USING (su)
            |ORDER BY a2 DESC, su LIMIT 15""".stripMargin))

  /** Global connected components of the co-purchase graph, surfaced as
    * a first-class query (the [[graft.ops.ConnectedComponents]] operator
    * has driven the dedup cluster family since round 6 but never had a
    * graph-side registry entry): label propagation to the min reachable
    * id, then the component-SIZE histogram — output bounded by the
    * number of distinct sizes, never node count. `sum_min` (the sum of
    * each component's min-id label per size class) pins the exact
    * partition of nodes into components, not just the census. At 100 TB
    * each CC round is one edge-keyed shuffle + node-keyed fold, with the
    * alternating-star variant standing by for adversarial diameters
    * (ConnectedComponents.scala:83). Oracle: an independent recursive
    * reachability CLOSURE (UNION set semantics terminates it), min per
    * node, same histogram. The (size, n_components, sum_min) aggregation
    * is shared with the planted-graph spec so ground-truth tests
    * exercise THIS code.
    *
    * ORACLE COST (r11 ADVICE): the recursive closure materializes one
    * (node, label) row per reachable PAIR — O(size²) per component, and
    * this co-purchase graph is one giant component, so the oracle is
    * quadratic in nodes (~2.6e8 intermediate rows at sf0.1) while the
    * Spark side stays O(E·rounds). Fine at the driver's sf0.01 compare
    * SF (~3e6 rows); do not run this oracle at sf≥0.1 — the engine-side
    * scale evidence for CC is the decade/30× exponent table, not the
    * DuckDB twin.
    */
  def componentSizeHistogram(e: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    graft.ops.ConnectedComponents.components(e, srcCol, dstCol)
      .groupBy(col("comp")).agg(count(lit(1)).as("size"))
      .groupBy(col("size"))
      .agg(count(lit(1)).as("n_components"), sum(col("comp")).as("sum_min"))
      .orderBy(col("size"))

  private val componentSizes = Q(
    "graph_component_sizes",
    (s, d) => componentSizeHistogram(edges(s, d), "cu", "su"),
    Some(s"""WITH RECURSIVE e0 AS ($edgeSql),
            |sym AS (SELECT cu AS u, su AS v FROM e0
            |  UNION ALL SELECT su, cu FROM e0),
            |r(node, lbl) AS (
            |  SELECT DISTINCT u, u FROM sym
            |  UNION
            |  SELECT sym.u, r.lbl FROM sym JOIN r ON r.node = sym.v),
            |m AS (SELECT node, min(lbl) AS comp FROM r GROUP BY 1),
            |c AS (SELECT comp, count(*) AS size FROM m GROUP BY 1)
            |SELECT size, count(*) AS n_components,
            |  CAST(sum(comp) AS BIGINT) AS sum_min
            |FROM c GROUP BY 1 ORDER BY 1""".stripMargin))

  val qs: Seq[Q] = Seq(degreeDist, labelProp, modularity, kcore, bfs,
    jaccardNeighbors, ppr, assortativity, hits, componentSizes)
}
