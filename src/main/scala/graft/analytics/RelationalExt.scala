package graft.analytics

import graft.{Q, QueryPack, Tables}
import graft.ops.JoinGate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second wave of relational shapes: existential subqueries (Q4),
  * conditional aggregation (Q12), ratio-of-sums (Q14), OR-of-ANDs
  * bracket predicates (Q19), exact quantiles, an explicit two-phase
  * salted aggregation (the skew pattern as a first-class operator), and
  * an equi+range interval join. Adapted to the harness star schema
  * (TESTDATA.md columns; no l_shipmode/l_commitdate/p_container), same
  * plan shapes as the TPC-H originals.
  */
object RelationalExt extends QueryPack {

  /** TPC-H Q4 shape: EXISTS decorrelates to a left-semi join; the probe
    * side carries only the join key, so the broadcast/shuffle moves the
    * minimum bytes.
    */
  private val q4 = Q(
    "q4_priority_returned_orders",
    (s, d) => {
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1995-07-01"))
      val returned = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      ord.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS order_count
           |FROM orders
           |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
           |  AND o_orderdate < TIMESTAMP '1995-07-01'
           |  AND EXISTS (SELECT 1 FROM lineitem
           |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** TPC-H Q12 shape: fact-fact join + conditional (CASE) aggregation —
    * one pass, two counters per group.
    */
  private val q12 = Q(
    "q12_linestatus_priority",
    (s, d) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(hi, 1).otherwise(0)).as("high_line_count"),
          sum(when(!hi, 1).otherwise(0)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    },
    Some("""SELECT l_linestatus,
           | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           |   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           | CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
           |   THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           |  AND l_shipdate < TIMESTAMP '1997-01-01'
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** TPC-H Q14 shape: promo vs total revenue — the ratio-of-sums query
    * verified through its two conditional sums at money precision (the
    * Q14 percentage itself is a division of FP sums, which the oracle
    * rules keep out of hash-compares — consumers derive it from the two
    * verified components).
    */
  private val q14 = Q(
    "q14_promo_revenue_share",
    (s, d) => {
      val rev = Money.disc4(col("l_extendedprice"), col("l_discount"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-03-01") &&
          col("l_shipdate") < lit("1996-06-01"))
        .join(JoinGate.dim(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .agg(
          Money.sumMoney4(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast("decimal(25,4)"))).as("promo_revenue"),
          Money.sumMoney4(rev).as("total_revenue"),
          count(lit(1)).as("n"))
    },
    Some("""SELECT CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
           |   THEN CAST(l_extendedprice AS DECIMAL(12,2))
           |     * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
           |   ELSE CAST(0 AS DECIMAL(25,4)) END) AS DECIMAL(24,4)) AS STRING)
           |   AS promo_revenue,
           | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           |     * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
           |   AS DECIMAL(24,4)) AS STRING) AS total_revenue,
           | count(*) AS n
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
           |  AND l_shipdate < TIMESTAMP '1996-06-01'""".stripMargin))

  /** TPC-H Q19 shape: disjunction of conjunctive brackets spanning both
    * join sides — Catalyst can push only the per-side residuals, so this
    * exercises post-join predicate evaluation inside codegen.
    */
  private val q19 = Q(
    "q19_bracket_revenue",
    (s, d) => {
      val bracket =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30))
      Tables.lineitem(s, d)
        .join(JoinGate.dim(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .filter(bracket)
        .agg(Money.sumMoney4(Money.disc4(col("l_extendedprice"), col("l_discount")))
          .as("revenue"), count(lit(1)).as("n"))
    },
    Some("""SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           |     * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
           |   AS DECIMAL(24,4)) AS STRING) AS revenue,
           | count(*) AS n
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           |       AND l_quantity BETWEEN 1 AND 11)
           |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           |       AND l_quantity BETWEEN 10 AND 20)
           |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    headline = true)

  /** Exact (interpolated) quantiles — Spark `percentile` and DuckDB
    * `quantile_cont` share the rank = p·(n−1) linear-interpolation
    * definition. Taken over the integer-valued l_quantity so every
    * interpolated value lands on the exact dyadic .25 grid: bit-identical
    * across engines with NO rounding in the compare (FP-ratio/rounding
    * boundary rules don't apply). Price quantiles live in AnalyticsSpec,
    * where approx_percentile (t-digest, the mergeable 100 TB path) is
    * pinned against the exact result.
    */
  private val quantiles = Q(
    "agg_exact_quantiles_quantity",
    (s, d) => Tables.lineitem(s, d)
      .agg(count(lit(1)).as("n"),
        percentile(col("l_quantity"), lit(0.25)).as("p25"),
        percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.75)).as("p75")),
    Some("""SELECT count(*) AS n,
           | quantile_cont(l_quantity, 0.25) AS p25,
           | quantile_cont(l_quantity, 0.5) AS p50,
           | quantile_cont(l_quantity, 0.75) AS p75
           |FROM lineitem""".stripMargin))

  /** Data-quality constraint pack — the assertion sweep a warehouse
    * runs after every load, as ONE query of exact violation counts:
    * referential integrity (facts without parents, via anti-join),
    * key uniqueness, null rates, and domain ranges. Each check is a
    * count the oracle reproduces exactly; at scale the anti-join is the
    * only shuffle and every other check rides the same scans'
    * partial aggregation.
    */
  private val dqChecks = Q(
    "dq_constraint_checks",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val orphans = li.join(ord.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_lineitems"))
      val orderChecks = ord.agg(
        (count(lit(1)) - count_distinct(col("o_orderkey"))).as("dup_orderkeys"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkeys"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
          .as("nonpositive_totals"))
      val liChecks = li.agg(
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
          .otherwise(0L)).as("bad_discounts"),
        sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("bad_quantities"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("null_shipdates"))
      orphans.crossJoin(orderChecks).crossJoin(liChecks)
    },
    Some("""SELECT
           | (SELECT count(*) FROM lineitem WHERE NOT EXISTS
           |   (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
           |   AS orphan_lineitems,
           | (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
           |   AS dup_orderkeys,
           | (SELECT CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
           |   AS BIGINT) FROM orders) AS null_custkeys,
           | (SELECT CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
           |   AS BIGINT) FROM orders) AS nonpositive_totals,
           | (SELECT CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
           |   THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem) AS bad_discounts,
           | (SELECT CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
           |   AS BIGINT) FROM lineitem) AS bad_quantities,
           | (SELECT CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
           |   AS BIGINT) FROM lineitem) AS null_shipdates""".stripMargin))

  /** Order-independent table fingerprint — the migration-validation
    * primitive (did engine B load exactly engine A's rows?): per-row
    * md5 over a '|'-joined column tuple, folded with XOR so partition
    * and row order are irrelevant and nothing can overflow. One scan,
    * pure map-side fold. Key/string columns only: float and timestamp
    * VARCHAR formatting is engine-specific, so they'd fingerprint the
    * formatter, not the data.
    */
  private val tableChecksum = Q(
    "dq_table_checksum",
    (s, d) => {
      def rowHash(cols: org.apache.spark.sql.Column*) =
        conv(substring(md5(concat_ws("|", cols: _*)), 1, 15), 16, 10)
          .cast("long")
      val oSum = Tables.orders(s, d).agg(
        count(lit(1)).as("orders_n"),
        bit_xor(rowHash(col("o_orderkey").cast("string"),
          col("o_custkey").cast("string"), col("o_orderstatus"),
          col("o_orderpriority"))).as("orders_fp"))
      val cSum = Tables.customer(s, d).agg(
        count(lit(1)).as("customer_n"),
        bit_xor(rowHash(col("c_custkey").cast("string"), col("c_name"),
          col("c_mktsegment"))).as("customer_fp"))
      oSum.crossJoin(cSum)
    },
    Some("""SELECT
           | (SELECT count(*) FROM orders) AS orders_n,
           | (SELECT bit_xor(('0x' || substring(md5(concat_ws('|',
           |     CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
           |     o_orderstatus, o_orderpriority)), 1, 15))::BIGINT)
           |  FROM orders) AS orders_fp,
           | (SELECT count(*) FROM customer) AS customer_n,
           | (SELECT bit_xor(('0x' || substring(md5(concat_ws('|',
           |     CAST(c_custkey AS VARCHAR), c_name, c_mktsegment)),
           |     1, 15))::BIGINT)
           |  FROM customer) AS customer_fp""".stripMargin))

  /** Exact DECIMAL money arithmetic — the audit-grade path beside the
    * double-based revenue queries: every value casts to DECIMAL(12,2) at
    * the scan, products carry scale 4, and sums are EXACT (Tungsten's
    * decimal aggregation), so the cross-engine compare needs no
    * rounding convention at all. The ARITHMETIC agrees bit-for-bit, but
    * the round-4 hash compare still failed because the driver's two read
    * paths render decimals differently (parquet decimal128 arrives as
    * `Decimal('253942.00')`, the DuckDB-side frame as float `253942.0`).
    * So both engines now render the fixed-scale sums AS STRINGS —
    * "253942.00" is the same cell no matter which reader touches it, and
    * the compare is representation-independent by construction.
    */
  private val decimalPricing = Q(
    "q1_pricing_decimal",
    (s, d) => {
      val dec = "decimal(12,2)"
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast(dec).as("qty"),
          col("l_extendedprice").cast(dec).as("price"),
          col("l_discount").cast(dec).as("disc"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("qty")).cast("decimal(20,2)").cast("string").as("sum_qty"),
          sum(col("price")).cast("decimal(20,2)").cast("string").as("sum_price"),
          sum(col("price") * (lit(1).cast(dec) - col("disc")))
            .cast("decimal(24,4)").cast("string").as("sum_disc_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
           | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(20,2))
           |   AS VARCHAR) AS sum_qty,
           | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(20,2))
           |   AS VARCHAR) AS sum_price,
           | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           |   * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
           |   AS DECIMAL(24,4)) AS VARCHAR) AS sum_disc_price,
           | count(*) AS n
           |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** IQR outlier detection — the quantile-based quality gate every
    * ingest pipeline runs before training on numeric features: quartiles
    * in one pass, the fence test applied in a second streaming pass with
    * the two fence numbers broadcast as a 1-row frame (never a
    * per-row correlated subquery).
    */
  private val iqrOutliers = Q(
    "agg_iqr_outliers",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val fences = li.agg(
          percentile(col("l_extendedprice"), lit(0.25)).as("q1"),
          percentile(col("l_extendedprice"), lit(0.75)).as("q3"))
        .select(col("q1"), col("q3"),
          (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
          (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
      li.join(broadcast(fences))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("lo") ||
            col("l_extendedprice") > col("hi"), 1L).otherwise(0L)).as("n_outliers"),
          round(min(col("lo")), 2).as("lo_fence"),
          round(min(col("hi")), 2).as("hi_fence"))
    },
    Some("""WITH f AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
           |  quantile_cont(l_extendedprice, 0.75) AS q3 FROM lineitem),
           |b AS (SELECT q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi
           | FROM f)
           |SELECT count(*) AS n,
           | CAST(sum(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
           |   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           | round(min(lo), 2) AS lo_fence, round(min(hi), 2) AS hi_fence
           |FROM lineitem, b""".stripMargin))

  /** Rolling event-TIME window (RANGE frame): per order, revenue the
    * same customer placed in the trailing 7 days, reduced to each
    * customer's peak intensity. RANGE frames are the time-series shape
    * ROWS frames can't express (the frame is data-dependent: however
    * many orders fall in the interval); Spark needs the numeric
    * epoch-seconds ordering for rangeBetween, DuckDB takes the interval
    * directly — same [t-7d, t] closed frame.
    */
  private val rangeWindow = Q(
    "window_range_7d_revenue",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("epoch_s"))
        .rangeBetween(-7L * 86400, 0)
      Tables.orders(s, d)
        // NTZ → timestamp cast before epoch math (UTC session: identity)
        .withColumn("epoch_s", unix_timestamp(col("o_orderdate").cast("timestamp")))
        // centi-unit window sum: sliding-frame aggregation ORDER is an
        // engine implementation detail (running scan vs segment tree),
        // so a double rev_7d differs in the last ulp across engines —
        // exact BIGINT cents make the peak comparison order-free
        .withColumn("price_c", round(col("o_totalprice") * 100).cast("long"))
        .withColumn("n_7d", count(lit(1)).over(w))
        .withColumn("rev_7d_c", sum(col("price_c")).over(w))
        .groupBy(col("o_custkey"))
        .agg(max(col("n_7d")).as("peak_orders_7d"),
          max(col("rev_7d_c")).as("peak_rev_7d_c"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("peak_orders_7d")).as("sum_peak_orders"),
          max(col("peak_orders_7d")).as("max_peak_orders"),
          max(col("peak_rev_7d_c")).as("max_peak_rev_c"))
    },
    Some("""WITH r AS (SELECT o_custkey, count(*) OVER w AS n_7d,
           |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS rev_7d_c
           | FROM orders
           | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
           |   RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)),
           |p AS (SELECT o_custkey, max(n_7d) AS peak_orders_7d,
           |  CAST(max(rev_7d_c) AS BIGINT) AS peak_rev_7d_c
           | FROM r GROUP BY 1)
           |SELECT count(*) AS n_customers,
           | CAST(sum(peak_orders_7d) AS BIGINT) AS sum_peak_orders,
           | max(peak_orders_7d) AS max_peak_orders,
           | max(peak_rev_7d_c) AS max_peak_rev_c
           |FROM p""".stripMargin))

  /** One PageRank step as a DuckDB CTE: rankᵏ⁺¹(v) = (1−0.85)/N +
    * 0.85·Σ rankᵏ(u)/deg(u). `(1 - 0.85)` is written as the SUBTRACTION
    * so both engines evaluate the identical double (the Scala side
    * computes 1 - damping too — a literal 0.15 differs in the last ulp).
    */
  private def prStep(k: Int): String =
    s"""p$k AS (SELECT e.v AS node,
       |  (1 - 0.85) / (SELECT n FROM nn)
       |    + 0.85 * sum(p${k - 1}.r / deg.d) AS r
       | FROM e JOIN deg ON e.u = deg.u JOIN p${k - 1} ON e.u = p${k - 1}.node
       | GROUP BY 1)""".stripMargin

  /** PageRank centrality over the customer↔supplier co-purchase graph
    * (edge per distinct trading pair; supplier ids offset so the two key
    * spaces don't collide). Three deterministic power iterations via
    * [[graft.ops.PageRank]]; the oracle unrolls the same three steps as
    * chained CTEs. Output compares RANKS only (6dp-quantized score
    * ordering, node tiebreak — the bruteTopK convention), never raw
    * doubles.
    */
  private val pagerank = Q(
    "graph_pagerank_copurchase",
    (s, d) => {
      // Top-10 via orderBy+limit → TakeOrderedAndProject: per-partition
      // heaps + a 10-row driver merge, NOT a single-partition sort of the
      // whole node set (the round-4 unpartitioned row_number window moved
      // every customer+supplier rank through one task — a scale-killer at
      // 100×). rank is then derived on the 10-row frame by
      // [[graft.ops.BoundedRank]], so no WindowExec appears in this plan.
      val top = graft.ops.PageRank.ranks(GraphQueries.edges(s, d), "cu", "su",
          iters = 3)
        .orderBy(round(col("r"), 6).desc, col("node"))
        .limit(10)
        .select(col("node"), round(col("r"), 6).as("r6"))
      graft.ops.BoundedRank.attach(top, "rank",
          Seq("r6" -> true, "node" -> false))
        .select(col("rank"), col("node"))
        .orderBy(col("rank"))
    },
    Some(s"""WITH e0 AS (SELECT DISTINCT o_custkey AS u, l_suppkey + 1000000 AS v
            | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
            |e AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
            |deg AS (SELECT u, count(*) AS d FROM e GROUP BY 1),
            |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
            |p0 AS (SELECT u AS node, 1.0 / (SELECT n FROM nn) AS r FROM deg),
            |${prStep(1)},
            |${prStep(2)},
            |${prStep(3)}
            |SELECT CAST(row_number() OVER (ORDER BY round(r, 6) DESC, node)
            |   AS INT) AS rank, node
            |FROM p3 ORDER BY 1 LIMIT 10""".stripMargin),
    headline = true)

  /** Two-phase salted heavy hitters — the skew-mitigation pattern as an
    * explicit operator: phase 1 counts per (key, salt) so a hot key fans
    * out over 16 reducers, phase 2 merges the partials per key. The
    * oracle is the UNSALTED group-by: the rewrite must be result-
    * invariant. (AQE's skew handling covers sort-merge joins, not hot
    * aggregation keys — salting is still the tool there.)
    */
  private val saltedTopk = Q(
    "agg_salted_heavy_hitters",
    (s, d) => Tables.lineitem(s, d)
      .withColumn("_salt",
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(16)))
      .groupBy(col("l_partkey"), col("_salt"))
      .agg(count(lit(1)).as("pn"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("pn")).as("n"))
      .orderBy(col("n").desc, col("l_partkey").asc_nulls_first)
      .limit(10),
    Some("""SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM lineitem
           |GROUP BY 1 ORDER BY n DESC, l_partkey NULLS FIRST LIMIT 10""".stripMargin))

  /** Salted SHUFFLE JOIN — the join-side companion to
    * [[saltedTopk]]'s salted aggregation. A hot join key concentrates
    * one reducer at scale; salting spreads it: the fact side gets a
    * row-deterministic salt, the dim side is replicated once per salt
    * value, and the join key becomes (key, salt) so each hot key fans
    * across 16 partitions. The oracle is the UNSALTED plain join —
    * salting must be result-invariant, and the replicate-explode is
    * exactly Spark's own AQE skew-join mitigation expressed manually
    * (for engines/pipelines where AQE can't see the skew, e.g. a
    * pre-partitioned write). At this SF Catalyst broadcasts the small
    * replicated dim; at dim sizes past the broadcast threshold the same
    * plan hash-shuffles both sides on the composite key, which is the
    * scenario the salt exists for.
    */
  private val saltedJoin = Q(
    "join_salted_skew",
    (s, d) => {
      val S = 16
      val ev = Tables.events(s, d)
      val dim = ev.groupBy(col("user_id").as("d_uid"))
        .agg(min(col("ts")).as("first_seen"))
        .withColumn("_dsalt", explode(array((0 until S).map(lit(_)): _*)))
      ev.withColumn("_fsalt", pmod(xxhash64(col("event_id")), lit(S)))
        .join(dim, col("user_id") === col("d_uid") && col("_fsalt") === col("_dsalt"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(unix_timestamp(col("ts")) - unix_timestamp(col("first_seen")))
            .as("sum_age_sec"))
        .orderBy(col("event_type"))
    },
    Some("""WITH dim AS (SELECT user_id AS d_uid, min(ts) AS first_seen
           | FROM events GROUP BY 1)
           |SELECT event_type, count(*) AS n,
           | CAST(sum(date_diff('second', first_seen, ts)) AS BIGINT) AS sum_age_sec
           |FROM events JOIN dim ON user_id = d_uid
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    headline = true)

  /** Bloom-PRUNED join — sideways information passing made explicit:
    * the selective side (top-priority urgent orders) builds a Bloom
    * filter over its join keys (sketch-sized, ~KBs at any selectivity),
    * and the fact scan applies it BEFORE the shuffle, so the exchange
    * carries ~selectivity·|lineitem| rows instead of all of them. False
    * positives pass the Bloom and die in the exact join — the output is
    * bit-identical to the plain join, which is exactly what the oracle
    * asserts (the UNFILTERED join). This is the manual form of runtime
    * row-level filtering for engines/plans where the optimizer can't
    * inject it (e.g. across a staged materialization boundary).
    */
  private val bloomPrunedJoin = Q(
    "join_bloom_pruned_revenue",
    (s, d) => {
      val sel = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 200000.0)
        .select(col("o_orderkey"), col("o_orderstatus"))
      val bf = sel.stat.bloomFilter("o_orderkey", 100000L, 0.01)
      val bc = s.sparkContext.broadcast(bf)
      val mightMatch = udf((k: Long) => bc.value.mightContain(k))
      Tables.lineitem(s, d)
        .filter(mightMatch(col("l_orderkey")))
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(12,2)") -
              col("l_discount").cast("decimal(12,2)")))
            .cast("decimal(18,4)")).cast("decimal(18,4)").as("revenue"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""WITH sel AS (SELECT o_orderkey, o_orderstatus FROM orders
           | WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000.0)
           |SELECT o_orderstatus, count(*) AS n_items,
           | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           |   * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
           |  AS DECIMAL(18,4)) AS revenue
           |FROM lineitem JOIN sel ON l_orderkey = o_orderkey
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Interval join: clicks within the 10 minutes before each purchase.
    * The equi key (user_id) drives a sort-merge join; the range predicate
    * is a post-join residual — scale-safe because pairs are bounded per
    * user, unlike a pure range cross-join.
    */
  private val rangeJoin = Q(
    "range_join_clicks_before_purchase",
    (s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_eid"), col("user_id"), col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("ts").as("c_ts"))
      p.join(c, col("user_id") === col("c_uid") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("p_eid")).as("n_purchases_with_click"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT p.user_id, count(*) AS n_pairs,
           | count(DISTINCT p.event_id) AS n_purchases_with_click
           |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           |JOIN (SELECT * FROM events WHERE event_type = 'click') c
           |  ON p.user_id = c.user_id
           | AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Explicit GROUPING SETS (beyond rollup/cube) through the SQL front
    * end, with grouping() disambiguating the NULL-as-total rows from
    * genuine NULL keys. Identical text runs in both engines.
    */
  private val groupingSets = Q(
    "sql_grouping_sets_orders",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
              | CAST(grouping(o_orderstatus) AS INT) AS g_status,
              | CAST(grouping(o_orderpriority) AS INT) AS g_prio,
              | count(*) AS n,
              | CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
              |   AS DECIMAL(20,2)) AS STRING) AS sum_price
              |FROM v_orders_gs
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
              | o_orderpriority NULLS FIRST""".stripMargin)
    },
    Some("""SELECT o_orderstatus, o_orderpriority,
           | CAST(grouping(o_orderstatus) AS INT) AS g_status,
           | CAST(grouping(o_orderpriority) AS INT) AS g_prio,
           | count(*) AS n,
           | CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
           |   AS DECIMAL(20,2)) AS STRING) AS sum_price
           |FROM orders
           |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
           |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
           | o_orderpriority NULLS FIRST""".stripMargin))

  /** Wide → long reshape via native unpivot (melt) over a pre-aggregated
    * (bounded) wide frame — the inverse of the a3 pivot query.
    */
  private val unpivotQ = Q(
    "unpivot_lineitem_measures",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(Money.sumMoney2(col("l_quantity")).as("qty"),
        Money.sumMoney2(col("l_extendedprice")).as("price"),
        Money.sumMoney2(col("l_tax")).as("tax"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("tax")), "measure", "value")
      .orderBy(col("l_returnflag"), col("measure")),
    Some("""WITH w AS (SELECT l_returnflag,
           |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(20,2))
           |    AS STRING) AS qty,
           |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(20,2))
           |    AS STRING) AS price,
           |  CAST(CAST(sum(CAST(l_tax AS DECIMAL(12,2))) AS DECIMAL(20,2))
           |    AS STRING) AS tax
           | FROM lineitem GROUP BY 1)
           |SELECT l_returnflag, 'qty' AS measure, qty AS value FROM w
           |UNION ALL SELECT l_returnflag, 'price', price FROM w
           |UNION ALL SELECT l_returnflag, 'tax', tax FROM w
           |ORDER BY l_returnflag, measure""".stripMargin))

  /** Exact equal-count deciles via ntile over a total order (price,
    * tiebroken by key for determinism). ntile is inherently a global
    * rank — a single ordering partition; the 100 TB path is bucketing by
    * approx_percentile cut points (AnalyticsSpec pins the sketch against
    * the exact quantiles). Output is bounded at 10 rows.
    */
  private val ntileDeciles = Q(
    "window_ntile_price_deciles",
    (s, d) => {
      // global ntile WITHOUT the single-partition WindowExec sort: the
      // round-4 formulation moved every order row through one task;
      // GlobalOrder.ntileBy range-buckets on sketched cut points and
      // derives the exact tile from per-bucket row_numbers + exact
      // broadcast offsets — identical ntile semantics, parallel sort
      graft.ops.GlobalOrder.ntileBy(
          Tables.orders(s, d).select(col("o_totalprice"), col("o_orderkey")),
          "o_totalprice", "o_orderkey", tiles = 10, out = "decile")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("min_price"),
          round(max(col("o_totalprice")), 2).as("max_price"))
        .orderBy(col("decile"))
    },
    Some("""SELECT decile, count(*) AS n,
           | round(min(o_totalprice), 2) AS min_price,
           | round(max(o_totalprice), 2) AS max_price
           |FROM (SELECT o_totalprice,
           |  ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
           | FROM orders) t
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** TPC-H Q8 shape: national market share — per-year revenue of one
    * supplier nation within a region's customer market. Verified through
    * the two conditional sums per year at money precision (the share
    * ratio is FP-division-order sensitive; consumers derive it).
    */
  private val q8 = Q(
    "q8_national_market_share",
    (s, d) => {
      val revDec = Money.disc4(col("l_extendedprice"), col("l_discount"))
      val suppNation = Tables.nation(s, d)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val custNation = Tables.nation(s, d)
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter(
          col("o_orderdate") >= lit("1995-01-01") &&
            col("o_orderdate") < lit("1997-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(JoinGate.dim(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(JoinGate.dim(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
        .join(broadcast(custNation), col("c_nationkey") === col("cn_key"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("cn_region") === col("r_regionkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(Money.sumMoney4(when(col("supp_nation") === "NATION_1", revDec)
          .otherwise(lit(0).cast("decimal(25,4)"))).as("nation_revenue"),
          Money.sumMoney4(revDec).as("total_revenue"))
        .orderBy(col("o_year"))
    },
    Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           | CAST(CAST(sum(CASE WHEN ns.n_name = 'NATION_1'
           |   THEN CAST(l_extendedprice AS DECIMAL(12,2))
           |     * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
           |   ELSE CAST(0 AS DECIMAL(25,4)) END) AS DECIMAL(24,4)) AS STRING)
           |   AS nation_revenue,
           | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           |     * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
           |   AS DECIMAL(24,4)) AS STRING) AS total_revenue
           |FROM lineitem
           | JOIN orders ON l_orderkey = o_orderkey
           | JOIN supplier ON l_suppkey = s_suppkey
           | JOIN customer ON o_custkey = c_custkey
           | JOIN nation ns ON s_nationkey = ns.n_nationkey
           | JOIN nation nc ON c_nationkey = nc.n_nationkey
           | JOIN region ON nc.n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA'
           |  AND o_orderdate >= TIMESTAMP '1995-01-01'
           |  AND o_orderdate < TIMESTAMP '1997-01-01'
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    headline = true)

  /** TPC-H Q17 shape: small-quantity lineitems of one brand, where
    * "small" is a correlated per-part average — the aggregate-then-
    * rejoin decorrelation (a broadcast of |parts-of-brand| averages).
    * The threshold predicate `qty < 0.2·avg(qty)` runs as EXACT integer
    * arithmetic in centi-units (qty·5·n < Σqty — same inequality with
    * both sides ×5n/0.2, no division): a double average would make the
    * in/out decision of boundary rows depend on accumulation order, a
    * worse failure class than a flipped rounding digit because each
    * flipped ROW shifts the published sum by a whole line item.
    */
  private val q17 = Q(
    "q17_small_quantity_revenue",
    (s, d) => {
      val brandParts = Tables.part(s, d).filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, d)
        .withColumn("qty_c", round(col("l_quantity") * 100).cast("long"))
      val avgQty = li.join(JoinGate.dim(brandParts), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey").as("ap_key"))
        .agg(sum(col("qty_c")).as("sum_qty_c"), count(lit(1)).as("n_part"))
      li.join(JoinGate.dim(avgQty), col("l_partkey") === col("ap_key"))
        .filter(col("qty_c") * 5 * col("n_part") < col("sum_qty_c"))
        .agg(Money.sumMoney2(col("l_extendedprice")).as("small_order_revenue"),
          count(lit(1)).as("n"))
    },
    Some("""WITH a AS (SELECT l_partkey AS ap_key,
           |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
           |    AS sum_qty_c,
           |  count(*) AS n_part
           | FROM lineitem JOIN part ON l_partkey = p_partkey
           | WHERE p_brand = 'Brand#23' GROUP BY 1)
           |SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
           |   AS DECIMAL(20,2)) AS STRING) AS small_order_revenue,
           | count(*) AS n
           |FROM lineitem JOIN a ON l_partkey = ap_key
           |WHERE CAST(round(l_quantity * 100) AS BIGINT) * 5 * n_part
           |  < sum_qty_c""".stripMargin),
    headline = true)

  /** TPC-H Q18 shape: large-volume orders — HAVING over a fact
    * aggregation, semi-joined back to the order/customer detail, top-N
    * by price via TakeOrderedAndProject.
    */
  private val q18 = Q(
    "q18_large_volume_customers",
    (s, d) => {
      val bigOrders = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(Money.dec2(col("l_quantity"))).cast("decimal(20,2)")
          .as("total_qty_dec"))
        // exact decimal HAVING: the 300-threshold can never flip with
        // accumulation order
        .filter(col("total_qty_dec") > lit(300).cast("decimal(20,2)"))
      Tables.orders(s, d)
        .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
        .join(JoinGate.dim(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("total_qty_dec").cast("string").as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },
    Some("""SELECT c_custkey, o_orderkey, o_totalprice,
           | CAST(total_qty_dec AS STRING) AS total_qty
           |FROM orders
           | JOIN (SELECT l_orderkey,
           |   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(20,2))
           |     AS total_qty_dec
           |   FROM lineitem GROUP BY 1
           |   HAVING CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))
           |     AS DECIMAL(20,2)) > 300) b
           |  ON o_orderkey = b.l_orderkey
           | JOIN customer ON o_custkey = c_custkey
           |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
    headline = true)

  /** TPC-H Q15 shape: the create-view + scalar-max selection. The
    * revenue view aggregates once; the max is a one-row frame broadcast
    * into an equality join (Catalyst plans the identical view subtree
    * twice, and AQE's exchange reuse collapses the duplicate shuffle —
    * at scale the view is one lineitem pass, the max a 1-row reduction).
    */
  private val q15 = Q(
    "q15_top_supplier",
    (s, d) => {
      // exact decimal revenue: the scalar-max EQUALITY join is only
      // deterministic because both sides are exact — with double sums
      // the winning supplier itself was accumulation-order-dependent
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") < lit("1995-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(Money.sumDec4(Money.disc4(col("l_extendedprice"), col("l_discount")))
          .as("rev_dec"))
      val maxRev = rev.agg(max(col("rev_dec")).as("max_rev"))
      Tables.supplier(s, d)
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(maxRev), col("rev_dec") === col("max_rev"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_dec").cast("string").as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    Some("""WITH rev AS (SELECT l_suppkey,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           |    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
           |   AS DECIMAL(24,4)) AS rev_dec
           | FROM lineitem
           | WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           |   AND l_shipdate < TIMESTAMP '1995-04-01'
           | GROUP BY 1)
           |SELECT s_suppkey, s_name, CAST(rev_dec AS STRING) AS total_revenue
           |FROM supplier JOIN rev ON s_suppkey = l_suppkey
           |WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
           |ORDER BY s_suppkey""".stripMargin))

  /** TPC-H Q21 shape (adapted: this lineitem has no commit/receipt
    * dates, so "kept waiting" becomes "sole returning supplier" on
    * l_returnflag): finalized multi-supplier orders where exactly one
    * supplier's items came back. The correlated EXISTS / NOT EXISTS pair
    * decorrelates into per-order aggregates computed in ONE extra
    * lineitem pass each and semi-joined back — the plan that scales,
    * vs. re-probing lineitem per row. The oracle keeps the textbook
    * correlated-subquery formulation so the two derivations cross-check.
    */
  private val q21 = Q(
    "q21_sole_return_supplier",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val returns = li.filter(col("l_returnflag") === "R")
      // two SEPARATE per-order aggregations, deliberately: fusing them
      // into one agg with two countDistinct()s on different expressions
      // plans an Expand (×2 row blowup over the FULL fact) — measured
      // slower than one full-width pass plus one pass over the small
      // filtered side
      val multiSupp = li.groupBy(col("l_orderkey").as("ok"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"))
        .filter(col("n_supp") > 1)
      val soleReturn = returns.groupBy(col("l_orderkey").as("rk"))
        .agg(countDistinct(col("l_suppkey")).as("n_ret_supp"))
        .filter(col("n_ret_supp") === 1)
      returns
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
        .join(multiSupp, col("l_orderkey") === col("ok"))
        .join(soleReturn, col("l_orderkey") === col("rk"))
        .join(JoinGate.dim(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
        .limit(10)
    },
    Some("""SELECT s_suppkey, s_name, count(*) AS numwait
           |FROM supplier
           | JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
           | JOIN orders ON o_orderkey = l1.l_orderkey
           |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
           |  AND EXISTS (SELECT 1 FROM lineitem l2
           |    WHERE l2.l_orderkey = l1.l_orderkey
           |      AND l2.l_suppkey <> l1.l_suppkey)
           |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
           |    WHERE l3.l_orderkey = l1.l_orderkey
           |      AND l3.l_suppkey <> l1.l_suppkey
           |      AND l3.l_returnflag = 'R')
           |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey LIMIT 10""".stripMargin),
    headline = true)

  /** TPC-H Q22 shape (adapted: no phone column, and every customer here
    * has SOME order, so the anti-join window is time-bounded): customers
    * with above-average positive balance and no 1995-H1 orders. Scalar
    * subquery broadcast as a 1-row frame; the NOT EXISTS is a left-anti
    * join against the date-filtered order keys.
    */
  private val q22 = Q(
    "q22_idle_rich_customers",
    (s, d) => {
      // the above-average filter runs in exact centi-units (bal·n >
      // Σbal — the same inequality with both sides ×n, no division):
      // a double average made boundary customers' in/out decision
      // accumulation-order-dependent (the q17 predicate class)
      val cust = Tables.customer(s, d)
        .withColumn("bal_c", round(col("c_acctbal") * 100).cast("long"))
      val avgBal = cust.filter(col("bal_c") > 0L)
        .agg(sum(col("bal_c")).as("sum_bal_c"), count(lit(1)).as("n_bal"))
      val h1Orders = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1995-07-01"))
        .select(col("o_custkey"))
      cust.join(broadcast(avgBal),
          col("bal_c") * col("n_bal") > col("sum_bal_c"))
        .join(h1Orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("numcust"),
          Money.sumMoney2(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("segment"))
    },
    Some("""WITH a AS (SELECT
           |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
           |    AS sum_bal_c,
           |  count(*) AS n_bal
           | FROM customer WHERE CAST(round(c_acctbal * 100) AS BIGINT) > 0)
           |SELECT c_mktsegment AS segment, count(*) AS numcust,
           | CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(20,2))
           |   AS STRING) AS totacctbal
           |FROM customer, a
           |WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n_bal > sum_bal_c
           |  AND NOT EXISTS (SELECT 1 FROM orders
           |    WHERE o_custkey = c_custkey
           |      AND o_orderdate >= TIMESTAMP '1995-01-01'
           |      AND o_orderdate < TIMESTAMP '1995-07-01')
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Partition-skew profiler — the diagnostic you run BEFORE choosing a
    * repartition/salt strategy at scale: simulate hash-partitioning
    * lineitem on l_suppkey into 32 buckets (md5-derived, so both engines
    * agree; Spark's own `hash()` is engine-private) and report the
    * bucket histogram extremes plus the hottest raw key. Two cheap
    * aggregations over one scan family — bucket counts are a map-side
    * partial agg to 32 groups, the hot key a TakeOrdered over the
    * per-key counts; the 1-row summaries then cross-join. This is the
    * primitive behind the salted-join decision (`join_salted_skew`): a
    * max/min bucket ratio near 1 means hash partitioning suffices, a
    * hot key >> avg means salt that key.
    */
  private val partitionSkew = Q(
    "dq_partition_skew",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_suppkey"))
      val bucket = pmod(conv(substring(md5(col("l_suppkey").cast("string")),
        1, 15), 16, 10).cast("long"), lit(32L))
      val bstats = li.groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_buckets"), sum(col("c")).as("total_rows"),
          min(col("c")).as("min_bucket_rows"),
          max(col("c")).as("max_bucket_rows"))
      val hot = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("kc"))
        .orderBy(col("kc").desc, col("l_suppkey"))
        .limit(1)
        .select(col("l_suppkey").as("hot_key"), col("kc").as("hot_key_rows"))
      bstats.crossJoin(hot)
    },
    Some("""WITH b AS (SELECT
           |  ('0x' || substring(md5(CAST(l_suppkey AS VARCHAR)), 1, 15))
           |    ::BIGINT % 32 AS bucket, count(*) AS c
           | FROM lineitem GROUP BY 1),
           |bs AS (SELECT count(*) AS n_buckets,
           |  CAST(sum(c) AS BIGINT) AS total_rows,
           |  min(c) AS min_bucket_rows, max(c) AS max_bucket_rows FROM b),
           |hot AS (SELECT l_suppkey AS hot_key, count(*) AS hot_key_rows
           | FROM lineitem GROUP BY 1
           | ORDER BY count(*) DESC, l_suppkey LIMIT 1)
           |SELECT * FROM bs CROSS JOIN hot""".stripMargin))

  /** Blocked fuzzy entity matching — the record-linkage shape: never
    * all-pairs; a cheap blocking key (here the 16-char name prefix, ≤100
    * candidates per block on this name population) bounds the quadratic
    * edit-distance work to Σ|block|², and the block key is ALSO the
    * shuffle key, so blocks compare in parallel with no skew (blocks are
    * uniformly sized by construction of the prefix). levenshtein ≤ 1
    * catches single-character typos; both engines implement the same
    * classic DP distance. At 100 TB you'd run several complementary
    * blocking passes (prefix, phonetic, length) and union candidates —
    * each pass is this exact plan.
    */
  private val erBlockedMatch = Q(
    "er_blocked_fuzzy_match",
    (s, d) => {
      val names = Tables.customer(s, d)
        .select(substring(col("c_name"), 1, 16).as("blk"), col("c_name"))
      val counts = names.groupBy(col("blk")).agg(count(lit(1)).as("n_names"))
      val pairs = names.as("l")
        .join(names.withColumnRenamed("c_name", "r_name").as("r"), "blk")
        .filter(col("c_name") < col("r_name"))
        .withColumn("lev", levenshtein(col("c_name"), col("r_name")))
        .groupBy(col("blk"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("lev") <= 1, 1L).otherwise(0L)).as("n_match_d1"))
      counts.join(pairs, Seq("blk"), "left_outer")
        .select(col("blk"), col("n_names"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_match_d1"), lit(0L)).as("n_match_d1"))
        .orderBy(col("blk"))
    },
    Some("""WITH n AS (SELECT substring(c_name, 1, 16) AS blk, c_name
           |  FROM customer),
           |c AS (SELECT blk, count(*) AS n_names FROM n GROUP BY 1),
           |p AS (SELECT l.blk, count(*) AS n_pairs,
           |  CAST(sum(CASE WHEN levenshtein(l.c_name, r.c_name) <= 1
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_match_d1
           | FROM n l JOIN n r ON l.blk = r.blk AND l.c_name < r.c_name
           | GROUP BY 1)
           |SELECT c.blk, n_names, coalesce(n_pairs, 0) AS n_pairs,
           | coalesce(n_match_d1, 0) AS n_match_d1
           |FROM c LEFT JOIN p ON c.blk = p.blk
           |ORDER BY 1""".stripMargin))

  /** Multi-PASS blocked entity resolution — [[erBlockedMatch]]'s scale
    * path made real: two complementary blocking keys (name prefix-16;
    * last-8 suffix) each generate candidates by their own equi-join,
    * the pair sets union with per-pass provenance flags, and one exact
    * levenshtein verify runs over the deduplicated union. The output
    * row reports per-pass candidate counts, the union, matches, and
    * the RECALL GAIN (matches only the second pass found) — the number
    * that justifies a pass's cost. Each pass is an independent
    * block-keyed shuffle (no cross-pass coordination); the verify is
    * bounded by the union of block collisions, never all-pairs.
    */
  private val erMultipass = Q(
    "er_multipass_blocking",
    (s, d) => {
      val names = Tables.customer(s, d).select(col("c_name"),
        substring(col("c_name"), 1, 16).as("b1"),
        expr("substring(c_name, greatest(length(c_name) - 7, 1), 8)").as("b2"))
      def pairs(b: String) = names.as("l")
        .join(names.select(col("c_name").as("r_name"), col(b)).as("r"), b)
        .filter(col("c_name") < col("r_name"))
        .select(col("c_name").as("l_name"), col("r_name"))
      val cand = pairs("b1").withColumn("src", lit(1))
        .unionByName(pairs("b2").withColumn("src", lit(2)))
        .groupBy(col("l_name"), col("r_name"))
        .agg(max(when(col("src") === 1, 1).otherwise(0)).as("in1"),
          max(when(col("src") === 2, 1).otherwise(0)).as("in2"))
        .withColumn("lev", levenshtein(col("l_name"), col("r_name")))
      cand.agg(
        sum(col("in1")).cast("long").as("n_cand_p1"),
        sum(col("in2")).cast("long").as("n_cand_p2"),
        count(lit(1)).as("n_cand_union"),
        count(when(col("lev") <= 1, lit(1))).as("n_matched"),
        count(when(col("lev") <= 1 && col("in1") === 0, lit(1)))
          .as("n_match_only_p2"))
    },
    Some("""WITH n AS (SELECT c_name, substring(c_name, 1, 16) AS b1,
           |   substring(c_name, greatest(length(c_name) - 7, 1), 8) AS b2
           |  FROM customer),
           |p1 AS (SELECT l.c_name AS l_name, r.c_name AS r_name
           |  FROM n l JOIN n r ON l.b1 = r.b1 AND l.c_name < r.c_name),
           |p2 AS (SELECT l.c_name AS l_name, r.c_name AS r_name
           |  FROM n l JOIN n r ON l.b2 = r.b2 AND l.c_name < r.c_name),
           |u AS (SELECT l_name, r_name,
           |   max(src = 1)::INT AS in1, max(src = 2)::INT AS in2
           |  FROM (SELECT *, 1 AS src FROM p1
           |        UNION ALL SELECT *, 2 AS src FROM p2)
           |  GROUP BY 1, 2),
           |v AS (SELECT in1, in2, levenshtein(l_name, r_name) AS lev FROM u)
           |SELECT CAST(sum(in1) AS BIGINT) AS n_cand_p1,
           | CAST(sum(in2) AS BIGINT) AS n_cand_p2,
           | count(*) AS n_cand_union,
           | CAST(count(CASE WHEN lev <= 1 THEN 1 END) AS BIGINT) AS n_matched,
           | CAST(count(CASE WHEN lev <= 1 AND in1 = 0 THEN 1 END) AS BIGINT)
           |   AS n_match_only_p2
           |FROM v""".stripMargin),
    headline = true)

  /** TPC-H Q9 shape: product-line profit by supplier nation and order
    * year — the widest join tree in the suite (two facts + three
    * broadcast dims). The testdata carries no partsupp table, so unit
    * cost is the deterministic 60%-of-retail proxy; the SHAPE under
    * test is the fact-fact shuffle join feeding three broadcast hash
    * joins and a two-key rollup, identical to real Q9. Profit routes
    * through exact DECIMAL money arithmetic end-to-end (the
    * `q1_pricing_decimal` convention) and publishes as the canonical
    * digit string: the original round(sum(double), 2) diverged by one
    * cent on 8 of 175 groups at the r11 decade-scale sweep — at 10×
    * data the ~1e8 double sums land close enough to .xx5 boundaries
    * that accumulation ORDER flips the 2dp rounding, exactly the
    * "never SUM doubles into a compared column" failure class.
    */
  private val q9 = Q(
    "q9_profit_by_nation_year",
    (s, d) => {
      val dec = "decimal(12,2)"
      val profit = col("l_extendedprice").cast(dec) *
        (lit(1).cast(dec) - col("l_discount").cast(dec)) -
        lit(0.6).cast("decimal(2,1)") * col("p_retailprice").cast(dec) *
          col("l_quantity").cast(dec)
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(JoinGate.dim(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .join(JoinGate.dim(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(profit).cast("decimal(25,5)").cast("string").as("profit_q"),
          count(lit(1)).as("n"))
        .orderBy(col("nation"), col("o_year"))
    },
    Some("""SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           |     * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
           |   - CAST(0.6 AS DECIMAL(2,1)) * CAST(p_retailprice AS DECIMAL(12,2))
           |     * CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(25,5))
           |   AS VARCHAR) AS profit_q,
           | count(*) AS n
           |FROM lineitem
           | JOIN orders ON l_orderkey = o_orderkey
           | JOIN part ON l_partkey = p_partkey
           | JOIN supplier ON l_suppkey = s_suppkey
           | JOIN nation ON s_nationkey = n_nationkey
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    headline = true)

  /** FULL TPC-H Q13: the customer order-count distribution WITH the
    * non-key predicate inside the LEFT join's ON clause — the part of
    * Q13 that `join_left_outer_custdist` (the plain outer-join twin in
    * [[Relational]]) doesn't exercise. The placement is semantic, not
    * style: `ON c=o AND priority<>X` keeps a customer whose every order
    * is priority X and counts them at 0, while the same predicate as a
    * WHERE would drop the row entirely — Catalyst must NOT push it
    * below the outer join, and the oracle proves it doesn't. Shape at
    * scale: one shuffle join on custkey, then two partial-aggregating
    * group-bys collapsing |customers| → |distinct counts|.
    */
  private val q13 = Q(
    "q13_customer_order_dist",
    (s, d) => {
      val perCust = Tables.customer(s, d)
        .join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey") &&
            col("o_orderpriority") =!= "4-NOT SPECIFIED",
          "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""SELECT c_count, count(*) AS custdist FROM (
           | SELECT c_custkey, count(o_orderkey) AS c_count
           | FROM customer LEFT OUTER JOIN orders
           |   ON c_custkey = o_custkey
           |  AND o_orderpriority <> '4-NOT SPECIFIED'
           | GROUP BY c_custkey)
           |GROUP BY c_count
           |ORDER BY custdist DESC, c_count DESC""".stripMargin))

  /** TPC-H Q16 shape: supplier diversity per part attribute. The
    * testdata has no partsupp table, so the supply relation is the
    * OBSERVED one — distinct (l_partkey, l_suppkey) trade pairs — and
    * Q16's "complaints" supplier exclusion becomes the negative-balance
    * set, applied as a broadcast anti-join (the excluded set is a
    * fraction of an already-dim-sized table). There is deliberately NO
    * pre-`distinct()` on the trade pairs: `countDistinct` already
    * dedups map-side in its partial aggregate, so a distinct would add
    * a third full-lineitem shuffle for nothing — the whole query runs
    * in two exchanges (distinct-count partial on attr+suppkey, final on
    * attr), both carrying already-collapsed rows.
    */
  private val q16 = Q(
    "q16_supplier_part_diversity",
    (s, d) => {
      val pairs = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"))
      val excluded = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      pairs
        .join(JoinGate.dim(excluded), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(JoinGate.dim(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
    Some("""WITH sp AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
           |ex AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
           |SELECT p_brand, p_type, p_size,
           | count(DISTINCT l_suppkey) AS supplier_cnt
           |FROM sp JOIN part ON p_partkey = l_partkey
           |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM ex)
           |GROUP BY 1, 2, 3
           |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin))

  /** ER SURVIVORSHIP — the step after matching that ships a usable
    * dimension: matched pairs (the `er_blocked_fuzzy_match` rule,
    * carried on keys) → transitive clusters via
    * [[graft.ops.ConnectedComponents]] → one GOLDEN record per entity
    * under explicit survivorship rules (minimum key as the surviving
    * id, maximum balance as the surviving attribute — the
    * most-complete-value rule in integer cents). Unmatched rows are
    * their own entity (left join, coalesce to own key). Output is the
    * bounded cluster-size profile with golden id/attribute sums
    * pinning every surviving record. Oracle: recursive-CTE closure +
    * the same argmax, rebuilt from raw rows.
    */
  private val erSurvivorship = Q(
    "er_survivorship_golden",
    (s, d) => {
      val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast("long").as("bal"))
      val names = cust.select(substring(col("c_name"), 1, 16).as("blk"),
        col("c_custkey"), col("c_name"))
      val mpairs = names.as("l")
        .join(names.select(col("blk"), col("c_custkey").as("r_key"),
          col("c_name").as("r_name")).as("r"), "blk")
        .filter(col("c_custkey") < col("r_key") &&
          levenshtein(col("c_name"), col("r_name")) <= 1)
        .select(col("c_custkey").as("u"), col("r_key").as("v"))
      val comp = graft.ops.ConnectedComponents.components(mpairs, "u", "v")
      val labeled = cust
        .join(comp.select(col("node").as("c_custkey"), col("comp")),
          Seq("c_custkey"), "left")
        .withColumn("cluster", coalesce(col("comp"), col("c_custkey")))
      labeled.groupBy(col("cluster"))
        .agg(count(lit(1)).as("cluster_size"),
          min(col("c_custkey")).as("gid"), max(col("bal")).as("gbal"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("gid")).as("sum_golden_ids"),
          sum(col("gbal")).as("sum_golden_bal_centi"))
        .orderBy(col("cluster_size"))
    },
    Some("""WITH RECURSIVE cu AS (SELECT c_custkey, c_name,
           |  CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
           |n AS (SELECT substring(c_name, 1, 16) AS blk, c_custkey, c_name
           | FROM cu),
           |p AS (SELECT l.c_custkey AS u, r.c_custkey AS v
           | FROM n l JOIN n r ON l.blk = r.blk
           |  AND l.c_custkey < r.c_custkey
           |  AND levenshtein(l.c_name, r.c_name) <= 1),
           |sym AS (SELECT u, v FROM p UNION SELECT v AS u, u AS v FROM p),
           |reach(node, lbl) AS (
           | SELECT u, u FROM (SELECT DISTINCT u FROM sym) t
           | UNION
           | SELECT s.u, r.lbl FROM sym s JOIN reach r ON s.v = r.node),
           |comp AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY 1),
           |lab AS (SELECT cu.c_custkey, cu.bal,
           |  coalesce(comp.cluster, cu.c_custkey) AS cluster
           | FROM cu LEFT JOIN comp ON comp.node = cu.c_custkey),
           |g AS (SELECT cluster, count(*) AS cluster_size,
           |  min(c_custkey) AS gid, max(bal) AS gbal FROM lab GROUP BY 1)
           |SELECT cluster_size, count(*) AS n_clusters,
           | CAST(sum(gid) AS BIGINT) AS sum_golden_ids,
           | CAST(sum(gbal) AS BIGINT) AS sum_golden_bal_centi
           |FROM g GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Share-of-total window (`ratio_to_report`): each brand's revenue
    * share within its part type, in integer basis points over exact
    * cent sums — the percent-of-parent rollup every BI layer renders.
    * Two-level aggregate (brand level, then a type-partitioned window
    * over the BOUNDED brand frame) — the raw fact table never enters
    * a window; integer division on positive cents keeps `div` == `//`.
    */
  private val shareOfTotal = Q(
    "window_share_of_total",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val brand = Tables.lineitem(s, d)
        .join(Tables.part(s, d),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"), col("p_brand"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("rev_centi"))
      brand
        .withColumn("type_centi",
          sum(col("rev_centi")).over(Window.partitionBy(col("p_type"))))
        .select(col("p_type"), col("p_brand"), col("rev_centi"),
          expr("(rev_centi * 10000) div type_centi").as("share_bp"))
        .orderBy(col("p_type"), col("p_brand"))
    },
    Some("""WITH b AS (SELECT p_type, p_brand,
           |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
           |    AS BIGINT) AS rev_centi
           | FROM lineitem JOIN part ON l_partkey = p_partkey
           | GROUP BY 1, 2),
           |t AS (SELECT b.*, CAST(sum(rev_centi) OVER (PARTITION BY p_type)
           |   AS BIGINT) AS type_centi FROM b)
           |SELECT p_type, p_brand, rev_centi,
           | (rev_centi * 10000) // type_centi AS share_bp
           |FROM t ORDER BY 1, 2""".stripMargin))

  /** Sorted-neighborhood entity resolution (Hernández & Stolfo,
    * SIGMOD'95) — the third classic blocking strategy next to the
    * equi-key passes (`er_blocked_fuzzy_match`, `er_multipass_blocking`):
    * sort the population on a fuzzy key (here exact account balance in
    * integer cents — the duplicate-account screen: true duplicates
    * carry equal or near-equal balances and land adjacent in the sorted
    * order), slide a window of w = 4 over it, and verify only in-window
    * pairs —
    * candidates are exactly 3n−6 at ANY population size, the tightest
    * candidate bound of the three strategies. Distributed without a
    * global sort: [[graft.ops.GlobalOrder.indexBy]] assigns the exact
    * 0-based rank (range-bucketed two-phase index — parallel windows,
    * centroid-sized driver state), blocks of s = w−1 = 3 consecutive
    * ranks become the shuffle key, and each right-side row also probes
    * the PRECEDING block so straddling pairs join exactly once
    * (b_j ∈ {b_i, b_i+1} when j−i ≤ s — the two-key emit makes every
    * qualifying pair meet in exactly one block). The published sum of
    * pair indices pins the exact candidate set, not just its size.
    */
  private val erSortedNeighborhood = Q(
    "er_sorted_neighborhood",
    (s, d) => {
      val base = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") * 100).cast("long").as("bal_centi"))
      // staged: the indexed frame feeds both join sides (and indexBy
      // itself runs two actions on `base`) — one materialization
      import graft.ops.Checkpoints.StageCheckpoint
      val idx = graft.ops.GlobalOrder
        .indexBy(base, "bal_centi", "c_custkey", out = "idx")
        .stageCheckpoint()
      val left = idx.select(col("idx").as("l_idx"),
          col("c_name").as("l_name"))
        .withColumn("blk", expr("l_idx div 3"))
      val right = idx.select(col("idx").as("r_idx"),
          col("c_name").as("r_name"))
        .withColumn("blk",
          explode(array(expr("r_idx div 3"), expr("r_idx div 3 - 1"))))
      left.join(right, "blk")
        .filter(col("r_idx") > col("l_idx") &&
          col("r_idx") - col("l_idx") <= 3)
        .withColumn("lev", levenshtein(col("l_name"), col("r_name")))
        .agg(count(lit(1)).as("n_cand"),
          sum(col("l_idx") + col("r_idx")).as("sum_idx"),
          count(when(col("lev") <= 1, lit(1))).as("n_match_d1"),
          count(when(col("lev") <= 2, lit(1))).as("n_match_d2"))
    },
    Some("""WITH b AS (SELECT c_custkey, c_name,
           |  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_centi
           | FROM customer),
           |r AS (SELECT c_name,
           |  CAST(row_number() OVER (ORDER BY bal_centi, c_custkey) - 1
           |    AS BIGINT) AS idx
           | FROM b),
           |p AS (SELECT l.idx AS l_idx, r2.idx AS r_idx,
           |  levenshtein(l.c_name, r2.c_name) AS lev
           | FROM r l JOIN r r2
           |  ON r2.idx > l.idx AND r2.idx - l.idx <= 3)
           |SELECT count(*) AS n_cand,
           | CAST(sum(l_idx + r_idx) AS BIGINT) AS sum_idx,
           | CAST(count(CASE WHEN lev <= 1 THEN 1 END) AS BIGINT)
           |   AS n_match_d1,
           | CAST(count(CASE WHEN lev <= 2 THEN 1 END) AS BIGINT)
           |   AS n_match_d2
           |FROM p""".stripMargin))

  val qs: Seq[Q] = Seq(q4, q8, q9, q12, q13, q14, q15, q16, q17, q18, q19, q21, q22,
    quantiles, decimalPricing, dqChecks, tableChecksum, iqrOutliers,
    rangeWindow, pagerank, saltedTopk, saltedJoin, rangeJoin, groupingSets,
    unpivotQ, ntileDeciles, partitionSkew, erBlockedMatch, erMultipass,
    erSortedNeighborhood, bloomPrunedJoin, erSurvivorship, shareOfTotal)
}
