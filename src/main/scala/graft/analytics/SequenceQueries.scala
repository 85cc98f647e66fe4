package graft.analytics

import graft.{Q, QueryPack, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence and change-data-capture operators over `events` —
  * the behavioral-analytics layer beside [[Temporal]]'s windows/as-of:
  * Markov transition mining, interval sweep concurrency, and snapshot
  * diffing. All window passes partition on `user_id` (unbounded key
  * space — scales with the cluster); the only global structures are
  * the bounded outputs (event-type pairs, days, one diff row).
  */
object SequenceQueries extends QueryPack {

  /** First-order Markov transition counts over each user's event
    * stream: lead() within (user_id, ts, event_id) order, then a count
    * per (from, to) pair — the |types|² transition matrix every
    * session-modeling pipeline starts from. One user-partitioned window
    * pass and one tiny aggregation; at 100 TB the shuffle key is
    * user_id and the result stays |types|²-bounded.
    */
  private val transitions = Q(
    "seq_event_transitions",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("from_type"), col("to_type"))
    },
    Some("""SELECT event_type AS from_type, to_type, count(*) AS n,
           | count(DISTINCT user_id) AS n_users
           |FROM (SELECT user_id, event_type,
           |   lead(event_type) OVER (PARTITION BY user_id
           |     ORDER BY ts, event_id) AS to_type
           |  FROM events)
           |WHERE to_type IS NOT NULL
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Peak concurrency per day, treating each event as a 15-minute
    * session anchored at its minute bucket. The classic sweep-line
    * (sort all boundaries, running ±1 sum) needs a single global
    * time-ordered pass — a scale-killer — so this uses the bounded
    * fan-out shape instead: explode each session into its 15 covered
    * minute buckets (constant ×15), aggregate concurrency per minute,
    * then reduce per day. Both aggregations partial-aggregate map-side;
    * nothing is ordered globally.
    */
  private val concurrency = Q(
    "ts_peak_concurrency",
    (s, d) => Tables.events(s, d)
      .select(date_trunc("minute", col("ts")).as("m0"))
      .select(explode(expr(
        "sequence(m0, m0 + INTERVAL 14 minutes, INTERVAL 1 minute)")).as("minute"))
      .groupBy(col("minute")).agg(count(lit(1)).as("conc"))
      .groupBy(to_date(col("minute")).as("day"))
      .agg(max(col("conc")).as("peak_conc"),
        count(lit(1)).as("minutes_active"),
        sum(col("conc")).as("sum_conc"))
      .orderBy(col("day")),
    Some("""WITH mins AS (SELECT unnest(generate_series(m0,
           |    m0 + INTERVAL 14 minutes, INTERVAL 1 minute)) AS minute
           |  FROM (SELECT date_trunc('minute', ts) AS m0 FROM events)),
           |conc AS (SELECT minute, count(*) AS conc FROM mins GROUP BY 1)
           |SELECT CAST(minute AS DATE) AS day, max(conc) AS peak_conc,
           | count(*) AS minutes_active, CAST(sum(conc) AS BIGINT) AS sum_conc
           |FROM conc GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Per-user interval-UNION coverage (merge overlapping sessions, total
    * covered time) — the other half of the interval algebra next to
    * [[concurrency]]'s sweep: how LONG was each user active, counting
    * overlapping sessions once. Classic gaps-and-islands: per-user
    * running max of interval ends marks island starts, a running sum of
    * those marks numbers the islands, and each island contributes
    * max(end)−min(start). All three window passes partition on user_id
    * (the scale axis) and share one shuffle+sort; arithmetic is integer
    * epoch-minutes end-to-end so the compare is exact.
    */
  private val intervalCoverage = Q(
    "ts_interval_coverage",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(date_trunc('minute', ts)) div 60000000").as("st"))
        .withColumn("en", col("st") + 15)
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("st"), col("event_id"))
      val prevMax = max(col("en")).over(
        ord.rowsBetween(Window.unboundedPreceding, -1))
      ev.withColumn("new_island",
          when(prevMax.isNull || col("st") > prevMax, 1L).otherwise(0L))
        .withColumn("island", sum(col("new_island")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("n_ev"),
          (max(col("en")) - min(col("st"))).as("span"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("span")).as("covered_min"),
          sum(col("n_ev")).as("n_events"))
        .orderBy(col("user_id"))
    },
    Some("""WITH iv AS (SELECT user_id, event_id,
           |   date_diff('minute', TIMESTAMP '1970-01-01',
           |     date_trunc('minute', ts)) AS st,
           |   date_diff('minute', TIMESTAMP '1970-01-01',
           |     date_trunc('minute', ts)) + 15 AS en
           |  FROM events),
           |m AS (SELECT user_id, event_id, st, en,
           |   max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
           |  FROM iv),
           |f AS (SELECT user_id, event_id, st, en,
           |   CASE WHEN prev_max IS NULL OR st > prev_max THEN 1 ELSE 0 END
           |     AS new_island
           |  FROM m),
           |isl AS (SELECT user_id, st, en,
           |   sum(new_island) OVER (PARTITION BY user_id ORDER BY st, event_id
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           |  FROM f),
           |per AS (SELECT user_id, island, count(*) AS n_ev,
           |   max(en) - min(st) AS span
           |  FROM isl GROUP BY 1, 2)
           |SELECT user_id, count(*) AS n_islands,
           | CAST(sum(span) AS BIGINT) AS covered_min,
           | CAST(sum(n_ev) AS BIGINT) AS n_events
           |FROM per GROUP BY 1 ORDER BY 1""".stripMargin),
    headline = true)

  /** Sequential PATH mining: the top-10 most common session-opening
    * event-type paths (first ≤3 events of each 30-minute-gap session) —
    * the "how do sessions start" question [[transitions]]' first-order
    * matrix can't answer (paths are order-sensitive beyond one hop).
    * Sessionization shares the `stream_session_windows` break rule
    * (new session iff ts ≥ prev + gap); path assembly sorts the ≤3-row
    * collected structs per session, so it is deterministic without any
    * session-wide ordering guarantee from the aggregation itself. All
    * windows partition on user_id; paths are |types|³-bounded before
    * the final TakeOrderedAndProject.
    */
  private val sessionPaths = Q(
    "seq_session_paths",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val brk = when(lag(col("ts"), 1).over(w).isNull ||
        col("ts") >= lag(col("ts"), 1).over(w) + expr("INTERVAL 30 minutes"),
        1L).otherwise(0L)
      val sess = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("brk", brk)
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val ranked = sess.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("sid"))
          .orderBy(col("ts"), col("event_id"))))
        .filter(col("rn") <= 3)
      ranked.groupBy(col("user_id"), col("sid"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(10)
    },
    Some("""WITH g AS (SELECT user_id, ts, event_id, event_type,
           |  CASE WHEN lag(ts) OVER (PARTITION BY user_id
           |         ORDER BY ts, event_id) IS NULL
           |       OR ts >= lag(ts) OVER (PARTITION BY user_id
           |         ORDER BY ts, event_id) + INTERVAL 30 MINUTE
           |       THEN 1 ELSE 0 END AS brk
           | FROM events),
           |s AS (SELECT user_id, ts, event_id, event_type,
           |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |    ROWS UNBOUNDED PRECEDING) AS sid
           | FROM g),
           |r AS (SELECT user_id, sid, event_type,
           |  row_number() OVER (PARTITION BY user_id, sid
           |    ORDER BY ts, event_id) AS rn
           | FROM s),
           |p AS (SELECT user_id, sid,
           |  string_agg(event_type, '>' ORDER BY rn) AS path
           | FROM r WHERE rn <= 3 GROUP BY 1, 2)
           |SELECT path, count(*) AS n_sessions,
           | count(DISTINCT user_id) AS n_users
           |FROM p GROUP BY 1
           |ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin))

  /** Cumulative unique users per day — the growth-curve metric whose
    * naive form (COUNT(DISTINCT user) OVER an expanding frame) cannot
    * partial-aggregate and re-counts the whole prefix per day. The
    * scale rewrite: a running DISTINCT equals the running sum of
    * FIRST-APPEARANCES, so one user-keyed min(day) aggregation reduces
    * the input to |users| rows, one day aggregation to |days| rows, and
    * the prefix sum runs on the bounded day frame as a broadcast
    * self-join (the [[StatsQueries]] pareto convention: k² on a
    * dim-sized k instead of a single-partition window warning).
    */
  private val cumulativeUsers = Q(
    "ts_cumulative_users",
    (s, d) => {
      val firstDay = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("day"))
      val perDay = firstDay.groupBy(col("day"))
        .agg(count(lit(1)).as("n_new"))
      perDay.as("a")
        .join(broadcast(perDay.as("b")), col("b.day") <= col("a.day"))
        .groupBy(col("a.day").as("day"), col("a.n_new").as("n_new"))
        .agg(sum(col("b.n_new")).as("cum_users"))
        .orderBy(col("day"))
    },
    Some("""WITH fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
           |  FROM events GROUP BY 1),
           |pd AS (SELECT day, count(*) AS n_new FROM fd GROUP BY 1)
           |SELECT a.day, a.n_new,
           | CAST(sum(b.n_new) AS BIGINT) AS cum_users
           |FROM pd a JOIN pd b ON b.day <= a.day
           |GROUP BY 1, 2 ORDER BY 1""".stripMargin))

  /** CDC snapshot diff: per-user activity snapshots for two halves of
    * the event stream (count + exact centi-unit value sum — integral,
    * so the compare needs no FP rounding convention), full-outer-joined
    * on user_id and classified added / removed / changed / unchanged.
    * The join is keyed (both sides shuffle on user_id once) and the
    * output is one row of class counts — the shape a warehouse diff job
    * keeps at any scale.
    */
  private val cdcDiff = Q(
    "cdc_snapshot_diff",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
      def snap(p: org.apache.spark.sql.Column) = ev.filter(p)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      val mid = lit("2024-02-01").cast("timestamp")
      val a = snap(col("ts") < mid)
      val b = snap(col("ts") >= mid)
      a.as("a").join(b.as("b"), col("a.user_id") === col("b.user_id"), "full_outer")
        .select(
          when(col("a.user_id").isNull, "added")
            .when(col("b.user_id").isNull, "removed")
            .when(col("a.n") === col("b.n") && col("a.cents") === col("b.cents"),
              "unchanged")
            .otherwise("changed").as("cls"))
        .groupBy()
        .agg(sum(when(col("cls") === "added", 1L).otherwise(0L)).as("n_added"),
          sum(when(col("cls") === "removed", 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("cls") === "changed", 1L).otherwise(0L)).as("n_changed"),
          sum(when(col("cls") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
    },
    Some("""WITH e AS (SELECT user_id, ts,
           |   CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
           |a AS (SELECT user_id, count(*) AS n, sum(cents) AS cents
           |  FROM e WHERE ts < TIMESTAMP '2024-02-01' GROUP BY 1),
           |b AS (SELECT user_id, count(*) AS n, sum(cents) AS cents
           |  FROM e WHERE ts >= TIMESTAMP '2024-02-01' GROUP BY 1),
           |j AS (SELECT CASE WHEN a.user_id IS NULL THEN 'added'
           |   WHEN b.user_id IS NULL THEN 'removed'
           |   WHEN a.n = b.n AND a.cents = b.cents THEN 'unchanged'
           |   ELSE 'changed' END AS cls
           | FROM a FULL OUTER JOIN b ON a.user_id = b.user_id)
           |SELECT CAST(sum(CASE WHEN cls = 'added' THEN 1 ELSE 0 END) AS BIGINT)
           |   AS n_added,
           | CAST(sum(CASE WHEN cls = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
           |   AS n_removed,
           | CAST(sum(CASE WHEN cls = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
           |   AS n_changed,
           | CAST(sum(CASE WHEN cls = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
           |   AS n_unchanged
           |FROM j""".stripMargin))

  /** Grouped top-K through the bounded-heap typed Aggregator
    * ([[graft.ops.TopKByGroup]]) instead of a rank window: partial
    * buffers hold at most K rows per group ON THE MAP SIDE, so the
    * shuffle moves |groups|·K structs — not the whole table into
    * per-group sort partitions. The window formulation ships every row
    * of a group through one task; at 100 TB with a hot group that task
    * is the job. Oracle is the rank window in DuckDB — an equivalence
    * proof between the two formulations.
    */
  private val topkHeap = Q(
    "topk_per_group_heap",
    (s, d) => graft.ops.TopKByGroup.topOrdersByPriority(
      Tables.orders(s, d), k = 3),
    Some("""SELECT o_orderpriority, rnk, o_orderkey, o_totalprice
           |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
           |   CAST(row_number() OVER (PARTITION BY o_orderpriority
           |     ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
           |  FROM orders)
           |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin))

  /** Clamped running balance per user — the NONLINEAR recurrence
    * (`bal' = max(0, bal + delta)`) that no window frame can express,
    * implemented in [[graft.ops.StatefulScan]] as a per-user fold on
    * Spark's sorted-group API (`flatMapSortedGroups`: one user shuffle,
    * then each user's events in (ts, event_id) order). The oracle
    * replays the exact trajectory as a DuckDB recursive CTE stepping
    * per-user row numbers — a full independent reimplementation, in
    * integer centi-units on both sides so the compare is bit-exact.
    */
  private val cappedBalance = Q(
    "seq_capped_running_balance",
    (s, d) => graft.ops.StatefulScan.cappedBalanceQuery(s, d),
    Some("""WITH RECURSIVE e0 AS (SELECT user_id,
           |   CAST(round(value * 100) AS BIGINT)
           |     * (CASE WHEN event_type = 'purchase' THEN -1 ELSE 1 END)
           |     AS delta,
           |   row_number() OVER (PARTITION BY user_id
           |     ORDER BY ts, event_id) AS rn
           |  FROM events WHERE value IS NOT NULL),
           |cnt AS (SELECT user_id, count(*) AS n FROM e0 GROUP BY 1),
           |walk AS (
           | SELECT user_id, rn, greatest(0, delta) AS bal,
           |   greatest(0, delta) AS peak,
           |   CASE WHEN delta < 0 THEN 1 ELSE 0 END AS hits
           | FROM e0 WHERE rn = 1
           | UNION ALL
           | SELECT e.user_id, e.rn, greatest(0, w.bal + e.delta),
           |   greatest(w.peak, greatest(0, w.bal + e.delta)),
           |   w.hits + CASE WHEN w.bal + e.delta < 0 THEN 1 ELSE 0 END
           | FROM walk w JOIN e0 e
           |   ON e.user_id = w.user_id AND e.rn = w.rn + 1)
           |SELECT w.user_id, w.bal AS final_balance_c,
           | w.peak AS peak_balance_c, CAST(w.hits AS BIGINT) AS floor_hits
           |FROM walk w JOIN cnt c
           |  ON w.user_id = c.user_id AND w.rn = c.n
           |ORDER BY w.user_id""".stripMargin),
    headline = true)

  /** Integer EWMA smoothing + online anomaly deviation per user
    * ([[graft.ops.StatefulScan.ewmaSmooth]]) — the second member of the
    * nonlinear-recurrence family beside the clamped balance: truncating
    * integer α=1/4 smoothing, max |x − forecast| as the anomaly signal,
    * run as the same per-user sorted-group fold. The oracle replays the
    * exact trajectory as a DuckDB recursive CTE in the same integer
    * centi-units; `trunc((x−e)/4.0)` over exact FP quarters equals
    * Scala's truncating Long division step for step.
    */
  private val ewma = Q(
    "seq_ewma_anomaly",
    (s, d) => graft.ops.StatefulScan.ewmaQuery(s, d),
    Some("""WITH RECURSIVE e0 AS (SELECT user_id,
           |   CAST(round(value * 100) AS BIGINT) AS x,
           |   row_number() OVER (PARTITION BY user_id
           |     ORDER BY ts, event_id) AS rn
           |  FROM events WHERE value IS NOT NULL),
           |cnt AS (SELECT user_id, count(*) AS n FROM e0 GROUP BY 1),
           |walk AS (
           | SELECT user_id, rn, x AS e, CAST(0 AS BIGINT) AS maxdev
           | FROM e0 WHERE rn = 1
           | UNION ALL
           | SELECT w.user_id, e.rn,
           |   w.e + CAST(trunc((e.x - w.e) / 4.0) AS BIGINT),
           |   greatest(w.maxdev, abs(e.x - w.e))
           | FROM walk w JOIN e0 e
           |   ON e.user_id = w.user_id AND e.rn = w.rn + 1)
           |SELECT w.user_id, w.e AS ewma_c, w.maxdev AS max_dev_c,
           | CAST(c.n AS BIGINT) AS n_events
           |FROM walk w JOIN cnt c
           |  ON w.user_id = c.user_id AND w.rn = c.n
           |ORDER BY w.user_id""".stripMargin))

  /** Holt linear (double-exponential) smoothing per user
    * ([[graft.ops.StatefulScan.holtSmooth]]) — the third nonlinear
    * recurrence, and the first with TWO coupled state registers (level +
    * trend): no window frame, and no single prefix-scan, can carry both.
    * Truncating integer α=1/2 / β=1/4 updates, run as the same per-user
    * sorted-group fold; the oracle replays the exact two-register
    * trajectory as a recursive CTE, mirroring each truncating Long
    * division with `trunc(x / k.0)` — including the two-step trend
    * truncation, which is replayed literally rather than algebraically
    * collapsed.
    */
  private val holt = Q(
    "seq_holt_linear",
    (s, d) => graft.ops.StatefulScan.holtQuery(s, d),
    Some("""WITH RECURSIVE e0 AS (SELECT user_id,
           |   CAST(round(value * 100) AS BIGINT) AS x,
           |   row_number() OVER (PARTITION BY user_id
           |     ORDER BY ts, event_id) AS rn
           |  FROM events WHERE value IS NOT NULL),
           |cnt AS (SELECT user_id, count(*) AS n FROM e0 GROUP BY 1),
           |walk AS (
           | SELECT user_id, rn, x AS l, CAST(0 AS BIGINT) AS b,
           |   CAST(0 AS BIGINT) AS maxerr
           | FROM e0 WHERE rn = 1
           | UNION ALL
           | SELECT w.user_id, e.rn,
           |   w.l + w.b + CAST(trunc((e.x - w.l - w.b) / 2.0) AS BIGINT),
           |   w.b + CAST(trunc(CAST(trunc((e.x - w.l - w.b) / 2.0)
           |     AS BIGINT) / 4.0) AS BIGINT),
           |   greatest(w.maxerr, abs(e.x - w.l - w.b))
           | FROM walk w JOIN e0 e
           |   ON e.user_id = w.user_id AND e.rn = w.rn + 1)
           |SELECT w.user_id, w.l AS level_c, w.b AS trend_c,
           | w.maxerr AS max_err_c, CAST(c.n AS BIGINT) AS n_events,
           | w.l + w.b AS forecast_c
           |FROM walk w JOIN cnt c
           |  ON w.user_id = c.user_id AND w.rn = c.n
           |ORDER BY w.user_id""".stripMargin))

  /** Day-of-week seasonal decomposition of the daily event-count series
    * — the deseasonalization step under every traffic-anomaly monitor:
    * the weekly profile is the per-dow MEDIAN (order statistic,
    * k = ⌈n/2⌉ — robust to the very outliers being hunted, unlike the
    * mean `ts_anomalous_hours` uses), residual = count − dow-median,
    * and a day flags when 2·|residual| exceeds its dow-median. Day of
    * week is epoch-anchored ((epoch_days + 4) mod 7, 0 = Sunday — the
    * `gen_calendar_dim` convention, immune to engine dayofweek
    * disagreements). Everything runs on the |days|-bounded daily frame;
    * output is that same frame annotated.
    */
  private val dowResiduals = Q(
    "ts_dow_seasonal_residuals",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .withColumn("dow",
          pmod(datediff(col("day"), lit("1970-01-01").cast("date")) + 4,
            lit(7)))
      val w = Window.partitionBy(col("dow")).orderBy(col("c"), col("day"))
      val med = daily
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("dow"))))
        .groupBy(col("dow"))
        .agg(max(when(col("rn") <= ceil(lit(0.5) * col("n")), col("c")))
          .as("dow_median"))
      daily.join(med, Seq("dow"))
        .select(col("day"), col("dow"), col("c"),
          col("dow_median"),
          (col("c") - col("dow_median")).as("resid"),
          when(abs(col("c") - col("dow_median")) * 2 > col("dow_median"),
            1L).otherwise(0L).as("is_outlier"))
        .orderBy(col("day"))
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS c
           |  FROM events GROUP BY 1),
           |dd AS (SELECT day, c,
           |   (day - DATE '1970-01-01' + 4) % 7 AS dow FROM daily),
           |r AS (SELECT day, c, dow,
           |   row_number() OVER (PARTITION BY dow ORDER BY c, day) AS rn,
           |   count(*) OVER (PARTITION BY dow) AS n
           |  FROM dd),
           |med AS (SELECT dow,
           |   max(CASE WHEN rn <= ceil(0.5 * n) THEN c END) AS dow_median
           |  FROM r GROUP BY 1)
           |SELECT day, dd.dow, c, dow_median, c - dow_median AS resid,
           | CASE WHEN abs(c - dow_median) * 2 > dow_median THEN 1 ELSE 0
           |  END AS is_outlier
           |FROM dd JOIN med ON dd.dow = med.dow
           |ORDER BY day""".stripMargin))

  /** Trailing-7-day MEDIAN of the daily event-count series — the robust
    * moving level every spike-immune dashboard line wants (a single
    * outlier day shifts a trailing mean for a week; the median ignores
    * it). Same dedup-then-bounded-explode rewrite as
    * `agg_rolling_7d_distinct_users`: each day contributes its count to
    * the 7 window-ENDING days, and the per-window median is an order
    * statistic (k = ⌈n/2⌉) of a ≤7-element sorted array — no sliding
    * window sort anywhere, linear in days. The explode emits window-end
    * days up to 6 days past the last observed day, so a semi-join back
    * to the actual day set clips those phantom future windows — the
    * curve ends where the series does.
    */
  private val rollingMedian = Q(
    "ts_rolling_median_7d",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      daily
        .select(explode(sequence(col("day"), date_add(col("day"), 6)))
          .as("t_day"), col("c"))
        .join(daily.select(col("day").as("t_day")), Seq("t_day"),
          "left_semi")
        .groupBy(col("t_day"))
        .agg(count(lit(1)).as("n_in_window"),
          array_sort(collect_list(col("c"))).as("cs"))
        .select(col("t_day"), col("n_in_window"),
          element_at(col("cs"),
            ceil(col("n_in_window") / 2).cast("int")).as("median_c"))
        .orderBy(col("t_day"))
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS c
           |  FROM events GROUP BY 1),
           |x AS (SELECT day + CAST(i AS INT) AS t_day, c
           | FROM daily, range(7) t(i)),
           |g AS (SELECT t_day, count(*) AS n_in_window,
           |   list_sort(list(c)) AS cs
           |  FROM x WHERE t_day IN (SELECT day FROM daily) GROUP BY 1)
           |SELECT t_day, n_in_window,
           | cs[CAST(ceil(n_in_window / 2.0) AS INT)] AS median_c
           |FROM g ORDER BY 1""".stripMargin))

  /** Bot-cadence audit — the inter-event-time regularity screen (humans
    * are bursty, schedulers are metronomes): per user, the gap series
    * from one user-keyed lag window, then the gap count, distinct-gap
    * count, median gap (order statistic), and a regularity score in
    * basis points (share of gaps that repeat an already-seen value:
    * 10⁴·(n_gaps − n_distinct)/n_gaps). Top-20 most-regular users with
    * ≥ 5 gaps via TakeOrdered — never a global sort. All integer
    * seconds; the classifier-threshold choice stays with the consumer.
    */
  private val botCadence = Q(
    "dq_bot_cadence",
    (s, d) => {
      val wSeq = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("ts"), 1).over(wSeq))
        .filter(col("prev").isNotNull)
        .select(col("user_id"),
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev")))
            .as("gap_s"))
      val wRank = Window.partitionBy(col("user_id")).orderBy(col("gap_s"))
      gaps
        .withColumn("rn", row_number().over(wRank))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy(col("user_id"))))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          countDistinct(col("gap_s")).as("n_distinct_gaps"),
          max(when(col("rn") <= ceil(lit(0.5) * col("n")), col("gap_s")))
            .as("median_gap_s"))
        .filter(col("n_gaps") >= 5)
        .withColumn("regular_bp",
          expr("(10000 * (n_gaps - n_distinct_gaps)) div n_gaps"))
        .orderBy(col("regular_bp").desc, col("user_id"))
        .limit(20)
    },
    Some("""WITH g0 AS (SELECT user_id,
           |   epoch(date_trunc('second', ts))::BIGINT
           |     - epoch(date_trunc('second', lag(ts) OVER (
           |        PARTITION BY user_id ORDER BY ts, event_id)))::BIGINT
           |     AS gap_s
           |  FROM events),
           |g AS (SELECT user_id, gap_s FROM g0 WHERE gap_s IS NOT NULL),
           |r AS (SELECT user_id, gap_s,
           |   row_number() OVER (PARTITION BY user_id ORDER BY gap_s) AS rn,
           |   count(*) OVER (PARTITION BY user_id) AS n
           |  FROM g),
           |a AS (SELECT user_id, count(*) AS n_gaps,
           |   count(DISTINCT gap_s) AS n_distinct_gaps,
           |   max(CASE WHEN rn <= ceil(0.5 * n) THEN gap_s END)
           |     AS median_gap_s
           |  FROM r GROUP BY 1 HAVING count(*) >= 5)
           |SELECT user_id, n_gaps, n_distinct_gaps, median_gap_s,
           | (10000 * (n_gaps - n_distinct_gaps)) // n_gaps AS regular_bp
           |FROM a ORDER BY regular_bp DESC, user_id LIMIT 20""".stripMargin))

  /** Second-order Markov transitions — P(next | last TWO events), the
    * order that exposes sequence structure a first-order chain washes
    * out (view→click means something different after purchase→view
    * than after error→view). Two leads over the one user-keyed window
    * (one shuffle), trigram counts bounded by |types|³, top-20 by
    * count with the (from2, from1, to) ASCII tiebreak.
    */
  private val markov2 = Q(
    "seq_markov2_transitions",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from2"))
        .withColumn("from1", lead(col("from2"), 1).over(w))
        .withColumn("to_type", lead(col("from2"), 2).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from2"), col("from1"), col("to_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("n").desc, col("from2"), col("from1"), col("to_type"))
        .limit(20)
    },
    Some("""WITH t AS (SELECT user_id, event_type AS from2,
           |   lead(event_type, 1) OVER (PARTITION BY user_id
           |     ORDER BY ts, event_id) AS from1,
           |   lead(event_type, 2) OVER (PARTITION BY user_id
           |     ORDER BY ts, event_id) AS to_type
           |  FROM events)
           |SELECT from2, from1, to_type, count(*) AS n,
           | count(DISTINCT user_id) AS n_users
           |FROM t WHERE to_type IS NOT NULL
           |GROUP BY 1, 2, 3
           |ORDER BY n DESC, from2, from1, to_type LIMIT 20""".stripMargin))

  /** Event-LATENESS profile — the empirical input to every watermark
    * decision: treating event_id as the ARRIVAL order (the ingest
    * sequence), an event is late by how far its event time sits behind
    * the latest event time already arrived for that user
    * (running-max(ts) in arrival order − ts). The histogram over
    * on-time / <1 min / <5 min / <30 min / ≥30 min buckets is read
    * directly as "a 5-minute watermark would drop X% of events" —
    * choosing the `withWatermark` delay from data instead of folklore.
    * One user-keyed window, bounded 5-row output.
    */
  private val latenessProfile = Q(
    "dq_event_lateness_profile",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("es"))
        .withColumn("late_s",
          greatest(max(col("es")).over(w) - col("es"), lit(0L)))
        .withColumn("bucket",
          when(col("late_s") === 0, "0_on_time")
            .when(col("late_s") < 60, "1_under_1m")
            .when(col("late_s") < 300, "2_under_5m")
            .when(col("late_s") < 1800, "3_under_30m")
            .otherwise("4_over_30m"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_events"),
          max(col("late_s")).as("max_late_s"))
        .orderBy(col("bucket"))
    },
    Some("""WITH b AS (SELECT user_id, event_id,
           |   epoch(date_trunc('second', ts))::BIGINT AS es FROM events),
           |l AS (SELECT user_id, es,
           |   greatest(max(es) OVER (PARTITION BY user_id ORDER BY event_id
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - es,
           |     0) AS late_s
           |  FROM b),
           |k AS (SELECT CASE WHEN late_s = 0 THEN '0_on_time'
           |   WHEN late_s < 60 THEN '1_under_1m'
           |   WHEN late_s < 300 THEN '2_under_5m'
           |   WHEN late_s < 1800 THEN '3_under_30m'
           |   ELSE '4_over_30m' END AS bucket, late_s
           |  FROM l)
           |SELECT bucket, count(*) AS n_events, max(late_s) AS max_late_s
           |FROM k GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Autocorrelation function of the daily event-count series at lags
    * 1–7 — the diagnostic that closes the time-series triad (trend:
    * `stats_linear_trend`/Theil–Sen; seasonality: the dow profile;
    * memory: this). Per lag k the (x_t, x_{t+k}) pairs come from one
    * self-join of the bounded daily frame on day arithmetic, the
    * Pearson correlation derives from exact BIGINT sufficient
    * statistics with the single identically-written double expression
    * (the `stats_event_correlation` convention). A spike at lag 7 IS
    * the weekly cycle the dow-median profile removes.
    */
  private val acf = Q(
    "ts_acf_lags",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val lags = s.range(1, 8).select(col("id").cast("int").as("lag"))
      val a = daily.select(col("day"), col("c").as("x"))
      val b = daily.select(col("day").as("day2"), col("c").as("y"))
      a.crossJoin(broadcast(lags))
        .join(b, expr("date_add(day, lag) = day2"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("lag"), col("n"), col("sx"), col("sy"), col("sxy"),
          col("sxx"), col("syy"),
          when(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
            col("n") * col("syy") - col("sy") * col("sy") > 0,
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double")) *
                sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double")))).as("acf"))
        .orderBy(col("lag"))
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS c
           |  FROM events GROUP BY 1),
           |lags(lag) AS (VALUES (1),(2),(3),(4),(5),(6),(7)),
           |p AS (SELECT lag, a.c AS x, b.c AS y
           |  FROM daily a CROSS JOIN lags
           |  JOIN daily b ON b.day = a.day + CAST(lag AS INT)),
           |st AS (SELECT lag, count(*) AS n,
           |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |   CAST(sum(x * y) AS BIGINT) AS sxy,
           |   CAST(sum(x * x) AS BIGINT) AS sxx,
           |   CAST(sum(y * y) AS BIGINT) AS syy
           |  FROM p GROUP BY 1)
           |SELECT lag, n, sx, sy, sxy, sxx, syy,
           | CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
           |  THEN CAST(n * sxy - sx * sy AS DOUBLE)
           |   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
           |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
           | END AS acf
           |FROM st ORDER BY 1""".stripMargin))

  /** Sequence PATTERN matching with negation — the MATCH_RECOGNIZE
    * shape plain funnels cannot express: "view, then click, then
    * purchase, with NO error anywhere between them" is a regular
    * expression over the journey, not a chain of conditional minima
    * (`funnel_view_click_purchase` finds ordered stage times but cannot
    * exclude intervening events). Each user's journey compresses to a
    * string of type initials in exact (truncated-second, event_id)
    * order — the sequence-key convention — and ONE regex evaluates the
    * pattern per user: v[^e]*c[^e]*p. The journey build is a single
    * user-keyed aggregation (sort inside the bounded per-user array);
    * journeys here are session-scale — a production run over unbounded
    * per-key histories would cap or window the sequence first, same as
    * every sessionizer in this pack. Outputs the match census plus the
    * id-sum pinning exact membership.
    */
  private val patternMatch = Q(
    "seq_pattern_match_negation",
    (s, d) => {
      val journeys = Tables.events(s, d)
        .select(col("user_id"),
          struct(unix_timestamp(col("ts")).as("ts_s"), col("event_id"),
            substring(col("event_type"), 1, 1).as("ini")).as("st"))
        .groupBy(col("user_id"))
        .agg(array_join(
          expr("transform(array_sort(collect_list(st)), x -> x.ini)"), "")
          .as("journey"))
      journeys
        .withColumn("matched",
          col("journey").rlike("v[^e]*c[^e]*p").cast("long"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("matched")).as("n_matched"),
          sum(col("matched") * col("user_id")).as("sum_matched_ids"),
          sum(length(col("journey"))).as("sum_journey_len"))
    },
    Some("""WITH j AS (SELECT user_id,
           |  string_agg(substring(event_type, 1, 1), ''
           |    ORDER BY epoch(date_trunc('second', ts))::BIGINT, event_id)
           |    AS journey
           | FROM events GROUP BY 1),
           |m AS (SELECT user_id, journey,
           |  CASE WHEN regexp_matches(journey, 'v[^e]*c[^e]*p')
           |   THEN 1 ELSE 0 END AS matched
           | FROM j)
           |SELECT count(*) AS n_users,
           | CAST(sum(matched) AS BIGINT) AS n_matched,
           | CAST(sum(matched * user_id) AS BIGINT) AS sum_matched_ids,
           | CAST(sum(length(journey)) AS BIGINT) AS sum_journey_len
           |FROM m""".stripMargin))

  /** Journey-predictability score: per-user transition ENTROPY in
    * micro-nats per transition — the information-theoretic companion
    * to [[botCadence]]'s timing regularity (a scripted client repeats
    * the same transitions: entropy ≈ 0; organic journeys mix). The
    * identity H·T = Σ c·(ln T − ln c) keeps everything integral: each
    * ln is micro-rounded ONCE per row (the KL/TF-IDF convention — both
    * engines round the identical double), the weighted sum is an exact
    * BIGINT, and the published per-transition rate is one integer
    * division. ln T ≥ ln c and rounding is monotone, so no term is
    * negative. Per-user totals ride a user-partitioned window on the
    * already-bounded (user, pair) count frame; top-20 most predictable
    * (≥ 10 transitions) via TakeOrderedAndProject.
    */
  private val journeyEntropy = Q(
    "seq_journey_entropy_topk",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val tr = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
      val counts = tr.groupBy(col("user_id"),
          col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("c"))
        .withColumn("t",
          sum(col("c")).over(Window.partitionBy(col("user_id"))))
      counts
        .withColumn("term", col("c") *
          (round(log(col("t").cast("double")) * 1e6, 0).cast("long")
            - round(log(col("c").cast("double")) * 1e6, 0).cast("long")))
        .groupBy(col("user_id"))
        .agg(max(col("t")).as("n_transitions"),
          count(lit(1)).as("n_distinct_pairs"),
          sum(col("term")).as("h_total"))
        .filter(col("n_transitions") >= 10)
        .withColumn("h_per_trans_micro",
          expr("h_total div n_transitions"))
        .select(col("user_id"), col("n_transitions"),
          col("n_distinct_pairs"), col("h_per_trans_micro"))
        .orderBy(col("h_per_trans_micro"), col("user_id"))
        .limit(20)
    },
    Some("""WITH tr AS (SELECT user_id, event_type AS from_type,
           |  lead(event_type) OVER (PARTITION BY user_id
           |    ORDER BY ts, event_id) AS to_type
           | FROM events),
           |c AS (SELECT user_id, from_type, to_type, count(*) AS c
           | FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2, 3),
           |ct AS (SELECT user_id, c,
           |  CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS t
           | FROM c),
           |h AS (SELECT user_id, max(t) AS n_transitions,
           |  count(*) AS n_distinct_pairs,
           |  CAST(sum(c * (CAST(round(ln(CAST(t AS DOUBLE)) * 1e6, 0)
           |      AS BIGINT)
           |    - CAST(round(ln(CAST(c AS DOUBLE)) * 1e6, 0) AS BIGINT)))
           |   AS BIGINT) AS h_total
           | FROM ct GROUP BY 1)
           |SELECT user_id, n_transitions, n_distinct_pairs,
           | h_total // n_transitions AS h_per_trans_micro
           |FROM h WHERE n_transitions >= 10
           |ORDER BY h_per_trans_micro, user_id LIMIT 20""".stripMargin))

  val qs: Seq[Q] = Seq(transitions, concurrency, intervalCoverage,
    journeyEntropy,
    sessionPaths, cumulativeUsers, cdcDiff, topkHeap, cappedBalance, ewma,
    holt, dowResiduals, rollingMedian, botCadence, markov2, latenessProfile,
    acf, patternMatch)
}
