package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dashboard-semantics analytics operators (SURVEY.md §2.6 A1-A8, §2.4
  * F6-F8; reference `interactive_dashboard.py:103-194`), generalized to
  * arbitrary DataFrames.
  *
  * Scale notes: every operator here is a declarative plan Catalyst turns
  * into partial-agg + final-agg (map-side combine), so the shuffle carries
  * only (group-key, partial-state) pairs, never raw rows. `topK` plans as
  * `TakeOrderedAndProject` — each partition keeps a k-row heap; no global
  * sort at any scale.
  */
object Analytics {

  /** A1: value_counts — group-count sorted desc (`interactive_dashboard.py:134`). */
  def valueCounts(df: DataFrame, c: String): DataFrame =
    df.groupBy(col(c)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(c).asc_nulls_first)

  /** A2: top-K category counts (`interactive_dashboard.py:117-119`).
    * Deterministic under ties via the secondary key ordering.
    */
  def topK(df: DataFrame, c: String, k: Int): DataFrame =
    df.groupBy(col(c)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(c).asc_nulls_first)
      .limit(k)

  /** A3: multi-key group size (`interactive_dashboard.py:147`). */
  def groupSize(df: DataFrame, cs: Seq[String]): DataFrame =
    df.groupBy(cs.map(col).toIndexedSeq: _*).agg(count(lit(1)).as("n"))

  /** A4: distinct count (`interactive_dashboard.py:164`) — exact.
    * At 100 TB prefer [[approxDistinct]] (HLL, no huge shuffle of keys).
    */
  def distinctCount(df: DataFrame, c: String): DataFrame =
    df.agg(count_distinct(col(c)).as("n_distinct"))

  /** A4 scale path: HyperLogLog distinct — one pass, fixed-size state. */
  def approxDistinct(df: DataFrame, c: String, rsd: Double = 0.05): DataFrame =
    df.agg(approx_count_distinct(col(c), rsd).as("n_distinct_approx"))

  /** A5: # of groups having >=1 distinct value of `of`
    * (`interactive_dashboard.py:166-168`: groupby(key)[of].nunique() → len).
    */
  def groupedDistinctThenCount(df: DataFrame, key: String, of: String): DataFrame =
    df.groupBy(col(key)).agg(count_distinct(col(of)).as("nd"))
      .agg(count(lit(1)).as("n_groups"))

  /** A6: equi-width histogram, plotly px.histogram semantics
    * (`interactive_dashboard.py:69,103-109`): nbins equal bins over
    * [min, max], max value folded into the last bin. Two-pass: a tiny
    * min/max agg broadcast back into a single scan+agg — at scale this is
    * 2 scans of one column, no row-level shuffle beyond the bin counts.
    */
  def histogram(df: DataFrame, c: String, bins: Int): DataFrame = {
    // Nulls dropped (plotly px.histogram semantics); constant column
    // (mn == mx) degenerates to a single bin 0 instead of 0/0 = NaN.
    // The value is projected to a reserved name first so inputs that
    // happen to contain columns named mn/mx/bin can't turn the
    // cross-join references ambiguous.
    val v = "__graft_v"
    val nn = df.select(col(c).as(v)).filter(col(v).isNotNull)
    val stats = nn.agg(min(col(v)).as("__graft_mn"), max(col(v)).as("__graft_mx"))
    val mn = col("__graft_mn")
    val mx = col("__graft_mx")
    nn.crossJoin(broadcast(stats))
      .select(
        when(mx === mn, lit(0L))
          .otherwise(least(
            floor((col(v) - mn) / ((mx - mn) / bins)),
            lit(bins - 1)).cast("long"))
          .as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .orderBy(col("bin"))
  }

  /** A6 datetime flavor: per-calendar-bucket counts (dashboard's datetime
    * histogram, stable buckets instead of data-dependent bin edges).
    */
  def timeHistogram(df: DataFrame, c: String, unit: String): DataFrame =
    df.groupBy(date_trunc(unit, col(c)).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  /** A7: unique values list (`interactive_dashboard.py:181`). */
  def uniqueValues(df: DataFrame, c: String): DataFrame =
    df.select(col(c)).distinct().orderBy(col(c).asc_nulls_first)

  /** A8: head/preview (`interactive_dashboard.py:42`) — made deterministic
    * with an explicit order key (a bare LIMIT is partition-order dependent).
    */
  def preview(df: DataFrame, orderKey: String, n: Int): DataFrame =
    df.orderBy(col(orderKey)).limit(n)

  /** F6: case-insensitive substring filter (`interactive_dashboard.py:161`). */
  def containsFilter(df: DataFrame, c: String, needle: String): DataFrame =
    // Locale.ROOT: Spark's lower() is locale-independent; the JVM default
    // locale would break e.g. "INFO" under a Turkish locale (dotless ı)
    df.filter(lower(col(c)).contains(needle.toLowerCase(java.util.Locale.ROOT)))

  /** F7: equality drilldown filter (`interactive_dashboard.py:183`). */
  def drilldown(df: DataFrame, c: String, v: String): DataFrame =
    df.filter(col(c) === lit(v))

  /** Column profile: (column, n_nonnull, n_distinct) per column in ONE
    * pass — the `df.describe()`-style utility every ingest pipeline runs
    * first. Single aggregate over all columns (2·k agg expressions), then
    * a driver-side unpivot of the 1-row result: no per-column scans, no
    * shuffle beyond one aggregation.
    */
  def profile(df: DataFrame): DataFrame = profileImpl(df, None)

  /** Scale path: HLL distinct counts — at 100 TB an exact distinct per
    * column shuffles every column's value space; the sketch is one pass
    * with fixed state. `rsd` is the sketch's relative standard deviation
    * (a 1-sigma bound, not a maximum error), matching [[approxDistinct]].
    * Deliberate library API, pinned by AnalyticsSpec.
    */
  def profileApprox(df: DataFrame, rsd: Double = 0.05): DataFrame =
    profileImpl(df, Some(rsd))

  private def profileImpl(df: DataFrame, rsd: Option[Double]): DataFrame = {
    val names = df.columns
    if (names.isEmpty)
      return df.sparkSession.emptyDataFrame
        .select(lit("").as("col_name"), lit(0L).as("n_nonnull"),
          lit(0L).as("n_distinct"))
        .limit(0)
    // positional aliases: original names may contain dots (nested-field
    // syntax) or duplicates (post-join) — never feed them back to col()
    val safe = df.toDF(names.indices.map(i => s"_c$i"): _*)
    val aggs = names.indices.flatMap(i => Seq(
      count(col(s"_c$i")).as(s"n$i"),
      rsd.map(r => approx_count_distinct(col(s"_c$i"), r))
        .getOrElse(count_distinct(col(s"_c$i"))).as(s"d$i")))
    val row = safe.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
    val stacked = names.indices.map(i =>
      struct(lit(names(i)).as("col_name"), col(s"n$i").as("n_nonnull"),
        col(s"d$i").as("n_distinct")))
    row.select(explode(array(stacked.toIndexedSeq: _*)).as("p"))
      .select(col("p.col_name"), col("p.n_nonnull"), col("p.n_distinct"))
      .orderBy(col("col_name"))
  }

  /** F8: dtype-based column pruning (`interactive_dashboard.py:47-49`) —
    * driver-side schema routing; the projection prunes the scan.
    */
  def selectByType(df: DataFrame, dt: org.apache.spark.sql.types.DataType): DataFrame = {
    val cols = df.schema.fields.filter(_.dataType == dt).map(f => col(f.name))
    df.select(cols.toIndexedSeq: _*)
  }
}
