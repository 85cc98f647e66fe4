package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keep-first deduplication operators — the reference's key-matching
  * workhorse (SURVEY §2.5 D1-D3), generalized.
  *
  * All variants need an explicit ingest ordinal: pandas keep-first means
  * FILE order, while Spark's `dropDuplicates` keeps an arbitrary row. The
  * ordinal makes the choice deterministic and, at scale, is the only
  * stable notion of "first" that exists ((file, offset) order).
  *
  * The per-row decisions are plain window `Column`s ([[rank]],
  * [[groupSize]]): a caller that needs both the kept rows and a log of
  * the dropped ones attaches them to one frame and derives both sides
  * from it (the ETL verticals do).
  *
  * Cost: one hash shuffle per key set + per-partition sort — the same
  * movement as the groupBy the dedup replaces; no row explosion.
  */
object Dedup {

  // collision-proofed internals: withColumn would silently REPLACE a
  // same-named caller column and the trailing drop would delete it
  private val Rn = "_graft_dedup_rn"
  private val D1 = "_graft_dedup_d1"
  private val D2 = "_graft_dedup_d2"

  private def guard(df: DataFrame): Unit =
    require(!Seq(Rn, D1, D2).exists(df.columns.contains),
      "Dedup input must not carry reserved _graft_dedup_* columns")

  /** Keep-first rank of a row within its `keys` group by `ord`: 1 is the
    * row keep-first keeps, 2.. are its duplicates.
    */
  def rank(keys: Seq[Column], ord: Column): Column =
    row_number().over(Window.partitionBy(keys: _*).orderBy(ord))

  /** Size of a row's `keys` group; `> 1` marks every member of a
    * duplicate group (pandas `duplicated(keep=False)`).
    */
  def groupSize(keys: Seq[Column]): Column =
    count(lit(1)).over(Window.partitionBy(keys: _*))

  /** D2/D3 shape: keep the first row per key by `ord`; second return is
    * the dropped rows (D3 logs dropped only).
    */
  def keepFirst(df: DataFrame, keys: Seq[Column], ord: Column): (DataFrame, DataFrame) = {
    guard(df)
    val marked = df.withColumn(Rn, rank(keys, ord))
    (marked.filter(col(Rn) === 1).drop(Rn),
      marked.filter(col(Rn) > 1).drop(Rn))
  }

  /** D1 shape: two-key CASCADE — dedup by `keys1` (keep first by `ord`),
    * then by `keys2` on the survivors. Second return: rows marked
    * duplicate by EITHER mask evaluated on the ORIGINAL input — the
    * pandas log-before-cascaded-drop quirk (a `keys2` dup whose group head
    * was dropped by the `keys1` pass may survive the cascade yet still be
    * logged; ref `etl.py:451-488`).
    */
  def cascade(df: DataFrame, keys1: Seq[Column], keys2: Seq[Column],
      ord: Column): (DataFrame, DataFrame) = {
    guard(df)
    val marked = df
      .withColumn(D1, rank(keys1, ord) > 1)
      .withColumn(D2, rank(keys2, ord) > 1)
    val logged = marked.filter(col(D1) || col(D2)).drop(D1, D2)
    val (kept, _) = keepFirst(marked.filter(!col(D1)).drop(D1, D2), keys2, ord)
    (kept, logged)
  }
}
