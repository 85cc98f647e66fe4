package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The data-quality log side-channel — the reference's one genuinely
  * engine-like idea (ref `etl.py:664,694,719`): every cleaning operator
  * emits, besides its cleaned rows, zero or more log rows describing the
  * anomalies it saw, and all logs union into ONE loosely-typed table that
  * powers the quality dashboard (`interactive_dashboard.py:124-194`).
  *
  * The reference materializes a Python list of heterogeneous dicts and
  * relies on pandas' union-of-dict-keys; we declare the union schema
  * explicitly (SURVEY.md §1.4 catalogues the observed key sets, including
  * the `mapped_code`-vs-`cleaned_value` inconsistency, which is kept) and
  * this object is the only place that knows it: a vertical names the
  * fields a log row sets ([[entry]]) and [[rows]] fills in the rest.
  *
  * Scale: a vertical states its log as `(condition, entry)` rules over
  * the one frame it already annotates for cleaning, and [[rows]] turns
  * all of them into log rows in a single generator pass over that frame —
  * no per-rule branch, no union, no second source scan, no driver-side
  * accumulation (the reference's global `logs` list would be a driver OOM
  * at 100 TB).
  */
object QualityLog {

  /** Union of all log-row key sets observed in the reference (SURVEY §1.4). */
  val columns: Seq[String] = Seq(
    "patient_id", "encounter_id", "code", "filename", "column_name",
    "original_value", "cleaned_value", "mapped_code", "reason")

  /** One log row: a struct over [[columns]] with the named fields set and
    * every other field a string null (pandas' union-of-dict-keys).
    */
  def entry(fields: (String, Column)*): Column = {
    val set = fields.toMap
    require(set.keySet.subsetOf(columns.toSet),
      s"unknown log columns: ${set.keySet -- columns}")
    struct(columns.map(c => set.getOrElse(c, lit(null)).cast(StringType).as(c)): _*)
  }

  /** The log rows of `df`: one row per rule whose condition holds on an
    * input row (a row may fire several rules, or none). A null condition
    * counts as false, as in `filter`.
    */
  def rows(df: DataFrame, rules: Seq[(Column, Column)]): DataFrame =
    df.select(inline(filter(
      array(rules.map { case (cond, e) => when(cond, e) }: _*), _.isNotNull)))
}
