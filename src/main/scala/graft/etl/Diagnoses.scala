package graft.etl

import graft.ops.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Diagnoses vertical (ref `parse_diagnoses_to_df` `etl.py:97-132` +
  * `clean_diagnoses` `etl.py:609-659`):
  * S3 namespaced-XML scan → F5 drop-missing-code (log, full-row JSON) →
  * P10 fill missing encounter_id → P11 fill missing is_primary (elif
  * quirk: only when encounter_id was PRESENT) → D3 keyed dedup on the
  * FILLED (encounter_id, code) → P2 clean_utf8.
  */
object Diagnoses {

  /** Explicit element schema — inputs are stringly until cleaned. The
    * `code` element carries text + a `system` attribute, which Spark's
    * native XML source surfaces as struct(_VALUE, _system).
    */
  private val xmlSchema = StructType(Seq(
    StructField("encounterId", StringType),
    StructField("code", StructType(Seq(
      StructField("_VALUE", StringType),
      StructField("_system", StringType)))),
    StructField("isPrimary", StringType),
    StructField("recordedAt", StringType)))

  /** recordedAt: ISO-8601 with optional offset, date-only fallback
    * (ref `etl.py:114-119`: fromisoformat, retry with +"T00:00:00").
    */
  private[etl] def parseRecordedAt(c: Column): Column = coalesce(
    try_to_timestamp(c, lit("yyyy-M-d['T'H:mm:ss[XXX]]")),
    try_to_timestamp(c, lit("yyyy-M-d H:mm:ss")))

  /** S3 (ref `etl.py:97-132`): Spark 4 ships the XML source natively —
    * rowTag row-splitting is distributable (the input is split on tag
    * boundaries), unlike the reference's whole-file ElementTree parse.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("xml")
      .option("rowTag", "Diagnosis")
      .schema(xmlSchema)
      .load(path)
      .select(
        col("encounterId").as("encounter_id"),
        col("code._VALUE").as("code"),
        col("code._system").as("code_system"),
        // text → tri-state bool via lower()=="true" (ref etl.py:108-111:
        // anything else, e.g. "yes", becomes false; missing stays null)
        (lower(col("isPrimary")) === "true").as("is_primary"),
        parseRecordedAt(col("recordedAt")).as("recorded_at"))
      .withColumn("_ord", Ingest.ordinal)

  def clean(df: DataFrame): (DataFrame, DataFrame) = {
    // --- P10/P11: fills. ELIF quirk kept (ref etl.py:633-640): a row
    // missing BOTH gets encounter_id filled but is_primary left null.
    // D3: streaming seen-set dedup ≡ keep-first-by-ingest-order over the
    // FILLED key (two null-encounter rows with the same code dedupe as
    // ("UNKNOWN", code) — ref etl.py:643-658). Rows missing a code rank
    // among themselves only (their key's code is null), so the marks of
    // the rows F5 keeps are those of a dedup over the kept rows alone ---
    val marked = df
      .withColumn("_orig_eid", col("encounter_id"))
      .withColumn("_orig_ip", col("is_primary"))
      .withColumn("encounter_id", coalesce(col("encounter_id"), lit("UNKNOWN")))
      .withColumn("is_primary",
        when(col("_orig_eid").isNotNull && col("is_primary").isNull, false)
          .otherwise(col("is_primary")))
      .withColumn("_rank",
        Dedup.rank(Seq(col("encounter_id"), col("code")), col("_ord")))

    // both log rules carry the full PRE-fill row; the dup log's key is the
    // FILLED id, F5's the original one
    val originalJson = Cleaning.rowJson(Seq(
      col("_orig_eid").as("encounter_id"), col("code"), col("code_system"),
      col("_orig_ip").as("is_primary"), col("recorded_at")))
    val logs = QualityLog.rows(marked, Seq(
      // --- F5: drop rows with missing code + log full original row ---
      col("code").isNull -> QualityLog.entry(
        "encounter_id" -> col("_orig_eid"),
        "reason" -> lit("dropped for missing code"),
        "original_value" -> originalJson),
      (col("code").isNotNull && col("_rank") > 1) -> QualityLog.entry(
        "encounter_id" -> col("encounter_id"),
        "code" -> col("code"),
        "reason" -> lit("duplicate encounter_id + code"),
        "original_value" -> originalJson)))

    // --- P2 clean_utf8 (ref etl.py:690): strings only; the is_primary
    // bool and recorded_at timestamp survive ---
    val cleaned = Cleaning.applyCleanUtf8(marked
      .filter(col("code").isNotNull && col("_rank") === 1)
      .drop("_orig_eid", "_orig_ip", "_ord", "_rank"))
    (cleaned, logs)
  }

  def run(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    clean(read(spark, path))
}
