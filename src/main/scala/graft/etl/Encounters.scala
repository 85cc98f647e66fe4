package graft.etl

import graft.ops.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Encounters vertical (ref `clean_encounters`, `etl.py:42-86,494-601`):
  * S2 messy multi-delimiter reader → P2 clean_utf8 → P7 tz-safe parse
  * (log) → D2 dup-id log-all-members dedup → F2 discharge<admit nullify
  * (log) → F3 missing-discharge log → F4 type-enum → "UNKNOWN" (log) →
  * P9 LOS hours → P8 tz strip (no-op under UTC session tz).
  *
  * Order is semantic: clean_utf8 runs FIRST here (ref `etl.py:509`), so
  * the enum check at F4 sees lowercased types, and the final outer
  * clean_utf8 pass (ref `etl.py:684`) lowercases F4's "UNKNOWN" sentinel
  * to "unknown" — quirk kept (SURVEY §2.4 F4).
  */
object Encounters {

  val columns: Seq[String] = Seq(
    "encounter_id", "patient_id", "admit_dt",
    "discharge_dt", "encounter_type", "source_file")

  /** S2 (ref `read_messy_encounters`, `etl.py:42-86`): line-oriented scan
    * with per-line delimiter sniffing — `;` iff the line has `;` and no
    * `,`; blank lines and repeated embedded header lines dropped; >6
    * fields truncated, <6 null-padded; every cell trimmed.
    *
    * Pure built-ins over `spark.read.text`: filter + split +
    * try_element_at (past-end yields null = the pad) + `wsTrim` per cell.
    * One narrow scan, no UDF, fully codegen'd — at 100 TB this is an
    * embarrassingly parallel per-line map with no shuffle.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.text(path)
      .withColumn("_ord", Ingest.ordinal)
      // Python-strip equivalent: also removes the \r a CRLF file leaves
      // on every line (Spark's trim would keep it and poison every cell)
      .withColumn("value", Cleaning.wsTrim(col("value")))
      .filter(length(col("value")) > 0 &&
        !lower(col("value")).startsWith("encounter_id"))
    val parts = when(
      col("value").contains(";") && !col("value").contains(","),
      split(col("value"), ";"))
      .otherwise(split(col("value"), ","))
    val projected = columns.zipWithIndex.map { case (name, i) =>
      // wsTrim strips every cell of both branches (the reference strip()s
      // them — all whitespace, not just ASCII spaces); empty strings
      // from ,, stay "" as in pandas
      Cleaning.wsTrim(try_element_at(parts, lit(i + 1))).as(name)
    }
    lines.select(projected :+ col("_ord"): _*)
  }

  def clean(df: DataFrame, filename: String): (DataFrame, DataFrame) = {
    // --- P2 clean_utf8 first (ref etl.py:509) ---
    val utf8 = df.select(columns.map(c =>
      graft.functions.NfkcLower(col(c)).as(c)) :+ col("_ord"): _*)

    // --- P7 robust tz-aware parse, both datetime columns ---
    val parsed = utf8
      .withColumn("_admit_raw", col("admit_dt"))
      .withColumn("_discharge_raw", col("discharge_dt"))
      .withColumn("admit_dt", Cleaning.parseDatetime(col("admit_dt")))
      .withColumn("discharge_dt", Cleaning.parseDatetime(col("discharge_dt")))

    // --- D2 dedup marks by encounter_id: keep first by ingest order,
    // log EVERY member of a dup group (keep=False, ref etl.py:539-548) ---
    val eid = Seq(col("encounter_id"))
    val marked = parsed
      .withColumn("_rank", Dedup.rank(eid, col("_ord")))
      .withColumn("_group_n", Dedup.groupSize(eid))
    val kept = col("_rank") === 1

    // F2 discharge < admit is LOGGED then NULLIFIED (not dropped); F3
    // missing discharge keeps the row and fires for F2-nullified rows
    // too, because F2 runs first (ref order etl.py:552-574)
    val badTime = col("discharge_dt") < col("admit_dt") // null-safe: null → false
    val fixedDischarge = when(badTime, lit(null).cast("timestamp"))
      .otherwise(col("discharge_dt"))
    // F4 encounter_type enum → "UNKNOWN"
    val validTypes = Seq("inpatient", "outpatient", "ed")
    val invalidType = !col("encounter_type").isin(validTypes: _*) ||
      col("encounter_type").isNull

    // P7 parse failures log the raw cell under the CSV name; the later
    // rules log each row's source_file with NO fallback: the reference's
    // row.get("source_file", default) never falls back because the column
    // always exists — a null stays null
    def entry(file: Column, column: String, reason: String, fields: (String, Column)*) =
      QualityLog.entry(Seq("patient_id" -> col("patient_id"), "filename" -> file,
        "column_name" -> lit(column), "reason" -> lit(reason)) ++ fields: _*)
    def parseRule(raw: String, parsedC: String) =
      // wsTrim: a tabs-only cell is "missing" (no log), like Python strip
      (col(raw).isNotNull && Cleaning.wsTrim(col(raw)) =!= "" && col(parsedC).isNull) ->
        entry(lit(filename), parsedC, "invalid_datetime_format",
          "original_value" -> col(raw))
    val logs = QualityLog.rows(marked, Seq(
      parseRule("_admit_raw", "admit_dt"),
      parseRule("_discharge_raw", "discharge_dt"),
      (col("_group_n") > 1) -> entry(col("source_file"), "encounter_id",
        "duplicate_encounter_id", "original_value" -> col("encounter_id")),
      (kept && badTime) -> entry(col("source_file"), "discharge_dt",
        "discharge_before_admit",
        // str(aware Timestamp) keeps the offset
        "original_value" -> concat(col("discharge_dt").cast(StringType), lit("+00:00"))),
      (kept && fixedDischarge.isNull) -> entry(col("source_file"), "discharge_dt",
        "missing_discharge"),
      (kept && invalidType) -> entry(col("source_file"), "encounter_type",
        "invalid_encounter_type", "original_value" -> col("encounter_type"))))

    // --- P9 LOS hours; P8 tz strip is a no-op under UTC session tz ---
    val withLos = marked.filter(kept)
      .withColumn("discharge_dt", fixedDischarge)
      .withColumn("encounter_type",
        when(invalidType, "UNKNOWN").otherwise(col("encounter_type")))
      .withColumn("length_of_stay_hours",
        Cleaning.lengthOfStayHours(col("admit_dt"), col("discharge_dt")))

    // --- outer clean_utf8 pass (ref etl.py:684): lowercases the UNKNOWN
    // sentinel; timestamps/doubles survive ---
    val cleaned = Cleaning.applyCleanUtf8(
      withLos.drop("_ord", "_admit_raw", "_discharge_raw", "_rank", "_group_n"))
    (cleaned, logs)
  }

  def run(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    clean(read(spark, path), filename = new java.io.File(path).getName)
}
