package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.ops.Dedup
import graft.ops.Checkpoints.StageCheckpoint

/** Patients vertical (ref `etl.py` E1 step 2, SURVEY §3):
  * S1 CSV scan → P1 name normalize → P3 height → P4 weight+BMI (log) →
  * P5 sex→ISO (log) → P6 dob parse (log) → D1 two-key cascade dedup (log)
  * → P12 drop raw cols → P2 clean_utf8 last (so dedup keys compare
  * case-SENSITIVELY — "bob" vs "Bob" are NOT merged by the name key, only
  * by the id key; ref quirk, SURVEY §3 E1).
  *
  * Returns (cleaned, logs) — the dual-output contract.
  */
object Patients {

  /** P1 (ref `etl.py:202-215`): trim, strip BOM, spaces→underscore,
    * lowercase — driver-side on column NAMES only.
    */
  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.toIndexedSeq.map(c =>
      c.trim.replaceAll("\\uFEFF", "").replaceAll(" +", "_").toLowerCase): _*)

  /** S1 (ref `etl.py:38`): header CSV, utf-8-sig. Spark's CSV reader does
    * not strip the BOM, so it surfaces in the first header name and P1
    * removes it — same net effect as pandas' utf-8-sig. All columns read
    * as strings: inputs do not conform to a schema yet (that's the point
    * of the pipeline). An ingest ordinal is attached for keep-first dedup
    * determinism (pandas keep-first = file order; Spark needs it explicit
    * — SURVEY §2.5 D1 caveat): [[Ingest.ordinal]], a (file_path,
    * block_start, seq) struct that stays stable when the table arrives as
    * a multi-file directory — the only notion of "first" that exists at
    * 100 TB.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .option("header", true)
      .option("mode", "PERMISSIVE")
      .csv(path)
    // pandas read_csv does NOT trim cell whitespace, but every value in
    // this pipeline is compared post-trim; the reference fixtures carry
    // alignment padding that pandas keeps and later applymap-strips for
    // encounters but NOT for patients... except every consumer
    // (height_to_cm etc.) strips per-value. We therefore trim cells here,
    // matching the observable post-pipeline values.
    val named = normalizeColumnNames(raw)
    val trimmed = named.columns.foldLeft(named)((d, c) => d.withColumn(c, trim(col(c))))
    trimmed.withColumn("_ord", Ingest.ordinal)
  }

  /** Full patients transform. `filename` feeds the log channel. */
  def clean(df: DataFrame, filename: String): (DataFrame, DataFrame) = {
    // --- P3 height (no log — ref TODO etl.py:663) ---
    val withHeight = df.withColumn("height_cm", Cleaning.heightToCm(col("height")))

    // --- P4 weight + BMI plausibility, struct multi-return ---
    val withWeight = Cleaning
      .withWeightKg(withHeight, col("weight"), col("height_cm"), "_w")
      .withColumn("weight_kg", col("_w.weight_kg"))

    // --- P5 sex → ISO 5218 ---
    val withSex = withWeight.withColumn("sex_iso", Cleaning.sexToIso(col("sex")))
      .withColumn("_sex_reason", Cleaning.sexLogReason(col("sex")))

    // --- P6 dob two-pass parse: pass 1 (dayfirst=False incl. dateutil's
    // month>12 auto-swap) then pass 2 (yyyy-d-M retry, logged) ---
    val withDob = withSex
      .withColumn("_dob_p1", Cleaning.parseDatetime(col("dob")))
      .withColumn("_dob_p2", Cleaning.parseDatePass2(col("dob")))
      .withColumn("dob_parsed", coalesce(col("_dob_p1"), col("_dob_p2")))

    // --- D1 dedup marks: two-key cascade with keep-first-by-ingest-order
    // (ref etl.py:430-490). The log marks BOTH masks on the ORIGINAL rows,
    // but the drop CASCADES (person-dedup runs on id-dedup survivors), so
    // a person-dup whose group head was id-dropped may survive while
    // still being logged — pandas quirk, kept (SURVEY §7 hard part (a)).
    val personKeys = Seq(col("given_name"), col("family_name"), col("dob"),
      col("_hr"), col("_wr"))

    // ONE materialization point between the derive chain and its two
    // consumers (the log rules and the dedup cascade's second pass).
    // Without it, Catalyst's project collapse re-inlines the whole
    // height/weight/sex/dob when-chain into each consumer — the generated
    // processNext() can outgrow janino's 64 KB method limit (interpreted
    // fallback + an ERROR line per run), and each consumer re-plans the
    // CSV scan. Checkpointed, the chain and both dedup windows run once;
    // at 100 TB this is the ingest→fan-out stage boundary a real
    // deployment wants anyway.
    val marked = withDob
      // bround = HALF_EVEN, matching pandas/numpy .round(0); Spark's
      // round() is HALF_UP and diverges on exact .5 values (54.5 → 55
      // instead of 54), silently changing which rows count as dups
      .withColumn("_hr", bround(col("height_cm"), 0))
      .withColumn("_wr", bround(col("weight_kg"), 0))
      .withColumn("_id_dup", Dedup.rank(Seq(col("patient_id")), col("_ord")) > 1)
      .withColumn("_person_dup", Dedup.rank(personKeys, col("_ord")) > 1)
      .stageCheckpoint()

    def entry(fields: (String, Column)*) = QualityLog.entry(
      Seq("patient_id" -> col("patient_id"), "filename" -> lit(filename)) ++ fields: _*)
    val logs = QualityLog.rows(marked, Seq(
      col("_w.flagged") -> entry(
        // str(NaN) = "nan" in the reference's log stringification
        "original_value" -> coalesce(col("weight").cast(StringType), lit("nan")),
        "cleaned_value" -> coalesce(col("weight_kg").cast(StringType), lit("nan")),
        "column_name" -> lit("weight"),
        "reason" -> col("_w.reason")),
      col("_sex_reason").isNotNull -> entry(
        "original_value" -> coalesce(col("sex").cast(StringType), lit("nan")),
        // ref schema inconsistency kept: missing/invalid log `mapped_code`,
        // the U case logs `cleaned_value` (etl.py:333-363, SURVEY §1.4)
        "mapped_code" -> when(col("_sex_reason").isin("missing_value", "invalid_code"), "0"),
        "cleaned_value" -> when(col("_sex_reason") === "unknown_or_missing", "0"),
        "reason" -> col("_sex_reason")),
      (col("dob").isNull || col("dob_parsed").isNull || col("_dob_p1").isNull) -> entry(
        "column_name" -> lit("dob"),
        "original_value" -> col("dob"),
        // the swap log carries the PARSED value (ref etl.py:407)
        "cleaned_value" -> when(col("_dob_p1").isNull && col("_dob_p2").isNotNull,
          col("_dob_p2").cast(StringType)),
        "reason" -> when(col("dob").isNull, "missing_value")
          .when(col("_dob_p2").isNotNull, "day_month_swapped")
          .otherwise("unparseable_date")),
      (col("_id_dup") || col("_person_dup")) -> entry(
        "column_name" -> lit("duplicate_entry"),
        "original_value" -> Cleaning.rowJson(Seq(
          col("given_name"), col("family_name"),
          col("dob").cast(StringType).as("dob"),
          col("height_cm"),
          // ref logs a typo'd key "weight_cm" that never exists → None;
          // kept as an always-null field (etl.py:475)
          lit(null).cast(StringType).as("weight_cm"))),
        "reason" -> lit("duplicate_removed"))))

    // the cascade's second pass: person-dedup over the id-dedup survivors
    val (deduped, _) = Dedup.keepFirst(marked.filter(!col("_id_dup")), personKeys, col("_ord"))

    // --- P12 drop raw + helper cols; P2 clean_utf8 LAST over string cols ---
    val dropped = deduped.drop(
      "weight", "height", "_w", "_sex_reason", "_dob_p1", "_dob_p2",
      "_hr", "_wr", "_id_dup", "_person_dup", "_ord")
    (Cleaning.applyCleanUtf8(dropped), logs)
  }

  def run(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    clean(read(spark, path), filename = new java.io.File(path).getName)
}
