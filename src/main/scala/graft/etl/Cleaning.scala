package graft.etl

import graft.functions.NfkcLower
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Pure columnar cleaning expressions (SURVEY.md §2.3) — each is a
  * `Column => Column` built ONLY from Catalyst built-ins (`when`,
  * `regexp_extract`, `try_to_timestamp`, arithmetic), so every operator
  * runs inside whole-stage codegen: no UDFs, no per-row Python-style
  * dispatch. The reference applies these row-at-a-time with
  * `df.apply(axis=1)`; here each is a single vectorized expression tree.
  */
object Cleaning {

  /** Python-`strip()`-style trim: Spark's one-argument `trim` removes
    * only ASCII spaces, but Python strips the full Unicode whitespace
    * set — an NBSP-padded cell (`"M "`) must compare equal to `"M"`
    * exactly as the reference sees it. This is Spark's `btrim` over the
    * set below (the `StringTrim` that the deprecated two-parameter `trim`
    * also resolves to): codegen'd, code-point aware, and linear in the
    * cell's length (a backtracking `^ws+|ws+$` regex is quadratic in the
    * length of a whitespace run).
    *
    * The set, one code point each, no ranges: Java's `\s`
    * (`[ \t\n\x0B\f\r]`), then U+0085, U+00A0, U+1680, U+2000, U+2001,
    * U+2002, U+2003, U+2004, U+2005, U+2006, U+2007, U+2008, U+2009,
    * U+200A, U+2028, U+2029, U+202F, U+205F and U+3000.
    *
    * Known gap: Python 3's `str.isspace()` set also holds the
    * information separators U+001C-001F, which this set does not, so
    * a cell padded with them keeps them here and loses them in the
    * reference.
    */
  private val StripChars =
    " \t\n\u000B\f\r" +
      "\u0085\u00A0\u1680" +
      "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200A" +
      "\u2028\u2029\u202F\u205F\u3000"
  def wsTrim(c: Column): Column = btrim(c, lit(StripChars))

  // ---------------------------------------------------------------- P2
  /** P2 `clean_utf8` applied to every string-typed column (ref
    * applymap(clean_utf8): bools/timestamps/doubles survive untouched,
    * strings — including the ids — are NFKC-normalized and lowercased).
    */
  def applyCleanUtf8(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name).toSet
    df.select(df.columns.map { c =>
      if (stringCols(c)) NfkcLower(col(c)).as(c) else col(c)
    }.toIndexedSeq: _*)
  }

  // ---------------------------------------------------------------- P3
  /** `height_to_cm` (ref `etl.py:146-183`): unit-sniffing height
    * normalizer. Dispatch order is semantic and must match the
    * reference: meters → cm → ft/in → in → bare number (<3 ⇒ meters) →
    * null. Height failures are NOT logged (the reference's own TODO at
    * `etl.py:663`).
    */
  def heightToCm(c: Column): Column = {
    val s = lower(wsTrim(c.cast("string")))
    val firstNum = regexp_extract(s, "[\\d.]+", 0).try_cast("double")
    val ftRaw = regexp_extract(s, "^(\\d+)\\s*(?:ft|')\\s*(\\d+)?\\s*(?:in|\"|$)?", 1)
    val inRaw = regexp_extract(s, "^(\\d+)\\s*(?:ft|')\\s*(\\d+)?\\s*(?:in|\"|$)?", 2)
    when(c.isNull, lit(null).cast("double"))
      .when(s.rlike("\\b\\d+(\\.\\d+)?\\s*m\\b") && !s.contains("cm"), firstNum * 100)
      .when(s.contains("cm"), firstNum)
      .when(ftRaw =!= "",
        ftRaw.try_cast("double") * 30.48 +
          coalesce(inRaw.try_cast("double"), lit(0.0)) * 2.54)
      .when(s.contains("in"), firstNum * 2.54)
      .when(s.rlike("^[\\d.]+$"),
        when(firstNum < 3, firstNum * 100).otherwise(firstNum))
      .otherwise(lit(null).cast("double"))
  }

  // ---------------------------------------------------------------- P4
  /** `weight_to_kg` (ref `etl.py:220-308`): mixed-format weight → kg with
    * BMI-based unit inference and post-hoc plausibility repair. Adds
    * column `out` as a STRUCT (weight_kg, flagged, reason) — the
    * reference's multi-return — derived in ONE expression tree so the log
    * reason can never drift from the cleaned value (SURVEY §7 hard part
    * (e)). The shared subtrees (normalized string, extracted number,
    * height², resolved weight, BMI) are PRE-PROJECTED as named columns
    * across separate selects, so each `when` branch of the struct binds
    * attribute references instead of inlining the whole regex chain. The
    * fully-inlined form blows janino's 64KB method limit (observed:
    * `WholeStageCodegen disabled … janino`) and the one operator touching
    * every row runs interpreted. CollapseProject keeps the split (the
    * intermediates are non-cheap and multiply-referenced, which is
    * exactly its no-collapse condition).
    */
  def withWeightKg(df: DataFrame, weight: Column,
      heightCm: Column, out: String): DataFrame = {
    val w = col("_wk_w"); val h = col("_wk_h")
    val s = col("_wk_s"); val num = col("_wk_num"); val h2 = col("_wk_h2")
    df.withColumn("_wk_w", weight)
      .withColumn("_wk_h", heightCm)
      .withColumn("_wk_s", lower(wsTrim(col("_wk_w").cast("string"))))
      .withColumn("_wk_num", regexp_extract(col("_wk_s"), "[\\d.]+", 0).try_cast("double"))
      .withColumn("_wk_h2", pow(col("_wk_h") / 100.0, 2))
      .withColumn("_wk_w0", weightW0(s, num, h, h2))
      .withColumn("_wk_b", col("_wk_w0") / h2)
      .withColumn(out,
        weightStruct(w, h, s, num, h2, col("_wk_w0"), col("_wk_b")))
      .drop("_wk_w", "_wk_h", "_wk_s", "_wk_num", "_wk_h2", "_wk_w0", "_wk_b")
  }

  /** Unit resolution (pre-plausibility) over bound subexpressions. */
  private def weightW0(s: Column, num: Column, heightCm: Column, h2: Column): Column = {
    val hasKg = s.contains("kg")
    val hasLb = s.contains("lb")
    val lbToKg = num * 0.453592
    val heuristic = when(num > 140, lbToKg).otherwise(num)
    when(hasKg, num)
      .when(hasLb, lbToKg)
      .when(heightCm.isNotNull && (num / h2).between(10, 45), num)
      .when(heightCm.isNotNull && (lbToKg / h2).between(10, 45), lbToKg)
      .otherwise(heuristic)
  }

  /** Struct assembly over bound subexpressions (`b` = BMI of `w0`). */
  private def weightStruct(weight: Column, heightCm: Column, s: Column,
      num: Column, h2: Column, w0: Column, b: Column): Column = {
    val missingMarker = s.isin("", "na", "n/a", "none", "null", "-")
    val hasKg = s.contains("kg")
    val hasLb = s.contains("lb")
    val lbToKg = num * 0.453592
    val reason0 = when(hasKg || hasLb, "ok")
      .when(heightCm.isNull, "no_height_missing_unit")
      .when((num / h2).between(10, 45), "missing_unit_assumed_kg")
      .when((lbToKg / h2).between(10, 45), "missing_unit_assumed_lb")
      .otherwise("ambiguous_missing_unit")

    // --- post-hoc plausibility: flip units if final BMI is absurd ---
    val implausible = heightCm.isNotNull && (b < 10 || b > 60)
    val flipped = when(hasKg, w0 / 0.453592).otherwise(w0 * 0.453592)
    val fixable = (flipped / h2).between(10, 45)

    val weightKg = when(implausible && fixable, flipped).otherwise(w0)
    val reason = when(implausible && fixable, lit("implausible_bmi_fixed"))
      .when(implausible, format_string("implausible_bmi_%.1f", b))
      .otherwise(reason0)
    val flagged = implausible || !(hasKg || hasLb)

    when(weight.isNull,
      struct(lit(null).cast("double").as("weight_kg"), lit(true).as("flagged"),
        lit("missing_value").as("reason")))
      .when(missingMarker,
        struct(lit(null).cast("double").as("weight_kg"), lit(true).as("flagged"),
          lit("missing_marker").as("reason")))
      .when(num.isNull,
        struct(lit(null).cast("double").as("weight_kg"), lit(true).as("flagged"),
          lit("no_numeric_found").as("reason")))
      .otherwise(struct(weightKg.as("weight_kg"), flagged.as("flagged"),
        reason.as("reason")))
  }

  // ---------------------------------------------------------------- P5
  /** sex → ISO/IEC 5218 (ref `etl.py:312-367`): M→1 F→2 U→0 O→9,
    * null/invalid→0. Four keys: a `when` chain is the idiomatic plan (a
    * broadcast map join would shuffle nothing either, but adds a join for
    * no gain).
    */
  def sexToIso(c: Column): Column = {
    val s = upper(wsTrim(c.cast("string")))
    when(c.isNull, 0)
      .when(s === "M", 1)
      .when(s === "F", 2)
      .when(s === "U", 0)
      .when(s === "O", 9)
      .otherwise(0)
  }

  /** Companion log reason for [[sexToIso]] — the reference logs exactly one
    * row per 0-coded value with three distinct shapes (SURVEY §1.4):
    * missing → `mapped_code`+missing_value; invalid → `mapped_code`+
    * invalid_code; legitimate "U" → `cleaned_value`+unknown_or_missing.
    */
  def sexLogReason(c: Column): Column = {
    val s = upper(wsTrim(c.cast("string")))
    when(c.isNull, "missing_value")
      .when(s.isin("M", "F", "O"), lit(null).cast("string"))
      .when(s === "U", "unknown_or_missing")
      .otherwise("invalid_code")
  }

  // ---------------------------------------------------------------- P6/P7
  /** Date orders, month-first before day-first (ref `etl.py:370-424` P6
    * dob and `:512-536` P7 admit/discharge both call `pd.to_datetime` ⇒
    * dateutil, which falls back to day-first only when the month slot
    * exceeds 12 — so "31-12-1985" parses on the FIRST pass and the
    * reference's `day_month_swapped` log never fires on its own fixtures).
    * Each order takes an optional time with seconds and offset (dateutil
    * accepts them on every order), the ISO order also its `T` form.
    * try_to_timestamp requires a total match, so the optional sections
    * cannot fit one string two ways: only the patterns' order is semantic.
    */
  private val datetimeFormats =
    Seq("yyyy-M-d", "yyyy/M/d", "M/d/yyyy", "M-d-yyyy", "d/M/yyyy", "d-M-yyyy")
      .map(d => s"$d[ H:mm[:ss][XXX]]") :+ "yyyy-M-d'T'H:mm[:ss][XXX]"

  /** upper() before matching: clean_utf8 lowercases cells BEFORE parsing
    * in the encounters flow, and Java format literals ('T', XXX's Z) only
    * match uppercase — dateutil is case-insensitive, so mirror that. The
    * formats contain no month-name fields, so uppercasing is lossless.
    */
  private def parseMulti(c: Column, formats: Seq[String]): Column =
    coalesce(formats.map(f => try_to_timestamp(upper(wsTrim(c)), lit(f))): _*)

  /** P6 pass 1 and P7. Under a UTC session timezone this reproduces
    * `to_datetime(utc=True)` + `tz_localize(None)`: offset-carrying strings
    * collapse to the UTC instant, naive strings are taken as UTC (P8
    * tz-strip is then a no-op).
    */
  def parseDatetime(c: Column): Column = parseMulti(c, datetimeFormats)

  /** P6 pass 2 (ref `etl.py:399-410`): the `dayfirst=True` retry, tried
    * only when pass 1 fails, logging `day_month_swapped` on success.
    * dateutil's month>12 auto-swap covers the D-M-Y shapes inside pass 1
    * (so they never reach pass 2 — `31-12-1985` parses silently), but the
    * swap does NOT apply to year-first strings: `2024-31-12` raises under
    * `dayfirst=False` and parses as yyyy-d-M under `dayfirst=True`
    * (verified against pandas 2.2.2 + dateutil). These two formats are
    * therefore exactly the pass-2-only surface.
    */
  def parseDatePass2(c: Column): Column = parseMulti(c, Seq("yyyy-d-M", "yyyy/d/M"))

  // ---------------------------------------------------------------- P9
  /** length_of_stay_hours (ref `etl.py:590-593`). Double-epoch cast keeps
    * sub-second precision (`unix_timestamp` truncates to whole seconds).
    */
  def lengthOfStayHours(admit: Column, discharge: Column): Column =
    // the timestamp hop first: TIMESTAMP_NTZ inputs can't cast straight
    // to double (epoch seconds); under a UTC session the hop is lossless
    (discharge.cast("timestamp").cast("double") -
      admit.cast("timestamp").cast("double")) / 3600.0

  // --------------------------------------------------------------- P15
  /** Serialize a whole row into the log's original_value (ref
    * `etl.py:626,651` json.dumps; `:469-475` str(dict) — both map to
    * to_json(struct(...)), the Spark-native row serialization).
    */
  def rowJson(cols: Seq[Column]): Column =
    // keep null fields: json.dumps serializes None as null; to_json's
    // default would silently drop the key
    to_json(struct(cols: _*), Map("ignoreNullFields" -> "false"))
}
