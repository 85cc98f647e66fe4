package graft.etl

import graft.{Q, QueryPack, Tables}
import graft.functions.NfkcLower
import graft.ops.Dedup
import org.apache.spark.sql.functions._

/** Oracle-checked exercises of every ETL cleaning operator AT SCALE.
  *
  * The reference fixtures are 12 rows; correctness there is covered by the
  * EtlGoldenSpec. These queries drive the same column expressions over the
  * harness tables (60k–600k rows) by synthesizing messy inputs
  * DETERMINISTICALLY from integer keys, with DuckDB oracles that derive
  * the expected result INDEPENDENTLY (branch-by-branch CASE arithmetic,
  * not a re-run of the engine's regex chain) — a true cross-engine check
  * of the cleaning semantics.
  *
  * Aggregates stick to count/min/max/integral sums: all are exact under
  * IEEE doubles when both engines compute the same per-row values, so no
  * rounding-boundary flakes.
  */
object EtlQueries extends QueryPack {

  // ------------------------------------------------------------- P3
  /** Shared height-parse exercise: synthesize unit-form strings from an
    * integer key column, parse, aggregate per form. ONE definition for
    * both the dimension-scale and the fact-scale (bench) flavors — the
    * Spark chain and the oracle SQL template must change in lockstep.
    */
  private def heightParse(t: org.apache.spark.sql.DataFrame) = {
    val b = col("k") % 5
    val num = (lit(150) + col("k") % 50).cast("int")
    val str = when(b === 0, format_string("%d cm", num))
      .when(b === 1, format_string("%dcm", num))
      .when(b === 2, format_string("%dft %din",
        (lit(5) + col("k") % 2).cast("int"), (col("k") % 12).cast("int")))
      .when(b === 3, format_string("%d in", num))
      .otherwise(format_string("%d.%02d m", lit(1), (col("k") % 100).cast("int")))
    t.select(b.as("bucket"), Cleaning.heightToCm(str).as("h"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("h")).as("min_h"), max(col("h")).as("max_h"))
      .orderBy(col("bucket"))
  }

  private def heightOracle(table: String, keySql: String): String =
    s"""WITH t AS (SELECT $keySql AS k, ($keySql) % 5 AS bucket FROM $table),
       |s AS (SELECT bucket,
       |  CASE bucket
       |   WHEN 0 THEN CAST(150 + k % 50 AS DOUBLE)
       |   WHEN 1 THEN CAST(150 + k % 50 AS DOUBLE)
       |   WHEN 2 THEN (5 + k % 2) * 30.48 + (k % 12) * 2.54
       |   WHEN 3 THEN (150 + k % 50) * 2.54
       |   ELSE CAST(1 || '.' || lpad(CAST(k % 100 AS VARCHAR), 2, '0') AS DOUBLE) * 100
       |  END AS h FROM t)
       |SELECT bucket, count(*) AS n, min(h) AS min_h, max(h) AS max_h
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  private val heightQ = Q(
    "etl_height_units",
    (s, d) => heightParse(
      Tables.customer(s, d).select(col("c_custkey").as("k"))),
    Some(heightOracle("customer", "c_custkey")))

  /** Bench-scale flavor: same chain over the fact table (600k rows at
    * sf0.1) so the BENCH number measures codegen'd cleaning throughput,
    * not a 1.5k-row dimension.
    */
  private val heightBenchQ = Q(
    "etl_parse_bench",
    (s, d) => heightParse(Tables.lineitem(s, d).select(
      (col("l_orderkey") * 8 + col("l_linenumber")).as("k"))),
    Some(heightOracle("lineitem", "l_orderkey * 8 + l_linenumber")),
    headline = true)

  // ------------------------------------------------------------- P4
  private val weightQ = Q(
    "etl_weight_bmi",
    (s, d) => {
      val t = Tables.customer(s, d).select(col("c_custkey").as("k"))
      val m = col("k") % 9
      val wStr = when(m === 0, format_string("%d kg", (lit(60) + col("k") % 40).cast("int")))
        .when(m === 1, format_string("%d lb", (lit(130) + col("k") % 60).cast("int")))
        .when(m === 2, format_string("%d", (lit(70) + col("k") % 30).cast("int")))
        .when(m === 3, format_string("%d", (lit(150) + col("k") % 40).cast("int")))
        .when(m === 4, lit("n/a"))
        .when(m === 5, lit("abc"))
        .when(m === 6, lit(null).cast("string"))
        .when(m === 7, format_string("%d", (lit(150) + col("k") % 40).cast("int")))
        .otherwise(lit("500 kg"))
      val hCol = when(m === 7, lit(null).cast("double")).otherwise(lit(170.0))
      Cleaning.withWeightKg(t, wStr, hCol, "_w")
        .select(col("_w.reason").as("reason"), col("_w.weight_kg").as("wkg"))
        .groupBy(col("reason"))
        .agg(count(lit(1)).as("n"), min(col("wkg")).as("min_w"), max(col("wkg")).as("max_w"))
        .orderBy(col("reason"))
    },
    // buckets 0,1 → ok; 2 → assumed kg (BMI 24-34); 3 → assumed lb
    // (BMI_kg > 45, BMI_lb 23-30); 4/5/6 → markers; 7 → no height,
    // val > 140 ⇒ ×0.453592; 8 → BMI 173.0 implausible, flip unfixable
    Some("""WITH t AS (SELECT c_custkey AS k, c_custkey % 9 AS m FROM customer),
           |s AS (SELECT
           |  CASE m WHEN 0 THEN 'ok' WHEN 1 THEN 'ok'
           |   WHEN 2 THEN 'missing_unit_assumed_kg'
           |   WHEN 3 THEN 'missing_unit_assumed_lb'
           |   WHEN 4 THEN 'missing_marker' WHEN 5 THEN 'no_numeric_found'
           |   WHEN 6 THEN 'missing_value' WHEN 7 THEN 'no_height_missing_unit'
           |   ELSE 'implausible_bmi_173.0' END AS reason,
           |  CASE m WHEN 0 THEN CAST(60 + k % 40 AS DOUBLE)
           |   WHEN 1 THEN (130 + k % 60) * 0.453592
           |   WHEN 2 THEN CAST(70 + k % 30 AS DOUBLE)
           |   WHEN 3 THEN (150 + k % 40) * 0.453592
           |   WHEN 7 THEN (150 + k % 40) * 0.453592
           |   WHEN 8 THEN CAST(500 AS DOUBLE)
           |   ELSE NULL END AS wkg
           | FROM t)
           |SELECT reason, count(*) AS n, min(wkg) AS min_w, max(wkg) AS max_w
           |FROM s GROUP BY 1 ORDER BY 1""".stripMargin))

  // ------------------------------------------------------------- P5
  private val sexQ = Q(
    "etl_sex_iso",
    (s, d) => {
      val t = Tables.customer(s, d).select(col("c_custkey").as("k"))
      val m = col("k") % 7
      val sx = when(m === 0, "M").when(m === 1, "F").when(m === 2, "U")
        .when(m === 3, "O").when(m === 4, " m ").when(m === 5, "X")
        .otherwise(lit(null).cast("string"))
      t.select(Cleaning.sexToIso(sx).as("sex_iso"),
        Cleaning.sexLogReason(sx).as("reason"))
        .groupBy(col("sex_iso"), col("reason"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("sex_iso"), col("reason"))
    },
    Some("""WITH t AS (SELECT c_custkey % 7 AS m FROM customer)
           |SELECT CASE m WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 0 WHEN 3 THEN 9
           |        WHEN 4 THEN 1 WHEN 5 THEN 0 ELSE 0 END AS sex_iso,
           |       CASE m WHEN 2 THEN 'unknown_or_missing' WHEN 5 THEN 'invalid_code'
           |        WHEN 6 THEN 'missing_value' ELSE NULL END AS reason,
           |       count(*) AS n
           |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  // ------------------------------------------------------------- P6
  private val dobQ = Q(
    "etl_dob_formats",
    (s, d) => {
      val t = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        date_trunc("day", col("o_orderdate")).as("dt"))
      val b = col("k") % 4
      val str = when(b === 0, date_format(col("dt"), "yyyy-MM-dd"))
        .when(b === 1, date_format(col("dt"), "MM/dd/yyyy"))
        .when(b === 2, date_format(col("dt"), "dd-MM-yyyy"))
        .otherwise(date_format(col("dt"), "yyyy/MM/dd"))
      val parsed = Cleaning.parseDatetime(str)
      t.select(b.as("bucket"), parsed.as("p"), col("dt"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          count(when(col("p") === col("dt"), 1)).as("n_roundtrip"),
          min(col("p")).as("min_p"), max(col("p")).as("max_p"))
        .orderBy(col("bucket"))
    },
    // bucket 2 (dd-MM-yyyy) re-parses month-first when day<=12 — the
    // dateutil-style preference the engine mirrors; day>12 falls back to
    // day-first, so only day<=12 ∧ day≠month rows fail the roundtrip.
    Some("""WITH t AS (SELECT o_orderkey AS k, o_orderkey % 4 AS bucket,
           |  date_trunc('day', o_orderdate) AS dt FROM orders),
           |s AS (SELECT bucket, dt,
           |  CASE WHEN bucket = 2 AND extract(day FROM dt) <= 12
           |   THEN make_timestamp(CAST(extract(year FROM dt) AS BIGINT),
           |     CAST(extract(day FROM dt) AS BIGINT),
           |     CAST(extract(month FROM dt) AS BIGINT), 0, 0, 0.0)
           |   ELSE dt END AS p
           | FROM t)
           |SELECT bucket, count(*) AS n,
           | count(CASE WHEN p = dt THEN 1 END) AS n_roundtrip,
           | min(p) AS min_p, max(p) AS max_p
           |FROM s GROUP BY 1 ORDER BY 1""".stripMargin))

  // ------------------------------------------------------------- P7/P8
  private val dtQ = Q(
    "etl_datetime_tz",
    (s, d) => {
      val t = Tables.events(s, d).select(col("event_id").as("k"),
        date_trunc("second", col("ts")).as("base"))
      val b = col("k") % 3
      val str = when(b === 0,
        concat(date_format(col("base") + expr("INTERVAL 1 HOUR"),
          "yyyy-MM-dd HH:mm:ss"), lit("+01:00")))
        .when(b === 1,
          concat(date_format(col("base"), "yyyy-MM-dd'T'HH:mm:ss"), lit("Z")))
        .otherwise(date_format(col("base"), "MM/dd/yyyy HH:mm"))
      val parsed = Cleaning.parseDatetime(str)
      val expected = when(b === 2, date_trunc("minute", col("base"))).otherwise(col("base"))
      t.select(b.as("bucket"), parsed.as("p"), expected.as("e"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          count(when(col("p") === col("e"), 1)).as("n_match"),
          min(col("p")).as("min_p"), max(col("p")).as("max_p"))
        .orderBy(col("bucket"))
    },
    // offsets collapse to UTC instants (utc=True ≡ UTC session tz), naive
    // strings are taken as UTC; minute-precision format truncates seconds.
    Some("""WITH t AS (SELECT event_id % 3 AS bucket,
           |  date_trunc('second', ts) AS base FROM events),
           |s AS (SELECT bucket,
           |  CASE WHEN bucket = 2 THEN date_trunc('minute', base) ELSE base END AS p,
           |  CASE WHEN bucket = 2 THEN date_trunc('minute', base) ELSE base END AS e
           | FROM t)
           |SELECT bucket, count(*) AS n, count(CASE WHEN p = e THEN 1 END) AS n_match,
           | min(p) AS min_p, max(p) AS max_p
           |FROM s GROUP BY 1 ORDER BY 1""".stripMargin))

  // ------------------------------------------------------------- D1
  private val dedupQ = Q(
    "etl_dedup_cascade",
    (s, d) => {
      val t = Tables.customer(s, d)
        .select(col("c_custkey").as("k"),
          (col("c_custkey") / 7).cast("long").as("g1"),
          (col("c_custkey") / 13).cast("long").as("g2"))
      val (kept, logged) = Dedup.cascade(t, Seq(col("g1")), Seq(col("g2")), col("k"))
      kept.agg(count(lit(1)).as("n_kept"), sum(col("k")).as("sum_kept"))
        .crossJoin(logged.agg(count(lit(1)).as("n_logged")))
    },
    Some("""WITH t AS (SELECT c_custkey AS k, c_custkey // 7 AS g1,
           |  c_custkey // 13 AS g2 FROM customer),
           |m AS (SELECT k, g2,
           |  row_number() OVER (PARTITION BY g1 ORDER BY k) > 1 AS d1,
           |  row_number() OVER (PARTITION BY g2 ORDER BY k) > 1 AS d2
           | FROM t),
           |kept AS (SELECT k FROM
           |  (SELECT k, row_number() OVER (PARTITION BY g2 ORDER BY k) AS rn2
           |   FROM m WHERE NOT d1) WHERE rn2 = 1),
           |agg1 AS (SELECT count(*) AS n_kept, CAST(sum(k) AS BIGINT) AS sum_kept FROM kept),
           |agg2 AS (SELECT count(*) AS n_logged FROM m WHERE d1 OR d2)
           |SELECT * FROM agg1, agg2""".stripMargin))

  // ------------------------------------------------------------- P2
  private val nfkcQ = Q(
    "etl_nfkc_clean",
    (s, d) => {
      val t = Tables.customer(s, d).select(col("c_custkey").as("k"))
      val m = col("k") % 5
      val in = when(m === 0, "ﬁx").when(m === 1, "Ⅻ").when(m === 2, "①ＡＢＣ")
        .when(m === 3, "Ñ É").otherwise(lit("ascii TEXT"))
      // order on the integer bucket, not the unicode strings — engines
      // disagree on non-ASCII collation order
      t.select(m.cast("long").as("bucket"), in.as("input"), NfkcLower(in).as("output"))
        .groupBy(col("bucket"), col("input"), col("output"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    },
    Some("""WITH t AS (SELECT c_custkey % 5 AS m FROM customer)
           |SELECT m AS bucket,
           |       CASE m WHEN 0 THEN 'ﬁx' WHEN 1 THEN 'Ⅻ' WHEN 2 THEN '①ＡＢＣ'
           |        WHEN 3 THEN 'Ñ É' ELSE 'ascii TEXT' END AS input,
           |       CASE m WHEN 0 THEN 'fix' WHEN 1 THEN 'xii' WHEN 2 THEN '1abc'
           |        WHEN 3 THEN 'ñ é' ELSE 'ascii text' END AS output,
           |       count(*) AS n
           |FROM t GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin))

  // ------------------------------------------------------------- F2/P9
  private val losQ = Q(
    "etl_los_hours",
    (s, d) => {
      val t = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_orderdate").as("admit"))
      val withD = t.withColumn("discharge",
        col("admit") + make_interval(lit(0), lit(0), lit(0), lit(0),
          (col("k") % 100 - 10).cast("int")))
      // F2: discharge<admit → nullify; P9: hours between
      val bad = col("discharge") < col("admit")
      val fixed = withD.withColumn("discharge",
        when(bad, lit(null).cast("timestamp")).otherwise(col("discharge")))
      fixed.select(
        Cleaning.lengthOfStayHours(col("admit"), col("discharge")).as("los"))
        .agg(count(lit(1)).as("n"), count(col("los")).as("n_valid"),
          sum(col("los")).as("sum_los"), min(col("los")).as("min_los"),
          max(col("los")).as("max_los"))
    },
    // k%100-10 ∈ [-10, 89] hours; negatives nullified (F2), LOS is an
    // exact integral double so SUM is exact
    Some("""WITH t AS (SELECT o_orderkey % 100 - 10 AS h FROM orders),
           |s AS (SELECT CASE WHEN h < 0 THEN NULL ELSE CAST(h AS DOUBLE) END AS los FROM t)
           |SELECT count(*) AS n, count(los) AS n_valid, sum(los) AS sum_los,
           | min(los) AS min_los, max(los) AS max_los
           |FROM s""".stripMargin))

  // --------------------------------------------- fixture pipeline (E1)
  // Full reference pipeline over its own adversarial fixtures. No SQL
  // oracle can express the messy CSV/XML readers, but the pipeline
  // OUTPUTS are 8-12 known rows, hand-derived from reference semantics
  // (EtlGoldenSpec pins the same facts in ScalaTest) — so the oracle is a
  // literal VALUES table: the driver's DuckDB compare then cross-checks
  // the full row set, types-as-formatted, in a second engine.
  //
  // Literal-oracle rules (driver compare = sorted col names + str()/%.10g
  // values, row-order-sensitive): CAST numeric cols to DOUBLE (bare
  // DuckDB decimal literals format as Decimal('170.0') = "170.0" while
  // Spark doubles give "170"), TIMESTAMP literals for datetimes, and the
  // ORDER BY must mirror the Spark-side orderBy exactly (NULLS FIRST).

  private val patientsClean = Q(
    "etl_patients_pipeline",
    (s, _) => EtlPipeline.runDefault(s).patients.orderBy(col("patient_id")),
    Some("""SELECT patient_id, given_name, family_name, dob, sex,
           | CAST(height_cm AS DOUBLE) AS height_cm,
           | CAST(weight_kg AS DOUBLE) AS weight_kg,
           | sex_iso, CAST(dob_parsed AS TIMESTAMP) AS dob_parsed
           |FROM (VALUES
           | ('p-0001','alice','müller','1987-03-14','f',170.0,65.0,2,TIMESTAMP '1987-03-14 00:00:00'),
           | ('p-0002','bob','smith','12/31/1990','m',172.72,68.0388,1,TIMESTAMP '1990-12-31 00:00:00'),
           | ('p-0003','chloé','dubois','31-12-1985','f',162.0,54.5,2,TIMESTAMP '1985-12-31 00:00:00'),
           | ('p-0004','david','o''neil','','m',180.0,82.0,1,CAST(NULL AS TIMESTAMP)),
           | ('p-0005','erin','lee','1999/07/01','f',167.64,58.96696,2,TIMESTAMP '1999-07-01 00:00:00'),
           | ('p-0006','fadi','haddad','2008-02-29','m',190.0,110.0,1,TIMESTAMP '2008-02-29 00:00:00'),
           | ('p-0007','gül','yılmaz','1980-11-05','o',175.0,CAST(NULL AS DOUBLE),9,TIMESTAMP '1980-11-05 00:00:00'),
           | ('p-0008','hannah','ng','1970-01-01','u',220.0,300.0,0,TIMESTAMP '1970-01-01 00:00:00'),
           | ('p-0009','ivan','petrov','2009-05-03','m',177.8,81.64656,1,TIMESTAMP '2009-05-03 00:00:00'),
           | ('p-0010','jane','doe','1991-09-09','f',165.0,60.0,2,TIMESTAMP '1991-09-09 00:00:00'),
           | ('p-0011','李','雷','1988-08-08','m',170.0,65.0,1,TIMESTAMP '1988-08-08 00:00:00')
           |) AS t(patient_id, given_name, family_name, dob, sex, height_cm, weight_kg, sex_iso, dob_parsed)
           |ORDER BY patient_id""".stripMargin))

  private val encountersClean = Q(
    "etl_encounters_pipeline",
    (s, _) => EtlPipeline.runDefault(s).encounters.orderBy(col("encounter_id")),
    Some("""SELECT encounter_id, patient_id,
           | CAST(admit_dt AS TIMESTAMP) AS admit_dt,
           | CAST(discharge_dt AS TIMESTAMP) AS discharge_dt,
           | encounter_type, source_file,
           | CAST(length_of_stay_hours AS DOUBLE) AS length_of_stay_hours
           |FROM (VALUES
           | ('enc-000100','p-0001',TIMESTAMP '2024-12-30 09:00:00',TIMESTAMP '2025-01-02 13:30:00','inpatient','encounters_a.csv',76.5),
           | ('enc-000101','p-0002',TIMESTAMP '2024-12-31 08:00:00',TIMESTAMP '2024-12-31 20:00:00','ed','encounters_a.csv',12.0),
           | ('enc-000102','p-0003',TIMESTAMP '2024-12-31 09:15:00',TIMESTAMP '2024-12-31 12:00:00','outpatient','encounters_b.csv',2.75),
           | ('enc-000103','p-0004',TIMESTAMP '2024-11-05 09:00:00',CAST(NULL AS TIMESTAMP),'inpatient','encounters_b.csv',CAST(NULL AS DOUBLE)),
           | ('enc-000104','p-0005',TIMESTAMP '2025-01-03 07:30:00',TIMESTAMP '2025-01-03 09:00:00','outpatient','encounters_b.csv',1.5),
           | ('enc-000105','p-0007',TIMESTAMP '2025-01-05 11:00:00',CAST(NULL AS TIMESTAMP),'ed','encounters_c.csv',CAST(NULL AS DOUBLE)),
           | ('enc-000106','p-0999',TIMESTAMP '2025-01-06 10:00:00',TIMESTAMP '2025-01-06 12:00:00','outpatient','encounters_c.csv',2.0),
           | ('enc-000200','p-0008',TIMESTAMP '2025-01-07 10:00:00',TIMESTAMP '2025-01-07 12:00:00','outpatient','encounters_c.csv',2.0)
           |) AS t(encounter_id, patient_id, admit_dt, discharge_dt, encounter_type, source_file, length_of_stay_hours)
           |ORDER BY encounter_id""".stripMargin))

  private val diagnosesClean = Q(
    "etl_diagnoses_pipeline",
    (s, _) => EtlPipeline.runDefault(s).diagnoses
      .orderBy(col("encounter_id"), col("code")),
    Some("""SELECT encounter_id, code, code_system,
           | CAST(is_primary AS BOOLEAN) AS is_primary,
           | CAST(recorded_at AS TIMESTAMP) AS recorded_at
           |FROM (VALUES
           | ('enc-000100','e11.9','icd-10',TRUE,TIMESTAMP '2024-12-31 12:05:00'),
           | ('enc-000100','n39.0','icd-10',FALSE,TIMESTAMP '2035-01-01 00:00:00'),
           | ('enc-000101','g44','icd-10',FALSE,TIMESTAMP '2024-12-31 00:00:00'),
           | ('enc-000102','i10','icd-10',TRUE,TIMESTAMP '2024-12-31 10:00:00'),
           | ('enc-000103','m54.5','icd-10',FALSE,TIMESTAMP '2024-11-01 10:00:00'),
           | ('enc-000104','j06.9','icd-10',FALSE,TIMESTAMP '2025-01-03 06:00:00'),
           | ('enc-000105','zzz','icd-10',TRUE,TIMESTAMP '2025-01-05 11:10:00'),
           | ('unknown','e66.9','icd-10',CAST(NULL AS BOOLEAN),TIMESTAMP '2025-01-02 09:00:00')
           |) AS t(encounter_id, code, code_system, is_primary, recorded_at)
           |ORDER BY encounter_id, code""".stripMargin))

  private val logsOut = Q(
    "etl_quality_logs_pipeline",
    (s, _) => EtlPipeline.runDefault(s).logs
      .orderBy(QualityLog.columns.map(c => col(c).asc_nulls_first): _*),
    Some("""SELECT * FROM (VALUES
           | ('p-0002',CAST(NULL AS VARCHAR),CAST(NULL AS VARCHAR),'encounters_a.csv','encounter_id','enc-000101',CAST(NULL AS VARCHAR),CAST(NULL AS VARCHAR),'duplicate_encounter_id'),
           | ('p-0002',NULL,NULL,'encounters_dup.csv','encounter_id','enc-000101',NULL,NULL,'duplicate_encounter_id'),
           | ('p-0002',NULL,NULL,'patients.csv','duplicate_entry','{"given_name":"bob","family_name":"smith","dob":"1990-12-31","height_cm":173.0,"weight_cm":null}',NULL,NULL,'duplicate_removed'),
           | ('p-0003',NULL,NULL,'patients.csv','weight','54.5','54.5',NULL,'missing_unit_assumed_kg'),
           | ('p-0004',NULL,NULL,'encounters_b.csv','discharge_dt',NULL,NULL,NULL,'missing_discharge'),
           | ('p-0004',NULL,NULL,'encounters_b.csv','discharge_dt','2024-11-04 17:00:00+00:00',NULL,NULL,'discharge_before_admit'),
           | ('p-0004',NULL,NULL,'patients.csv','dob','',NULL,NULL,'unparseable_date'),
           | ('p-0007',NULL,NULL,'encounters_c.csv','discharge_dt',NULL,NULL,NULL,'missing_discharge'),
           | ('p-0007',NULL,NULL,'patients.csv','weight','n/a','nan',NULL,'missing_marker'),
           | ('p-0008',NULL,NULL,'patients.csv',CAST(NULL AS VARCHAR),'u','0',NULL,'unknown_or_missing'),
           | ('p-0008',NULL,NULL,'patients.csv','weight','300 kg','300.0',NULL,'implausible_bmi_62.0'),
           | ('p-0011',NULL,NULL,'patients.csv','weight','65','65.0',NULL,'missing_unit_assumed_kg')
           |) AS t(patient_id, encounter_id, code, filename, column_name, original_value, cleaned_value, mapped_code, reason)
           |ORDER BY patient_id NULLS FIRST, encounter_id NULLS FIRST,
           | code NULLS FIRST, filename NULLS FIRST, column_name NULLS FIRST,
           | original_value NULLS FIRST, cleaned_value NULLS FIRST,
           | mapped_code NULLS FIRST, reason NULLS FIRST""".stripMargin))

  /** The quality dashboard's primary reads, bound to the LOGS table as in
    * the reference (`interactive_dashboard.py:124-194`): A1 reason
    * value_counts; A4/A5+F6 patient-file impact metrics.
    */
  private val logsReasons = Q(
    "etl_logs_reason_counts",
    (s, _) => graft.analytics.Analytics.valueCounts(
      EtlPipeline.runDefault(s).logs, "reason"),
    // valueCounts orders (n desc, key asc) — mirror both keys
    Some("""SELECT reason, CAST(n AS BIGINT) AS n FROM (VALUES
           | ('duplicate_encounter_id',2),('missing_discharge',2),
           | ('missing_unit_assumed_kg',2),('discharge_before_admit',1),
           | ('duplicate_removed',1),('implausible_bmi_62.0',1),
           | ('missing_marker',1),('unknown_or_missing',1),
           | ('unparseable_date',1)) AS t(reason, n)
           |ORDER BY n DESC, reason NULLS FIRST""".stripMargin))

  private val logsImpact = Q(
    "etl_logs_patient_impact",
    (s, _) => {
      val logs = EtlPipeline.runDefault(s).logs
      val patientLogs = graft.analytics.Analytics.containsFilter(
        logs, "filename", "patient")
      patientLogs.agg(
        count_distinct(col("patient_id")).as("n_patients"),
        count_distinct(col("reason")).as("n_reasons"),
        count(lit(1)).as("n_rows"))
    },
    // Derived over the same canonical VALUES log table as
    // `etl_quality_logs_pipeline` (not pre-computed literals — a constant
    // oracle can't catch a regression that changes both sides the same
    // way). The ILIKE filter mirrors Analytics.containsFilter's
    // case-insensitive contains.
    Some("""SELECT count(DISTINCT patient_id) AS n_patients,
           | count(DISTINCT reason) AS n_reasons,
           | count(*) AS n_rows
           |FROM (VALUES
           | ('p-0002','encounters_a.csv','duplicate_encounter_id'),
           | ('p-0002','encounters_dup.csv','duplicate_encounter_id'),
           | ('p-0002','patients.csv','duplicate_removed'),
           | ('p-0003','patients.csv','missing_unit_assumed_kg'),
           | ('p-0004','encounters_b.csv','missing_discharge'),
           | ('p-0004','encounters_b.csv','discharge_before_admit'),
           | ('p-0004','patients.csv','unparseable_date'),
           | ('p-0007','encounters_c.csv','missing_discharge'),
           | ('p-0007','patients.csv','missing_marker'),
           | ('p-0008','patients.csv','unknown_or_missing'),
           | ('p-0008','patients.csv','implausible_bmi_62.0'),
           | ('p-0011','patients.csv','missing_unit_assumed_kg')
           |) AS t(patient_id, filename, reason)
           |WHERE filename ILIKE '%patient%'""".stripMargin))

  val qs: Seq[Q] = Seq(heightQ, heightBenchQ, weightQ, sexQ, dobQ, dtQ,
    dedupQ, nfkcQ, losQ, patientsClean, encountersClean, diagnosesClean,
    logsOut, logsReasons, logsImpact)
}
