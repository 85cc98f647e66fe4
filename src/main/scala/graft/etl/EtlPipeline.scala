package graft.etl

import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** End-to-end healthcare ETL (ref `etl.py` E1): three verticals, one
  * unified quality-log table (SURVEY §3).
  *
  * Each vertical is an independent source→clean DAG that annotates one
  * frame and derives both its cleaned rows and its log rows from it
  * ([[QualityLog.rows]]); `logs` is the union of the three verticals'
  * same-schema log frames. Nothing here is cached: every output is a lazy
  * plan that reads each source once, and each consumer runs its own —
  * [[Sinks]]' K1 loads run the four plans concurrently.
  */
final case class EtlResult(
    patients: DataFrame,
    encounters: DataFrame,
    diagnoses: DataFrame,
    logs: DataFrame)

object EtlPipeline {

  /** Default fixture set — the reference's own adversarial inputs, vendored
    * under fixtures/ (every row exercises a dirty-data case; FIXTURES.md).
    */
  val defaultDir = "/root/repo/fixtures"

  def run(spark: SparkSession,
      patientsCsv: String,
      encountersCsv: String,
      diagnosesXml: String): EtlResult = {
    val (p, pLog) = Patients.run(spark, patientsCsv)
    val (e, eLog) = Encounters.run(spark, encountersCsv)
    val (d, dLog) = Diagnoses.run(spark, diagnosesXml)
    // final applymap(clean_utf8) over the log table itself (ref etl.py:695)
    EtlResult(p, e, d, Cleaning.applyCleanUtf8(pLog.union(eLog).union(dLog)))
  }

  /** [[run]] over a fixture directory's three standard file names. */
  def runDefault(spark: SparkSession, dir: String = defaultDir): EtlResult =
    run(spark, s"$dir/patients.csv", s"$dir/encounters.csv", s"$dir/diagnoses.xml")
}

/** Sinks (SURVEY §2.2). K1: overwrite loads of the 4 tables — JDBC in the
  * reference (`etl.py:716-719`), parquet in this harness; K2: CSV export
  * of reason-filtered logs (`interactive_dashboard.py:189-194`).
  *
  * Both K1 flavors load the four tables concurrently: they share no work,
  * and each write is a few small jobs whose cost is mostly fixed per job,
  * so one after another they leave the cores idle.
  */
object Sinks {

  /** Overwrites the four tables of `r` at once through `save(writer,
    * table)` and returns when every write has finished, failed or not.
    * The first failure in table order is rethrown with the others
    * attached as suppressed.
    *
    * The threads are made per call, from the caller's thread, so they
    * inherit its SparkContext local properties (job group, scheduler
    * pool, any span id a tracer sets) and its active session; threads
    * kept across calls would carry those of the call that made them.
    */
  private def writeTables(r: EtlResult)(
      save: (DataFrameWriter[Row], String) => Unit): Unit = {
    val tables = Seq("patients" -> r.patients, "encounters" -> r.encounters,
      "diagnoses" -> r.diagnoses, "logs" -> r.logs)
    val pool = Executors.newFixedThreadPool(tables.size)
    try {
      val writes = tables.map { case (table, df) =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = save(df.write.mode("overwrite"), table)
        })
      }
      val failures = writes.flatMap { w =>
        try { w.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }

  /** K1 parquet flavor: one directory per table under `outDir`. */
  def overwriteParquet(result: EtlResult, outDir: String): Unit =
    writeTables(result)((w, table) => w.parquet(s"$outDir/$table"))

  /** K1 JDBC flavor (`to_sql(if_exists='replace')` ≡ mode("overwrite")).
    * Deliberate library API (the reference's K1 load), pinned by SinksSpec.
    */
  def overwriteJdbc(result: EtlResult, url: String,
      props: java.util.Properties): Unit =
    writeTables(result)((w, table) => w.jdbc(url, table, props))

  /** K2: header CSV of logs filtered to one reason. Deliberate library
    * API (the reference's K2 export), pinned by SinksSpec.
    */
  def exportLogsCsv(logs: DataFrame, reason: String, outPath: String): Unit =
    logs.filter(org.apache.spark.sql.functions.col("reason") === reason)
      .write.mode("overwrite").option("header", true).csv(outPath)

  /** Corpus-layout sink: hive-partitioned parquet. Partition columns
    * become directories, so downstream jobs touching one language/source
    * read only their slice (partition pruning at the listing level — the
    * layout that matters most at 100 TB). Deliberate library API (the K1
    * load in corpus layout), pinned by SinksSpec.
    */
  def writePartitioned(df: DataFrame, partitionCols: Seq[String],
      outDir: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(outDir)
}
