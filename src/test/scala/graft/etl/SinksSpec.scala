package graft.etl

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.graftshim.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** K1/K2 sink drives (SURVEY §2.2): parquet overwrite of all four tables
  * (concurrent: failure and local-property semantics pinned here) and
  * reason-filtered CSV export, read back and checked.
  */
class SinksSpec extends SparkSpec {

  test("K1: overwrite-parquet writes all 4 tables; overwrite is idempotent") {
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val result = EtlPipeline.runDefault(spark)
    Sinks.overwriteParquet(result, out)
    Sinks.overwriteParquet(result, out) // mode=overwrite: second run replaces
    assert(spark.read.parquet(s"$out/patients").count() === 11)
    assert(spark.read.parquet(s"$out/encounters").count() === 8)
    assert(spark.read.parquet(s"$out/diagnoses").count() === 8)
    assert(spark.read.parquet(s"$out/logs").count() === 12)
    // round-trip fidelity: schema + values survive the sink
    assert(spark.read.parquet(s"$out/logs").columns.toSeq === QualityLog.columns)
  }

  test("K1: a failed write throws only after the other three have finished") {
    val out = java.nio.file.Files.createTempDirectory("graft-sink-fail").toString
    val r = EtlPipeline.runDefault(spark)
    val bad = r.copy(diagnoses = r.diagnoses.withColumn("boom", raise_error(lit("boom"))))
    val e = intercept[Exception](Sinks.overwriteParquet(bad, out))
    assert(e.getMessage.contains("boom"), e.getMessage)
    // the status store is fed by the listener bus: drain it so a job that
    // has ended is not still listed as running
    ListenerDrain.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(spark.read.parquet(s"$out/patients").count() === 11)
    assert(spark.read.parquet(s"$out/encounters").count() === 8)
    assert(spark.read.parquet(s"$out/logs").count() === 12)
  }

  test("K1: every job of the concurrent load carries the caller's local properties") {
    val sc = spark.sparkContext
    val out = java.nio.file.Files.createTempDirectory("graft-sink-props").toString
    val result = EtlPipeline.runDefault(spark)
    // a load without the property first: threads kept from it would
    // carry no scope into the load below
    Sinks.overwriteParquet(result, out)
    ListenerDrain.drain(sc)
    val scopes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        scopes.add(String.valueOf(e.properties.getProperty("graft.test.scope")))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.scope", "k1")
    try {
      Sinks.overwriteParquet(result, out)
      ListenerDrain.drain(sc)
      val seen = scopes.asScala.toSeq
      assert(seen.size >= 4, seen)
      assert(seen.forall(_ == "k1"), seen)
    } finally {
      sc.setLocalProperty("graft.test.scope", null)
      sc.removeSparkListener(listener)
    }
  }

  test("partitioned corpus sink: hive layout prunes at listing level") {
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString + "/docs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Sinks.writePartitioned(docs, Seq("lang"), out)
    val langs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("lang=")).sorted
    assert(langs.length >= 3) // one directory per language
    val en = spark.read.parquet(out).filter(col("lang") === "en")
    val scan = en.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"), scan)
    assert(en.count() === docs.filter(col("lang") === "en").count())
  }

  test("K1 JDBC flavor: overwrite round-trips through embedded Derby") {
    // the reference's production sink is to_sql(if_exists='replace') into a
    // database; embedded Derby (shipped with Spark for the Hive metastore,
    // so zero extra dependencies) stands in for it here. Covers BOTH
    // directions of the JDBC binding: Sinks.overwriteJdbc out,
    // Tables.jdbcTable back — including the partitioned read, which is how
    // a production extract parallelizes across executors.
    val dbDir = java.nio.file.Files.createTempDirectory("graft-derby").toString
    System.setProperty("derby.stream.error.file", s"$dbDir/derby.log")
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val props = new java.util.Properties
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")

    val result = EtlPipeline.runDefault(spark)
    Sinks.overwriteJdbc(result, url, props)
    Sinks.overwriteJdbc(result, url, props) // if_exists='replace' semantics
    assert(graft.Tables.jdbcTable(spark, url, "patients", props = props)
      .count() === 11)
    assert(graft.Tables.jdbcTable(spark, url, "logs", props = props)
      .count() === 12)

    // partitioned read: numPartitions JDBC slices over a numeric column —
    // each executor issues its own bounded query instead of one driver-side
    // full scan
    import spark.implicits._
    (0L until 100L).toDF("id").withColumn("v", col("id") * 2)
      .write.mode("overwrite").jdbc(url, "nums", props)
    val back = graft.Tables.jdbcTable(spark, url, "nums",
      partitionColumn = Some(("id", 0L, 100L, 4)), props = props)
    assert(back.rdd.getNumPartitions === 4)
    assert(back.count() === 100)
    assert(back.agg(sum(col("v"))).collect()(0).getLong(0) === 9900L)
  }

  test("K2: reason-filtered CSV export round-trips") {
    val out = java.nio.file.Files.createTempDirectory("graft-csv").toString + "/dups"
    val logs = EtlPipeline.runDefault(spark).logs
    Sinks.exportLogsCsv(logs, "duplicate_encounter_id", out)
    val back = spark.read.option("header", true).csv(out)
    assert(back.count() === 2)
    assert(back.select("reason").distinct().collect()(0).getString(0) ===
      "duplicate_encounter_id")
  }

  test("ORC and JSON-lines sinks round-trip with schema and pushdown intact") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    val df = (0L until 500L).toDF("id")
      .withColumn("v", col("id") * 3)
      .withColumn("s", concat(lit("row-"), col("id")))

    // ORC: the second built-in columnar format — same predicate-pushdown
    // contract as parquet (min/max stripe stats)
    df.write.mode("overwrite").orc(s"$base/orc")
    val orcBack = spark.read.orc(s"$base/orc")
    // files always read back nullable; names and types must be identical
    assert(orcBack.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(orcBack.count() === 500)
    val filtered = orcBack.filter(col("id") === 42L)
    val scan = filtered.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scan.contains("PushedFilters") && scan.contains("42"), scan)
    assert(filtered.select("s").collect()(0).getString(0) === "row-42")

    // JSON lines: the interchange sink — types survive the text round
    // trip via explicit schema on read (inference would widen)
    df.write.mode("overwrite").json(s"$base/json")
    val jsonBack = spark.read.schema(df.schema).json(s"$base/json")
    assert(jsonBack.count() === 500)
    assert(jsonBack.agg(sum(col("v"))).collect()(0).getLong(0) ===
      3L * (499L * 500L) / 2L)
  }
}
