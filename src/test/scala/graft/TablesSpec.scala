package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftshim.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.LongType

/** `Tables.load` infers a table's schema once per file identity and
  * conf values: a repeated load runs no job, and a rewritten file or a
  * changed inference conf is never served the schema read before it.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val Sf = "/root/testdata/sf0.001"

  private def tmpDir(): String = Files.createTempDirectory("graft-tables").toString

  private def inferred(path: String) = spark.read.parquet(path).schema

  /** Jobs started by `body`, counted after the listener bus is drained. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    ListenerDrain.drain(sc)
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try { body; ListenerDrain.drain(sc); n.get } finally sc.removeSparkListener(listener)
  }

  test("a second load of a table runs no job and reads the inferred schema") {
    Tables.lineitem(spark, Sf)
    assert(jobsOf(Tables.lineitem(spark, Sf)) === 0)
    Tables.names.foreach { t =>
      assert(Tables.load(spark, Sf, t).schema === inferred(s"$Sf/$t.parquet"), t)
    }
    // a fresh copy is a new key: the counter sees its one inference
    val dir = tmpDir()
    Files.copy(Paths.get(s"$Sf/lineitem.parquet"), Paths.get(s"$dir/lineitem.parquet"))
    assert(jobsOf(Tables.lineitem(spark, dir)) >= 1)
    assert(jobsOf(Tables.lineitem(spark, dir)) === 0)
  }

  test("a table rewritten at the same path reads its new schema") {
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("id", "s"))
    Seq((1.5, 2L, true)).toDF("x", "y", "z")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = Tables.load(spark, dir, "t")
    assert(t.schema === inferred(s"$dir/t.parquet"))
    assert(t.as[(Double, Long, Boolean)].collect().toSeq === Seq((1.5, 2L, true)))

    // a single file replaced under the same name (a non-Spark writer)
    def partOf(table: String) = Files.list(Paths.get(s"$dir/$table.parquet"))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    Seq(7L).toDF("k").write.parquet(s"$dir/old.parquet")
    val single = Paths.get(s"$dir/u.parquet")
    Files.copy(partOf("old"), single)
    assert(Tables.load(spark, dir, "u").columns.toSeq === Seq("k"))
    Files.copy(partOf("t"), single, StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.load(spark, dir, "u").columns.toSeq === Seq("x", "y", "z"))
  }

  test("the nanos conf is part of the key: TIMESTAMP(NANOS) still fails without it") {
    val dir = tmpDir()
    val schema = MessageTypeParser.parseMessageType(
      "message ev { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val out = HadoopOutputFile.fromPath(new Path(s"$dir/ev.parquet"),
      spark.sparkContext.hadoopConfiguration)
    val writer = ExampleParquetWriter.builder(out).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1704448800000000123L))
    finally writer.close()

    val before = spark.conf.getOption(Tables.NanosAsLong)
    try {
      spark.conf.set(Tables.NanosAsLong, "true")
      assert(Tables.load(spark, dir, "ev").schema("ts").dataType === LongType)
      spark.conf.unset(Tables.NanosAsLong)
      val e = intercept[Exception](Tables.load(spark, dir, "ev"))
      assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
      spark.conf.set(Tables.NanosAsLong, "true")
      assert(jobsOf(assert(Tables.load(spark, dir, "ev").schema("ts").dataType === LongType)) === 0)
    } finally before match {
      case Some(v) => spark.conf.set(Tables.NanosAsLong, v)
      case None => spark.conf.unset(Tables.NanosAsLong)
    }
  }

  test("four threads loading one table at once all read its schema") {
    val dir = tmpDir()
    Files.copy(Paths.get(s"$Sf/orders.parquet"), Paths.get(s"$dir/orders.parquet"))
    val expected = inferred(s"$dir/orders.parquet")
    val pool = Executors.newFixedThreadPool(4)
    try {
      val start = new CountDownLatch(1)
      val loads = (1 to 4).map(_ => pool.submit(() => {
        start.await()
        Tables.orders(spark, dir).schema
      }))
      start.countDown()
      loads.foreach(f => assert(f.get(60, TimeUnit.SECONDS) === expected))
    } finally pool.shutdown()
  }
}
