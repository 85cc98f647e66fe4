package graft.harness

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import graft.streaming.{DocStream, EventStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming blocks of the [[graft.Bench]] record: MemoryStream drives
  * split into several micro-batches, so the cross-batch state machinery
  * (keyed dedup, batch_id partition commits) is on the measured path.
  * Rates are rows/s: HIGHER is better, unlike the query seconds.
  *
  * A drive that throws reads −1 in every key; a drive that cannot run
  * says why under `skipped` instead, so "not run" never looks like a
  * failure or a number.
  */
object StreamingBench {

  /** The sf1.0 ScaleData derivative the million-key drive needs
    * (`runMain graft.tools.ScaleData <sf0.1> target/scaledata/sf1.0 10`).
    */
  val Sf1Dir = "target/scaledata/sf1.0"

  private val CurateKeys =
    Seq("curate_docs_per_s", "curate_docs_per_s_large", "sketch_events_per_s")

  private val LargeStateKeys = Seq("curate_sf1_docs_per_s", "curate_sf1_state_rows",
    "curate_sf1_state_mb", "curate_sf1_out_rows", "restore_first_batch_s",
    "restore_docs_per_s", "restore_reprocessed_rows", "restore_out_rows",
    "restore_dup_leaks", "lsh_index_sf1_docs_per_s")

  private val StateStore = "spark.sql.streaming.stateStore.providerClass"

  /** Runs one drive in a fresh temp dir. On every exit path the streaming
    * queries it left active stop (a RocksDB-backed query left running
    * outlives the drive), the dir is deleted and the pinned RDDs are
    * released; a throw reads −1 in every key.
    */
  private def drive(spark: SparkSession, label: String, keys: Seq[String])(
      body: String => Seq[Any]): ListMap[String, Any] = {
    val values =
      try {
        val base = java.nio.file.Files.createTempDirectory(s"graft-bench-$label").toString
        val before = spark.streams.active.map(_.id).toSet
        try Harness.releasing(spark)(body(base))
        finally {
          spark.streams.active.filterNot(q => before(q.id))
            .foreach(q => try q.stop() catch { case NonFatal(_) => () })
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
        }
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] $label streaming failed: ${e.getMessage}")
        keys.map(_ => -1)
      }
    ListMap(keys.zip(values): _*)
  }

  /** A documents corpus for the curate chain, and the benchmark
    * fingerprint set its decontamination gate joins against.
    */
  private def corpus(spark: SparkSession, dir: String): (Array[DocStream.Doc], DataFrame) = {
    import spark.implicits._
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val docs = docsDf.select(col("doc_id"), col("text"), col("lang"), col("source"))
      .as[DocStream.Doc].collect()
    val benchFps = docsDf.filter(col("doc_id") < 50)
      .select(explode(graft.llm.TextAnalysis.shingles(col("text"), 5)).as("g"))
      .select(substring(md5(col("g")), 1, 16).as("fp")).distinct()
    (docs, benchFps)
  }

  /** Corpus copy `c` with offset ids and a per-copy suffix token: distinct
    * fingerprints, so the dedup state grows instead of collapsing onto
    * the base corpus.
    */
  private def copy(docs: Array[DocStream.Doc], c: Int, offset: Long): Seq[DocStream.Doc] =
    docs.toSeq.map(d => d.copy(doc_id = d.doc_id + c * offset,
      text = if (d.text == null) null else d.text + " copyt" + c))

  private def rate(rows: Long, t0: Long): Double = rows / ((System.nanoTime() - t0) / 1e9)

  /** Bench-SF drives: the curate gate chain (quality, decontamination,
    * cross-batch exact dedup) over the corpus in two batches, then over
    * 20 copies in 4 batches (the two-batch drive is state-store fixed
    * cost at bench SFs), and the quantile-sketch sink over 200k synthetic
    * events in two batches.
    */
  def curate(spark: SparkSession, sfDir: String): ListMap[String, Any] =
    drive(spark, "curate", CurateKeys) { base =>
      import spark.implicits._
      implicit val sq = spark.sqlContext
      val (docs, benchFps) = corpus(spark, sfDir)
      def curateRate(batches: Seq[Seq[DocStream.Doc]], ckpt: String): Long = {
        val in = MemoryStream[DocStream.Doc]
        val q = DocStream.curate(in.toDF(), benchFps).writeStream
          .format("noop").option("checkpointLocation", s"$base/$ckpt").start()
        val t0 = System.nanoTime()
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        val r = math.round(rate(batches.map(_.length).sum, t0))
        q.stop()
        r
      }
      val (d1, d2) = docs.toSeq.splitAt(docs.length / 2)
      val small = curateRate(Seq(d1, d2), "cckpt")
      val big = (0 until 20).flatMap(copy(docs, _, 10000000L))
      val large = curateRate(big.grouped(math.max(1, big.length / 4)).toSeq, "cckpt2")
      val evs = (1 to 200000).map(i => EventStream.Event(i.toLong,
        new java.sql.Timestamp(1700000000000L + i), (i % 1000).toLong, "m", (i % 500) * 0.37))
      val ein = MemoryStream[EventStream.Event]
      val evq = EventStream.quantileSketchSink(ein.toDF(), s"$base/store", s"$base/sckpt")
      val t1 = System.nanoTime()
      evs.grouped(evs.length / 2).foreach { b => ein.addData(b: _*); evq.processAllAvailable() }
      val sketch = math.round(rate(evs.length, t1))
      evq.stop()
      Seq(small, large, sketch)
    }

  /** Million-key state on the sf1.0 derivative, on the RocksDB state store
    * (the provider a deployment would run; the in-memory default measures
    * a HashMap): copies 0-14 of its corpus in 3 waves (~715k dedup-state
    * keys), then a RESTARTED query over copies 15-18 plus an exact re-send
    * of copy 0, whose rows must all be deduplicated by the restored state.
    * Last, the LSH index-maintenance sink over the raw corpus in 4
    * batches, whose corpus-sized state lives in parquet stores.
    */
  def largeState(spark: SparkSession, sf1: String): ListMap[String, Any] = {
    if (!new java.io.File(s"$sf1/documents.parquet").exists())
      return ListMap(
        "skipped" -> s"no sf1.0 derivative at ${new java.io.File(sf1).getAbsolutePath}")
    try drive(spark, "large-state", LargeStateKeys) { base =>
      import spark.implicits._
      implicit val sq = spark.sqlContext
      val (docs, benchFps) = corpus(spark, sf1)
      val waves13 = (0 until 15).map(copy(docs, _, 100000000L))
      val wave4 = (15 until 19).flatMap(copy(docs, _, 100000000L)) ++ copy(docs, 0, 100000000L)
      spark.conf.set(StateStore,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val ckpt = s"$base/ckpt"
      val outRows = spark.sparkContext.longAccumulator("curateOut1")
      val outRows2 = spark.sparkContext.longAccumulator("curateOut2")
      val dup2 = spark.sparkContext.longAccumulator("curateDupLeak2")
      val din = MemoryStream[DocStream.Doc]
      val dq = DocStream.curate(din.toDF(), benchFps).writeStream
        .foreachBatch { (b: DataFrame, _: Long) => outRows.add(b.count()); () }
        .option("checkpointLocation", ckpt).start()
      val t0 = System.nanoTime()
      waves13.foreach { w => din.addData(w: _*); dq.processAllAvailable() }
      val ingestRate = rate(waves13.map(_.length).sum, t0)
      val stateOps = Option(dq.lastProgress).map(_.stateOperators.toSeq).getOrElse(Nil)
      val stateRows = stateOps.map(_.numRowsTotal).sum
      val stateMb = stateOps.map(_.memoryUsedBytes).sum / 1e6
      dq.stop()
      // the restart's first trigger replays the offset log and reloads
      // the ~715k-key store before wave 4 is touched
      din.addData(wave4: _*)
      val t1 = System.nanoTime()
      val dq2 = DocStream.curate(din.toDF(), benchFps).writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          // one action for both counts: a second action would re-run the
          // stateful dedup, and its state-store reads, per batch
          val row = b.agg(count(lit(1)),
            count(when((col("doc_id") % 1000000000000L) < 100000000L, lit(1)))).head()
          outRows2.add(row.getLong(0)); dup2.add(row.getLong(1)); ()
        }
        .option("checkpointLocation", ckpt).start()
      dq2.processAllAvailable()
      val restoreRate = rate(wave4.length, t1)
      val firstBatchS = dq2.recentProgress.headOption
        .flatMap(p => Option(p.durationMs.get("triggerExecution")))
        .map(_.longValue / 1000.0).getOrElse(-1.0)
      // exactly-once across the restart: any input beyond wave 4 is
      // reprocessed history
      val reprocessed = dq2.recentProgress.map(_.numInputRows).sum - wave4.length
      dq2.stop()
      spark.conf.unset(StateStore)
      val lin = MemoryStream[DocStream.Doc]
      val lq = DocStream.maintainLshIndex(lin.toDF(),
        s"$base/corpus", s"$base/pairs", s"$base/lckpt")
      val t2 = System.nanoTime()
      docs.grouped(math.max(1, docs.length / 4)).foreach { b =>
        lin.addData(b.toIndexedSeq: _*); lq.processAllAvailable()
      }
      val lshRate = rate(docs.length, t2)
      lq.stop()
      Seq(math.round(ingestRate), stateRows, math.round(stateMb), outRows.value,
        firstBatchS, math.round(restoreRate), reprocessed, outRows2.value, dup2.value,
        math.round(lshRate))
    } finally spark.conf.unset(StateStore)
  }
}
