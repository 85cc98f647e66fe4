package graft.harness

import java.util.concurrent.{ConcurrentLinkedQueue, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.graftshim.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** One completed stage's work; `records` counts its shuffle-written rows. */
final case class StageRow(name: String, cpuNs: Long, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, records: Long)

/** The work of one [[Harness.measure]]d body: its wall-clock and the
  * stages it completed. `stages` is None when the listener bus could not
  * be drained around the body (event tails could then be billed to the
  * wrong body, so the work is unattributable) or when the body threw;
  * the work columns then read −1.
  */
final case class Work(wallS: Double, stages: Option[Seq[StageRow]]) {
  private def sum(f: StageRow => Long, unit: Double) = stages.fold(-1.0)(_.map(f).sum / unit)
  def cpuS: Double = sum(_.cpuNs, 1e9)
  def shuffleWriteMb: Double = sum(_.shuffleWriteBytes, 1e6)
  def shuffleReadMb: Double = sum(_.shuffleReadBytes, 1e6)
  def spillMb: Double = sum(_.spillBytes, 1e6)
}

/** The measurement harness every main runs on: one session factory, one
  * work listener and one per-query lifecycle ([[measure]]).
  *
  * Core count: `SPARK_GRAFT_CPUS`, else every available processor.
  * `SPARK_GRAFT_MASTER` overrides the `local[cpus]` master; the designed
  * use is `local-cluster[N,cores,memMB]`, which forks real executor JVMs
  * (separate processes, real serialization and RPC) on one machine.
  * `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` is applied last, over every default.
  */
object Harness {

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Where the generated scale-factor table directories live. */
  val TestData = "/root/testdata"

  /** Bench-scale tables ([[graft.Bench]], [[graft.tools.TimeQuery]]). */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"$TestData/sf0.1")

  /** The smallest SF: warm-up runs fill the JIT and codegen caches cheaply. */
  val WarmDir = s"$TestData/sf0.001"

  /** local-cluster executors see only the Spark distribution (Spark adds
    * the JDK module opens to their options itself), so the engine classes
    * are forwarded from where THIS class was loaded, not the working
    * directory; `SPARK_GRAFT_CLASSPATH` overrides for packaged-jar runs.
    * A missing path fails here, not at the first task.
    */
  private def engineClasspath: String = sys.env.get("SPARK_GRAFT_CLASSPATH")
    .orElse(Option(Harness.getClass.getProtectionDomain.getCodeSource)
      .map(src => new java.io.File(src.getLocation.toURI).getAbsolutePath))
    .filter(new java.io.File(_).exists())
    .getOrElse(sys.error("local-cluster executors need the engine classes: " +
      "set SPARK_GRAFT_CLASSPATH to the classes dir or jar, or build first"))

  /** The one session factory: runs `f` on a fresh session and stops it on
    * every exit path.
    */
  def withSession[T](f: SparkSession => T): T = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val defaults = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // the default generated-class cache holds 100 entries; a session
      // running dozens of query shapes evicts its own warm-up and re-pays
      // janino compilation on every timed run (measured: up to 5x on
      // regex-heavy plans)
      "spark.sql.codegen.cache.maxEntries" -> "10000")
    val cluster =
      if (!master.startsWith("local-cluster")) Nil
      else Seq(
        "spark.executor.extraClassPath" -> engineClasspath,
        "spark.executor.memory" -> sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "7g"))
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';')).filter(_.contains('='))
      .map { kv => val Array(k, v) = kv.split("=", 2); k.trim -> v.trim }
    val spark = (defaults ++ cluster ++ extra)
      .foldLeft(SparkSession.builder().master(master)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try f(spark) finally spark.stop()
  }

  /** Records every completed stage's executor cpu, shuffle and spill. */
  private final class WorkListener extends SparkListener {
    val stages = new ConcurrentLinkedQueue[StageRow]

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val (info, m) = (s.stageInfo, s.stageInfo.taskMetrics)
      stages.add(StageRow(s"${info.stageId}[${info.numTasks}t]:${info.name.take(60)}",
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.shuffleWriteMetrics.recordsWritten))
    }
  }

  private val listeners = mutable.Map.empty[SparkContext, WorkListener]

  private def listener(sc: SparkContext): WorkListener = listeners.synchronized {
    listeners.getOrElseUpdate(sc, { val l = new WorkListener; sc.addSparkListener(l); l })
  }

  /** Blocks until every posted listener event has been dispatched; false
    * when the bus did not drain within its timeout.
    */
  private def drained(sc: SparkContext): Boolean =
    try { ListenerDrain.drain(sc); true }
    catch { case _: TimeoutException =>
      System.err.println("[harness] listener bus failed to drain in 10s")
      false
    }

  private def pinned(sc: SparkContext) = sc.getPersistentRDDs

  /** Unpersists what became pinned since `before`. Non-blocking, so the
    * cleanup is never billed to whatever runs next.
    */
  private def release(sc: SparkContext, before: collection.Set[Int]): Unit =
    (pinned(sc) -- before).values.foreach(_.unpersist(blocking = false))

  /** Runs `body` and then, on every exit path, unpersists exactly the RDDs
    * it pinned (eager `localCheckpoint`s of staged operators). Blocks left
    * behind stack up across queries in one JVM and read as fake 5-30x
    * regressions in whatever runs next; RDDs pinned before `body` stay.
    */
  def releasing[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val before = pinned(sc).keySet
    try body finally release(sc, before)
  }

  /** The per-query lifecycle: drain the listener bus, clear the stage
    * rows, time `body`, drain again and read; then, even when `body`
    * throws, release what it pinned and collect the heap, so the garbage
    * one body leaves is never billed to the next one's cpu. Not for
    * concurrent use: the stage rows are per session.
    */
  def measure(spark: SparkSession)(body: => Any): Work = {
    val sc = spark.sparkContext
    val l = listener(sc)
    val before = pinned(sc).keySet
    val preDrained = drained(sc)
    l.stages.clear()
    val t0 = System.nanoTime()
    try {
      body
      val wall = (System.nanoTime() - t0) / 1e9
      Work(wall, if (preDrained && drained(sc)) Some(l.stages.asScala.toSeq) else None)
    } finally {
      release(sc, before)
      System.gc()
    }
  }

  /** Executes a registered query through the `noop` sink, so the FULL
    * physical plan runs: a bare `.count()` lets Catalyst prune most of it.
    */
  def noop(spark: SparkSession, name: String, dir: String): Unit =
    graft.SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Renders maps (a `ListMap` keeps its order), sequences and scalars. */
  def json(value: Any): String = mapper.writeValueAsString(value)
}
