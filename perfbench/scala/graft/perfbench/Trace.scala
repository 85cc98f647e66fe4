package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counters of one span: everything the stages attributed to it did. */
final class Work {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, inBytes, outBytes, outRows = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L

  def add(s: org.apache.spark.scheduler.StageInfo): Unit = {
    val m = s.taskMetrics
    stages += 1
    tasks += s.numTasks
    cpuNs += m.executorCpuTime
    runMs += m.executorRunTime
    gcMs += m.jvmGCTime
    inBytes += m.inputMetrics.bytesRead
    outBytes += m.outputMetrics.bytesWritten
    outRows += m.outputMetrics.recordsWritten
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    spillBytes += m.diskBytesSpilled
  }

  def fields: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "cpu_ns" -> cpuNs,
    "run_ms" -> runMs, "gc_ms" -> gcMs, "in_bytes" -> inBytes,
    "out_bytes" -> outBytes, "out_rows" -> outRows,
    "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
    "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spillBytes)
}

final case class Span(id: Long, name: String, parent: Long, startNs: Long) {
  var endNs = 0L
  val work = new Work
}

/** One SQL execution seen by the QueryExecutionListener. Its events arrive
  * on the listener bus thread, which carries no span id; ops run one at a
  * time and the bus is drained after each, so every execution drained
  * after an op belongs to that op.
  */
final case class SqlExec(plan: String, durNs: Long, phasesMs: Map[String, Long])

/** Executor CPU summed over every completed stage: the untraced cost
  * counter. Always registered, traced or not.
  */
final class CpuCounter extends SparkListener {
  val cpuNs = new AtomicLong(0L)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    cpuNs.addAndGet(e.stageInfo.taskMetrics.executorCpuTime)
}

/** Where an op's calls into the engine are wrapped. */
trait Spans {
  def span[T](name: String)(body: => T): T
}

/** Untraced ops: the same calls, no spans, no listeners. */
object NoSpans extends Spans {
  def span[T](name: String)(body: => T): T = body
}

/** Spans opened by the benchmark around calls into the engine's public
  * entry points. The id of the innermost open span is set as a
  * SparkContext local property, so every job submitted while it is open —
  * eager checkpoint actions during query construction included — carries
  * it, and the listeners below bill that job's stages to it.
  *
  * Spans live in memory until the run ends. A tracer is attached only
  * around traced ops; untraced ops run through [[NoSpans]].
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with Spans {
  import Tracer.Prop

  private val sc: SparkContext = spark.sparkContext
  private var nextId = 1L
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  val sql = new java.util.concurrent.ConcurrentLinkedQueue[SqlExec]()
  /** cpu of stages whose job carried no span id (should stay 0) */
  val unattributedCpuNs = new AtomicLong(0L)

  def span[T](name: String)(body: => T): T = {
    val parent = if (stack.isEmpty) 0L else stack.top.id
    val s = Span(nextId, name, parent, System.nanoTime())
    nextId += 1
    spans += s
    byId.put(s.id, s)
    stack.push(s)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(Prop, if (stack.isEmpty) null else stack.top.id.toString)
    }
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .flatMap(id => Option(byId.get(id.toLong)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      s.work.synchronized(s.work.jobs += 1)
      e.stageIds.foreach(id => stageSpan.putIfAbsent(id, s))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)) match {
      case Some(s) => s.work.synchronized(s.work.add(e.stageInfo))
      case None => unattributedCpuNs.addAndGet(e.stageInfo.taskMetrics.executorCpuTime)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    sql.add(SqlExec(qe.logical.toString.take(2000), durationNs, phases))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Tracer {
  val Prop = "perfbench.span"
}
