package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftshim.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{functions, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.SparkEntry
import graft.etl.{EtlPipeline, Sinks}
import graft.functions.GraftExtensions

/** The benchmark's JVM side: one Spark session at `local[cores]`, one
  * driver thread issuing ops in a closed loop (the next op starts when the
  * previous one returns).
  *
  * {{{
  * PerfMain --workload W --ops a,b,.. --warmup R --passes P --seed N
  *          --seconds S --trace 0|1 --inputs DIR --out DIR --cores C
  * }}}
  *
  * An op is one query name (its plan built by `SparkEntry.queries` and
  * executed through the `noop` sink), or `etl_load` (`EtlPipeline.run` plus
  * `Sinks.overwriteParquet` into a fresh directory).
  *
  * Phases: set-up (session, extension registration, then `warmup` rounds
  * of the ops on the run's inputs, `cores` ops in flight, the first of
  * which keeps every op's output for checking), then the timed phase,
  * which runs whole passes over the op list, each in a seeded order, until at least
  * `passes` passes and `seconds` have gone by. Between ops the listener
  * bus is drained, the heap collected and the op's persisted blocks
  * released, all untimed. Before every pass [[refJob]] runs [[RefReps]]
  * times, each timed on its own: readings of the host's speed taken among
  * the ops. With `--trace 1` every op of the timed phase runs twice,
  * untraced and traced, so the difference is the tracing overhead. Everything measured is written raw to `out/run.json`;
  * perfbench/run.py turns it into metrics and checks the outputs.
  */
object PerfMain {

  /** A fixed Spark job that calls no engine code: string building,
    * hashing, splitting and trimming, then a shuffle aggregation over
    * generated rows, on every core. It does the kinds of work the ops do
    * (generated code, short-lived strings, hash maps, shuffle files, GC),
    * so when the shared host slows down it slows down with them; a change
    * to the engine cannot move it.
    */
  def refJob(spark: SparkSession, cores: Int): Unit =
    spark.range(0L, 200000L, 1L, cores)
      .selectExpr("id % 65521 AS k",
        "concat_ws(',', CAST(id AS STRING), sha2(CAST(id AS STRING), 256), ' x ') AS line")
      .selectExpr("k", "split(upper(trim(line)), ',') AS f")
      .groupBy("k").agg(functions.max(functions.expr("f[1]")),
        functions.sum(functions.expr("length(f[2])")), functions.count("*"))
      .write.format("noop").mode("overwrite").save()

  /** Readings of [[refJob]] before each pass. */
  val RefReps = 3

  /** A fixed single-thread CPU kernel (xorshift loop plus a sort); the
    * fastest of three timings, to compare host speed across runs.
    */
  def cpuKernel(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    val a = Array.tabulate(1 << 19)(j => ((j * 2654435761L + acc) & 0xffffffL).toInt)
    java.util.Arrays.sort(a)
    if (a(0) == 42 && acc == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }.min

  final case class Config(workload: String, ops: Seq[String], warmup: Int, passes: Int,
      seed: Long, seconds: Double, traced: Boolean, inputs: String, out: String,
      cores: Int)

  def parse(args: Array[String]): Config = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Config(o("workload"), o("ops").split(',').toSeq, o("warmup").toInt, o("passes").toInt,
      o("seed").toLong, o("seconds").toDouble, o("trace") == "1", o("inputs"),
      o("out"), o("cores").toInt)
  }

  def newSession(c: Config): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep the status store small: its size would follow the op count
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"${c.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.out}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)
    spark
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val names = c.ops
    val isEtl = names == Seq("etl_load")
    // the kernel's own time is taken out of the set-up time below
    val tk = System.nanoTime()
    val kernelStart = cpuKernel()
    val kernelWall = (System.nanoTime() - tk) / 1e9
    val spark = newSession(c)
    val sc = spark.sparkContext
    val cpu = new CpuCounter
    sc.addSparkListener(cpu)

    def drain(): Unit = ListenerDrain.drain(sc)
    def pinnedBytes(): Long =
      sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    // checkpointed blocks of one op must not stay pinned into the next
    def dropQueryState(): Unit =
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    val etlIn = Seq("patients.csv", "encounters.csv", "diagnoses.xml")
      .map(f => s"${c.inputs}/$f")
    def etlOp(s: Spans, outDir: String): Unit = {
      val r = s.span("etl.build") {
        EtlPipeline.run(spark, etlIn(0), etlIn(1), etlIn(2))
      }
      s.span("etl.sink") { Sinks.overwriteParquet(r, outDir) }
    }
    def queryOp(s: Spans, name: String): Unit = {
      val df = s.span("query.build") { SparkEntry.queries(name)(spark, c.inputs) }
      s.span("query.exec") { df.write.format("noop").mode("overwrite").save() }
    }

    // ---- warm-up: `warmup` rounds over the op list, `cores` ops in flight
    // (a first execution's cost is mostly driver-side: planning, code
    // generation, JIT). Round 1 keeps every op's output for checking; later
    // rounds run the timed form of each op, enough copies to fill the cores.
    val warmErrors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(c.cores)
    val warmRounds = mutable.ArrayBuffer[Double]()
    for (round <- 1 to c.warmup) {
      val w0 = System.nanoTime()
      val copies = if (round == 1) 1 else math.max(1, c.cores / names.size)
      val tasks = for (n <- names; k <- 1 to copies) yield pool.submit(new Runnable {
        def run(): Unit =
          try {
            if (round == 1) {
              if (isEtl) etlOp(NoSpans, s"${c.out}/etl/warmup")
              else SparkEntry.queries(n)(spark, c.inputs)
                .write.mode("overwrite").parquet(s"${c.out}/check/$n")
            } else if (isEtl) etlOp(NoSpans, s"${c.out}/etl/warm-$round-$k")
            else queryOp(NoSpans, n)
          } catch { case NonFatal(e) => warmErrors.put(n, String.valueOf(e.getMessage)) }
      })
      tasks.foreach(_.get())
      warmRounds += (System.nanoTime() - w0) / 1e9
    }
    pool.shutdown()
    dropQueryState()
    System.gc()
    val setup = sinceJvmStart() - kernelWall
    // the reference job's first runs (code generation, JIT) stay out of
    // its readings: its third run can still take half again as long
    (1 to 3).foreach(_ => refJob(spark, c.cores))

    // ---- timed phase
    val records = mutable.ArrayBuffer[Map[String, Any]]()
    var etlSeq = 0
    val heap = ManagementFactory.getMemoryMXBean
    var heapPeak = 0L

    def runOp(name: String, pass: Int, traced: Boolean): Unit = {
      var err: Option[String] = None
      def drainOrFail(): Unit =
        try drain()
        catch { case NonFatal(_) => err = err.orElse(Some("listener bus did not drain")) }
      drainOrFail()
      cpu.cpuNs.set(0L)
      val tracer = if (traced) { val t = new Tracer(spark); t.attach(); t } else null
      val spans: Spans = if (traced) tracer else NoSpans
      val outDir = if (isEtl) { etlSeq += 1; Some(f"${c.out}/etl/op-$etlSeq%05d") } else None
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cgNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      try spans.span("op") {
        if (isEtl) etlOp(spans, outDir.get) else queryOp(spans, name)
      } catch { case NonFatal(e) => err = Some(String.valueOf(e.getMessage)) }
      val wall = (System.nanoTime() - t0) / 1e9
      val pinned = if (traced) pinnedBytes() else 0L
      drainOrFail()
      if (traced) tracer.detach()
      // heap the op leaves live, its pinned blocks included; the collection
      // also keeps one op's garbage from billing GC pauses to the next op.
      // The pause lets the context cleaner drop the blocks of broadcasts
      // the first collection found dead, which it does on its own thread.
      System.gc()
      Thread.sleep(100)
      System.gc()
      heapPeak = math.max(heapPeak, heap.getHeapMemoryUsage.getUsed)
      dropQueryState()
      val traceFields: Seq[(String, Any)] = if (!traced) Nil else Seq(
        "spans" -> tracer.spans.toSeq.map(s => Map(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "work" -> s.work.fields)),
        "sql" -> tracer.sql.asScala.toSeq.map(q => Map(
          "plan" -> q.plan, "dur_ns" -> q.durNs, "phases_ms" -> q.phasesMs)),
        "unattributed_cpu_ns" -> tracer.unattributedCpuNs.get,
        "pinned_bytes" -> pinned,
        "codegen_classes" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0),
        "codegen_ns" -> (CodeGenerator.compileTime - cgNs0))
      records += (Seq[(String, Any)](
        "name" -> name, "pass" -> pass, "traced" -> traced, "wall_s" -> wall,
        "cpu_s" -> cpu.cpuNs.get / 1e9,
        "error" -> err, "out" -> outDir) ++ traceFields).toMap
    }

    val refs = mutable.ArrayBuffer[(Double, Double)]()
    def readHostSpeed(): Unit = (1 to RefReps).foreach { _ =>
      // a reading whose cpu the listener bus did not deliver is dropped
      try {
        drain()
        cpu.cpuNs.set(0L)
        val r0 = System.nanoTime()
        refJob(spark, c.cores)
        val wall = (System.nanoTime() - r0) / 1e9
        drain()
        refs += ((wall, cpu.cpuNs.get / 1e9))
      } catch { case NonFatal(_) => () }
      System.gc()
    }

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    while (pass < c.passes || elapsed < c.seconds) {
      readHostSpeed()
      val order = new scala.util.Random(c.seed * 7919L + pass).shuffle(names)
      order.zipWithIndex.foreach { case (n, i) =>
        if (c.traced) {
          // alternate which variant runs first, so neither is always warmer
          val tracedFirst = (pass + i) % 2 == 1
          runOp(n, pass, tracedFirst)
          runOp(n, pass, !tracedFirst)
        } else runOp(n, pass, traced = false)
      }
      pass += 1
    }
    val timed = elapsed
    val kernelEnd = cpuKernel()

    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    val run = Map(
      "workload" -> c.workload, "seed" -> c.seed, "cores" -> c.cores,
      "traced" -> c.traced, "setup_s" -> setup,
      "warmup_errors" -> warmErrors.asScala.toMap, "timed_s" -> timed,
      "kernel_start_s" -> kernelStart, "kernel_end_s" -> kernelEnd,
      "heap_peak_bytes" -> heapPeak, "warmup_round_s" -> warmRounds.toSeq,
      "ref_wall_s" -> refs.map(_._1).toSeq, "ref_cpu_s" -> refs.map(_._2).toSeq,
      "oracle_sql" -> oracle, "ops" -> records.toSeq)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(c.out, "run.json"), run)
    spark.stop()
  }
}
