package graft.tools

import graft.SparkEntry
import graft.harness.Harness
import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query timing for performance iteration:
  * `runMain graft.tools.TimeQuery <name>[,<name>...] [reps]` warms each
  * query once at the smallest SF, then [[Harness.measure]]s `reps`
  * executions at SPARK_GRAFT_SF_DIR through the noop sink — the same
  * lifecycle and work listener [[graft.Bench]] uses. Per rep
  * it prints wall seconds and WORK: executor cpu, shuffle write/read and
  * spill. On a host with multi-second stalls, wall-clock A/Bs of plan
  * changes are noise; cpu and shuffle volume are deterministic per plan
  * (kcore: wall reps spread 12-299 s while cpu held within ±5%).
  *
  * `EXPLAIN=1` also prints the formatted physical plan; `STAGES=1` also
  * prints the 12 costliest stages of each rep.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(',').toSeq)
      .getOrElse(sys.error("usage: TimeQuery <name>[,name...] [reps]"))
    val reps = if (args.length > 1) args(1).toInt else 3
    Harness.withSession(run(_, names, reps, Harness.sfDir))
  }

  def run(spark: SparkSession, names: Seq[String], reps: Int, sfDir: String): Unit =
    names.foreach { name =>
      Harness.measure(spark)(Harness.noop(spark, name, Harness.WarmDir))
      if (sys.env.contains("EXPLAIN"))
        Harness.releasing(spark)(SparkEntry.queries(name)(spark, sfDir).explain("formatted"))
      val times = (1 to reps).map { _ =>
        val w = Harness.measure(spark)(Harness.noop(spark, name, sfDir))
        println(f"[work] $name wall=${w.wallS}%.3f cpu=${w.cpuS}%.2f " +
          f"shufW=${w.shuffleWriteMb}%.1fMB shufR=${w.shuffleReadMb}%.1fMB " +
          f"spill=${w.spillMb}%.1fMB")
        if (sys.env.contains("STAGES"))
          w.stages.getOrElse(Nil).sortBy(-_.cpuNs).take(12).foreach { s =>
            println(f"[stage] cpu=${s.cpuNs / 1e9}%8.2f spill=${s.spillBytes / 1e6}%8.1fMB " +
              f"rows=${s.records}%12d shufW=${s.shuffleWriteBytes / 1e6}%8.1fMB  ${s.name}")
          }
        w.wallS
      }
      println(f"[time] $name reps=${times.map(t => f"$t%.3f").mkString(",")} min=${times.min}%.3f")
    }
}
