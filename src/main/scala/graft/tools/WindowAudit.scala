package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window}

/** Static scale audit: walk every registered query's optimized logical
  * plan and flag `Window` operators with an EMPTY partitionSpec — the
  * single-partition-sort shape that WindowExec warns about and that
  * dies first at 100× data. A window whose subtree contains a
  * GlobalLimit is reported as `bounded` (the frame is limit-rows tall
  * by construction — e.g. rank over an already-`limit(10)`ed result),
  * everything else as `UNPARTITIONED` and must be fixed or justified.
  *
  * Usage: runMain graft.tools.WindowAudit [sfDir]
  * Exit code 1 if any unbounded unpartitioned window is found.
  */
object WindowAudit {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val bad = graft.harness.Harness.withSession(audit(_, sf))
    if (bad > 0) sys.exit(1)
  }

  /** Prints one line per flagged window; returns the unbounded count. */
  def audit(spark: SparkSession, sf: String): Int = {
    var bad = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan =
          graft.harness.Harness.releasing(spark)(fn(spark, sf).queryExecution.optimizedPlan)
        plan.foreach {
          case w: Window if w.partitionSpec.isEmpty =>
            val bounded = w.child.collectFirst { case _: GlobalLimit => () }.nonEmpty
            if (bounded) println(s"[window-audit] $name: bounded (limit below)")
            else { bad += 1; println(s"[window-audit] $name: UNPARTITIONED") }
          case _ =>
        }
      } catch {
        case NonFatal(e) =>
          println(s"[window-audit] $name: build failed: ${e.getMessage.take(120)}")
      }
    }
    println(s"[window-audit] done, $bad unbounded unpartitioned window(s)")
    bad
  }
}
