package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.harness.Harness
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Dumps `explain(formatted)` of registered queries: the audit substrate
  * for optimization work (Exchange count, join strategy,
  * PushedFilters/ReadSchema per plan).
  *
  *   - `runMain graft.tools.PlanDump headline [sfDir]` regenerates
  *     docs/PLANS.md: every headline query's plan, the committed evidence
  *     that each has the shape a large cluster needs (pushdown, broadcast
  *     dims, partial aggs, TakeOrderedAndProject). Re-run after
  *     plan-affecting changes.
  *   - `runMain graft.tools.PlanDump <outDir> <name>[,<name>...]|headline [sfDir]`
  *     writes `<outDir>/<name>.txt` per query (the `plans/rNN/` evidence)
  *     and prints exchange/scan/join counts.
  *
  * Plans are the STATIC (pre-AQE) formatted physical plans. With `EXEC=1`
  * each query is executed once and the EXECUTED (post-AQE) plan is dumped
  * instead — the only place AQE's runtime join rewrites and exchange reuse
  * show — followed by each operator's non-zero SQL metrics (rows out,
  * time, spill). Building a plan still runs any eager stage checkpoints,
  * so a dump at a big SF does real (bounded) work; what it pins is
  * released after each query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = Harness.withSession { spark =>
    args.toSeq match {
      case Seq("headline", rest @ _*) =>
        headline(spark, rest.headOption.getOrElse(s"${Harness.TestData}/sf0.01"))
      case Seq(outDir, names, rest @ _*) =>
        val selected = if (names == "headline") SparkEntry.headlineNames else names.split(',').toSeq
        dump(spark, outDir, selected, rest.headOption.getOrElse(s"${Harness.TestData}/sf0.1"),
          sys.env.contains("EXEC"))
      case _ =>
        sys.error("usage: PlanDump headline [sfDir] | <outDir> <name>[,name...]|headline [sfDir]")
    }
  }

  /** Writes docs/PLANS.md from the static plans of the headline queries. */
  def headline(spark: SparkSession, sfDir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# Physical plans — headline queries\n\n")
    sb.append(s"Generated by `graft.tools.PlanDump headline` on `$sfDir`. What to look for:\n")
    sb.append("`PushedFilters`/pruned `ReadSchema` at every parquet scan, ")
    sb.append("`BroadcastHashJoin` for dimension joins, `partial_...` aggregate ")
    sb.append("modes before each exchange (map-side combine), ")
    sb.append("`TakeOrderedAndProject` for top-K, and codegen ids on the hot ")
    sb.append("operators.\n")
    SparkEntry.headlineNames.foreach { name =>
      plan(spark, name, sfDir, exec = false) match {
        case Right((p, _)) => sb.append(s"\n## $name\n\n```\n$p```\n")
        case Left(msg) => sb.append(s"\n## $name\n\nFAILED TO PLAN: $msg\n")
      }
    }
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    println(s"[plandump] wrote docs/PLANS.md (${SparkEntry.headlineNames.size} queries)")
  }

  /** Writes `<outDir>/<name>.txt` per query, static or (`exec`) executed. */
  def dump(spark: SparkSession, outDir: String, names: Seq[String], sfDir: String,
      exec: Boolean): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val (text, ops) = plan(spark, name, sfDir, exec)
        .fold(msg => (s"FAILED TO PLAN: $msg\n", Nil), identity)
      Files.writeString(Paths.get(outDir, s"$name.txt"),
        if (ops.isEmpty) text else text + ops.mkString("\n== Operator metrics ==\n", "\n", "\n"))
      def n(op: String) = op.r.findAllIn(text).length
      println(s"[plan] $name exchanges=${n("Exchange")} scans=${n("Scan parquet")} " +
        s"bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")} reused=${n("ReusedExchange")}")
    }
  }

  /** One query's formatted plan and, when `exec`, its operator metrics;
    * Left(message) when it fails to build or run, so one broken query
    * cannot abort a dump and leave stale plans.
    */
  private def plan(spark: SparkSession, name: String, sfDir: String,
      exec: Boolean): Either[String, (String, Seq[String])] =
    try Harness.releasing(spark) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      // collect, not a noop write: the write would execute a COPY of the
      // plan (its own QueryExecution) and leave df's AQE plan unexecuted;
      // registry queries all return bounded results
      if (exec) df.collect()
      Right((stable(df.queryExecution.explainString(FormattedMode)),
        if (exec) metrics(df.queryExecution.executedPlan) else Nil))
    } catch { case NonFatal(e) =>
      System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      Left(e.getMessage)
    }

  /** `plan` without what differs between runs of one build: expression
    * and exchange ids (`count#43L`, `plan_id=2378`) renumbered by first
    * appearance, object identities (`KmvAgg@26b6c4de`) and lambda class
    * suffixes (`$$Lambda$5385/0x…`) dropped.
    */
  private def stable(plan: String): String = {
    val ids = mutable.HashMap.empty[String, Int]
    "(#|plan_id=)\\d+".r.replaceAllIn(plan,
      m => m.group(1) + ids.getOrElseUpdate(m.matched, ids.size + 1))
      .replaceAll("(?<=\\$\\$Lambda)(\\$\\d+)?/0x[0-9a-f]+", "")
      .replaceAll("(?<=[\\w$])@[0-9a-f]{1,8}\\b", "")
  }

  /** Per-operator SQL metrics of an executed plan (the SQL tab of a
    * headless session), indented by depth. AQE nests materialized stages
    * under QueryStageExec, whose subtrees plain traversal skips.
    */
  private def metrics(root: SparkPlan): Seq[String] = {
    def walk(n: SparkPlan, d: Int): Seq[String] = {
      val shown = n.metrics.toSeq.collect {
        case (k, m) if m.value > 0 &&
            (k.contains("ime") || k == "numOutputRows" || k.contains("pill")) => s"$k=${m.value}"
      }
      val kids = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => n.children
      }
      s"${"  " * d}${n.nodeName}: ${shown.mkString(" ")}" +: kids.flatMap(walk(_, d + 1))
    }
    walk(root, 0)
  }
}
