package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.control.NonFatal

import graft.harness.Harness
import org.apache.spark.sql.SparkSession

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/oracle_check.py`).
  *
  * `runMain graft.Verify <sfDir> <outDir> [prefix,...]`; the optional
  * third argument keeps only queries whose names start with a prefix.
  *
  * `SPARK_GRAFT_VERIFY_TWICE=1` additionally re-runs every selected query
  * a SECOND time in the same session (into `<outDir>_second`) and diffs
  * the two dumps row-for-row — the determinism harness the cross-engine
  * oracle can't be: a query whose result depends on partition
  * accumulation order (a floating sum feeding a floor, an unstable
  * tiebreak) diverges between the two in-session runs long before it
  * flips an oracle hash. Prints `[determinism] <name>: OK|MISMATCH` per
  * query and a final summary line.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.lift(2).map(_.split(',').toSeq)
    graft.util.Freshness.check(Verify.getClass)
    Harness.withSession(run(_, sfDir, outDir, only))
  }

  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Seq[String]]): Unit = {
    val selected = SparkEntry.queries.keys.toSeq
      .filter(name => only.forall(_.exists(name.startsWith)))
    dump(spark, sfDir, outDir, selected)
    if (sys.env.get("SPARK_GRAFT_VERIFY_TWICE").exists(_.nonEmpty)) {
      val second = outDir + "_second"
      dump(spark, sfDir, second, selected)
      // canonicalize like the oracle compare: every cell via
      // String.valueOf, columns ordered by name, rows sorted — so a
      // MISMATCH is a value divergence, never a row-order artifact
      def canon(dir: String): Seq[String] = {
        val df = spark.read.parquet(dir)
        df.selectExpr(df.columns.sorted.toSeq.map(c => s"`$c`"): _*).collect().toSeq
          .map(r => (0 until r.length).map { i =>
            val c = r.get(i)
            if (c == null) "\u0000<null>" else String.valueOf(c)
          }.mkString("\u0001"))
          .sorted
      }
      // a query whose dump failed (in either run) is not evidence of
      // nondeterminism: SKIP, so a failing-but-stable query can't read
      // as an accumulation-order ghost
      val status = selected.sorted.map { name =>
        val s =
          try if (canon(s"$outDir/$name") == canon(s"$second/$name")) "OK" else "MISMATCH"
          catch { case NonFatal(_) => "SKIP (dump unreadable)" }
        System.err.println(s"[determinism] $name: $s")
        s
      }
      val bad = status.count(_ == "MISMATCH")
      val skip = status.count(_.startsWith("SKIP"))
      System.err.println(
        s"[determinism] summary: ${selected.size - bad - skip}/" +
          s"${selected.size} stable, $bad mismatched, $skip skipped")
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Harness.json(SparkEntry.oracleSql))
  }

  /** Writes each named query's result to `<dir>/<name>`, 4 queries in
    * flight (the small queries overlap the brute-ish ones, roughly halving
    * the wall). A query that fails is logged and skipped; a fatal error
    * ends the run. Once no query is in flight, every RDD the pass pinned
    * is released.
    */
  def dump(spark: SparkSession, sfDir: String, dir: String, names: Seq[String]): Unit = {
    new java.io.File(dir).mkdirs()
    Harness.releasing(spark) {
      val pool = Executors.newFixedThreadPool(4)
      try names.map { name =>
        pool.submit(new Callable[Unit] {
          def call(): Unit =
            try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
              .mode("overwrite").parquet(s"$dir/$name")
            catch { case NonFatal(e) =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
            }
        })
      }.foreach(f => try f.get() catch { case e: ExecutionException => throw e.getCause })
      finally pool.shutdownNow()
    }
  }
}
