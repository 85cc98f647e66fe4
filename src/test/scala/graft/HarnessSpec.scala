package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import graft.harness.{Harness, StreamingBench}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The measurement harness: its per-query lifecycle releases exactly what
  * a body pinned, bills no event tail to the next body, and every mode
  * runs on a caller's session without stopping it.
  */
class HarnessSpec extends SparkSpec {

  private val Sf = Harness.WarmDir
  private val Query = "q1_pricing_summary"

  private def pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("measure releases a body's localCheckpoint on success and on failure") {
    val sc = spark.sparkContext
    val kept = sc.parallelize(1 to 10).persist()
    kept.count()
    // held strongly: getPersistentRDDs holds its RDDs weakly, so a GC alone
    // would make an unreleased checkpoint vanish from it
    var inBody = Seq.empty[RDD[_]]
    def body(fail: Boolean): Unit = {
      val before = pinned
      spark.range(1000).localCheckpoint()
      inBody = (sc.getPersistentRDDs.toMap -- before).values.toSeq
      if (fail) throw new IllegalStateException("after checkpoint")
    }
    def released = inBody.nonEmpty && inBody.forall(_.getStorageLevel == StorageLevel.NONE)
    Harness.measure(spark)(body(fail = false))
    assert(released)
    intercept[IllegalStateException](Harness.measure(spark)(body(fail = true)))
    assert(released)
    assert(kept.getStorageLevel != StorageLevel.NONE && pinned.contains(kept.id))
    kept.unpersist()
  }

  test("measure reads a shuffle's work and bills none of it to the next body") {
    val w = Harness.measure(spark) {
      spark.range(0, 100000, 1, 4).groupBy(col("id") % 7).count()
        .write.format("noop").mode("overwrite").save()
    }
    assert(w.cpuS > 0 && w.shuffleWriteMb > 0, w)
    val empty = Harness.measure(spark)(())
    assert(empty.cpuS == 0.0 && empty.shuffleWriteMb == 0.0 && empty.stages.contains(Nil), empty)
  }

  test("streaming_sf1 without the sf1.0 derivative renders skipped, not -1") {
    val missing = Files.createTempDirectory("harness-no-sf1").resolve("sf1.0").toString
    val out = Harness.json(ListMap("streaming_sf1" -> StreamingBench.largeState(spark, missing)))
    assert(out == s"""{"streaming_sf1":{"skipped":"no sf1.0 derivative at $missing"}}""")
  }

  test("TimeQuery, PlanDump and Verify run on a caller's session and leave it running") {
    val dir = Files.createTempDirectory("harness-modes")
    val before = pinned
    tools.TimeQuery.run(spark, Seq(Query, "etl_quality_logs_pipeline"), 1, Sf)
    tools.PlanDump.dump(spark, s"$dir/static", Seq(Query), Sf, exec = false)
    tools.PlanDump.dump(spark, s"$dir/exec", Seq(Query), Sf, exec = true)
    Verify.dump(spark, Sf, s"$dir/verify", Seq(Query))
    assert(!spark.sparkContext.isStopped)
    assert(pinned == before)
    val static = Files.readString(Paths.get(s"$dir/static/$Query.txt"))
    val exec = Files.readString(Paths.get(s"$dir/exec/$Query.txt"))
    assert(static.contains("Scan parquet") && !static.contains("Operator metrics"))
    assert(exec.contains("== Operator metrics ==") && exec.contains("numOutputRows="))
    assert(spark.read.parquet(s"$dir/verify/$Query").count() > 0)
    // and nothing stays cached: the session's cache manager holds no plan
    // of the fixture pipeline the ETL query ran
    val r = Harness.releasing(spark)(graft.etl.EtlPipeline.runDefault(spark))
    Seq(r.patients, r.encounters, r.diagnoses, r.logs).foreach { df =>
      assert(df.storageLevel == StorageLevel.NONE)
    }
  }
}
