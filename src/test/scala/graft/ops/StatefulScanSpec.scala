package graft.ops

import graft.SparkSpec

/** Planted-trajectory semantics for the clamped-balance stateful scan —
  * the registered query's recursive-CTE oracle proves cross-engine
  * agreement on real data; this pins the recurrence itself (clamping,
  * floor-hit counting, per-user state) on hand-computable inputs.
  */
class StatefulScanSpec extends SparkSpec {

  private def run(rows: Seq[(Long, String, Long, String, Double)]) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = rows.toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    StatefulScan.cappedBalance(df)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  test("a null value row is skipped, not a crash or a null delta") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view", Option(5.0)),
      (2L, "2024-01-01 00:01:00", 1L, "view", Option.empty[Double]),
      (3L, "2024-01-01 00:02:00", 1L, "view", Option(2.0)))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val got = StatefulScan.cappedBalance(df)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq === Seq((1L, 700L, 700L, 0L)))
  }

  test("clamp at zero counts a floor hit and the balance restarts from 0") {
    // user 1: +500, -800 (clamp, hit), +300  →  final 300, peak 500, 1 hit
    val got = run(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view", 5.0),
      (2L, "2024-01-01 00:01:00", 1L, "purchase", 8.0),
      (3L, "2024-01-01 00:02:00", 1L, "click", 3.0)))
    assert(got(1L) === ((300L, 500L, 1L)))
  }

  test("peak tracks the running max, not the final value") {
    // +1000, -400, +100  →  final 700, peak 1000, 0 hits
    val got = run(Seq(
      (1L, "2024-01-01 00:00:00", 2L, "view", 10.0),
      (2L, "2024-01-01 00:01:00", 2L, "purchase", 4.0),
      (3L, "2024-01-01 00:02:00", 2L, "click", 1.0)))
    assert(got(2L) === ((700L, 1000L, 0L)))
  }

  test("a leading debit clamps immediately (state starts at zero)") {
    val got = run(Seq(
      (1L, "2024-01-01 00:00:00", 3L, "purchase", 2.5),
      (2L, "2024-01-01 00:01:00", 3L, "view", 1.0)))
    assert(got(3L) === ((100L, 100L, 1L)))
  }

  test("holtSmooth: hand-computed two-register trajectory, truncating divisions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 1, cents 1000 → 2000 → 500:
    //   init l=1000 b=0
    //   x=2000: f=1000 err=1000; l=1000+1000/2=1500; b=0+(1500-1000-0)/4=125
    //   x=500:  f=1625 err=1125; l=1625+(-1125)/2=1063 (trunc toward 0);
    //           b=125+(1063-1500-125)/4=125+(-562)/4=125-140=-15
    val df = Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view", 10.0),
      (2L, "2024-01-01 00:01:00", 1L, "view", 20.0),
      (3L, "2024-01-01 00:02:00", 1L, "view", 5.0))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val r = StatefulScan.holtSmooth(df)
      .select("user_id", "level_c", "trend_c", "max_err_c", "n_events",
        "forecast_c")
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(r === ((1L, 1063L, -15L, 1125L, 3L, 1048L)))
  }

  test("ewmaSmooth: first event seeds e, steps truncate toward zero, deviation is pre-update") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 1, cents 1000 → 950 → 1100:
    //   init e=1000 n=1 max_dev=0
    //   x=950:  dev=|950-1000|=50; e=1000+(-50)/4=1000-12=988 (trunc, not -13)
    //   x=1100: dev=|1100-988|=112 (pre-update; post-update would be 84);
    //           e=988+112/4=1016
    // user 2, interleaved in time with user 1: 300 → 350, e=300+50/4=312
    // user 3, one event: e = x, n = 1, max_dev 0
    val df = Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view", 10.0),
      (2L, "2024-01-01 00:00:30", 2L, "view", 3.0),
      (3L, "2024-01-01 00:01:00", 1L, "view", 9.5),
      (4L, "2024-01-01 00:01:30", 2L, "view", 3.5),
      (5L, "2024-01-01 00:02:00", 1L, "view", 11.0),
      (6L, "2024-01-01 00:02:30", 3L, "view", 7.0))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val got = StatefulScan.ewmaSmooth(df)
      .select("user_id", "ewma_c", "max_dev_c", "n_events")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq ===
      Seq((1L, 1016L, 112L, 3L), (2L, 312L, 50L, 2L), (3L, 700L, 0L, 1L)))
  }

  test("ties on ts break by event_id; users never bleed state into each other") {
    // 40 users interleaved in input order, each: +200 then -300 (same ts,
    // ids order the debit second) → every user independently ends at
    // (0, 200, 1). Spreads the users over several shuffle partitions with
    // several users in each, so every user's sorted group must start
    // from fresh state.
    val rows = (1L to 40L).flatMap { u =>
      Seq((2 * u, "2024-01-01 00:00:00", u, "view", 2.0),
        (2 * u + 1, "2024-01-01 00:00:00", u, "purchase", 3.0))
    }
    val got = run(scala.util.Random.shuffle(rows))
    assert(got.size === 40)
    assert((1L to 40L).forall(got(_) == ((0L, 200L, 1L))), got.take(3))
  }

  test("empty input yields an empty result, not a spurious register flush") {
    assert(run(Seq.empty).isEmpty)
  }
}
