package graft.ops

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-key ordered scans with NONLINEAR state — the recurrence class
  * (`bal' = max(floor, bal + delta)`) that no window frame can express:
  * a clamped running balance depends on every prior clamp, so unlike a
  * plain cumulative sum it cannot be rewritten as an aggregate over a
  * frame. This is the one operator family where dropping below the
  * DataFrame algebra is the *right* call, and the implementation is
  * Spark's sorted-group fold: `groupBy(user).as[..].flatMapSortedGroups(
  * ts, event_id)` hash-partitions by user (one shuffle, no global
  * ordering), sorts each partition by (user, ts, event_id) — the
  * secondary sort — and hands each user's time-ordered values to a
  * plain Scala fold holding O(1) state. At 100 TB the cost is one
  * shuffle of the fact table and a streaming scan per partition; skew
  * is bounded by the largest single key's row count, same as any
  * keyed aggregation.
  *
  * All arithmetic is integer centi-units so the DuckDB recursive-CTE
  * oracle can replay the identical trajectory bit-for-bit.
  */
object StatefulScan {

  /** The shared prep: skip null `value` rows (no delta, no observation —
    * a null would otherwise crash the non-nullable tuple decode), then
    * run `fold` once per user over that user's `x` values in
    * (ts, event_id) order. `fold` gets the user id and a non-empty
    * iterator and returns the user's one output row, named `names`.
    */
  private def perUserFold[T <: Product : TypeTag](events: DataFrame,
      x: Column, names: String*)(fold: (Long, Iterator[Long]) => T): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.filter(col("value").isNotNull)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"), x.as("x"))
      .groupBy(col("user_id")).as[Long, (Long, Long, Long, Long)]
      .flatMapSortedGroups(col("us"), col("event_id")) { (u, rows) =>
        Iterator.single(fold(u, rows.map(_._4)))
      }.toDF(names: _*)
  }

  private val cents = round(col("value") * 100).cast("long")

  /** (user, final/peak balance, floor-hit count) after replaying the
    * user's events in (ts, event_id) order: credits add `round(value *
    * 100)` cents, debits (the purchase type) subtract it, and the
    * balance clamps at zero — every clamp counts as a floor hit.
    */
  def cappedBalance(events: DataFrame, debitType: String = "purchase"): DataFrame = {
    val delta = cents * when(col("event_type") === debitType, lit(-1L)).otherwise(lit(1L))
    perUserFold(events, delta,
        "user_id", "final_balance_c", "peak_balance_c", "floor_hits") { (u, deltas) =>
      var bal, peak, hits = 0L
      deltas.foreach { d =>
        if (bal + d < 0L) { bal = 0L; hits += 1 } else bal += d
        peak = math.max(peak, bal)
      }
      (u, bal, peak, hits)
    }
  }

  /** Registered-query wrapper: deterministic user order. */
  def cappedBalanceQuery(s: SparkSession, dir: String): DataFrame =
    cappedBalance(graft.Tables.events(s, dir)).orderBy(col("user_id"))

  /** Per-user integer EWMA (α = 1/4) with max pre-update deviation —
    * the SMOOTHING recurrence `e' = e + trunc((x − e)/4)` is nonlinear
    * under integer truncation (each step's rounding depends on the
    * whole prior trajectory), so like the clamped balance it cannot be
    * a window frame. Truncating division toward zero (Scala `/`) is
    * mirrored in the oracle as `trunc((x−e)/4.0)` — quarters are exact
    * in FP, so both engines replay identical integer trajectories.
    * The deviation |x − e_prev| is the online anomaly signal (how far
    * each event sat from its forecast).
    */
  def ewmaSmooth(events: DataFrame): DataFrame =
    perUserFold(events, cents, "user_id", "ewma_c", "max_dev_c", "n_events") { (u, xs) =>
      var e = xs.next(); var maxDev = 0L; var n = 1L
      xs.foreach { x =>
        maxDev = math.max(maxDev, math.abs(x - e))
        e += (x - e) / 4
        n += 1
      }
      (u, e, maxDev, n)
    }

  def ewmaQuery(s: SparkSession, dir: String): DataFrame =
    ewmaSmooth(graft.Tables.events(s, dir)).orderBy(col("user_id"))

  /** Holt linear (double-exponential) smoothing per user — the third
    * member of the nonlinear-recurrence family: TWO coupled state
    * registers (level, trend), which no window frame and no single
    * prefix-scan can express. Integer centi-units with truncating
    * division (α = 1/2 on the forecast error, β = 1/4 on the trend
    * error; Scala Long `/` truncates toward zero, mirrored by
    * `trunc(x / 2.0)` in the oracle's recursive CTE):
    *
    *   f      = l + b                        (one-step forecast)
    *   l'     = f + (x − f) / 2
    *   b'     = b + (l' − l − b) / 4
    *
    * Init: l₁ = x₁, b₁ = 0. Emits per user: final level, final trend,
    * next-step forecast l+b, max |forecast error|, event count. Same
    * sorted-group fold as [[cappedBalance]].
    */
  def holtSmooth(events: DataFrame): DataFrame =
    perUserFold(events, cents,
        "user_id", "level_c", "trend_c", "max_err_c", "n_events") { (u, xs) =>
      var l = xs.next(); var b, maxErr = 0L; var n = 1L
      xs.foreach { x =>
        val f = l + b
        maxErr = math.max(maxErr, math.abs(x - f))
        val l1 = f + (x - f) / 2
        b += (l1 - l - b) / 4
        l = l1
        n += 1
      }
      (u, l, b, maxErr, n)
    }.withColumn("forecast_c", col("level_c") + col("trend_c"))

  def holtQuery(s: SparkSession, dir: String): DataFrame =
    holtSmooth(graft.Tables.events(s, dir)).orderBy(col("user_id"))
}
