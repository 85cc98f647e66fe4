package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables
import graft.ops.Checkpoints.StageCheckpoint

/** Structured Streaming surface over the `events` schema (SURVEY §2.7: the
  * reference is batch-only; this is the §7 forward extension — the same
  * logical transforms as [[graft.analytics.Temporal]] expressed over an
  * unbounded source).
  *
  * Both jobs are written against a generic DataFrame/Dataset input, so
  * they bind equally to `spark.readStream.format("kafka")`-style sources
  * in production, file streams, or MemoryStream in tests. State is
  * watermark-bounded: at scale the aggregation state is pruned as event
  * time advances, so a 1000-executor job holds only the open windows, not
  * history.
  *
  * CHECKPOINT-COMPATIBILITY NOTE (r11 exact-money migration): the
  * windowed aggregation values moved from double sums to
  * decimal-rendered strings. That changes the state-store schema, so a
  * structured-streaming checkpoint written by the pre-r11 code FAILS on
  * restart with a state schema incompatibility — accepted explicitly:
  * these queries back test/bench harnesses with fresh per-run
  * checkpoints, and a production deployment would migrate by draining
  * the old query (stop at a watermark boundary, start the new query
  * with a fresh checkpoint against the retained source offsets).
  */
object EventStream {

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionUpdate(
      user_id: Long, n_events: Int, start: Timestamp, end: Timestamp,
      closed: Boolean)

  /** Tumbling 1-hour windowed aggregation with a 2-hour watermark — the
    * streaming twin of the batch `stream_tumbling_hourly` query (same
    * groupBy(window(...)) logical plan; Catalyst plans the stateful
    * version when the source is streaming).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      // group on the window column itself — projecting .start before the
      // agg hides the event-time window from the planner and Append mode
      // is rejected
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(12,2)"))
        .cast("decimal(20,2)").cast("string").as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))

  /** Per-user sessionization with a 30-minute inactivity gap via
    * flatMapGroupsWithState — the custom-state escape hatch for semantics
    * windowed aggs can't express. Event-time timeout closes idle sessions
    * when the watermark passes (state size stays bounded by the number of
    * OPEN sessions).
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30)(
      implicit spark: SparkSession): Dataset[SessionUpdate] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60 * 1000L

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[(Int, Long, Long)]): Iterator[SessionUpdate] = {
      def emit(c: (Int, Long, Long), done: Boolean) =
        SessionUpdate(userId, c._1, new Timestamp(c._2), new Timestamp(c._3), closed = done)
      if (state.hasTimedOut) {
        val c = state.get
        state.remove()
        Iterator(emit(c, done = true))
      } else {
        // An event so late that its true session was already emitted in
        // a prior batch still emits separately — append mode cannot
        // retract; the watermark bounds how late that can happen.
        val (closed, open) = SessionFold(
          state.getOption.toSeq ++ rows.map(e => (1, e.ts.getTime, e.ts.getTime)),
          gapMs)(_._2, _._3) { case ((n, start, end), (n1, _, e1)) =>
          (n + n1, start, math.max(end, e1))
        }
        open.foreach { c => state.update(c); state.setTimeoutTimestamp(c._3 + gapMs) }
        (closed.map(emit(_, done = true)) ++ open.map(emit(_, done = false))).iterator
      }
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Sliding 30-minute windows advancing every 15 — the streaming twin of
    * the batch `stream_sliding_30m` query. Each event contributes to two
    * open windows; the watermark closes a window 2 hours after its end,
    * so state holds ≤ (2h+30m)/15m ≈ 10 windows per event_type.
    * Deliberate library API, pinned by EventStreamSpec.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "30 minutes", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(12,2)"))
        .cast("decimal(20,2)").cast("string").as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Native session_window aggregation (30-minute gap) per user — the
    * declarative alternative to [[sessionize]]: Catalyst manages the
    * merging-session state, the watermark emits a session once no event
    * can extend it. Use this when per-session aggregates suffice;
    * [[sessionize]] remains for custom state (e.g. mid-session updates).
    * Deliberate library API, pinned by EventStreamSpec.
    */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value").cast("decimal(12,2)"))
        .cast("decimal(20,2)").cast("string").as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("n_events"), col("sum_value"))

  /** Streaming keyed dedup — D3's unbounded flavor (SURVEY §2.5): drop
    * repeated KEYS (regardless of their timestamps — a producer retry
    * re-stamps ts, and must still dedupe) with state bounded by the
    * watermark: a key older than the delay is forgotten, so state never
    * grows unbounded — the exact trade a 100 TB/day stream needs.
    */
  def dedupByKey(events: DataFrame, keys: Seq[String],
      watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-STREAM event-time interval join: each purchase matched to
    * the same user's clicks from the 10 minutes before it — the
    * streaming twin of the batch `range_join_clicks_before_purchase`
    * query (same equi key + time-range condition). Watermarks on BOTH
    * sides plus the range bound are what make unbounded×unbounded
    * tractable: the state store only retains clicks younger than
    * watermark − 10 min, because the join condition proves older ones
    * can never match a future purchase. Without the time bound Spark
    * rejects the append-mode join outright — state would grow forever.
    */
  def clickAttribution(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "30 minutes")
      .select(col("event_id").as("p_eid"), col("user_id").as("p_uid"),
        col("ts").as("p_ts"))
    val c = clicks.withWatermark("ts", "30 minutes")
      .select(col("event_id").as("c_eid"), col("user_id").as("c_uid"),
        col("ts").as("c_ts"))
    p.join(c, col("p_uid") === col("c_uid") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
      col("c_ts") <= col("p_ts"))
      .select(col("p_eid"), col("p_uid").as("user_id"), col("p_ts"),
        col("c_eid"), col("c_ts"))
  }

  /** LEFT OUTER flavor of [[clickAttribution]]: purchases with NO click
    * in the trailing 10 minutes still emit — with null click columns —
    * once the click-side watermark proves no matching click can still
    * arrive. This is the streaming form of "conversions without
    * attribution": an inner join silently drops them, and at pipeline
    * scale the dropped fraction IS the metric being monitored. Same
    * state bound as the inner join (both watermarks + the range
    * condition); the only extra cost is buffering each unmatched
    * purchase until the watermark passes its window, after which it
    * emits exactly once with nulls.
    * Deliberate library API, pinned by EventStreamSpec.
    */
  def clickAttributionOuter(purchases: DataFrame,
      clicks: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "30 minutes")
      .select(col("event_id").as("p_eid"), col("user_id").as("p_uid"),
        col("ts").as("p_ts"))
    val c = clicks.withWatermark("ts", "30 minutes")
      .select(col("event_id").as("c_eid"), col("user_id").as("c_uid"),
        col("ts").as("c_ts"))
    p.join(c, col("p_uid") === col("c_uid") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
      col("c_ts") <= col("p_ts"), "left_outer")
      .select(col("p_eid"), col("p_uid").as("user_id"), col("p_ts"),
        col("c_eid"), col("c_ts"))
  }

  /** Stream-static enrichment: tag each event with its user's nation by
    * joining a broadcast dimension table. Works identically on a batch or
    * streaming `events` frame — a stream-static equi-join is stateless in
    * Structured Streaming (each micro-batch probes the static side; no
    * watermark, no state store), which is why dimension enrichment is the
    * ONE join a 100 TB/day ingest stream can afford: the dim broadcasts
    * once per executor, the stream never shuffles.
    *
    * The user→nation key is the deterministic `user_id mod |nation|`
    * assignment (the harness tables carry no FK between them).
    */
  def enrichNation(events: DataFrame, nation: DataFrame): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(
        nation.select(col("n_nationkey"), col("n_name"))),
      pmod(col("user_id"), lit(25)) === col("n_nationkey"))

  /** End-to-end wiring helper: file-source stream of events parquet →
    * hourly counts → sink. The run loop the driver of a real deployment
    * owns. Deliberate library API, pinned by FileStreamSpec.
    */
  def runFileStream(spark: SparkSession, srcDir: String, outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // normalize ts to a session-UTC TIMESTAMP whatever the parquet
    // encoding (Tables.utcTimestamps) — without the nanos conf the schema
    // inference itself throws PARQUET_TYPE_ILLEGAL on nanos files. srcDir
    // must already hold at least one file: a file STREAM can start on an
    // empty dir only with an explicit schema, which inference here
    // cannot provide.
    val prevConf = spark.conf.getOption(Tables.NanosAsLong)
    spark.conf.set(Tables.NanosAsLong, "true")
    val schema = spark.read.parquet(srcDir).schema
    // nanos files need the conf for every micro-batch read too — leave
    // it set ONLY in that case, otherwise restore the caller's session
    // state (setting it permanently changes unrelated batch reads)
    if (schema("ts").dataType != org.apache.spark.sql.types.LongType) {
      prevConf match {
        case Some(v) => spark.conf.set(Tables.NanosAsLong, v)
        case None => spark.conf.unset(Tables.NanosAsLong)
      }
    }
    val in = Tables.utcTimestamps(
      spark.readStream.schema(schema).parquet(srcDir), Seq("ts"))
    hourlyCounts(in).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", outDir)
      .start()
  }

  /** Streaming MERGE sink: maintain a latest-per-user parquet dimension
    * from the event stream via foreachBatch — the standard bridge from
    * append-only micro-batches to an upserted table when no
    * transactional format is mounted. Each batch reduces to one row per
    * touched key (max over a (ts, event_id, payload) struct — the
    * partial-aggregating latest-row idiom from
    * `warehouse_upsert_merge`), full-outer-merges into the current
    * snapshot, materializes via localCheckpoint (the read and the
    * overwrite target the same path), and overwrites. foreachBatch +
    * checkpointing gives effectively-once maintenance: a replayed batch
    * re-applies the same idempotent merge. On a cluster the overwrite
    * becomes a transactional-format MERGE INTO; the batch-side movement
    * is identical.
    */
  def upsertSink(events: DataFrame, dimDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sp = batch.sparkSession
        val updates = latestPerUser(batch)
        val existing =
          if (graft.util.Fs.exists(sp, dimDir)) sp.read.parquet(dimDir)
          else sp.emptyDataFrame
            .withColumn("user_id", lit(0L)).withColumn("last_us", lit(0L))
            .withColumn("event_type", lit("")).limit(0)
        // Latest-WINS, not update-wins: a late/out-of-order micro-batch can
        // carry an OLDER event for a user than the snapshot row, and a
        // blind coalesce(u, b) would regress the dimension. Compare keys:
        // the update side is taken only when it is at least as new, which
        // also makes replays idempotent regardless of arrival order.
        val takeU = col("b.last_us").isNull ||
          (col("u.last_us").isNotNull && col("u.last_us") >= col("b.last_us"))
        val merged = existing.as("b")
          .join(updates.as("u"), Seq("user_id"), "full_outer")
          .select(col("user_id"),
            when(takeU, col("u.last_us")).otherwise(col("b.last_us")).as("last_us"),
            when(takeU, col("u.event_type")).otherwise(col("b.event_type")).as("event_type"))
          .stageCheckpoint() // materialize BEFORE overwriting the input dir
        merged.write.mode("overwrite").parquet(dimDir)
        ()
      }
      .start()

  /** Streaming quantile-sketch monitor — the stream twin of
    * `agg_ddsketch_quantiles`, maintaining the SAME integer-bucket
    * sketch ([[graft.analytics.StatsQueries.hdrBucketSql]] — one bucket
    * definition for batch and stream) over the event `value` column:
    * each micro-batch reduces to its (bucket, count) rows and lands in
    * its own `batch_id=<n>` partition of the store, so a REPLAYED batch
    * can never double-count — the additive-sink idempotency move
    * (contrast [[upsertSink]], which is idempotent because latest-wins;
    * counts need the partition trick). A replay of an already-COMMITTED
    * partition (its _SUCCESS marker exists) is skipped outright rather
    * than overwritten: batch contents are deterministic from the
    * checkpoint, so the skip is equally correct and — unlike
    * delete-then-rewrite — leaves no window where a concurrent
    * [[readQuantileSketch]] would see the batch missing. Only an
    * UNCOMMITTED partition (crash mid-write) gets the overwrite.
    * Readers sum across partitions: because the sketch is mergeable by
    * plain addition, that read-side sum IS the sketch of everything
    * streamed so far, proven equal to the direct batch sketch in
    * EventStreamSpec. Per-batch state shipped to the store is
    * ≤ ~32·octaves rows regardless of batch size.
    */
  def quantileSketchSink(events: DataFrame, storeDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val part = s"$storeDir/batch_id=$id"
        if (!graft.util.Fs.exists(sp, s"$part/_SUCCESS")) {
          batch
            .filter(col("value").isNotNull && col("value") > 0)
            .select(round(col("value") * 100).cast("long").as("centi"))
            .withColumn("b",
              expr(graft.analytics.StatsQueries.hdrBucketSql("centi")))
            .groupBy(col("b")).agg(count(lit(1)).as("c"))
            .write.mode("overwrite").parquet(part)
        }
        ()
      }
      .start()

  /** Read-side merge of [[quantileSketchSink]]'s store: the summed
    * bucket counts (one keyed aggregation over the tiny per-batch
    * partitions). Before the first micro-batch commits the store does
    * not exist yet — that is an EMPTY sketch, not a read error.
    */
  def readQuantileSketch(spark: SparkSession, storeDir: String): DataFrame = {
    // COMMITTED batch partitions only (their _SUCCESS marker exists): a
    // crashed mid-write batch leaves partial part-files that a recursive
    // glob would transiently sum into the sketch until the replay
    // overwrites them — the no-window claim above holds for readers
    // exactly because uncommitted partitions are invisible here.
    val committed = graft.util.Fs.committedSubdirs(spark, storeDir)
    if (committed.isEmpty)
      spark.range(0).select(col("id").as("b"), col("id").as("c"))
    else
      spark.read.parquet(committed: _*)
        .select(col("b"), col("c")) // batch_id partition col, if inferred, dropped
        .groupBy(col("b")).agg(sum(col("c")).as("c"))
  }

  /** One row per user: latest (event-time, id)-ordered event. */
  private[streaming] def latestPerUser(batch: DataFrame): DataFrame =
    batch.groupBy(col("user_id"))
      .agg(max(struct(expr("unix_micros(ts)").as("us"),
        col("event_id"), col("event_type"))).as("m"))
      .select(col("user_id"), col("m.us").as("last_us"),
        col("m.event_type").as("event_type"))

  final case class RunningTotal(
      user_id: Long, event_id: Long, n_so_far: Long, sum_centi_so_far: Long)

  /** Per-user running totals via `transformWithState` — Spark 4's
    * arbitrary-state operator (SPARK-46815), the typed-state successor to
    * [[sessionize]]'s flatMapGroupsWithState: state lives in named
    * handles (`ValueState`/`ListState`/`MapState`) with optional TTL
    * rather than one opaque blob, timers replace the single timeout, and
    * the store runs on RocksDB with changelog checkpointing. Kept next
    * to the fMGWS sessionizer deliberately — same engine, both stateful
    * surfaces covered.
    *
    * Semantics: events within a micro-batch apply in (ts, event_id)
    * order, so given in-order feeds the emitted running (count,
    * centi-sum) per user matches the batch window cumsum EXACTLY
    * (pinned in EventStreamSpec against `window_running_user_value`'s
    * formulation). Value quantizes to integer centi-units — the running
    * sum is exact however many batches it spans. State per user is two
    * longs; a TTL would bound idle-key state at planetary cardinality.
    */
  def runningTotals(events: Dataset[Event])(
      implicit spark: SparkSession): Dataset[RunningTotal] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  final case class SessionOut(
      user_id: Long, start_us: Long, end_us: Long, n_events: Long,
      sum_c: Long, closed_by: String)

  /** TIMER-closed sessionization on the `transformWithState` surface —
    * the event-time-timer capability [[runningTotals]] doesn't touch: a
    * session closes EITHER when a later event arrives past the 30-min
    * gap (emitted inline, `closed_by = "gap"`) OR when the WATERMARK
    * passes last-event + 30 min with no successor (`closed_by =
    * "timer"`), which is the guarantee the fMGWS sessionizer gets from
    * its timeout config, rebuilt here from the raw timer primitives
    * (registerTimer + handleExpiredTimer). Stale timers are tolerated,
    * not deleted: a timer that fires after its session was extended
    * finds `expiry < last + gap` and emits nothing — cheaper than a
    * deleteTimer round-trip per extension, and idempotent on replay.
    * State per user is one 4-long tuple.
    */
  def timerSessions(events: Dataset[Event])(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events.withWatermark("ts", "10 minutes")
      .as[Event].groupByKey(_.user_id)
      .transformWithState(new TimerSessionProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }
}

private[streaming] object SessionFold {

  /** The interval fold both sessionizers share
    * ([[EventStream.sessionize]] in ms, [[TimerSessionProcessor]] in µs;
    * `gap` is in the items' unit): sort the held session and the batch's
    * items by (start, end), merge an item into the current session when
    * item.start − cur.end ≤ gap, otherwise close the current session and
    * open a new one at the item. This is the batch sessionizer's rule
    * applied to the retained information: an out-of-order item inside or
    * within gap of the held session merges (and can lower its start); one
    * farther than gap BEFORE it forms its own earlier session instead of
    * silently fusing. `merge` must keep the later end. Returns the closed
    * sessions in start order and the open last one (None only on empty
    * input). A standalone object, so a task closure that calls it
    * captures nothing.
    */
  def apply[S](items: Seq[S], gap: Long)(
      start: S => Long, end: S => Long)(merge: (S, S) => S): (Vector[S], Option[S]) =
    items.sortBy(i => (start(i), end(i)))
      .foldLeft((Vector.empty[S], Option.empty[S])) {
        case ((closed, Some(cur)), i) if start(i) - end(cur) <= gap =>
          (closed, Some(merge(cur, i)))
        case ((closed, cur), i) => (closed ++ cur, Some(i))
      }
}

/** State machine for [[EventStream.timerSessions]]: one
  * (startUs, lastUs, n, centiSum) ValueState per user plus event-time
  * timers at last + 30 min.
  */
class TimerSessionProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, EventStream.Event, EventStream.SessionOut] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders, streaming}

  private val GapMs = 30L * 60 * 1000

  @transient private var sess: ValueState[(Long, Long, Long, Long)] = _

  override def init(outputMode: streaming.OutputMode, timeMode: TimeMode): Unit =
    sess = getHandle.getValueState("sess",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  private def us(e: EventStream.Event): Long =
    e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000

  override def handleInputRows(user: Long,
      rows: Iterator[EventStream.Event],
      timerValues: TimerValues): Iterator[EventStream.SessionOut] = {
    val held = if (sess.exists()) Some(sess.get()) else None
    val (closed, open) = SessionFold(
      held.toSeq ++ rows.map(e => (us(e), us(e), 1L, math.round(e.value * 100))),
      GapMs * 1000)(_._1, _._2) { case ((st, last, n, s), (_, e1, n1, c1)) =>
      (st, math.max(last, e1), n + n1, s + c1)
    }
    open.foreach { c => sess.update(c); getHandle.registerTimer(c._2 / 1000 + GapMs) }
    closed.iterator.map { case (st, last, n, s) =>
      EventStream.SessionOut(user, st, last, n, s, "gap")
    }
  }

  override def handleExpiredTimer(user: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[EventStream.SessionOut] = {
    if (sess.exists()) {
      val (st, last, n, s) = sess.get()
      if (expiredTimerInfo.getExpiryTimeInMs() >= last / 1000 + GapMs) {
        sess.clear()
        Iterator.single(EventStream.SessionOut(user, st, last, n, s, "timer"))
      } else Iterator.empty
    } else Iterator.empty
  }
}

/** State machine for [[EventStream.runningTotals]]: one (n, centi-sum)
  * ValueState per user, updated in deterministic within-batch order.
  */
class RunningTotalsProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, EventStream.Event, EventStream.RunningTotal] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders, streaming}

  @transient private var totals: ValueState[(Long, Long)] = _

  override def init(outputMode: streaming.OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState("totals",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(user: Long,
      rows: Iterator[EventStream.Event],
      timerValues: TimerValues): Iterator[EventStream.RunningTotal] = {
    var (n, s) = if (totals.exists()) totals.get() else (0L, 0L)
    // full microsecond precision (getTime is millis-only; the codebase
    // convention is unix_micros) so sub-millisecond events order by time,
    // matching the batch window-cumsum twin
    val out = rows.toArray
      .sortBy(e => (e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000,
        e.event_id))
      .map { e =>
      n += 1
      s += math.round(e.value * 100)
      EventStream.RunningTotal(user, e.event_id, n, s)
    }
    totals.update((n, s))
    out.iterator
  }
}
