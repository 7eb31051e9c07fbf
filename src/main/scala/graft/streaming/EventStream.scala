package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.9 — absent in the reference,
  * which models "incremental" as date-partition overwrite; here the same
  * event-time transforms run as real streams).
  *
  * Design: the batch queries in [[graft.operators.EventTime]] and these
  * streaming versions share the same transform bodies — `readStream` vs
  * `read` is the only difference, which is exactly Spark's unified-API
  * promise. Watermarks bound state (at 100 TB/day the windowed-agg state
  * store holds only watermark-recent windows, not history).
  */
object EventStream {

  /** Streaming scan of an events parquet directory. Streaming sources
    * require an explicit schema — no inference pass — so the physical
    * schema comes from a one-off batch footer read; `ts` is then
    * normalized as in the batch reader ([[graft.Tables.utcTs]]). */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.utcTs(spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir))

  /** Tumbling 1-hour aggregation with a 10-minute watermark — the
    * streaming twin of EventTime.q60. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("sum_value"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(start: Long, end: Long, n: Long, sum: Double)
  final case class SessionOut(user_id: Long, sess_start: java.sql.Timestamp,
      sess_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  /** Custom stateful sessionization via flatMapGroupsWithState: a session
    * CLOSES (and is emitted) when a later event arrives more than 30 min
    * after it, OR when the event-time watermark passes the session's
    * idle deadline (end + gap) with no new data — the EventTimeTimeout
    * path, so idle users' sessions flush instead of living in the state
    * store forever. State per user is O(1) — the canonical
    * mapGroupsWithState pattern. In batch execution timeouts never fire
    * (Spark semantics), so only superseded sessions are emitted there. */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000000
    val gapMs = gapUs / 1000

    def emit(userId: Long, s: SessionState): SessionOut =
      SessionOut(userId, new java.sql.Timestamp(s.start / 1000),
        new java.sql.Timestamp(s.end / 1000), s.n, s.sum)

    def fn(userId: Long, rows: Iterator[Event], state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        // watermark passed end+gap with no new events: the idle session closes
        val s = state.get
        state.remove()
        Iterator.single(emit(userId, s))
      } else {
        var out = List.empty[SessionOut]
        var st = state.getOption
        rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
          val t = e.ts.getTime * 1000
          st match {
            case Some(s) if t - s.end <= gapUs =>
              st = Some(SessionState(s.start, t, s.n + 1, s.sum + e.value))
            case Some(s) =>
              out ::= emit(userId, s)
              st = Some(SessionState(t, t, 1, e.value))
            case None =>
              st = Some(SessionState(t, t, 1, e.value))
          }
        }
        st.foreach { s =>
          state.update(s)
          // idle deadline; clamp above the watermark (Spark rejects a
          // timeout at/behind it). Batch runs have no watermark — the
          // timeout is never consulted there, 0 is fine.
          val wm = try state.getCurrentWatermarkMs() catch { case _: Throwable => 0L }
          state.setTimeoutTimestamp(math.max(s.end / 1000 + gapMs, wm + 1))
        }
        out.reverseIterator
      }
    }

    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  final case class FunnelState(tView: Long, tClick: Long)
  final case class FunnelOut(user_id: Long, step: String, ts: java.sql.Timestamp)

  /** Streaming funnel state machine — the streaming twin of the batch
    * q122 (view → click → purchase, strictly time-ordered): per user, a
    * monotone 3-stage state advanced by each event whose type matches the
    * next expected step AND whose timestamp is strictly later than the
    * previous step's. Emits one `FunnelOut` per step advancement, so
    * downstream sees conversions the micro-batch they happen. State is
    * two longs per in-flight user; a completed funnel removes its state
    * immediately, and an abandoned one is evicted when the event-time
    * watermark passes 7 days of inactivity (EventTimeTimeout) — the state
    * store holds active-ish users, not the all-time user base. */
  def funnel(events: Dataset[Event]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    val idleUs = 7L * 24 * 3600 * 1000000

    def fn(userId: Long, rows: Iterator[Event],
        state: GroupState[FunnelState]): Iterator[FunnelOut] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var out = List.empty[FunnelOut]
        var st = state.getOption.getOrElse(FunnelState(0L, 0L))
        var done = false
        var lastUs = 0L
        // full microsecond precision (getTime is ms; getNanos carries the
        // sub-second part) — the batch twin q122 compares µs timestamps,
        // so two steps inside the same millisecond must still advance
        def us(e: Event): Long = e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000
        rows.toSeq.sortBy(e => (us(e), e.event_id)).foreach { e =>
          val t = us(e)
          lastUs = math.max(lastUs, t)
          e.event_type match {
            case "view" if st.tView == 0L =>
              st = FunnelState(t, 0L)
              out ::= FunnelOut(userId, "view", e.ts)
            case "click" if st.tView > 0L && st.tClick == 0L && t > st.tView =>
              st = FunnelState(st.tView, t)
              out ::= FunnelOut(userId, "click", e.ts)
            case "purchase" if st.tClick > 0L && !done && t > st.tClick =>
              done = true
              out ::= FunnelOut(userId, "purchase", e.ts)
            case _ => ()
          }
        }
        if (done) state.remove()
        else {
          state.update(st)
          val wm = try state.getCurrentWatermarkMs() catch { case _: Throwable => 0L }
          state.setTimeoutTimestamp(math.max(lastUs / 1000 + idleUs / 1000, wm + 1))
        }
        out.reverseIterator
      }
    }

    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming exact dedup — the streaming twin of the batch q34: keep the
    * first occurrence of each event_id, with state bounded by the
    * watermark (`dropDuplicatesWithinWatermark` evicts seen-keys older
    * than the watermark, so state is O(keys per watermark window), not
    * O(all keys ever) — the only dedup that survives an unbounded
    * stream). */
  def dedupEvents(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream join: each click joined to the same user's views in
    * the preceding 10 minutes. Both sides carry watermarks and the join
    * condition bounds event-time distance, so Spark can evict join state
    * older than the watermark — the only stream-stream join shape whose
    * state doesn't grow without bound. */
  def clickViewJoin(clicks0: DataFrame, views0: DataFrame): DataFrame = {
    val clicks = clicks0.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "10 minutes")
    val views = views0.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", "10 minutes")
    clicks.join(views,
        col("user_id") === col("v_user") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 10 MINUTES") &&
          col("view_ts") <= col("click_ts"))
      .select(col("user_id"), col("click_id"), col("view_id"), col("click_ts"), col("view_ts"))
  }

  /** Left-outer stream-stream join — [[clickViewJoin]] with unmatched
    * clicks RETAINED. The outer row cannot emit when the click arrives
    * (a matching view may still come); it emits with null view columns
    * only once the watermark passes the click's join horizon and its
    * state is evicted — state eviction IS the outer-emission trigger,
    * which is why outer stream-stream joins require both watermarks and
    * a time-bounded condition. Unmatched views never emit (left outer). */
  def clickViewJoinOuter(clicks0: DataFrame, views0: DataFrame): DataFrame = {
    val clicks = clicks0.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "10 minutes")
    val views = views0.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", "10 minutes")
    clicks.join(views,
        col("user_id") === col("v_user") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 10 MINUTES") &&
          col("view_ts") <= col("click_ts"),
        "left_outer")
      .select(col("user_id"), col("click_id"), col("view_id"), col("click_ts"), col("view_ts"))
  }

  final case class SpikeState(open: Map[Long, Long], lastN: Long)
  final case class SpikeOut(event_type: String, h: java.sql.Timestamp,
      n: Long, prev: Long, ratio: Double, spike: Int)

  /** Streaming hourly-rate spike detection — the streaming twin of the
    * batch q131: per event type, count events per event-time hour; when
    * the watermark passes an hour's end the hour CLOSES (its count can no
    * longer change) and is compared to the previously-closed hour —
    * ratio ≥ 1.5 flags a spike, exactly the batch `lag` semantics
    * (previous *observed* hour, calendar gaps skipped; the first closed
    * hour emits nothing, mirroring the batch `prev IS NOT NULL` filter).
    *
    * State per event type is the open-hour counts — bounded by the
    * watermark horizon (closed hours leave the map; one long survives as
    * `lastN`) — and hours close in ascending order, so emission order is
    * deterministic. EventTimeTimeout flushes closable hours even when a
    * type receives no further events. This is the ops-alerting query the
    * batch tier grades (q131) running continuously: conversions from
    * batch to stream cost one `readStream` and this state machine. */
  def spikeDetect(events: Dataset[Event]): Dataset[SpikeOut] = {
    import events.sparkSession.implicits._
    val hourMs = 3600L * 1000

    def fn(etype: String, rows: Iterator[Event],
        state: GroupState[SpikeState]): Iterator[SpikeOut] = {
      var st = state.getOption.getOrElse(SpikeState(Map.empty, -1L))
      rows.foreach { e =>
        val h = Math.floorDiv(e.ts.getTime, hourMs) * hourMs
        st = st.copy(open = st.open + (h -> (st.open.getOrElse(h, 0L) + 1L)))
      }
      val wm = try state.getCurrentWatermarkMs() catch { case _: Throwable => 0L }
      var out = List.empty[SpikeOut]
      st.open.keys.toSeq.sorted.takeWhile(_ + hourMs <= wm).foreach { h =>
        val n = st.open(h)
        if (st.lastN >= 0) {
          val ratio = n.toDouble / st.lastN
          out ::= SpikeOut(etype, new java.sql.Timestamp(h), n, st.lastN,
            ratio, if (ratio >= 1.5) 1 else 0)
        }
        st = SpikeState(st.open - h, n)
      }
      // never remove: `lastN` is the batch lag's memory across arbitrary
      // calendar gaps, and event-type cardinality is a bounded domain —
      // one long per type is the whole permanent footprint. A timeout is
      // armed only while hours are open (wake when the earliest becomes
      // closable; timeouts must sit strictly past the watermark).
      state.update(st)
      st.open.keys.minOption.foreach { mn =>
        state.setTimeoutTimestamp(math.max(mn + hourMs, wm + 1)) }
      out.reverseIterator
    }

    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Stream-static enrichment: the streaming fact side joined to a batch
    * dimension. The static side is planned per micro-batch with no join
    * state at all (nothing to evict — only stream-stream joins hold
    * state), and broadcasts when small: the canonical way to attach
    * reference data to a 100 TB/day stream. */
  def staticEnrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")

  /** Stream-static point-in-time enrichment against an SCD2-style
    * dimension — the streaming twin of the batch PIT lookup (q132).
    *
    * The as-of shape (argmax of dim rows ≤ fact time) needs a per-fact
    * aggregation, which append-mode streaming can't express; the
    * streaming-native equivalent closes each dimension version into a
    * half-open VALIDITY INTERVAL [t_start, t_end) batch-side (one lead()
    * window when the dim is refreshed), so each fact matches exactly one
    * version via a stateless non-equi stream-static join — row
    * preserving, no watermark, no join state, dim broadcast per
    * micro-batch. `dim` columns: d_user_id, t_start, t_end, version,
    * state; facts need user_id and an epoch-micros `t_us`. */
  def pitEnrich(facts: DataFrame, dim: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    facts.join(broadcast(dim),
      facts("user_id") === dim("d_user_id") &&
        facts("t_us") >= dim("t_start") && facts("t_us") < dim("t_end"),
      "left")
      .drop("d_user_id")
  }

  final case class UserTotals(user_id: Long, n_events: Long, sum_micro: Long)

  /** Spark 4 arbitrary-state API v2: a [[org.apache.spark.sql.streaming.StatefulProcessor]]
    * maintaining per-user running totals in a typed `ValueState`, driven
    * through `transformWithState` (the successor of the
    * flatMapGroupsWithState API used by [[sessionize]] — explicit state
    * variables with per-state TTL and timer registration instead of one
    * opaque state object). Totals are folded in (event_id) order within
    * each batch so emitted updates are deterministic; values enter state
    * as exact micro-unit longs (the Det contract applied to streaming
    * state). transformWithState requires the RocksDB state-store
    * provider — which is also the 100 TB answer: per-user state lives
    * off-heap and spills to local disk, so state size is bounded by
    * disk, not executor memory.
    */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserTotals] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totals: ValueState[UserTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals]("totals",
        org.apache.spark.sql.Encoders.product[UserTotals], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[UserTotals] = {
      val prev = if (totals.exists()) totals.get() else UserTotals(key, 0L, 0L)
      val upd = rows.toSeq.sortBy(_.event_id).foldLeft(prev) { (acc, e) =>
        UserTotals(key, acc.n_events + 1,
          acc.sum_micro + math.floor(e.value * 1000000.0 + 0.5).toLong)
      }
      totals.update(upd)
      Iterator.single(upd)
    }
  }

  /** Per-user running totals through the v2 state API; emits one updated
    * totals row per (user, micro-batch). */
  def runningTotals(events: Dataset[Event]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Inactivity gap that closes a q-v2 session (30 minutes, matching the
    * flatMapGroupsWithState sessionizer). */
  val SessionGapMs: Long = 30L * 60 * 1000

  /** The v2-API sessionizer: same semantics as [[sessionize]] (sessions
    * close after a 30-minute event-time gap) but expressed with the
    * Spark 4 primitives — a typed `ValueState` for the open session and
    * an EVENT-TIME TIMER that fires when the watermark passes
    * session-end + gap, emitting the closed session from
    * `handleExpiredTimer` (the piece the old API could only approximate
    * with GroupStateTimeout). In-batch gaps also close sessions inline,
    * so both APIs agree row-for-row on closed sessions.
    */
  class SessionizerV2
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var sess: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessionState]("open_session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    private def emit(key: Long, st: SessionState): SessionOut =
      SessionOut(key, new java.sql.Timestamp(st.start), new java.sql.Timestamp(st.end),
        st.n, st.sum)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var out = List.empty[SessionOut]
      var cur = if (sess.exists()) Some(sess.get()) else None
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(st) if t - st.end > SessionGapMs =>
            out ::= emit(key, st)
            cur = Some(SessionState(t, t, 1, e.value))
          case Some(st) =>
            cur = Some(SessionState(st.start, math.max(st.end, t), st.n + 1, st.sum + e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur.foreach { st =>
        sess.update(st)
        // re-arm: fire when the watermark passes the inactivity gap
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(st.end + SessionGapMs)
      }
      out.reverse.iterator
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionOut] =
      if (sess.exists()) {
        val st = sess.get()
        sess.clear()
        Iterator.single(emit(key, st))
      } else Iterator.empty
  }

  /** Sessionization through transformWithState with event-time timers;
    * requires a watermark on `ts` upstream. */
  def sessionizeV2(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionizerV2,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** The STREAMING twin of q193 (trailing-7-day distinct active users):
    * the batch identity — presence dedup → constant ≤7-window fan-out →
    * (user, window) dedup → count — maps 1:1 onto built-in streaming
    * operators, which is exactly why q193 avoids a windowed COUNT
    * DISTINCT: distinct state can't partial-aggregate, but this shape is
    * two `dropDuplicatesWithinWatermark`s (state bounded by keys within
    * the 7-day watermark horizon, evicted as the watermark advances)
    * and one Update-mode count. Each window-end's count converges to the
    * batch answer as its contributing days drain — the continuously-
    * updating trailing-WAU dashboard. Unlike the batch report, window
    * ends are not restricted to observed days (a stream can't semi-join
    * "days that will have events"); consumers filter, as the parity
    * spec does.
    *
    * EVERY state store here is watermark-bounded, including the final
    * count. A plain `groupBy(wday).count` would key aggregate state on a
    * date and grow one entry per day forever (~16 bytes/day — small, but
    * unbounded); re-watermarking a derived window-day timestamp is
    * disallowed in Spark 4 (chained watermark redefinition). So the
    * count runs as a [[TrailingCountProcessor]]: transformWithState
    * keyed by epoch-day, a single Long of state per live window day,
    * cleared by an event-time timer one day past the window. Eviction is
    * safe: a contribution to window-day W has ts < W+1d, and the timer
    * fires only once the watermark passes W+1d, by which point any such
    * row is > 7 days late on `ts` and already dropped upstream — no
    * post-eviction update can exist. */
  def trailingDistinctStream(events: DataFrame): DataFrame = {
    // one upstream watermark sized to the WINDOW (7 days): a (user, wday)
    // pair can recur from presences up to 6 days apart, and the second
    // dedup only guarantees exactness within the watermark delay
    val ud = events
      .withWatermark("ts", "7 days")
      .select(col("user_id"), to_date(col("ts")).as("day"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "day")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    ud
      .withColumn("wday",
        explode(expr(s"sequence(day, date_add(day, ${graft.operators.MaintOps.WindowDays - 1}))")))
      .dropDuplicatesWithinWatermark("user_id", "wday")
      .select(datediff(col("wday"), lit(java.sql.Date.valueOf("1970-01-01")))
        .cast("long").as("wd"))
      .as[Long]
      .groupByKey(identity)
      .transformWithState(new TrailingCountProcessor,
        TimeMode.EventTime(), OutputMode.Update())
      .select(expr("date_from_unix_date(CAST(wd AS INT))").as("wday"), col("n_users"))
  }

  final case class WdayCount(wd: Long, n_users: Long)

  /** Watermark-evicted running count for [[trailingDistinctStream]]: one
    * Long of state per window day still inside the watermark horizon,
    * cleared by an event-time timer at day-end (see eviction-safety
    * argument on the caller). */
  class TrailingCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Long, WdayCount] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    private val MsPerDay = 86400000L
    @transient private var cnt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cnt = getHandle.getValueState[Long]("cnt",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Long],
        timers: TimerValues): Iterator[WdayCount] = {
      var n = 0L
      while (rows.hasNext) { rows.next(); n += 1 }
      val cur = (if (cnt.exists()) cnt.get() else 0L) + n
      cnt.update(cur)
      // (re-)arm eviction at the first instant no contribution can
      // still arrive: watermark past end-of-day W means any (user, W)
      // presence would be > WindowDays late on ts and dropped upstream
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer((key + 1) * MsPerDay)
      Iterator.single(WdayCount(key, cur))
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[WdayCount] = {
      cnt.clear()
      Iterator.empty
    }
  }

  /** Attribution look-back window (30 minutes, micros) — matches the
    * batch q216 position-based attribution. */
  val AttribWindowUs: Long = 30L * 60 * 1000000

  final case class TouchBuf(touch_id: Long, tt: Long, touch_type: String)
  final case class CreditOut(user_id: Long, conv_id: Long, touch_id: Long,
      touch_type: String, w: Double)

  /** The STREAMING twin of q216 (position-based multi-touch attribution):
    * a per-user `StatefulProcessor` buffering recent touches in a typed
    * `ListState`, emitting U-shaped credits (1.0 / 0.5+0.5 / 0.4,0.2…,0.4)
    * the moment a purchase arrives — the online form of the batch
    * conversion-window join.
    *
    * Semantics match the batch operator exactly on in-order streams:
    * rows are processed in (event-time, touches-before-purchases,
    * event_id) order within each micro-batch, a purchase credits every
    * buffered touch with `ct − 30min ≤ tt ≤ ct` ranked by (tt, touch_id),
    * and state carries touches across micro-batches. The buffer is
    * GC'd by event-time watermark (tt < wm − 30min can never be credited
    * again: any future purchase has ct ≥ wm), so per-user state is
    * bounded by the touch rate × window, not the stream length — with
    * RocksDB state, the 100 TB shape. Touches arriving later than the
    * watermark allowance are dropped by the engine like any late data
    * (append-mode contract); the parity spec drives time-ordered batches
    * where the agreement with q216 is exact row-for-row. */
  class AttributionProcessorV2
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, CreditOut] {
    import org.apache.spark.sql.streaming.{ListState, TimeMode, TimerValues, TTLConfig}
    @transient private var touches: ListState[TouchBuf] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      touches = getHandle.getListState[TouchBuf]("touches",
        org.apache.spark.sql.Encoders.product[TouchBuf], TTLConfig.NONE)

    private def us(e: Event): Long = e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[CreditOut] = {
      // touches sort before purchases at equal event time: the batch
      // window predicate is tt <= ct, inclusive of ties
      val sorted = rows.toSeq
        .sortBy(e => (us(e), e.event_type == "purchase", e.event_id))
      var buf = touches.get().toVector
      val out = scala.collection.mutable.ListBuffer.empty[CreditOut]
      sorted.foreach { e =>
        if (e.event_type == "purchase") {
          val ct = us(e)
          val inWin = buf.filter(t => t.tt <= ct && ct - t.tt <= AttribWindowUs)
            .sortBy(t => (t.tt, t.touch_id))
          val k = inWin.size
          inWin.zipWithIndex.foreach { case (t, i) =>
            val rn = i + 1
            val w =
              if (k == 1) 1.0
              else if (k == 2) 0.5
              else if (rn == 1 || rn == k) 0.4
              else 0.2 / (k - 2).toDouble
            out += CreditOut(key, e.event_id, t.touch_id, t.touch_type, w)
          }
        } else buf :+= TouchBuf(e.event_id, us(e), e.event_type)
      }
      val wmUs = timers.getCurrentWatermarkInMs() * 1000
      val kept = if (wmUs > 0) buf.filter(_.tt >= wmUs - AttribWindowUs) else buf
      touches.clear()
      if (kept.nonEmpty) touches.put(kept.toArray)
      out.iterator
    }
  }

  /** Position-based attribution through transformWithState; requires a
    * watermark on `ts` upstream (set here) and the RocksDB provider. */
  def attributionStream(events: Dataset[Event]): Dataset[CreditOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new AttributionProcessorV2,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** The STREAMING twin of q288 (BPR/DPO preference-pair mining): per
    * (user, 1-day event-time window) the same partial-aggregable
    * count / max-of-struct / min-of-struct the batch core runs
    * ([[graft.operators.Round9Ops.prefPairsCore]]), in Update mode —
    * each micro-batch refines the day's (chosen, rejected) pair and the
    * last update per (user, day) converges to the batch answer as the
    * day's events drain (the parity spec's assertion).
    *
    * State is one (count, hi-struct, lo-struct) triple per OPEN
    * (user, day) window, evicted once the watermark passes the window
    * end + delay — bounded by active users × ~2 days, never stream
    * lifetime. Grouping is on the event-time `window`, not a derived
    * date (a plain `to_date` group key would never evict — the
    * trailing-distinct lesson applied by construction). The batch
    * presentation filters (n_events ≥ 2, margin > 0, top-k) stay
    * downstream of the stream: a dashboard wants the running pair even
    * before a second event makes it a preference. */
  def preferencePairStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long").as("v_micro"))
      .groupBy(col("user_id"), window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"),
        max(struct(col("v_micro"), (-col("event_id")).as("nid"))).as("hi"),
        min(struct(col("v_micro"), col("event_id").as("nid"))).as("lo"))
      .select(col("user_id"), col("w.start").cast("date").as("day"),
        col("n_events"),
        (-col("hi.nid")).as("chosen_id"), col("hi.v_micro").as("chosen_micro"),
        col("lo.nid").as("rejected_id"), col("lo.v_micro").as("rejected_micro"))

  /** Run a streaming query into an in-memory sink until the source drains —
    * the local-smoke harness (batch parquet drives the stream). */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode = OutputMode.Append): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q
  }

  /** Update-mode drain with an EXPLICIT version column: every row is
    * stamped with its micro-batch id as `upd` and appended to `dir` as
    * parquet, so "latest update per key" is `max(upd)` under a real
    * contract. The memory-sink alternative of ranking on
    * monotonically_increasing_id only works because batch-append order
    * happens to map to increasing partition ids — an implementation
    * detail of the sink, not a guarantee (ADVICE r14). Update-mode
    * re-emissions of a key in a later batch carry a strictly larger
    * `upd` by the sink contract itself (foreachBatch ids are the
    * stream's monotone epoch ids). */
  def runToParquetVersioned(df: DataFrame, dir: String): StreamingQuery = {
    val q = df.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.withColumn("upd", lit(id)).write.mode("append").parquet(dir): Unit
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q
  }
}
