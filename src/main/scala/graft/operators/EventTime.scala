package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Det._

/** Event-time operators in batch mode (SURVEY.md §2.9): tumbling and
  * sliding windows via `functions.window`, sessionization via gap-detect +
  * running-sum session ids. The same transforms run unchanged under
  * Structured Streaming (`graft.streaming.EventStream`) — watermarking
  * changes output timing, not values.
  */
object EventTime extends QueryModule {
  /** q60 — tumbling 1-hour windows: count + value sum per (window, type).
    * Spark's `window()` starts are epoch-aligned, same as date_trunc. */
  def q60Tumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("wstart"), col("event_type"))

  val q60Sql: String =
    s"""SELECT date_trunc('hour', ts) AS wstart, event_type,
       |  COUNT(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin

  /** q61 — sliding windows (1 h length, 30 min slide): every event lands in
    * two windows. The oracle expands the same two window starts per event. */
  def q61Sliding(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("n"), col("sum_value"))
      .orderBy(col("wstart"))

  val q61Sql: String =
    s"""WITH e AS (
       |  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
       |                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS wstart,
       |         value
       |  FROM events)
       |SELECT wstart, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM e GROUP BY wstart ORDER BY wstart""".stripMargin

  /** q62 — sessionization: a new session starts after a >30 min silence per
    * user; session id = running count of session starts. Per-session stats.
    * Linear: one shuffle on user_id, one on (user_id, session). */
  def q62Sessionize(s: SparkSession, d: String): DataFrame = {
    val wSeq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wSeq)))
      .withColumn("new_sess",
        when(col("gap_us").isNull || col("gap_us") > 30L * 60 * 1000000, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("sess_start"),
        max(col("ts")).as("sess_end"),
        dsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val q62Sql: String =
    s"""WITH g AS (
       |  SELECT user_id, event_id, ts, value,
       |    epoch_us(ts) - epoch_us(LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
       |  FROM events),
       |m AS (
       |  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
       |  FROM g),
       |sess AS (
       |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM m)
       |SELECT user_id, session_id, COUNT(*) AS n_events,
       |  MIN(ts) AS sess_start, MAX(ts) AS sess_end, ${dsumSql("value")} AS sum_value
       |FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  /** q65 — Spark's NATIVE session_window operator (gap-based, 30 min) —
    * the built-in twin of the manual lag/cumsum sessionization in q62;
    * the oracle derives the same sessions with window arithmetic. */
  def q65SessionWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("sess_start"),
        max(col("ts")).as("sess_end"),
        dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("n_events"), col("sess_start"), col("sess_end"), col("sum_value"))
      .orderBy(col("user_id"), col("sess_start"))

  val q65Sql: String =
    s"""WITH g AS (
       |  SELECT user_id, ts, value,
       |    epoch_us(ts) - epoch_us(LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
       |  FROM events),
       |m AS (SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END AS new_sess FROM g),
       |sess AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM m)
       |SELECT user_id, COUNT(*) AS n_events, MIN(ts) AS sess_start, MAX(ts) AS sess_end,
       |  ${dsumSql("value")} AS sum_value
       |FROM sess GROUP BY user_id, session_id ORDER BY user_id, sess_start""".stripMargin

  /** q83 — time-grid gap fill + forward fill (resample): per user, build
    * the complete hourly grid between that user's first and last active
    * hour, left-join the hourly aggregates, and carry the last observed
    * sum forward across empty hours. The grid explodes to at most
    * users × span-hours rows (bounded, never data-dependent blowup); the
    * join and the fill window both partition by user, so at 100 TB this
    * is one shuffle on user_id and a linear in-partition pass — the
    * standard per-entity resampling shape for feature pipelines. */
  def q83GapFill(s: SparkSession, d: String): DataFrame = {
    // NOT persisted: the grid side re-runs the agg, but materializing the
    // cache costs more than the duplicate 100k-row scan (measured 2.1 s
    // vs 1.6 s at sf0.1); the dominant cost is the 1M-row grid explode +
    // fill window + ordered output, which is the query's actual semantics.
    val hourly = Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    val grid = hourly.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
    val fill = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .select(col("user_id"), col("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("sum_value"), ignoreNulls = true).over(fill).as("filled_sum"))
      .orderBy(col("user_id"), col("hour"))
  }

  val q83Sql: String =
    s"""WITH hourly AS (
       |  SELECT user_id, date_trunc('hour', ts) AS hour,
       |    COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
       |  FROM events GROUP BY 1, 2),
       |grid AS (
       |  SELECT user_id, unnest(generate_series(min(hour), max(hour), INTERVAL 1 HOUR)) AS hour
       |  FROM hourly GROUP BY user_id)
       |SELECT g.user_id, g.hour,
       |  COALESCE(h.n_events, 0) AS n_events,
       |  last_value(h.sum_value IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.hour
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum
       |FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
       |ORDER BY g.user_id, g.hour""".stripMargin

  /** Interval half-width for q165: each event opens a 30-minute activity
    * window (the q62 session gap, reused as an interval length). */
  val IntervalUs: Long = 30L * 60 * 1000000

  /** q165 — overlapping-interval consolidation (gaps-and-islands via
    * running max): each event opens a [ts, ts+30 min) activity interval;
    * per user, overlapping intervals merge into maximal covered windows.
    * The classic pattern: an interval starts a new island iff its start
    * exceeds the running max of all previous ends — `max().over(rows
    * BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)` — and the island id is
    * the running sum of new-island flags. Sessionize (q62) is the
    * gap-between-POINTS special case; this is the general INTERVAL form
    * (bookings, availability windows, on-call shifts), where an interval
    * can bridge two others that a pointwise gap rule would split.
    *
    * All arithmetic is integer epoch-microseconds (`unix_micros` ↔
    * DuckDB `epoch_us`) — running max, flag compare, cumsum, and the
    * final covered-time sums are exact on both engines. Per user the
    * window sort is the same PK-partitioned sort every q62-family op
    * pays; islands never cross users, so the plan is one shuffle on
    * user_id + one partial-aggregable rollup. */
  /** The merged maximal activity windows underlying q165 (and q171's
    * overlap join): one row per (user_id, island) with [w_start, w_end)
    * in epoch-micros and the event count inside the window. */
  def mergedWindows(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("st"), col("event_id"))
      .withColumn("en", col("st") + lit(IntervalUs))
    val w = Window.partitionBy(col("user_id")).orderBy(col("st"), col("event_id"))
    iv
      .withColumn("prev_max_en",
        max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_en").isNull || col("st") > col("prev_max_en"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("st")).as("w_start"), max(col("en")).as("w_end"),
        count(lit(1)).as("n_events"))
  }

  def q165IntervalMerge(s: SparkSession, d: String): DataFrame = {
    mergedWindows(s, d)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(col("w_end") - col("w_start")).as("covered_us"),
        max(col("n_events")).as("max_window_events"))
      .orderBy(col("user_id"))
  }

  val q165Sql: String =
    s"""WITH iv AS (
       |  SELECT user_id, epoch_us(ts) AS st, epoch_us(ts) + $IntervalUs AS en, event_id
       |  FROM events),
       |flagged AS (
       |  SELECT user_id, st, en, event_id,
       |    CASE WHEN st > COALESCE(MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_island
       |  FROM iv),
       |islands AS (
       |  SELECT user_id, st, en,
       |    SUM(new_island) OVER (PARTITION BY user_id ORDER BY st, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM flagged),
       |merged AS (
       |  SELECT user_id, island, MIN(st) AS w_start, MAX(en) AS w_end,
       |    COUNT(*) AS n_events
       |  FROM islands GROUP BY 1, 2)
       |SELECT user_id, COUNT(*) AS n_windows,
       |  CAST(SUM(w_end - w_start) AS BIGINT) AS covered_us,
       |  MAX(n_events) AS max_window_events
       |FROM merged GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Bin width for q171's candidate generation, in micros. Matching the
    * interval half-width keeps bins-per-window proportional to the
    * window's true span (a window spans at least one bin, and a k-bin
    * window overlaps at most k+1 bins). */
  val OverlapBinUs: Long = IntervalUs

  /** Top-k cap for q171's reported pairs. */
  val OverlapTopK = 100

  /** q171 — interval-interval overlap join: which pairs of users were
    * active at the same time, and for how long. Takes q165's merged
    * activity windows and joins them on OVERLAP — the genomics /
    * temporal-join primitive (`a.start < b.end AND b.start < a.end`)
    * that an equi-join engine cannot express directly. q44 bins a
    * POINT-in-interval join; this is the strictly harder interval ×
    * interval case.
    *
    * The distributed form is the classic binned overlap join: each
    * window explodes to the [[OverlapBinUs]]-wide bins it touches,
    * candidates meet on the bin key, and each true overlap is COUNTED
    * EXACTLY ONCE by keeping only the canonical bin — the bin holding
    * the overlap's start, `greatest(a.st, b.st) DIV bin` — so no
    * distinct pass over the candidate set is ever needed. Work scales
    * with Σ_bins (active windows per bin)² — true temporal collocation,
    * not |users|² — and the bin width is the knob that trades explode
    * factor against candidate density. All arithmetic is integer
    * epoch-micros; overlap duration sums exactly on both engines.
    *
    * Reported: the [[OverlapTopK]] user pairs with the largest total
    * co-active time (ties → user ids), with the overlap count. */
  def q171IntervalOverlap(s: SparkSession, d: String): DataFrame = {
    val w = mergedWindows(s, d)
      .select(col("user_id"), col("w_start"), col("w_end"))
    val binned = w
      .withColumn("bin", explode(sequence(
        expr(s"w_start DIV $OverlapBinUs"), expr(s"(w_end - 1) DIV $OverlapBinUs"))))
    val a = binned.select(col("bin"), col("user_id").as("ua"),
      col("w_start").as("sa"), col("w_end").as("ea"))
    val b = binned.select(col("bin"), col("user_id").as("ub"),
      col("w_start").as("sb"), col("w_end").as("eb"))
    a.join(b, Seq("bin"))
      .filter(col("ua") < col("ub") &&
        col("sa") < col("eb") && col("sb") < col("ea") &&
        col("bin") === expr(s"greatest(sa, sb) DIV $OverlapBinUs"))
      .groupBy(col("ua"), col("ub"))
      .agg(count(lit(1)).as("n_overlaps"),
        sum(least(col("ea"), col("eb")) - greatest(col("sa"), col("sb")))
          .as("co_active_us"))
      .orderBy(col("co_active_us").desc, col("ua"), col("ub"))
      .limit(OverlapTopK)
  }

  val q171Sql: String =
    s"""WITH iv AS (
       |  SELECT user_id, epoch_us(ts) AS st, epoch_us(ts) + $IntervalUs AS en, event_id
       |  FROM events),
       |flagged AS (
       |  SELECT user_id, st, en, event_id,
       |    CASE WHEN st > COALESCE(MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_island
       |  FROM iv),
       |islands AS (
       |  SELECT user_id, st, en,
       |    SUM(new_island) OVER (PARTITION BY user_id ORDER BY st, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM flagged),
       |win AS (
       |  SELECT user_id, MIN(st) AS w_start, MAX(en) AS w_end
       |  FROM islands GROUP BY user_id, island),
       |binned AS (
       |  SELECT user_id, w_start, w_end,
       |    unnest(range(w_start // $OverlapBinUs, (w_end - 1) // $OverlapBinUs + 1)) AS bin
       |  FROM win),
       |cand AS (
       |  SELECT a.user_id AS ua, b.user_id AS ub,
       |    GREATEST(a.w_start, b.w_start) AS o_start,
       |    LEAST(a.w_end, b.w_end) AS o_end
       |  FROM binned a JOIN binned b ON a.bin = b.bin
       |    AND a.user_id < b.user_id
       |    AND a.w_start < b.w_end AND b.w_start < a.w_end
       |    AND a.bin = GREATEST(a.w_start, b.w_start) // $OverlapBinUs)
       |SELECT ua, ub, COUNT(*) AS n_overlaps,
       |  CAST(SUM(o_end - o_start) AS BIGINT) AS co_active_us
       |FROM cand GROUP BY ua, ub
       |ORDER BY co_active_us DESC, ua, ub
       |LIMIT $OverlapTopK""".stripMargin

  /** q210 — EWMA smoothing of the daily event-count series per type
    * (α = ½), bit-identical across engines via an ordered array fold.
    *
    * The exponential moving average is the one smoothing primitive a
    * monitoring tier needs (q166's seasonal baseline and q131's
    * hour-over-hour ratio are its discrete cousins), but its recurrence
    * e_t = ½e_{t−1} + ½c_t is NOT associative — a parallel sum cannot
    * compute it and a naive Σ c_i·2^{i} reformulation overflows/loses
    * exactness. The portable form: reduce each type's day series to an
    * ordered array (bounded by the calendar — |days| elements, row-local
    * after one partial-aggregable groupBy) and FOLD it sequentially with
    * the same lambda in both engines — the fold runs the identical IEEE
    * op sequence seeded on the first element (Spark `aggregate` over
    * `slice(arr, 2, …)`; DuckDB `list_reduce`, which seeds the same
    * way), so even the float trajectory hash-matches.
    *
    * Scale: the shuffle is the (type, day) count groupBy — domain-
    * bounded; the per-type array is |days| long whatever the event
    * volume. The same shape smooths any per-key daily KPI at 100 TB. */
  def q210Ewma(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val ser = daily.groupBy(col("event_type"))
      .agg(collect_list(struct(col("day"), col("c"))).as("sc"),
        count(lit(1)).as("n_days"))
      .withColumn("arr",
        transform(array_sort(col("sc")), x => x("c").cast("double")))
    ser.select(col("event_type"), col("n_days"),
        aggregate(
          slice(col("arr"), lit(2), size(col("arr")) - 1),
          element_at(col("arr"), 1),
          (acc, x) => acc * lit(0.5) + x * lit(0.5)).as("ewma"))
      .orderBy(col("event_type"))
  }

  val q210Sql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day,
      |         CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |ser AS (
      |  SELECT event_type,
      |         list(CAST(c AS DOUBLE) ORDER BY day) AS arr,
      |         CAST(COUNT(*) AS BIGINT) AS n_days
      |  FROM daily GROUP BY event_type)
      |SELECT event_type, n_days,
      |       list_reduce(arr, (a, b) -> a * 0.5 + b * 0.5) AS ewma
      |FROM ser ORDER BY event_type""".stripMargin

  /** q222 — time-weighted average value (TWAP) per user.
    *
    * The metrics/finance primitive a plain AVG gets wrong on an
    * irregular stream: each observation holds until the next one, so
    * its weight is the microseconds it was in force, not 1. Exactness:
    * segment durations are integer epoch-micros from a lead() window,
    * values are 6-dp micro-units, and durations are truncated to whole
    * SECONDS before weighting — that keeps every vm·Δt product and its
    * sum inside BIGINT, where both engines convert to double identically
    * (a DECIMAL(38)/HUGEINT accumulator was bit-exact as an integer but
    * its double CONVERSION disagreed by 1 ulp past 2^63). The TWAP
    * surfaces through two divisions in a fixed order. The last
    * observation of a user carries no duration — both engines drop it —
    * and a user whose whole span truncates to zero seconds is excluded
    * by the mirrored HAVING.
    *
    * Scale: one user-keyed window (high-cardinality partitioning) and
    * one partial-aggregable rollup; decimal partials merge map-side. */
  def q222Twap(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("t"),
      Det.fixed6(col("value")).cast("long").as("vm"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    // second-resolution durations keep vm*dt inside BIGINT on both
    // engines — the DECIMAL/HUGEINT double conversions disagree by 1 ulp
    // at 2^63-exceeding magnitudes, so the weighted sum must stay a long
    ev.withColumn("t2", lead(col("t"), 1).over(w))
      .filter(col("t2").isNotNull)
      .withColumn("dt_s", expr("(t2 - t) div 1000000"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(col("dt_s")).as("span_s"),
        sum(col("vm") * col("dt_s")).as("wsum"))
      .filter(col("span_s") > 0)
      .select(col("user_id"), col("n_segments"), col("span_s"),
        (col("wsum").cast("double") / col("span_s").cast("double")
          / lit(1000000.0)).as("twap"))
      .orderBy(col("user_id"))
  }

  val q222Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t,
      |         CAST(floor(value*1000000.0 + 0.5) AS BIGINT) AS vm
      |  FROM events),
      |seg AS (
      |  SELECT user_id, vm,
      |         (LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t)
      |           // 1000000 AS dt_s
      |  FROM ev)
      |SELECT user_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_segments,
      |       CAST(SUM(dt_s) AS BIGINT) AS span_s,
      |       CAST(CAST(SUM(vm * dt_s) AS BIGINT) AS DOUBLE)
      |         / CAST(CAST(SUM(dt_s) AS BIGINT) AS DOUBLE) / 1000000.0 AS twap
      |FROM seg WHERE dt_s IS NOT NULL
      |GROUP BY user_id HAVING CAST(SUM(dt_s) AS BIGINT) > 0
      |ORDER BY user_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q222_twap" -> q222Twap _,
    "q210_ewma" -> q210Ewma _,
    "q171_interval_overlap" -> q171IntervalOverlap _,
    "q165_interval_merge" -> q165IntervalMerge _,
    "q83_gap_fill" -> q83GapFill _,
    "q60_tumbling_window" -> q60Tumbling _,
    "q61_sliding_window" -> q61Sliding _,
    "q62_sessionize" -> q62Sessionize _,
    "q65_session_window_native" -> q65SessionWindow _)

  val oracles: Map[String, String] = Map(
    "q222_twap" -> q222Sql,
    "q210_ewma" -> q210Sql,
    "q171_interval_overlap" -> q171Sql,
    "q165_interval_merge" -> q165Sql,
    "q83_gap_fill" -> q83Sql,
    "q60_tumbling_window" -> q60Sql,
    "q61_sliding_window" -> q61Sql,
    "q62_sessionize" -> q62Sql,
    "q65_session_window_native" -> q65Sql)
}
