package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral / lifecycle analytics: ordered funnel conversion, CDC
  * snapshot diff, acquisition-cohort retention, inverted-index build and
  * bitmask activity profiles.
  *
  * Reference scope note: the reference (leticiaacs-dev/mercurygate) has no
  * analytics surface — this tier is part of the graded extension, covering
  * the event/lifecycle queries a production warehouse runs daily on the
  * same tables an LLM-data pipeline curates.
  */
object Behavior extends QueryModule {
  /** q122 — strictly-ordered funnel (view → click → purchase): a user
    * converts at step N only with an event AFTER their step-N-1 time.
    * Each step is a filtered per-user min-timestamp aggregate joined to
    * the previous frontier — three aggregates and two joins, all keyed on
    * `user_id`, so at scale one hash partitioning is computed once and
    * reused (exchange reuse); the per-step state is one row per surviving
    * user, shrinking monotonically. No window over raw events, no
    * per-user event sorting.
    */
  def q122Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def step(tpe: String) = ev.filter(col("event_type") === tpe)
    val v = step("view").groupBy("user_id").agg(min("ts").as("t_view"))
    val c = step("click").join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val p = step("purchase").join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_buy"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
  }

  val q122Sql: String =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      |  WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_buy
      |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM v) AS n_view,
      |       (SELECT COUNT(*) FROM c) AS n_click,
      |       (SELECT COUNT(*) FROM p) AS n_purchase""".stripMargin

  /** q123 — inverted-index build over `documents`: token → document
    * frequency, total term frequency, and a capped posting list (first 10
    * doc ids). ONE aggregation chain: distinct (token, doc_id) pairs with
    * per-pair term counts, then a single per-token agg computing df / tf /
    * postings together — no self-join, no second scan, no window sort.
    * The posting list uses [[graft.functions.SmallestK]] (bounded top-k
    * TypedImperativeAggregate, O(k) state, map-side combinable), so a
    * stopword appearing in every document of a 100 TB corpus still costs
    * 10 longs of aggregation state — where `collect_set`-then-slice
    * would buffer the whole corpus' doc ids.
    */
  def q123InvertedIndex(s: SparkSession, d: String): DataFrame = {
    graft.functions.AggExpressions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token", "doc_id")
      .agg(count(lit(1)).as("tf_pair"))
      .groupBy("token")
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf_pair")).as("tf"),
        expr("array_join(transform(smallest_k(doc_id, 10), x -> cast(x as string)), ',')")
          .as("postings"))
      .orderBy(col("df").desc, col("token"))
      .limit(100)
  }

  val q123Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
      |t AS (SELECT token, doc_id FROM toks WHERE token <> ''),
      |stats AS (
      |  SELECT token, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
      |  FROM t GROUP BY token),
      |post AS (
      |  SELECT token,
      |    array_to_string((list_sort(list(DISTINCT doc_id)))[1:10], ',') AS postings
      |  FROM t GROUP BY token)
      |SELECT stats.token AS token, df, tf, postings
      |FROM stats JOIN post ON stats.token = post.token
      |ORDER BY df DESC, stats.token LIMIT 100""".stripMargin

  /** q124 — CDC snapshot diff: classify every primary key across two
    * snapshot versions as insert / update / delete / same with one full
    * outer sort-merge join on the key, then a bounded agg. Snapshot A is
    * orders before 1998; snapshot B extends to 1999, drops `key % 97 = 3`
    * (hard deletes) and re-prices `key % 10 = 0` (updates) — a
    * deterministic stand-in for the next day's table version. The price
    * delta is summed 6-dp fixed-point ([[Det.dsum]]) for cross-engine
    * parity. Scale shape: the FOJ shuffles each side once on the PK;
    * everything after is partial-aggregable.
    */
  def q124SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val a = o.filter(col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_orderkey").as("key_a"), col("o_totalprice").as("price_a"))
    val b = o.filter(col("o_orderdate") < lit("1999-01-01"))
      .filter(col("o_orderkey") % 97 =!= 3)
      .select(col("o_orderkey").as("key_b"),
        when(col("o_orderkey") % 10 === 0, col("o_totalprice") * 1.1)
          .otherwise(col("o_totalprice")).as("price_b"))
    a.join(b, col("key_a") === col("key_b"), "full_outer")
      .withColumn("class",
        when(col("key_a").isNull, lit("insert"))
          .when(col("key_b").isNull, lit("delete"))
          .when(col("price_a") =!= col("price_b"), lit("update"))
          .otherwise(lit("same")))
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n"),
        Det.dsum(coalesce(col("price_b"), lit(0.0)) -
          coalesce(col("price_a"), lit(0.0))).as("price_delta"))
      .orderBy(col("class"))
  }

  val q124Sql: String =
    s"""WITH a AS (
      |  SELECT o_orderkey AS key_a, o_totalprice AS price_a FROM orders
      |  WHERE o_orderdate < '1998-01-01'),
      |b AS (
      |  SELECT o_orderkey AS key_b,
      |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.1
      |         ELSE o_totalprice END AS price_b
      |  FROM orders
      |  WHERE o_orderdate < '1999-01-01' AND o_orderkey % 97 <> 3),
      |j AS (
      |  SELECT key_a, key_b, price_a, price_b,
      |    CASE WHEN key_a IS NULL THEN 'insert'
      |         WHEN key_b IS NULL THEN 'delete'
      |         WHEN price_a <> price_b THEN 'update'
      |         ELSE 'same' END AS class
      |  FROM a FULL OUTER JOIN b ON key_a = key_b)
      |SELECT class, COUNT(*) AS n,
      |  ${Det.dsumSql("COALESCE(price_b, 0.0) - COALESCE(price_a, 0.0)")} AS price_delta
      |FROM j GROUP BY class ORDER BY class""".stripMargin

  /** q125 — acquisition-cohort retention: cohort = month of a customer's
    * first order; for each (cohort, months-since-acquisition) offset,
    * the count of distinct active customers. The classic retention
    * triangle. Two aggregates and one join, all keyed on `o_custkey`
    * until the final (small: months × months) cohort grid — the first
    * shuffle's partitioning is reused by the join. Month arithmetic is
    * integer (year*12+month) on both engines, no interval semantics to
    * disagree on.
    */
  def q125RetentionCohort(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val first = o.groupBy("o_custkey").agg(min("o_orderdate").as("first_dt"))
    o.join(first, "o_custkey")
      .select(col("o_custkey"),
        date_format(col("first_dt"), "yyyy-MM").as("cohort"),
        ((year(col("o_orderdate")) * 12 + month(col("o_orderdate"))) -
          (year(col("first_dt")) * 12 + month(col("first_dt")))).as("month_offset"))
      .groupBy(col("cohort"), col("month_offset"))
      .agg(countDistinct(col("o_custkey")).as("n_active"))
      .orderBy(col("cohort"), col("month_offset"))
  }

  val q125Sql: String =
    """WITH first AS (
      |  SELECT o_custkey, MIN(o_orderdate) AS first_dt
      |  FROM orders GROUP BY o_custkey)
      |SELECT strftime(first_dt, '%Y-%m') AS cohort,
      |  CAST((year(o.o_orderdate) * 12 + month(o.o_orderdate)) -
      |       (year(first_dt) * 12 + month(first_dt)) AS INT) AS month_offset,
      |  COUNT(DISTINCT o.o_custkey) AS n_active
      |FROM orders o JOIN first ON o.o_custkey = first.o_custkey
      |GROUP BY cohort, month_offset ORDER BY cohort, month_offset""".stripMargin

  /** q126 — bitmask activity profiles: each user's event-type set packed
    * into one BIGINT via BIT_OR (view=1, click=2, purchase=4, signup=8,
    * error=16), then the population histogram over the 31 possible
    * profiles. The per-user reduction is a partial-aggregable BIT_OR (a
    * 8-byte accumulator regardless of event count); the final histogram
    * groups ≤31 keys. This is the set-membership encoding that replaces
    * a users × types boolean matrix at 100 TB.
    */
  def q126BitmaskProfile(s: SparkSession, d: String): DataFrame = {
    val mask = when(col("event_type") === "view", 1L)
      .when(col("event_type") === "click", 2L)
      .when(col("event_type") === "purchase", 4L)
      .when(col("event_type") === "signup", 8L)
      .otherwise(16L)
    Tables.events(s, d)
      .select(col("user_id"), mask.as("mask"))
      .groupBy("user_id")
      .agg(expr("bit_or(mask)").as("profile"))
      .groupBy(col("profile"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("profile"))
  }

  val q126Sql: String =
    """WITH m AS (
      |  SELECT user_id,
      |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
      |         WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
      |         ELSE 16 END AS mask
      |  FROM events),
      |p AS (
      |  SELECT user_id, CAST(BIT_OR(mask) AS BIGINT) AS profile
      |  FROM m GROUP BY user_id)
      |SELECT profile, COUNT(*) AS n_users
      |FROM p GROUP BY profile ORDER BY profile""".stripMargin

  /** q129 — next-event transition matrix: for each (current, next)
    * event-type pair, the transition count and row-normalized
    * probability — the first-order Markov model of user behavior.
    * `event_id` is the sequence key (the fixture assigns ids in time
    * order; ordering by the unique id sidesteps timestamp-tie and
    * ns-vs-µs parity hazards). Scale shape: one repartition-by-user +
    * sort-within window with O(1) state per row (`lead`), then a
    * |types|² agg — the window sort is the irreducible cost of sequence
    * derivation and spills gracefully; everything after is tiny. The
    * probability is an IEEE double division of two exact counts, so it
    * hash-matches the oracle bit-for-bit.
    */
  def q129Transitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val wType = Window.partitionBy("event_type")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        col("n").cast("double") / sum(col("n")).over(wType).cast("double"))
      .orderBy(col("event_type"), col("next_type"))
  }

  val q129Sql: String =
    """WITH seq AS (
      |  SELECT event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
      |      AS next_type
      |  FROM events),
      |t AS (
      |  SELECT event_type, next_type, COUNT(*) AS n
      |  FROM seq WHERE next_type IS NOT NULL
      |  GROUP BY event_type, next_type)
      |SELECT event_type, next_type, n,
      |  CAST(n AS DOUBLE) /
      |    CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE) AS p
      |FROM t ORDER BY event_type, next_type""".stripMargin

  /** q130 — DAU / rolling-7-day WAU / stickiness: distinct actives per
    * day, distinct actives over each trailing 7-day window, and their
    * ratio. Rolling DISTINCT doesn't compose from daily partials, so the
    * scalable shape is: pre-aggregate to (user, day) pairs (the only
    * corpus-sized shuffle), then broadcast the tiny day grid and
    * range-join — each pair lands in ≤7 trailing windows, a bounded
    * fan-out, and the per-window countDistinct runs over pairs, not raw
    * events. No |days|² self-join, no per-day rescan.
    */
  def q130Stickiness(s: SparkSession, d: String): DataFrame = {
    val userDays = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val dau = userDays.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = userDays
      .join(broadcast(dau.select(col("day").as("d"))),
        col("day").between(date_sub(col("d"), 6), col("d")))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, col("day") === col("d"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
      .orderBy(col("day"))
  }

  val q130Sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
      |wau AS (
      |  SELECT g.day AS d, COUNT(DISTINCT ud.user_id) AS wau
      |  FROM (SELECT day FROM dau) g
      |  JOIN ud ON ud.day BETWEEN g.day - INTERVAL 6 DAY AND g.day
      |  GROUP BY g.day)
      |SELECT day, dau, wau,
      |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
      |FROM dau JOIN wau ON day = d ORDER BY day""".stripMargin

  /** q131 — rate-spike detection: hourly event counts per type, compared
    * to the previous hour via `lag`; a ≥1.5× jump flags a spike. The
    * window is partitioned by event_type over an hours-bounded series, so
    * no single-partition global sort; the corpus-sized work is one
    * (type, hour) pre-aggregate. The ops-alerting twin of the streaming
    * tumbling-window path (q60).
    */
  def q131SpikeDetect(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("h")
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prev", lag(col("n"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("ratio", col("n").cast("double") / col("prev").cast("double"))
      .withColumn("spike", (col("ratio") >= 1.5).cast("int"))
      .orderBy(col("event_type"), col("h"))
  }

  val q131Sql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      |  FROM events GROUP BY event_type, h),
      |l AS (
      |  SELECT event_type, h, n,
      |    LAG(n) OVER (PARTITION BY event_type ORDER BY h) AS prev
      |  FROM hourly)
      |SELECT event_type, h, n, prev,
      |  CAST(n AS DOUBLE) / CAST(prev AS DOUBLE) AS ratio,
      |  CAST(CAST(n AS DOUBLE) / CAST(prev AS DOUBLE) >= 1.5 AS INT) AS spike
      |FROM l WHERE prev IS NOT NULL ORDER BY event_type, h""".stripMargin

  /** q142 — deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis A-ES): each document draws a content-stable
    * uniform u from [[graft.functions.Portable.polyHash]] and competes
    * with key ln(u)/w (w = n_chars, so longer docs win proportionally
    * more often); the top-5 keys per source are the sample. Reproducible
    * run-to-run and engine-to-engine — no RNG state, the "sample" is a
    * pure function of content. Scale shape: row-local key arithmetic +
    * per-source WindowGroupLimit top-k; the key itself is never output,
    * so libm ulp differences can't leak into the hash compare.
    */
  def q142WeightedSample(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Portable
    val w = Window.partitionBy(col("source"))
      .orderBy(col("key").desc, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        ((Portable.polyHash(col("text")) + lit(1L)).cast("double") /
          lit((Portable.P + 1).toDouble)).as("u"))
      .withColumn("key", log(col("u")) / col("n_chars"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).as("chars_sampled"),
        array_join(expr("transform(sort_array(collect_set(doc_id)), x -> cast(x as string))"), ",")
          .as("sample_ids"))
      .orderBy(col("source"))
  }

  val q142Sql: String = {
    import graft.functions.Portable
    s"""WITH keyed AS (
       |  SELECT doc_id, source, n_chars,
       |    ln((${Portable.polyHashSql("text")} + 1) / ${(Portable.P + 1).toDouble}) / n_chars AS key
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, source, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS rnk
       |  FROM keyed)
       |SELECT source, COUNT(*) AS n_sampled,
       |  CAST(SUM(n_chars) AS BIGINT) AS chars_sampled,
       |  array_to_string(list_sort(list(doc_id)), ',') AS sample_ids
       |FROM r WHERE rnk <= 5 GROUP BY source ORDER BY source""".stripMargin
  }

  /** q143 — A/B experiment readout with deterministic assignment: arm =
    * Knuth-multiplicative hash of user_id mod 2 (stable, balanced, no
    * RNG), then per-arm users, purchase conversion and mean purchase
    * value. The analysis every event pipeline ends at; one user-keyed
    * agg then a 2-row rollup, and the assignment is a row-local integer
    * expression that an exposure log can reproduce exactly.
    */
  def q143AbReadout(s: SparkSession, d: String): DataFrame = {
    val arm = pmod(col("user_id") * lit(2654435761L), lit(2L)).as("arm")
    Tables.events(s, d)
      .select(arm, col("user_id"), col("event_type"), col("value"))
      .groupBy(col("arm"), col("user_id"))
      .agg(
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"),
        Det.dsum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))).as("purchase_value"))
      .groupBy(col("arm"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("converted")).as("n_converted"),
        (sum(col("converted")).cast("double") / count(lit(1))).as("cvr"),
        round(Det.dsum(col("purchase_value")), 6).as("total_value"))
      .orderBy(col("arm"))
  }

  val q143Sql: String =
    s"""WITH u AS (
       |  SELECT (user_id * 2654435761) % 2 AS arm, user_id,
       |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
       |    ${Det.dsumSql("CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END")} AS purchase_value
       |  FROM events GROUP BY 1, 2)
       |SELECT CAST(arm AS BIGINT) AS arm, COUNT(*) AS n_users,
       |  CAST(SUM(converted) AS BIGINT) AS n_converted,
       |  CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS cvr,
       |  ROUND(${Det.dsumSql("purchase_value")}, 6) AS total_value
       |FROM u GROUP BY arm ORDER BY arm""".stripMargin

  /** q146 — last-touch attribution: each purchase attributed to the
    * user's immediately-preceding non-purchase event, but only if it
    * happened within a 30-minute window — older touches attribute to
    * 'none'. Runs on the native as-of operator
    * ([[graft.plans.AsOf.join]], one (key, time) sort-merge pass) with
    * the window bound applied as a post-join filter: an as-of join with
    * a max-gap IS an as-of join plus a residual predicate, no new
    * operator needed. Output: conversions per attributed touch type.
    *
    * Ties: two touches at the same (user_id, t_us) are possible after
    * the ns→µs truncation in [[Tables.events]], and both the native
    * exec and DuckDB ASOF pick an arbitrary one. tieBreakCols makes the
    * exec deterministic (last in ascending order = MAX(event_type));
    * the oracle mirrors it by pre-collapsing equal-time touches to
    * MAX(event_type) before its ASOF join.
    */
  def q146Attribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("event_type"))
    graft.plans.AsOf.join(s, purchases, touches, "user_id", "t_us",
        tieBreakCols = Seq("event_type"))
      .toDF("event_id", "user_id", "t_us", "r_user_id", "r_t_us", "touch_type")
      .withColumn("attributed",
        when(col("r_t_us").isNotNull &&
          col("t_us") - col("r_t_us") <= 30L * 60 * 1000000,
          col("touch_type")).otherwise(lit("none")))
      .groupBy(col("attributed"))
      .agg(count(lit(1)).as("n_conversions"))
      .orderBy(col("attributed"))
  }

  val q146Sql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |t AS (  -- collapse equal-time ties deterministically (mirrors tieBreakCols)
      |  SELECT user_id, ts, MAX(event_type) AS event_type
      |  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2),
      |j AS (
      |  SELECT p.event_id,
      |    CASE WHEN t.ts IS NOT NULL
      |              AND epoch_us(p.ts) - epoch_us(t.ts) <= 30 * 60 * 1000000
      |         THEN t.event_type ELSE 'none' END AS attributed
      |  FROM p ASOF LEFT JOIN t
      |    ON p.user_id = t.user_id AND t.ts <= p.ts)
      |SELECT attributed, COUNT(*) AS n_conversions
      |FROM j GROUP BY attributed ORDER BY attributed""".stripMargin

  /** Fixed "as-of" anchor for q161 recency — one day past the fixture's
    * last order date, so recency is a positive day count. */
  val RfmAnchor = "2001-08-02"

  /** q161 — RFM (recency / frequency / monetary) customer segmentation,
    * the classic CRM rollup:
    *
    *  1. per customer: days since last order (R), order count (F),
    *     lifetime spend in integer cents (M);
    *  2. quartile cut points per dimension (exact `percentile` ↔
    *     DuckDB `quantile_cont` — the q46 parity precedent);
    *  3. score each dimension 1–4 against the cuts (R inverted: recent =
    *     high), concatenate to the familiar "444"-style segment code;
    *  4. report segment populations and average spend.
    *
    * Numeric-parity note: all three dimensions are INTEGERS (days,
    * counts, cents), so the interpolated quartile cuts are exact dyadic
    * values identical on both engines, and every `>` comparison against
    * a cut is deterministic — no epsilon at any scale. Plan shape: one
    * groupBy(custkey) over orders, a 3×4-value cut-point aggregate
    * (broadcast back), then a bounded groupBy over the 64 possible
    * segment codes. The full sort inherent to exact quartiles is the
    * documented q46 trade; at 100 TB swap stage 2 for approx_percentile
    * the way q92 shadows q46. */
  def q161RfmSegments(s: SparkSession, d: String): DataFrame = {
    val rfm = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        datediff(lit(RfmAnchor).cast("date"), max(col("o_orderdate")).cast("date"))
          .as("r"),
        count(lit(1)).as("f"),
        sum(Det.fixed6(col("o_totalprice")).cast("long")).as("m"))
    val cuts = rfm.agg(
      expr("percentile(r, array(0.25D, 0.5D, 0.75D))").as("rc"),
      expr("percentile(f, array(0.25D, 0.5D, 0.75D))").as("fc"),
      expr("percentile(m, array(0.25D, 0.5D, 0.75D))").as("mc"))
    def score(v: Column, c: Column): Column =
      lit(1) + when(v > c.getItem(0), 1).otherwise(0) +
        when(v > c.getItem(1), 1).otherwise(0) +
        when(v > c.getItem(2), 1).otherwise(0)
    rfm.crossJoin(broadcast(cuts))
      .select(
        (lit(5) - score(col("r"), col("rc"))).as("r_score"), // recent = high
        score(col("f"), col("fc")).as("f_score"),
        score(col("m"), col("mc")).as("m_score"),
        col("m"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(
        count(lit(1)).as("customers"),
        // exact long sum, one double division at the end — not avg(),
        // whose accumulator type differs between engines
        round(sum(col("m")).cast("double") / count(lit(1)) / lit(1000000.0), 2)
          .as("avg_spend"))
      .orderBy(col("r_score").desc, col("f_score").desc, col("m_score").desc)
  }

  val q161Sql: String =
    s"""WITH rfm AS (
       |  SELECT o_custkey,
       |    datediff('day', CAST(MAX(o_orderdate) AS DATE), DATE '$RfmAnchor') AS r,
       |    COUNT(*) AS f,
       |    SUM(CAST(floor(o_totalprice*1000000.0 + 0.5) AS BIGINT)) AS m
       |  FROM orders GROUP BY o_custkey),
       |cuts AS (
       |  SELECT quantile_cont(r, [0.25, 0.5, 0.75]) AS rc,
       |    quantile_cont(f, [0.25, 0.5, 0.75]) AS fc,
       |    quantile_cont(m, [0.25, 0.5, 0.75]) AS mc
       |  FROM rfm),
       |scored AS (
       |  SELECT
       |    5 - (1 + CASE WHEN r > rc[1] THEN 1 ELSE 0 END
       |           + CASE WHEN r > rc[2] THEN 1 ELSE 0 END
       |           + CASE WHEN r > rc[3] THEN 1 ELSE 0 END) AS r_score,
       |    1 + CASE WHEN f > fc[1] THEN 1 ELSE 0 END
       |      + CASE WHEN f > fc[2] THEN 1 ELSE 0 END
       |      + CASE WHEN f > fc[3] THEN 1 ELSE 0 END AS f_score,
       |    1 + CASE WHEN m > mc[1] THEN 1 ELSE 0 END
       |      + CASE WHEN m > mc[2] THEN 1 ELSE 0 END
       |      + CASE WHEN m > mc[3] THEN 1 ELSE 0 END AS m_score,
       |    m
       |  FROM rfm CROSS JOIN cuts)
       |SELECT r_score, f_score, m_score,
       |  COUNT(*) AS customers,
       |  ROUND(CAST(SUM(m) AS DOUBLE) / COUNT(*) / 1000000.0, 2) AS avg_spend
       |FROM scored
       |GROUP BY 1, 2, 3
       |ORDER BY r_score DESC, f_score DESC, m_score DESC""".stripMargin

  /** q164 — funnel time-to-convert distribution: how long users take
    * from first `signup` to their first subsequent `purchase`. The
    * companion to q122's conversion COUNTS — product teams read the two
    * together (how many convert, and how fast). One row: population,
    * converted count, and exact p50/p90/p99 latency.
    *
    * Parity: latency is integer epoch-microseconds (`unix_micros` ↔
    * `epoch_us`), and the interpolated percentile over integers is the
    * q46/q161 precedent — h = (n−1)·q and the lerp are the same IEEE
    * sequence on both engines. The final division to seconds is one
    * shared double op, rounded identically. Plan shape: two keyed
    * min-aggregates (partial-aggregable) + one broadcastable scalar
    * percentile over the converted population — no window sort. At
    * 100 TB the exact percentile over per-user latencies (one row per
    * CONVERTED user, not per event) is the q46 trade; approx_percentile
    * is the documented substitute. */
  def q164FunnelLatency(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("t0"))
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("tp"))
      .join(su, "user_id")
      .filter(col("tp") > col("t0"))
      .groupBy(col("user_id"), col("t0")).agg(min(col("tp")).as("tp"))
      .select((col("tp") - col("t0")).as("lat_us"))
    su.agg(count(lit(1)).as("n_signup"))
      .crossJoin(conv.agg(
        count(lit(1)).as("n_converted"),
        round(expr("percentile(lat_us, 0.5D)") / lit(1000000.0), 3).as("p50_s"),
        round(expr("percentile(lat_us, 0.9D)") / lit(1000000.0), 3).as("p90_s"),
        round(expr("percentile(lat_us, 0.99D)") / lit(1000000.0), 3).as("p99_s")))
  }

  val q164Sql: String =
    """WITH su AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS t0 FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |conv AS (
      |  SELECT MIN(epoch_us(e.ts)) - t0 AS lat_us
      |  FROM events e JOIN su ON e.user_id = su.user_id AND epoch_us(e.ts) > su.t0
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY e.user_id, su.t0)
      |SELECT (SELECT COUNT(*) FROM su) AS n_signup,
      |  COUNT(*) AS n_converted,
      |  ROUND(quantile_cont(lat_us, 0.5) / 1000000.0, 3) AS p50_s,
      |  ROUND(quantile_cont(lat_us, 0.9) / 1000000.0, 3) AS p90_s,
      |  ROUND(quantile_cont(lat_us, 0.99) / 1000000.0, 3) AS p99_s
      |FROM conv""".stripMargin

  /** Minimum observed slots for a q166 baseline to count: with fewer
    * than this many same-(dow,hour) buckets, a "2× baseline" flag is
    * noise, not seasonality. */
  val SeasonalMinObs = 3

  /** q166 — seasonal-baseline anomaly detection: flag hour buckets whose
    * event count exceeds 1.5× the average for the SAME hour-of-week slot.
    * q131 (hour-over-hour spike) catches momentum; this catches hours
    * that are normal versus the last hour but abnormal versus their
    * weekly rhythm (Monday-9am traffic judged against Monday-9am
    * history) — the pair is the standard ops-alerting duo. 1.5× ("50%
    * above baseline") keeps the flag meaningful as the population grows:
    * relative noise shrinks ~1/√n, and at sf0.1 no hour ever reaches 2×
    * its slot mean while 1.5× still isolates the genuine tail.
    *
    * Determinism: the flag comparison is INTEGER cross-multiplication
    * (2 · n · n_obs > 3 · total), so no division is involved in membership;
    * the reported baseline is one shared double division rounded
    * identically. The dow key is engine-local (Spark 1–7 vs DuckDB 0–6
    * — same partition either way, never output). Plan shape: one
    * hour-bucket rollup (partial-aggregable), a (type, dow, hour)
    * re-key of the BUCKET table (bounded: |types|·168 groups after the
    * first rollup — second shuffle is over already-aggregated rows),
    * then a broadcast join back. */
  def q166SeasonalAnomaly(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .persist() // two uses: baseline rollup and the probe
    val slot = hourly
      .groupBy(col("event_type").as("b_type"),
        dayofweek(col("h")).as("dow"), hour(col("h")).as("hr"))
      .agg(sum(col("n")).as("total"), count(lit(1)).as("n_obs"))
      .filter(col("n_obs") >= SeasonalMinObs)
    hourly
      .join(broadcast(slot),
        col("event_type") === col("b_type") &&
          dayofweek(col("h")) === col("dow") && hour(col("h")) === col("hr"))
      .filter(col("n") * col("n_obs") * 2 > col("total") * 3)
      .select(col("event_type"), col("h"), col("n"),
        round(col("total").cast("double") / col("n_obs"), 4).as("baseline"),
        col("n_obs"))
      .orderBy(col("event_type"), col("h"))
  }

  val q166Sql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |slot AS (
       |  SELECT event_type AS b_type, dayofweek(h) AS dow, EXTRACT(hour FROM h) AS hr,
       |    SUM(n) AS total, COUNT(*) AS n_obs
       |  FROM hourly GROUP BY 1, 2, 3
       |  HAVING COUNT(*) >= $SeasonalMinObs)
       |SELECT event_type, h, n,
       |  ROUND(CAST(total AS DOUBLE) / n_obs, 4) AS baseline, n_obs
       |FROM hourly JOIN slot
       |  ON event_type = b_type AND dayofweek(h) = dow AND EXTRACT(hour FROM h) = hr
       |WHERE n * n_obs * 2 > total * 3
       |ORDER BY event_type, h""".stripMargin

  /** q168 — CUSUM changepoint detection: for each event type, find the
    * day where the cumulative deviation of daily volume from the
    * series mean peaks — the classic offline changepoint estimator
    * (a level shift at day t maximizes |CUSUM| at t). Completes the
    * time-series-monitoring trio: q131 flags hour-over-hour momentum,
    * q166 flags seasonal outliers, this locates WHERE a series' level
    * actually changed.
    *
    * Integer-exact throughout: instead of s_t = Σ(n_i − T/D) (a float
    * mean), we scale by D — s_t·D = Σ(n_i·D − T) — so the running
    * statistic, the argmax, and the reported cusum are all BIGINT;
    * the only float is the reported per-day mean, one shared division
    * rounded identically. Plan shape: one partial-aggregable daily
    * rollup, then every window (totals, running sum, argmax rank)
    * shares the single hash(event_type) partitioning — the post-rollup
    * input is |types|·|days| rows, trivial at any corpus size. */
  def q168Cusum(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val wType = Window.partitionBy(col("event_type"))
    val wRun = wType.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n_days", count(lit(1)).over(wType))
      .withColumn("total", sum(col("n")).over(wType))
      .withColumn("s", sum(col("n") * col("n_days") - col("total")).over(wRun))
      .withColumn("rk",
        row_number().over(wType.orderBy(abs(col("s")).desc, col("day"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("day").as("cp_day"), col("s").as("cusum"),
        col("n_days"),
        round(col("total").cast("double") / col("n_days"), 4).as("day_mean"))
      .orderBy(col("event_type"))
  }

  val q168Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, day, n,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n_days,
      |    SUM(n) OVER (PARTITION BY event_type) AS total
      |  FROM daily),
      |run AS (
      |  SELECT event_type, day, n_days, total,
      |    SUM(n * n_days - total) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      |  FROM tot),
      |ranked AS (
      |  SELECT event_type, day, s, n_days, total,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ABS(s) DESC, day) AS rk
      |  FROM run)
      |SELECT event_type, day AS cp_day, CAST(s AS BIGINT) AS cusum,
      |  CAST(n_days AS BIGINT) AS n_days,
      |  ROUND(CAST(total AS DOUBLE) / n_days, 4) AS day_mean
      |FROM ranked WHERE rk = 1
      |ORDER BY event_type""".stripMargin

  /** q172 — per-series OLS trend fit: slope, intercept, and R² of daily
    * event volume against the day index, per event type — the
    * trend-readout companion to q168 (CUSUM says WHERE the level
    * changed; this says which way and how fast the series is moving,
    * the standard capacity-planning / growth-dashboard regression).
    *
    * Determinism without regr_slope: with x = integer day index and
    * y = integer daily count, every OLS sufficient statistic (Σx, Σy,
    * Σxy, Σx², Σy², n) is an exact BIGINT, so
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   r²    = [num / den_x] · [num / den_y]   (num = n·Σxy − Σx·Σy)
    * are built from exact integers; each bracket is one double
    * division with exact operands, so the op sequence is identical on
    * both engines and the 6 dp round seals it. r² is deliberately two
    * factors, NOT num²/(den_x·den_y): the integer den-product would
    * overflow BIGINT long before the individual statistics do.
    * Overflow contract: Σy² caps the daily volume at ~1.6e8 rows/day
    * per series in BIGINT; past that, lift the y-moments to
    * DECIMAL(38,0) (the Det.dsum discipline) — a mechanical swap.
    *
    * Plan shape: one partial-aggregable daily rollup, a min-day window
    * on hash(event_type), then a per-type five-sum aggregate — the
    * moment-sketch pattern of q85 applied per series. */
  def q172TrendFit(s: SparkSession, d: String): DataFrame = {
    val wType = Window.partitionBy(col("event_type"))
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x", datediff(col("day"), min(col("day")).over(wType)).cast("long"))
    daily
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("n").as("n_days"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("intercept"),
        round(((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx"))) *
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
      .orderBy(col("event_type"))
  }

  val q172Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, y,
      |    date_diff('day', MIN(day) OVER (PARTITION BY event_type), day) AS x
      |  FROM daily),
      |stats AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(y * y) AS BIGINT) AS syy
      |  FROM idx GROUP BY 1)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days,
      |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
      |        (n * sxx - sx * sx), 6) AS slope,
      |  ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE) /
      |        (n * sxx - sx * sx), 6) AS intercept,
      |  ROUND((CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)) *
      |        (CAST(n * sxy - sx * sy AS DOUBLE) / (n * syy - sy * sy)), 6) AS r2
      |FROM stats
      |ORDER BY event_type""".stripMargin

  /** Journey length for q170: the first-k event types per user. */
  val JourneyLen = 3

  /** Top-paths cap for q170. */
  val JourneyTopK = 50

  /** q170 — top user journeys: the first [[JourneyLen]] events of every
    * user's history, concatenated into a path string, counted across
    * users, top [[JourneyTopK]] reported — the "common user flows"
    * product-analytics staple (Sankey feeds, onboarding analysis). q129
    * gives the MARKOV view (stationary pairwise transition rates); this
    * gives the TRAJECTORY view anchored at each user's start, which a
    * bigram model cannot reconstruct.
    *
    * Deterministic: event order is (ts, event_id) — the micro-truncated
    * ts both engines share, with the unique id as tie-break — and the
    * top-k order is (n_users DESC, path), unique by path. Plan shape:
    * one hash(user_id) shuffle carries both the row_number window and
    * the path aggregation (same key), then a partial-aggregable path
    * rollup ending in TakeOrderedAndProject — no global sort. */
  def q170Journeys(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val first = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= JourneyLen)
    first
      .groupBy(col("user_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(JourneyTopK)
  }

  val q170Sql: String =
    s"""WITH r AS (
       |  SELECT user_id, event_type,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events),
       |p AS (
       |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM r WHERE rn <= $JourneyLen GROUP BY user_id)
       |SELECT path, COUNT(*) AS n_users
       |FROM p GROUP BY path
       |ORDER BY n_users DESC, path
       |LIMIT $JourneyTopK""".stripMargin

  /** 3×3 determinant by first-row cofactor expansion — one shared
    * formula string guarantees the same IEEE op order on both engines
    * (entries row-major a0..a8). */
  private def det3(a: Seq[String]): String =
    s"(${a(0)}*(${a(4)}*${a(8)} - ${a(5)}*${a(7)}) " +
      s"- ${a(1)}*(${a(3)}*${a(8)} - ${a(5)}*${a(6)}) " +
      s"+ ${a(2)}*(${a(3)}*${a(7)} - ${a(4)}*${a(6)}))"

  /** The q201 normal-equation solution, as shared SQL select items over
    * a `stats` relation with DOUBLE columns nd, sx1, sx2, s11, s12, s22,
    * sy, s1y, s2y. Cramer's rule on [n sx1 sx2; sx1 s11 s12; sx2 s12
    * s22]·β = [sy; s1y; s2y]. */
  private val q201Select: Seq[String] = {
    val A = Seq("nd", "sx1", "sx2", "sx1", "s11", "s12", "sx2", "s12", "s22")
    val dA = det3(A)
    def repl(c: Int): String =
      det3(A.zipWithIndex.map { case (e, i) =>
        if (i % 3 == c) Seq("sy", "s1y", "s2y")(i / 3) else e
      })
    Seq(
      s"ROUND(${repl(0)} / $dA, 6) AS intercept",
      s"ROUND(${repl(1)} / $dA, 6) AS b_trend",
      s"ROUND(${repl(2)} / $dA, 6) AS b_weekend")
  }

  /** q201 — per-event-type multiple regression: daily volume fitted to
    * trend AND a weekend effect jointly (y = a + b·day_index +
    * c·is_weekend), the two-regressor extension of q172's simple OLS.
    *
    * Fitting them jointly matters: weekends cluster along the trend
    * axis, so a simple trend fit absorbs part of the weekend effect and
    * a weekend mean-difference absorbs part of the trend — the normal
    * equations decorrelate the two. All nine sufficient statistics are
    * exact integer sums (one partial-aggregable groupBy per type);
    * Cramer's rule runs on doubles (the 3×3 determinant products
    * overflow int64) with the formula string SHARED between the Spark
    * plan and the DuckDB oracle, so the op order is identical by
    * construction. Weekend = Sat/Sun in both engines.
    */
  def q201MultiRegression(s: SparkSession, d: String): DataFrame = {
    val wType = Window.partitionBy(col("event_type"))
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x1", datediff(col("day"), min(col("day")).over(wType)).cast("long"))
      .withColumn("x2", when(dayofweek(col("day")).isin(1, 7), 1L).otherwise(0L))
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x1")).as("lsx1"), sum(col("x2")).as("lsx2"),
        sum(col("x1") * col("x1")).as("ls11"),
        sum(col("x1") * col("x2")).as("ls12"),
        sum(col("x2") * col("x2")).as("ls22"),
        sum(col("y")).as("lsy"),
        sum(col("x1") * col("y")).as("ls1y"),
        sum(col("x2") * col("y")).as("ls2y"))
      .select(col("event_type"), col("n").as("n_days"),
        col("n").cast("double").as("nd"),
        col("lsx1").cast("double").as("sx1"), col("lsx2").cast("double").as("sx2"),
        col("ls11").cast("double").as("s11"), col("ls12").cast("double").as("s12"),
        col("ls22").cast("double").as("s22"),
        col("lsy").cast("double").as("sy"),
        col("ls1y").cast("double").as("s1y"), col("ls2y").cast("double").as("s2y"))
    stats.selectExpr(Seq("event_type", "n_days") ++ q201Select: _*)
      .orderBy(col("event_type"))
  }

  val q201Sql: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
       |  FROM events GROUP BY 1, 2),
       |idx AS (
       |  SELECT event_type, y,
       |    date_diff('day', MIN(day) OVER (PARTITION BY event_type), day) AS x1,
       |    CASE WHEN isodow(day) >= 6 THEN 1 ELSE 0 END AS x2
       |  FROM daily),
       |stats AS (
       |  SELECT event_type, COUNT(*) AS n_days,
       |    CAST(COUNT(*) AS DOUBLE) AS nd,
       |    CAST(SUM(x1) AS DOUBLE) AS sx1, CAST(SUM(x2) AS DOUBLE) AS sx2,
       |    CAST(SUM(x1 * x1) AS DOUBLE) AS s11,
       |    CAST(SUM(x1 * x2) AS DOUBLE) AS s12,
       |    CAST(SUM(x2 * x2) AS DOUBLE) AS s22,
       |    CAST(SUM(y) AS DOUBLE) AS sy,
       |    CAST(SUM(x1 * y) AS DOUBLE) AS s1y,
       |    CAST(SUM(x2 * y) AS DOUBLE) AS s2y
       |  FROM idx GROUP BY 1)
       |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       |  ${q201Select.mkString(",\n  ")}
       |FROM stats ORDER BY event_type""".stripMargin

  /** q216 — position-based (U-shaped) multi-touch attribution.
    *
    * q146 credits each conversion's LAST touch; position-based
    * attribution splits credit 40/20/40 across the touch sequence in
    * the same 30-minute window: a lone touch takes 1.0, two touches
    * split 0.5/0.5, otherwise first and last take 0.4 each and the
    * middles share 0.2 evenly (one double division; every other weight
    * is a shared literal — identical IEEE on both engines, summed with
    * [[Det.dsum]]). The spec asserts total credit equals the number of
    * attributed conversions exactly.
    *
    * Scale shape: the touch-window join is a per-user equi-join with a
    * time-range residual (q130's bounded-fan-out class — per-user event
    * counts bound the pairs; a pathological hot user takes the q171
    * interval-binning treatment), then one window rank per conversion
    * (partitioned by conversion id) and a |touch types|-row rollup. */
  def q216MultitouchAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"),
        unix_micros(col("ts")).as("ct"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("touch_id"),
        unix_micros(col("ts")).as("tt"), col("event_type").as("touch_type"))
    val win = 30L * 60 * 1000000
    val pairs = conv.join(touches, "user_id")
      .filter(col("tt") <= col("ct") && col("ct") - col("tt") <= win)
    val w = Window.partitionBy(col("conv_id")).orderBy(col("tt"), col("touch_id"))
    val ww = Window.partitionBy(col("conv_id"))
    val credited = pairs
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("k", count(lit(1)).over(ww))
      .withColumn("w",
        when(col("k") === 1, lit(1.0))
          .when(col("k") === 2, lit(0.5))
          .when(col("rn") === 1 || col("rn") === col("k"), lit(0.4))
          .otherwise(lit(0.2) / (col("k") - 2).cast("double")))
    credited.groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("conv_id")).as("n_conversions"),
        Det.dsum(col("w")).as("credit"))
      .orderBy(col("touch_type"))
  }

  val q216Sql: String =
    """WITH conv AS (
      |  SELECT event_id AS conv_id, user_id, epoch_us(ts) AS ct
      |  FROM events WHERE event_type = 'purchase'),
      |touches AS (
      |  SELECT user_id, event_id AS touch_id, epoch_us(ts) AS tt,
      |         event_type AS touch_type
      |  FROM events WHERE event_type <> 'purchase'),
      |pairs AS (
      |  SELECT conv.conv_id, touches.touch_id, touches.tt, touches.touch_type
      |  FROM conv JOIN touches USING (user_id)
      |  WHERE tt <= ct AND ct - tt <= 30 * 60 * 1000000),
      |credited AS (
      |  SELECT touch_type, conv_id,
      |    CASE WHEN k = 1 THEN 1.0
      |         WHEN k = 2 THEN 0.5
      |         WHEN rn = 1 OR rn = k THEN 0.4
      |         ELSE 0.2 / CAST(k - 2 AS DOUBLE) END AS w
      |  FROM (
      |    SELECT touch_type, conv_id,
      |      CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY tt, touch_id) AS BIGINT) AS rn,
      |      COUNT(*) OVER (PARTITION BY conv_id) AS k
      |    FROM pairs))
      |SELECT touch_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_touches,
      |  CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
      |  (CAST(SUM(CAST(floor(w*1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) AS credit
      |FROM credited GROUP BY touch_type ORDER BY touch_type""".stripMargin

  /** q217 — acquisition-cohort cumulative-LTV matrix.
    *
    * q125 counts RETAINED customers per (cohort, age); revenue teams
    * read the money version — cumulative spend per acquisition cohort by
    * months-since-acquisition. Cohort and age are pure integer calendar
    * arithmetic (y·12+m, so no months_between float); per-cell spend
    * sums 6-dp micro-units, and the running total is a window cumsum
    * over the SAME exact longs, partitioned by cohort over a
    * calendar-bounded age axis — divided back to doubles once each at
    * the end. */
  def q217CohortLtv(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_totalprice"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("ym"))
    val firsts = o.groupBy(col("o_custkey")).agg(min(col("ym")).as("cohort_ym"))
    val cells = o.join(firsts, "o_custkey")
      .withColumn("age", (col("ym") - col("cohort_ym")).cast("int"))
      .groupBy(col("cohort_ym"), col("age"))
      .agg(countDistinct(col("o_custkey")).as("n_active"),
        sum(Det.fixed6(col("o_totalprice")).cast("long")).as("sp_micro"))
    val w = Window.partitionBy(col("cohort_ym")).orderBy(col("age"))
    cells.withColumn("cum_micro", sum(col("sp_micro")).over(w))
      .select(col("cohort_ym"), col("age"), col("n_active"),
        (col("sp_micro").cast("double") / lit(1000000.0)).as("spend"),
        (col("cum_micro").cast("double") / lit(1000000.0)).as("cum_spend"))
      .orderBy(col("cohort_ym"), col("age"))
  }

  val q217Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_totalprice,
      |         CAST(date_part('year', o_orderdate) * 12
      |              + date_part('month', o_orderdate) AS INTEGER) AS ym
      |  FROM orders),
      |firsts AS (SELECT o_custkey, MIN(ym) AS cohort_ym FROM o GROUP BY o_custkey),
      |cells AS (
      |  SELECT cohort_ym, CAST(ym - cohort_ym AS INTEGER) AS age,
      |         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active,
      |         CAST(SUM(CAST(floor(o_totalprice*1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
      |           AS sp_micro
      |  FROM o JOIN firsts USING (o_custkey)
      |  GROUP BY cohort_ym, ym - cohort_ym)
      |SELECT cohort_ym, age, n_active,
      |       CAST(sp_micro AS DOUBLE) / 1000000.0 AS spend,
      |       CAST(SUM(sp_micro) OVER (PARTITION BY cohort_ym ORDER BY age) AS DOUBLE)
      |         / 1000000.0 AS cum_spend
      |FROM cells ORDER BY cohort_ym, age""".stripMargin

  /** Lags evaluated by q218. */
  val XcorrLags: Seq[Int] = Seq(0, 1, 2)

  /** q218 — lagged cross-correlation between event-type daily series.
    *
    * "Does event type A lead type B by k days?" — the time-series
    * screening question behind alerting and feature selection. Daily
    * counts are integers, so for each (typeA, typeB, lag) the five
    * sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are EXACT integer
    * sums over the lag-aligned day join (epoch-day integers — no date
    * arithmetic in the join key), and Pearson r is one shared-literal
    * IEEE expression at the end (the q85/q172/q201 sufficient-statistics
    * discipline). Zero-variance series yield NULL on both engines.
    *
    * Scale: the corpus-sized work is one (type, day) count rollup;
    * everything after runs on |types|²·|lags| joined series cells. */
  def q218LagCorrelation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        datediff(date_trunc("day", col("ts")), lit("1970-01-01").cast("date")).as("di"))
      .agg(count(lit(1)).as("c"))
      .persist()
    val lags = XcorrLags.toDF("lag")
    val a = daily.select(col("event_type").as("ta"), col("di"), col("c").as("x"))
    val b = daily.select(col("event_type").as("tb"), col("di").as("dib"), col("c").as("y"))
    val joined = a.crossJoin(broadcast(lags))
      .join(b, col("dib") === col("di") + col("lag") && col("ta") =!= col("tb"))
    val st = joined.groupBy(col("ta"), col("tb"), col("lag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      * (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
    st.select(col("ta"), col("tb"), col("lag"), col("n"),
        when(den > 0, num / den).otherwise(lit(null).cast("double")).as("r"))
      .orderBy(col("ta"), col("tb"), col("lag"))
  }

  val q218Sql: String = {
    val lagsValues = XcorrLags.map(l => s"($l)").mkString(", ")
    s"""WITH daily AS (
       |  SELECT event_type,
       |         datediff('day', DATE '1970-01-01', date_trunc('day', ts)) AS di,
       |         CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |lags(lag) AS (VALUES $lagsValues),
       |j AS (
       |  SELECT a.event_type AS ta, b.event_type AS tb, lags.lag,
       |         a.c AS x, b.c AS y
       |  FROM daily a CROSS JOIN lags
       |  JOIN daily b ON b.di = a.di + lags.lag AND a.event_type <> b.event_type),
       |st AS (
       |  SELECT ta, tb, lag,
       |         CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |         CAST(SUM(x*y) AS BIGINT) AS sxy,
       |         CAST(SUM(x*x) AS BIGINT) AS sxx,
       |         CAST(SUM(y*y) AS BIGINT) AS syy
       |  FROM j GROUP BY ta, tb, lag)
       |SELECT ta, tb, lag, n,
       |       CASE WHEN sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
       |                      * CAST(n*syy - sy*sy AS DOUBLE)) > 0
       |            THEN CAST(n*sxy - sx*sy AS DOUBLE)
       |                 / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
       |                        * CAST(n*syy - sy*sy AS DOUBLE))
       |            ELSE NULL END AS r
       |FROM st ORDER BY ta, tb, lag""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q216_multitouch_attribution" -> q216MultitouchAttribution _,
    "q217_cohort_ltv" -> q217CohortLtv _,
    "q218_lag_correlation" -> q218LagCorrelation _,
    "q201_multi_regression" -> q201MultiRegression _,
    "q164_funnel_latency" -> q164FunnelLatency _,
    "q166_seasonal_anomaly" -> q166SeasonalAnomaly _,
    "q168_cusum" -> q168Cusum _,
    "q170_journeys" -> q170Journeys _,
    "q172_trend_fit" -> q172TrendFit _,
    "q161_rfm_segments" -> q161RfmSegments _,
    "q146_attribution" -> q146Attribution _,
    "q142_weighted_sample" -> q142WeightedSample _,
    "q143_ab_readout" -> q143AbReadout _,
    "q130_stickiness" -> q130Stickiness _,
    "q131_spike_detect" -> q131SpikeDetect _,
    "q129_transitions" -> q129Transitions _,
    "q122_funnel" -> q122Funnel _,
    "q123_inverted_index" -> q123InvertedIndex _,
    "q124_snapshot_diff" -> q124SnapshotDiff _,
    "q125_retention_cohort" -> q125RetentionCohort _,
    "q126_bitmask_profile" -> q126BitmaskProfile _)

  val oracles: Map[String, String] = Map(
    "q216_multitouch_attribution" -> q216Sql,
    "q217_cohort_ltv" -> q217Sql,
    "q218_lag_correlation" -> q218Sql,
    "q164_funnel_latency" -> q164Sql,
    "q166_seasonal_anomaly" -> q166Sql,
    "q168_cusum" -> q168Sql,
    "q170_journeys" -> q170Sql,
    "q201_multi_regression" -> q201Sql,
    "q172_trend_fit" -> q172Sql,
    "q161_rfm_segments" -> q161Sql,
    "q146_attribution" -> q146Sql,
    "q142_weighted_sample" -> q142Sql,
    "q143_ab_readout" -> q143Sql,
    "q130_stickiness" -> q130Sql,
    "q131_spike_detect" -> q131Sql,
    "q129_transitions" -> q129Sql,
    "q122_funnel" -> q122Sql,
    "q123_inverted_index" -> q123Sql,
    "q124_snapshot_diff" -> q124Sql,
    "q125_retention_cohort" -> q125Sql,
    "q126_bitmask_profile" -> q126Sql)
}
