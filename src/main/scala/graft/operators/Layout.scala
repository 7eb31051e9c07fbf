package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Preference-query and time-grid operators: 2-D skyline (Pareto
  * frontier) extraction and per-key time-series resampling with linear
  * interpolation.
  *
  * The skyline is the classic preference-query operator (Börzsönyi et
  * al., ICDE 2001): keep every row not dominated on ALL criteria — the
  * shape a curation pipeline uses for quality-vs-cost tradeoff pruning.
  * Resampling onto a regular grid is the feature-engineering primitive
  * behind every windowed training signal over irregular event streams.
  */
object Layout extends QueryModule {
  /** q187 — 2-D skyline of part: minimize (p_retailprice, p_size).
    *
    * A row is dominated iff some other part is ≤ on both criteria and
    * strictly < on at least one. The naive plan is an all-pairs
    * NOT EXISTS (the oracle runs exactly that — fine at oracle scale,
    * quadratic at 100 TB). The scalable decomposition is the same
    * two-phase prefix pattern as q180's PPS sampling, specialized to
    * prefix-MIN:
    *   1. bucket rows by ⌊price⌋; per-bucket min size is a tiny
    *      partial-aggregable relation, and an exclusive prefix-min over
    *      it (the only ordered window — over BUCKETS, not rows) gives
    *      each row the min size among all strictly-cheaper buckets;
    *   2. within a bucket, group rows by exact price: an exclusive
    *      prefix-min over the per-(bucket,price) group relation
    *      (partitioned by bucket) covers strictly-cheaper same-bucket
    *      rows, and the group's own min covers equal-price rows.
    * A row survives iff min-size-over-strictly-cheaper > its size AND
    * min-size-at-equal-price ≥ its size. Every comparison is on exact
    * doubles/ints — no arithmetic at all — so the skyline hash-matches
    * the quadratic oracle bit-for-bit.
    */
  def q187Skyline(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_retailprice").as("price"),
        col("p_size").cast("long").as("sz"))
      .withColumn("bucket", floor(col("price")).cast("long"))
    // per-bucket min size → exclusive prefix-min over the bucket relation
    val bm = p.groupBy(col("bucket")).agg(min(col("sz")).as("bmin"))
    val wb = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = bm.withColumn("m1", min(col("bmin")).over(wb))
      .select(col("bucket"), col("m1"))
    // per-(bucket, price) group mins → exclusive prefix-min within bucket
    val g = p.groupBy(col("bucket"), col("price")).agg(min(col("sz")).as("gmin"))
    val wg = Window.partitionBy(col("bucket")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val g2 = g.withColumn("m2", min(col("gmin")).over(wg))
    p.join(broadcast(pre), "bucket")
      .join(g2, Seq("bucket", "price"))
      .filter(
        coalesce(least(col("m1"), col("m2")), lit(Long.MaxValue)) > col("sz") &&
          col("gmin") >= col("sz"))
      .select(col("p_partkey"), col("price").as("p_retailprice"),
        col("sz").as("p_size"))
      .orderBy(col("p_retailprice"), col("p_partkey"))
  }

  val q187Sql: String =
    """SELECT p_partkey, p_retailprice, CAST(p_size AS BIGINT) AS p_size
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
      |    AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size))
      |ORDER BY p_retailprice, p_partkey""".stripMargin

  /** Resampling grid step for q188. */
  val GridHours = 4

  /** q188 — per-user resampling of the irregular event stream onto a
    * regular 4-hour grid with linear interpolation.
    *
    * Grid ticks are generated per user from that user's own [min,max]
    * event-time range (`sequence` — a generator expression, no driver
    * loop, and a user's tick count is bounded by their activity span,
    * not corpus size). Events and ticks are unioned and sorted ONCE per
    * user (a single partitioned-window shuffle on user_id): the previous
    * event's (ts,value) carries forward via `last(ignoreNulls)` over the
    * preceding frame, the next event's via `first(ignoreNulls)` over the
    * strictly-following frame — the same one-pass union+carry shape as
    * the as-of join (q26), extended bidirectionally. The interpolated
    * value is v0 + (v1−v0)·(g−t0)/(t1−t0) in epoch-microsecond integer
    * deltas (exact longs) with one double division — written identically
    * in the oracle; ticks after a user's last event hold the final value
    * (nt IS NULL ⇒ pv); order ties (an event exactly on a tick, or
    * duplicate event timestamps) are fixed by (ts, kind, event_id).
    */
  def q188ResampleInterp(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("value"), col("event_id"))
    val grid = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      .select(col("user_id"),
        explode(expr(s"sequence(date_trunc('DAY', t0), t1, interval $GridHours hours)")).as("ts"))
    val u = ev.select(col("user_id"), col("ts"), col("value"),
        lit(0).as("kind"), col("event_id"))
      .unionByName(grid.select(col("user_id"), col("ts"),
        lit(null).cast("double").as("value"),
        lit(1).as("kind"), lit(null).cast("long").as("event_id")))
      .withColumn("tie", coalesce(col("event_id"), lit(Long.MaxValue)))
      .withColumn("ets", when(col("kind") === 0, col("ts")))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("tie"))
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = ord.rowsBetween(1, Window.unboundedFollowing)
    val ratio = (unix_micros(col("ts")) - unix_micros(col("pt"))).cast("double") /
      (unix_micros(col("nt")) - unix_micros(col("pt"))).cast("double")
    u.withColumn("pv", last(col("value"), ignoreNulls = true).over(wPrev))
      .withColumn("pt", last(col("ets"), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("value"), ignoreNulls = true).over(wNext))
      .withColumn("nt", first(col("ets"), ignoreNulls = true).over(wNext))
      .filter(col("kind") === 1 && col("pt").isNotNull)
      .withColumn("v", round(
        when(col("nt").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) * ratio), 6))
      .select(col("user_id"), col("ts").as("tick"), col("v"))
      .orderBy(col("user_id"), col("tick"))
  }

  val q188Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id, ts, value, event_id FROM events),
       |rng AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1
       |        FROM ev GROUP BY user_id),
       |grid AS (
       |  SELECT user_id,
       |         unnest(generate_series(date_trunc('day', t0), t1,
       |           INTERVAL $GridHours HOUR)) AS ts
       |  FROM rng),
       |u AS (
       |  SELECT user_id, ts, value, 0 AS kind, event_id FROM ev
       |  UNION ALL
       |  SELECT user_id, ts, NULL, 1, NULL FROM grid),
       |f AS (
       |  SELECT user_id, ts, kind,
       |    last_value(value IGNORE NULLS) OVER w0 AS pv,
       |    last_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS) OVER w0 AS pt,
       |    first_value(value IGNORE NULLS) OVER w1 AS nv,
       |    first_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS) OVER w1 AS nt
       |  FROM u
       |  WINDOW
       |    w0 AS (PARTITION BY user_id
       |           ORDER BY ts, kind, coalesce(event_id, 9223372036854775807)
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    w1 AS (PARTITION BY user_id
       |           ORDER BY ts, kind, coalesce(event_id, 9223372036854775807)
       |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
       |SELECT user_id, ts AS tick,
       |       ROUND(CASE WHEN nt IS NULL THEN pv
       |                  ELSE pv + (nv - pv)
       |                    * (CAST(epoch_us(ts) - epoch_us(pt) AS DOUBLE)
       |                       / CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE))
       |             END, 6) AS v
       |FROM f WHERE kind = 1 AND pt IS NOT NULL
       |ORDER BY user_id, tick""".stripMargin

  /** Shard count for the q219 publication manifest. */
  val NumShards = 16

  /** q219 — dataset publication manifest: content-addressed sharding
    * with per-shard verifiable digests.
    *
    * The export step at the end of every curation pipeline: documents
    * are assigned to [[NumShards]] shards by a hash of their CONTENT
    * (two md5 hex chars folded to an integer — content addressing means
    * a re-run, a reshuffle, or a different cluster layout publishes
    * byte-identical shards; a row-number split would not survive any of
    * them), and each shard row carries the counts, byte totals, and an
    * order-independent id digest (md5 of the sorted id list) a consumer
    * can re-derive to verify a delivered shard. The final row set IS the
    * manifest file a WebDataset/TFRecord-style publication ships.
    *
    * Scale: one scan, one groupBy(shard) — the digest input is the
    * sorted per-shard id list, which is |shard| ids of bounded width
    * (collect at the aggregate is the manifest's nature: a manifest row
    * summarizes its shard; shard count × shard size is chosen so each
    * fits an executor — the same contract as any file writer). */
  def q219ShardManifest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("h", md5(col("text").cast("binary")))
      .withColumn("shard",
        (ascii(substring(col("h"), 1, 1)) * 31 + ascii(substring(col("h"), 2, 1)))
          % NumShards)
    docs.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        md5(array_join(array_sort(collect_list(col("doc_id").cast("string"))), ",")
          .cast("binary")).as("ids_md5"))
      .orderBy(col("shard"))
  }

  val q219Sql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, n_chars,
       |         (ascii(substr(md5(text), 1, 1)) * 31
       |          + ascii(substr(md5(text), 2, 1))) % $NumShards AS shard
       |  FROM documents)
       |SELECT shard,
       |       CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |       md5(string_agg(CAST(doc_id AS VARCHAR), ','
       |           ORDER BY CAST(doc_id AS VARCHAR))) AS ids_md5
       |FROM docs GROUP BY shard ORDER BY shard""".stripMargin

  val queries: Map[String, Q] = Map(
    "q187_skyline" -> q187Skyline _,
    "q188_resample_interp" -> q188ResampleInterp _,
    "q219_shard_manifest" -> q219ShardManifest _)

  val oracles: Map[String, String] = Map(
    "q187_skyline" -> q187Sql,
    "q188_resample_interp" -> q188Sql,
    "q219_shard_manifest" -> q219Sql)
}
