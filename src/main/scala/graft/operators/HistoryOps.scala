package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dimension-history operators: SCD Type-2 interval construction.
  *
  * The reference's silver layer keeps only the latest row per primary key
  * (PK dedup, q14/q73) — the other standard warehouse treatment of the
  * same update stream is slowly-changing-dimension history: one row per
  * (key, attribute-run) with [valid_from, valid_to) intervals and an
  * is_current flag. Built here from the events fixture (user_id = key,
  * event_type = tracked attribute).
  */
object HistoryOps extends QueryModule {
  /** q108 — SCD Type-2 build: per user, consecutive events with the same
    * event_type collapse into one version row; a version opens when the
    * attribute changes (change-flag + running sum = version number),
    * valid_to is the next version's valid_from (null on the current row).
    *
    * Scale shape: two windows and one groupBy, all partitioned by the
    * high-cardinality entity key — one shuffle on user_id, linear
    * in-partition passes, partial-agg on the version collapse. The
    * standard change-data-capture → dimension-history pipeline. */
  def q108Scd2(s: SparkSession, d: String): DataFrame = {
    val wSeq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val versioned = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wSeq))
      .withColumn("chg",
        (col("prev_type").isNull || col("prev_type") =!= col("event_type")).cast("long"))
      .withColumn("version", sum(col("chg")).over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = versioned.groupBy(col("user_id"), col("version"), col("event_type"))
      .agg(min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
    val wVer = Window.partitionBy(col("user_id")).orderBy(col("version"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wVer))
      .withColumn("is_current", col("valid_to").isNull.cast("int"))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from"), col("valid_to"), col("n_events"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  val q108Sql: String =
    """WITH seq AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |v AS (
      |  SELECT user_id, ts, event_type,
      |    SUM(CASE WHEN prev_type IS NULL OR prev_type <> event_type THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
      |  FROM seq),
      |runs AS (
      |  SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
      |    MIN(ts) AS valid_from, COUNT(*) AS n_events
      |  FROM v GROUP BY 1, 2, 3)
      |SELECT user_id, version, event_type, valid_from,
      |  LEAD(valid_from, 1) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
      |  n_events,
      |  CAST(LEAD(valid_from, 1) OVER (PARTITION BY user_id ORDER BY version) IS NULL AS INTEGER) AS is_current
      |FROM runs ORDER BY user_id, version""".stripMargin

  /** q132 — point-in-time dimension lookup: each error event joined to
    * the SCD2 state dimension (q108's run construction over the
    * NON-error stream) as of the error's timestamp — "what was the user
    * doing when it broke". Runs on the NATIVE as-of operator
    * ([[graft.plans.AsOf.join]]): a single (key, time) sort-merge pass,
    * NOT the key-equi-join + interval-filter shape, which materializes
    * |facts| × |versions-per-key| intermediate rows before filtering —
    * quadratic in version count and the classic PIT-lookup scale trap.
    * Left-join semantics keep errors that precede any state (folded to
    * 'none'/-1).
    */
  def q132PitLookup(s: SparkSession, d: String): DataFrame = {
    val wSeq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val dim = Tables.events(s, d)
      .filter(col("event_type") =!= "error")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wSeq))
      .withColumn("chg",
        (col("prev_type").isNull || col("prev_type") =!= col("event_type")).cast("long"))
      .withColumn("version", sum(col("chg")).over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("version"), col("event_type"))
      .agg(unix_micros(min(col("ts"))).as("t_us"))
      .select(col("user_id"), col("version"), col("event_type"), col("t_us"))
    val facts = Tables.events(s, d).filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"))
    graft.plans.AsOf.join(s, facts, dim, "user_id", "t_us",
        tieBreakCols = Seq("version"))
      .toDF("event_id", "user_id", "t_us",
        "r_user_id", "r_version", "r_state", "r_t_us")
      .select(col("event_id"), col("user_id"),
        coalesce(col("r_version"), lit(-1L)).as("version"),
        coalesce(col("r_state"), lit("none")).as("state"))
      .orderBy(col("event_id"))
  }

  val q132Sql: String =
    """WITH seq AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events WHERE event_type <> 'error'),
      |v AS (
      |  SELECT user_id, ts, event_type,
      |    SUM(CASE WHEN prev_type IS NULL OR prev_type <> event_type THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
      |  FROM seq),
      |runs AS (
      |  SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
      |    MIN(ts) AS valid_from
      |  FROM v GROUP BY 1, 2, 3),
      |f AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
      |SELECT f.event_id, f.user_id,
      |  COALESCE(r.version, -1) AS version,
      |  COALESCE(r.event_type, 'none') AS state
      |FROM f ASOF LEFT JOIN runs r
      |  ON f.user_id = r.user_id AND r.valid_from <= f.ts
      |ORDER BY f.event_id""".stripMargin

  /** Delta cutoff for q174: orders on/after this date form the "new
    * batch"; everything before is the already-aggregated state. */
  val DeltaCutoff = "1998-01-01"

  /** q174 — incremental aggregate maintenance: fold a delta batch into a
    * standing aggregate state WITHOUT recomputing history. The state table
    * (per-customer order count / spend / last date over everything before
    * [[DeltaCutoff]]) and the delta batch (on/after) are each aggregated
    * independently, then merged by re-aggregating the partials — legal
    * because (count, fixed-point sum, max) are commutative monoids, the
    * same algebra that makes Spark's own partial aggregation correct.
    *
    * The oracle recomputes from the full table; matching it proves the
    * incremental fold is exact. At 100 TB this is the difference between
    * scanning one day and scanning five years: the state side is a
    * |customers|-bounded table, the delta a single partition — the
    * reference's date-partition incremental overwrite
    * (linehaul_bronze_silver.py's day-partition rewrite) lifted from raw
    * rows to aggregates. Spend partials stay 6-dp fixed-point LONGS until
    * the single final divide, so the merge is associative and exact. */
  def q174IncrementalAgg(s: SparkSession, d: String): DataFrame = {
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(Det.fixed6(col("o_totalprice")).cast(Det.Acc)).as("spend6"),
          max(col("o_orderdate")).as("last_order"))
    val orders = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
    val state = partial(orders.filter(col("o_orderdate") < lit(DeltaCutoff)))
    val delta = partial(orders.filter(col("o_orderdate") >= lit(DeltaCutoff)))
    state.unionByName(delta)
      .groupBy(col("o_custkey"))
      .agg(sum(col("n_orders")).as("n_orders"),
        (sum(col("spend6")).cast("double") / lit(1000000.0)).as("spend"),
        max(col("last_order")).as("last_order"))
      .orderBy(col("o_custkey"))
  }

  val q174Sql: String =
    s"""SELECT o_custkey,
       |  COUNT(*) AS n_orders,
       |  ${Det.dsumSql("o_totalprice")} AS spend,
       |  MAX(o_orderdate) AS last_order
       |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "q108_scd2" -> q108Scd2 _,
    "q132_pit_lookup" -> q132PitLookup _,
    "q174_incremental_agg" -> q174IncrementalAgg _)
  val oracles: Map[String, String] = Map(
    "q108_scd2" -> q108Sql,
    "q132_pit_lookup" -> q132Sql,
    "q174_incremental_agg" -> q174Sql)
}
