package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Det._

/** Window-function surface (SURVEY.md §2.5 + §7 step 3).
  *
  * Includes the one operator the reference *declares but never built*:
  * primary-key dedup via `row_number() over (partition by pk order by
  * version desc) = 1` (table configs carry `primary_key` +
  * `orderByCol=["updated_on"]` — linehaul_bronze_silver.py:171-182 — but
  * `process_table` ignores them). q14 is that operator on the events
  * fixture.
  *
  * Scale notes: every window here partitions by a high-cardinality key
  * (user_id, custkey), so the shuffle spreads evenly across executors; no
  * global (unpartitioned) windows, which would serialize 100 TB through
  * one task.
  */
object Windows extends QueryModule {
  /** q14 — PK dedup: latest event per user (the reference's implied
    * upsert/dedup). Deterministic tie-break on event_id. */
  def q14PkDedup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .orderBy(col("user_id"))
  }

  val q14Sql: String =
    """SELECT user_id, event_id, ts, event_type
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** q15 — ranking: top-3 orders per customer by price. */
  def q15TopPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
      .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
  }

  val q15Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rnk
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |             RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      |      FROM orders) WHERE rnk <= 3
      |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin

  /** q16 — running total per customer over order time (cumulative frame).
    * The sum runs over exact decimals so the running values are engine-
    * independent. */
  def q16RunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("running_spend", sum(col("o_totalprice").cast(Dec)).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  val q16Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** q17 — lag/lead: inter-event gap (seconds) and next event type per
    * user. */
  def q17LagLead(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("prev_ts")))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("gap_us"), col("next_type"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q17Sql: String =
    """SELECT user_id, event_id,
      |  epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) AS gap_us,
      |  LEAD(event_type, 1) OVER w AS next_type
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** q18 — sliding row frame: 3-row moving average of order price per
    * customer, plus ntile/percent_rank distribution stats. */
  def q18Frames(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val wFrame = wOrd.rowsBetween(-2, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("mov_avg",
        (sum(col("o_totalprice").cast(Dec)).over(wFrame).cast("double") /
          count(lit(1)).over(wFrame)))
      .withColumn("quartile", ntile(4).over(wOrd))
      .withColumn("pct_rank", percent_rank().over(wOrd))
      .select(col("o_custkey"), col("o_orderkey"), col("mov_avg"), col("quartile"), col("pct_rank"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q18Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |  / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_avg,
      |  NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS quartile,
      |  PERCENT_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS pct_rank
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Allocation month for q167 — one month of orders keeps the graded
    * output bounded (~1% of orders) while exercising the full pattern;
    * the range predicate pushes down to the orders scan. */
  val AllocFrom = "1995-03-01"
  val AllocTo   = "1995-04-01"

  /** q167 — largest-remainder allocation: distribute each order's total
    * price (in cents) across its lineitems proportionally to quantity,
    * with the classic largest-remainder rule so the allocated parts sum
    * back to the order total EXACTLY — the financial-allocation pattern
    * (invoice splitting, cost apportionment, budget spreading) where
    * naive `total * share` rounding leaks cents.
    *
    * Everything after the one shared `ROUND(o_totalprice*100)` is
    * integer arithmetic: base share = T·q DIV Q, the leftover cents
    * R = T − Σbase go one each to the R lineitems with the largest
    * integer remainder T·q MOD Q (ties → lower linenumber). Exact on
    * both engines by construction — no float division anywhere.
    *
    * Scale shape: one pushed-down month filter on orders, one join onto
    * lineitem, then all window functions share the single
    * hash(l_orderkey) partitioning — one shuffle, one sort, no
    * re-partitioning between the four window steps. Orders within a
    * month are a small fraction of the fact table, and the allocation
    * never aggregates across orders, so the plan is embarrassingly
    * parallel at any scale. */
  def q167Allocation(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit(AllocFrom).cast("timestamp") &&
        col("o_orderdate") < lit(AllocTo).cast("timestamp"))
      .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("t_cents"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity").cast("long").as("qty"))
    val wOrd = Window.partitionBy(col("l_orderkey"))
    val wRank = wOrd.orderBy(col("rem").desc, col("l_linenumber"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("q_total", sum(col("qty")).over(wOrd))
      .withColumn("base", expr("t_cents * qty DIV q_total"))
      .withColumn("rem", expr("t_cents * qty % q_total"))
      .withColumn("leftover", col("t_cents") - sum(col("base")).over(wOrd))
      .withColumn("rk", row_number().over(wRank))
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc_cents"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val q167Sql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS t_cents
       |  FROM orders
       |  WHERE o_orderdate >= TIMESTAMP '$AllocFrom' AND o_orderdate < TIMESTAMP '$AllocTo'),
       |j AS (
       |  SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty, t_cents
       |  FROM lineitem JOIN o ON l_orderkey = o_orderkey),
       |shares AS (
       |  SELECT l_orderkey, l_linenumber, t_cents,
       |    (t_cents * qty) // SUM(qty) OVER (PARTITION BY l_orderkey) AS base,
       |    (t_cents * qty) % SUM(qty) OVER (PARTITION BY l_orderkey) AS rem
       |  FROM j),
       |ranked AS (
       |  SELECT l_orderkey, l_linenumber, base,
       |    t_cents - SUM(base) OVER (PARTITION BY l_orderkey) AS leftover,
       |    ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY rem DESC, l_linenumber) AS rk
       |  FROM shares)
       |SELECT l_orderkey, l_linenumber,
       |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_cents
       |FROM ranked
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  val queries: Map[String, Q] = Map(
    "q14_window_pk_dedup" -> q14PkDedup _,
    "q15_window_rank" -> q15TopPerGroup _,
    "q16_window_running" -> q16RunningSum _,
    "q17_window_laglead" -> q17LagLead _,
    "q18_window_frames" -> q18Frames _,
    "q167_allocation" -> q167Allocation _)

  val oracles: Map[String, String] = Map(
    "q14_window_pk_dedup" -> q14Sql,
    "q15_window_rank" -> q15Sql,
    "q16_window_running" -> q16Sql,
    "q17_window_laglead" -> q17Sql,
    "q18_window_frames" -> q18Sql,
    "q167_allocation" -> q167Sql)
}
