package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Third TPC-H batch (q111–q113): Q4, Q12 and Q21 — the three queries the
  * earlier batches excluded because the fixture generates no
  * `l_commitdate` / `l_receiptdate` / `l_shipmode`. Each is adapted to the
  * fixture schema while keeping the query's distinctive plan shape:
  *
  *  - "the lineitem was late" (`l_commitdate < l_receiptdate`) becomes
  *    `l_shipdate > o_orderdate + INTERVAL 60 DAYS` — a correlated
  *    cross-table inequality, which makes Q4's EXISTS a semi-join with a
  *    non-equi residual (strictly harder than the classic single-table
  *    EXISTS, same join shape);
  *  - Q12's `l_shipmode` group key becomes `l_returnflag`, and its
  *    receipt-date year window becomes a ship-date window;
  *  - Q21's supplier-nation filter keeps its classic form; the
  *    EXISTS / NOT EXISTS self-correlations keep theirs (other supplier on
  *    the same order / other *late* supplier on the same order).
  *
  * Every adaptation is mirrored verbatim in the DuckDB oracle, so the
  * hash gate checks the real semantics.
  *
  * Scale notes: all three are counts — pure integer aggregation, so
  * cross-engine parity is exact with plain `sum`/`count`. Q4/Q12 shuffle
  * only on `l_orderkey`/group keys (partial-aggregable). Q21's flagged
  * relation is computed once and persisted for its three self-join uses
  * (the classic Q21 view); the supplier dimension broadcasts.
  */
object Tpch3 extends QueryModule {
  /** Days past the order date after which a shipment counts as late —
    * ~45% of fixture lineitems, so every EXISTS/NOT EXISTS branch in
    * q111/q113 exercises both outcomes. */
  val LateDays = 60

  /** q111 — TPC-H Q4 (order priority checking): orders of one quarter
    * with at least one late lineitem, counted per priority. The classic
    * EXISTS subquery is a left-semi join whose condition carries the
    * non-equi lateness residual; the quarter filter prunes the orders side
    * before the join (and reaches the scan as a pushed filter). */
  def q111TpchQ4(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, o("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") > o("o_orderdate") + expr(s"INTERVAL $LateDays DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q111Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS order_count
       |FROM orders
       |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
       |  AND o_orderdate <  TIMESTAMP '1996-10-01'
       |  AND EXISTS (
       |    SELECT 1 FROM lineitem
       |    WHERE l_orderkey = o_orderkey
       |      AND l_shipdate > o_orderdate + INTERVAL $LateDays DAY)
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** q112 — TPC-H Q12 (shipping modes / critical priority): late
    * lineitems of one ship-year, split per group key into
    * critical-priority vs other-priority order counts — the
    * join-then-conditional-aggregate shape. Adapted group key:
    * `l_returnflag` (no `l_shipmode` in the fixture). */
  def q112TpchQ12(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_returnflag").isin("R", "A"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"),
      col("o_orderpriority"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(o, li("l_orderkey") === o("o_orderkey") &&
        li("l_shipdate") > o("o_orderdate") + expr(s"INTERVAL $LateDays DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  val q112Sql: String =
    s"""SELECT l_returnflag,
       |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE l_returnflag IN ('R', 'A')
       |  AND l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate <  TIMESTAMP '1997-01-01'
       |  AND l_shipdate > o_orderdate + INTERVAL $LateDays DAY
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q113 — TPC-H Q21 (suppliers who kept orders waiting): late lineitems
    * of finished orders from one nation's suppliers, where another
    * supplier was on the order (EXISTS → left-semi) but no *other*
    * supplier was late (NOT EXISTS → left-anti), counted per supplier.
    *
    * The lateness flag needs `o_orderdate`, so the classic Q21 lineitem
    * self-joins become self-joins over one join-once flagged relation —
    * computed once, persisted for its three uses (probe + semi + anti;
    * the harness `clearCache()`s after the query, the q104 discipline). */
  def q113TpchQ21(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val flagged = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $LateDays DAYS"))
          .as("late"))
      .persist()
    val others = flagged
      .select(col("l_orderkey").as("o2_orderkey"), col("l_suppkey").as("o2_suppkey"))
    val lateOthers = flagged.filter(col("late"))
      .select(col("l_orderkey").as("o3_orderkey"), col("l_suppkey").as("o3_suppkey"))
    val su = Tables.supplier(s, d).filter(col("s_nationkey") === 9)
    flagged.filter(col("late"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .join(others,
        col("l_orderkey") === col("o2_orderkey") &&
          col("o2_suppkey") =!= col("l_suppkey"), "left_semi")
      .join(lateOthers,
        col("l_orderkey") === col("o3_orderkey") &&
          col("o3_suppkey") =!= col("l_suppkey"), "left_anti")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  val q113Sql: String =
    s"""WITH flagged AS (
       |  SELECT l_orderkey, l_suppkey,
       |    l_shipdate > o_orderdate + INTERVAL $LateDays DAY AS late
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_orderstatus = 'F')
       |SELECT s_name, COUNT(*) AS numwait
       |FROM flagged l1 JOIN supplier ON l1.l_suppkey = s_suppkey
       |WHERE s_nationkey = 9 AND l1.late
       |  AND EXISTS (
       |    SELECT 1 FROM flagged l2
       |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM flagged l3
       |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
       |      AND l3.late)
       |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin

  val queries: Map[String, Q] = Map(
    "q111_tpch_q4" -> q111TpchQ4 _,
    "q112_tpch_q12" -> q112TpchQ12 _,
    "q113_tpch_q21" -> q113TpchQ21 _)

  val oracles: Map[String, String] = Map(
    "q111_tpch_q4" -> q111Sql,
    "q112_tpch_q12" -> q112Sql,
    "q113_tpch_q21" -> q113Sql)
}
