package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Det._

/** Second TPC-H batch (q101–q107). Q2/Q9/Q11/Q16/Q20 need `partsupp` (no
  * fixture — documented in SURVEY §2); Q4/Q12/Q21 (which need
  * `l_commitdate`/`l_receiptdate`) are adapted in [[Tpch3]]. Q13/Q19/Q22 are lightly adapted where
  * the classic predicate column is absent (`o_comment`, `p_container`,
  * `c_phone`); the adapted predicate is noted per query and mirrored
  * exactly in the oracle.
  *
  * Scale notes: every dimension side (supplier 100×SF rows, part 1k×SF,
  * nation/region constant, or a filtered aggregate provably smaller than
  * its input) is broadcast explicitly; the only shuffles are the
  * unavoidable lineitem/orders aggregations and the lineitem⋈orders
  * equi-join, both AQE-coalesced.
  */
object Tpch2 extends QueryModule {
  /** q101 — TPC-H Q5 (local supplier volume): the full 6-table join with
    * the distinctive `c_nationkey = s_nationkey` locality constraint —
    * revenue where customer and supplier share a nation, per nation of an
    * entire region-year. q05 covers the star *shape*; this is the real Q5
    * semantics including the second equi-constraint on the customer join. */
  def q101TpchQ5(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val c = Tables.customer(s, d)
    val su = Tables.supplier(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
      .join(broadcast(c),
        o("o_custkey") === c("c_custkey") &&
          c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q101Sql: String =
    s"""SELECT n_name,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
       |JOIN nation   ON s_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate <  TIMESTAMP '1997-01-01'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  /** q102 — TPC-H Q8 (national market share): NATION_3's share of ECONOMY
    * part revenue delivered into AMERICA, per order year. Two independent
    * nation lookups (customer side for the region filter, supplier side
    * for the share numerator) + a conditional-aggregate ratio, same
    * division discipline as q97 (exact decimal sums, one double divide). */
  def q102TpchQ8(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val c = Tables.customer(s, d)
    val su = Tables.supplier(s, d)
    val p = Tables.part(s, d).filter(col("p_type") === "ECONOMY")
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val r = Tables.region(s, d).filter(col("r_name") === "AMERICA")
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n1), c("c_nationkey") === col("c_nk"))
      .join(broadcast(r), col("c_rk") === r("r_regionkey"))
      .join(broadcast(n2), su("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        (dsum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0.0))) /
          dsum(vol)).as("mkt_share"),
        count(lit(1)).as("n"))
      .orderBy(col("o_year"))
  }

  val q102Sql: String =
    s"""SELECT YEAR(o_orderdate) AS o_year,
       |  ${dsumSql("CASE WHEN n2.n_name = 'NATION_3' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
       |    / ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS mkt_share,
       |  COUNT(*) AS n
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN part     ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n1 ON c_nationkey = n1.n_nationkey
       |JOIN region   ON n1.n_regionkey = r_regionkey
       |JOIN nation n2 ON s_nationkey = n2.n_nationkey
       |WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate <  TIMESTAMP '1998-01-01'
       |GROUP BY 1 ORDER BY o_year""".stripMargin

  /** q103 — TPC-H Q13 (customer distribution): orders-per-customer
    * histogram including zero-order customers — LEFT OUTER join with a
    * join-time (not WHERE-time) predicate, then two stacked aggregations.
    * Adapted: the fixture has no `o_comment`, so the classic
    * `NOT LIKE '%special%requests%'` becomes `o_orderpriority <>
    * '1-URGENT'` — same join-filter placement semantics. */
  def q103TpchQ13(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey") &&
        o("o_orderpriority") =!= "1-URGENT", "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q103Sql: String =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer
      |  LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q104 — TPC-H Q15 (top supplier): quarterly revenue per supplier,
    * then select the max-revenue supplier(s) via a join against the
    * aggregated max — the CTE-reused-twice shape. The revenue relation is
    * computed once and persisted for its two uses (the classic Q15 view);
    * both sides of the max-equality are the same exact decimal sum, so
    * the double comparison is deterministic. */
  def q104TpchQ15(s: SparkSession, d: String): DataFrame = {
    // persisted: used twice (max subquery + join side); the harness
    // clearCache()s after every query, like q40's staged relation
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("total_revenue"))
      .persist()
    val top = rev.agg(max(col("total_revenue")).as("max_revenue"))
    val su = Tables.supplier(s, d)
    rev.join(broadcast(top), col("total_revenue") === col("max_revenue"))
      .join(broadcast(su), col("l_suppkey") === su("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q104Sql: String =
    s"""WITH revenue AS (
       |  SELECT l_suppkey,
       |    ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate <  TIMESTAMP '1996-04-01'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
       |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin

  /** q105 — TPC-H Q17 (small-quantity-order revenue): lineitems below 20%
    * of their part's average quantity. The correlated `0.2 * AVG(...)`
    * subquery becomes a per-part aggregate joined back (broadcast: ≤ one
    * row per part). Threshold arithmetic is exact-decimal davg on both
    * sides so the `<` comparison can't diverge. Adapted: no
    * `p_container` in the fixture, so the brand filter alone scopes the
    * parts. */
  def q105TpchQ17(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d).filter(col("p_brand") === "Brand#4")
    // scope the per-part aggregate to the Brand#4 parts before grouping:
    // partkey→brand is functional, so each surviving part's average is
    // unchanged, but the aggregate (and its broadcast) shrinks from
    // one-row-per-part to one-row-per-qualifying-part — at real part
    // counts that is the difference between broadcasting millions of rows
    // and thousands
    val perPart = li
      .join(broadcast(p.select(col("p_partkey").as("fp_partkey"))),
        li("l_partkey") === col("fp_partkey"), "left_semi")
      .groupBy(col("l_partkey").as("ap_partkey"))
      .agg((lit(0.2) * davg(col("l_quantity"))).as("qty_threshold"))
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .join(broadcast(perPart), li("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity") < col("qty_threshold"))
      .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n"))
  }

  val q105Sql: String =
    s"""WITH perpart AS (
       |  SELECT l_partkey AS ap_partkey,
       |    0.2 * ${davgSql("l_quantity")} AS qty_threshold
       |  FROM lineitem GROUP BY l_partkey)
       |SELECT ${dsumSql("l_extendedprice")} / 7.0 AS avg_yearly, COUNT(*) AS n
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN perpart ON l_partkey = ap_partkey
       |WHERE p_brand = 'Brand#4' AND l_quantity < qty_threshold""".stripMargin

  /** q106 — TPC-H Q19 (discounted revenue): the OR-of-ANDs disjunctive
    * join predicate — three (brand, size-range, quantity-range) branches
    * that Catalyst must keep as a residual filter on one equi-join rather
    * than three separate joins. Adapted: `p_container`/`l_shipmode`
    * branches use `p_size`/`l_quantity` ranges instead (columns absent). */
  def q106TpchQ19(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    val branch1 = p("p_brand") === "Brand#2" && p("p_size").between(1, 15) &&
      li("l_quantity").between(1, 11)
    val branch2 = p("p_brand") === "Brand#4" && p("p_size").between(1, 25) &&
      li("l_quantity").between(10, 20)
    val branch3 = p("p_brand") === "Brand#19" && p("p_size").between(1, 35) &&
      li("l_quantity").between(20, 30)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey") &&
        (branch1 || branch2 || branch3))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"))
  }

  val q106Sql: String =
    s"""SELECT ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(*) AS n
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** q107 — TPC-H Q22 (global sales opportunity): customers in a target
    * nation set with above-average positive balance and no urgent orders —
    * scalar aggregate subquery + anti-join + final group. Adapted: no
    * `c_phone` in the fixture, so the country-code prefix set becomes a
    * `c_nationkey IN (...)` set, and the anti-join target is
    * priority-filtered orders (the fixture generator gives every customer
    * at least one order, so the classic no-orders form is empty at every
    * scale); the balance average is exact-decimal on both sides so the
    * `>` filter can't diverge. */
  def q107TpchQ22(s: SparkSession, d: String): DataFrame = {
    val nations = Seq(1, 3, 5, 7, 9)
    val c = Tables.customer(s, d).filter(col("c_nationkey").isin(nations: _*))
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg(davg(col("c_acctbal")).as("avg_bal"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    c.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(o, col("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("cntrycode"))
  }

  val q107Sql: String =
    s"""SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
       |  ${dsumSql("c_acctbal")} AS totacctbal
       |FROM customer
       |WHERE c_nationkey IN (1, 3, 5, 7, 9)
       |  AND c_acctbal > (
       |    SELECT ${davgSql("c_acctbal")} FROM customer
       |    WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9))
       |  AND NOT EXISTS (
       |    SELECT 1 FROM orders
       |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
       |GROUP BY 1 ORDER BY cntrycode""".stripMargin

  val queries: Map[String, Q] = Map(
    "q101_tpch_q5" -> q101TpchQ5 _,
    "q102_tpch_q8" -> q102TpchQ8 _,
    "q103_tpch_q13" -> q103TpchQ13 _,
    "q104_tpch_q15" -> q104TpchQ15 _,
    "q105_tpch_q17" -> q105TpchQ17 _,
    "q106_tpch_q19" -> q106TpchQ19 _,
    "q107_tpch_q22" -> q107TpchQ22 _)

  val oracles: Map[String, String] = Map(
    "q101_tpch_q5" -> q101Sql,
    "q102_tpch_q8" -> q102Sql,
    "q103_tpch_q13" -> q103Sql,
    "q104_tpch_q15" -> q104Sql,
    "q105_tpch_q17" -> q105Sql,
    "q106_tpch_q19" -> q106Sql,
    "q107_tpch_q22" -> q107Sql)
}
