package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Det._

/** Core relational operator surface (SURVEY.md §2.2–2.8 + §7 step 3).
  *
  * Every query is declarative DataFrame API so Catalyst gets full freedom:
  * filters/projections reach the parquet scan, small dims are broadcast,
  * AQE re-plans shuffles at runtime. Each query ends in an explicit
  * `orderBy` on a unique key so results are row-order deterministic for
  * the driver's hash compare; aggregated doubles go through [[Det]] so the
  * values are bit-identical to the single-threaded DuckDB oracle.
  */
object Relational extends QueryModule {
  /** q01 — TPC-H-Q1-style scan→filter→hash-agg (pricing summary).
    * Filter is pushed to the parquet scan; aggregation is partial
    * (map-side) then final — one shuffle on the 6-row group key space. */
  def q01AggFilter(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  ${dsumSql("l_extendedprice")} AS sum_base_price,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       |  ${davgSql("l_quantity")} AS avg_qty,
       |  ${davgSql("l_extendedprice")} AS avg_price,
       |  ${davgSql("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1999-12-01'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q02 — projection + predicate pushdown: 2-column read of orders.
    * `.explain` must show PushedFilters + a 3-column ReadSchema. */
  def q02ScanProject(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_totalprice") > lit(400000.0))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))

  val q02Sql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders WHERE o_totalprice > 400000.0
      |ORDER BY o_orderkey""".stripMargin

  /** q03 — broadcast-hash join: fact `lineitem` × small dim `part`.
    * `broadcast()` pins the dim to every executor — no shuffle of the
    * 100 TB fact side; only the final 25-group agg shuffles. */
  def q03JoinBroadcast(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  val q03Sql: String =
    s"""SELECT p_brand,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** q04 — large-large equi-join (sort-merge / shuffled-hash territory):
    * lineitem × orders on orderkey. Both sides shuffle on the join key;
    * at scale this is the plan you want when neither side broadcasts —
    * bucketing both tables on orderkey would remove the shuffle entirely. */
  def q04JoinSortMerge(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val q04Sql: String =
    s"""SELECT o_orderpriority,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(DISTINCT o_orderkey) AS n_orders
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q05 — 5-table star join (TPC-H-Q5 shape): one big fact chain plus
    * broadcast dims customer/nation/region. Catalyst+AQE reorder and
    * broadcast the small sides automatically; only lineitem⋈orders
    * shuffles at scale. */
  def q05StarJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q05Sql: String =
    s"""SELECT r_name, n_name,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** q06 — left-semi join (EXISTS): customers having at least one
    * high-value order. Semi-join never materializes the right side's
    * columns — at scale it short-circuits per key. */
  def q06JoinSemi(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > lit(300000.0))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val q06Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
      |ORDER BY c_custkey""".stripMargin

  /** q07 — left-anti join (NOT EXISTS): parts never shipped. */
  def q07JoinAnti(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    val li = Tables.lineitem(s, d)
    p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
      .orderBy(col("p_partkey"))
  }

  val q07Sql: String =
    """SELECT p_partkey, p_name, p_brand
      |FROM part p
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
      |ORDER BY p_partkey""".stripMargin

  /** q08 — equi + theta (non-equi residual) join: line items shipped
    * more than 60 days after their order date. The equi part drives the
    * shuffle; the range predicate is evaluated as a join residual. */
  def q08JoinNonEqui(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey") &&
        li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_late"), dsum(col("l_extendedprice")).as("late_value"))
      .orderBy(col("o_orderstatus"))
  }

  val q08Sql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n_late,
       |  ${dsumSql("l_extendedprice")} AS late_value
       |FROM lineitem JOIN orders
       |  ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** q09 — exact distinct aggregation: distinct counts per segment. */
  def q09AggDistinct(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(col("o_orderpriority")).as("n_priorities"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  val q09Sql: String =
    """SELECT c_mktsegment,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  COUNT(DISTINCT o_orderpriority) AS n_priorities,
      |  COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** q10 — rollup: subtotals + grand total over (returnflag, linestatus).
    * Grouping nulls are folded to 'ALL' so Spark/DuckDB null-ordering
    * differences can't affect the hash. */
  def q10Rollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy(col("rf"), col("ls"))

  val q10Sql: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
       |  COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY rf, ls""".stripMargin

  /** q11 — cube over (orderstatus, orderpriority). */
  def q11Cube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
        col("n"), col("sum_price"))
      .orderBy(col("st"), col("pri"))

  val q11Sql: String =
    s"""SELECT COALESCE(o_orderstatus, 'ALL') AS st, COALESCE(o_orderpriority, 'ALL') AS pri,
       |  COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
       |ORDER BY st, pri""".stripMargin

  /** q12 — sort + limit top-k: 100 priciest line items. Tie-broken on the
    * unique (orderkey, linenumber) so the limit boundary is deterministic.
    * Spark executes this as TakeOrderedAndProject — a per-partition top-k
    * then a driver merge, never a full sort of 100 TB. */
  def q12TopK(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  val q12Sql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 100""".stripMargin

  /** q13 — set operations: union / intersect / except over customer key
    * sets from two order populations, tagged and unioned into one result. */
  def q13SetOps(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val hi = o.filter(col("o_totalprice") > lit(350000.0)).select(col("o_custkey"))
    val urgent = o.filter(col("o_orderpriority") === lit("1-URGENT")).select(col("o_custkey"))
    val u = hi.union(urgent).distinct().withColumn("op", lit("union"))
    val i = hi.intersect(urgent).withColumn("op", lit("intersect"))
    val e = hi.except(urgent).withColumn("op", lit("except"))
    u.union(i).union(e).orderBy(col("op"), col("o_custkey"))
  }

  val q13Sql: String =
    """WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 350000.0),
      |     urg AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |SELECT o_custkey, 'union' AS op FROM (SELECT DISTINCT o_custkey FROM (SELECT * FROM hi UNION ALL SELECT * FROM urg))
      |UNION ALL
      |SELECT o_custkey, 'intersect' AS op FROM (SELECT o_custkey FROM hi INTERSECT SELECT o_custkey FROM urg)
      |UNION ALL
      |SELECT o_custkey, 'except' AS op FROM (SELECT o_custkey FROM hi EXCEPT SELECT o_custkey FROM urg)
      |ORDER BY op, o_custkey""".stripMargin

  /** q95 — TPC-H Q3 (shipping priority): 3-way join, filtered both sides,
    * top-10 unshipped orders by revenue. */
  def q95TpchQ3(s: SparkSession, d: String): DataFrame = {
    val cut = lit("1998-03-15").cast("timestamp")
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < cut)
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  val q95Sql: String =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin

  /** q96 — TPC-H Q6 (forecast revenue change): pure scan-filter-agg, the
    * pushdown-and-prune benchmark shape. */
  def q96TpchQ6(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.05) &&
        col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n"))

  val q96Sql: String =
    s"""SELECT ${dsumSql("l_extendedprice * l_discount")} AS revenue, COUNT(*) AS n
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
       |  AND l_discount BETWEEN 0.03 AND 0.05 AND l_quantity < 24""".stripMargin

  /** q97 — TPC-H Q14 (promo revenue ratio): conditional aggregation over a
    * broadcast join, one month of shipments. */
  def q97TpchQ14(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-02-01").cast("timestamp"))
    val p = Tables.part(s, d)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .agg(
        (lit(100.0) *
          dsum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(lit(0.0))) /
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("promo_revenue_pct"),
        count(lit(1)).as("n"))
  }

  val q97Sql: String =
    s"""SELECT
       |  100.0 * ${dsumSql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
       |        / ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS promo_revenue_pct,
       |  COUNT(*) AS n
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'""".stripMargin

  /** q98 — TPC-H Q10 (returned-item reporting): revenue lost to returns
    * per customer, top 20, with the nation dim joined in. */
  def q98TpchQ10(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q98Sql: String =
    s"""SELECT c_custkey, c_name, n_name,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** q99 — TPC-H Q7 (volume shipping): revenue flowing between supplier
    * nation and customer nation per year — exercises the supplier dim and
    * a 6-table join with two independent nation lookups. */
  def q99TpchQ7(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val su = Tables.supplier(s, d)
    val n1 = Tables.nation(s, d).select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d).select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n1), su("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), c("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q99Sql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  YEAR(l_shipdate) AS l_year,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE n1.n_name <> n2.n_name
       |GROUP BY 1, 2, 3
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** All queries in this module, keyed for SparkEntry. */
  /** q100 — TPC-H Q18 (large-volume customers): the classic big-groupBy +
    * HAVING + join-back-on-the-agg-result shape. The heavy-order list
    * (sum qty > 300) is the filtered output of a full lineitem
    * aggregation — a tiny fraction of orders — so it broadcasts into the
    * orders join, and the already-tiny qualified-orders side broadcasts
    * into the customer join: one full shuffle total (the unavoidable
    * lineitem agg), no large-large joins. */
  def q100TpchQ18(s: SparkSession, d: String): DataFrame = {
    val heavy = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    val o = Tables.orders(s, d)
    val qualified = o.join(broadcast(heavy), o("o_orderkey") === heavy("l_orderkey"))
    val c = Tables.customer(s, d)
    c.join(broadcast(qualified), qualified("o_custkey") === c("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(100)
  }

  val q100Sql: String =
    s"""WITH heavy AS (
       |  SELECT l_orderkey, ${dsumSql("l_quantity")} AS sum_qty
       |  FROM lineitem GROUP BY 1
       |  HAVING ${dsumSql("l_quantity")} > 300)
       |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
       |FROM heavy
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""".stripMargin

  /** q135 — the SQL API surface: the same engine driven through
    * `spark.sql` over a registered temp view, with a CTE + window in the
    * SQL text — monthly gross revenue per linestatus and its
    * month-over-month delta. Catalyst compiles this to the identical
    * plan a DataFrame chain gets (one proof the library is usable from
    * pure SQL); the revenue sum is the same 6-dp fixed-point form as the
    * DataFrame queries so it hash-matches the oracle.
    */
  def q135SqlApi(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
    s.sql(
      s"""WITH monthly AS (
         |  SELECT l_linestatus, date_trunc('month', l_shipdate) AS mon,
         |    (CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0) AS revenue
         |  FROM lineitem_v
         |  GROUP BY l_linestatus, date_trunc('month', l_shipdate))
         |SELECT l_linestatus, mon, revenue,
         |  revenue - LAG(revenue, 1, 0.0) OVER (PARTITION BY l_linestatus ORDER BY mon) AS mom_delta
         |FROM monthly ORDER BY l_linestatus, mon""".stripMargin)
  }

  val q135Sql: String =
    """WITH monthly AS (
      |  SELECT l_linestatus, date_trunc('month', l_shipdate) AS mon,
      |    (CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0) AS revenue
      |  FROM lineitem
      |  GROUP BY l_linestatus, date_trunc('month', l_shipdate))
      |SELECT l_linestatus, mon, revenue,
      |  revenue - LAG(revenue, 1, 0.0) OVER (PARTITION BY l_linestatus ORDER BY mon) AS mom_delta
      |FROM monthly ORDER BY l_linestatus, mon""".stripMargin

  /** q139 — LATERAL correlated subquery: each high-balance customer's
    * top-2 orders by price, written as a lateral per-row subquery and
    * decorrelated by Catalyst (DecorrelateInnerQuery) into a set-based
    * plan — the engine proves the correlated-iteration SQL idiom never
    * executes row-at-a-time. The window/`WindowGroupLimit` formulation
    * (q15) is the hand-optimized twin; this one checks the optimizer
    * gets there from the naive spelling.
    */
  def q139Lateral(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer_v")
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer_v c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders_v o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c.c_acctbal > 9000
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
  }

  val q139Sql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c,
      |LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |WHERE c.c_acctbal > 9000
      |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "q139_lateral" -> q139Lateral _,
    "q135_sql_api" -> q135SqlApi _,
    "q01_agg_filter" -> q01AggFilter _,
    "q02_scan_project" -> q02ScanProject _,
    "q03_join_broadcast" -> q03JoinBroadcast _,
    "q04_join_sortmerge" -> q04JoinSortMerge _,
    "q05_join_star" -> q05StarJoin _,
    "q06_join_semi" -> q06JoinSemi _,
    "q07_join_anti" -> q07JoinAnti _,
    "q08_join_nonequi" -> q08JoinNonEqui _,
    "q09_agg_distinct" -> q09AggDistinct _,
    "q10_agg_rollup" -> q10Rollup _,
    "q11_agg_cube" -> q11Cube _,
    "q12_sort_topk" -> q12TopK _,
    "q13_set_ops" -> q13SetOps _,
    "q95_tpch_q3" -> q95TpchQ3 _,
    "q96_tpch_q6" -> q96TpchQ6 _,
    "q97_tpch_q14" -> q97TpchQ14 _,
    "q98_tpch_q10" -> q98TpchQ10 _,
    "q99_tpch_q7" -> q99TpchQ7 _,
    "q100_tpch_q18" -> q100TpchQ18 _)

  val oracles: Map[String, String] = Map(
    "q139_lateral" -> q139Sql,
    "q135_sql_api" -> q135Sql,
    "q01_agg_filter" -> q01Sql,
    "q02_scan_project" -> q02Sql,
    "q03_join_broadcast" -> q03Sql,
    "q04_join_sortmerge" -> q04Sql,
    "q05_join_star" -> q05Sql,
    "q06_join_semi" -> q06Sql,
    "q07_join_anti" -> q07Sql,
    "q08_join_nonequi" -> q08Sql,
    "q09_agg_distinct" -> q09Sql,
    "q10_agg_rollup" -> q10Sql,
    "q11_agg_cube" -> q11Sql,
    "q12_sort_topk" -> q12Sql,
    "q13_set_ops" -> q13Sql,
    "q95_tpch_q3" -> q95Sql,
    "q96_tpch_q6" -> q96Sql,
    "q97_tpch_q14" -> q97Sql,
    "q98_tpch_q10" -> q98Sql,
    "q99_tpch_q7" -> q99Sql,
    "q100_tpch_q18" -> q100Sql)
}
