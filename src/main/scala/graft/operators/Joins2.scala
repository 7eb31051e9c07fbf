package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Aggregator
import graft.operators.Det._

/** Join/set-op completion: outer joins, ALL-variant set ops, binned range
  * join, and a typed custom Aggregator. */
object Joins2 extends QueryModule {
  /** q42 — left + full outer joins with null-aware aggregation: every
    * customer (with or without orders) and order counts; full-outer
    * against a filtered order set to force right-only rows too. */
  def q42OuterJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 250000.0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .groupBy(coalesce(col("c_mktsegment"), lit("NO_CUSTOMER")).as("segment"))
      .agg(
        count(col("o_orderkey")).as("n_big_orders"),
        count(lit(1)).as("n_rows"),
        dsum(coalesce(col("o_totalprice"), lit(0.0))).as("big_value"))
      .orderBy(col("segment"))
  }

  val q42Sql: String =
    s"""SELECT COALESCE(c_mktsegment, 'NO_CUSTOMER') AS segment,
       |  COUNT(o_orderkey) AS n_big_orders, COUNT(*) AS n_rows,
       |  ${dsumSql("COALESCE(o_totalprice, 0.0)")} AS big_value
       |FROM (SELECT c_custkey, c_mktsegment FROM customer) c
       |FULL OUTER JOIN (SELECT o_custkey, o_orderkey, o_totalprice FROM orders
       |                 WHERE o_totalprice > 250000.0) o
       |  ON c.c_custkey = o.o_custkey
       |GROUP BY 1 ORDER BY segment""".stripMargin

  /** q43 — multiset set ops: INTERSECT ALL / EXCEPT ALL preserve
    * duplicate multiplicity (vs q13's set semantics). */
  def q43SetOpsAll(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val a = li.filter(col("l_discount") >= 0.05).select(col("l_suppkey"))
    val b = li.filter(col("l_tax") >= 0.04).select(col("l_suppkey"))
    val i = a.intersectAll(b).groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect_all"))
    val e = a.exceptAll(b).groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("except_all"))
    i.union(e).orderBy(col("op"), col("l_suppkey"))
  }

  val q43Sql: String =
    """WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_discount >= 0.05),
      |     b AS (SELECT l_suppkey FROM lineitem WHERE l_tax >= 0.04)
      |SELECT l_suppkey, n, op FROM (
      |  SELECT l_suppkey, COUNT(*) AS n, 'intersect_all' AS op
      |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1
      |  UNION ALL
      |  SELECT l_suppkey, COUNT(*) AS n, 'except_all' AS op
      |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1)
      |ORDER BY op, l_suppkey""".stripMargin

  /** q44 — pure range join (no equi key), executed scalably by BINNING:
    * events are bucketed into 5-minute bins; candidates join on bin and
    * bin±1 (an equi shuffle join), then the exact |Δt| ≤ 5 min predicate
    * filters. The naive plan is a cartesian BroadcastNestedLoopJoin —
    * O(n²) at 100 TB; binning bounds candidates to adjacent bins.
    * Output: per-user count of OTHER-user error events within 5 min of
    * each purchase. */
  def q44RangeJoinBinned(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val binUs = 5L * 60 * 1000000
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("pu"),
        unix_micros(col("ts")).as("pt"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("eid"), col("user_id").as("eu"),
        unix_micros(col("ts")).as("et"))
      .withColumn("bin", expr(s"et div $binUs"))
    val pBinned = p
      .withColumn("bin0", expr(s"pt div $binUs"))
      .withColumn("bin", explode(array(col("bin0") - 1, col("bin0"), col("bin0") + 1)))
    pBinned.join(e, Seq("bin"))
      .filter(abs(col("pt") - col("et")) <= binUs && col("pu") =!= col("eu"))
      .select(col("pid"), col("eid")).distinct()
      .groupBy(col("pid")).agg(count(lit(1)).as("n_nearby_errors"))
      .orderBy(col("pid"))
  }

  val q44Sql: String =
    """WITH p AS (SELECT event_id AS pid, user_id AS pu, epoch_us(ts) AS pt
      |           FROM events WHERE event_type = 'purchase'),
      |     e AS (SELECT event_id AS eid, user_id AS eu, epoch_us(ts) AS et
      |           FROM events WHERE event_type = 'error')
      |SELECT pid, COUNT(*) AS n_nearby_errors
      |FROM p JOIN e ON ABS(pt - et) <= 300000000 AND pu <> eu
      |GROUP BY pid ORDER BY pid""".stripMargin

  /** Typed custom aggregate (§2.10): revenue-weighted mean discount.
    * Buffer keeps exact decimal-like long micros so the merge is
    * associative and order-free — same contract as Det sums. */
  final case class WRow(l_returnflag: String, l_extendedprice: Double, l_discount: Double)
  final case class WBuf(var wsum: Long, var wxsum: Long) // micros-scaled exact integers

  object WeightedDiscount extends Aggregator[WRow, WBuf, Double] {
    private def toMicros(d: Double): Long = math.rint(d * 1e6).toLong
    def zero: WBuf = WBuf(0L, 0L)
    def reduce(b: WBuf, r: WRow): WBuf = {
      val w = toMicros(r.l_extendedprice)
      b.wsum += w
      // weight × discount: discount has ≤2 decimals → exact in micros×100
      b.wxsum += w * math.rint(r.l_discount * 100).toLong
      b
    }
    def merge(a: WBuf, b: WBuf): WBuf = { a.wsum += b.wsum; a.wxsum += b.wxsum; a }
    def finish(b: WBuf): Double =
      if (b.wsum == 0) 0.0 else (b.wxsum.toDouble / 100.0) / b.wsum.toDouble
    def bufferEncoder: org.apache.spark.sql.Encoder[WBuf] =
      org.apache.spark.sql.Encoders.product[WBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[Double] =
      org.apache.spark.sql.Encoders.scalaDouble
  }

  /** q45 — the custom typed Aggregator per group, result reproduced in the
    * oracle with exact integer arithmetic. */
  def q45TypedAggregator(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_discount"))
      .as[WRow]
      .groupByKey(_.l_returnflag)
      .agg(WeightedDiscount.toColumn.name("w_disc"))
      .toDF("l_returnflag", "w_disc")
      .select(col("l_returnflag"), round(col("w_disc"), 8).as("w_disc"))
      .orderBy(col("l_returnflag"))
  }

  val q45Sql: String =
    """SELECT l_returnflag,
      |  ROUND((CAST(SUM(CAST(round(l_extendedprice * 1000000) AS BIGINT)
      |             * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 100.0)
      |        / CAST(SUM(CAST(round(l_extendedprice * 1000000) AS BIGINT)) AS DOUBLE), 8) AS w_disc
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q47 — unionByName with allowMissingColumns: schema-evolution-tolerant
    * append (absent columns null-filled), the pattern for unioning bronze
    * loads across schema versions. */
  def q47UnionByName(s: SparkSession, d: String): DataFrame = {
    val v1 = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val v2 = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    v1.unionByName(v2, allowMissingColumns = true)
      .select(col("o_orderkey"), col("o_totalprice"),
        coalesce(col("o_orderpriority"), lit("UNKNOWN")).as("priority"))
      .orderBy(col("o_orderkey"))
  }

  val q47Sql: String =
    """SELECT o_orderkey, o_totalprice,
      |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority ELSE 'UNKNOWN' END AS priority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q48 — array functions over token arrays: sort, slice, contains,
    * distinct sizes, element access. */
  def q48ArrayFunctions(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Portable.tokens
    Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        array_join(sort_array(array_distinct(col("toks"))), " ").as("vocab_sorted"),
        array_join(slice(col("toks"), 1, 3), " ").as("first3"),
        array_contains(col("toks"), "the").as("has_the"),
        element_at(col("toks"), 1).as("first_tok"),
        element_at(col("toks"), -1).as("last_tok"),
        size(col("toks")).cast("long").as("n"))
      .orderBy(col("doc_id"))
  }

  val q48Sql: String = {
    val toks = graft.functions.Portable.tokensSql("text")
    s"""SELECT doc_id,
       |  array_to_string(list_sort(list_distinct($toks)), ' ') AS vocab_sorted,
       |  array_to_string(($toks)[1:3], ' ') AS first3,
       |  list_contains($toks, 'the') AS has_the,
       |  ($toks)[1] AS first_tok,
       |  ($toks)[-1] AS last_tok,
       |  CAST(len($toks) AS BIGINT) AS n
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q82 — null-safe equi-join (`<=>`): urgent orders are collapsed to a
    * NULL key on both sides; the null-safe condition keeps them paired
    * (a plain `=` drops every NULL row — the classic silent data loss in
    * key-nullable joins). `EqualNullSafe` is still an equi-key to the
    * planner, so the dim side broadcasts and no shuffle appears —
    * null-safe semantics cost nothing at 100 TB. */
  def q82NullSafeJoin(s: SparkSession, d: String): DataFrame = {
    val l = Tables.orders(s, d)
      .select(col("o_orderkey"), expr("nullif(o_orderpriority, '1-URGENT')").as("k"))
    val dim = l.select(col("k")).distinct()
      .select(col("k").as("dk"), coalesce(col("k"), lit("URGENT_NULL")).as("k_label"))
    l.join(broadcast(dim), col("k") <=> col("dk"))
      .groupBy(col("k_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("k_label"))
  }

  val q82Sql: String =
    """WITH l AS (SELECT nullif(o_orderpriority, '1-URGENT') AS k FROM orders),
      |d AS (SELECT DISTINCT k AS dk, COALESCE(k, 'URGENT_NULL') AS k_label FROM l)
      |SELECT k_label, COUNT(*) AS n
      |FROM l JOIN d ON l.k IS NOT DISTINCT FROM d.dk
      |GROUP BY 1 ORDER BY k_label""".stripMargin

  val queries: Map[String, Q] = Map(
    "q82_null_safe_join" -> q82NullSafeJoin _,
    "q42_outer_join" -> q42OuterJoin _,
    "q43_setops_all" -> q43SetOpsAll _,
    "q44_range_join_binned" -> q44RangeJoinBinned _,
    "q45_typed_aggregator" -> q45TypedAggregator _,
    "q47_union_by_name" -> q47UnionByName _,
    "q48_array_functions" -> q48ArrayFunctions _)

  val oracles: Map[String, String] = Map(
    "q82_null_safe_join" -> q82Sql,
    "q42_outer_join" -> q42Sql,
    "q43_setops_all" -> q43Sql,
    "q44_range_join_binned" -> q44Sql,
    "q45_typed_aggregator" -> q45Sql,
    "q47_union_by_name" -> q47Sql,
    "q48_array_functions" -> q48Sql)
}
