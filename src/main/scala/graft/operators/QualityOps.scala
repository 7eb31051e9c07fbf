package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality gating and training-example assembly: a one-shot
  * referential-integrity audit across the star schema, and point-in-time
  * correct feature/label construction over the event stream.
  */
object QualityOps extends QueryModule {
  /** q198 — referential-integrity audit: orphan and duplicate-key counts
    * for every FK edge of the schema, as one summary relation.
    *
    * The reference pipeline gates loads on row counts only (A1); real
    * warehouse QA also gates on key integrity — orphaned facts load
    * silently and corrupt every downstream join. Each check is a
    * LEFT ANTI join (never materializes the right side, no row blowup
    * on duplicate keys — the EXISTS shape) counted into one row; PK
    * uniqueness is a groupBy-HAVING count. All checks run as
    * independent branches unioned into the report, so the audit is one
    * job; each branch's shuffle is bounded by its fact table's keys.
    * Zero violations on the TPC-H-shaped fixtures IS the expected
    * output — the checks' value is the guarantee, and the spec
    * negative-tests them by injecting orphans.
    */
  /** One FK check: count of fact keys with no matching dim key (LEFT
    * ANTI — the EXISTS shape; never materializes the dim columns). */
  def orphans(name: String, fact: DataFrame, fk: String,
      dim: DataFrame, pk: String): DataFrame =
    fact.select(col(fk)).join(dim.select(col(pk)), col(fk) === col(pk), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit(name).as("check"), col("violations"))

  /** One PK-uniqueness check: count of keys appearing more than once. */
  def dupPk(name: String, dim: DataFrame, pk: String): DataFrame =
    dim.groupBy(col(pk)).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .agg(count(lit(1)).as("violations"))
      .select(lit(name).as("check"), col("violations"))

  def q198RefIntegrity(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val su = Tables.supplier(s, d)
    val p = Tables.part(s, d)
    val n = Tables.nation(s, d)
    orphans("lineitem_orderkey", li, "l_orderkey", o, "o_orderkey")
      .unionByName(orphans("lineitem_partkey", li, "l_partkey", p, "p_partkey"))
      .unionByName(orphans("lineitem_suppkey", li, "l_suppkey", su, "s_suppkey"))
      .unionByName(orphans("orders_custkey", o, "o_custkey", c, "c_custkey"))
      .unionByName(orphans("customer_nationkey", c, "c_nationkey", n, "n_nationkey"))
      .unionByName(orphans("supplier_nationkey", su, "s_nationkey", n, "n_nationkey"))
      .unionByName(dupPk("orders_pk_unique", o, "o_orderkey"))
      .unionByName(dupPk("customer_pk_unique", c, "c_custkey"))
      .unionByName(dupPk("part_pk_unique", p, "p_partkey"))
      .orderBy(col("check"))
  }

  val q198Sql: String =
    """SELECT * FROM (
      |  SELECT 'lineitem_orderkey' AS "check", count(*) AS violations
      |  FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      |  UNION ALL
      |  SELECT 'lineitem_partkey', count(*)
      |  FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
      |  UNION ALL
      |  SELECT 'lineitem_suppkey', count(*)
      |  FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
      |  UNION ALL
      |  SELECT 'orders_custkey', count(*)
      |  FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
      |  UNION ALL
      |  SELECT 'customer_nationkey', count(*)
      |  FROM customer WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
      |  UNION ALL
      |  SELECT 'supplier_nationkey', count(*)
      |  FROM supplier WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = s_nationkey)
      |  UNION ALL
      |  SELECT 'orders_pk_unique', count(*) FROM (
      |    SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
      |  UNION ALL
      |  SELECT 'customer_pk_unique', count(*) FROM (
      |    SELECT c_custkey FROM customer GROUP BY c_custkey HAVING count(*) > 1)
      |  UNION ALL
      |  SELECT 'part_pk_unique', count(*) FROM (
      |    SELECT p_partkey FROM part GROUP BY p_partkey HAVING count(*) > 1)
      |) ORDER BY "check"""".stripMargin

  /** Feature window (days, trailing incl. anchor) and label window
    * (days, strictly after anchor) for q199. */
  val FeatDays = 7
  val LabelDays = 7

  /** q199 — point-in-time correct training-example assembly: one row per
    * (user, anchor day) with features from the TRAILING window and a
    * label from the strictly-FOLLOWING window.
    *
    * The feature/label temporal split is the leakage rule every
    * supervised pipeline over event data must enforce: features may see
    * [d−6, d], the label may only see (d, d+7] — one shared event on
    * the boundary and the model trains on its own answer. Both windows
    * are built from the same deduped per-day activity relation by
    * CONSTANT fan-out (q193's identity, run twice with different
    * offsets), so there is no per-example scan and no range join:
    * shuffle ∝ (FeatDays + LabelDays)·|presence|. Anchors are observed
    * days; features are event counts and distinct active days; the
    * label is whether a purchase event occurs in the label window.
    * All-integer arithmetic.
    */
  def q199FeatureLabel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
    val days = ev.select(col("day")).distinct()
    // per-(user, day) activity: event count + purchase count
    val act = ev.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_ev"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_buy"))
    // features: day t contributes to anchors t .. t+6
    val feats = act
      .withColumn("anchor",
        explode(expr(s"sequence(day, date_add(day, ${FeatDays - 1}))")))
      .groupBy(col("user_id"), col("anchor"))
      .agg(sum(col("n_ev")).as("f_events"),
        count(lit(1)).as("f_active_days"))
    // labels: day t contributes to anchors t-7 .. t-1 (strictly before t)
    val labels = act.filter(col("n_buy") > 0)
      .withColumn("anchor",
        explode(expr(s"sequence(date_sub(day, $LabelDays), date_sub(day, 1))")))
      .groupBy(col("user_id"), col("anchor"))
      .agg(lit(1L).as("label"))
    feats
      .join(days.withColumnRenamed("day", "anchor"), Seq("anchor"), "left_semi")
      .join(labels, Seq("user_id", "anchor"), "left")
      .select(col("user_id"), col("anchor"),
        col("f_events"), col("f_active_days"),
        coalesce(col("label"), lit(0L)).as("label"))
      .orderBy(col("user_id"), col("anchor"))
  }

  val q199Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day, event_type FROM events),
       |days AS (SELECT DISTINCT day FROM ev),
       |act AS (
       |  SELECT user_id, day, count(*) AS n_ev,
       |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_buy
       |  FROM ev GROUP BY user_id, day),
       |feats AS (
       |  SELECT a.user_id, d.day AS anchor,
       |         CAST(sum(a.n_ev) AS BIGINT) AS f_events,
       |         count(*) AS f_active_days
       |  FROM days d JOIN act a
       |    ON a.day BETWEEN d.day - ${FeatDays - 1} AND d.day
       |  GROUP BY a.user_id, d.day),
       |labels AS (
       |  SELECT DISTINCT a.user_id, d.day AS anchor
       |  FROM days d JOIN act a
       |    ON a.n_buy > 0 AND a.day BETWEEN d.day + 1 AND d.day + $LabelDays)
       |SELECT f.user_id, f.anchor, f.f_events, f.f_active_days,
       |       CAST(CASE WHEN l.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS label
       |FROM feats f LEFT JOIN labels l USING (user_id, anchor)
       |ORDER BY f.user_id, f.anchor""".stripMargin

  val queries: Map[String, Q] = Map(
    "q198_ref_integrity" -> q198RefIntegrity _,
    "q199_feature_label" -> q199FeatureLabel _)

  val oracles: Map[String, String] = Map(
    "q198_ref_integrity" -> q198Sql,
    "q199_feature_label" -> q199Sql)
}
