package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized-view maintenance operators: retractable aggregate
  * maintenance under a CDC delta (inserts, updates, AND deletes) and
  * sliding-window distinct counting by bounded fan-out.
  *
  * q174 maintains an aggregate under an append-only delta; real change
  * feeds also retract. The counting-algorithm shape here (SUM/COUNT
  * maintained by signed contributions, emptied groups dropped by the
  * maintained count) is the standard incremental-view-maintenance
  * result; MIN/MAX are deliberately absent — they are not
  * self-maintainable under deletes (a retracted maximum needs a rescan),
  * which is exactly why q174 carries `last_order` and this one doesn't.
  */
object MaintOps extends QueryModule {
  /** q192 — per-customer (n_orders, spend) maintained from an OLD order
    * snapshot plus the q124-shaped CDC delta, instead of re-aggregating
    * the new snapshot.
    *
    * Snapshots reuse q124's drift exactly (A = orders before 1998; B =
    * orders before 1999 minus keys ≡3 mod 97, with keys ≡0 mod 10
    * repriced ×1.1). The delta is the full-outer key join of A and B
    * classified insert/update/delete; each class contributes signed
    * terms — insert (+1, +new), delete (−1, −old), update (0, new−old) —
    * summed in the same 6-dp fixed-point accumulator as the state, so
    * maintained = state ⊎ delta is exact, associative, and
    * partial-aggregable. Groups whose maintained count reaches 0 are
    * dropped (the customer left the snapshot). The oracle aggregates
    * snapshot B directly: maintenance must be indistinguishable from
    * recomputation. At 100 TB the state is the stored view and the
    * delta is a day's CDC feed — work ∝ |delta| + |touched groups|.
    */
  def q192RetractableAgg(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
    val a = o.filter(col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_orderkey").as("k"), col("o_custkey").as("c_a"),
        col("o_totalprice").as("price_a"))
    val b = o.filter(col("o_orderdate") < lit("1999-01-01"))
      .filter(col("o_orderkey") % 97 =!= 3)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("c_b"),
        when(col("o_orderkey") % 10 === 0, col("o_totalprice") * 1.1)
          .otherwise(col("o_totalprice")).as("price_b"))
    // the stored view: state aggregate over snapshot A
    val state = a.groupBy(col("c_a").as("o_custkey"))
      .agg(count(lit(1)).as("dn"),
        sum(Det.fixed6(col("price_a")).cast(Det.Acc)).as("ds6"))
    // the CDC delta with signed contributions per class
    val delta = a.join(b, Seq("k"), "full_outer")
      .filter(col("c_a").isNull || col("c_b").isNull ||
        col("price_a") =!= col("price_b"))
      .select(
        coalesce(col("c_b"), col("c_a")).as("o_custkey"),
        (when(col("c_a").isNull, 1L).when(col("c_b").isNull, -1L)
          .otherwise(0L)).as("dn"),
        (coalesce(Det.fixed6(col("price_b")), lit(0L)) -
          coalesce(Det.fixed6(col("price_a")), lit(0L))).cast(Det.Acc).as("ds6"))
    state.unionByName(delta)
      .groupBy(col("o_custkey"))
      .agg(sum(col("dn")).as("n_orders"),
        (sum(col("ds6")).cast("double") / lit(1000000.0)).as("spend"))
      .filter(col("n_orders") > 0) // retracted-to-empty groups disappear
      .orderBy(col("o_custkey"))
  }

  val q192Sql: String =
    s"""WITH b AS (
       |  SELECT o_custkey,
       |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.1
       |         ELSE o_totalprice END AS price
       |  FROM orders
       |  WHERE o_orderdate < '1999-01-01' AND o_orderkey % 97 <> 3)
       |SELECT o_custkey, COUNT(*) AS n_orders,
       |  ${Det.dsumSql("price")} AS spend
       |FROM b GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Trailing window width (days) for q193. */
  val WindowDays = 7

  /** q193 — trailing-7-day distinct active users per observed day,
    * computed by bounded fan-out instead of a windowed COUNT DISTINCT.
    *
    * A windowed distinct count cannot partial-aggregate (distinct state
    * is a set), and a RANGE-frame window would drag the full user set
    * through every frame. The scalable identity: a user active on day t
    * is distinct-active in exactly the windows ending t..t+6, so
    * (1) dedup to (user, day) presence — partial-aggregable;
    * (2) explode each presence into ≤7 window-ends — a CONSTANT fan-out,
    * shuffle ∝ 7·|presence|; (3) dedup (user, window) — a user active
    * on several days of one window still counts once; (4) count per
    * window. Window-ends are kept to observed days (semi-join against
    * the day list) so the report has one row per day with events.
    * Everything is integers and dates — no float drift possible.
    */
  def q193SlidingDistinct(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val days = ud.select(col("day")).distinct()
    ud.withColumn("wday",
        explode(expr(s"sequence(day, date_add(day, ${WindowDays - 1}))")))
      .select(col("user_id"), col("wday"))
      .distinct()
      .join(days.withColumnRenamed("day", "wday"), Seq("wday"), "left_semi")
      .groupBy(col("wday"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("wday"))
  }

  val q193Sql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       |days AS (SELECT DISTINCT day FROM ud)
       |SELECT d.day AS wday, count(DISTINCT u.user_id) AS n_users
       |FROM days d JOIN ud u
       |  ON u.day BETWEEN d.day - ${WindowDays - 1} AND d.day
       |GROUP BY d.day ORDER BY d.day""".stripMargin

  /** Order-date cutoff splitting q220's state from its delta batch. */
  val JoinIvmCutoff = "1998-01-01"

  /** Deterministic q220 dimension update: every 7th customer's balance
    * moves by +100 in the new dimension version. */
  val IvmBalBump = 100.0

  /** q220 — incremental maintenance of a materialized JOIN view.
    *
    * q192 maintains an AGGREGATE under a CDC delta; the other half of
    * view maintenance is the denormalized join view (orders ⋈ customer,
    * the shape every "wide table" pipeline materializes). Under a fact
    * delta (new orders) and a dimension update (changed balances), the
    * maintained view is NOT recomputed: existing rows take the dimension
    * change as a broadcast PATCH join on the dim key (each view row has
    * exactly one dim match — PK — so the patch is row-preserving
    * coalesce, never a multiplying join), and the fact delta joins the
    * NEW dimension version once. V' = patch(V, ΔC) ⊎ (ΔO ⋈ C_new) — at
    * warehouse scale the patch is a MERGE keyed on the view PK
    * (o_orderkey) touching only ΔC-matching rows, and ΔO work is ∝ the
    * delta. The graded output is a per-nation rollup of the MAINTAINED
    * view; the oracle recomputes the target snapshot join from scratch —
    * the q192 discipline that maintenance must be indistinguishable from
    * recomputation.
    */
  def q220JoinIvm(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val cNew = c.withColumn("c_acctbal",
      when(col("c_custkey") % 7 === 0, col("c_acctbal") + lit(IvmBalBump))
        .otherwise(col("c_acctbal")))
    val deltaC = cNew.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), col("c_acctbal").as("new_bal"))
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    val dims = c.select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val vOld = o.filter(col("o_orderdate") < lit(JoinIvmCutoff))
      .join(dims, col("o_custkey") === col("c_custkey"))
    val patched = vOld
      .join(broadcast(deltaC.withColumnRenamed("c_custkey", "pk")),
        col("o_custkey") === col("pk"), "left")
      .withColumn("c_acctbal", coalesce(col("new_bal"), col("c_acctbal")))
      .select(col("o_orderkey"), col("o_totalprice"),
        col("c_nationkey"), col("c_acctbal"))
    val fresh = o.filter(col("o_orderdate") >= lit(JoinIvmCutoff))
      .join(cNew.select(col("c_custkey"), col("c_nationkey"), col("c_acctbal")),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_totalprice"),
        col("c_nationkey"), col("c_acctbal"))
    patched.unionAll(fresh)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_rows"),
        Det.dsum(col("o_totalprice")).as("revenue"),
        Det.dsum(col("c_acctbal")).as("bal_mass"))
      .orderBy(col("c_nationkey"))
  }

  /** q220 oracle: the target snapshot recomputed directly — all orders
    * joined to the NEW dimension version. */
  val q220Sql: String =
    s"""WITH cnew AS (
       |  SELECT c_custkey, c_nationkey,
       |         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + $IvmBalBump
       |              ELSE c_acctbal END AS c_acctbal
       |  FROM customer)
       |SELECT c_nationkey,
       |       CAST(COUNT(*) AS BIGINT) AS n_rows,
       |       ${Det.dsumSql("o_totalprice")} AS revenue,
       |       ${Det.dsumSql("c_acctbal")} AS bal_mass
       |FROM orders JOIN cnew ON o_custkey = c_custkey
       |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "q192_retractable_agg" -> q192RetractableAgg _,
    "q193_sliding_distinct" -> q193SlidingDistinct _,
    "q220_join_ivm" -> q220JoinIvm _)

  val oracles: Map[String, String] = Map(
    "q192_retractable_agg" -> q192Sql,
    "q193_sliding_distinct" -> q193Sql,
    "q220_join_ivm" -> q220Sql)
}
