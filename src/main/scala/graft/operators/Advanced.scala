package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operators beyond plain relational algebra: as-of join, pivot,
  * explode/flatten.
  *
  * The as-of join is the canonical "operator Spark lacks" (SURVEY.md §7):
  * instead of the naive join+filter+rank (quadratic per key when one side
  * is dense), it is composed as union → single per-key sort → carry-forward
  * `last(_, ignoreNulls)` window. One shuffle, linear work, no skew
  * amplification — the same plan holds at 100 TB because the window
  * partitions on the high-cardinality key.
  */
object Advanced extends QueryModule {
  /** q26 — as-of join: for every `error` event, the most recent `purchase`
    * event of the same user at or before it. */
  def q26AsOfJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val tagged = ev
      .filter(col("event_type").isin("purchase", "error"))
      // purchases sort before errors at equal ts so "at or before" includes ties
      .withColumn("tag", when(col("event_type") === "purchase", lit(0)).otherwise(lit(1)))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_purchase",
        last(when(col("tag") === 0, struct(col("ts").as("p_ts"), col("event_id").as("p_event_id"))),
          ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(
        col("event_id"), col("user_id"), col("ts"),
        col("last_purchase.p_event_id").as("p_event_id"),
        (unix_micros(col("ts")) - unix_micros(col("last_purchase.p_ts"))).as("since_purchase_us"))
      .orderBy(col("event_id"))
  }

  val q26Sql: String =
    """SELECT e.event_id, e.user_id, e.ts, p.event_id AS p_event_id,
      |  epoch_us(e.ts) - epoch_us(p.ts) AS since_purchase_us
      |FROM (SELECT * FROM events WHERE event_type = 'error') e
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON e.user_id = p.user_id AND p.ts <= e.ts
      |ORDER BY e.event_id""".stripMargin

  /** q27 — pivot: per-user event-type counts as columns. The value list is
    * given explicitly so Spark skips the extra distinct-values job — at
    * scale an unbounded pivot would need that full pre-pass. */
  def q27Pivot(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .select(col("user_id") +: types.map(t => col(t).as(s"n_$t")): _*)
      .orderBy(col("user_id"))
  }

  val q27Sql: String =
    """SELECT user_id,
      |  COUNT(*) FILTER (event_type = 'click') AS n_click,
      |  COUNT(*) FILTER (event_type = 'error') AS n_error,
      |  COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
      |  COUNT(*) FILTER (event_type = 'signup') AS n_signup,
      |  COUNT(*) FILTER (event_type = 'view') AS n_view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q28 — explode/flatten: tokenize documents and count the top-20
    * tokens. split → explode → hash agg; the heavy agg happens on the
    * (small) token vocabulary after map-side partial aggregation. */
  def q28Explode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  val q28Sql: String =
    """SELECT token, COUNT(*) AS n
      |FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
      |WHERE token <> ''
      |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin

  /** q94 — q26's semantics on the NATIVE as-of join operator
    * ([[graft.plans.AsOfJoinExec]]: custom logical node + strategy +
    * streaming sort-merge exec). Shares q26's oracle — a full custom
    * physical operator that hash-matches DuckDB's ASOF JOIN. */
  def q94AsOfNative(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"))
    graft.plans.AsOf.join(s, errors, purchases, "user_id", "t_us", tieBreakCols = Seq("p_event_id"))
      .toDF("event_id", "user_id", "t_us", "ts", "p_event_id", "r_user_id", "r_t_us")
      .select(col("event_id"), col("user_id"), col("ts"), col("p_event_id"),
        (col("t_us") - col("r_t_us")).as("since_purchase_us"))
      .orderBy(col("event_id"))
  }

  val queries: Map[String, Q] = Map(
    "q26_asof_join" -> q26AsOfJoin _,
    "q27_pivot" -> q27Pivot _,
    "q28_explode_tokens" -> q28Explode _,
    "q94_asof_native" -> q94AsOfNative _)

  val oracles: Map[String, String] = Map(
    "q26_asof_join" -> q26Sql,
    "q27_pivot" -> q27Sql,
    "q28_explode_tokens" -> q28Sql,
    "q94_asof_native" -> q26Sql)
}
