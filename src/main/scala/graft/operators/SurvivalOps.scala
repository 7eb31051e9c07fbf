package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Survival analysis (q272): discrete Kaplan–Meier time-to-convert with
  * right censoring — the time-to-event family, which none of the funnel
  * or cohort queries model (they all condition on the event happening).
  */
object SurvivalOps extends QueryModule {
  /** q272 — Kaplan–Meier time-to-convert, discrete by day: subjects
    * enter at their FIRST view event; the event is their first
    * subsequent purchase; subjects with no purchase are RIGHT-CENSORED
    * at the end of the observation window (the piece a naive
    * "average days to convert over converters" silently throws away,
    * biasing conversion speed optimistic). Per elapsed day t: the
    * at-risk count n_t, conversions d_t, the hazard d_t/n_t, and the
    * cumulative log-survival Σ_{s≤t} ln(1 − d_s/n_s) (the log form
    * keeps the estimator an exact integer-sum of 6-dp-rounded terms —
    * a product of floats would not be order-free). The day axis is the
    * bounded window calendar; everything else is per-user min/max
    * aggregates.
    */
  def q272SurvivalKm(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("day"), col("event_type"))
    val firstView = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("day")).as("d0"))
    val obsEnd = e.agg(max(col("day")).as("dend"))
    val firstPurch = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("day").as("pday"))
      .join(firstView, col("pu") === col("user_id"))
      .filter(col("pday") >= col("d0"))
      .groupBy(col("user_id")).agg(min(col("pday")).as("pd"))
    val subjects = firstView
      .join(firstPurch, Seq("user_id"), "left")
      .crossJoin(broadcast(obsEnd))
      .select(col("user_id"),
        when(col("pd").isNotNull, datediff(col("pd"), col("d0")))
          .otherwise(datediff(col("dend"), col("d0"))).cast("long").as("t"),
        col("pd").isNotNull.as("converted"))
    val byDay = subjects.groupBy(col("t"))
      .agg(sum(col("converted").cast("long")).as("d_conv"),
        sum((!col("converted")).cast("long")).as("d_cens"))
    // at-risk at t = subjects with time >= t (left the study strictly before t
    // no longer count): n_t = total − Σ_{s<t}(conv_s + cens_s)
    val tot = subjects.agg(count(lit(1)).as("nn"))
    val wd = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
    val curve = byDay
      .withColumn("left_before", coalesce(sum(col("d_conv") + col("d_cens")).over(wd), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("n_risk", col("nn") - col("left_before"))
      .withColumn("hazard_micro",
        floor(col("d_conv").cast("double") / col("n_risk").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("ln_term_micro",
        when(col("d_conv") < col("n_risk"),
          floor(log(lit(1.0) - col("d_conv").cast("double") / col("n_risk").cast("double")) *
            lit(1000000.0) + lit(0.5)).cast("long"))
          .otherwise(lit(null).cast("long")))
    val ws = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, 0)
    curve
      .withColumn("ln_surv_micro", sum(col("ln_term_micro")).over(ws))
      .select(col("t"), col("n_risk"), col("d_conv"), col("d_cens"),
        col("hazard_micro"), col("ln_surv_micro"))
      .orderBy(col("t"))
  }

  val q272Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day, event_type FROM events),
       |fv AS (SELECT user_id, MIN(day) AS d0 FROM e WHERE event_type = 'view'
       |       GROUP BY user_id),
       |oe AS (SELECT MAX(day) AS dend FROM e),
       |fp AS (
       |  SELECT e.user_id, MIN(e.day) AS pd
       |  FROM e JOIN fv ON fv.user_id = e.user_id
       |  WHERE e.event_type = 'purchase' AND e.day >= fv.d0
       |  GROUP BY e.user_id),
       |subjects AS (
       |  SELECT fv.user_id,
       |         CAST(CASE WHEN pd IS NOT NULL THEN datediff('day', d0, pd)
       |              ELSE datediff('day', d0, dend) END AS BIGINT) AS t,
       |         pd IS NOT NULL AS converted
       |  FROM fv LEFT JOIN fp ON fp.user_id = fv.user_id, oe),
       |by_day AS (
       |  SELECT t,
       |         CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS d_conv,
       |         CAST(SUM(CASE WHEN converted THEN 0 ELSE 1 END) AS BIGINT) AS d_cens
       |  FROM subjects GROUP BY t),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM subjects),
       |curve AS (
       |  SELECT t, d_conv, d_cens,
       |         nn - CAST(COALESCE(SUM(d_conv + d_cens) OVER (ORDER BY t
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |           AS n_risk
       |  FROM by_day, tot),
       |terms AS (
       |  SELECT t, n_risk, d_conv, d_cens,
       |         CAST(FLOOR(CAST(d_conv AS DOUBLE) / CAST(n_risk AS DOUBLE)
       |                * 1000000.0 + 0.5) AS BIGINT) AS hazard_micro,
       |         CASE WHEN d_conv < n_risk
       |              THEN CAST(FLOOR(LN(1.0 - CAST(d_conv AS DOUBLE)
       |                     / CAST(n_risk AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
       |              ELSE NULL END AS ln_term_micro
       |  FROM curve)
       |SELECT t, n_risk, d_conv, d_cens, hazard_micro,
       |       CAST(SUM(ln_term_micro) OVER (ORDER BY t
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |         AS ln_surv_micro
       |FROM terms ORDER BY t""".stripMargin

  val queries: Map[String, Q] = Map("q272_survival_km" -> q272SurvivalKm _)
  val oracles: Map[String, String] = Map("q272_survival_km" -> q272Sql)
}
