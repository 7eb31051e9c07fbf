package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Monitoring and detector-QA operators: Wald's sequential probability
  * ratio test over an experiment stream, capture–recapture estimation of
  * the near-dup population two detectors jointly miss, the ROC table of
  * the target-encoder score, and operating-threshold selection.
  */
object MonitorOps extends QueryModule {
  /** SPRT hypotheses and (α, β)=(.05,.05) decision boundaries for q257.
    * The four log terms are micro-unit LITERALS computed once here, so
    * both engines accumulate identical integers. */
  val SprtP0 = 0.20
  val SprtP1 = 0.25
  val LnUpMicro: Long = math.floor(math.log(0.95 / 0.05) * 1e6 + 0.5).toLong
  val LnLoMicro: Long = math.floor(math.log(0.05 / 0.95) * 1e6 + 0.5).toLong
  val LnPosMicro: Long = math.floor(math.log(SprtP1 / SprtP0) * 1e6 + 0.5).toLong
  val LnNegMicro: Long = math.floor(math.log((1 - SprtP1) / (1 - SprtP0)) * 1e6 + 0.5).toLong

  /** q257 — Wald SPRT monitoring of an A/B experiment: users hash into
    * two arms; each arm's daily purchase/non-purchase counts accumulate
    * the log-likelihood ratio for H1 (p = .25) against H0 (p = .20), and
    * every day reports the running LLR plus the sequential decision
    * (accept/reject/continue at α = β = .05). This is the always-valid
    * alternative to the fixed-horizon test in q131's A/B readout — the
    * monitor a long-running experiment pipeline actually runs daily.
    * The LLR increments are integer counts × micro-unit literal logs —
    * exact integers end to end; the per-arm day series is bounded, so
    * the cumulative window is too.
    */
  def q257Sprt(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(pmod(col("user_id") * RankOps.FoldMix % P, lit(2)).as("arm"),
        col("ts").cast("date").as("day"),
        (col("event_type") === "purchase").cast("long").as("is_purch"))
    val daily = e.groupBy(col("arm"), col("day"))
      .agg(sum(col("is_purch")).as("n_pos"),
        sum(lit(1) - col("is_purch")).as("n_neg"))
    val wc = Window.partitionBy(col("arm")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("llr_micro",
        sum(col("n_pos") * LnPosMicro + col("n_neg") * LnNegMicro).over(wc))
      .withColumn("decision",
        when(col("llr_micro") >= LnUpMicro, "accept_h1")
          .when(col("llr_micro") <= LnLoMicro, "accept_h0")
          .otherwise("continue"))
      .select(col("arm"), col("day"), col("n_pos"), col("n_neg"),
        col("llr_micro"), col("decision"))
      .orderBy(col("arm"), col("day"))
  }

  val q257Sql: String =
    s"""WITH e AS (
       |  SELECT ((user_id * ${RankOps.FoldMix} % $P) + $P) % $P % 2 AS arm,
       |         CAST(ts AS DATE) AS day,
       |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purch
       |  FROM events),
       |daily AS (
       |  SELECT arm, day, CAST(SUM(is_purch) AS BIGINT) AS n_pos,
       |         CAST(SUM(1 - is_purch) AS BIGINT) AS n_neg
       |  FROM e GROUP BY 1, 2),
       |cum AS (
       |  SELECT arm, day, n_pos, n_neg,
       |         CAST(SUM(n_pos * $LnPosMicro + n_neg * $LnNegMicro)
       |           OVER (PARTITION BY arm ORDER BY day
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           AS llr_micro
       |  FROM daily)
       |SELECT arm, day, n_pos, n_neg, llr_micro,
       |       CASE WHEN llr_micro >= $LnUpMicro THEN 'accept_h1'
       |            WHEN llr_micro <= $LnLoMicro THEN 'accept_h0'
       |            ELSE 'continue' END AS decision
       |FROM cum ORDER BY arm, day""".stripMargin

  /** q258 — capture–recapture estimation of the true near-dup pair
    * population: the LSH detector (q35's verified jac ≥ 0.5 pairs) and
    * the SimHash detector (q36's exact 30-bit collisions) each "capture"
    * a sample of the unknown duplicate population; the Chapman estimator
    * N̂ = (n1+1)(n2+1)/(m+1) − 1 over their overlap m estimates how many
    * pairs exist INCLUDING those both miss — dedup recall QA with no
    * ground truth, the same way ecologists count fish. Both pair sets
    * are the bounded candidate machineries already in production; the
    * overlap is one join on the pair key.
    */
  def q258CaptureRecapture(s: SparkSession, d: String): DataFrame = {
    // ONE dictionary-encode pass feeds both detectors (before, the
    // tok/dict subtree was built twice — once inside q35's LSH, once for
    // the SimHash signatures; §2.4), and both pair sets are PERSISTED:
    // each is read twice (its own count + the overlap join), and without
    // the persist the n1 and m aggregates re-ran the whole LSH verify —
    // and n2/m the whole SimHash self-join — from scratch.
    val th = Lsh.tokenHashes(Tables.documents(s, d)).persist()
    // detector 1: LSH + exact-verify pairs (q35 body)
    val sh0 = Lsh.shingles(th)
    val p1 = Lsh.verifiedPairs(Lsh.signatures(Lsh.dropHot(sh0, Lsh.hot(sh0))).persist())
      .select(col("da"), col("db")).persist()
    // detector 2: SimHash 30-bit exact-collision pairs (q36 semantics)
    val sigs = th
      .groupBy(col("doc_id")).agg(collect_list(col("h")).as("ths"))
      .select(col("doc_id"), graft.functions.Portable.simHash("ths").as("sig"))
    val p2 = sigs.as("a").join(sigs.as("b"),
        col("a.sig") === col("b.sig") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).persist()
    val n1 = p1.agg(count(lit(1)).as("n1"))
    val n2 = p2.agg(count(lit(1)).as("n2"))
    val m = p1.join(p2, Seq("da", "db"), "left_semi").agg(count(lit(1)).as("m"))
    val est = ((col("n1") + 1).cast("double") * (col("n2") + 1).cast("double") /
      (col("m") + 1).cast("double")) - lit(1.0)
    n1.crossJoin(n2).crossJoin(m)
      .select(col("n1"), col("n2"), col("m"),
        floor(est * lit(1000000.0) + lit(0.5)).cast("long").as("est_total_micro"),
        when(est > 0,
          floor(col("n1").cast("double") / est * lit(1000000.0) + lit(0.5)).cast("long"))
          .otherwise(lit(null).cast("long")).as("recall1_micro"))
  }

  val q258Sql: String = {
    val th = tokenHashesSql(tokensSql("text"))
    s"""WITH RECURSIVE ${TextOps.lshCandidateCtes},
       |p1 AS (SELECT da, db FROM cand WHERE ${TextOps.lshJacExpr} >= 0.5),
       |sh AS (SELECT doc_id, ${simHashSql(th)} AS sig FROM documents),
       |p2 AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db
       |  FROM sh a JOIN sh b ON a.sig = b.sig AND a.doc_id < b.doc_id),
       |c1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM p1),
       |c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n2 FROM p2),
       |cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM p1 JOIN p2 USING (da, db))
       |SELECT n1, n2, m,
       |       CAST(FLOOR((CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
       |              / CAST(m + 1 AS DOUBLE) - 1.0) * 1000000.0 + 0.5) AS BIGINT)
       |         AS est_total_micro,
       |       CASE WHEN CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
       |                 / CAST(m + 1 AS DOUBLE) - 1.0 > 0
       |            THEN CAST(FLOOR(CAST(n1 AS DOUBLE)
       |                   / (CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
       |                      / CAST(m + 1 AS DOUBLE) - 1.0)
       |                   * 1000000.0 + 0.5) AS BIGINT)
       |            ELSE NULL END AS recall1_micro
       |FROM c1, c2, cm""".stripMargin
  }

  /** q259 — the ROC table of the per-customer encoder score (q256's
    * input): one row per distinct score value v with TPR/FPR of the
    * "predict urgent if score ≥ v" rule. The cumulative windows run
    * over the encoder's bounded value space (q256's argument), never
    * over rows, so the full ROC of a 10¹⁰-row scored corpus is a
    * |distinct-scores|-row computation.
    */
  def q259Roc(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_custkey").as("cat"),
        (col("o_orderpriority") === "1-URGENT").cast("long").as("y"))
    val stats = o.groupBy(col("cat"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("ss"))
    val glob = o.agg(count(lit(1)).as("gn"), sum(col("y")).as("gs"))
    val prior = col("gs").cast("double") / col("gn").cast("double")
    val pMicro = floor((col("ss").cast("double") + lit(MlOps.EncM) * prior) /
      (col("n").cast("double") + lit(MlOps.EncM)) * lit(1000000.0) + lit(0.5)).cast("long")
    val hist = o.join(stats, "cat").crossJoin(broadcast(glob))
      .select(col("y"), pMicro.as("v"))
      .groupBy(col("v")).agg(sum(col("y")).as("pos"), sum(lit(1) - col("y")).as("neg"))
    val wd = Window.orderBy(col("v").desc).rowsBetween(Window.unboundedPreceding, 0)
    val tot = hist.agg(sum(col("pos")).as("np"), sum(col("neg")).as("nn"))
    hist
      .withColumn("pos_ge", sum(col("pos")).over(wd))
      .withColumn("neg_ge", sum(col("neg")).over(wd))
      .crossJoin(broadcast(tot))
      .select(col("v"), col("pos_ge"), col("neg_ge"),
        floor(col("pos_ge").cast("double") / col("np").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long").as("tpr_micro"),
        floor(col("neg_ge").cast("double") / col("nn").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long").as("fpr_micro"))
      .orderBy(col("v").desc)
  }

  private val rocCtes: String =
    s"""o AS (
       |  SELECT o_custkey AS cat,
       |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
       |  FROM orders),
       |stats AS (SELECT cat, CAST(COUNT(*) AS BIGINT) AS n,
       |                 CAST(SUM(y) AS BIGINT) AS ss FROM o GROUP BY cat),
       |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS gn, CAST(SUM(y) AS BIGINT) AS gs FROM o),
       |hist AS (
       |  SELECT v, CAST(SUM(y) AS BIGINT) AS pos, CAST(SUM(1 - y) AS BIGINT) AS neg
       |  FROM (SELECT y,
       |          CAST(FLOOR((CAST(ss AS DOUBLE) + ${MlOps.EncM} * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)))
       |                 / (CAST(n AS DOUBLE) + ${MlOps.EncM}) * 1000000.0 + 0.5) AS BIGINT) AS v
       |        FROM o JOIN stats USING (cat), g)
       |  GROUP BY v),
       |tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS np, CAST(SUM(neg) AS BIGINT) AS nn FROM hist),
       |roc AS (
       |  SELECT v,
       |         CAST(SUM(pos) OVER (ORDER BY v DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pos_ge,
       |         CAST(SUM(neg) OVER (ORDER BY v DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS neg_ge
       |  FROM hist)""".stripMargin

  val q259Sql: String =
    s"""WITH $rocCtes
       |SELECT v, pos_ge, neg_ge,
       |       CAST(FLOOR(CAST(pos_ge AS DOUBLE) / CAST(np AS DOUBLE)
       |              * 1000000.0 + 0.5) AS BIGINT) AS tpr_micro,
       |       CAST(FLOOR(CAST(neg_ge AS DOUBLE) / CAST(nn AS DOUBLE)
       |              * 1000000.0 + 0.5) AS BIGINT) AS fpr_micro
       |FROM roc, tot ORDER BY v DESC""".stripMargin

  /** q260 — operating-threshold selection over the q259 ROC: the
    * Youden-J-optimal threshold (max TPR − FPR) and the F1-optimal one,
    * each as one row. Selection is an orderBy+limit over the bounded
    * score table (TakeOrderedAndProject, the q12/q151 discipline);
    * deterministic ties break toward the higher threshold.
    */
  def q260Threshold(s: SparkSession, d: String): DataFrame = {
    val roc = q259Roc(s, d)
      .withColumn("j_micro", col("tpr_micro") - col("fpr_micro"))
      .withColumn("f1_micro",
        floor(lit(2.0) * col("pos_ge").cast("double") /
          (lit(2.0) * col("pos_ge").cast("double") + col("neg_ge").cast("double") +
            (max(col("pos_ge")).over(Window.orderBy(col("v").asc)
              .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)) -
              col("pos_ge")).cast("double")) * lit(1000000.0) + lit(0.5)).cast("long"))
    val best = (crit: String, key: org.apache.spark.sql.Column) =>
      roc.orderBy(key.desc, col("v").desc).limit(1)
        .select(lit(crit).as("criterion"), col("v"), col("j_micro"), col("f1_micro"))
    best("youden_j", col("j_micro")).unionAll(best("f1", col("f1_micro")))
      .orderBy(col("criterion"))
  }

  val q260Sql: String =
    s"""WITH $rocCtes,
       |scoredroc AS (
       |  SELECT v, pos_ge, neg_ge,
       |         CAST(FLOOR(CAST(pos_ge AS DOUBLE) / CAST(np AS DOUBLE)
       |                * 1000000.0 + 0.5) AS BIGINT)
       |         - CAST(FLOOR(CAST(neg_ge AS DOUBLE) / CAST(nn AS DOUBLE)
       |                * 1000000.0 + 0.5) AS BIGINT) AS j_micro,
       |         CAST(FLOOR(2.0 * CAST(pos_ge AS DOUBLE)
       |                / (2.0 * CAST(pos_ge AS DOUBLE) + CAST(neg_ge AS DOUBLE)
       |                   + CAST(np - pos_ge AS DOUBLE))
       |                * 1000000.0 + 0.5) AS BIGINT) AS f1_micro
       |  FROM roc, tot),
       |bj AS (SELECT 'youden_j' AS criterion, v, j_micro, f1_micro FROM scoredroc
       |       ORDER BY j_micro DESC, v DESC LIMIT 1),
       |bf AS (SELECT 'f1' AS criterion, v, j_micro, f1_micro FROM scoredroc
       |       ORDER BY f1_micro DESC, v DESC LIMIT 1)
       |SELECT * FROM bj UNION ALL SELECT * FROM bf ORDER BY criterion""".stripMargin

  val queries: Map[String, Q] = Map(
    "q257_sprt" -> q257Sprt _,
    "q258_capture_recapture" -> q258CaptureRecapture _,
    "q259_roc" -> q259Roc _,
    "q260_threshold" -> q260Threshold _)

  val oracles: Map[String, String] = Map(
    "q257_sprt" -> q257Sql,
    "q258_capture_recapture" -> q258Sql,
    "q259_roc" -> q259Sql,
    "q260_threshold" -> q260Sql)
}
