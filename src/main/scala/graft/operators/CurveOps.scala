package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Curation decision curves and split hygiene: the data-value (Pareto)
  * curve over quality bands, out-of-fold target encoding, and the
  * shuffle stratification audit.
  */
object CurveOps extends QueryModule {
  /** Quality bands of the q265 value curve. */
  val CurveBands = 10

  /** q265 — the data-value curve: documents banded by the q31 quality
    * score (equi-width over the observed range — no corpus sort), and
    * per band, from the best band down, the cumulative share of
    * documents and of tokens. This is the table behind every "train on
    * the top X%" decision: it shows how much token mass each quality
    * band actually buys. Scores are micro-quantized BEFORE banding so
    * both engines band identically; cumulative windows run over the
    * [[CurveBands]]-row band table.
    */
  def q265ValueCurve(s: SparkSession, d: String): DataFrame = {
    val stop = "'the','a','of','and','to','in'"
    val scored = Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tok", size(col("toks")).cast("double"))
      .withColumn("q", round(lit(0.4) * (size(array_distinct(col("toks"))) / col("n_tok")) +
        lit(0.3) * (lit(1.0) - expr(s"size(filter(toks, t -> t IN ($stop)))") / col("n_tok")) +
        lit(0.3) * least(
          (length(regexp_replace(col("text"), " ", "")) / col("n_tok")) / lit(8.0),
          lit(1.0)), 6))
      .select(col("doc_id"), col("n_tok").cast("long").as("nt"),
        floor(col("q") * lit(1000000.0) + lit(0.5)).cast("long").as("qm"))
    val bounds = scored.agg(min(col("qm")).as("lo"), max(col("qm")).as("hi"))
    val banded = scored.crossJoin(broadcast(bounds))
      .withColumn("band", least(lit(CurveBands - 1),
        expr(s"(qm - lo) * $CurveBands div (hi - lo + 1)")).cast("int"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val tot = banded.agg(sum(col("n_docs")).as("td"), sum(col("n_tokens")).as("tt"))
    val wd = Window.orderBy(col("band").desc).rowsBetween(Window.unboundedPreceding, 0)
    banded
      .withColumn("cum_docs", sum(col("n_docs")).over(wd))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wd))
      .crossJoin(broadcast(tot))
      .select(col("band").cast("long").as("band"), col("n_docs"), col("n_tokens"),
        floor(col("cum_docs").cast("double") / col("td").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long").as("cum_doc_share_micro"),
        floor(col("cum_tokens").cast("double") / col("tt").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long").as("cum_token_share_micro"))
      .orderBy(col("band").desc)
  }

  val q265Sql: String = {
    val toks = tokensSql("text")
    val stop = "'the','a','of','and','to','in'"
    s"""WITH t AS (SELECT doc_id, text, $toks AS toks,
       |  CAST(len($toks) AS DOUBLE) AS n_tok FROM documents),
       |scored AS (
       |  SELECT doc_id, CAST(n_tok AS BIGINT) AS nt,
       |    CAST(FLOOR(ROUND(0.4*(len(list_distinct(toks))/n_tok)
       |      + 0.3*(1.0 - len(list_filter(toks, x -> x IN ($stop)))/n_tok)
       |      + 0.3*LEAST((len(replace(text, ' ', ''))/n_tok)/8.0, 1.0), 6)
       |      * 1000000.0 + 0.5) AS BIGINT) AS qm
       |  FROM t),
       |b AS (SELECT MIN(qm) AS lo, MAX(qm) AS hi FROM scored),
       |banded AS (
       |  SELECT CAST(LEAST($CurveBands - 1, (qm - lo) * $CurveBands // (hi - lo + 1))
       |           AS INTEGER) AS band,
       |         CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(nt) AS BIGINT) AS n_tokens
       |  FROM scored, b GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
       |               CAST(SUM(n_tokens) AS BIGINT) AS tt FROM banded)
       |SELECT CAST(band AS BIGINT) AS band, n_docs, n_tokens,
       |       CAST(FLOOR(CAST(SUM(n_docs) OVER (ORDER BY band DESC
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |              / CAST(td AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
       |         AS cum_doc_share_micro,
       |       CAST(FLOOR(CAST(SUM(n_tokens) OVER (ORDER BY band DESC
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |              / CAST(tt AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
       |         AS cum_token_share_micro
       |FROM banded, tot ORDER BY band DESC""".stripMargin
  }

  /** q266 — out-of-fold target encoding: each row's category statistic
    * excludes its OWN FOLD entirely (enc = (S_cat − S_cat,fold + m·prior)
    * / (N_cat − N_cat,fold + m)), the cross-validation-safe variant that
    * closes the family opened by q224 (plain + leave-one-row-out): OOF
    * is what production CV pipelines actually use, because LOO still
    * leaks fold-level aggregates. Two nested aggregates — (cat) and
    * (cat, fold) — both bounded; one broadcast each; exact integers to
    * the one shared-order division.
    */
  def q266OofEncode(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey") * RankOps.FoldMix % P, lit(RankOps.Folds)).as("fold"),
        col("o_custkey").as("cat"),
        (col("o_orderpriority") === "1-URGENT").cast("long").as("y"))
    val catStats = o.groupBy(col("cat"))
      .agg(count(lit(1)).as("n_cat"), sum(col("y")).as("s_cat"))
    val foldStats = o.groupBy(col("cat"), col("fold"))
      .agg(count(lit(1)).as("n_cf"), sum(col("y")).as("s_cf"))
    val glob = o.agg(count(lit(1)).as("gn"), sum(col("y")).as("gs"))
    val prior = col("gs").cast("double") / col("gn").cast("double")
    val enc = ((col("s_cat") - col("s_cf")).cast("double") + lit(MlOps.EncM) * prior) /
      ((col("n_cat") - col("n_cf")).cast("double") + lit(MlOps.EncM))
    o.join(catStats, "cat").join(foldStats, Seq("cat", "fold"))
      .crossJoin(broadcast(glob))
      .select(col("o_orderkey"), col("cat"), col("fold"),
        floor(enc * lit(1000000.0) + lit(0.5)).cast("long").as("enc_oof_micro"))
      .orderBy(col("o_orderkey"))
  }

  val q266Sql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey,
       |         ((o_orderkey * ${RankOps.FoldMix} % $P) + $P) % $P % ${RankOps.Folds} AS fold,
       |         o_custkey AS cat,
       |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
       |  FROM orders),
       |cs AS (SELECT cat, CAST(COUNT(*) AS BIGINT) AS n_cat,
       |              CAST(SUM(y) AS BIGINT) AS s_cat FROM o GROUP BY cat),
       |fs AS (SELECT cat, fold, CAST(COUNT(*) AS BIGINT) AS n_cf,
       |              CAST(SUM(y) AS BIGINT) AS s_cf FROM o GROUP BY cat, fold),
       |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS gn, CAST(SUM(y) AS BIGINT) AS gs FROM o)
       |SELECT o_orderkey, cat, fold,
       |       CAST(FLOOR((CAST(s_cat - s_cf AS DOUBLE)
       |                + ${MlOps.EncM} * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)))
       |              / (CAST(n_cat - n_cf AS DOUBLE) + ${MlOps.EncM})
       |              * 1000000.0 + 0.5) AS BIGINT) AS enc_oof_micro
       |FROM o JOIN cs USING (cat) JOIN fs USING (cat, fold), g
       |ORDER BY o_orderkey""".stripMargin

  /** Shuffle-audit bucket count for q267. */
  val ShuffleBuckets = 64

  /** q267 — shuffle stratification audit: documents land in 64 buckets
    * by the id hash (the "shuffled shard" a training loader would read
    * sequentially); the audit is the bucket×lang χ² against the
    * corpus-wide language mix. A well-mixed shuffle shows only sampling
    * noise (χ² ≈ degrees of freedom); clumping — the SGD-hostile
    * failure where a shard is all one source — inflates it. Bounded
    * grid, exact cells, one shared-order division per cell (the q236
    * audit aimed at shards instead of folds).
    */
  def q267ShuffleAudit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(pmod(col("doc_id") * RankOps.FoldMix % P, lit(ShuffleBuckets)).as("bucket"),
        col("lang"))
    val cells = docs.groupBy(col("bucket"), col("lang")).agg(count(lit(1)).as("n"))
    val bTot = cells.groupBy(col("bucket")).agg(sum(col("n")).as("nb"))
    val lTot = cells.groupBy(col("lang")).agg(sum(col("n")).as("nl"))
    val tot = cells.agg(sum(col("n")).as("nn"))
    val expd = col("nb").cast("double") * col("nl").cast("double") / col("nn").cast("double")
    val chi = (col("n").cast("double") - expd) * (col("n").cast("double") - expd) / expd
    cells.join(broadcast(bTot), "bucket").join(broadcast(lTot), "lang")
      .crossJoin(broadcast(tot))
      .withColumn("chi2_nano", floor(chi * lit(1000000000.0) + lit(0.5)).cast("long"))
      .groupBy(col("bucket"))
      .agg(sum(col("n")).as("n_docs"), sum(col("chi2_nano")).as("chi2_nano"))
      .orderBy(col("bucket"))
  }

  val q267Sql: String =
    s"""WITH docs AS (
       |  SELECT ((doc_id * ${RankOps.FoldMix} % $P) + $P) % $P % $ShuffleBuckets AS bucket,
       |         lang
       |  FROM documents),
       |cells AS (SELECT bucket, lang, CAST(COUNT(*) AS BIGINT) AS n
       |          FROM docs GROUP BY 1, 2),
       |bt AS (SELECT bucket, CAST(SUM(n) AS BIGINT) AS nb FROM cells GROUP BY 1),
       |lt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS nl FROM cells GROUP BY 1),
       |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells)
       |SELECT bucket, CAST(SUM(n) AS BIGINT) AS n_docs,
       |       CAST(SUM(CAST(FLOOR((CAST(n AS DOUBLE)
       |               - CAST(nb AS DOUBLE) * CAST(nl AS DOUBLE) / CAST(nn AS DOUBLE))
       |              * (CAST(n AS DOUBLE)
       |               - CAST(nb AS DOUBLE) * CAST(nl AS DOUBLE) / CAST(nn AS DOUBLE))
       |              / (CAST(nb AS DOUBLE) * CAST(nl AS DOUBLE) / CAST(nn AS DOUBLE))
       |              * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS chi2_nano
       |FROM cells JOIN bt USING (bucket) JOIN lt USING (lang), tt
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  val queries: Map[String, Q] = Map(
    "q265_value_curve" -> q265ValueCurve _,
    "q266_oof_encode" -> q266OofEncode _,
    "q267_shuffle_audit" -> q267ShuffleAudit _)

  val oracles: Map[String, String] = Map(
    "q265_value_curve" -> q265Sql,
    "q266_oof_encode" -> q266Sql,
    "q267_shuffle_audit" -> q267Sql)
}
