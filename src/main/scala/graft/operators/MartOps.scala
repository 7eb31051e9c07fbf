package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mart-style composition operators: the per-source corpus scorecard,
  * a Markov next-event baseline with held-out accuracy, and histogram
  * quantile normalization of document lengths.
  */
object MartOps extends QueryModule {
  /** q252 — the per-source corpus scorecard: one row per source with the
    * metrics a dataset card publishes — volume (docs, tokens), mean
    * length, exact-duplicate ratio, language-mix entropy, and a
    * short-doc flag rate. The "gold mart" composition pattern: five
    * independent partial-aggregable aggregates over one scan family,
    * joined on the bounded source key. Entropy terms use the micro-
    * rounded ln (libm discipline); every share is exact-integer until
    * its one division.
    */
  def q252SourceScorecard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        size(tokens(col("text"))).cast("long").as("len"))
      .persist()
    val vol = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_tokens"),
        sum((col("len") < 30).cast("long")).as("n_short"))
    val dup = docs.groupBy(col("source"), col("text")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("tot"), count(lit(1)).as("uniq"))
      .select(col("source"), (col("tot") - col("uniq")).as("n_exact_dups"))
    val langEnt = docs.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("cl"))
      .withColumn("nl", sum(col("cl")).over(Window.partitionBy(col("source"))))
      .withColumn("pl", col("cl").cast("double") / col("nl").cast("double"))
      .withColumn("term_nano",
        -floor(col("pl") * (floor(log(col("pl")) * lit(1000000.0) + lit(0.5)) /
          lit(1000000.0)) * lit(1000000000.0) + lit(0.5)).cast("long"))
      .groupBy(col("source")).agg(sum(col("term_nano")).as("lang_entropy_nano"))
    vol.join(dup, "source").join(langEnt, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        floor(col("n_tokens").cast("double") / col("n_docs").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long").as("mean_len_micro"),
        col("n_exact_dups"),
        floor(col("n_short").cast("double") / col("n_docs").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long").as("short_rate_micro"),
        col("lang_entropy_nano"))
      .orderBy(col("source"))
  }

  val q252Sql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, source, lang, text,
       |         CAST(len(${tokensSql("text")}) AS BIGINT) AS len
       |  FROM documents),
       |vol AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(len) AS BIGINT) AS n_tokens,
       |         CAST(SUM(CASE WHEN len < 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
       |  FROM docs GROUP BY 1),
       |dup AS (
       |  SELECT source, CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_exact_dups FROM
       |    (SELECT source, text, COUNT(*) AS c FROM docs GROUP BY 1, 2)
       |  GROUP BY 1),
       |le AS (
       |  SELECT source,
       |         CAST(SUM(-FLOOR(pl * (FLOOR(LN(pl) * 1000000.0 + 0.5) / 1000000.0)
       |           * 1000000000.0 + 0.5)) AS BIGINT) AS lang_entropy_nano
       |  FROM (
       |    SELECT source,
       |           CAST(cl AS DOUBLE) / CAST(SUM(cl) OVER (PARTITION BY source) AS DOUBLE)
       |             AS pl
       |    FROM (SELECT source, lang, COUNT(*) AS cl FROM docs GROUP BY 1, 2))
       |  GROUP BY 1)
       |SELECT vol.source, n_docs, n_tokens,
       |       CAST(FLOOR(CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |              * 1000000.0 + 0.5) AS BIGINT) AS mean_len_micro,
       |       n_exact_dups,
       |       CAST(FLOOR(CAST(n_short AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |              * 1000000.0 + 0.5) AS BIGINT) AS short_rate_micro,
       |       lang_entropy_nano
       |FROM vol JOIN dup ON dup.source = vol.source
       |         JOIN le ON le.source = vol.source
       |ORDER BY vol.source""".stripMargin

  /** q253 — Markov next-event baseline: first-order transition counts
    * fitted on the 4/5 user hash split; held-out users' transitions are
    * predicted as argmax P(next | current) and scored. The behavioral
    * twin of q226's Naive Bayes — the baseline every sequence model must
    * beat, with exact integer counts end to end. The model is the
    * |event_types|² transition table (broadcast however large the event
    * log); per-user ordering comes from the bounded per-user window.
    */
  def q253MarkovAccuracy(s: SparkSession, d: String): DataFrame = {
    val wp = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("cur"),
        (pmod(col("user_id"), lit(5)) === 0).as("is_test"))
      .withColumn("nxt", lead(col("cur"), 1).over(wp))
      .filter(col("nxt").isNotNull)
      .persist()
    val model = trans.filter(!col("is_test"))
      .groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("c"))
    val wb = Window.partitionBy(col("cur")).orderBy(col("c").desc, col("nxt"))
    val best = model.withColumn("rn", row_number().over(wb))
      .filter(col("rn") === 1)
      .select(col("cur"), col("nxt").as("pred"))
    trans.filter(col("is_test"))
      .join(broadcast(best), Seq("cur"), "left")
      .groupBy(col("cur"))
      .agg(count(lit(1)).as("n"),
        // coalesce per row: an event type seen only in the test split has
        // pred = NULL, and sum(NULL·n) would surface NULL where the
        // oracle's CASE ... ELSE 0 yields 0 (ADVICE r7 #1)
        sum(coalesce((col("nxt") === col("pred")).cast("long"), lit(0L))).as("n_correct"))
      .withColumn("acc_micro",
        floor(col("n_correct").cast("double") / col("n").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long"))
      .orderBy(col("cur"))
  }

  val q253Sql: String =
    s"""WITH trans AS (
       |  SELECT user_id, event_type AS cur,
       |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt,
       |         (user_id % 5 = 0) AS is_test
       |  FROM events),
       |t AS (SELECT * FROM trans WHERE nxt IS NOT NULL),
       |model AS (
       |  SELECT cur, nxt, COUNT(*) AS c FROM t WHERE NOT is_test GROUP BY 1, 2),
       |best AS (
       |  SELECT cur, nxt AS pred FROM (
       |    SELECT cur, nxt, ROW_NUMBER() OVER (PARTITION BY cur ORDER BY c DESC, nxt) AS rn
       |    FROM model)
       |  WHERE rn = 1)
       |SELECT cur, CAST(COUNT(*) AS BIGINT) AS n,
       |       CAST(SUM(CASE WHEN nxt = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |       CAST(FLOOR(CAST(SUM(CASE WHEN nxt = pred THEN 1 ELSE 0 END) AS DOUBLE)
       |              / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS acc_micro
       |FROM t LEFT JOIN best USING (cur)
       |WHERE is_test GROUP BY cur ORDER BY cur""".stripMargin

  /** Histogram bins for the q254 quantile-normalization lookup. */
  val QnBins = 64

  /** q254 — histogram quantile normalization: every document's length is
    * mapped to its step-CDF position within its source AND globally —
    * the cross-source normalizer (microarray quantile normalization /
    * feature calibration) that makes "long for its source" comparable
    * across sources with different length regimes. No per-source sort:
    * both CDFs come from [[QnBins]]-bin histograms (exact integer
    * cumulative counts over a broadcast-sized bin×source grid), so the
    * per-doc step is one broadcast lookup — the 100 TB shape for any
    * rank-normalization.
    */
  def q254QuantileNorm(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), size(tokens(col("text"))).cast("long").as("len"))
      .persist()
    val bounds = docs.agg(min(col("len")).as("lo"), max(col("len")).as("hi"))
    val binned = docs.crossJoin(broadcast(bounds))
      .withColumn("bin", least(lit(QnBins - 1),
        expr(s"(len - lo) * $QnBins div (hi - lo + 1)")).cast("int"))
    val srcHist = binned.groupBy(col("source"), col("bin")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("source")).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("ns", sum(col("c")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("bin"),
        floor(col("cum").cast("double") / col("ns").cast("double") * lit(1000000.0) +
          lit(0.5)).cast("long").as("src_cdf_micro"))
    val globHist = binned.groupBy(col("bin")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
      .select(col("bin"),
        floor(col("cum").cast("double") / col("n").cast("double") * lit(1000000.0) +
          lit(0.5)).cast("long").as("glob_cdf_micro"))
    binned.select(col("doc_id"), col("source"), col("len"), col("bin"))
      .join(broadcast(srcHist), Seq("source", "bin"))
      .join(broadcast(globHist), Seq("bin"))
      .select(col("doc_id"), col("source"), col("len"),
        col("src_cdf_micro"), col("glob_cdf_micro"))
      .orderBy(col("doc_id"))
  }

  val q254Sql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, source, CAST(len(${tokensSql("text")}) AS BIGINT) AS len
       |  FROM documents),
       |b AS (SELECT MIN(len) AS lo, MAX(len) AS hi FROM docs),
       |binned AS (
       |  SELECT doc_id, source, len,
       |         CAST(LEAST($QnBins - 1, (len - lo) * $QnBins // (hi - lo + 1)) AS INTEGER)
       |           AS bin
       |  FROM docs, b),
       |src_hist AS (
       |  SELECT source, bin,
       |         CAST(FLOOR(CAST(SUM(COUNT(*)) OVER (PARTITION BY source ORDER BY bin
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |               / CAST(SUM(COUNT(*)) OVER (PARTITION BY source) AS DOUBLE)
       |               * 1000000.0 + 0.5) AS BIGINT) AS src_cdf_micro
       |  FROM binned GROUP BY source, bin),
       |glob_hist AS (
       |  SELECT bin,
       |         CAST(FLOOR(CAST(SUM(COUNT(*)) OVER (ORDER BY bin
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |               / CAST(SUM(COUNT(*)) OVER () AS DOUBLE)
       |               * 1000000.0 + 0.5) AS BIGINT) AS glob_cdf_micro
       |  FROM binned GROUP BY bin)
       |SELECT doc_id, binned.source, len, src_cdf_micro, glob_cdf_micro
       |FROM binned
       |JOIN src_hist ON src_hist.source = binned.source AND src_hist.bin = binned.bin
       |JOIN glob_hist ON glob_hist.bin = binned.bin
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q252_source_scorecard" -> q252SourceScorecard _,
    "q253_markov_accuracy" -> q253MarkovAccuracy _,
    "q254_quantile_norm" -> q254QuantileNorm _)

  val oracles: Map[String, String] = Map(
    "q252_source_scorecard" -> q252Sql,
    "q253_markov_accuracy" -> q253Sql,
    "q254_quantile_norm" -> q254Sql)
}
