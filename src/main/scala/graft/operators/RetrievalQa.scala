package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval- and index-QA operators: graded-relevance NDCG for the BM25
  * rankings and the IVF cell-balance audit.
  */
object RetrievalQa extends QueryModule {
  /** NDCG truncation depth. */
  val NdcgK = 10
  /** Rank-discount weights 1/log2(r+1), r = 1..K, as NANO-unit integer
    * literals computed once here — both engines then do pure integer
    * gain×weight arithmetic; no transcendental ever runs in-query. */
  val DiscountNano: Seq[(Int, Long)] = (1 to NdcgK).map(r =>
    r -> math.floor(1.0 / (math.log(r + 1.0) / math.log(2.0)) * 1e9 + 0.5).toLong)

  /** q263 — NDCG@10 of the q204 BM25 rankings under graded relevance
    * (gain = term frequency capped at 3): the metric that, unlike
    * q204's precision/recall/MRR, rewards putting the MOST relevant
    * docs first, not just any relevant ones. DCG divides by the ideal
    * ordering's DCG, so the score is comparable across query terms.
    * All arithmetic is integer: gains are capped counts, discounts are
    * nano-unit literals, both DCGs are exact integer dot products, and
    * one division ends it. Rankings ride the same bounded per-term
    * windows as q204.
    */
  def q263Ndcg(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(Retrieval.QueryTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val denom = col("tf") +
      lit(Retrieval.K1) * (lit(1.0 - Retrieval.B) +
        lit(Retrieval.B) * (col("dl").cast("double") / col("avgdl")))
    val scored = tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("s", idf * (col("tf") * lit(Retrieval.K1 + 1.0)) / denom)
      .withColumn("gain", least(col("tf").cast("long"), lit(3L)))
    val weights = s.createDataFrame(DiscountNano).toDF("r", "w_nano")
    val byScore = scored.withColumn("rnk", row_number().over(
      Window.partitionBy(col("term")).orderBy(col("s").desc, col("doc_id"))))
    val byGain = scored.withColumn("rnk", row_number().over(
      Window.partitionBy(col("term")).orderBy(col("gain").desc, col("doc_id"))))
    def dcg(ranked: DataFrame, out: String) = ranked
      .filter(col("rnk") <= NdcgK)
      .join(broadcast(weights), col("rnk") === col("r"))
      .groupBy(col("term"))
      .agg(sum(col("gain") * col("w_nano")).as(out))
    dcg(byScore, "dcg_nano").join(dcg(byGain, "idcg_nano"), "term")
      .select(col("term").as("query_term"), col("dcg_nano"), col("idcg_nano"),
        floor(col("dcg_nano").cast("double") / col("idcg_nano").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long").as("ndcg_micro"))
      .orderBy(col("query_term"))
  }

  val q263Sql: String = {
    val terms = Retrieval.QueryTerms.map(t => s"'$t'").mkString(", ")
    val weightRows = DiscountNano.map { case (r, w) => s"($r, ${w})" }.mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
       |st AS (SELECT count(*) AS n_docs,
       |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |tf AS (
       |  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
       |  WHERE term IN ($terms) GROUP BY doc_id, dl, term),
       |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.term, tf.doc_id,
       |         LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |                  / (CAST(df AS DOUBLE) + 0.5))
       |           * (tf * ${Retrieval.K1 + 1.0})
       |           / (tf + ${Retrieval.K1} * (${1.0 - Retrieval.B}
       |              + ${Retrieval.B} * (CAST(dl AS DOUBLE) / avgdl))) AS s,
       |         LEAST(CAST(tf AS BIGINT), 3) AS gain
       |  FROM tf JOIN dfr USING (term), st),
       |weights(r, w_nano) AS (VALUES $weightRows),
       |by_score AS (
       |  SELECT term, gain,
       |         ROW_NUMBER() OVER (PARTITION BY term ORDER BY s DESC, doc_id) AS rnk
       |  FROM scored),
       |by_gain AS (
       |  SELECT term, gain,
       |         ROW_NUMBER() OVER (PARTITION BY term ORDER BY gain DESC, doc_id) AS rnk
       |  FROM scored),
       |dcg AS (
       |  SELECT term, CAST(SUM(gain * w_nano) AS BIGINT) AS dcg_nano
       |  FROM by_score JOIN weights ON rnk = r WHERE rnk <= $NdcgK GROUP BY term),
       |idcg AS (
       |  SELECT term, CAST(SUM(gain * w_nano) AS BIGINT) AS idcg_nano
       |  FROM by_gain JOIN weights ON rnk = r WHERE rnk <= $NdcgK GROUP BY term)
       |SELECT dcg.term AS query_term, dcg_nano, idcg_nano,
       |       CAST(FLOOR(CAST(dcg_nano AS DOUBLE) / CAST(idcg_nano AS DOUBLE)
       |              * 1000000.0 + 0.5) AS BIGINT) AS ndcg_micro
       |FROM dcg JOIN idcg ON idcg.term = dcg.term
       |ORDER BY query_term""".stripMargin
  }

  /** q264 — IVF cell-balance audit of the q39 fixed quantizer: per-cell
    * population, share, and imbalance vs the uniform ideal. Skewed
    * cells are the ANN cost pathology (a hot cell makes every probe
    * expensive; q247's recall curve assumes balanced probes), and this
    * is the table that decides re-training the quantizer. One
    * assignment pass (broadcast centroids), one 16-row aggregate.
    */
  def q264CellBalance(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    import graft.functions.VectorExpressions.cosineF
    val e = Tables.embeddings(s, d)
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent"))
    val data = e.filter(col("vec_id") >= 16)
      .select(col("vec_id").as("vid"), col("embedding").as("ve"))
    val wv = Window.partitionBy(col("vid")).orderBy(col("cos").desc, col("centroid_id"))
    val assigned = data.join(broadcast(cents), lit(true))
      .withColumn("cos", cosineF("ve", "cent"))
      .withColumn("rnk", row_number().over(wv))
      .filter(col("rnk") === 1)
    val cells = assigned.groupBy(col("centroid_id").as("cell"))
      .agg(count(lit(1)).as("n_assigned"))
    val tot = cells.agg(sum(col("n_assigned")).as("nn"), count(lit(1)).as("k"))
    cells.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_assigned"),
        floor(col("n_assigned").cast("double") / col("nn").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long").as("share_micro"),
        floor(col("n_assigned").cast("double") * col("k").cast("double") /
          col("nn").cast("double") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("imbalance_micro"))
      .orderBy(col("cell"))
  }

  val q264Sql: String =
    s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cent
       |               FROM embeddings WHERE vec_id < 16),
       |data AS (SELECT vec_id AS vid, embedding AS ve FROM embeddings WHERE vec_id >= 16),
       |assigned AS (
       |  SELECT vid, cell FROM (
       |    SELECT vid, centroid_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY vid
       |        ORDER BY ${cosineSql("ve", "cent")} DESC, centroid_id) AS rnk
       |    FROM data CROSS JOIN cents)
       |  WHERE rnk = 1),
       |cells AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_assigned
       |          FROM assigned GROUP BY cell),
       |tot AS (SELECT CAST(SUM(n_assigned) AS BIGINT) AS nn,
       |               CAST(COUNT(*) AS BIGINT) AS k FROM cells)
       |SELECT cell, n_assigned,
       |       CAST(FLOOR(CAST(n_assigned AS DOUBLE) / CAST(nn AS DOUBLE)
       |              * 1000000.0 + 0.5) AS BIGINT) AS share_micro,
       |       CAST(FLOOR(CAST(n_assigned AS DOUBLE) * CAST(k AS DOUBLE)
       |              / CAST(nn AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
       |         AS imbalance_micro
       |FROM cells, tot ORDER BY cell""".stripMargin

  val queries: Map[String, Q] = Map(
    "q263_ndcg" -> q263Ndcg _,
    "q264_cell_balance" -> q264CellBalance _)

  val oracles: Map[String, String] = Map(
    "q263_ndcg" -> q263Sql,
    "q264_cell_balance" -> q264Sql)
}
