package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus concentration (q273): the exact Gini coefficient of token mass
  * across documents, per source — computed from the length histogram,
  * never from a corpus sort.
  */
object GiniOps extends QueryModule {
  /** q273 — Gini coefficient of document token mass per source: how
    * concentrated is a source's token budget in its longest documents?
    * (G = 0: every doc equal; → 1: one doc carries everything.) The
    * single-number companion of q265's Pareto curve and the metric a
    * mixture designer reads before trusting doc-count quotas.
    *
    * Exactness at scale: for sorted values x₍ᵢ₎, G = Σ(2i−n−1)xᵢ /
    * (n·Σx). Ranks never materialize — a tie block of count c and
    * value v starting above B smaller rows contributes
    * v·c·(2B + c − n) exactly (the arithmetic-series sum), so the
    * whole statistic folds over the per-source LENGTH HISTOGRAM
    * (bounded distinct values), exactly the q256/q259 trick. All
    * integers until one final division.
    */
  def q273Gini(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("len"))
    val hist = docs.groupBy(col("source"), col("len")).agg(count(lit(1)).as("c"))
    val wb = Window.partitionBy(col("source")).orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("len")).as("sx"))
    val terms = hist
      .withColumn("below", coalesce(sum(col("c")).over(wb), lit(0L)))
      .join(tot, "source")
      // tie-block contribution: v·c·(2B + c − n)
      .withColumn("num_term",
        col("len") * col("c") * (lit(2L) * col("below") + col("c") - col("n")))
    terms.groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"), max(col("sx")).as("n_tokens"),
        sum(col("num_term")).as("num"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        floor(col("num").cast("double") /
          (col("n_docs").cast("double") * col("n_tokens").cast("double")) *
          lit(1000000.0) + lit(0.5)).cast("long").as("gini_micro"))
      .orderBy(col("source"))
  }

  val q273Sql: String =
    s"""WITH docs AS (
       |  SELECT source, CAST(len(${tokensSql("text")}) AS BIGINT) AS len
       |  FROM documents),
       |hist AS (SELECT source, len, CAST(COUNT(*) AS BIGINT) AS c
       |         FROM docs GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       |               CAST(SUM(len) AS BIGINT) AS sx FROM docs GROUP BY 1),
       |terms AS (
       |  SELECT hist.source, n, sx,
       |         len * c * (2 * CAST(COALESCE(SUM(c) OVER (PARTITION BY hist.source
       |             ORDER BY len ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |             AS BIGINT) + c - n) AS num_term
       |  FROM hist JOIN tot ON tot.source = hist.source)
       |SELECT source, MAX(n) AS n_docs, MAX(sx) AS n_tokens,
       |       CAST(FLOOR(CAST(SUM(num_term) AS DOUBLE)
       |              / (CAST(MAX(n) AS DOUBLE) * CAST(MAX(sx) AS DOUBLE))
       |              * 1000000.0 + 0.5) AS BIGINT) AS gini_micro
       |FROM terms GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map("q273_gini" -> q273Gini _)
  val oracles: Map[String, String] = Map("q273_gini" -> q273Sql)
}
