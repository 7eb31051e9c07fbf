package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ranked retrieval over the documents corpus: BM25 scoring and exact
  * phrase search on a positional inverted index.
  *
  * Both are core training-data-pipeline operators (reference's corpus is
  * query-driven curation; retrieval is how a curation run targets a
  * topic): BM25 is the standard lexical ranking function, and positional
  * phrase search is the exact-match primitive used for targeted
  * decontamination ("find every document containing this benchmark
  * phrase") where bag-of-words containment (q86) over-matches.
  */
object Retrieval extends QueryModule {
  /** BM25 free parameters (the Robertson–Walker defaults). */
  val K1 = 1.2
  val B = 0.75

  /** Fixed query terms — present in every fixture generation's vocab. */
  val QueryTerms: Seq[String] = Seq("join", "vector", "spark")

  /** q185 — BM25 top-20 ranked retrieval for a fixed 3-term query.
    *
    * Plan shape, and why it holds at 100 TB: the corpus is touched by
    * exactly ONE wide scan (tokenize → dl per doc, plus the tf explode
    * filtered to the query terms *before* any shuffle — postings for 3
    * terms, not the full inverted index). The collection statistics the
    * formula needs are a 1-row aggregate (N, avgdl) and a |terms|-row df
    * relation, both broadcast; the per-(doc,term) score is then a pure
    * projection and the final per-doc sum groups on doc_id with map-side
    * partials. Top-20 is `orderBy.limit` → TakeOrderedAndProject
    * (per-partition heaps; no global sort).
    *
    * Determinism: idf and the tf saturation are a fixed sequence of IEEE
    * double ops written identically in both engines; the cross-term sum
    * uses [[Det.dsum]] fixed-point addition so partial aggregation
    * cannot reorder float adds; ties break on doc_id.
    */
  def q185Bm25(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(QueryTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val denom = col("tf") +
      lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl").cast("double") / col("avgdl")))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("s", idf * (col("tf") * lit(K1 + 1.0)) / denom)
      .groupBy(col("doc_id"))
      .agg(Det.dsum(col("s")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  val q185Sql: String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
       |st AS (SELECT count(*) AS n_docs,
       |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |tf AS (
       |  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
       |  WHERE term IN ($terms)
       |  GROUP BY doc_id, dl, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |sc AS (
       |  SELECT tf.doc_id,
       |         LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |                    / (CAST(df AS DOUBLE) + 0.5))
       |           * (tf * ${K1 + 1.0})
       |           / (tf + $K1 * (${1.0 - B} + $B * (CAST(dl AS DOUBLE) / avgdl)))
       |           AS s
       |  FROM tf JOIN df USING (term), st)
       |SELECT doc_id, ${Det.dsumSql("s")} AS score
       |FROM sc GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  /** Phrase to search for in q186 — two common vocab tokens. */
  val PhraseW1 = "join"
  val PhraseW2 = "hash"

  /** q186 — exact phrase-occurrence counting via a positional inverted
    * index ("join hash" as adjacent tokens).
    *
    * The scalable shape: posexplode builds (doc, position, token)
    * postings, the two term filters cut them to the QUERY terms' postings
    * only — each a tiny slice of the index — and adjacency is then an
    * equi-join on (doc_id, pos+1 = pos), shuffle bounded by the postings
    * of the rarer term, never by corpus size. This is how a phrase query
    * runs against a pre-materialized positional index at 100 TB; a
    * LIKE/regex scan (the naive plan) re-reads every byte of text per
    * query. The DuckDB oracle counts the same adjacent pairs directly on
    * the token arrays, proving index-based and scan-based answers agree.
    */
  def q186PhraseSearch(s: SparkSession, d: String): DataFrame = {
    val post = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val p1 = post.filter(col("tok") === PhraseW1)
      .select(col("doc_id"), col("pos"))
    val p2 = post.filter(col("tok") === PhraseW2)
      .select(col("doc_id").as("d2"), col("pos").as("pos2"))
    p1.join(p2, col("doc_id") === col("d2") && col("pos2") === col("pos") + 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
      .orderBy(col("doc_id"))
  }

  val q186Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
       |c AS (
       |  SELECT doc_id,
       |         CAST(len(list_filter(range(1, len(toks)),
       |           i -> toks[i] = '$PhraseW1' AND toks[i+1] = '$PhraseW2'))
       |           AS BIGINT) AS n_occ
       |  FROM t)
       |SELECT doc_id, n_occ FROM c WHERE n_occ > 0 ORDER BY doc_id""".stripMargin

  /** Relevance threshold for q204's planted judgments: tf ≥ 2. */
  val RelTf = 2.0

  /** q204 — retrieval quality evaluation (precision@10, recall@10,
    * reciprocal rank) of per-term BM25 rankings against a planted
    * relevance set.
    *
    * The harness side of the q185 retrieval tier: every ranking change
    * in a curation pipeline needs an eval readout, and the metrics
    * themselves must be deterministic or the eval is noise. Each of the
    * three query terms is run as a single-term BM25 query; a document is
    * "relevant" iff the term occurs ≥ [[RelTf]] times (a judgment
    * derivable on both engines — no human labels in the fixture).
    *
    * Scale shape: identical to q185 — postings are cut to the query
    * terms BEFORE any shuffle, collection stats are broadcast, and the
    * per-term ranking window partitions on the term (parallel across
    * queries; within one query the ranking is the per-query result set,
    * which is the thing being evaluated — never corpus-sized). Metrics
    * are one partial-aggregable groupBy over the postings. Ties and
    * floats: scores are the same IEEE sequence as q185 (hash-matched
    * there), ranking ties break on doc_id, and each metric ends in a
    * single double division so cross-engine bit parity holds with no
    * fixed-point machinery.
    */
  def q204RetrievalEval(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(QueryTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val denom = col("tf") +
      lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl").cast("double") / col("avgdl")))
    val scored = tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("s", idf * (col("tf") * lit(K1 + 1.0)) / denom)
      .withColumn("rel", col("tf") >= lit(RelTf))
    val w = Window.partitionBy(col("term")).orderBy(col("s").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w))
      .groupBy(col("term").as("query_term"))
      .agg(
        sum(when(col("rel"), 1L).otherwise(0L)).as("n_rel"),
        sum(when(col("rel") && col("rnk") <= 10, 1L).otherwise(0L)).as("hits10"),
        min(when(col("rel"), col("rnk"))).as("first_rel"))
      .select(
        col("query_term"), col("n_rel"), col("hits10"),
        (col("hits10").cast("double") / lit(10.0)).as("precision10"),
        when(col("n_rel") > 0,
          col("hits10").cast("double") / col("n_rel").cast("double"))
          .otherwise(lit(0.0)).as("recall10"),
        when(col("first_rel").isNotNull,
          lit(1.0) / col("first_rel").cast("double"))
          .otherwise(lit(0.0)).as("rr"))
      .orderBy(col("query_term"))
  }

  val q204Sql: String = {
    val terms = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
       |st AS (SELECT count(*) AS n_docs,
       |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |tf AS (
       |  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
       |  WHERE term IN ($terms)
       |  GROUP BY doc_id, dl, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |sc AS (
       |  SELECT tf.doc_id, tf.term,
       |         LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |                    / (CAST(df AS DOUBLE) + 0.5))
       |           * (tf * ${K1 + 1.0})
       |           / (tf + $K1 * (${1.0 - B} + $B * (CAST(dl AS DOUBLE) / avgdl)))
       |           AS s,
       |         tf >= $RelTf AS rel
       |  FROM tf JOIN df USING (term), st),
       |rk AS (
       |  SELECT term, rel,
       |         ROW_NUMBER() OVER (PARTITION BY term ORDER BY s DESC, doc_id) AS rnk
       |  FROM sc),
       |m AS (
       |  SELECT term AS query_term,
       |         CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
       |         CAST(SUM(CASE WHEN rel AND rnk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits10,
       |         MIN(CASE WHEN rel THEN rnk END) AS first_rel
       |  FROM rk GROUP BY term)
       |SELECT query_term, n_rel, hits10,
       |       CAST(hits10 AS DOUBLE) / 10.0 AS precision10,
       |       CASE WHEN n_rel > 0
       |            THEN CAST(hits10 AS DOUBLE) / CAST(n_rel AS DOUBLE)
       |            ELSE 0.0 END AS recall10,
       |       CASE WHEN first_rel IS NOT NULL
       |            THEN 1.0 / CAST(first_rel AS DOUBLE)
       |            ELSE 0.0 END AS rr
       |FROM m ORDER BY query_term""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q185_bm25" -> q185Bm25 _,
    "q186_phrase_search" -> q186PhraseSearch _,
    "q204_retrieval_eval" -> q204RetrievalEval _)

  val oracles: Map[String, String] = Map(
    "q185_bm25" -> q185Sql,
    "q186_phrase_search" -> q186Sql,
    "q204_retrieval_eval" -> q204Sql)
}
