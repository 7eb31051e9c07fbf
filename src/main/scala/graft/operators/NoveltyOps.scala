package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-evolution operators: per-document n-gram novelty, kNN-graph
  * degree assortativity, deterministic token-dropout augmentation, and
  * the Heaps-law vocabulary growth curve. All integer arithmetic to the
  * last division.
  */
object NoveltyOps extends QueryModule {
  /** q237 — n-gram novelty scoring: for each document (in doc_id ingest
    * order), the fraction of its distinct 8-grams appearing for the
    * FIRST time in the corpus — the memorization/novelty signal used to
    * spot boilerplate floods and template farms (a novelty collapse in
    * a crawl snapshot) and to prioritize genuinely-new data.
    *
    * First occurrence is a min-aggregate over the gram table (partial-
    * aggregable, no window over the corpus); grams come from the
    * dict-encoded lead-window pipeline (the q86/q229 shape). Nothing
    * here depends on corpus order except the min itself, which is the
    * semantics.
    */
  def q237Novelty(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val dict = tok.select(col("tok")).distinct().withColumn("h", polyHash(col("tok")))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val withLeads = (1 until Curation.ContamK).foldLeft(tok.join(broadcast(dict), "tok")) {
      (df, i) => df.withColumn(s"h$i", lead(col("h"), i).over(wp))
    }
    val gramExpr = (1 until Curation.ContamK).foldLeft(col("h")) {
      (acc, i) => (acc * 31 + col(s"h$i")) % P
    }
    val grams = withLeads
      .filter(col(s"h${Curation.ContamK - 1}").isNotNull)
      .select(col("doc_id"), gramExpr.as("g"))
      .distinct()
      .persist()
    val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("first_doc") === col("doc_id")).cast("long")).as("n_novel"))
      .withColumn("novelty_micro",
        floor(col("n_novel").cast("double") / col("n_grams").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long"))
      .orderBy(col("doc_id"))
  }

  val q237Sql: String = {
    val grams = kgramHashesSql(tokenHashesSql(tokensSql("text")), Curation.ContamK)
    s"""WITH g AS (
       |  SELECT doc_id, unnest($grams) AS g FROM documents),
       |first AS (SELECT g, MIN(doc_id) AS first_doc FROM g GROUP BY g)
       |SELECT doc_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_grams,
       |       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_novel,
       |       CAST(FLOOR(CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
       |              / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
       |         AS novelty_micro
       |FROM g JOIN first USING (g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** q238 — degree assortativity of the q162 co-purchase kNN graph
    * (Newman's r): do high-degree items link to high-degree items? The
    * one-number topology summary that flags hub-and-spoke recommender
    * graphs (strongly negative r) before they skew downstream sampling.
    *
    * All five edge-level sums (M, Σjk, Σ(j+k), Σ(j²+k²)) are exact
    * integers from two degree joins over the symmetrized edge set; r is
    * one shared-order double expression at the end. The edge build is
    * q162's (basket-capped, kNN-sparsified: |E| ≤ k·|V| by
    * construction), so every aggregate here is bounded by the same
    * argument.
    */
  def q238Assortativity(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    val keep = e.groupBy(col("c")).agg(count(lit(1)).as("nb"))
      .filter(col("nb") <= Recsys.BasketCap)
      .select(col("c"))
    val ec = e.join(keep, "c").persist()
    val deg = ec.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val co = ec.select(col("c"), col("s").as("s1"))
      .join(ec.select(col("c"), col("s").as("s2")), "c")
      .filter(col("s1") =!= col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("co"))
    val sim = co
      .join(deg.select(col("s").as("s1"), col("deg").as("d1")), "s1")
      .join(deg.select(col("s").as("s2"), col("deg").as("d2")), "s2")
      .withColumn("cos", col("co") / sqrt(col("d1") * col("d2")))
    val w = Window.partitionBy(col("s1")).orderBy(col("cos").desc, col("s2"))
    val edges = sim.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= Recsys.TopK)
      .select(least(col("s1"), col("s2")).as("a"),
        greatest(col("s1"), col("s2")).as("b"))
      .distinct()
      .persist()
    // graph degree (within the kNN edge set, not the bipartite deg)
    val gdeg = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("k"))
    val withDeg = edges
      .join(gdeg.select(col("node").as("a"), col("k").as("ka")), "a")
      .join(gdeg.select(col("node").as("b"), col("k").as("kb")), "b")
    val sums = withDeg.agg(
      count(lit(1)).as("m"),
      sum(col("ka") * col("kb")).as("sjk"),
      sum(col("ka") + col("kb")).as("sj"),
      sum(col("ka") * col("ka") + col("kb") * col("kb")).as("sj2"))
    val mD = col("m").cast("double")
    val half = col("sj").cast("double") / (lit(2.0) * mD)
    val num = col("sjk").cast("double") / mD - half * half
    val den = col("sj2").cast("double") / (lit(2.0) * mD) - half * half
    sums.select(col("m"), col("sjk"), col("sj"), col("sj2"),
      floor(num / den * lit(1000000.0) + lit(0.5)).cast("long").as("r_micro"))
  }

  val q238Sql: String =
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |keep AS (SELECT c FROM e GROUP BY c HAVING COUNT(*) <= ${Recsys.BasketCap}),
       |ec AS (SELECT e.c, e.s FROM e JOIN keep USING (c)),
       |deg AS (SELECT s, COUNT(*) AS deg FROM ec GROUP BY s),
       |co AS (
       |  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS co
       |  FROM ec a JOIN ec b ON a.c = b.c AND a.s <> b.s
       |  GROUP BY a.s, b.s),
       |sim AS (
       |  SELECT s1, s2, co / sqrt(CAST(d1.deg * d2.deg AS DOUBLE)) AS cos
       |  FROM co
       |  JOIN deg d1 ON d1.s = co.s1
       |  JOIN deg d2 ON d2.s = co.s2),
       |ranked AS (
       |  SELECT s1, s2,
       |    ROW_NUMBER() OVER (PARTITION BY s1 ORDER BY cos DESC, s2) AS rnk
       |  FROM sim),
       |edges AS (
       |  SELECT DISTINCT LEAST(s1, s2) AS a, GREATEST(s1, s2) AS b
       |  FROM ranked WHERE rnk <= ${Recsys.TopK}),
       |gdeg AS (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS k FROM
       |    (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
       |  GROUP BY node),
       |wd AS (
       |  SELECT ka.k AS ka, kb.k AS kb
       |  FROM edges JOIN gdeg ka ON ka.node = edges.a
       |             JOIN gdeg kb ON kb.node = edges.b),
       |sums AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
       |         CAST(SUM(ka * kb) AS BIGINT) AS sjk,
       |         CAST(SUM(ka + kb) AS BIGINT) AS sj,
       |         CAST(SUM(ka * ka + kb * kb) AS BIGINT) AS sj2
       |  FROM wd)
       |SELECT m, sjk, sj, sj2,
       |       CAST(FLOOR((CAST(sjk AS DOUBLE) / CAST(m AS DOUBLE)
       |               - (CAST(sj AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
       |                 * (CAST(sj AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))))
       |              / (CAST(sj2 AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))
       |               - (CAST(sj AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
       |                 * (CAST(sj AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))))
       |              * 1000000.0 + 0.5) AS BIGINT) AS r_micro
       |FROM sums""".stripMargin

  /** Dropout modulus for q239 (keep-rate 9/10). */
  val DropMod = 10

  /** q239 — deterministic token-dropout augmentation: every (doc, pos)
    * decides keep/drop by pure integer hash, so the "random" 10% dropout
    * is reproducible byte-for-byte by any party with the id — the
    * augmentation contract that makes training runs repeatable and
    * ablations honest (same argument as q219's content-addressed shards
    * and q236's fold hash). One projection: position-indexed filter
    * inside a higher-order function, no explode, no shuffle; emits the
    * augmented text plus kept/dropped accounting.
    */
  def q239Augment(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("kept",
        filter(col("tk"), (x, i) => (col("doc_id") * 31 + i + 1) % DropMod =!= 0))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_orig"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("aug_text"))
      .orderBy(col("doc_id"))
  }

  val q239Sql: String =
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
       |k AS (
       |  SELECT doc_id, tk,
       |         list_filter(list_transform(range(1, len(tk) + 1),
       |           i -> CASE WHEN (doc_id * 31 + i) % $DropMod <> 0
       |                THEN tk[i] ELSE NULL END), x -> x IS NOT NULL) AS kept
       |  FROM t)
       |SELECT doc_id,
       |       CAST(len(tk) AS BIGINT) AS n_orig,
       |       CAST(len(kept) AS BIGINT) AS n_kept,
       |       COALESCE(list_aggregate(kept, 'string_agg', ' '), '') AS aug_text
       |FROM k ORDER BY doc_id""".stripMargin

  /** Checkpoint stride for the q240 growth curve (every 50th doc). */
  val GrowthStride = 50

  /** q240 — vocabulary growth curve (Heaps' law): cumulative distinct
    * vocabulary vs cumulative token count at every [[GrowthStride]]-doc
    * checkpoint of the ingest order — the saturation diagnostic that
    * tells a crawl whether new data still brings new language.
    *
    * No running-distinct window exists that scales, so the plan uses
    * the first-occurrence trick: vocab(c) = |{tokens whose min doc_id ≤
    * c}| — a min-aggregate (|vocab| rows) joined against the BOUNDED
    * checkpoint list (a broadcast of ~|docs|/stride rows), all
    * partial-aggregable. Token mass cumulates the same way from the
    * |docs|-row per-doc counts.
    */
  def q240GrowthCurve(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .persist()
    val checkpoints = Tables.documents(s, d)
      .filter((col("doc_id") + 1) % GrowthStride === 0)
      .select(col("doc_id").as("cp"))
    val perDoc = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
    val firstTok = tok.groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
    val cumTok = perDoc.join(broadcast(checkpoints), col("doc_id") <= col("cp"))
      .groupBy(col("cp")).agg(sum(col("nt")).as("cum_tokens"))
    val cumVocab = firstTok.join(broadcast(checkpoints), col("fd") <= col("cp"))
      .groupBy(col("cp")).agg(count(lit(1)).as("cum_vocab"))
    cumTok.join(cumVocab, "cp")
      .select(col("cp"), col("cum_tokens"), col("cum_vocab"))
      .orderBy(col("cp"))
  }

  val q240Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents),
       |cps AS (SELECT doc_id AS cp FROM documents WHERE (doc_id + 1) % $GrowthStride = 0),
       |per_doc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt FROM tok GROUP BY 1),
       |first_tok AS (SELECT tok, MIN(doc_id) AS fd FROM tok GROUP BY 1),
       |ct AS (
       |  SELECT cp, CAST(SUM(nt) AS BIGINT) AS cum_tokens
       |  FROM per_doc JOIN cps ON doc_id <= cp GROUP BY cp),
       |cv AS (
       |  SELECT cp, CAST(COUNT(*) AS BIGINT) AS cum_vocab
       |  FROM first_tok JOIN cps ON fd <= cp GROUP BY cp)
       |SELECT cp, cum_tokens, cum_vocab
       |FROM ct JOIN cv USING (cp) ORDER BY cp""".stripMargin

  val queries: Map[String, Q] = Map(
    "q237_novelty" -> q237Novelty _,
    "q238_assortativity" -> q238Assortativity _,
    "q239_augment" -> q239Augment _,
    "q240_growth_curve" -> q240GrowthCurve _)

  val oracles: Map[String, String] = Map(
    "q237_novelty" -> q237Sql,
    "q238_assortativity" -> q238Sql,
    "q239_augment" -> q239Sql,
    "q240_growth_curve" -> q240Sql)
}
