package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup-infrastructure QA: the chain-merge audit of connected-component
  * clustering and the Bloom filter's empirical-vs-analytic false-positive
  * rate. Companions to q242 (LSH S-curve) and q247 (IVF recall) — the
  * queries that justify the production knobs with data.
  */
object DedupQa extends QueryModule {
  /** Largest cluster audited pairwise in q261 (quadratic guard). */
  val ChainAuditCap = 50

  /** q261 — chain-merge audit of q55's dup clusters: inside every
    * cluster, how many doc pairs are DIRECTLY similar (jaccard ≥ 0.5)
    * and how many were only merged transitively (A~B~C with A≁C)? A
    * high chained rate is the known failure mode of connected-component
    * dedup — star topologies glue unrelated docs through a hub — and
    * decides between CC and stricter clique-ish clustering. Pair space
    * is Σ size² over clusters capped at [[ChainAuditCap]] (larger
    * clusters would be sampled in production; none exist in the
    * fixtures), so the audit is quadratic only in bounded cluster
    * sizes, never in the corpus.
    */
  def q261ChainMerge(s: SparkSession, d: String): DataFrame = {
    // ONE LSH build feeds both the clustering and the audit's shingle
    // sets: before, this query ran q55 (which embeds the full tokenize →
    // shingle → LSH pipeline) and then REBUILT tok/dict/shingles from
    // parquet a second time for the pairwise Jaccard — the persisted
    // docs relation already carries the identical df-capped sh_set
    // (§2.4: remove redundant passes).
    val docs = TextOps.lshDocs(s, d)
    val clusters = TextOps.clustersFromPairs(TextOps.lshVerifiedPairs(docs))
      .filter(col("cluster_size") <= ChainAuditCap)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    val sets = docs.select(col("doc_id"), col("sh_set").as("shs"))
    val pairs = clusters.as("a").join(clusters.as("b"),
        col("a.cluster_id") === col("b.cluster_id") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.cluster_id").as("cid"), col("a.cluster_size").as("csize"),
        col("a.doc_id").as("da"), col("b.doc_id").as("db"))
    val scored = pairs
      .join(sets.select(col("doc_id").as("da"), col("shs").as("sa")), "da")
      .join(sets.select(col("doc_id").as("db"), col("shs").as("sb")), "db")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .withColumn("jac", round(col("inter") /
        (size(col("sa")) + size(col("sb")) - col("inter")), 6))
    scored.groupBy(col("csize"))
      .agg(countDistinct(col("cid")).as("n_clusters"),
        count(lit(1)).as("n_pairs"),
        sum((col("jac") >= 0.5).cast("long")).as("n_direct"),
        sum((col("jac") < 0.5).cast("long")).as("n_chained"))
      .withColumn("chained_rate_micro",
        floor(col("n_chained").cast("double") / col("n_pairs").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long"))
      .orderBy(col("csize"))
  }

  val q261Sql: String =
    s"""WITH RECURSIVE ${TextOps.lshCandidateCtes},
       |pairs0 AS (SELECT da, db FROM cand WHERE ${TextOps.lshJacExpr} >= 0.5),
       |edges AS (SELECT da, db FROM pairs0 UNION ALL SELECT db, da FROM pairs0),
       |verts AS (SELECT DISTINCT da AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT eg.da, re.r FROM edges eg JOIN reach re ON re.id = eg.db
       |),
       |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csize FROM lab GROUP BY 1),
       |cl AS (SELECT id, lab.cluster_id, csize FROM lab JOIN sz USING (cluster_id)
       |       WHERE csize <= $ChainAuditCap),
       |cpairs AS (
       |  SELECT a.cluster_id AS cid, a.csize, a.id AS da, b.id AS db
       |  FROM cl a JOIN cl b ON a.cluster_id = b.cluster_id AND a.id < b.id),
       |scored AS (
       |  SELECT cid, csize,
       |         ROUND(CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE) /
       |           (len(fa.sh) + len(fb.sh)
       |            - CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE)), 6) AS jac
       |  FROM cpairs JOIN f fa ON fa.doc_id = da JOIN f fb ON fb.doc_id = db)
       |SELECT csize,
       |       CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_clusters,
       |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |       CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_direct,
       |       CAST(SUM(CASE WHEN jac < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_chained,
       |       CAST(FLOOR(CAST(SUM(CASE WHEN jac < 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
       |              / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
       |         AS chained_rate_micro
       |FROM scored GROUP BY csize ORDER BY csize""".stripMargin

  /** q262 — Bloom filter FPR, measured vs analytic: the q229 filter's
    * empirical false-positive rate over all non-member probes beside
    * the fill-fraction model (fill^k — exact shared-order
    * multiplication, no libm). The gap between the two columns IS the
    * hash-family quality check: correlated probes inflate empirical
    * over analytic. Same bounded machinery as q229; one extra
    * aggregate.
    */
  def q262BloomFpr(s: SparkSession, d: String): DataFrame = {
    val perDoc = InfraOps.q229BloomPrefilter(s, d)
    val agg = perDoc.agg(
      sum(col("n_grams")).as("probes"),
      sum(col("n_true")).as("members"),
      sum(col("n_cand") - col("n_true")).as("fps"))
    // the filter's fill: distinct probe positions of the bench grams
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
    val bench = withLeads
      .filter(col(s"h${Curation.ContamK - 1}").isNotNull)
      .filter(col("doc_id") % 29 === 0)
      .select(gramExpr.as("g")).distinct()
    val fill = bench
      .select(explode(array((0 until InfraOps.BloomK).map(i =>
        (col("g") * MinHashA(i) + MinHashB(i)) % P % InfraOps.BloomM): _*)).as("pos"))
      .distinct().agg(count(lit(1)).as("bits_set"))
    val nIns = bench.agg(count(lit(1)).as("n_inserted"))
    val fillFrac = col("bits_set").cast("double") / lit(InfraOps.BloomM.toDouble)
    agg.crossJoin(fill).crossJoin(nIns)
      .select(lit(InfraOps.BloomM.toLong).as("m"), lit(InfraOps.BloomK.toLong).as("k"),
        col("n_inserted"), col("bits_set"),
        floor(fillFrac * lit(1000000.0) + lit(0.5)).cast("long").as("fill_micro"),
        floor((col("fps").cast("double") /
          (col("probes") - col("members")).cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("fpr_emp_micro"),
        floor(fillFrac * fillFrac * fillFrac * lit(1000000.0) + lit(0.5)).cast("long")
          .as("fpr_theory_micro"))
  }

  val q262Sql: String = {
    val grams = kgramHashesSql(tokenHashesSql(tokensSql("text")), Curation.ContamK)
    val posList = (0 until InfraOps.BloomK).map(i =>
      s"(g * ${MinHashA(i)} + ${MinHashB(i)}) % $P % ${InfraOps.BloomM}").mkString("[", ", ", "]")
    s"""WITH gr AS (
       |  SELECT doc_id, unnest($grams) AS g
       |  FROM documents),
       |bench AS (SELECT DISTINCT g FROM gr WHERE doc_id % 29 = 0),
       |train AS (SELECT DISTINCT doc_id, g FROM gr WHERE doc_id % 29 <> 0),
       |bits AS (SELECT DISTINCT unnest($posList) AS pos FROM bench),
       |probe AS (SELECT doc_id, g, unnest($posList) AS pos FROM train),
       |cand AS (
       |  SELECT doc_id, g FROM probe JOIN bits USING (pos)
       |  GROUP BY doc_id, g HAVING COUNT(*) = ${InfraOps.BloomK}),
       |agg AS (
       |  SELECT CAST((SELECT COUNT(*) FROM train) AS BIGINT) AS probes,
       |         CAST((SELECT COUNT(*) FROM train WHERE g IN (SELECT g FROM bench))
       |           AS BIGINT) AS members,
       |         CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS cands,
       |         CAST((SELECT COUNT(*) FROM cand WHERE g IN (SELECT g FROM bench))
       |           AS BIGINT) AS cand_members),
       |fl AS (SELECT CAST(COUNT(*) AS BIGINT) AS bits_set FROM bits),
       |ni AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_inserted FROM bench)
       |SELECT CAST(${InfraOps.BloomM} AS BIGINT) AS m,
       |       CAST(${InfraOps.BloomK} AS BIGINT) AS k,
       |       n_inserted, bits_set,
       |       CAST(FLOOR(CAST(bits_set AS DOUBLE) / ${InfraOps.BloomM.toDouble}
       |              * 1000000.0 + 0.5) AS BIGINT) AS fill_micro,
       |       CAST(FLOOR(CAST(cands - cand_members AS DOUBLE)
       |              / CAST(probes - members AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
       |         AS fpr_emp_micro,
       |       CAST(FLOOR((CAST(bits_set AS DOUBLE) / ${InfraOps.BloomM.toDouble})
       |              * (CAST(bits_set AS DOUBLE) / ${InfraOps.BloomM.toDouble})
       |              * (CAST(bits_set AS DOUBLE) / ${InfraOps.BloomM.toDouble})
       |              * 1000000.0 + 0.5) AS BIGINT) AS fpr_theory_micro
       |FROM agg, fl, ni""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q261_chain_merge" -> q261ChainMerge _,
    "q262_bloom_fpr" -> q262BloomFpr _)

  val oracles: Map[String, String] = Map(
    "q261_chain_merge" -> q261Sql,
    "q262_bloom_fpr" -> q262Sql)
}
