package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup-aware example weighting (q245): the sampling-weight table that
  * turns near-duplicate clusters into training-time downweights.
  */
object WeightOps extends QueryModule {
  /** q245 — dedup-aware example weights: every document gets weight
    * 1/|its near-dup cluster| (singletons 1), so a training sampler that
    * honors the table sees each CONTENT item with equal mass no matter
    * how many times it was crawled — the soft alternative to q55's hard
    * dedup and the per-example complement of q178's cluster-level split.
    * Composition: q55's connected components label the clustered docs;
    * the left join + coalesce makes every other doc its own cluster;
    * sizes recompute over ALL docs so singleton weights are exact. The
    * invariant Σ weights = #clusters is what the spec pins.
    *
    * Scale: adds one |docs|-row join and one |clusters|-row aggregate on
    * top of q55 (whose LSH+CC cost dominates and is already bounded).
    */
  def q245DedupWeights(s: SparkSession, d: String): DataFrame = {
    // ccLabels, not q55DupClusters: q55's cluster_size column is recomputed
    // below over ALL docs anyway (singleton weights need it), so its
    // sizes join + final sort were pure waste here (§2.3/§2.4).
    val clustered = TextOps.ccLabels(
        TextOps.lshVerifiedPairs(TextOps.lshDocs(s, d)))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    val all = Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(clustered, Seq("doc_id"), "left")
      .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
    val sizes = all.groupBy(col("cid")).agg(count(lit(1)).as("csize"))
    all.join(sizes, "cid")
      .select(col("doc_id"), col("source"), col("csize"),
        floor(lit(1000000.0) / col("csize").cast("double") + lit(0.5))
          .cast("long").as("weight_micro"))
      .orderBy(col("doc_id"))
  }

  val q245Sql: String =
    s"""WITH RECURSIVE ${TextOps.lshCandidateCtes},
       |pairs AS (SELECT da, db FROM cand WHERE ${TextOps.lshJacExpr} >= 0.5),
       |edges AS (SELECT da, db FROM pairs UNION ALL SELECT db, da FROM pairs),
       |verts AS (SELECT DISTINCT da AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT eg.da, re.r FROM edges eg JOIN reach re ON re.id = eg.db
       |),
       |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |ad AS (
       |  SELECT doc.doc_id, doc.source, COALESCE(lab.cluster_id, doc.doc_id) AS cid
       |  FROM documents doc LEFT JOIN lab ON lab.id = doc.doc_id),
       |sz AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS csize FROM ad GROUP BY cid)
       |SELECT doc_id, source, csize,
       |       CAST(FLOOR(1000000.0 / CAST(csize AS DOUBLE) + 0.5) AS BIGINT)
       |         AS weight_micro
       |FROM ad JOIN sz USING (cid)
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, Q] = Map("q245_dedup_weights" -> q245DedupWeights _)
  val oracles: Map[String, String] = Map("q245_dedup_weights" -> q245Sql)
}
