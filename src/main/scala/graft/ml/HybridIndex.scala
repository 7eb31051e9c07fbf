package graft.ml

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED hybrid-retrieval index — the build/serve split every
  * production vector system has (FAISS/Lucene build an index artifact
  * once; queries read it), applied to the q274/q282/q284 hybrid stack.
  *
  * Through round 9 each of the three hybrid consumers re-trained the
  * SAME model inside its own query (Lloyd fit + shingle/minhash banding
  * ~60% of each run — the round-9 verdict's #1 finding). This object
  * owns the build: one Lloyd fit (k = [[graft.operators.RankOps.HybridK]],
  * 6-dp-rounded — q148's trainer), one literal-centroid corpus
  * assignment, and one df-capped MinHash signature table (q35's
  * [[graft.operators.Lsh.signatures]] relation), all written to parquet
  * ONCE per (JVM, corpus dir). Consumers read
  * the artifact; q305 grades its contents against the oracle's
  * unrolled-Lloyd + lexical CTEs, so the persisted model itself is
  * hash-checked, not just the queries that consume it.
  *
  * Scale shape of the build: the fit is k broadcast rows per iteration
  * (KMeansIvf's contract); the assignment is one codegen projection
  * over the corpus; the lexical index is one doc_id-keyed shuffle with
  * a df-cap — all linear, all write-once. The artifact is
  * CONTENT-VERSIONED (round 11): it is keyed by a fingerprint of the
  * corpus tables it derives from ([[ArtifactStore]]), so a changed
  * corpus rebuilds and an unchanged one serves — q309 grades that
  * lifecycle, and q313 grades the cross-process half (a fresh JVM
  * adopts a warm on-disk artifact via its `_FINGERPRINT` marker). At
  * 100 TB the fingerprint is the warehouse table's snapshot/version id
  * and the artifact a versioned table beside it. Where the artifact
  * lives — per-JVM temp dir (the default: every process rebuilds once,
  * stale code can't bite) vs a persistent shared root guarded by
  * [[ArtifactStore.FormatVersion]] — is [[ArtifactStore]]'s contract;
  * see its class doc.
  */
object HybridIndex {
  /** The corpus tables the index derives from — the fingerprint scope
    * [[ArtifactStore.ensure]] checks freshness against. */
  private val SrcTables = Seq("documents", "embeddings")

  /** Build-once-per-(JVM, corpus content): train + persist, then hand
    * back the artifact dir. Keying, freshness, and cleanup live in
    * [[ArtifactStore]] (content-fingerprint versioning — a changed
    * corpus rebuilds, an unchanged one serves; q309 grades it). */
  def ensure(s: SparkSession, d: String): String = ensureTracked(s, d)._1

  /** ensure + whether a (re)build fired this call — the staleness probe
    * (q309) reports this alongside the re-indexed artifact counts. */
  def ensureTracked(s: SparkSession, d: String): (String, Boolean) =
    ArtifactStore.ensure(s, d, "hybrid", SrcTables)(dir => build(s, d, dir))

  /** Force the next ensure to rebuild (ScaleAudit times the build). */
  def invalidate(d: String): Unit = ArtifactStore.invalidate(d, "hybrid")

  /** Drop only the in-memory registry entry, leaving the on-disk
    * artifact intact — the q313 cold-JVM simulation. */
  def dropMemo(d: String): Unit = ArtifactStore.dropMemo(d, "hybrid")

  /** Trained coarse quantizer: (cluster, cent array<double>), k rows. */
  def centroids(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensure(s, d) + "/centroids")

  /** Corpus cell assignment: (vec_id, cluster). */
  def assigned(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensure(s, d) + "/assigned")

  /** Lexical index: (doc_id, sig0..sig7, sh_set) — 8 MinHash signatures
    * plus the df-capped shingle set (set-valued, order-irrelevant:
    * consumers only intersect it). */
  def docsSig(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensure(s, d) + "/docs_sig")

  /** The collected k×dim model, cluster-ordered — what consumers embed
    * as literal centroid arrays (the q274 codegen-assign discipline). */
  def model(s: SparkSession, d: String): Seq[Seq[Double]] =
    centroids(s, d).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1).map(_._2).toIndexedSeq

  private def build(s: SparkSession, d: String, dir: String): Unit = {
    import graft.operators.{Lsh, RankOps}
    graft.functions.VectorExpressions.registerAny(s)
    val e = Tables.embeddings(s, d)
    // ---- dense half: q148's trainer (6-dp-rounded so the model is
    // engine-exact), then the one-shot literal-centroid corpus assign
    val centsDf = KMeansIvf.fit(e, "vec_id", "embedding",
      k = RankOps.HybridK, iters = RankOps.HybridIters)
    centsDf.coalesce(1).write.mode("overwrite").parquet(dir + "/centroids")
    val m: Seq[Seq[Double]] = centsDf.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1).map(_._2).toIndexedSeq
    def dists(vec: Column): Column =
      array(m.map(c => call_function("dist_sq_a", vec, array(c.map(lit): _*))): _*)
    e.select(col("vec_id"),
        (array_position(dists(col("embedding")), array_min(dists(col("embedding")))) - 1)
          .cast("int").as("cluster"))
      .write.mode("overwrite").parquet(dir + "/assigned")
    // ---- lexical half: q35's df-capped signature relation
    val sh0 = Lsh.shingles(Lsh.tokenHashes(Tables.documents(s, d)))
    Lsh.signatures(Lsh.dropHot(sh0, Lsh.hot(sh0)))
      .write.mode("overwrite").parquet(dir + "/docs_sig")
  }
}
