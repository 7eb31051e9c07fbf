package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Replica-reconciliation and placement operators: two-level
  * checksum table diff (anti-entropy repair), sketch-based cross-source
  * set similarity, and rendezvous-hash shard placement with reshard
  * movement accounting.
  *
  * Shared theme: each one replaces an O(table) pairwise comparison with
  * bounded summaries — block checksums, k-minimum-value sketches, a
  * per-row argmax over a constant shard list — so the expensive step
  * touches only the rows that actually differ / collide / move.
  */
object SyncOps extends QueryModule {
  /** Rows per checksum block in q189. */
  val BlockSize = 1024

  /** The simulated replica of orders: a deterministic perturbation —
    * rows with key ≡ 0 (mod 997) have totalprice bumped by 1.0 and rows
    * with key ≡ 0 (mod 1009) are missing. Both engines derive the same
    * replica, so the diff is fully specified. */
  private def replica(base: DataFrame): DataFrame = base
    .filter(col("o_orderkey") % 1009 =!= 0)
    .withColumn("o_totalprice",
      when(col("o_orderkey") % 997 === 0, col("o_totalprice") + lit(1.0))
        .otherwise(col("o_totalprice")))

  /** q189 — two-level checksum diff of a table against a drifted replica
    * (the anti-entropy / table-sync primitive: Merkle-style, one level).
    *
    * Comparing two 100 TB replicas row-by-row is a full-table shuffle
    * join of both sides. The two-level plan: (1) per-row integer
    * fingerprint (key, 2-dp fixed-point price folded mod P — a codegen'd
    * projection); (2) per-block (key div 1024) summaries — count, exact
    * sum, and bit-XOR of fingerprints — a partial-aggregable groupBy
    * yielding a |rows|/1024 relation; (3) full-outer join the two block
    * relations and keep blocks whose summaries differ; (4) row-level
    * full-outer diff SEMI-JOINED to the mismatched blocks only, so the
    * expensive row comparison reads just the drifted blocks' rows — work
    * ∝ drift, not table size, exactly how production replica repair
    * (Cassandra/Dynamo anti-entropy) bounds its scans. The oracle runs
    * the naive full-table diff, proving the block pruning loses nothing.
    */
  def q189BlockDiff(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val rep = replica(base)
    def fp(df: DataFrame): DataFrame = df
      .withColumn("fp",
        (col("o_orderkey") * 31 + floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")) % P)
      .withColumn("blk", expr(s"o_orderkey div $BlockSize"))
    val (b, r) = (fp(base), fp(rep))
    def sums(df: DataFrame, tag: String): DataFrame = df.groupBy(col("blk")).agg(
      count(lit(1)).as(s"n_$tag"),
      sum(col("fp")).as(s"s_$tag"),
      bit_xor(col("fp")).as(s"x_$tag"))
    val bad = sums(b, "a").join(sums(r, "b"), Seq("blk"), "full_outer")
      .filter(
        !(col("n_a") <=> col("n_b")) || !(col("s_a") <=> col("s_b")) ||
          !(col("x_a") <=> col("x_b")))
      .select(col("blk"))
    // row-level diff only inside mismatched blocks
    val ba = b.join(bad, Seq("blk"), "left_semi")
    val rb = r.join(bad, Seq("blk"), "left_semi")
      .select(col("o_orderkey").as("rk"), col("fp").as("rfp"))
    ba.join(rb, col("o_orderkey") === col("rk"), "full_outer")
      .withColumn("status",
        when(col("rk").isNull, lit("missing_in_replica"))
          .when(col("o_orderkey").isNull, lit("extra_in_replica"))
          .when(col("fp") =!= col("rfp"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(coalesce(col("o_orderkey"), col("rk")).as("o_orderkey"), col("status"))
      .orderBy(col("o_orderkey"))
  }

  val q189Sql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey,
       |         (o_orderkey * 31 + CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) % $P AS fp
       |  FROM orders),
       |rep AS (
       |  SELECT o_orderkey,
       |         (o_orderkey * 31 + CAST(floor(
       |            (CASE WHEN o_orderkey % 997 = 0 THEN o_totalprice + 1.0
       |                  ELSE o_totalprice END) * 100 + 0.5) AS BIGINT)) % $P AS fp
       |  FROM orders WHERE o_orderkey % 1009 <> 0)
       |SELECT coalesce(base.o_orderkey, rep.o_orderkey) AS o_orderkey,
       |       CASE WHEN rep.o_orderkey IS NULL THEN 'missing_in_replica'
       |            WHEN base.o_orderkey IS NULL THEN 'extra_in_replica'
       |            WHEN base.fp <> rep.fp THEN 'changed' END AS status
       |FROM base FULL OUTER JOIN rep ON base.o_orderkey = rep.o_orderkey
       |WHERE (rep.o_orderkey IS NULL OR base.o_orderkey IS NULL
       |       OR base.fp <> rep.fp)
       |ORDER BY o_orderkey""".stripMargin

  /** KMV sketch size for q190. */
  val JacK = 64

  /** q190 — pairwise source similarity: token-set Jaccard from mergeable
    * KMV sketches, next to the exact Jaccard it estimates.
    *
    * Cross-source overlap via exact distinct-token joins shuffles the
    * whole vocabulary per source pair. The sketch path aggregates ONCE
    * per source (k minimum hash values — O(k) mergeable state, the same
    * `smallest_k` bounded aggregate as q181), then estimates every
    * pairwise Jaccard from the sketches alone: take the k smallest of
    * the UNION of two sketches, count how many are in both sketches —
    * ρ = |K(A∪B) ∩ A_k ∩ B_k| / k is the standard KMV Jaccard estimator
    * (Beyer et al.). Work after the one aggregation is |sources|² over
    * k-length arrays — independent of corpus size. The exact pass (the
    * thing the estimator replaces at scale) runs beside it for graded
    * comparison; both are integer arithmetic over the shared polynomial
    * hash, so even the estimate hash-matches DuckDB.
    */
  def q190SourceJaccard(s: SparkSession, d: String): DataFrame = {
    graft.functions.AggExpressions.register(s)
    val k = JacK
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .select(col("source"), polyHash(col("tok")).as("h"))
      .distinct()
      .persist() // feeds the sketch pass and the exact pass
    val sk = toks.groupBy(col("source"))
      .agg(expr(s"smallest_k(h, $k)").as("kmin"), count(lit(1)).as("n"))
    val a = sk.select(col("source").as("s1"), col("kmin").as("ka"), col("n").as("na"))
    val b = sk.select(col("source").as("s2"), col("kmin").as("kb"), col("n").as("nb"))
    val est = a.join(b, col("s1") < col("s2"))
      .withColumn("uk", slice(array_sort(array_union(col("ka"), col("kb"))), 1, k))
      .withColumn("rho", size(filter(col("uk"), x =>
        array_contains(col("ka"), x) && array_contains(col("kb"), x))))
      .select(col("s1"), col("s2"), col("na"), col("nb"),
        round(col("rho").cast("double") / least(size(col("uk")), lit(k)), 6).as("j_est"))
    val inter = toks.select(col("source").as("s1"), col("h"))
      .join(toks.select(col("source").as("s2"), col("h")), Seq("h"))
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("ni"))
    est.join(inter, Seq("s1", "s2"))
      .withColumn("j_exact",
        round(col("ni").cast("double") / (col("na") + col("nb") - col("ni")), 6))
      .select(col("s1"), col("s2"), col("j_est"), col("j_exact"))
      .orderBy(col("s1"), col("s2"))
  }

  val q190Sql: String =
    s"""WITH tok AS (
       |  SELECT DISTINCT source, ${polyHashSql("tok")} AS h
       |  FROM (SELECT source, unnest(${tokensSql("text")}) AS tok FROM documents)),
       |rn AS (
       |  SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h) AS r
       |  FROM tok),
       |sk AS (
       |  SELECT source,
       |         list(h ORDER BY h) FILTER (WHERE r <= $JacK) AS kmin,
       |         count(*) AS n
       |  FROM rn GROUP BY source),
       |pair AS (
       |  SELECT a.source AS s1, b.source AS s2,
       |         a.kmin AS ka, b.kmin AS kb, a.n AS na, b.n AS nb
       |  FROM sk a JOIN sk b ON a.source < b.source),
       |est AS (
       |  SELECT s1, s2, na, nb,
       |         list_sort(list_distinct(list_concat(ka, kb)))[1:$JacK] AS uk,
       |         ka, kb
       |  FROM pair),
       |e2 AS (
       |  SELECT s1, s2, na, nb,
       |         len(list_filter(uk, x -> list_contains(ka, x) AND list_contains(kb, x))) AS rho,
       |         least(len(uk), $JacK) AS denom
       |  FROM est),
       |inter AS (
       |  SELECT a.source AS s1, b.source AS s2, count(*) AS ni
       |  FROM tok a JOIN tok b ON a.h = b.h AND a.source < b.source
       |  GROUP BY a.source, b.source)
       |SELECT s1, s2,
       |       ROUND(CAST(rho AS DOUBLE) / denom, 6) AS j_est,
       |       ROUND(CAST(ni AS DOUBLE) / (na + nb - ni), 6) AS j_exact
       |FROM e2 JOIN inter USING (s1, s2)
       |ORDER BY s1, s2""".stripMargin

  /** Shard counts for q191 (before → after the reshard). */
  val ShardsBefore = 10
  val ShardsAfter = 11

  /** q191 — rendezvous (highest-random-weight) shard placement and the
    * movement cost of adding one shard.
    *
    * Rendezvous hashing assigns each key to argmax_s h(key, s) — pure
    * per-row arithmetic over a constant shard list (no ring state, no
    * lookup table), which is what makes it the placement function of
    * choice for sharded ingest: every executor computes placement
    * locally, and adding a shard moves ONLY the keys whose new shard
    * wins the argmax — an expected 1/(k+1) of the data, the provable
    * minimum. The query assigns every doc under 10 and 11 shards and
    * reports per-new-shard row counts and how many rows moved; the
    * 1/(k+1) expectation is assertable on the output (and is — see
    * SyncOpsSpec). Ties break to the smallest shard id (first argmax
    * position) identically on both engines.
    */
  def q191Rendezvous(s: SparkSession, d: String): DataFrame = {
    def assign(k: Int): String =
      s"array_position(slice(ws, 1, $k), array_max(slice(ws, 1, $k))) - 1"
    Tables.documents(s, d)
      .select(col("doc_id"))
      // weight list once, for max(ShardsBefore, ShardsAfter) shards;
      // the k-shard assignment reads its prefix
      // the doc term and the shard term must combine MULTIPLICATIVELY
      // (mod P): an additive mix h = f(doc) + g(s) ranks shards the same
      // way for every doc and the argmax degenerates to one shard
      .withColumn("ws", expr(
        s"transform(sequence(0, ${math.max(ShardsBefore, ShardsAfter) - 1}), " +
          s"s -> ((doc_id * 31 + 7) * ((s + 1) * 1048573 + 11)) % $P)"))
      .withColumn("s_before", expr(assign(ShardsBefore)).cast("long"))
      .withColumn("s_after", expr(assign(ShardsAfter)).cast("long"))
      .groupBy(col("s_after"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("s_before") =!= col("s_after"), 1L).otherwise(0L)).as("n_moved"))
      .orderBy(col("s_after"))
  }

  val q191Sql: String = {
    val kMax = math.max(ShardsBefore, ShardsAfter)
    s"""WITH w AS (
       |  SELECT doc_id,
       |         list_transform(range(0, $kMax),
       |           s -> ((doc_id * 31 + 7) * ((s + 1) * 1048573 + 11)) % $P) AS ws
       |  FROM documents),
       |a AS (
       |  SELECT doc_id,
       |         CAST(list_position(ws[1:$ShardsBefore],
       |           list_max(ws[1:$ShardsBefore])) - 1 AS BIGINT) AS s_before,
       |         CAST(list_position(ws[1:$ShardsAfter],
       |           list_max(ws[1:$ShardsAfter])) - 1 AS BIGINT) AS s_after
       |  FROM w)
       |SELECT s_after, count(*) AS n,
       |       CAST(sum(CASE WHEN s_before <> s_after THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
       |FROM a GROUP BY s_after ORDER BY s_after""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q189_block_diff" -> q189BlockDiff _,
    "q190_source_jaccard" -> q190SourceJaccard _,
    "q191_rendezvous" -> q191Rendezvous _)

  val oracles: Map[String, String] = Map(
    "q189_block_diff" -> q189Sql,
    "q190_source_jaccard" -> q190Sql,
    "q191_rendezvous" -> q191Sql)
}
