package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Storage-layer dedup and pipeline-audit operators: content-defined
  * chunking (the rsync/restic dedup model applied to corpus text), the
  * MinHash-LSH tuning curve (band collisions vs exact similarity), and
  * event-sequence alignment distance.
  */
object ChunkOps extends QueryModule {
  /** Boundary modulus for q241 (expected chunk length in tokens). */
  val ChunkMod = 8

  /** q241 — content-defined-chunk dedup: token streams split at
    * positions where the rolling 4-gram hash ≡ 0 (mod [[ChunkMod]]),
    * chunks fingerprinted, and per-source sharing measured. This is the
    * STORAGE dedup model (variable-size content-defined chunks survive
    * insertions that break fixed-size blocks) applied to corpus text —
    * the complement of q34's doc-level and q114's paragraph-level exact
    * dedup, catching re-used spans that cross document boundaries.
    *
    * Chunk boundaries and fingerprints are pure integer hashing; the
    * chunk signature folds in-document token order via a sorted
    * collect (per-chunk state is bounded by the expected chunk length —
    * the content-defined boundary guarantees it statistically, which is
    * the whole point of CDC). Everything else is partial-aggregable
    * counting.
    */
  def q241CdcChunks(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val dict = tok.select(col("tok")).distinct().withColumn("h", polyHash(col("tok")))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val rolling = (((lag(col("h"), 3).over(wp) * 31 + lag(col("h"), 2).over(wp)) % P) * 31 +
      lag(col("h"), 1).over(wp)).mod(P) * 31 + col("h")
    val t2 = tok.join(broadcast(dict), "tok")
      .withColumn("bd",
        (col("pos") >= 3 && rolling.mod(P).mod(ChunkMod) === 0).cast("int"))
      .withColumn("seg", coalesce(
        sum(col("bd")).over(wp.rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
    val chunks = t2.groupBy(col("doc_id"), col("seg"))
      .agg(sort_array(collect_list(struct(col("pos"), col("h")))).as("ph"))
      .select(col("doc_id"), col("seg"),
        expr(s"aggregate(ph, CAST(0 AS BIGINT), (acc, e) -> (acc * 31 + e.h) % $P)").as("sig"),
        size(col("ph")).cast("long").as("clen"))
      .persist()
    val sigDocs = chunks.groupBy(col("sig"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    chunks.join(sigDocs, "sig").join(src, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("sig")).as("n_distinct"),
        sum((col("ndocs") > 1).cast("long")).as("n_shared"),
        sum(col("clen")).as("n_tokens"))
      .withColumn("shared_ratio_micro",
        floor(col("n_shared").cast("double") / col("n_chunks").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long"))
      .orderBy(col("source"))
  }

  val q241Sql: String = {
    val th = tokenHashesSql(tokensSql("text"))
    s"""WITH t AS (SELECT doc_id, source, $th AS th FROM documents),
       |b AS (
       |  SELECT doc_id, th,
       |    list_transform(range(1, len(th) + 1), i ->
       |      CASE WHEN i >= 4 AND
       |        ((((th[i-3] * 31 + th[i-2]) % $P) * 31 + th[i-1]) % $P * 31 + th[i]) % $P
       |          % $ChunkMod = 0
       |      THEN 1 ELSE 0 END) AS bd
       |  FROM t),
       |rows_t AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(th) + 1)) AS pos,
       |    unnest(th) AS h,
       |    unnest(list_transform(range(1, len(th) + 1),
       |      i -> len(list_filter(range(1, i), j -> bd[j] = 1)))) AS seg
       |  FROM b),
       |chunks AS (
       |  SELECT doc_id, seg,
       |    list_reduce(list(h ORDER BY pos), (a, x) -> (a * 31 + x) % $P) AS sig,
       |    CAST(COUNT(*) AS BIGINT) AS clen
       |  FROM rows_t GROUP BY doc_id, seg),
       |sd AS (SELECT sig, COUNT(DISTINCT doc_id) AS ndocs FROM chunks GROUP BY sig)
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(COUNT(DISTINCT chunks.sig) AS BIGINT) AS n_distinct,
       |  CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       |  CAST(SUM(clen) AS BIGINT) AS n_tokens,
       |  CAST(FLOOR(CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
       |    AS shared_ratio_micro
       |FROM chunks
       |JOIN sd ON sd.sig = chunks.sig
       |JOIN t ON t.doc_id = chunks.doc_id
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** q242 — the MinHash-LSH tuning curve: candidate pairs of the q35
    * pipeline bucketed by HOW MANY of the 4 bands collided × their exact
    * Jaccard decile. This is the empirical S-curve that validates the
    * (bands, rows) = (4, 2) choice: high-similarity pairs should collide
    * in many bands, low-similarity survivors in exactly one — if mass
    * accumulates at (1 band, low decile) the scheme wastes verify work;
    * if high deciles appear at 0 bands (invisible here by construction)
    * recall is leaking. Audit-the-infrastructure, as a query.
    *
    * Same bounded machinery as q35 (df-capped shingles, band equi-join);
    * the only addition is counting band matches per pair before the
    * exact verify, so cost is within a constant of q35 itself.
    */
  def q242LshTuning(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val dict = tok.select(col("tok")).distinct().withColumn("h", polyHash(col("tok")))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val sh0 = tok.join(broadcast(dict), "tok")
      .withColumn("h1", lead(col("h"), 1).over(wp))
      .withColumn("h2", lead(col("h"), 2).over(wp))
      .filter(col("h2").isNotNull)
      .select(col("doc_id"),
        (((col("h") * 31 + col("h1")) % P) * 31 + col("h2")).mod(P).as("sh"))
      .distinct()
    val hot = sh0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > ScaleOps.ShingleDfCap).select(col("sh"))
    val shingles = sh0.join(broadcast(hot), Seq("sh"), "left_anti")
    val sigAggs = (0 until 8).map(i =>
      min((lit(MinHashA(i)) * col("sh") + lit(MinHashB(i))) % P).as(s"sig$i"))
    val docs = shingles.groupBy(col("doc_id"))
      .agg(sigAggs.head, (sigAggs.tail :+ collect_set(col("sh")).as("sh_set")): _*)
      .persist()
    val bands = docs.select(col("doc_id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), col(s"sig${2 * b}").as("v0"), col(s"sig${2 * b + 1}").as("v1"))): _*)).as("bk"))
    val cand = bands.as("l").join(bands.as("r"),
        col("l.bk") === col("r.bk") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("da"), col("r.doc_id").as("db"))
      .agg(count(lit(1)).as("nbands"))
    val a = docs.select(col("doc_id").as("da"), col("sh_set").as("sa"))
    val b = docs.select(col("doc_id").as("db"), col("sh_set").as("sb"))
    val jac = cand.join(a, "da").join(b, "db")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .withColumn("jac", round(col("inter") /
        (size(col("sa")) + size(col("sb")) - col("inter")), 6))
      .withColumn("jac_decile",
        least(lit(9), floor(col("jac") * 10).cast("int")).cast("long"))
    jac.groupBy(col("nbands"), col("jac_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        floor(sum(floor(col("jac") * lit(1000000.0) + lit(0.5))).cast("double") /
          count(lit(1)) + lit(0.5)).cast("long").as("avg_jac_micro"))
      .orderBy(col("nbands"), col("jac_decile"))
  }

  val q242Sql: String =
    s"""WITH ${TextOps.lshCandidateCtes},
       |cb AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, CAST(COUNT(*) AS BIGINT) AS nbands
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1 AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jv AS (
       |  SELECT nbands,
       |    ROUND(CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE) /
       |      (len(fa.sh) + len(fb.sh) - CAST(len(list_intersect(fa.sh, fb.sh)) AS DOUBLE)),
       |      6) AS jac
       |  FROM cb JOIN f fa ON fa.doc_id = da JOIN f fb ON fb.doc_id = db)
       |SELECT nbands,
       |  CAST(LEAST(9, CAST(FLOOR(jac * 10) AS INTEGER)) AS BIGINT) AS jac_decile,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(FLOOR(CAST(SUM(FLOOR(jac * 1000000.0 + 0.5)) AS DOUBLE) / COUNT(*) + 0.5)
       |    AS BIGINT) AS avg_jac_micro
       |FROM jv GROUP BY 1, 2 ORDER BY nbands, jac_decile""".stripMargin

  /** q243 — event-sequence alignment: Levenshtein distance between the
    * ordered event-type sequences of adjacent user ids (each event type
    * encoded as its initial), with length-normalized similarity. The
    * behavioral analogue of q150's name linkage: how differently do two
    * users traverse the product? Sequences build from one ordered
    * per-user aggregation (state bounded by the per-user event cap);
    * pairs come from an equi-join on the successor id (u, u+1) — |users|
    * pairs by construction, never |users|², and no global-order window
    * anywhere (the SCALING.md rule; id gaps just skip a pair).
    */
  def q243SeqAlign(s: SparkSession, d: String): DataFrame = {
    val seqs = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("ini"))
      .groupBy(col("user_id"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("ts"), col("event_id"), col("ini")))),
        x => x.getField("ini")), "").as("seq"))
    val paired = seqs.join(
      seqs.select((col("user_id") - 1).as("user_id"),
        col("user_id").as("next_user"), col("seq").as("next_seq")),
      "user_id")
    paired.select(col("user_id"), col("next_user"),
        length(col("seq")).cast("long").as("len_a"),
        length(col("next_seq")).cast("long").as("len_b"),
        levenshtein(col("seq"), col("next_seq")).cast("long").as("dist"))
      .withColumn("sim_micro",
        floor((lit(1.0) - col("dist").cast("double") /
          greatest(col("len_a"), col("len_b")).cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
      .orderBy(col("user_id"))
  }

  val q243Sql: String =
    s"""WITH seqs AS (
       |  SELECT user_id,
       |         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
       |  FROM events GROUP BY user_id),
       |paired AS (
       |  SELECT a.user_id, a.seq, b.user_id AS next_user, b.seq AS next_seq
       |  FROM seqs a JOIN seqs b ON b.user_id = a.user_id + 1)
       |SELECT user_id, next_user,
       |       CAST(len(seq) AS BIGINT) AS len_a,
       |       CAST(len(next_seq) AS BIGINT) AS len_b,
       |       CAST(levenshtein(seq, next_seq) AS BIGINT) AS dist,
       |       CAST(FLOOR((1.0 - CAST(levenshtein(seq, next_seq) AS DOUBLE)
       |              / CAST(GREATEST(len(seq), len(next_seq)) AS DOUBLE))
       |              * 1000000.0 + 0.5) AS BIGINT) AS sim_micro
       |FROM paired ORDER BY user_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q241_cdc_chunks" -> q241CdcChunks _,
    "q242_lsh_tuning" -> q242LshTuning _,
    "q243_seq_align" -> q243SeqAlign _)

  val oracles: Map[String, String] = Map(
    "q241_cdc_chunks" -> q241Sql,
    "q242_lsh_tuning" -> q242Sql,
    "q243_seq_align" -> q243Sql)
}
