package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 scale-pattern additions: sketch-with-exact-verify heavy
  * hitters (Misra–Gries), distributed two-phase prefix-sum PPS sampling,
  * KMV distinct-count sketches, and per-language stratified quality
  * filtering.
  *
  * Shared theme: every operator here has bounded per-task state (MG's k
  * counters, KMV's k minima, the bucket-total relation) and a
  * deterministic integer-arithmetic core, so each one both scales to a
  * 1000-executor shuffle AND hash-matches a DuckDB oracle bit-for-bit.
  */
object ScaleOps2 extends QueryModule {
  /** Misra–Gries counters per partition for q179. */
  val MgK = 200

  /** The per-partition Misra–Gries fold: ≤ k live counters at any moment;
    * returns the surviving keys. Guarantee used by q179 (property-tested
    * in Round7SketchSpec): any item whose TRUE count in `it` exceeds
    * (stream length)/k survives. Exposed so tests drive the exact code
    * the executor runs. */
  def misraGries(it: Iterator[String], k: Int): Iterator[String] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { t =>
      m.get(t) match {
        case Some(c) => m.update(t, c + 1)
        case None if m.size < k => m.update(t, 1L)
        case None =>
          // decrement-all step: O(k), amortized over ≥k arrivals
          m.mapValuesInPlace((_, v) => v - 1)
          m.filterInPlace((_, v) => v > 0)
      }
    }
    m.keysIterator
  }

  /** q179 — EXACT heavy hitters over the token stream via a Misra–Gries
    * sketch plus an exact verify pass.
    *
    * A plain `groupBy(token).count()` ships one partial-agg entry per
    * distinct token per partition — at 100 TB the map-side hash tables
    * and the shuffle are vocabulary-sized. Misra–Gries bounds the state
    * each task emits at `MgK` counters regardless of vocabulary:
    * by pigeonhole, any token with global count > N/k must survive in at
    * least one partition's sketch (local counts sum to C; local
    * thresholds sum to N/k; C > N/k forces one local count over its
    * threshold), so the union of per-partition survivors is a SUPERSET of
    * every token with count ≥ ⌊N/k⌋+1. A second pass counts ONLY those
    * candidates exactly (broadcast semi-join — the candidate set is ≤
    * k·partitions rows), making the final answer exact, not approximate.
    * The completeness theorem is property-tested against brute force in
    * Round7OpsSpec.
    */
  def q179HeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = MgK
    // persisted: the count, the sketch pass and the verify pass all read
    // the exploded token stream; without it tokenize runs three times.
    val toks = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .as[String]
      .persist()
    val n = toks.count()
    val thresh = n / k + 1 // strictly > N/k ⇒ MG candidate set is complete
    val cand = toks
      .mapPartitions(it => misraGries(it, k))
      .distinct()
      .toDF("tok")
    toks.toDF("tok")
      .join(broadcast(cand), "tok")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= lit(thresh))
      .orderBy(col("cnt").desc, col("tok"))
  }

  val q179Sql: String =
    s"""WITH tok AS (
       |  SELECT unnest(${tokensSql("text")}) AS tok FROM documents)
       |SELECT tok, count(*) AS cnt FROM tok
       |GROUP BY tok
       |HAVING count(*) >= (SELECT count(*) // $MgK FROM tok) + 1
       |ORDER BY cnt DESC, tok""".stripMargin

  /** q180 — systematic probability-proportional-to-size sampling via a
    * DISTRIBUTED two-phase prefix sum.
    *
    * PPS selection needs each row's cumulative weight in a global order —
    * but a single `Window.orderBy` funnels the whole table through one
    * task. The scalable decomposition: (1) bucket rows by id range;
    * (2) aggregate per-bucket weight totals (tiny relation — |rows|/256
    * entries); (3) exclusive-prefix-sum the bucket totals (the only
    * ordered window, over the BUCKET relation, not the rows); (4) add
    * each row's within-bucket running sum (a partitioned window) to its
    * bucket offset. Row i is selected iff the k evenly-spaced quantile
    * points ⌈j·W/k⌉ advance inside (cum−w, cum] — pure integer div, so
    * the selected set is deterministic and engine-portable. This is the
    * textbook parallel-scan schema (partial sums → offsets → local scan)
    * that any "running total at scale" op reduces to.
    */
  def q180PpsSample(s: SparkSession, d: String): DataFrame = {
    val k = 100
    val w = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars").as("weight"))
      .withColumn("bucket", expr("doc_id div 256"))
    val bt = w.groupBy(col("bucket")).agg(sum(col("weight")).as("btot"))
    val wb = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = bt
      .withColumn("off", coalesce(sum(col("btot")).over(wb), lit(0L)))
      .select(col("bucket"), col("off"))
    val tot = bt.agg(sum(col("btot")).as("W"))
    val wloc = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    w.join(broadcast(off), "bucket")
      .withColumn("cum", col("off") + sum(col("weight")).over(wloc))
      .crossJoin(broadcast(tot))
      .filter(expr(s"(cum * $k) div W > ((cum - weight) * $k) div W"))
      .select(col("doc_id"), col("weight"), col("cum"))
      .orderBy(col("doc_id"))
  }

  val q180Sql: String =
    """WITH w AS (SELECT doc_id, n_chars AS weight FROM documents),
      |c AS (
      |  SELECT doc_id, weight,
      |         CAST(sum(weight) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM w),
      |t AS (SELECT sum(weight) AS W FROM w)
      |SELECT doc_id, weight, cum FROM c, t
      |WHERE (cum * 100) // W > ((cum - weight) * 100) // W
      |ORDER BY doc_id""".stripMargin

  /** KMV sketch size for q181. */
  val KmvK = 64

  /** The KMV estimator as a read-time projection over a `kmin` sketch
    * column — shared by the batch op (q181) and its streaming twin
    * ([[graft.streaming.CorpusStream.kmvSketchStream]]), so stream and
    * batch estimates are the same expression: fewer than k minima means
    * the sketch IS the exact distinct set; otherwise D̂ = (k−1)·P/h_k. */
  val kmvEstimate: org.apache.spark.sql.Column =
    when(size(col("kmin")) < KmvK, size(col("kmin")).cast("long"))
      .otherwise(expr(s"${(KmvK - 1) * P}L div element_at(kmin, $KmvK)"))

  /** q181 — per-source distinct-token cardinality via a KMV (k minimum
    * values) sketch, next to the exact count it approximates.
    *
    * `count(distinct x)` shuffles every distinct value; a KMV sketch
    * ships only the k smallest hashes per group — O(k) state, map-side
    * combinable, and MERGEABLE (union of sketches = sketch of union),
    * which is what makes it a 100 TB pattern: per-day sketches roll up
    * into per-month cardinalities without re-reading the data. Estimator:
    * if fewer than k distinct hashes exist the sketch IS the exact
    * answer; otherwise D̂ = (k−1)·P / h_k (hashes uniform on [0,P)).
    * Both sides are integer arithmetic over the same polynomial hash, so
    * even the ESTIMATE hash-matches the DuckDB oracle. Reuses the
    * [[graft.functions.SmallestK]] bounded TypedImperativeAggregate
    * (q123's posting-list cap) as the sketch state.
    */
  def q181KmvDistinct(s: SparkSession, d: String): DataFrame = {
    graft.functions.AggExpressions.register(s)
    val k = KmvK
    Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .select(col("source"), polyHash(col("tok")).as("h"))
      .groupBy(col("source"))
      .agg(
        countDistinct(col("h")).as("n_exact"),
        expr(s"smallest_k(h, $k)").as("kmin"))
      .withColumn("est", kmvEstimate)
      .select(col("source"), col("n_exact"), col("est"))
      .orderBy(col("source"))
  }

  val q181Sql: String =
    s"""WITH tok AS (
       |  SELECT source, unnest(${tokensSql("text")}) AS tok FROM documents),
       |h AS (SELECT DISTINCT source, ${polyHashSql("tok")} AS h FROM tok),
       |r AS (SELECT source, h,
       |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
       |a AS (SELECT source, count(*) AS n_exact,
       |        max(CASE WHEN rn = $KmvK THEN h END) AS hk
       |      FROM r GROUP BY source)
       |SELECT source, n_exact,
       |       CASE WHEN n_exact < $KmvK THEN n_exact
       |            ELSE ${(KmvK - 1) * P} // hk END AS est
       |FROM a ORDER BY source""".stripMargin

  /** q182 — per-language stratified quality filter (keep the top quarter
    * of each language by lexical diversity).
    *
    * Global quality thresholds bias multilingual corpora — a cutoff tuned
    * on the dominant language deletes the tail languages wholesale
    * (CCNet's motivation for per-language perplexity buckets). Stratify
    * instead: score = ⌊distinct-token ratio × 10⁶⌋ (pure integers — no
    * float drift), rank WITHIN each language (a partitioned window — the
    * shuffle key is `lang`, never a global sort), keep rank ≤ ⌈n_lang/4⌉
    * via the integer test (rn−1)·4 < n. Adding a language never changes
    * another language's kept set.
    */
  def q182LangStrata(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .withColumn("score", expr(
        """case when size(toks) = 0 then 0L
          |else (cast(size(array_distinct(toks)) as bigint) * 1000000)
          |       div cast(size(toks) as bigint) end""".stripMargin))
    val wl = Window.partitionBy(col("lang")).orderBy(col("score").desc, col("doc_id"))
    val cl = Window.partitionBy(col("lang"))
    scored
      .withColumn("rn", row_number().over(wl))
      .withColumn("nl", count(lit(1)).over(cl))
      .filter((col("rn") - 1) * 4 < col("nl"))
      .select(col("doc_id"), col("lang"), col("score"), col("rn"))
      .orderBy(col("lang"), col("rn"))
  }

  val q182Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, ${tokensSql("text")} AS toks FROM documents),
       |sc AS (
       |  SELECT doc_id, lang,
       |         CASE WHEN len(toks) = 0 THEN 0
       |              ELSE (CAST(len(list_distinct(toks)) AS BIGINT) * 1000000)
       |                     // CAST(len(toks) AS BIGINT) END AS score
       |  FROM t),
       |r AS (
       |  SELECT doc_id, lang, score,
       |         row_number() OVER (PARTITION BY lang
       |           ORDER BY score DESC, doc_id) AS rn,
       |         count(*) OVER (PARTITION BY lang) AS nl
       |  FROM sc)
       |SELECT doc_id, lang, score, rn FROM r
       |WHERE (rn - 1) * 4 < nl
       |ORDER BY lang, rn""".stripMargin

  /** Count-Min sketch geometry for q207: depth (hash rows) × width. */
  val CmsDepth = 4
  val CmsWidth = 64L

  /** Counter-bucket of hash row `i` for a token-hash column — shared by
    * the batch op (q207) and its streaming twin
    * ([[graft.streaming.CorpusStream.cmsSketchStream]]), so stream and
    * batch counters land in identical cells. */
  def cmsBucket(i: Int, h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ((lit(MinHashA(i)) * h + lit(MinHashB(i))) % lit(P)) % lit(CmsWidth)

  /** q207 — Count-Min sketch frequency estimates next to exact counts.
    *
    * The OVER-estimating counterpart of q179's Misra–Gries (which
    * under-counts): CMS hashes every occurrence into [[CmsDepth]] counter
    * rows of [[CmsWidth]] buckets and answers `min_i counter[i][h_i(x)]`
    * — never below the true count, above it only by colliding mass. The
    * sketch is a 256-cell integer grid whatever the vocabulary, counters
    * are plain sums (partial-aggregable, mergeable across
    * days/shards — the same algebra as q181's KMV and q195's HLL), and
    * the estimate's guaranteed one-sided error is surfaced per token as
    * `overcount = est − exact` (≥ 0 by construction; asserted in the
    * spec and visible in the graded output).
    *
    * Vocabulary trick (the q30 theme): occurrences are never hashed —
    * exact per-token counts are aggregated FIRST (one partial-aggregable
    * groupBy over the token stream), then the [[Portable.polyHash]] and
    * the [[CmsDepth]] bucket probes run once per DISTINCT token. Summing
    * `cnt` into a bucket is arithmetically identical to hashing each
    * occurrence, at vocabulary cost instead of corpus cost.
    */
  def q207CountMin(s: SparkSession, d: String): DataFrame = {
    val exact = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("h", polyHash(col("tok")))
      .persist()
    def bucket(i: Int) = cmsBucket(i, col("h"))
    val cells = (0 until CmsDepth).map(i =>
      exact.select(lit(i).as("r"), bucket(i).as("bucket"), col("cnt"))).reduce(_ unionAll _)
    val counters = cells.groupBy(col("r"), col("bucket"))
      .agg(sum(col("cnt")).as("csum"))
    val probes = (0 until CmsDepth).map(i =>
      exact.select(col("tok"), col("cnt"), lit(i).as("r"), bucket(i).as("bucket")))
      .reduce(_ unionAll _)
    probes.join(broadcast(counters), Seq("r", "bucket"))
      .groupBy(col("tok"), col("cnt"))
      .agg(min(col("csum")).as("cms_est"))
      .select(col("tok"), col("cnt"), col("cms_est"),
        (col("cms_est") - col("cnt")).as("overcount"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(10)
  }

  val q207Sql: String = {
    val as = MinHashA.take(CmsDepth)
    val bs = MinHashB.take(CmsDepth)
    def bucket(i: Int) = s"((${as(i)}*h + ${bs(i)}) % $P) % $CmsWidth"
    val cells = (0 until CmsDepth).map(i =>
      s"SELECT $i AS r, ${bucket(i)} AS bucket, cnt FROM h").mkString("\n  UNION ALL ")
    val probes = (0 until CmsDepth).map(i =>
      s"SELECT tok, cnt, $i AS r, ${bucket(i)} AS bucket FROM h").mkString("\n  UNION ALL ")
    s"""WITH tok AS (
       |  SELECT unnest(${tokensSql("text")}) AS tok FROM documents),
       |exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
       |h AS (SELECT tok, cnt, ${polyHashSql("tok")} AS h FROM exact),
       |cells AS (
       |  $cells),
       |counters AS (
       |  SELECT r, bucket, CAST(SUM(cnt) AS BIGINT) AS csum
       |  FROM cells GROUP BY r, bucket),
       |probes AS (
       |  $probes),
       |est AS (
       |  SELECT tok, cnt, MIN(csum) AS cms_est
       |  FROM probes JOIN counters USING (r, bucket)
       |  GROUP BY tok, cnt)
       |SELECT tok, cnt, cms_est, cms_est - cnt AS overcount
       |FROM est ORDER BY cnt DESC, tok LIMIT 10""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q179_heavy_hitters" -> q179HeavyHitters _,
    "q180_pps_sample" -> q180PpsSample _,
    "q181_kmv_distinct" -> q181KmvDistinct _,
    "q182_lang_strata" -> q182LangStrata _,
    "q207_count_min" -> q207CountMin _)

  val oracles: Map[String, String] = Map(
    "q179_heavy_hitters" -> q179Sql,
    "q180_pps_sample" -> q180Sql,
    "q181_kmv_distinct" -> q181Sql,
    "q182_lang_strata" -> q182Sql,
    "q207_count_min" -> q207Sql)
}
