package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature-engineering and sketch-depth operators: a fully deterministic
  * HyperLogLog (register maxima + both estimator branches, engine-
  * portable down to the estimate), embedding moment statistics through a
  * custom mergeable array aggregate, and token span offsets for
  * annotation alignment.
  */
object FeatureOps extends QueryModule {
  /** HLL register count (m) and rank-source width in bits for q195. */
  val HllM = 64
  val HllW = 24

  /** q195 — per-source distinct-token cardinality via HyperLogLog,
    * deterministic end to end, next to the exact count.
    *
    * Registers: j = h mod 64, rank = position of the highest set bit of
    * w = h div 64 counted from the top of a 24-bit window (ρ(0) = 25) —
    * highest-bit search is an integer fold over bit positions, NOT
    * floor(log2(w)) (libm edge cases at exact powers of two would break
    * cross-engine parity). Register maxima are a partial-aggregable
    * max-groupBy with ≤ m·|sources| total state — the mergeability that
    * lets per-day registers roll into per-month cardinalities without
    * re-reading data (q181's KMV argument, with m registers instead of
    * k minima). The estimator runs BOTH standard branches: the harmonic
    * mean α·m²/Z (Z sums exact dyadic 2^−M terms — associative in IEEE,
    * so engine-portable despite being floats) and the small-range
    * linear-counting correction m·ln(m/V) when E ≤ 2.5m and empty
    * registers exist. Every float op is written in the same order in
    * the DuckDB oracle, so even the ESTIMATES hash-match.
    */
  def q195Hll(s: SparkSession, d: String): DataFrame = {
    val m = HllM
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .select(col("source"), polyHash(col("tok")).as("h"))
      .persist() // register pass + exact pass
    val regs = toks
      .withColumn("j", col("h") % m)
      .withColumn("w", expr(s"h div $m"))
      .withColumn("hb", expr(
        s"aggregate(sequence(0, ${HllW - 1}), -1, (acc, b) -> IF(((w >> b) & 1) = 1, b, acc))"))
      .withColumn("rank", lit(HllW) - col("hb"))
      .groupBy(col("source"), col("j"))
      .agg(max(col("rank")).as("mj"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val est = regs.groupBy(col("source"))
      .agg(count(lit(1)).as("present"),
        sum(pow(lit(2.0), -col("mj"))).as("zp"))
      .withColumn("v_zeros", lit(m.toLong) - col("present"))
      .withColumn("z", col("zp") + col("v_zeros").cast("double"))
      .withColumn("raw", alpha * lit(m.toDouble) * lit(m.toDouble) / col("z"))
      .withColumn("est",
        when(col("raw") <= lit(2.5 * m) && col("v_zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v_zeros").cast("double")))
          .otherwise(col("raw")))
    val exact = toks.groupBy(col("source"))
      .agg(countDistinct(col("h")).as("n_exact"))
    est.join(exact, "source")
      .select(col("source"), col("n_exact"), col("v_zeros"),
        round(col("raw"), 6).as("est_raw"), round(col("est"), 6).as("est"))
      .orderBy(col("source"))
  }

  val q195Sql: String = {
    val m = HllM
    s"""WITH tok AS (
       |  SELECT source, ${polyHashSql("tok")} AS h
       |  FROM (SELECT source, unnest(${tokensSql("text")}) AS tok FROM documents)),
       |r AS (
       |  SELECT source, h % $m AS j,
       |         $HllW - list_reduce(list_concat([CAST(-1 AS BIGINT)],
       |           list_transform(range(0, $HllW),
       |             b -> CASE WHEN ((h // $m) >> b) & 1 = 1 THEN b ELSE -2 END)),
       |           (acc, b) -> CASE WHEN b >= 0 THEN b ELSE acc END) AS rank
       |  FROM tok),
       |regs AS (SELECT source, j, max(rank) AS mj FROM r GROUP BY source, j),
       |e AS (
       |  SELECT source, count(*) AS present, sum(power(2.0, -mj)) AS zp
       |  FROM regs GROUP BY source),
       |c AS (
       |  SELECT source, present, $m - present AS v_zeros,
       |         zp + CAST($m - present AS DOUBLE) AS z
       |  FROM e),
       |est AS (
       |  SELECT source, v_zeros,
       |         (0.7213 / (1.0 + 1.079 / ${m.toDouble})) * ${m.toDouble} * ${m.toDouble} / z AS raw
       |  FROM c),
       |x AS (SELECT source, count(DISTINCT h) AS n_exact FROM tok GROUP BY source)
       |SELECT source, n_exact, v_zeros,
       |       ROUND(raw, 6) AS est_raw,
       |       ROUND(CASE WHEN raw <= ${2.5 * m} AND v_zeros > 0
       |                  THEN ${m.toDouble} * LN(${m.toDouble} / CAST(v_zeros AS DOUBLE))
       |                  ELSE raw END, 6) AS est
       |FROM est JOIN x USING (source) ORDER BY source""".stripMargin
  }

  /** q196 — per-label embedding mean and variance by dimension, via the
    * custom [[graft.functions.ArraySumFixed]] mergeable array aggregate.
    *
    * The declarative plan (posexplode → groupBy(label, dim)) multiplies
    * the shuffled row count by the vector dimension — 64× the embeddings
    * table through the exchange. ArraySumFixed keeps ONE d-length long
    * buffer per group, merges map-side, and ships d longs per group
    * total; the explode happens AFTER aggregation on the |labels|-sized
    * result. Elements are 6-dp-quantized BEFORE summation (the Det
    * contract), so partial aggregation cannot reorder float adds and the
    * moments hash-match the oracle's per-dimension integer sums. This is
    * the per-class feature-distribution profile (feature drift, class
    * separation) a training pipeline computes over embedding columns.
    */
  def q196EmbedMoments(s: SparkSession, d: String): DataFrame = {
    graft.functions.ArraySumFixed.register(s)
    val agg = Tables.embeddings(s, d)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        expr("array_sum_fixed(embedding)").as("s1"),
        expr("array_sum_fixed(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))").as("s2"))
    // micro-unit integer outputs via floor(x + 0.5): `round(double, 6)` is
    // implemented differently per engine (Spark exact-BigDecimal HALF_UP,
    // DuckDB multiply-based) and diverges by 1 ulp exactly at .5
    // boundaries (hit at sf0.1); floor over identical IEEE sequences is
    // bit-identical everywhere
    val meanD = col("z.s1").cast("double") / col("n") / lit(1000000.0)
    val meanMicro = floor(col("z.s1").cast("double") / col("n") + lit(0.5)).cast("long")
    val varMicro = floor(col("z.s2").cast("double") / col("n")
      - meanD * meanD * lit(1000000.0) + lit(0.5)).cast("long")
    agg.select(col("label"), col("n"),
        posexplode(arrays_zip(col("s1"), col("s2"))).as(Seq("dim", "z")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        meanMicro.as("mean_micro"), varMicro.as("var_micro"))
      .orderBy(col("label"), col("dim"))
  }

  val q196Sql: String =
    """WITH u AS (
      |  SELECT label,
      |         unnest(range(0, len(embedding))) AS dim,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |nl AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
      |sums AS (
      |  SELECT label, dim,
      |         SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS s1,
      |         SUM(CAST(floor((x * x) * 1000000.0 + 0.5) AS BIGINT)) AS s2
      |  FROM u GROUP BY label, dim)
      |SELECT label, dim,
      |       CAST(floor(CAST(s1 AS DOUBLE) / n + 0.5) AS BIGINT) AS mean_micro,
      |       CAST(floor(CAST(s2 AS DOUBLE) / n
      |             - (CAST(s1 AS DOUBLE) / n / 1000000.0)
      |               * (CAST(s1 AS DOUBLE) / n / 1000000.0) * 1000000.0
      |             + 0.5) AS BIGINT) AS var_micro
      |FROM sums JOIN nl USING (label)
      |ORDER BY label, dim""".stripMargin

  /** q197 — token span offsets: each token's [start, end) character range
    * in its document — the alignment table that maps token-level
    * annotations (NER tags, quality spans, redaction masks) back onto
    * raw text. One posexplode plus one doc-partitioned window cumsum of
    * (token length + separator); all integer arithmetic.
    */
  def q197TokenOffsets(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("start_pos",
        coalesce(sum(length(col("tok")) + 1).over(w), lit(0L)))
      .withColumn("end_pos", col("start_pos") + length(col("tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("tok"), col("start_pos"), col("end_pos"))
      .orderBy(col("doc_id"), col("pos"))
  }

  val q197Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |u AS (
      |  SELECT doc_id,
      |         unnest(range(0, len(toks))) AS pos,
      |         unnest(toks) AS tok
      |  FROM t)
      |SELECT doc_id, pos, tok,
      |       CAST(coalesce(SUM(len(tok) + 1) OVER (PARTITION BY doc_id ORDER BY pos
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_pos,
      |       CAST(coalesce(SUM(len(tok) + 1) OVER (PARTITION BY doc_id ORDER BY pos
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + len(tok) AS BIGINT) AS end_pos
      |FROM u ORDER BY doc_id, pos""".stripMargin

  /** q213 — the d×d embedding covariance matrix (upper triangle), the
    * sufficient statistic PCA / whitening / Mahalanobis all start from.
    *
    * q196's per-dimension moments generalized to cross-dimension: C_ij =
    * E[x_i x_j] − E[x_i]E[x_j]. The scalable shape is the q196 lesson at
    * d² width — the naive plan (posexplode twice, groupBy (i,j)) ships
    * d²·N rows through the exchange; here the d²-length outer product is
    * built ROW-LOCALLY (flatten of a nested transform — one projection)
    * and summed by the [[graft.functions.ArraySumFixed]]
    * TypedImperativeAggregate, so partials merge map-side and exactly
    * ONE d²-length buffer per partition reaches the shuffle. The
    * posexplode back to (i, j) rows runs on the single aggregated row.
    * Indices derive from the flattened offset (i = idx div d, j = idx
    * mod d) with d read from the result array itself — no hardcoded
    * dimensionality.
    *
    * Portability: per-term 6-dp quantization inside the aggregate
    * (floats cast to double, multiplied, floor(p·1e6 + 0.5)) summed
    * exactly; the final covariance stays in micro-units via the same
    * floor sequence as q196's var_micro. The oracle recomputes from a
    * positional self-join of the unnested elements — the d²-amplified
    * plan this query exists to avoid, proving both agree.
    */
  def q213Covariance(s: SparkSession, d: String): DataFrame = {
    graft.functions.ArraySumFixed.register(s)
    val agg = Tables.embeddings(s, d)
      .agg(count(lit(1)).as("n"),
        expr("array_sum_fixed(embedding)").as("s1"),
        expr("""array_sum_fixed(
            flatten(transform(embedding,
              xi -> transform(embedding,
                xj -> CAST(xi AS DOUBLE) * CAST(xj AS DOUBLE)))))""").as("sxy"))
    val dim = size(col("s1")).cast("long")
    val i = expr("idx div dim")
    val j = col("idx") % col("dim")
    val mx = col("sx").cast("double") / col("n") / lit(1000000.0)
    val my = col("sy").cast("double") / col("n") / lit(1000000.0)
    val covMicro = floor(col("z").cast("double") / col("n")
      - mx * my * lit(1000000.0) + lit(0.5)).cast("long")
    agg.select(col("n"), col("s1"),
        posexplode(col("sxy")).as(Seq("idx", "z")))
      .withColumn("dim", dim)
      .select(col("n"), col("s1"), col("z"),
        i.cast("long").as("i"), j.cast("long").as("j"))
      .filter(col("i") <= col("j"))
      .withColumn("sx", element_at(col("s1"), (col("i") + 1).cast("int")))
      .withColumn("sy", element_at(col("s1"), (col("j") + 1).cast("int")))
      .select(col("i"), col("j"), covMicro.as("cov_micro"))
      .orderBy(col("i"), col("j"))
  }

  val q213Sql: String =
    """WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
      |u AS (
      |  SELECT vec_id,
      |         unnest(range(0, len(embedding))) AS i,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |sx AS (
      |  SELECT i, SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS s
      |  FROM u GROUP BY i),
      |terms AS (
      |  SELECT a.i AS i, b.i AS j,
      |         SUM(CAST(floor(a.x * b.x * 1000000.0 + 0.5) AS BIGINT)) AS z
      |  FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY 1, 2)
      |SELECT t.i, t.j,
      |       CAST(floor(CAST(t.z AS DOUBLE) / n
      |              - (CAST(sa.s AS DOUBLE) / n / 1000000.0)
      |                * (CAST(sb.s AS DOUBLE) / n / 1000000.0) * 1000000.0
      |              + 0.5) AS BIGINT) AS cov_micro
      |FROM terms t JOIN sx sa ON sa.i = t.i JOIN sx sb ON sb.i = t.j, nn
      |ORDER BY t.i, t.j""".stripMargin

  /** Bin count for the q223 weight-of-evidence table. */
  val WoeBins = 10

  /** q223 — weight-of-evidence / information-value binning of
    * `o_totalprice` against the urgent-priority label.
    *
    * The classic credit-scoring feature transform: bin the continuous
    * feature, and per bin report WOE = ln(P(bin|good)/P(bin|bad)) and
    * its IV contribution (pg − pb)·WOE — the standard screen for
    * whether a feature separates the classes at all. Bins are q134's
    * arithmetic equi-width bucketing (broadcast min/max, no sort); all
    * class counts are exact integers; pg/pb/WOE are the same
    * shared-order IEEE expression on both engines (ln parity per the
    * q185 precedent), and one-sided bins yield NULL WOE with a zero IV
    * term rather than ±∞.
    *
    * Scale: one scan + a 1-row bounds aggregate + a B-row rollup —
    * nothing is ever sorted or sampled. */
  def q223WoeIv(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_totalprice").as("x"),
      (col("o_orderpriority") === "1-URGENT").cast("long").as("good"))
    val bounds = o.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val cells = o.crossJoin(broadcast(bounds))
      .withColumn("bin", least(lit(WoeBins - 1),
        floor((col("x") - col("lo")) /
          ((col("hi") - col("lo")) / lit(WoeBins.toDouble))).cast("int")))
      .groupBy(col("bin"))
      .agg(sum(col("good")).as("n_good"),
        sum(lit(1) - col("good")).as("n_bad"))
    val tot = cells.agg(sum(col("n_good")).as("tg"), sum(col("n_bad")).as("tb"))
    val pg = col("n_good").cast("double") / col("tg").cast("double")
    val pb = col("n_bad").cast("double") / col("tb").cast("double")
    cells.crossJoin(broadcast(tot))
      .withColumn("woe",
        // ln differs between libms by 1 ulp at some arguments (the q21
        // discipline): round the log to 6 dp with the portable floor form
        when(col("n_good") > 0 && col("n_bad") > 0,
          floor(log(pg / pb) * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
          .otherwise(lit(null).cast("double")))
      .withColumn("iv_term",
        when(col("woe").isNotNull, (pg - pb) * col("woe")).otherwise(lit(0.0)))
      // woe is already 6-dp rounded, so iv_term is the same IEEE product
      .select(col("bin"), col("n_good"), col("n_bad"), col("woe"), col("iv_term"))
      .orderBy(col("bin"))
  }

  val q223Sql: String =
    s"""WITH o AS (
       |  SELECT o_totalprice AS x,
       |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS good
       |  FROM orders),
       |bounds AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM o),
       |cells AS (
       |  SELECT LEAST($WoeBins - 1,
       |           CAST(FLOOR((x - lo) / ((hi - lo) / CAST($WoeBins AS DOUBLE))) AS INTEGER))
       |           AS bin,
       |         CAST(SUM(good) AS BIGINT) AS n_good,
       |         CAST(SUM(1 - good) AS BIGINT) AS n_bad
       |  FROM o, bounds GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_good) AS BIGINT) AS tg,
       |               CAST(SUM(n_bad) AS BIGINT) AS tb FROM cells)
       |SELECT bin, n_good, n_bad,
       |       CASE WHEN n_good > 0 AND n_bad > 0
       |            THEN FLOOR(LN((CAST(n_good AS DOUBLE) / CAST(tg AS DOUBLE))
       |                    / (CAST(n_bad AS DOUBLE) / CAST(tb AS DOUBLE)))
       |                  * 1000000.0 + 0.5) / 1000000.0
       |            ELSE NULL END AS woe,
       |       CASE WHEN n_good > 0 AND n_bad > 0
       |            THEN (CAST(n_good AS DOUBLE) / CAST(tg AS DOUBLE)
       |                  - CAST(n_bad AS DOUBLE) / CAST(tb AS DOUBLE))
       |                 * (FLOOR(LN((CAST(n_good AS DOUBLE) / CAST(tg AS DOUBLE))
       |                      / (CAST(n_bad AS DOUBLE) / CAST(tb AS DOUBLE)))
       |                    * 1000000.0 + 0.5) / 1000000.0)
       |            ELSE 0.0 END AS iv_term
       |FROM cells, tot ORDER BY bin""".stripMargin

  val queries: Map[String, Q] = Map(
    "q195_hll" -> q195Hll _,
    "q196_embed_moments" -> q196EmbedMoments _,
    "q197_token_offsets" -> q197TokenOffsets _,
    "q213_covariance" -> q213Covariance _,
    "q223_woe_iv" -> q223WoeIv _)

  val oracles: Map[String, String] = Map(
    "q195_hll" -> q195Sql,
    "q196_embed_moments" -> q196Sql,
    "q197_token_offsets" -> q197Sql,
    "q213_covariance" -> q213Sql,
    "q223_woe_iv" -> q223Sql)
}
