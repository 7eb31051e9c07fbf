package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget planning and the mergeable-quantile sketch: the numbers
  * a training run is sized with — how many model tokens a corpus
  * actually yields per language (fertility), what a context-length
  * choice wastes to truncation and padding, and distribution quantiles
  * from O(bins) mergeable state instead of a global sort. Integer
  * accounting throughout; the only doubles are single IEEE divisions of
  * exact terms, micro-rounded once (the q295 discipline).
  */
object BudgetOps extends QueryModule {
  /** q300 — tokenizer fertility audit (the compression-ratio table of
    * every multilingual-tokenizer paper: fertility = subword tokens per
    * whitespace word; a language with fertility 3 pays 3× the context
    * budget of a fertility-1 language for the same text, which is what
    * decides vocabulary allocation and per-language sampling): per
    * (lang, source), exact sums of whitespace tokens (q28's split),
    * BPE-ish subword tokens (q54's [[TextOps.BpePattern]] regex), and
    * text chars, with fertility and chars-per-subword in integer-DIV
    * micros.
    *
    * Scale shape: every per-doc term is a row-local array size — one
    * projection, one partial-aggregable (lang, source) aggregate, a
    * |langs|·|sources|-row report. Nothing shuffles but the final
    * aggregate. */
  def q300TokenFertility(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("lang"), col("source"),
        size(tokens(col("text"))).cast("long").as("ws"),
        expr(s"CAST(size(regexp_extract_all(lower(text), '${TextOps.BpePattern}', 0)) AS BIGINT)")
          .as("bpe"),
        length(col("text")).cast("long").as("chars"))
    docs.groupBy(col("lang"), col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("chars")).as("chars"))
      .withColumn("fertility_micro",
        when(col("ws_tokens") === 0, lit(0L))
          .otherwise(expr("bpe_tokens * 1000000 DIV ws_tokens")))
      .withColumn("chars_per_bpe_micro",
        when(col("bpe_tokens") === 0, lit(0L))
          .otherwise(expr("chars * 1000000 DIV bpe_tokens")))
      .orderBy(col("lang"), col("source"))
  }

  val q300Sql: String =
    s"""WITH d AS (
       |  SELECT lang, source,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS ws,
       |    CAST(len(regexp_extract_all(lower(text), '${TextOps.BpePattern}')) AS BIGINT) AS bpe,
       |    CAST(length(text) AS BIGINT) AS chars
       |  FROM documents),
       |a AS (
       |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       |    CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       |    CAST(SUM(chars) AS BIGINT) AS chars
       |  FROM d GROUP BY lang, source)
       |SELECT lang, source, n_docs, ws_tokens, bpe_tokens, chars,
       |  CASE WHEN ws_tokens = 0 THEN 0
       |       ELSE bpe_tokens * 1000000 // ws_tokens END AS fertility_micro,
       |  CASE WHEN bpe_tokens = 0 THEN 0
       |       ELSE chars * 1000000 // bpe_tokens END AS chars_per_bpe_micro
       |FROM a ORDER BY lang, source""".stripMargin

  /** q301's candidate context lengths (tokens per fixed-length training
    * sequence, one doc per sequence). The fixture's token-band sits at
    * ~10–100 tokens, so the three lengths straddle the distribution. */
  val CtxLengths: Seq[Long] = Seq(32L, 64L, 128L)

  /** q301 — truncation/padding waste curve (the context-length sizing
    * table: pick L too small and the tail of every long document is
    * thrown away, pick it too large and the batch is mostly PAD tokens
    * — packing (q110) mitigates but serving-style one-doc-per-sequence
    * fine-tuning pays exactly these two wastes): for each candidate
    * length in [[CtxLengths]] and each source — docs that fit, exact
    * token mass kept (Σ min(n_tok, L)), truncated mass
    * (Σ max(n_tok − L, 0)), padding mass (Σ max(L − n_tok, 0)), and the
    * integer-DIV utilization (kept / (n_docs·L)) and truncation shares.
    *
    * Scale shape: one projection, explode over a 3-element literal
    * array (constant multiplier, not data-dependent), one
    * partial-aggregable (source, L) aggregate. All integer. */
  def q301TruncationWaste(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .select(col("source"), col("n_tok"),
        explode(array(CtxLengths.map(lit): _*)).as("ctx_len"))
    docs.groupBy(col("source"), col("ctx_len")).agg(
        count(lit(1)).as("n_docs"),
        sum((col("n_tok") <= col("ctx_len")).cast("long")).as("n_fit"),
        sum(col("n_tok")).as("tok_total"),
        sum(least(col("n_tok"), col("ctx_len"))).as("tok_kept"),
        sum(greatest(col("n_tok") - col("ctx_len"), lit(0L))).as("tok_truncated"),
        sum(greatest(col("ctx_len") - col("n_tok"), lit(0L))).as("tok_padding"))
      .withColumn("util_micro", expr("tok_kept * 1000000 DIV (n_docs * ctx_len)"))
      .withColumn("trunc_micro",
        when(col("tok_total") === 0, lit(0L))
          .otherwise(expr("tok_truncated * 1000000 DIV tok_total")))
      .orderBy(col("source"), col("ctx_len"))
  }

  val q301Sql: String =
    s"""WITH d AS (
       |  SELECT source, CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |x AS (
       |  SELECT source, n_tok, CAST(l AS BIGINT) AS ctx_len
       |  FROM d, UNNEST([${CtxLengths.mkString(", ")}]) AS u(l)),
       |a AS (
       |  SELECT source, ctx_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN n_tok <= ctx_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fit,
       |    CAST(SUM(n_tok) AS BIGINT) AS tok_total,
       |    CAST(SUM(LEAST(n_tok, ctx_len)) AS BIGINT) AS tok_kept,
       |    CAST(SUM(GREATEST(n_tok - ctx_len, 0)) AS BIGINT) AS tok_truncated,
       |    CAST(SUM(GREATEST(ctx_len - n_tok, 0)) AS BIGINT) AS tok_padding
       |  FROM x GROUP BY source, ctx_len)
       |SELECT source, ctx_len, n_docs, n_fit, tok_total, tok_kept,
       |  tok_truncated, tok_padding,
       |  tok_kept * 1000000 // (n_docs * ctx_len) AS util_micro,
       |  CASE WHEN tok_total = 0 THEN 0
       |       ELSE tok_truncated * 1000000 // tok_total END AS trunc_micro
       |FROM a ORDER BY source, ctx_len""".stripMargin

  /** q302's histogram resolution and graded percentiles (micros). */
  val HistBins = 128L
  val HistPs: Seq[Long] = Seq(500000L, 900000L, 990000L)

  /** q302 — mergeable equi-width-histogram quantiles with a PROVEN
    * error envelope (the missing member of the q92 sketch family: MG /
    * CMS / KMV / HLL / Bloom cover frequency and cardinality; quantiles
    * at scale come from mergeable O(bins) state — this is the
    * fixed-bin counterpart of a KLL/t-digest, chosen because its state
    * merges by vector addition and its error bound is a theorem; q134
    * profiles a histogram as the REPORT — this op turns the histogram
    * into quantile ESTIMATES with a provable bound): per
    * l_returnflag, a [[HistBins]]-bin histogram over
    * [min, max] of l_extendedprice estimates each p in [[HistPs]] by
    * in-bin linear interpolation at rank p·n. The graded `env_ok`
    * asserts |estimate − exact| ≤ bin width: the rank-⌈p·n⌉ order
    * statistic lies INSIDE the bin whose cumulative count crosses p·n,
    * and the estimate interpolates within that same bin — so the bound
    * holds by construction, and the oracle re-checks it end-to-end.
    *
    * The exact order statistic carried next to the estimate is the
    * GRADING DEVICE, not the production plan (the q92 discipline): it
    * costs a per-flag distinct-value cumulative window here so the
    * envelope is oracle-checkable; at 100 TB the envelope check runs
    * on a sampled stratum while the production path ships only the
    * O(bins) mergeable state (two aggregates: min/max, then bins).
    *
    * Float parity: min/max/width/estimate are doubles derived from
    * identical inputs through identical IEEE expressions on both
    * engines (the q295 division discipline), micro-rounded once at the
    * output.
    *
    * Streaming twin: [[graft.streaming.CorpusStream.histQuantileStream]]
    * runs the same (flag, bin) counters as an update-mode streaming
    * aggregate under the frozen bin spec and replays
    * [[quantileEstimates]] at read time — parity-asserted in
    * StreamingSpec, completing the sketch-family streaming story
    * (MG / attrition / IVF / preference-pair precedents). */
  /** The frozen per-flag bin spec (min/max/population) — the calibration
    * pass whose output the streaming twin treats as a static model, the
    * ivfMaintainStream discipline applied to quantiles. */
  private[graft] def flagBinSpec(li: DataFrame): DataFrame =
    li.groupBy(col("flag")).agg(
      min(col("v")).as("vmin"), max(col("v")).as("vmax"),
      count(lit(1)).as("n"))

  /** Bin of `v` under a joined-in (vmin, vmax) spec. The vmax == vmin
    * guard is the q294/q276 divergence-guard discipline (ADVICE r9):
    * without it (v−vmin)/0.0 is NaN, which Spark's floor turns into
    * null (least → 127) while DuckDB's CAST raises — a degenerate flag
    * group collapses to bin 0 on BOTH engines instead. */
  private[graft] def binUnderSpec: Column =
    when(col("vmax") === col("vmin"), lit(0L)).otherwise(
      least(floor((col("v") - col("vmin")) /
        ((col("vmax") - col("vmin")) / lit(HistBins.toDouble))).cast("long"),
        lit(HistBins - 1)))

  /** (spec, hist) → per-(flag, p) interpolated quantile estimates —
    * the read-side projection over the O(bins) mergeable state, shared
    * verbatim by the batch op and the streaming twin's parity spec
    * ([[graft.streaming.CorpusStream.histQuantileStream]]). Carries the
    * internal t/w/est columns the batch op's exact grading leg needs. */
  private[graft] def quantileEstimates(mm: DataFrame, hist: DataFrame): DataFrame = {
    val wc = Window.partitionBy(col("flag")).orderBy(col("bin"))
    val cum = hist
      .withColumn("cume", sum(col("cnt")).over(
        wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cumb", col("cume") - col("cnt"))
    val ps = mm.select(col("flag"), col("vmin"), col("vmax"), col("n"),
      explode(array(HistPs.map(lit): _*)).as("p_micro"))
      .withColumn("t", col("p_micro").cast("double") / lit(1000000.0) *
        col("n").cast("double"))
    ps.join(cum, Seq("flag"))
      .filter(col("cume").cast("double") >= col("t") &&
        col("cumb").cast("double") < col("t"))
      .withColumn("w", (col("vmax") - col("vmin")) / lit(HistBins.toDouble))
      .withColumn("est", col("vmin") + col("w") * col("bin").cast("double") +
        col("w") * (col("t") - col("cumb").cast("double")) /
          col("cnt").cast("double"))
  }

  def q302HistQuantiles(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"))
    val mm = flagBinSpec(li)
    val binned = li.join(broadcast(mm), "flag").withColumn("bin", binUnderSpec)
    val hist = binned.groupBy(col("flag"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    val est = quantileEstimates(mm, hist)
    // exact rank-ceil(t) order statistic: distinct-value cumulative
    // counts per flag (the grading device — see doc comment)
    val vc = li.groupBy(col("flag"), col("v")).agg(count(lit(1)).as("c"))
      .withColumn("cumv", sum(col("c")).over(
        Window.partitionBy(col("flag")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val exact = est.select(col("flag"), col("p_micro"), col("t"))
      .join(vc, Seq("flag"))
      .filter(col("cumv").cast("double") >= col("t"))
      .groupBy(col("flag"), col("p_micro")).agg(min(col("v")).as("exact_v"))
    est.join(exact, Seq("flag", "p_micro"))
      .select(col("flag"), col("p_micro"), col("n"), col("bin").as("hit_bin"),
        floor(col("w") * lit(1000000.0) + lit(0.5)).cast("long").as("width_micro"),
        floor(col("est") * lit(1000000.0) + lit(0.5)).cast("long").as("est_micro"),
        floor(col("exact_v") * lit(1000000.0) + lit(0.5)).cast("long").as("exact_micro"),
        (abs(col("est") - col("exact_v")) <= col("w") + lit(1e-6)).as("env_ok"))
      .orderBy(col("flag"), col("p_micro"))
  }

  val q302Sql: String =
    s"""WITH li AS (SELECT l_returnflag AS flag, l_extendedprice AS v FROM lineitem),
       |mm AS (SELECT flag, MIN(v) AS vmin, MAX(v) AS vmax,
       |              CAST(COUNT(*) AS BIGINT) AS n
       |       FROM li GROUP BY flag),
       |binned AS (
       |  SELECT li.flag,
       |    CASE WHEN vmax = vmin THEN CAST(0 AS BIGINT)
       |         ELSE LEAST(CAST(FLOOR((v - vmin) / ((vmax - vmin) / ${HistBins}.0))
       |                      AS BIGINT),
       |                    ${HistBins - 1}) END AS bin
       |  FROM li JOIN mm ON li.flag = mm.flag),
       |hist AS (SELECT flag, bin, CAST(COUNT(*) AS BIGINT) AS cnt
       |         FROM binned GROUP BY flag, bin),
       |cum AS (
       |  SELECT flag, bin, cnt,
       |    SUM(cnt) OVER (PARTITION BY flag ORDER BY bin
       |                   ROWS UNBOUNDED PRECEDING) AS cume,
       |    SUM(cnt) OVER (PARTITION BY flag ORDER BY bin
       |                   ROWS UNBOUNDED PRECEDING) - cnt AS cumb
       |  FROM hist),
       |ps AS (
       |  SELECT flag, vmin, vmax, n, CAST(p AS BIGINT) AS p_micro,
       |    CAST(p AS DOUBLE) / 1000000.0 * CAST(n AS DOUBLE) AS t
       |  FROM mm, UNNEST([${HistPs.mkString(", ")}]) AS u(p)),
       |est AS (
       |  SELECT ps.flag, ps.p_micro, ps.n, ps.t, c.bin,
       |    (ps.vmax - ps.vmin) / ${HistBins}.0 AS w,
       |    ps.vmin + (ps.vmax - ps.vmin) / ${HistBins}.0 * CAST(c.bin AS DOUBLE)
       |      + (ps.vmax - ps.vmin) / ${HistBins}.0
       |        * (ps.t - CAST(c.cumb AS DOUBLE)) / CAST(c.cnt AS DOUBLE) AS est
       |  FROM ps JOIN cum c ON ps.flag = c.flag
       |  WHERE CAST(c.cume AS DOUBLE) >= ps.t AND CAST(c.cumb AS DOUBLE) < ps.t),
       |vc AS (
       |  SELECT flag, v,
       |    SUM(c) OVER (PARTITION BY flag ORDER BY v ROWS UNBOUNDED PRECEDING)
       |      AS cumv
       |  FROM (SELECT flag, v, CAST(COUNT(*) AS BIGINT) AS c
       |        FROM li GROUP BY flag, v)),
       |exact AS (
       |  SELECT e.flag, e.p_micro, MIN(vc.v) AS exact_v
       |  FROM est e JOIN vc ON vc.flag = e.flag
       |  WHERE CAST(vc.cumv AS DOUBLE) >= e.t
       |  GROUP BY e.flag, e.p_micro)
       |SELECT e.flag, e.p_micro, e.n, e.bin AS hit_bin,
       |  CAST(FLOOR(e.w * 1000000.0 + 0.5) AS BIGINT) AS width_micro,
       |  CAST(FLOOR(e.est * 1000000.0 + 0.5) AS BIGINT) AS est_micro,
       |  CAST(FLOOR(x.exact_v * 1000000.0 + 0.5) AS BIGINT) AS exact_micro,
       |  ABS(e.est - x.exact_v) <= e.w + 1e-6 AS env_ok
       |FROM est e JOIN exact x ON x.flag = e.flag AND x.p_micro = e.p_micro
       |ORDER BY e.flag, e.p_micro""".stripMargin

  /** q303's vocabulary cap: the sampling table covers the top-[[NegK]]
    * tokens by frequency — a constant-size, broadcastable artifact
    * whatever the corpus size (production uses the full capped vocab;
    * the grade reads the head, where the smoothing bites hardest). */
  val NegK = 50

  /** q303 — negative-sampling distribution (word2vec/contrastive
    * training's noise distribution: sampling negatives ∝ count^0.75
    * instead of raw counts lifts rare words enough to be seen and
    * damps stopwords enough not to dominate — the table every
    * skip-gram / InfoNCE pipeline materializes before training): the
    * top-[[NegK]] tokens by exact count, each with its smoothed weight
    * count^(3/4) (computed as sqrt(sqrt(c³)) — q281's
    * only-correctly-rounded-IEEE-ops trick, portable where pow/ln are
    * not), its sampling share against the FULL smoothed vocabulary
    * mass, its raw share, and the damping factor (smoothed/raw share —
    * < 1 for heads, > 1 for tails by construction).
    *
    * Scale shape: one partial-aggregable token count, one 1-row total
    * (over the whole vocab, not just the head), one
    * TakeOrderedAndProject top-k. The table itself is k rows —
    * broadcastable to every trainer shard. */
  def q303NegativeSampling(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val cd = col("c").cast("double")
    val weighted = counts.withColumn("w_micro",
      floor(sqrt(sqrt(cd * cd * cd)) * lit(1000000.0) + lit(0.5)).cast("long"))
    val tot = weighted.agg(sum(col("w_micro")).as("tw"), sum(col("c")).as("tc"))
    val top = weighted.orderBy(col("c").desc, col("tok")).limit(NegK)
    top
      .withColumn("rnk", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("c").desc, col("tok"))))
      .crossJoin(broadcast(tot))
      .select(col("rnk").cast("long").as("rnk"), col("tok"), col("c"),
        col("w_micro"), col("tw"), col("tc"),
        floor(col("w_micro").cast("double") / col("tw").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long").as("samp_share_micro"),
        floor(col("c").cast("double") / col("tc").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long").as("raw_share_micro"),
        floor(col("w_micro").cast("double") * col("tc").cast("double") /
          (col("tw").cast("double") * col("c").cast("double")) *
          lit(1000000.0) + lit(0.5)).cast("long").as("damp_micro"))
      .orderBy(col("rnk"))
  }

  val q303Sql: String =
    s"""WITH cnt AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(${tokensSql("text")}) AS tok FROM documents)
       |  GROUP BY tok),
       |w AS (
       |  SELECT tok, c,
       |    CAST(FLOOR(sqrt(sqrt(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)
       |      * CAST(c AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) AS w_micro
       |  FROM cnt),
       |tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tw,
       |               CAST(SUM(c) AS BIGINT) AS tc FROM w),
       |top AS (
       |  SELECT tok, c, w_micro,
       |    ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk
       |  FROM w)
       |SELECT CAST(t.rnk AS BIGINT) AS rnk, t.tok, t.c, t.w_micro, x.tw, x.tc,
       |  CAST(FLOOR(CAST(t.w_micro AS DOUBLE) / CAST(x.tw AS DOUBLE)
       |    * 1000000.0 + 0.5) AS BIGINT) AS samp_share_micro,
       |  CAST(FLOOR(CAST(t.c AS DOUBLE) / CAST(x.tc AS DOUBLE)
       |    * 1000000.0 + 0.5) AS BIGINT) AS raw_share_micro,
       |  CAST(FLOOR(CAST(t.w_micro AS DOUBLE) * CAST(x.tc AS DOUBLE)
       |    / (CAST(x.tw AS DOUBLE) * CAST(t.c AS DOUBLE))
       |    * 1000000.0 + 0.5) AS BIGINT) AS damp_micro
       |FROM top t CROSS JOIN tot x
       |WHERE t.rnk <= $NegK
       |ORDER BY t.rnk""".stripMargin

  val queries: Map[String, Q] = Map(
    "q300_token_fertility" -> q300TokenFertility _,
    "q301_truncation_waste" -> q301TruncationWaste _,
    "q302_hist_quantiles" -> q302HistQuantiles _,
    "q303_negative_sampling" -> q303NegativeSampling _)

  val oracles: Map[String, String] = Map(
    "q300_token_fertility" -> q300Sql,
    "q301_truncation_waste" -> q301Sql,
    "q302_hist_quantiles" -> q302Sql,
    "q303_negative_sampling" -> q303Sql)
}
