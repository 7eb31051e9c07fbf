package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-13 operators: the differentially-private RELEASE family the
  * governance tier was missing (q299/q306/q310 detect
  * re-identification risk; these are what a pipeline DOES about it) —
  * q321 the two-level count histogram (the twice-deferred top advice
  * item), q323 the clipped-sum release (the sensitivity concept counts
  * get for free), q324 the unknown-domain histogram (noisy-threshold
  * vocabulary release) — plus adaptive multi-probe ANN serving (q322 —
  * the recall/cost knob as an operator, not just q247's audit curve).
  * All three releases share one exact integer mechanism
  * ([[dpNoiseSql]]) whose realized distribution, ε, and δ are
  * spec-enumerated, and a DuckDB oracle replays the identical noise
  * formula for each.
  */
object Round13Ops extends QueryModule {
  // ---- q321: deterministic DP count release ----

  /** Release salt: the mechanism is a pure function of (salt, cell), so
    * re-running a release never spends extra budget and ROTATING the
    * salt is what spends a fresh ε (the production hash-seeded-DP
    * compromise — true randomness would make the release unauditable
    * and the oracle impossible; q142's determinism precedent).
    *
    * SALT SECRECY IS A HARD PRECONDITION of any real privacy claim
    * (ADVICE r13): anyone who knows the salt can recompute u and the
    * noise for every public cell name and invert n_released back to the
    * exact true count — the ε/δ ledger figures hold only against
    * consumers who do NOT know the salt. This COMMITTED constant
    * therefore makes the fixture releases fully invertible by design:
    * it exists so the DuckDB oracle can replay the mechanism and the
    * grading can hash-check it. A production deployment sources the
    * salt from a secret store OUTSIDE the released artifact and the
    * code repo (e.g. `spark.conf`/env injected per release), rotates it
    * per budget epoch, and never publishes the u/noise diagnostic
    * columns — only the (cell, n_released) projection. */
  val DpSalt = "dp-release-r13"

  /** Uniform modulus D = 3·2^19. Chosen so EVERY CDF boundary of the
    * two-sided geometric with α = 1/2 is an integer multiple of 1/D:
    * F(0)·D = 2^20, F(-k)·D = 2^(20-k), 1 - F(k) = 2^(19-k)/D — the
    * inverse CDF is exact integer arithmetic, no rounding anywhere,
    * and the realized noise distribution is EXACTLY dyadic
    * (P(0) = 2^19/D, P(±k) = 2^(19-k)/D for k ≤ 19, P(±20) = 1/D —
    * the collapsed ±tails). Round13OpsSpec enumerates all D uniforms
    * and asserts that histogram. */
  val DpD = 3L << 19
  /** Per-cell privacy: ε = ln 2 EXACTLY (every adjacent-noise ratio is
    * a power of two: P(k)/P(k+1) = 2 for 0 ≤ k ≤ 18, = 1 at the
    * collapsed tail), in micro. */
  val DpEpsCellMicro = 693147L
  /** Truncating the noise support to [-20, 20] costs a δ: the ideal
    * geometric's mass beyond ±20 is 2/D ≈ 1.27·10⁻⁶ — reported as the
    * exact rational (num, den) so no unit rounding hides it. */
  val DpDeltaNum = 2L
  val DpDeltaDen: Long = DpD

  /** The exact inverse CDF of the two-sided geometric (α = 1/2) on a
    * uniform u ∈ [0, D), as a SQL fragment both engines run verbatim
    * (pure integer compares — no DIV/`//` divergence to bridge):
    *  - u < 2^19:            noise = -(19 - ⌊log₂ u⌋), u = 0 → -20
    *  - 2^19 ≤ u < 2^20:     noise = 0   (mass 2^19/D = 1/3 exactly)
    *  - u ≥ 2^20: mirror with v = D-1-u: noise = +(19 - ⌊log₂ v⌋)
    * ⌊log₂ x⌋ is the bit-ladder Σ_j [x ≥ 2^j] — the q318 struct-argmax
    * discipline of building order statistics from comparisons. */
  private def log2Floor(x: String): String =
    (1 to 19).map(j => s"(CASE WHEN $x >= ${1L << j} THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")
  def dpNoiseSql(u: String): String = {
    val half = 1L << 19 // D/3: F(-1)·D
    val twoThirds = 1L << 20 // F(0)·D
    s"""CASE
       |  WHEN $u < $half THEN
       |    CASE WHEN $u = 0 THEN -20 ELSE -(19 - ${log2Floor(u)}) END
       |  WHEN $u < $twoThirds THEN 0
       |  ELSE
       |    CASE WHEN ${DpD - 1} - $u = 0 THEN 20
       |         ELSE 19 - ${log2Floor(s"(${DpD - 1} - $u)")} END
       |END""".stripMargin.replace("\n", " ")
  }

  /** The Knuth multiplicative scramble applied to the cell hash before
    * the mod-D reduction: quasi-cell key strings are SHORT and often
    * differ only in the last character (…|len_b), where the polynomial
    * hash has no avalanche — neighbors would draw CONSECUTIVE uniforms
    * and correlated noise (observed: a whole stretch of cells all
    * drawing −1). The multiplier spreads consecutive hashes ~2.65·10⁹
    * apart mod P. h < P ≈ 10⁹ times 2.65·10⁹ < 2⁶³ — no overflow. */
  val DpScramble = 2654435761L

  /** q321 — differentially-private count release over the q299
    * quasi-identifier surface: the governance tier's missing RELEASE
    * operator. q299 answers "is this cell a re-identification risk";
    * a real pipeline's next step is to publish quasi-identifier
    * histograms ANYWAY, privately — suppress the sub-k cells (the
    * q299 gate, identical constant), add two-sided-geometric
    * (discrete Laplace) noise to the rest, clamp at zero
    * (post-processing — free under DP), and account the budget.
    *
    * The release is TWO histogram levels, the shape a real release
    * takes (a fine table plus a marginal): level 1 = the exact q299
    * quasi-cells (lang, source, len_b), level 2 = their
    * (lang, source) marginal (len_b = −1 sentinel). Two levels make
    * the ε LEDGER non-trivial: within a level the cells PARTITION the
    * documents → parallel composition, the level costs one ε; across
    * levels every document appears once PER level → sequential
    * composition, the release costs n_levels·ε and n_levels·δ. The
    * ledger carries the per-cell, per-level, and whole-release
    * figures plus the naive all-sequential bound, so the accounting
    * rules are visible in the output.
    *
    * Mechanism: per cell, u = (polyHash(salt|level|lang|source|len_b)
    * · [[DpScramble]]) mod P mod [[DpD]] → the EXACT integer inverse
    * CDF ([[dpNoiseSql]]) of the two-sided geometric with
    * α = e^(−ε) = 1/2. ε = ln 2 per cell exactly (every
    * adjacent-noise ratio is a power of two); noise support truncated
    * at ±20 for δ = 2/D ≈ 1.3·10⁻⁶ per cell (the standard (ε, δ)
    * price of bounded noise — an exact rational in the ledger, never
    * rounded away). Suppression is decided on the true count (the
    * q299 gate the round-13 contract asks this to agree with);
    * production systems noise the threshold too — documented, out of
    * scope for the gate-consistency contract graded here. The
    * `noise`/`u` columns are emitted for EVERY cell (grading); the
    * released VIEW a consumer would publish is the
    * (level, lang, source, len_b, n_released) projection.
    *
    * Determinism: the noise is a pure function of (salt, cell id) —
    * the q142 hash-uniform precedent, at last used for the op family
    * it was proved for: re-running a release never spends extra
    * budget, rotating [[DpSalt]] is what spends a fresh ε. Mapping the
    * hash's [0, P) onto [0, D) by `% D` carries a modulo bias (ADVICE
    * r13 corrected the figure): the P mod D = 1231367 low residues are
    * hit ⌈P/D⌉ = 636 times vs 635 for the rest, against the ideal
    * P/D ≈ 635.78 — worst per-outcome relative bias 635/(P/D) − 1 ≈
    * −0.123%, inflating the worst adjacent-outcome ratio on the
    * hash-derived uniform to at most 2·(636/635), i.e. realized
    * ε ≤ ln 2 + ln(636/635) ≈ ln 2 + 1.57·10⁻³. That bias is the
    * documented fixture-side approximation of the uniform; the
    * mechanism on an ideal uniform is exact (Round13OpsSpec enumerates
    * all D uniforms and asserts the dyadic histogram and the realized
    * ε), and each noise tier restates its own bound
    * ([[Round14Ops.DpD4]] for the α = 1/4 tier — the bias grows with
    * D/P, so every new tier must re-derive it).
    *
    * All integer, engine-exact: the u arithmetic is two `%`, the
    * inverse CDF is comparisons and sums ([[dpNoiseSql]] — the SAME
    * string runs on both engines), the clamp is GREATEST. Scale
    * shape: one partial-aggregable quasi-cell aggregate (q299's), a
    * re-aggregation of its |cells| rows for the marginal, one
    * row-local noise projection, one 1-row ledger broadcast — the
    * release costs one corpus pass whatever the corpus size. */
  def q321DpRelease(s: SparkSession, d: String): DataFrame = {
    import GovernanceOps.{KAnonK, KAnonLenBucket}
    val fine = Tables.documents(s, d)
      .select(col("lang"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("len_b", expr(s"n_tok DIV $KAnonLenBucket"))
      .groupBy(col("lang"), col("source"), col("len_b"))
      .agg(count(lit(1)).as("n_true"))
      .persist() // the marginal re-aggregates these |cells| rows
    val marg = fine.groupBy(col("lang"), col("source"))
      .agg(sum(col("n_true")).as("n_true"))
      .withColumn("len_b", lit(-1L))
    val cells = fine.withColumn("level", lit(1L))
      .unionByName(marg.withColumn("level", lit(2L)))
      .withColumn("suppressed", col("n_true") < KAnonK)
      .withColumn("u",
        (polyHash(concat_ws("|", lit(DpSalt), col("level").cast("string"),
          col("lang"), col("source"), col("len_b").cast("string")))
          * DpScramble) % P % DpD)
      .withColumn("noise", expr(dpNoiseSql("u")).cast("long"))
      .withColumn("n_released",
        when(col("suppressed"), lit(null).cast("long"))
          .otherwise(greatest(lit(0L), col("n_true") + col("noise"))))
    val ledger = cells.agg(
      count(lit(1)).as("n_cells"),
      countDistinct(col("level")).as("n_levels"),
      sum((!col("suppressed")).cast("long")).as("n_cells_released"),
      sum(col("suppressed").cast("long")).as("n_cells_suppressed"))
    cells.crossJoin(broadcast(ledger))
      .withColumn("eps_cell_micro", lit(DpEpsCellMicro))
      .withColumn("delta_cell_num", lit(DpDeltaNum))
      .withColumn("delta_cell_den", lit(DpDeltaDen))
      // disjoint cells within a level → parallel composition
      .withColumn("eps_level_micro", lit(DpEpsCellMicro))
      // levels see the same documents → sequential composition
      .withColumn("eps_release_micro", col("n_levels") * DpEpsCellMicro)
      .withColumn("delta_release_num", col("n_levels") * DpDeltaNum)
      // the naive all-sequential bound, carried so the ledger shows
      // WHY parallel-within-level is the right rule
      .withColumn("eps_sequential_bound_micro",
        col("n_cells_released") * DpEpsCellMicro)
      .select(col("level"), col("lang"), col("source"), col("len_b"),
        col("n_true"), col("suppressed"), col("u"), col("noise"),
        col("n_released"), col("n_cells"), col("n_levels"),
        col("n_cells_released"), col("n_cells_suppressed"),
        col("eps_cell_micro"), col("delta_cell_num"), col("delta_cell_den"),
        col("eps_level_micro"), col("eps_release_micro"),
        col("delta_release_num"), col("eps_sequential_bound_micro"))
      .orderBy(col("level"), col("lang"), col("source"), col("len_b"))
  }

  val q321Sql: String = {
    import GovernanceOps.{KAnonK, KAnonLenBucket}
    val uExpr = "(" + polyHashSql(
      "concat_ws('|', '" + DpSalt + "', CAST(level AS VARCHAR), lang, source, " +
        "CAST(len_b AS VARCHAR))") +
      s" * $DpScramble) % $P % $DpD"
    s"""WITH fine AS (
       |  SELECT lang, source,
       |         CAST(len(${tokensSql("text")}) AS BIGINT) // $KAnonLenBucket AS len_b,
       |         CAST(COUNT(*) AS BIGINT) AS n_true
       |  FROM documents GROUP BY 1, 2, 3),
       |cells AS (
       |  SELECT CAST(1 AS BIGINT) AS level, lang, source, len_b, n_true FROM fine
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), lang, source, CAST(-1 AS BIGINT),
       |         CAST(SUM(n_true) AS BIGINT)
       |  FROM fine GROUP BY lang, source),
       |noised AS (
       |  SELECT level, lang, source, len_b, n_true,
       |         n_true < $KAnonK AS suppressed,
       |         CAST($uExpr AS BIGINT) AS u
       |  FROM cells),
       |rel AS (
       |  SELECT level, lang, source, len_b, n_true, suppressed, u,
       |         CAST(${dpNoiseSql("u")} AS BIGINT) AS noise
       |  FROM noised),
       |ledger AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       |         CAST(COUNT(DISTINCT level) AS BIGINT) AS n_levels,
       |         CAST(SUM(CASE WHEN suppressed THEN 0 ELSE 1 END) AS BIGINT)
       |           AS n_cells_released,
       |         CAST(SUM(CASE WHEN suppressed THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_cells_suppressed
       |  FROM rel)
       |SELECT level, lang, source, len_b, n_true, suppressed, u, noise,
       |       CASE WHEN suppressed THEN NULL
       |            ELSE GREATEST(CAST(0 AS BIGINT), n_true + noise) END
       |         AS n_released,
       |       n_cells, n_levels, n_cells_released, n_cells_suppressed,
       |       CAST($DpEpsCellMicro AS BIGINT) AS eps_cell_micro,
       |       CAST($DpDeltaNum AS BIGINT) AS delta_cell_num,
       |       CAST($DpDeltaDen AS BIGINT) AS delta_cell_den,
       |       CAST($DpEpsCellMicro AS BIGINT) AS eps_level_micro,
       |       n_levels * $DpEpsCellMicro AS eps_release_micro,
       |       n_levels * $DpDeltaNum AS delta_release_num,
       |       n_cells_released * $DpEpsCellMicro AS eps_sequential_bound_micro
       |FROM rel CROSS JOIN ledger
       |ORDER BY level, lang, source, len_b""".stripMargin
  }

  // ---- q322: adaptive multi-probe ANN serving ----

  /** Candidate budget per query: the serving tier's cost knob. A query
    * keeps visiting cells (in perturbation-ranked order) until at
    * least this many corpus vectors are in scope, then reranks. */
  val AdaptBudget = 64

  /** q322 — adaptive multi-probe IVF search: the SERVING operator the
    * ANN stack exposes, where q247 is the offline audit. q247 grades
    * recall at FIXED nprobe ∈ {1,2,4} — a tuning table; production
    * serving inverts the knob: fix a per-query CANDIDATE BUDGET and
    * let each query probe as many cells as it needs (dense regions
    * stop at 1 cell, sparse ones walk deeper) — the multi-probe visit
    * order (for IVF: cells ranked by query→centroid similarity, the
    * perturbation ranking of multi-probe LSH applied to a quantizer)
    * with an adaptive stop. Per query: the probe depth actually used,
    * candidates scanned, recall@5 against the persisted exact truth
    * ([[graft.ml.TruthTables.ivfRecallTruth]] — same table as q247,
    * one source of truth).
    *
    * Scale shape: the centroid table is a 16-row broadcast; the
    * occupancy table is k rows (maintained by the index tier — q276);
    * the stop decision is a k-row window per query (cumulative
    * occupancy in visit order), NEVER a corpus scan; candidate
    * scanning touches only the probed cells' rows (an equi-join on
    * cell); the rerank window is bounded by the probed mass. Honest
    * bound: the budget is the stop TRIGGER (a lower bound on
    * candidates), so per-query work is budget + the LAST probed
    * cell's occupancy — at 100 TB that overshoot is controlled by
    * keeping cells near budget size (scale k with the corpus), which
    * is precisely the imbalance signal q316's rebalance gate
    * thresholds; the two operators are the serving tier's feedback
    * loop. */
  def q322MultiProbe(s: SparkSession, d: String): DataFrame =
    perQueryAtBudgets(s, d, Seq(AdaptBudget))
      .select(col("qid"), col("probe_depth"), col("n_cand"), col("n_hit"),
        col("recall_micro"))
      .orderBy(col("qid"))

  /** The q322/q326 shared pipeline: per-(query, budget) adaptive-probe
    * outcomes — (qid, budget, probe_depth, n_cand, n_hit,
    * recall_micro) — over the fixed-quantizer slice. One budget per
    * call for the serving op, the grid for the tuning curve: ONE code
    * path, so the curve and the op it tunes cannot drift apart
    * (Round13OpsSpec additionally pins their numbers to each other at
    * the shared budget point).
    *
    * Cache scope (ADVICE r13): the two persist()s below (corpus slice +
    * the 16-rows-per-query cell ranking) are plan-internal reuse; both
    * relations are bounded by the graded corpus slice and are released
    * by the harness's per-query `spark.catalog.clearCache()` (Verify,
    * Bench, and the specs all clear between queries). They cannot be
    * unpersisted inside this builder — the returned plan still
    * references them lazily. A long-lived session embedding this op
    * should clearCache() (or unpersist via its own handle) between
    * calls, exactly as the harness does. */
  private def perQueryAtBudgets(s: SparkSession, d: String,
      budgetList: Seq[Int]): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    import graft.functions.VectorExpressions.cosineF
    val e = Tables.embeddings(s, d)
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent"))
    val corpus = e.filter(col("vec_id") >= 16)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .persist()
    val queries = corpus.filter(col("cid") < 24)
      .select(col("cid").as("qid"), col("ce").as("qe"))
    val truth = graft.ml.TruthTables.ivfRecallTruth(s, d)
    // corpus cell assignment (q39/q247 semantics: best cosine, tie → id)
    val wv = Window.partitionBy(col("cid")).orderBy(col("cos").desc, col("centroid_id"))
    val assigned = corpus.join(broadcast(cents), lit(true))
      .withColumn("cos", cosineF("ce", "cent"))
      .withColumn("rnk", row_number().over(wv))
      .filter(col("rnk") === 1)
      .select(col("cid"), col("centroid_id").as("cell"))
    val occ = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_cell"))
    // perturbation-ranked visit order + cumulative occupancy → the
    // per-(query, budget) adaptive probe depth (first rank covering the
    // budget; all cells if the whole corpus is smaller than the budget)
    val wc = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("centroid_id"))
    val cellRank = queries.join(broadcast(cents), lit(true))
      .withColumn("cos", cosineF("qe", "cent"))
      .select(col("qid"), col("centroid_id").as("cell"),
        row_number().over(wc).as("cell_rnk"))
      .join(broadcast(occ), Seq("cell"), "left")
      .withColumn("n_cell", coalesce(col("n_cell"), lit(0L)))
      .withColumn("cum", sum(col("n_cell")).over(
        Window.partitionBy(col("qid")).orderBy(col("cell_rnk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .persist() // one 16-rows-per-query relation feeds every budget
    val budgets = s.createDataFrame(budgetList.map(Tuple1(_))).toDF("budget")
    val depth = cellRank.crossJoin(broadcast(budgets))
      .groupBy(col("qid"), col("budget")).agg(
        coalesce(min(when(col("cum") >= col("budget"), col("cell_rnk"))),
          max(col("cell_rnk"))).as("probe_depth"))
    val cand = cellRank.join(depth, "qid")
      .filter(col("cell_rnk") <= col("probe_depth"))
      .select(col("qid"), col("budget"), col("probe_depth"), col("cell"))
      .join(assigned, "cell")
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("budget"), col("probe_depth"), col("cid"))
    val wr = Window.partitionBy(col("qid"), col("budget"))
      .orderBy(col("cos").desc, col("cid"))
    val top = cand.join(corpus, "cid").join(broadcast(queries), "qid")
      .withColumn("cos", cosineF("qe", "ce"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= AnnAudit.RecallK)
    val nCand = cand.groupBy(col("qid"), col("budget"))
      .agg(min(col("probe_depth")).cast("long").as("probe_depth"),
        count(lit(1)).as("n_cand"))
    val hits = top.join(truth.withColumn("hit", lit(1L)), Seq("qid", "cid"), "left")
      .groupBy(col("qid"), col("budget"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
    nCand.join(hits, Seq("qid", "budget"))
      .withColumn("recall_micro",
        floor(col("n_hit").cast("double") / lit(AnnAudit.RecallK.toDouble) *
          lit(1000000.0) + lit(0.5)).cast("long"))
  }

  val q322Sql: String = {
    val cos = cosineSql("qe", "ce")
    s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cent
       |               FROM embeddings WHERE vec_id < 16),
       |corpus AS (SELECT vec_id AS cid, embedding AS ce
       |           FROM embeddings WHERE vec_id >= 16),
       |q AS (SELECT cid AS qid, ce AS qe FROM corpus WHERE cid < 24),
       |truth AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY $cos DESC, cid) AS rnk
       |    FROM q JOIN corpus ON qid <> cid)
       |  WHERE rnk <= ${AnnAudit.RecallK}),
       |assigned AS (
       |  SELECT cid, cell FROM (
       |    SELECT corpus.cid, centroid_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY corpus.cid
       |        ORDER BY ${cosineSql("ce", "cent")} DESC, centroid_id) AS rnk
       |    FROM corpus CROSS JOIN cents)
       |  WHERE rnk = 1),
       |occ AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_cell
       |        FROM assigned GROUP BY cell),
       |cell_rank AS (
       |  SELECT cr.qid, cr.cell, cr.cell_rnk,
       |         SUM(COALESCE(occ.n_cell, 0)) OVER (
       |           PARTITION BY cr.qid ORDER BY cr.cell_rnk) AS cum
       |  FROM (
       |    SELECT qid, centroid_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY qid
       |        ORDER BY ${cosineSql("qe", "cent")} DESC, centroid_id) AS cell_rnk
       |    FROM q CROSS JOIN cents) cr
       |  LEFT JOIN occ ON occ.cell = cr.cell),
       |depth AS (
       |  SELECT qid,
       |    COALESCE(MIN(CASE WHEN cum >= $AdaptBudget THEN cell_rnk END),
       |             MAX(cell_rnk)) AS probe_depth
       |  FROM cell_rank GROUP BY qid),
       |cand AS (
       |  SELECT cr.qid, d.probe_depth, a.cid
       |  FROM cell_rank cr
       |  JOIN depth d ON d.qid = cr.qid AND cr.cell_rnk <= d.probe_depth
       |  JOIN assigned a ON a.cell = cr.cell
       |  WHERE a.cid <> cr.qid),
       |top AS (
       |  SELECT qid, cid FROM (
       |    SELECT cand.qid, cand.cid,
       |      ROW_NUMBER() OVER (PARTITION BY cand.qid
       |        ORDER BY $cos DESC, cand.cid) AS rnk
       |    FROM cand JOIN corpus ON corpus.cid = cand.cid
       |              JOIN q ON q.qid = cand.qid)
       |  WHERE rnk <= ${AnnAudit.RecallK}),
       |nc AS (SELECT qid, CAST(MIN(probe_depth) AS BIGINT) AS probe_depth,
       |              CAST(COUNT(*) AS BIGINT) AS n_cand
       |       FROM cand GROUP BY qid),
       |hits AS (
       |  SELECT top.qid,
       |         CAST(SUM(CASE WHEN truth.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_hit
       |  FROM top LEFT JOIN truth ON truth.qid = top.qid AND truth.cid = top.cid
       |  GROUP BY 1)
       |SELECT qid, probe_depth, n_cand, n_hit,
       |       CAST(FLOOR(CAST(n_hit AS DOUBLE) / ${AnnAudit.RecallK.toDouble}
       |         * 1000000.0 + 0.5) AS BIGINT) AS recall_micro
       |FROM nc JOIN hits USING (qid)
       |ORDER BY qid""".stripMargin
  }

  // ---- q323: DP sum release with contribution clipping ----

  /** Per-document contribution bound for q323's sum release (chars).
    * Sits at ~the 75th percentile of fixture n_chars, so the clip
    * genuinely binds on a visible fraction of documents — the
    * bias-for-privacy trade the op exists to demonstrate. */
  val DpClipChars = 400L

  /** q323 — differentially-private SUM release with contribution
    * clipping: the DP concept q321 gets for free and a sum does not.
    * A count has sensitivity 1 automatically; a SUM of n_chars has
    * unbounded sensitivity until each document's contribution is
    * CLIPPED at [[DpClipChars]] — the standard bias-for-privacy trade
    * (the clip bound is the released quantity's contract, and the
    * `n_clipped` column shows how hard it binds). Quantization makes
    * the dyadic mechanism exact at sensitivity C: the clipped sum is
    * released in units of C (one document moves the clipped sum by
    * ≤ C, hence the floor-divided unit count by ≤ 1 — sensitivity 1
    * in units), the SAME exact inverse CDF adds unit noise, and the
    * release is C·max(0, units + noise) — quantization error ≤ C−1,
    * also part of the contract. Cells are the q321 level-2 marginal
    * (lang, source) with the same k-anonymity suppression gate;
    * publishing q321 AND q323 together costs their ledgers' SUM
    * (sequential composition across releases — same documents), which
    * is exactly why both print their own ε.
    *
    * All integer: LEAST for the clip, one DIV for the units, the
    * shared noise fragment, GREATEST for the clamp. Scale shape: one
    * partial-aggregable aggregate + |cells|-row projection + 1-row
    * ledger broadcast. */
  def q323DpSumRelease(s: SparkSession, d: String): DataFrame = {
    import GovernanceOps.KAnonK
    val cells = Tables.documents(s, d)
      .select(col("lang"), col("source"),
        least(col("n_chars"), lit(DpClipChars)).as("w"),
        (col("n_chars") > DpClipChars).cast("long").as("clipped"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("clipped")).as("n_clipped"),
        sum(col("w")).as("sum_clipped"))
      .withColumn("suppressed", col("n_docs") < KAnonK)
      .withColumn("units", expr(s"sum_clipped DIV $DpClipChars"))
      .withColumn("u",
        (polyHash(concat_ws("|", lit(DpSalt), lit("sum"), col("lang"),
          col("source"))) * DpScramble) % P % DpD)
      .withColumn("noise", expr(dpNoiseSql("u")).cast("long"))
      .withColumn("released_sum",
        when(col("suppressed"), lit(null).cast("long"))
          .otherwise(greatest(lit(0L), col("units") + col("noise")) * DpClipChars))
    val ledger = cells.agg(
      count(lit(1)).as("n_cells"),
      sum((!col("suppressed")).cast("long")).as("n_cells_released"))
    cells.crossJoin(broadcast(ledger))
      .withColumn("clip_chars", lit(DpClipChars))
      .withColumn("eps_release_micro", lit(DpEpsCellMicro))
      .withColumn("delta_release_num", lit(DpDeltaNum))
      .withColumn("delta_release_den", lit(DpDeltaDen))
      .select(col("lang"), col("source"), col("n_docs"), col("n_clipped"),
        col("sum_clipped"), col("suppressed"), col("units"), col("u"),
        col("noise"), col("released_sum"), col("n_cells"),
        col("n_cells_released"), col("clip_chars"),
        col("eps_release_micro"), col("delta_release_num"),
        col("delta_release_den"))
      .orderBy(col("lang"), col("source"))
  }

  val q323Sql: String = {
    import GovernanceOps.KAnonK
    val uExpr = "(" + polyHashSql(
      s"concat_ws('|', '$DpSalt', 'sum', lang, source)") +
      s" * $DpScramble) % $P % $DpD"
    s"""WITH cells AS (
       |  SELECT lang, source,
       |         CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(CASE WHEN n_chars > $DpClipChars THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_clipped,
       |         CAST(SUM(LEAST(n_chars, $DpClipChars)) AS BIGINT) AS sum_clipped
       |  FROM documents GROUP BY 1, 2),
       |noised AS (
       |  SELECT lang, source, n_docs, n_clipped, sum_clipped,
       |         n_docs < $KAnonK AS suppressed,
       |         sum_clipped // $DpClipChars AS units,
       |         CAST($uExpr AS BIGINT) AS u
       |  FROM cells),
       |rel AS (
       |  SELECT *, CAST(${dpNoiseSql("u")} AS BIGINT) AS noise FROM noised),
       |ledger AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       |         CAST(SUM(CASE WHEN suppressed THEN 0 ELSE 1 END) AS BIGINT)
       |           AS n_cells_released
       |  FROM rel)
       |SELECT lang, source, n_docs, n_clipped, sum_clipped, suppressed,
       |       units, u, noise,
       |       CASE WHEN suppressed THEN NULL
       |            ELSE GREATEST(CAST(0 AS BIGINT), units + noise)
       |                 * $DpClipChars END AS released_sum,
       |       n_cells, n_cells_released,
       |       CAST($DpClipChars AS BIGINT) AS clip_chars,
       |       CAST($DpEpsCellMicro AS BIGINT) AS eps_release_micro,
       |       CAST($DpDeltaNum AS BIGINT) AS delta_release_num,
       |       CAST($DpDeltaDen AS BIGINT) AS delta_release_den
       |FROM rel CROSS JOIN ledger
       |ORDER BY lang, source""".stripMargin
  }

  // ---- q324: DP unknown-domain histogram (noisy-threshold release) ----

  /** q324's release threshold: a cell appears in the published
    * histogram iff its NOISY count reaches this. */
  val DpVocabTau = 16L
  /** The exact δ of the unknown-domain release: the probability a
    * count-1 cell survives the threshold, P(1 + noise ≥ τ) =
    * P(noise ≥ τ−1) — an exact dyadic tail of the realized noise
    * histogram: Σ_{k=τ−1..19} 2^(19−k) + 1 = 2^(21−τ) − 1 + 1 = 32
    * at τ = 16, over D. Round13OpsSpec recomputes it by enumerating
    * the mechanism. */
  val DpVocabDeltaNum: Long = (1L << (21 - DpVocabTau.toInt)) // 32 at τ=16
  val DpVocabDeltaDen: Long = DpD

  /** q324 — DP histogram over an UNKNOWN key domain (noisy-threshold /
    * stability-based release): the mechanism behind every private
    * vocabulary or n-gram release. q321's histogram enumerates a
    * CLOSED quasi-cell domain, so absent cells can be released as
    * noisy zeros; a vocabulary's domain is the data itself — you
    * cannot add noise to keys you cannot enumerate, and publishing
    * the observed key set verbatim would leak membership. The
    * standard fix: noise every OBSERVED cell's count and publish only
    * cells whose noisy count clears a threshold τ; the probability
    * that a count-1 cell (one document's unique key) sneaks past τ is
    * the release's δ — here an EXACT dyadic rational
    * ([[DpVocabDeltaNum]]/D), because the realized noise distribution
    * is exactly dyadic.
    *
    * Surface: each document's FIRST token (its "title word") — one
    * key per document, so the cells partition the corpus and parallel
    * composition prices the release at one ε = ln 2. The graded table
    * is the auditor's view (every observed cell, its true df, noise,
    * and release flag); the published view is the
    * released = true projection — exactly like q321's n_true
    * discipline.
    *
    * Scale shape: one partial-aggregable first-token aggregate (the
    * cell count is the vocabulary's head — bounded by distinct
    * openings, not corpus rows), a row-local noise projection, a
    * 1-row ledger broadcast. */
  def q324DpVocabRelease(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d)
      .select(element_at(tokens(col("text")), 1).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("tok")).agg(count(lit(1)).as("n_true"))
      .withColumn("u",
        (polyHash(concat_ws("|", lit(DpSalt), lit("vocab"), col("tok")))
          * DpScramble) % P % DpD)
      .withColumn("noise", expr(dpNoiseSql("u")).cast("long"))
      .withColumn("noisy_count", col("n_true") + col("noise"))
      .withColumn("released", col("noisy_count") >= DpVocabTau)
    val ledger = cells.agg(
      count(lit(1)).as("n_cells_observed"),
      sum(col("released").cast("long")).as("n_cells_released"),
      sum(col("n_true")).as("n_docs"))
    cells.crossJoin(broadcast(ledger))
      .withColumn("tau", lit(DpVocabTau))
      .withColumn("eps_release_micro", lit(DpEpsCellMicro))
      .withColumn("delta_release_num", lit(DpVocabDeltaNum))
      .withColumn("delta_release_den", lit(DpVocabDeltaDen))
      .select(col("tok"), col("n_true"), col("u"), col("noise"),
        col("noisy_count"), col("released"), col("n_cells_observed"),
        col("n_cells_released"), col("n_docs"), col("tau"),
        col("eps_release_micro"), col("delta_release_num"),
        col("delta_release_den"))
      .orderBy(col("tok"))
  }

  val q324Sql: String = {
    val uExpr = "(" + polyHashSql(
      s"concat_ws('|', '$DpSalt', 'vocab', tok)") +
      s" * $DpScramble) % $P % $DpD"
    s"""WITH cells AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_true FROM (
       |    SELECT (${tokensSql("text")})[1] AS tok FROM documents)
       |  WHERE tok IS NOT NULL GROUP BY tok),
       |noised AS (
       |  SELECT tok, n_true, CAST($uExpr AS BIGINT) AS u FROM cells),
       |rel AS (
       |  SELECT tok, n_true, u,
       |         CAST(${dpNoiseSql("u")} AS BIGINT) AS noise
       |  FROM noised),
       |ledger AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells_observed,
       |         CAST(SUM(CASE WHEN n_true + noise >= $DpVocabTau
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_cells_released,
       |         CAST(SUM(n_true) AS BIGINT) AS n_docs
       |  FROM rel)
       |SELECT tok, n_true, u, noise,
       |       n_true + noise AS noisy_count,
       |       n_true + noise >= $DpVocabTau AS released,
       |       n_cells_observed, n_cells_released, n_docs,
       |       CAST($DpVocabTau AS BIGINT) AS tau,
       |       CAST($DpEpsCellMicro AS BIGINT) AS eps_release_micro,
       |       CAST($DpVocabDeltaNum AS BIGINT) AS delta_release_num,
       |       CAST($DpVocabDeltaDen AS BIGINT) AS delta_release_den
       |FROM rel CROSS JOIN ledger
       |ORDER BY tok""".stripMargin
  }

  // ---- q325: hierarchical consistency post-processing ----

  /** q325's child-level token-length bucket (coarser than q299's
    * [[GovernanceOps.KAnonLenBucket]] on purpose: every (lang, bucket)
    * cell clears the k-gate at every fixture SF, so the reconciliation
    * never meets a suppressed child — gating belongs to the release
    * ops; this op post-processes released values). */
  val RecLenBucket = 50L
  /** Offset making controlled-rounding dividends nonnegative: Spark's
    * `DIV` truncates toward zero while a negative adjustment needs
    * floor semantics, and the engines are only guaranteed to agree on
    * NONNEGATIVE operands (the q315 discipline) — so divide
    * (diff + B·m) and subtract B back. |diff| is bounded by the noisy
    * parent count (< 2³² at any conceivable corpus), B·m ≫ that. */
  val RecOffset = 1000000L

  /** q325 — consistency post-processing for hierarchical DP releases
    * (Hay et al. "boosting"; the Census TopDown step): q321 showed
    * that a real release ships a parent histogram AND a child level,
    * and because each level is noised independently the numbers DO NOT
    * ADD UP — Σ child ≠ parent, which downstream consumers read as a
    * data bug. The standard fix is free under DP (post-processing of
    * released values only): the variance-minimizing (OLS) estimate
    * subject to the tree constraint, x_p = (m·y_p + Σy_c)/(m+1) with
    * each child shifted by the equal share (y_p − Σy_c)/(m+1), then
    * CONTROLLED ROUNDING so the integer outputs still satisfy the
    * constraint exactly: the floor-divided base share goes to every
    * child and the remainder to the first `rem` children in bucket
    * order (deterministic, engine-exact). The spec asserts the
    * reconciled children SUM EXACTLY to the reconciled parent per
    * lang — the property the op exists for. A reconciled child can in
    * principle go negative under an extreme downward adjustment
    * (clamping would break the sum constraint; Census solves a
    * nonnegative program instead — out of scope, documented).
    *
    * Releases consumed: parent = per-lang counts, children =
    * (lang, n_tok DIV [[RecLenBucket]]) counts, each noised by the
    * shared exact mechanism under its own salt tag. Two levels of the
    * same documents → sequential composition: ε = 2·ln 2,
    * δ = 4/D — the same ledger arithmetic q321 prints.
    *
    * All integer: the only divisions are nonnegative DIVs (the OLS
    * numerator m·y_p + Σy_c is a sum of clamped counts; the rounding
    * dividend is offset by [[RecOffset]]·m — see there). Scale shape:
    * two stacked partial-aggregable aggregates (child cells, then the
    * per-lang fold), one |children|-row window for the remainder
    * ranks, all on a |langs|·|buckets| table — corpus-independent
    * after the one linear pass. */
  def q325DpReconcile(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("len_b", expr(s"n_tok DIV $RecLenBucket"))
    val child = base.groupBy(col("lang"), col("len_b"))
      .agg(count(lit(1)).as("n_true_c"))
      .withColumn("u_c",
        (polyHash(concat_ws("|", lit(DpSalt), lit("rec-child"), col("lang"),
          col("len_b").cast("string"))) * DpScramble) % P % DpD)
      .withColumn("y_c",
        greatest(lit(0L), col("n_true_c") + expr(dpNoiseSql("u_c")).cast("long")))
    val parent = base.groupBy(col("lang")).agg(count(lit(1)).as("n_true_p"))
      .withColumn("u_p",
        (polyHash(concat_ws("|", lit(DpSalt), lit("rec-parent"), col("lang")))
          * DpScramble) % P % DpD)
      .withColumn("y_p",
        greatest(lit(0L), col("n_true_p") + expr(dpNoiseSql("u_p")).cast("long")))
      .select(col("lang"), col("n_true_p"), col("y_p"))
    val fold = child.groupBy(col("lang"))
      .agg(count(lit(1)).as("m"), sum(col("y_c")).as("s_c"))
      .join(parent, "lang")
      // OLS parent estimate, floor-rounded (nonneg dividend)
      .withColumn("x_p", expr("(m * y_p + s_c) DIV (m + 1)"))
      .withColumn("diff", col("x_p") - col("s_c"))
      // controlled rounding: base share (offset floor-division) + the
      // remainder spread over the first `rem` children in bucket order
      .withColumn("base", expr(s"(diff + $RecOffset * m) DIV m - $RecOffset"))
      .withColumn("rem", col("diff") - col("base") * col("m"))
    val wb = Window.partitionBy(col("lang")).orderBy(col("len_b"))
    child.join(broadcast(fold), "lang")
      .withColumn("rnk", row_number().over(wb))
      .withColumn("adj", col("base") + when(col("rnk") <= col("rem"), 1L).otherwise(0L))
      .withColumn("x_c", col("y_c") + col("adj"))
      .withColumn("eps_release_micro", lit(2L * DpEpsCellMicro))
      .withColumn("delta_release_num", lit(2L * DpDeltaNum))
      .withColumn("delta_release_den", lit(DpDeltaDen))
      .select(col("lang"), col("len_b"), col("n_true_c"), col("u_c"),
        col("y_c"), col("m"), col("n_true_p"), col("y_p"), col("s_c"),
        col("x_p"), col("adj"), col("x_c"),
        col("eps_release_micro"), col("delta_release_num"),
        col("delta_release_den"))
      .orderBy(col("lang"), col("len_b"))
  }

  val q325Sql: String = {
    val uChild = "(" + polyHashSql(
      s"concat_ws('|', '$DpSalt', 'rec-child', lang, CAST(len_b AS VARCHAR))") +
      s" * $DpScramble) % $P % $DpD"
    val uParent = "(" + polyHashSql(
      s"concat_ws('|', '$DpSalt', 'rec-parent', lang)") +
      s" * $DpScramble) % $P % $DpD"
    s"""WITH base AS (
       |  SELECT lang,
       |         CAST(len(${tokensSql("text")}) AS BIGINT) // $RecLenBucket AS len_b
       |  FROM documents),
       |child0 AS (
       |  SELECT lang, len_b, CAST(COUNT(*) AS BIGINT) AS n_true_c
       |  FROM base GROUP BY 1, 2),
       |child1 AS (
       |  SELECT lang, len_b, n_true_c, CAST($uChild AS BIGINT) AS u_c
       |  FROM child0),
       |child AS (
       |  SELECT lang, len_b, n_true_c, u_c,
       |         GREATEST(CAST(0 AS BIGINT),
       |           n_true_c + CAST(${dpNoiseSql("u_c")} AS BIGINT)) AS y_c
       |  FROM child1),
       |parent0 AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_true_p,
       |         CAST($uParent AS BIGINT) AS u_p
       |  FROM base GROUP BY lang),
       |parent AS (
       |  SELECT lang, n_true_p,
       |         GREATEST(CAST(0 AS BIGINT),
       |           n_true_p + CAST(${dpNoiseSql("u_p")} AS BIGINT)) AS y_p
       |  FROM parent0),
       |fold AS (
       |  SELECT c.lang, CAST(COUNT(*) AS BIGINT) AS m,
       |         CAST(SUM(c.y_c) AS BIGINT) AS s_c,
       |         MIN(p.n_true_p) AS n_true_p, MIN(p.y_p) AS y_p
       |  FROM child c JOIN parent p ON p.lang = c.lang
       |  GROUP BY c.lang),
       |fold2 AS (
       |  SELECT lang, m, s_c, n_true_p, y_p,
       |         (m * y_p + s_c) // (m + 1) AS x_p
       |  FROM fold),
       |fold3 AS (
       |  SELECT *, x_p - s_c AS diff,
       |         ((x_p - s_c) + $RecOffset * m) // m - $RecOffset AS base
       |  FROM fold2),
       |fold4 AS (SELECT *, diff - base * m AS rem FROM fold3),
       |ranked AS (
       |  SELECT c.lang, c.len_b, c.n_true_c, c.u_c, c.y_c,
       |         f.m, f.n_true_p, f.y_p, f.s_c, f.x_p, f.base, f.rem,
       |         ROW_NUMBER() OVER (PARTITION BY c.lang ORDER BY c.len_b) AS rnk
       |  FROM child c JOIN fold4 f ON f.lang = c.lang)
       |SELECT lang, len_b, n_true_c, u_c, y_c, m, n_true_p, y_p, s_c, x_p,
       |       base + CASE WHEN rnk <= rem THEN 1 ELSE 0 END AS adj,
       |       y_c + base + CASE WHEN rnk <= rem THEN 1 ELSE 0 END AS x_c,
       |       CAST(${2L * DpEpsCellMicro} AS BIGINT) AS eps_release_micro,
       |       CAST(${2L * DpDeltaNum} AS BIGINT) AS delta_release_num,
       |       CAST($DpDeltaDen AS BIGINT) AS delta_release_den
       |FROM ranked
       |ORDER BY lang, len_b""".stripMargin
  }

  // ---- q326: the budget-tuning curve for adaptive serving ----

  /** The candidate-budget grid q326 sweeps. */
  val BudgetGrid: Seq[Int] = Seq(16, 64, 256)

  /** q326 — recall-vs-BUDGET tuning curve: the per-BUDGET fold that
    * picks [[AdaptBudget]] empirically, completing the serving-knob
    * family — q247 grades recall at fixed NPROBE (the index-side
    * audit), q322 serves one adaptive budget per query, and this
    * publishes the table a serving team tunes from: for each budget on
    * [[BudgetGrid]], the mean/max probe depth the queries actually
    * needed, the mean candidates scanned (the cost), and the
    * mean/min recall@5 (the quality) — all integer micro folds over
    * the fixed query set. The depth VARIANCE is the point: a fixed
    * nprobe pays the max everywhere, the adaptive budget pays each
    * query's own price, and this curve shows both sides of that trade
    * at every budget.
    *
    * Scale shape: q322's plan with a |grid|-row broadcast fanned in —
    * the cumulative-occupancy window is computed ONCE (16 rows per
    * query), depths derive per (query, budget) from it, candidates
    * join probed cells per budget, and the output is |grid| rows. The
    * budget bounds per-query work exactly as in q322. */
  def q326BudgetCurve(s: SparkSession, d: String): DataFrame = {
    val perQ = perQueryAtBudgets(s, d, BudgetGrid)
    perQ.groupBy(col("budget")).agg(
        count(lit(1)).as("n_queries"),
        expr("sum(probe_depth) * 1000000 DIV count(1)").as("mean_depth_micro"),
        max(col("probe_depth")).cast("long").as("max_depth"),
        expr("sum(n_cand) * 1000000 DIV count(1)").as("mean_cand_micro"),
        expr("sum(recall_micro) DIV count(1)").as("mean_recall_micro"),
        min(col("recall_micro")).as("min_recall_micro"))
      .select(col("budget").cast("long").as("budget"), col("n_queries"),
        col("mean_depth_micro"), col("max_depth"), col("mean_cand_micro"),
        col("mean_recall_micro"), col("min_recall_micro"))
      .orderBy(col("budget"))
  }

  val q326Sql: String = {
    val cos = cosineSql("qe", "ce")
    s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cent
       |               FROM embeddings WHERE vec_id < 16),
       |corpus AS (SELECT vec_id AS cid, embedding AS ce
       |           FROM embeddings WHERE vec_id >= 16),
       |q AS (SELECT cid AS qid, ce AS qe FROM corpus WHERE cid < 24),
       |truth AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY $cos DESC, cid) AS rnk
       |    FROM q JOIN corpus ON qid <> cid)
       |  WHERE rnk <= ${AnnAudit.RecallK}),
       |assigned AS (
       |  SELECT cid, cell FROM (
       |    SELECT corpus.cid, centroid_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY corpus.cid
       |        ORDER BY ${cosineSql("ce", "cent")} DESC, centroid_id) AS rnk
       |    FROM corpus CROSS JOIN cents)
       |  WHERE rnk = 1),
       |occ AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_cell
       |        FROM assigned GROUP BY cell),
       |cell_rank AS (
       |  SELECT cr.qid, cr.cell, cr.cell_rnk,
       |         SUM(COALESCE(occ.n_cell, 0)) OVER (
       |           PARTITION BY cr.qid ORDER BY cr.cell_rnk) AS cum
       |  FROM (
       |    SELECT qid, centroid_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY qid
       |        ORDER BY ${cosineSql("qe", "cent")} DESC, centroid_id) AS cell_rnk
       |    FROM q CROSS JOIN cents) cr
       |  LEFT JOIN occ ON occ.cell = cr.cell),
       |budgets(budget) AS (VALUES ${BudgetGrid.map(b => s"($b)").mkString(", ")}),
       |depth AS (
       |  SELECT qid, budget,
       |    COALESCE(MIN(CASE WHEN cum >= budget THEN cell_rnk END),
       |             MAX(cell_rnk)) AS probe_depth
       |  FROM cell_rank CROSS JOIN budgets GROUP BY qid, budget),
       |cand AS (
       |  SELECT cr.qid, d.budget, d.probe_depth, a.cid
       |  FROM cell_rank cr
       |  JOIN depth d ON d.qid = cr.qid AND cr.cell_rnk <= d.probe_depth
       |  JOIN assigned a ON a.cell = cr.cell
       |  WHERE a.cid <> cr.qid),
       |top AS (
       |  SELECT qid, budget, cid FROM (
       |    SELECT cand.qid, cand.budget, cand.cid,
       |      ROW_NUMBER() OVER (PARTITION BY cand.qid, cand.budget
       |        ORDER BY $cos DESC, cand.cid) AS rnk
       |    FROM cand JOIN corpus ON corpus.cid = cand.cid
       |              JOIN q ON q.qid = cand.qid)
       |  WHERE rnk <= ${AnnAudit.RecallK}),
       |per_q AS (
       |  SELECT nc.qid, nc.budget, nc.probe_depth, nc.n_cand,
       |         CAST(FLOOR(CAST(h.n_hit AS DOUBLE) / ${AnnAudit.RecallK.toDouble}
       |           * 1000000.0 + 0.5) AS BIGINT) AS recall_micro
       |  FROM (SELECT qid, budget, CAST(MIN(probe_depth) AS BIGINT) AS probe_depth,
       |               CAST(COUNT(*) AS BIGINT) AS n_cand
       |        FROM cand GROUP BY qid, budget) nc
       |  JOIN (SELECT top.qid, top.budget,
       |               CAST(SUM(CASE WHEN truth.cid IS NOT NULL THEN 1 ELSE 0 END)
       |                 AS BIGINT) AS n_hit
       |        FROM top LEFT JOIN truth
       |          ON truth.qid = top.qid AND truth.cid = top.cid
       |        GROUP BY 1, 2) h
       |    ON h.qid = nc.qid AND h.budget = nc.budget)
       |SELECT CAST(budget AS BIGINT) AS budget,
       |       CAST(COUNT(*) AS BIGINT) AS n_queries,
       |       (CAST(SUM(probe_depth) AS BIGINT) * 1000000) // COUNT(*)
       |         AS mean_depth_micro,
       |       CAST(MAX(probe_depth) AS BIGINT) AS max_depth,
       |       (CAST(SUM(n_cand) AS BIGINT) * 1000000) // COUNT(*)
       |         AS mean_cand_micro,
       |       CAST(SUM(recall_micro) AS BIGINT) // COUNT(*) AS mean_recall_micro,
       |       CAST(MIN(recall_micro) AS BIGINT) AS min_recall_micro
       |FROM per_q GROUP BY budget
       |ORDER BY budget""".stripMargin
  }

  // ---- q327: USER-level DP release (contribution bounding) ----

  /** Per-(user, event_type) contribution cap for q327. Sits under the
    * fixture's per-pair max (24) and above its median (13), so the
    * bound visibly binds on ~a quarter of pairs — the utility price of
    * user-level privacy, reported per cell as `n_users_at_cap`. */
  val DpUserCap = 16L

  /** q327 — USER-level DP count release with contribution bounding:
    * the privacy-unit subtlety that matters most for training-data
    * releases and that q321/q323/q324 (all RECORD-level: one document
    * = one protected record) do not exercise. Protecting USERS is
    * harder for two reasons this op makes visible in its ledger:
    *
    *  1. one user contributes MANY events to a cell — unbounded
    *     sensitivity until each user's per-cell contribution is capped
    *     at [[DpUserCap]] (capping the per-(user, cell) COUNT, the
    *     standard bounding; for counting it equals keeping each user's
    *     first C events). The capped cell total then moves by ≤ C when
    *     one user is added or removed, so q323's quantize-to-C trick
    *     applies: release in C-units at unit sensitivity with the same
    *     exact dyadic mechanism.
    *  2. one user touches MANY cells — the per-event_type cells do NOT
    *     partition users (they partition EVENTS), so parallel
    *     composition is unavailable at the user level: the user-level
    *     budget is the SEQUENTIAL composition over every cell a user
    *     can influence, ε_user = |cells|·ln 2. The ledger prints both
    *     numbers — `eps_record_micro` (what a record-level reading
    *     would claim) beside `eps_user_micro` (what the release
    *     actually guarantees a user) — because conflating them is the
    *     classic published-DP error.
    *
    * All integer: per-(user, cell) LEAST, one DIV for units, the
    * shared noise fragment, GREATEST clamp, counts for the cap-bind
    * diagnostic. Scale shape: one partial-aggregable (user, type)
    * aggregate (the contribution-bounding pass — at 100 TB this is the
    * per-user state the ingestion tier already maintains), one
    * |cells|-row projection, a 1-row ledger broadcast. */
  def q327DpUserLevel(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .select(col("event_type"),
        least(col("c"), lit(DpUserCap)).as("w"),
        (col("c") > DpUserCap).cast("long").as("at_cap"))
    val cells = perUser.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("at_cap")).as("n_users_at_cap"),
        sum(col("w")).as("capped_total"))
      .withColumn("units", expr(s"capped_total DIV $DpUserCap"))
      .withColumn("u",
        (polyHash(concat_ws("|", lit(DpSalt), lit("user"), col("event_type")))
          * DpScramble) % P % DpD)
      .withColumn("noise", expr(dpNoiseSql("u")).cast("long"))
      .withColumn("released_count",
        greatest(lit(0L), col("units") + col("noise")) * DpUserCap)
    val ledger = cells.agg(count(lit(1)).as("n_cells"))
    cells.crossJoin(broadcast(ledger))
      .withColumn("cap_per_user", lit(DpUserCap))
      .withColumn("eps_record_micro", lit(DpEpsCellMicro))
      .withColumn("eps_user_micro", col("n_cells") * DpEpsCellMicro)
      .withColumn("delta_user_num", col("n_cells") * DpDeltaNum)
      .withColumn("delta_user_den", lit(DpDeltaDen))
      .select(col("event_type"), col("n_users"), col("n_users_at_cap"),
        col("capped_total"), col("units"), col("u"), col("noise"),
        col("released_count"), col("n_cells"), col("cap_per_user"),
        col("eps_record_micro"), col("eps_user_micro"),
        col("delta_user_num"), col("delta_user_den"))
      .orderBy(col("event_type"))
  }

  val q327Sql: String = {
    val uExpr = "(" + polyHashSql(
      s"concat_ws('|', '$DpSalt', 'user', event_type)") +
      s" * $DpScramble) % $P % $DpD"
    s"""WITH per_user AS (
       |  SELECT event_type,
       |         LEAST(CAST(COUNT(*) AS BIGINT), $DpUserCap) AS w,
       |         CASE WHEN COUNT(*) > $DpUserCap THEN 1 ELSE 0 END AS at_cap
       |  FROM events GROUP BY event_type, user_id),
       |cells AS (
       |  SELECT event_type,
       |         CAST(COUNT(*) AS BIGINT) AS n_users,
       |         CAST(SUM(at_cap) AS BIGINT) AS n_users_at_cap,
       |         CAST(SUM(w) AS BIGINT) AS capped_total
       |  FROM per_user GROUP BY event_type),
       |noised AS (
       |  SELECT *, capped_total // $DpUserCap AS units,
       |         CAST($uExpr AS BIGINT) AS u
       |  FROM cells),
       |rel AS (
       |  SELECT *, CAST(${dpNoiseSql("u")} AS BIGINT) AS noise FROM noised),
       |ledger AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells FROM rel)
       |SELECT event_type, n_users, n_users_at_cap, capped_total, units, u,
       |       noise,
       |       GREATEST(CAST(0 AS BIGINT), units + noise) * $DpUserCap
       |         AS released_count,
       |       n_cells,
       |       CAST($DpUserCap AS BIGINT) AS cap_per_user,
       |       CAST($DpEpsCellMicro AS BIGINT) AS eps_record_micro,
       |       n_cells * $DpEpsCellMicro AS eps_user_micro,
       |       n_cells * $DpDeltaNum AS delta_user_num,
       |       CAST($DpDeltaDen AS BIGINT) AS delta_user_den
       |FROM rel CROSS JOIN ledger
       |ORDER BY event_type""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q321_dp_release" -> q321DpRelease _,
    "q322_multiprobe_adaptive" -> q322MultiProbe _,
    "q323_dp_sum_release" -> q323DpSumRelease _,
    "q324_dp_vocab_release" -> q324DpVocabRelease _,
    "q325_dp_reconcile" -> q325DpReconcile _,
    "q326_budget_curve" -> q326BudgetCurve _,
    "q327_dp_user_level" -> q327DpUserLevel _)

  val oracles: Map[String, String] = Map(
    "q321_dp_release" -> q321Sql,
    "q322_multiprobe_adaptive" -> q322Sql,
    "q323_dp_sum_release" -> q323Sql,
    "q324_dp_vocab_release" -> q324Sql,
    "q325_dp_reconcile" -> q325Sql,
    "q326_budget_curve" -> q326Sql,
    "q327_dp_user_level" -> q327Sql)
}
