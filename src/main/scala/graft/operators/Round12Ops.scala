package graft.operators

import graft.Tables
import graft.functions.Portable._
import graft.ml.{ArtifactStore, HybridIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 operators: the cross-process half of the artifact lifecycle
  * (q313 — round-11 verdict missing #2), sketch SET ALGEBRA (q314 — the
  * a-not-b / multi-way capability the KMV tier stopped short of), and
  * weight-aware priority sampling with the subset-sum estimator (q315 —
  * sample once, estimate any slice later).
  */
object Round12Ops extends QueryModule {
  /** q313's corpus versions, sliced from the fixture like q309's
    * ([[Round11Ops.StaleSlice]] discipline, a different slice so the two
    * probes never share a scratch corpus): v1 = even ids below
    * [[AdoptSlice]], v2 = all ids below it. */
  val AdoptSlice = 100

  /** q313 — cross-process artifact adoption: the half of the persisted-
    * index lifecycle q309 does NOT grade. q309 proves rebuild-iff-
    * content-changed within one process, where the in-memory registry
    * can answer; production artifacts outlive the JVM that built them —
    * a NEW session must adopt a warm on-disk artifact without
    * rebuilding, and must still rebuild when the corpus moved on.
    * [[graft.ml.ArtifactStore]] persists the build fingerprint inside
    * the artifact as a `_FINGERPRINT` marker (written last, moved into
    * place atomically); a cold ensure re-derives the corpus fingerprint
    * and compares it to the marker. Four phases:
    *
    *  1. `1_build`      — first ensure on corpus v1 → build fires;
    *  2. `2_warm`       — same-JVM ensure → no build (registry hit);
    *  3. `3_cold_adopt` — registry entry dropped
    *     ([[graft.ml.ArtifactStore.dropMemo]] — byte-identical to a
    *     process restart against a persistent root: the ONLY state left
    *     is the on-disk artifact and its marker; since round 13 this is
    *     MEASURED, not argued — ArtifactStoreSpec forks real second
    *     JVMs through build/adopt/rebuild-on-stale, and
    *     `tools/crossjvm_check.sh` + SCALING.md record the wall numbers)
    *     → ensure ADOPTS without rebuilding and the artifact still
    *     serves v1's rows;
    *  4. `4_cold_stale` — corpus overwritten with v2, registry dropped
    *     again → the marker no longer matches, the rebuild fires, and
    *     the re-indexed artifact covers v2.
    *
    * Each phase reports (rebuilt, n_indexed) with n_indexed counted from
    * the persisted `assigned` artifact. Scale shape: identical to q309 —
    * fixed ≤[[AdoptSlice]]-row probe corpora, a memoized 4-row read, two
    * real index builds that ride in Bench's `build_wall_sec`; the
    * adopt-path cost phase 3 measures is ONE marker read plus the
    * metadata+tail fingerprint walk (O(file count), no data scan — at
    * 100 TB, one snapshot-id comparison). */
  def q313ArtifactAdopt(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // lazy per-corpus memo (Round11Ops.ProbeMemo — the q309 ADVICE-r11
    // discipline): the map insert is cheap; the probe runs under the
    // holder's lazy-val lock, never a global one
    adoptCache.computeIfAbsent(d, _ => new Round11Ops.ProbeMemo(runAdoptProbe(s, d)))
      .value.toDF("phase", "rebuilt", "n_indexed")
      .orderBy(col("phase"))
  }

  private val adoptCache =
    new java.util.concurrent.ConcurrentHashMap[String, Round11Ops.ProbeMemo]

  private def runAdoptProbe(s: SparkSession, d: String): Seq[(String, Boolean, Long)] = {
    // shares q309's scratch root + single shutdown hook (which also
    // drops the probe corpora's ArtifactStore entries, so a persistent
    // artifact root never accumulates per-run scratch indexes)
    val work = Round11Ops.probeRoot.resolve("q313-" + ArtifactStore.pathKey(d))
    val dir = work.toString
    Round11Ops.probedDirs.add(dir): Unit
    def writeCorpus(evenOnly: Boolean): Unit = {
      val keep = (idCol: String) => {
        val base = col(idCol) < AdoptSlice
        if (evenOnly) base && col(idCol) % 2 === 0 else base
      }
      // coalesce(1) is PROBE-ONLY scope: these scratch corpora are
      // ≤ AdoptSlice rows by construction, and a single file makes the
      // fingerprint walk's file set deterministic. Never copy this onto
      // a real corpus write — one file serializes the whole write (the
      // Medallion/Layout sinks show the partitioned production shape).
      Tables.documents(s, d).filter(keep("doc_id")).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Tables.embeddings(s, d).filter(keep("vec_id")).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    def indexed(): Long = HybridIndex.assigned(s, dir).count()

    writeCorpus(evenOnly = true)
    val (_, b1) = HybridIndex.ensureTracked(s, dir)
    val n1 = indexed()
    val (_, b2) = HybridIndex.ensureTracked(s, dir)
    val n2 = indexed()
    HybridIndex.dropMemo(dir) // "process restart": only the disk artifact remains
    val (_, b3) = HybridIndex.ensureTracked(s, dir)
    val n3 = indexed()
    writeCorpus(evenOnly = false)
    HybridIndex.dropMemo(dir)
    val (_, b4) = HybridIndex.ensureTracked(s, dir)
    val n4 = indexed()
    Seq(("1_build", b1, n1), ("2_warm", b2, n2),
      ("3_cold_adopt", b3, n3), ("4_cold_stale", b4, n4))
  }

  /** The oracle states the cross-process contract (adopt iff the marker
    * matches the corpus content) with index sizes from the same fixture
    * slices the probe writes. */
  val q313Sql: String =
    s"""WITH sizes AS (
       |  SELECT
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
       |      WHERE vec_id < $AdoptSlice AND vec_id % 2 = 0) AS n_v1,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
       |      WHERE vec_id < $AdoptSlice) AS n_v2)
       |SELECT phase, rebuilt, n_indexed FROM (
       |  SELECT '1_build' AS phase, TRUE AS rebuilt, n_v1 AS n_indexed FROM sizes
       |  UNION ALL SELECT '2_warm', FALSE, n_v1 FROM sizes
       |  UNION ALL SELECT '3_cold_adopt', FALSE, n_v1 FROM sizes
       |  UNION ALL SELECT '4_cold_stale', TRUE, n_v2 FROM sizes)
       |ORDER BY phase""".stripMargin

  /** Sketch size for q314's theta-style set algebra. */
  val ThetaK = 64

  /** q314 — sketch SET ALGEBRA over per-source KMV (bottom-k) sketches:
    * per-source distinct-shingle cardinality AND the a-not-b "unique
    * contribution" (shingles appearing in exactly one source), both
    * estimated from the k-value sketches alone and graded beside the
    * exact passes they replace.
    *
    * The KMV tier so far answers single-set questions: q181 per-group
    * cardinality, q190 pairwise Jaccard via the union-k trick. Neither
    * supports set EXPRESSIONS — "how much vocabulary does each source
    * contribute that no other source has" needs a-not-b across all 20
    * sketches at once, the theta-sketch capability (Dasgupta et al.,
    * DataSketches): pick one common threshold θ = min over per-source
    * thetas (θₛ = the k-th smallest hash, or the hash-space bound P when
    * the source has < k distinct values); below θ every sketch retains
    * ALL its source's hashes, so ANY set expression evaluates exactly on
    * the union of samples and scales by P/θ. Estimates are
    * count·P DIV θ — single integer division, engine-exact; when every
    * source is exact (θ = P) the estimates COLLAPSE to the exact counts.
    *
    * Scale shape: one distinct (source, shingle) pass → one bounded
    * smallest_k aggregate (O(k) mergeable state per source — the sketch
    * that ships); the set algebra then runs on ≤ |sources|·k sample rows
    * — independent of corpus size. The exact passes (graded beside) are
    * themselves linear partial-aggregable counts, not pairwise joins: a
    * per-hash source-count profile, the same profile q311 uses for join
    * truth. At 100 TB the sketches are the only thing that crosses
    * day/source boundaries; the set expressions never touch the corpus.
    *
    * Plan shape: shingles come from the q35/HybridIndex dict pipeline —
    * the char-level polynomial hash runs once per DISTINCT token (a
    * broadcast dict join + two lead windows), not once per occurrence,
    * and the distinct (source, shingle) set is persisted because five
    * downstream branches (two exact profiles, the sketch, and the two
    * estimate folds via the shared θ) would otherwise each re-derive it
    * — the first cut did exactly that and cost 96 s at sf0.1 vs ~3 s
    * for this shape, hash-identical output. */
  def q314SketchSetAlgebra(s: SparkSession, d: String): DataFrame = {
    graft.functions.AggExpressions.register(s)
    val tok = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val dict = tok.select(col("tok")).distinct()
      .withColumn("th", polyHash(col("tok")))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val sh = tok.join(broadcast(dict), "tok")
      .withColumn("h1", lead(col("th"), 1).over(wp))
      .withColumn("h2", lead(col("th"), 2).over(wp))
      .filter(col("h2").isNotNull)
      .select(col("source"),
        (((col("th") * 31 + col("h1")) % P * 31 + col("h2")) % P).as("h"))
      .distinct()
      .persist()
    val exactD = sh.groupBy(col("source")).agg(count(lit(1)).as("n_distinct"))
    val exactU = sh.groupBy(col("h"))
      .agg(count(lit(1)).as("ns"), min(col("source")).as("source"))
      .filter(col("ns") === 1)
      .groupBy(col("source")).agg(count(lit(1)).as("n_unique"))
    val th = sh.groupBy(col("source"))
      .agg(expr(s"smallest_k(h, $ThetaK)").as("kmin"))
      .withColumn("theta",
        when(size(col("kmin")) < ThetaK, lit(P))
          .otherwise(element_at(col("kmin"), ThetaK)))
    val tg = th.agg(min(col("theta")).as("theta_g"))
    // below θ every sketch is a COMPLETE sample of its source
    val sample = th.crossJoin(broadcast(tg))
      .select(col("source"), col("theta_g"),
        explode(filter(col("kmin"), h => h < col("theta_g"))).as("h"))
    val estD = sample.groupBy(col("source"), col("theta_g"))
      .agg(count(lit(1)).as("c"))
      .select(col("source"), expr(s"c * ${P}L DIV theta_g").as("est_distinct"))
    val estU = sample.groupBy(col("h"), col("theta_g"))
      .agg(count(lit(1)).as("ns"), min(col("source")).as("source"))
      .filter(col("ns") === 1)
      .groupBy(col("source"), col("theta_g")).agg(count(lit(1)).as("u"))
      .select(col("source"), expr(s"u * ${P}L DIV theta_g").as("est_unique"))
    exactD
      .join(exactU, Seq("source"), "left")
      .join(estD, Seq("source"), "left")
      .join(estU, Seq("source"), "left")
      .select(col("source"), col("n_distinct"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        coalesce(col("est_distinct"), lit(0L)).as("est_distinct"),
        coalesce(col("est_unique"), lit(0L)).as("est_unique"))
      .orderBy(col("source"))
  }

  val q314Sql: String =
    s"""WITH th AS (
       |  SELECT source, ${tokenHashesSql(tokensSql("text"))} AS hs FROM documents),
       |sh AS (SELECT DISTINCT source, unnest(${shingleHashesSql("hs")}) AS h FROM th),
       |exd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_distinct
       |        FROM sh GROUP BY 1),
       |exu AS (SELECT source, CAST(count(*) AS BIGINT) AS n_unique FROM (
       |          SELECT h, count(*) AS ns, min(source) AS source
       |          FROM sh GROUP BY h)
       |        WHERE ns = 1 GROUP BY 1),
       |rn AS (SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h) AS r
       |       FROM sh),
       |thp AS (SELECT source,
       |          CASE WHEN count(*) >= $ThetaK
       |               THEN max(CASE WHEN r = $ThetaK THEN h END)
       |               ELSE $P END AS theta
       |        FROM rn WHERE r <= $ThetaK GROUP BY source),
       |tg AS (SELECT min(theta) AS theta_g FROM thp),
       |sample AS (SELECT rn.source, rn.h, tg.theta_g
       |           FROM rn, tg WHERE rn.r <= $ThetaK AND rn.h < tg.theta_g),
       |esd AS (SELECT source,
       |          (CAST(count(*) AS BIGINT) * $P) // min(theta_g) AS est_distinct
       |        FROM sample GROUP BY source),
       |esu AS (SELECT source,
       |          (CAST(count(*) AS BIGINT) * $P) // min(theta_g) AS est_unique
       |        FROM (SELECT h, count(*) AS ns, min(source) AS source,
       |                min(theta_g) AS theta_g
       |              FROM sample GROUP BY h)
       |        WHERE ns = 1 GROUP BY source)
       |SELECT exd.source, n_distinct,
       |       COALESCE(n_unique, 0) AS n_unique,
       |       COALESCE(est_distinct, 0) AS est_distinct,
       |       COALESCE(est_unique, 0) AS est_unique
       |FROM exd
       |LEFT JOIN exu USING (source)
       |LEFT JOIN esd USING (source)
       |LEFT JOIN esu USING (source)
       |ORDER BY source""".stripMargin

  /** q315's sample size and the hash-uniform constants (scattered primes,
    * the AmsCoef discipline): u = ((A·doc_id + B) mod P + 1)/P ∈ (0, 1].
    *
    * Nonnegative-id invariant (ADVICE r12/r13): this hash arithmetic
    * uses plain `%`, which Spark and DuckDB both define as
    * sign-following; the formulas assume doc_id/o_orderkey/user_id ≥ 0
    * (true of every fixture table and of the TPC-H data contract they
    * model). A negative id would shift q315's sample deterministically
    * on BOTH engines identically (both sides use the same `%`), so its
    * correctness holds regardless. q317's arm bucketing AND q318's HRW
    * scoring + `mod_moved` column (see [[q318RendezvousShards]]) mix
    * Spark `pmod` with the oracle's plain `%`: q317's oracle uses the
    * pmod-equivalent `((x % m) + m) % m` form for exactly that reason,
    * while q318 relies on the nonnegative-id contract itself (pmod and
    * `%` coincide on nonnegative operands) — a negative o_orderkey
    * would diverge there, which is why the invariant is stated here. */
  val PrioK = 128
  val PrioA = 265443577L
  val PrioB = 362437L

  /** q315 — priority sampling (Duffield–Lund–Thorup): ONE weighted
    * sample of k documents that can later estimate the total weight of
    * ANY subset — the "sample once, slice later" warehouse pattern. Each
    * item gets priority q = w/u (u a hash uniform); the sample is the
    * top-k by priority, τ the (k+1)-th priority, and any subset S is
    * estimated by Σ_{i∈sample∩S} max(wᵢ, τ) — unbiased, with variance
    * optimal up to a factor among k-sample schemes. Graded per source:
    * the per-source estimate from the ONE global sample, beside the
    * exact per-source totals, with the integer-DIV relative error.
    *
    * Differs from its sampling neighbors: q180 (PPS systematic) selects
    * ∝ weight but carries no estimator — τ is exactly what q180 lacks;
    * q142 (A-ES exponential keys) draws a fixed-size sample PER SOURCE
    * with float log keys and, again, no subset estimator; q286 (Gumbel
    * top-k) samples WITHOUT weight-proportional inclusion guarantees
    * for subset sums; q291 (coverage) stratifies by group rather than
    * weight. All-integer: u never materializes — priorities
    * are w·P DIV (h+1) in weight units, τ and the max() estimator stay
    * in int64 (w·P ≤ n_chars·10⁹ ≪ 2⁶³), and Spark DIV / DuckDB //
    * truncate identically.
    *
    * Scale shape: one linear projection (hash, priority), one top-(k+1)
    * (TakeOrdered — never a global sort), a k-row window for ranks, a
    * 1-row broadcast τ, then a partial-aggregable per-source fold over
    * the k sample rows joined to the |sources|-row exact panel. */
  def q315PrioritySample(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars").as("w"))
      .withColumn("u1", expr(s"($PrioA * doc_id + $PrioB) % ${P}L + 1L"))
      .withColumn("q", expr(s"w * ${P}L DIV u1"))
    val top = base.orderBy(col("q").desc, col("doc_id")).limit(PrioK + 1)
    // rank within the k+1 retained rows — a window over LITERAL-bounded
    // input (≤ PrioK+1 rows by the limit above), never the corpus
    val ranked = top.withColumn("rn",
      row_number().over(Window.orderBy(col("q").desc, col("doc_id"))))
    val tau = ranked.agg(
      coalesce(min(when(col("rn") === PrioK + 1, col("q"))), lit(0L)).as("tau"))
    val est = ranked.filter(col("rn") <= PrioK)
      .crossJoin(broadcast(tau))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(greatest(col("w"), col("tau"))).as("w_est"))
    Tables.documents(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("w_exact"))
      .join(est, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("w_exact"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("w_est"), lit(0L)).as("w_est"))
      .withColumn("err_micro", expr("abs(w_est - w_exact) * 1000000 DIV w_exact"))
      .orderBy(col("source"))
  }

  val q315Sql: String =
    s"""WITH pr AS (
       |  SELECT doc_id, source, n_chars AS w,
       |         (n_chars * $P) // (($PrioA * doc_id + $PrioB) % $P + 1) AS q
       |  FROM documents),
       |rn AS (SELECT source, w, q,
       |         row_number() OVER (ORDER BY q DESC, doc_id) AS rn
       |       FROM pr),
       |tau AS (SELECT CAST(COALESCE(
       |          min(CASE WHEN rn = ${PrioK + 1} THEN q END), 0) AS BIGINT) AS tau
       |        FROM rn WHERE rn <= ${PrioK + 1}),
       |est AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sampled,
       |          CAST(sum(greatest(w, tau)) AS BIGINT) AS w_est
       |        FROM rn, tau WHERE rn <= $PrioK GROUP BY source),
       |exact AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |            CAST(sum(n_chars) AS BIGINT) AS w_exact
       |          FROM documents GROUP BY 1)
       |SELECT source, n_docs, w_exact,
       |       COALESCE(n_sampled, CAST(0 AS BIGINT)) AS n_sampled,
       |       COALESCE(w_est, CAST(0 AS BIGINT)) AS w_est,
       |       (ABS(COALESCE(w_est, CAST(0 AS BIGINT)) - w_exact) * 1000000)
       |         // w_exact AS err_micro
       |FROM exact LEFT JOIN est USING (source)
       |ORDER BY source""".stripMargin

  /** q316 thresholds: rebalance when the fullest cell exceeds 1.5× the
    * mean occupancy, or when the delta's cell distribution has drifted
    * more than 10% total variation from the state's. */
  val IvfImbalanceMaxMicro = 1500000L
  val IvfDriftMaxMicro = 100000L

  /** q316 — IVF rebalance gate: the maintenance DECISION the index
    * lifecycle was missing. The stages so far: build once (q305/q313),
    * serve (q274), absorb append deltas without retraining (q276) —
    * but absorb-forever degrades an IVF (cells overfill; the frozen
    * centroids stop matching the data distribution), so production
    * systems gate a periodic RETRAIN on measured health. This op reads
    * q276's maintenance view (per-cell state/delta occupancy — one
    * shared code path, so the gate grades the same numbers the
    * maintenance op serves) and folds it to the two standard health
    * signals plus the decision:
    *
    *  - `imbalance_micro` — fullest cell ÷ mean occupancy (micro):
    *    catches cell overfill, the query-latency killer (a probe scans
    *    the fullest cell at p99);
    *  - `tv_drift_micro` — total-variation distance between the
    *    state's and the delta's cell-share distributions: catches
    *    distribution shift the frozen quantizer no longer fits;
    *  - `rebuild` = either threshold tripped, or any cell went EMPTY
    *    (a dead centroid serves nothing and steals a probe).
    *
    * All integer: occupancies are counts, imbalance is one integer DIV
    * on exact products, the TV distance is a sum of micro-share
    * absolute differences DIV 2, and the flags are comparisons —
    * engine-exact. Scale shape: everything after q276's linear
    * maintenance pass is a k-row fold (k = 8 cells); at 100 TB the gate
    * reads the same k-row occupancy table the serving tier already
    * maintains, so the retrain decision costs nothing beyond it. */
  def q316IvfRebalance(s: SparkSession, d: String): DataFrame = {
    Round8Ops.q276IvfMaintain(s, d)
      .agg(
        count(lit(1)).as("k"),
        sum(col("n_state")).as("n_state"),
        sum(col("n_delta")).as("n_delta"),
        max(col("n_total")).as("max_cell"),
        sum(col("n_total")).as("n_all"),
        sum((col("n_total") === 0L).cast("long")).as("n_empty_cells"),
        sum(abs(col("share_state_micro") - col("share_delta_micro"))).as("tv2"))
      .select(
        col("k"), col("n_state"), col("n_delta"), col("max_cell"),
        expr("CASE WHEN n_all = 0 THEN 0 ELSE max_cell * k * 1000000 DIV n_all END")
          .as("imbalance_micro"),
        expr("tv2 DIV 2").as("tv_drift_micro"),
        col("n_empty_cells"))
      .withColumn("rebalance_imbalance", col("imbalance_micro") > IvfImbalanceMaxMicro)
      .withColumn("rebalance_drift", col("tv_drift_micro") > IvfDriftMaxMicro)
      .withColumn("rebuild",
        col("rebalance_imbalance") || col("rebalance_drift") || col("n_empty_cells") > 0)
  }

  /** The oracle replays q276's full unrolled-Lloyd maintenance oracle
    * as a subquery and states the same k-row fold over it — one source
    * of truth for the assignment semantics. */
  val q316Sql: String =
    s"""SELECT k, n_state, n_delta, max_cell,
       |       CASE WHEN n_all = 0 THEN 0
       |            ELSE (max_cell * k * 1000000) // n_all END AS imbalance_micro,
       |       tv2 // 2 AS tv_drift_micro,
       |       n_empty_cells,
       |       CASE WHEN n_all = 0 THEN 0
       |            ELSE (max_cell * k * 1000000) // n_all END
       |         > $IvfImbalanceMaxMicro AS rebalance_imbalance,
       |       tv2 // 2 > $IvfDriftMaxMicro AS rebalance_drift,
       |       (CASE WHEN n_all = 0 THEN 0
       |             ELSE (max_cell * k * 1000000) // n_all END
       |          > $IvfImbalanceMaxMicro)
       |         OR (tv2 // 2 > $IvfDriftMaxMicro)
       |         OR (n_empty_cells > 0) AS rebuild
       |FROM (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
       |         CAST(SUM(n_state) AS BIGINT) AS n_state,
       |         CAST(SUM(n_delta) AS BIGINT) AS n_delta,
       |         CAST(MAX(n_total) AS BIGINT) AS max_cell,
       |         CAST(SUM(n_total) AS BIGINT) AS n_all,
       |         CAST(SUM(CASE WHEN n_total = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_empty_cells,
       |         CAST(SUM(ABS(share_state_micro - share_delta_micro)) AS BIGINT) AS tv2
       |  FROM (
       |${Round8Ops.q276Sql}
       |  ) maint)""".stripMargin

  /** q317 geometry: 4 equal-weight arms; the chi-square critical value
    * at df = 3, p = 0.05 is 7.815 (micro units). */
  val SrmArms = 4
  val SrmChi2MaxMicro = 7815000L

  /** q317 — sample-ratio-mismatch (SRM) guard: the standard
    * experimentation guardrail q143's A/B readout stops short of. A
    * conversion readout is meaningless if the RANDOMIZATION broke —
    * unequal arm sizes from a biased assignment silently bias every
    * downstream metric — so production experiment platforms gate
    * readouts on a chi-square test of observed arm counts against the
    * planned split. Two assignments of the same distinct-user universe
    * are graded side by side: `1_hash_mult` (q143's multiplicative
    * hash — healthy, passes) and `2_mod_bucket` (user_id mod 3 folded
    * into a 4-arm plan — the classic broken rollout where one arm never
    * fills; the guard must fire).
    *
    * All integer: with equal weights the per-arm term is
    * (4·oᵢ − T)²·10⁶ DIV (4·T) (one truncating division per term, the
    * q295 discipline — documented and mirrored in the oracle), summed
    * into `chi2_micro` and compared to the df=3 critical value. The
    * exact-int64 form holds while (4T)²·10⁶ < 2⁶³, i.e. T up to ~3·10⁶
    * randomization units; past that the identical terms run in
    * DECIMAL(38,0) (or the micro factor drops to 10³ — the statistic
    * needs 3 significant decimals, not 6), term structure unchanged —
    * the q310 documented-bound discipline. Scale shape: one distinct
    * pass over the randomization units, then a |arms|-row fold per
    * assignment — partial-aggregable end to end. */
  def q317SrmGuard(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d).select(col("user_id")).distinct()
    def readout(variant: String, arm: org.apache.spark.sql.Column): DataFrame = {
      val counts = users.select(arm.as("arm"))
        .groupBy(col("arm")).agg(count(lit(1)).as("n"))
      val armN = (i: Int) =>
        coalesce(sum(when(col("arm") === i, col("n"))), lit(0L)).as(s"n$i")
      counts.agg(armN(0), (1 until SrmArms).map(armN): _*)
        .withColumn("variant", lit(variant))
        .withColumn("n_users", expr((0 until SrmArms).map(i => s"n$i").mkString(" + ")))
        .withColumn("chi2_micro", expr((0 until SrmArms).map(i =>
          s"(($SrmArms*n$i - n_users)*($SrmArms*n$i - n_users)*1000000)" +
            s" DIV ($SrmArms*n_users)").mkString(" + ")))
        .withColumn("srm", col("chi2_micro") > SrmChi2MaxMicro)
    }
    val healthy = readout("1_hash_mult",
      pmod(col("user_id") * lit(2654435761L), lit(SrmArms.toLong)))
    val buggy = readout("2_mod_bucket", pmod(col("user_id"), lit(3L)))
    healthy.unionByName(buggy)
      .select(col("variant"), col("n0"), col("n1"), col("n2"), col("n3"),
        col("n_users"), col("chi2_micro"), col("srm"))
      .orderBy(col("variant"))
  }

  val q317Sql: String = {
    def variant(name: String, armExpr: String): String = {
      val terms = (0 until SrmArms).map(i =>
        s"(($SrmArms*n$i - n_users)*($SrmArms*n$i - n_users)*1000000) // ($SrmArms*n_users)")
        .mkString(" + ")
      val ns = (0 until SrmArms).map(i =>
        s"CAST(SUM(CASE WHEN arm = $i THEN 1 ELSE 0 END) AS BIGINT) AS n$i")
        .mkString(", ")
      s"""SELECT variant, n0, n1, n2, n3, n_users,
         |       $terms AS chi2_micro,
         |       ($terms) > $SrmChi2MaxMicro AS srm
         |FROM (SELECT '$name' AS variant, $ns,
         |             CAST(COUNT(*) AS BIGINT) AS n_users
         |      FROM (SELECT $armExpr AS arm FROM users))""".stripMargin
    }
    // pmod-equivalent bucketing (ADVICE r12): the Spark side uses pmod,
    // so the oracle wraps each residue as ((x % m) + m) % m — identical
    // for the fixtures' nonnegative user_ids and loudly identical (not
    // data-dependently divergent) if a negative id ever enters
    s"""WITH users AS (SELECT DISTINCT user_id FROM events)
       |SELECT * FROM (
       |${variant("1_hash_mult",
           s"(((user_id * 2654435761) % $SrmArms) + $SrmArms) % $SrmArms")}
       |UNION ALL
       |${variant("2_mod_bucket", "((user_id % 3) + 3) % 3")})
       |ORDER BY variant""".stripMargin
  }

  /** q318 shard counts and the per-shard rendezvous primes (scattered,
    * the AmsCoef discipline — one per candidate shard, max 9). */
  val ShardsBefore = 8
  val ShardsAfter = 9
  val HrwPrimes: Seq[Long] = Seq(
    472882049L, 533000401L, 601843553L, 677567567L, 702683951L,
    765245483L, 829517039L, 881917807L, 920419843L)

  /** q318 — shard-assignment move cost under cluster growth: rendezvous
    * (highest-random-weight) hashing vs modulo bucketing when the shard
    * count grows [[ShardsBefore]] → [[ShardsAfter]]. The
    * partitioning-DESIGN op for a 100 TB store: re-sharding cost is the
    * data you must physically move, and the two schemes differ by an
    * order of magnitude — mod N reassigns ≈ N/(N+1) of all keys (every
    * key whose residue changes), while HRW moves only the keys whose
    * argmax lands on the NEW shard, ≈ 1/(N+1) — the minimal-disruption
    * bound consistent hashing exists for. Both schemes are measured on
    * the same key universe (distinct order keys) and graded as exact
    * moved-fraction integers.
    *
    * HRW here: shard(key) = argmax over shards of
    * (key+1)·prime(shard) mod P, ties to the larger shard id — the
    * argmax is a lexicographic max over (score, shard) structs, which
    * Spark's `array_max` and DuckDB's `max(struct)` both implement
    * identically, so even the tie-breaks hash-match. All integer.
    *
    * Scale shape: one stateless projection per key (array of ≤9 codegen
    * struct scores, two argmaxes, two mods), then a 2-row fold —
    * shuffle-free until the final counts; the key universe never
    * leaves its scan partitioning. */
  def q318RendezvousShards(s: SparkSession, d: String): DataFrame = {
    val keys = Tables.orders(s, d).select(col("o_orderkey").as("k")).distinct()
    def hrwShard(n: Int): org.apache.spark.sql.Column =
      array_max(array((0 until n).map(i =>
        struct(pmod((col("k") + 1) * lit(HrwPrimes(i)), lit(P)).as("score"),
          lit(i.toLong).as("shard"))): _*)).getField("shard")
    keys.select(
        (hrwShard(ShardsBefore) =!= hrwShard(ShardsAfter)).cast("long").as("hrw_moved"),
        (pmod(col("k"), lit(ShardsBefore.toLong)) =!=
          pmod(col("k"), lit(ShardsAfter.toLong))).cast("long").as("mod_moved"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("hrw_moved")).as("hrw"), sum(col("mod_moved")).as("modm"))
      // 1-row fold fanned to the 2-row panel in-plan (no driver collect)
      .select(explode(array(
        struct(lit("1_rendezvous").as("scheme"), col("n_keys"),
          col("hrw").as("n_moved")),
        struct(lit("2_mod_bucket").as("scheme"), col("n_keys"),
          col("modm").as("n_moved")))).as("e"))
      .select(col("e.scheme").as("scheme"), col("e.n_keys").as("n_keys"),
        col("e.n_moved").as("n_moved"))
      .withColumn("moved_micro", expr("n_moved * 1000000 DIV n_keys"))
      .orderBy(col("scheme"))
  }

  val q318Sql: String = {
    def scoreList(n: Int): String = (0 until n).map(i =>
      s"struct_pack(score := ((k+1)*${HrwPrimes(i)}) % $P, shard := CAST($i AS BIGINT))")
      .mkString("[", ", ", "]")
    s"""WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders),
       |asn AS (
       |  SELECT k,
       |    list_max(${scoreList(ShardsBefore)}).shard AS h8,
       |    list_max(${scoreList(ShardsAfter)}).shard AS h9,
       |    k % $ShardsBefore AS m8, k % $ShardsAfter AS m9
       |  FROM keys),
       |folded AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       |         CAST(SUM(CASE WHEN h8 <> h9 THEN 1 ELSE 0 END) AS BIGINT) AS hrw,
       |         CAST(SUM(CASE WHEN m8 <> m9 THEN 1 ELSE 0 END) AS BIGINT) AS modm
       |  FROM asn)
       |SELECT scheme, n_keys, n_moved, (n_moved * 1000000) // n_keys AS moved_micro
       |FROM (
       |  SELECT '1_rendezvous' AS scheme, n_keys, hrw AS n_moved FROM folded
       |  UNION ALL
       |  SELECT '2_mod_bucket', n_keys, modm FROM folded)
       |ORDER BY scheme""".stripMargin
  }

  private def det3(a: Seq[String]): String =
    s"(${a(0)}*(${a(4)}*${a(8)} - ${a(5)}*${a(7)}) " +
      s"- ${a(1)}*(${a(3)}*${a(8)} - ${a(5)}*${a(6)}) " +
      s"+ ${a(2)}*(${a(3)}*${a(7)} - ${a(4)}*${a(6)}))"

  /** The q319 normal-equation solution as shared SQL select items
    * (q201's Cramer discipline): over DOUBLE stats columns prefixed
    * `p` — `${p}nd, ${p}sx1, …` — solving [n sx1 sx2; sx1 s11 s12;
    * sx2 s12 s22]·β = [sy; s1y; s2y], each β rounded to 6 dp. */
  private def olsSelect(p: String, suffix: String): Seq[String] = {
    val A = Seq(s"${p}nd", s"${p}sx1", s"${p}sx2", s"${p}sx1", s"${p}s11",
      s"${p}s12", s"${p}sx2", s"${p}s12", s"${p}s22")
    val dA = det3(A)
    def repl(c: Int): String =
      det3(A.zipWithIndex.map { case (e, i) =>
        if (i % 3 == c) Seq(s"${p}sy", s"${p}s1y", s"${p}s2y")(i / 3) else e
      })
    // singular normal matrix (e.g. x2 collinear with x1 on a degenerate
    // slice) → betas pinned to 0.0 on BOTH engines: Spark's x/0.0 yields
    // NaN/Inf while DuckDB yields NULL, so an unguarded divide would
    // diverge data-dependently (the q276 tot=0 lesson)
    def beta(c: Int, name: String): String =
      s"CASE WHEN $dA = 0.0 THEN 0.0 ELSE ROUND(${repl(c)} / $dA, 6) END AS $name"
    Seq(beta(0, s"b0$suffix"), beta(1, s"b1$suffix"), beta(2, s"b2$suffix"))
  }

  /** The nine sufficient-statistic sums of the q319 probe, as SQL
    * aggregate items over (x1, x2, y) — shared by the per-source pass
    * and the oracle. */
  private val StatSums = Seq(
    "CAST(COUNT(*) AS BIGINT) AS n",
    "CAST(SUM(x1) AS BIGINT) AS lsx1", "CAST(SUM(x2) AS BIGINT) AS lsx2",
    "CAST(SUM(x1*x1) AS BIGINT) AS ls11", "CAST(SUM(x1*x2) AS BIGINT) AS ls12",
    "CAST(SUM(x2*x2) AS BIGINT) AS ls22", "CAST(SUM(y) AS BIGINT) AS lsy",
    "CAST(SUM(x1*y) AS BIGINT) AS ls1y", "CAST(SUM(x2*y) AS BIGINT) AS ls2y")

  /** q319 — leave-one-source-out ablation (data-mixture valuation): for
    * each source, the linear probe REFIT WITHOUT that source's
    * documents, next to the full-corpus fit — "which source moves the
    * model" answered with k ablations at the cost of ONE corpus pass.
    * The probe is a 2-regressor OLS (y = n_chars on x1 = tokens,
    * x2 = distinct tokens — the same closed-form normal-equation
    * discipline as q201); the valuation readout is each source's
    * `influence_micro`, the largest coefficient displacement its
    * removal causes.
    *
    * The load-bearing trick is sufficient-statistic SUBTRACTION: OLS
    * depends on the data only through nine exact-integer sums, the
    * sums are additive over any partition of the corpus, so the
    * leave-one-out stats are (global − source) — computed from the
    * one per-source aggregate, never by re-scanning. That is the
    * production shape for group-influence at 100 TB: one
    * partial-aggregable pass builds the per-group stats table (k rows),
    * and every ablation, including jackknife variants over arbitrary
    * group unions, is driver-side arithmetic on it. Float parity:
    * integer sums → double Cramer with the formula STRING shared
    * between the Spark plan and the oracle (q201's discipline), so the
    * op order is identical by construction; the influence compare runs
    * on the 6-dp-rounded betas. */
  def q319SourceAblation(s: SparkSession, d: String): DataFrame = {
    val feat = Tables.documents(s, d)
      .select(col("source"), tokens(col("text")).as("tk"), col("n_chars").as("y"))
      .select(col("source"), size(col("tk")).cast("long").as("x1"),
        size(array_distinct(col("tk"))).cast("long").as("x2"), col("y"))
      .filter(col("x1") > 0)
    val perSrc = feat.groupBy(col("source")).agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("lsx1"), sum(col("x2")).as("lsx2"),
      sum(col("x1") * col("x1")).as("ls11"),
      sum(col("x1") * col("x2")).as("ls12"),
      sum(col("x2") * col("x2")).as("ls22"),
      sum(col("y")).as("lsy"),
      sum(col("x1") * col("y")).as("ls1y"),
      sum(col("x2") * col("y")).as("ls2y"))
    val glob = perSrc.agg(
      sum(col("n")).as("gn"),
      sum(col("lsx1")).as("g1"), sum(col("lsx2")).as("g2"),
      sum(col("ls11")).as("g11"), sum(col("ls12")).as("g12"),
      sum(col("ls22")).as("g22"), sum(col("lsy")).as("gy"),
      sum(col("ls1y")).as("g1y"), sum(col("ls2y")).as("g2y"))
    // leave-one-out stats by SUBTRACTION, then the shared Cramer items
    val loso = perSrc.crossJoin(broadcast(glob)).selectExpr(Seq(
      "source", "n AS n_docs",
      "CAST(gn - n AS DOUBLE) AS lnd",
      "CAST(g1 - lsx1 AS DOUBLE) AS lsx1", "CAST(g2 - lsx2 AS DOUBLE) AS lsx2",
      "CAST(g11 - ls11 AS DOUBLE) AS ls11", "CAST(g12 - ls12 AS DOUBLE) AS ls12",
      "CAST(g22 - ls22 AS DOUBLE) AS ls22", "CAST(gy - lsy AS DOUBLE) AS lsy",
      "CAST(g1y - ls1y AS DOUBLE) AS ls1y", "CAST(g2y - ls2y AS DOUBLE) AS ls2y",
      "CAST(gn AS DOUBLE) AS gnd",
      "CAST(g1 AS DOUBLE) AS gsx1", "CAST(g2 AS DOUBLE) AS gsx2",
      "CAST(g11 AS DOUBLE) AS gs11", "CAST(g12 AS DOUBLE) AS gs12",
      "CAST(g22 AS DOUBLE) AS gs22", "CAST(gy AS DOUBLE) AS gsy",
      "CAST(g1y AS DOUBLE) AS gs1y", "CAST(g2y AS DOUBLE) AS gs2y"): _*)
      // l* = leave-one-out stats, g* = full-corpus stats; the shared
      // Cramer items read them by prefix
      .selectExpr(Seq("source", "n_docs") ++
        olsSelect("l", "") ++ olsSelect("g", "_full"): _*)
    loso.selectExpr("source", "n_docs", "b0", "b1", "b2",
        "CAST(ROUND(GREATEST(ABS(b0 - b0_full), ABS(b1 - b1_full), " +
          "ABS(b2 - b2_full)) * 1000000, 0) AS BIGINT) AS influence_micro")
      .orderBy(col("source"))
  }

  val q319Sql: String = {
    val statSchema = (p: String, src: String) =>
      s"""CAST(${src}n AS DOUBLE) AS ${p}nd,
         |CAST(${src}lsx1 AS DOUBLE) AS ${p}sx1, CAST(${src}lsx2 AS DOUBLE) AS ${p}sx2,
         |CAST(${src}ls11 AS DOUBLE) AS ${p}s11, CAST(${src}ls12 AS DOUBLE) AS ${p}s12,
         |CAST(${src}ls22 AS DOUBLE) AS ${p}s22, CAST(${src}lsy AS DOUBLE) AS ${p}sy,
         |CAST(${src}ls1y AS DOUBLE) AS ${p}s1y, CAST(${src}ls2y AS DOUBLE) AS ${p}s2y""".stripMargin
    s"""WITH feat AS (
       |  SELECT source,
       |         CAST(len(${tokensSql("text")}) AS BIGINT) AS x1,
       |         CAST(len(list_distinct(${tokensSql("text")})) AS BIGINT) AS x2,
       |         n_chars AS y
       |  FROM documents
       |  WHERE len(${tokensSql("text")}) > 0),
       |per_src AS (
       |  SELECT source, ${StatSums.mkString(", ")}
       |  FROM feat GROUP BY source),
       |gstat AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS gn,
       |         CAST(SUM(lsx1) AS BIGINT) AS glsx1, CAST(SUM(lsx2) AS BIGINT) AS glsx2,
       |         CAST(SUM(ls11) AS BIGINT) AS gls11, CAST(SUM(ls12) AS BIGINT) AS gls12,
       |         CAST(SUM(ls22) AS BIGINT) AS gls22, CAST(SUM(lsy) AS BIGINT) AS glsy,
       |         CAST(SUM(ls1y) AS BIGINT) AS gls1y, CAST(SUM(ls2y) AS BIGINT) AS gls2y
       |  FROM per_src),
       |stats AS (
       |  SELECT source, n AS n_docs,
       |    CAST(gn - n AS DOUBLE) AS lnd,
       |    CAST(glsx1 - lsx1 AS DOUBLE) AS lsx1, CAST(glsx2 - lsx2 AS DOUBLE) AS lsx2,
       |    CAST(gls11 - ls11 AS DOUBLE) AS ls11, CAST(gls12 - ls12 AS DOUBLE) AS ls12,
       |    CAST(gls22 - ls22 AS DOUBLE) AS ls22, CAST(glsy - lsy AS DOUBLE) AS lsy,
       |    CAST(gls1y - ls1y AS DOUBLE) AS ls1y, CAST(gls2y - ls2y AS DOUBLE) AS ls2y,
       |    ${statSchema("g", "g")}
       |  FROM per_src CROSS JOIN gstat),
       |fit AS (
       |  SELECT source, n_docs,
       |    ${olsSelect("l", "").mkString(",\n    ")},
       |    ${olsSelect("g", "_full").mkString(",\n    ")}
       |  FROM stats)
       |SELECT source, n_docs, b0, b1, b2,
       |       CAST(ROUND(GREATEST(ABS(b0 - b0_full), ABS(b1 - b1_full),
       |         ABS(b2 - b2_full)) * 1000000, 0) AS BIGINT) AS influence_micro
       |FROM fit ORDER BY source""".stripMargin
  }

  /** q320's comparison arms and the sign-test critical value (chi²
    * df = 1, p = 0.05 → 3.841, micro units). */
  val PairSrcA = "src0"
  val PairSrcB = "src1"
  val SignChi2MaxMicro = 3841000L

  /** q320 — matched-pairs quality comparison with a sign test: does
    * source A produce higher-quality documents than source B, once
    * LANGUAGE and LENGTH are controlled? A raw mean comparison is
    * confounded — a source that happens to ship longer or
    * differently-languaged docs wins or loses for reasons that have
    * nothing to do with its pipeline. Matching removes the confound:
    * within each (lang, token-length-bucket) stratum, the i-th doc of A
    * (by doc_id rank) pairs with the i-th of B, the paired difference
    * of lexical-diversity scores is taken, and the per-language sign
    * test ((n⁺−n⁻)²·10⁶ DIV (n⁺+n⁻), the McNemar statistic, df = 1)
    * says whether the sign imbalance is real. Ties (equal scores)
    * count neither side — the standard exclusion.
    *
    * All integer: the score is q182's ⌊distinct/total·10⁶⌋ diversity
    * micro, differences/sums are longs, one truncating DIV yields the
    * statistic (exact in int64 while (n⁺−n⁻)²·10⁶ < 2⁶³ — pair counts
    * to ~3·10⁶, the q317 bound and the same DECIMAL(38,0) scale-up
    * path). Scale shape: two keyed windows (rank within stratum ×
    * source — the shuffle key is the stratum, never global), one
    * equi-join on (stratum, rank), one per-language fold. Differs from
    * q317 (randomization-integrity chi²: same test family, but SRM
    * guards the DENOMINATOR of an experiment while this grades a
    * matched OUTCOME) and from q143 (raw A/B readout — exactly the
    * confounded compare this op fixes). */
  def q320MatchedPairs(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .filter(col("source").isin(PairSrcA, PairSrcB))
      .select(col("doc_id"), col("lang"), col("source"),
        tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("lang"), col("source"),
        size(col("tk")).cast("long").as("n_tok"),
        size(array_distinct(col("tk"))).cast("long").as("n_dis"))
      .filter(col("n_tok") > 0)
      .withColumn("len_b", expr(s"n_tok DIV ${GovernanceOps.KAnonLenBucket}"))
      .withColumn("score", expr("n_dis * 1000000 DIV n_tok"))
    val w = Window.partitionBy(col("lang"), col("len_b"), col("source"))
      .orderBy(col("doc_id"))
    val ranked = scored.withColumn("rn", row_number().over(w))
    val pairs = ranked.filter(col("source") === PairSrcA)
      .select(col("lang"), col("len_b"), col("rn"), col("score").as("sa"))
      .join(ranked.filter(col("source") === PairSrcB)
        .select(col("lang"), col("len_b"), col("rn"), col("score").as("sb")),
        Seq("lang", "len_b", "rn"))
      .withColumn("d", col("sa") - col("sb"))
    pairs.groupBy(col("lang")).agg(
        count(lit(1)).as("n_pairs"),
        sum((col("d") > 0).cast("long")).as("n_pos"),
        sum((col("d") < 0).cast("long")).as("n_neg"),
        sum((col("d") === 0).cast("long")).as("n_tie"),
        sum(col("d")).as("sum_diff"))
      .withColumn("chi2_micro", expr(
        """CASE WHEN n_pos + n_neg = 0 THEN 0
          |ELSE (n_pos - n_neg)*(n_pos - n_neg)*1000000 DIV (n_pos + n_neg)
          |END""".stripMargin))
      .withColumn("significant", col("chi2_micro") > SignChi2MaxMicro)
      .orderBy(col("lang"))
  }

  val q320Sql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang, source,
       |         CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok,
       |         CAST(len(list_distinct(${tokensSql("text")})) AS BIGINT) AS n_dis
       |  FROM documents
       |  WHERE source IN ('$PairSrcA', '$PairSrcB')
       |    AND len(${tokensSql("text")}) > 0),
       |ranked AS (
       |  SELECT doc_id, lang, source,
       |         n_tok // ${GovernanceOps.KAnonLenBucket} AS len_b,
       |         (n_dis * 1000000) // n_tok AS score,
       |         ROW_NUMBER() OVER (PARTITION BY lang,
       |           n_tok // ${GovernanceOps.KAnonLenBucket}, source
       |           ORDER BY doc_id) AS rn
       |  FROM scored),
       |pairs AS (
       |  SELECT a.lang, a.score - b.score AS d
       |  FROM (SELECT * FROM ranked WHERE source = '$PairSrcA') a
       |  JOIN (SELECT * FROM ranked WHERE source = '$PairSrcB') b
       |    ON a.lang = b.lang AND a.len_b = b.len_b AND a.rn = b.rn)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |       CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |       CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
       |       CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tie,
       |       CAST(SUM(d) AS BIGINT) AS sum_diff,
       |       CASE WHEN SUM(CASE WHEN d <> 0 THEN 1 ELSE 0 END) = 0 THEN 0
       |            ELSE (CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END)
       |                    - SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |                  * CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END)
       |                    - SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |                  * 1000000)
       |                 // CAST(SUM(CASE WHEN d <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |       END AS chi2_micro,
       |       CASE WHEN SUM(CASE WHEN d <> 0 THEN 1 ELSE 0 END) = 0 THEN 0
       |            ELSE (CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END)
       |                    - SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |                  * CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END)
       |                    - SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |                  * 1000000)
       |                 // CAST(SUM(CASE WHEN d <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |       END > $SignChi2MaxMicro AS significant
       |FROM pairs GROUP BY lang ORDER BY lang""".stripMargin

  val queries: Map[String, Q] = Map(
    "q313_artifact_adopt" -> q313ArtifactAdopt _,
    "q314_sketch_set_algebra" -> q314SketchSetAlgebra _,
    "q315_priority_sample" -> q315PrioritySample _,
    "q316_ivf_rebalance" -> q316IvfRebalance _,
    "q317_srm_guard" -> q317SrmGuard _,
    "q318_rendezvous_shards" -> q318RendezvousShards _,
    "q319_source_ablation" -> q319SourceAblation _,
    "q320_matched_pairs" -> q320MatchedPairs _)

  val oracles: Map[String, String] = Map(
    "q313_artifact_adopt" -> q313Sql,
    "q314_sketch_set_algebra" -> q314Sql,
    "q315_priority_sample" -> q315Sql,
    "q316_ivf_rebalance" -> q316Sql,
    "q317_srm_guard" -> q317Sql,
    "q318_rendezvous_shards" -> q318Sql,
    "q319_source_ablation" -> q319Sql,
    "q320_matched_pairs" -> q320Sql)
}
