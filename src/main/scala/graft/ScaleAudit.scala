package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Empirical scale audit: runs the most expensive NON-baseline queries at
  * two scale factors (default sf0.01 vs sf0.1 — 10× the input) and
  * records, per query, wall seconds and the task-metric totals that the
  * static plan walk (PlanInvariantSpec) cannot see: shuffle bytes
  * written and input bytes read. SCALING.md argues every non-baseline
  * query is ~linear in its input; this measures it.
  *
  * Why bytes, not just wall time: at sf0.01 most queries are dominated
  * by fixed job overhead (sub-second), so wall ratios under-read true
  * growth; shuffle-write bytes are the data-proportional signal — a
  * df-cap that stops binding, a window partition that grows
  * quadratically, or a join that degenerates shows up as a bytes ratio
  * well above the 10× input ratio long before it shows in local wall
  * time.
  *
  * Output (arg 3, default `SCALEAUDIT.json`) is committed to the repo;
  * `ScaleAuditSpec` replays its numbers as CI — per-query bytes ratio
  * ≤ [[ScaleAudit.BytesRatioMax]], wall ratio ≤
  * [[ScaleAudit.WallRatioMax]], and coverage: every top-expensive
  * non-baseline query of the newest committed `BENCH_full_r*.json` must
  * be in [[ScaleAudit.AuditSet]], so a new expensive query fails CI
  * until it is audited here.
  *
  * Task-end events are posted to the listener bus asynchronously; after
  * each action the totals are polled until stable (the public-API
  * replacement for the private `listenerBus.waitUntilEmpty`).
  */
object ScaleAudit {
  /** The graded exactness baselines — deliberately corpus-quadratic
    * next to their scale-bounded twins (SCALING.md "documented
    * baselines"). Excluded from the linearity audit BY NAME, and the
    * single source of truth for PlanInvariantSpec's BNLJ allowlist. */
  val ExactnessBaselines: Set[String] = Set(
    "q38_knn_brute", "q91_knn_native_expr", "q115_semantic_dedup",
    "q147_semantic_dedup_trained", "q153_tfidf_cosine", "q190_source_jaccard",
    "q204_retrieval_eval", "q233_ppl_buckets", "q234_triplet_mine",
    "q235_rrf_hybrid", "q246_rank_overlap", "q263_ndcg")
  // q247 left this set in round 10: its truth grid moved into the
  // one-time TruthTables build, so its graded plan is cell-bounded and
  // it is AUDITED (AuditSet) instead of excused.

  /** Audited queries: the top non-baseline queries by sf0.1 bench cost
    * (BENCH_full_r08 ordering) plus round-9 additions. ScaleAuditSpec
    * fails if a newly expensive query is missing from this list. */
  val AuditSet: Seq[String] = Seq(
    "q261_chain_merge", "q258_capture_recapture", "q194_cc_two_phase",
    "q176_recursive_bfs", "q238_assortativity", "q162_triangle_count",
    "q274_hybrid_ivf_lsh", "q151_pagerank", "q178_leakage_safe_split",
    "q282_hard_negatives", "q92_sketches", "q203_sssp_weighted",
    "q55_dup_clusters", "q245_dedup_weights", "q184_keep_best",
    "q149_ivfpq_search", "q251_hll_merge", "q152_item_similarity",
    "q262_bloom_fpr", "q160_brand_lift", "q205_dependency_audit",
    "q66_winnowing", "q75_medallion_e2e", "q229_bloom_prefilter",
    "q284_triplet_bounded", "q285_dsir_weights", "q188_resample_interp",
    "q290_dup_spans", "q291_coverage_sample", "q292_filter_attrition",
    "q293_embed_outliers", "q297_kcore", "q302_hist_quantiles",
    "q289_hamming_rerank", "q247_ivf_recall", "q305_hybrid_index",
    "q307_span_provenance", "q171_interval_overlap",
    // round-11 addition: q232 entered BENCH_full_r10's top-20 unaudited
    // (the round-10 red-HEAD finding). q309's lifecycle probe is NOT
    // here: its graded read is a memoized 3-row outcome (O(1) by
    // construction); its build-tier cost is covered by the
    // build_hybrid_index entry below and Bench's build_wall_sec.
    "q232_hilbert_layout",
    // round-12 addition: the sketch set-algebra pass lands ~3.5 s at
    // sf0.1 (dict-pipeline shingles + one persisted distinct pass),
    // inside the top-20. q313 is excluded for the q309 reason.
    "q314_sketch_set_algebra",
    // round-13 additions: both entered BENCH_full_r13's top-20 on a
    // noisy host run (isolated min-of-5 puts them back at their r12
    // floors — 1.11 s / 1.39 s); audited anyway, the coverage rule is
    // deliberately conservative and both are cheap linear plans
    "q76_gold_mart", "q84_unpivot",
    // round-15 addition: q337 (band-index erasure) lands ~1.9 s at
    // sf0.1 — just under the top-20 band, and its two deliberate
    // passes (maintained + frozen-list scratch rebuild) are exactly
    // the shape the audit exists to bound; audited proactively per the
    // conservative coverage rule
    "q337_band_erasure",
    // round-14 additions: both entered BENCH_full_r14's top-20 on a
    // drift-inflated run (the same session's isolated min-of-5 put q67
    // at 1.06 s, its floor; q40's committed r13 quiet reading was
    // 1.69 s); audited anyway per the same conservative rule — both
    // are doc-tier plans (trained-cell probe — linear; df-capped
    // shingle inverted-index pair join — linear in its measured pair
    // work set, which is now q40's WorkModels driver)
    "q67_ivf_search_trained", "q40_ngram_jaccard")

  /** Audited queries driven SOLELY by documents/embeddings (verified by
    * instrumenting [[Tables.load]] during a full execution of every
    * AuditSet query). The fixture generator floors the text tables at
    * 500 rows, so sf0.001 ≡ sf0.01 for these and a "three-point" fit
    * was really two points (round-10 verdict, missing #2); the audit
    * measures them against DERIVED text scale points: 10% / 31.6% of
    * sf0.1's docs and vectors sliced by id, sf0.1 itself, and — round
    * 12, closing the round-11 "one decade, not two" gap — an UPSAMPLED
    * [[UpCopies]]× point ([[upsample]]), so the doc-tier fit spans
    * 10% → 1000% = a true two-decade 100× range. */
  val DocTier: Set[String] = Set(
    "q261_chain_merge", "q258_capture_recapture", "q194_cc_two_phase",
    "q274_hybrid_ivf_lsh", "q178_leakage_safe_split", "q282_hard_negatives",
    "q55_dup_clusters", "q245_dedup_weights", "q184_keep_best",
    "q149_ivfpq_search", "q251_hll_merge", "q262_bloom_fpr",
    "q66_winnowing", "q229_bloom_prefilter", "q284_triplet_bounded",
    "q285_dsir_weights", "q290_dup_spans", "q291_coverage_sample",
    "q292_filter_attrition", "q293_embed_outliers", "q289_hamming_rerank",
    "q247_ivf_recall", "q305_hybrid_index", "q307_span_provenance",
    "q314_sketch_set_algebra",
    // round-14: the coverage additions are both text-tier
    "q67_ivf_search_trained", "q40_ngram_jaccard",
    // round-15: the band-erasure pass reads documents only
    "q337_band_erasure")

  /** DocTier queries ALSO measured at the upsampled 10× point — since
    * round 13 that is ALL of them. The two recall-truth consumers
    * (q247, q289) were excluded through round 12 on a "corpus-quadratic
    * truth grid" rationale that no longer holds: both truth tables are
    * built for a FIXED query set (q38's 8 queries, q247's 8-query
    * slice — the r13 verdict's "constant query subset" ask was already
    * the committed shape), so the truth build is |queries|·|corpus| =
    * LINEAR and warming it at the 10× point costs 10×, not 100×. The
    * warm-up builds truth at the upsample dir and the two ANN serve
    * paths get the same two-decade wall/shuffle fit as the rest of
    * DocTier. */
  val DocTierUp: Set[String] = DocTier

  /** Max log-log exponent of shuffle bytes against the work driver
    * (input ROWS, or the [[WorkModels]] set where one exists), fitted
    * by OLS over THREE scale points (sf0.001/0.01/0.1 — round-10
    * upgrade; the former single-ratio 13× slack let an N^1.15 leg pass,
    * a 100×-span two-segment fit does not). The slack over 1.0 absorbs
    * map-side-combine efficiency shifting with distinct-keys ×
    * partitions and compression-ratio drift, not algorithmic growth —
    * a quadratic leg reads as exponent ≈ 2. */
  val SlopeMax = 1.25
  /** Wall ratios are noisy at local[32] with sub-second small-SF
    * floors; still, ≤ 15× at 10× input rules out super-linear compute
    * (asserted on the b→c segment, where fixed overhead matters least). */
  val WallRatioMax = 15.0

  /** True work drivers for queries whose cost is NOT proportional to
    * input bytes: derived edge/pair sets whose growth between two SFs
    * is super-10× because the small fixture SATURATES a key domain
    * (q203: 100 suppliers ⇒ every one of C(100,2) = 4 950 pairs exists
    * at sf0.01 vs 453 588 at sf0.1 — 92×) or sub-10× under a df-cap.
    * The audit measures these alongside the bytes so the linearity
    * judgment divides by the right denominator: each query is linear in
    * ITS WORK SET, and the work set is linear in the corpus with
    * domain-/cap-bounded constants (SCALING.md's actual claim). */
  val WorkModels: Map[String, (SparkSession, String) => Long] = {
    import org.apache.spark.sql.functions._
    // customer–supplier bipartite edges (both directions), q151/q176
    def csEdges(s: SparkSession, d: String): Long = {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_suppkey")).distinct().count() * 2
    }
    // q203's honest cost formula: one edge BUILD over the raw co-order
    // pair rows, then SsspRounds relaxations each linear in the DISTINCT
    // (bidirectional) edge set. The two drivers scale differently —
    // raw pairs ~10× but distinct pairs 92× between these SFs, because
    // 100 suppliers saturate C(100,2) at sf0.01 — so the model sums them
    def ssspWork(s: SparkSession, d: String): Long = {
      val ls = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val pairs = ls.as("x").join(ls.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("u"), col("y.l_suppkey").as("v"))
        .persist()
      val raw = pairs.count()
      val distinctE = pairs.distinct().count() * 2
      pairs.unpersist()
      raw + operators.GraphOps.SsspRounds * distinctE
    }
    // capped-basket co-occurrence pair rows, q152/q162/q238
    def basketPairs(s: SparkSession, d: String): Long = {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp")).distinct()
      e.groupBy(col("c")).agg(count(lit(1)).as("nb"))
        .filter(col("nb") <= operators.Recsys.BasketCap)
        .agg(sum(col("nb") * (col("nb") - 1))).head().getLong(0)
    }
    // per-order brand pair rows, q160
    def brandPairs(s: SparkSession, d: String): Long = {
      val pa = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
      val e = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        .join(broadcast(pa), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("o"), col("p_brand").as("b")).distinct()
      e.groupBy(col("o")).agg(count(lit(1)).as("nb"))
        .agg(sum(col("nb") * (col("nb") - 1) / 2)).head().getDouble(0).toLong
    }
    // df-capped winnowing fingerprint pair rows, q66
    def winnowPairs(s: SparkSession, d: String): Long = {
      graft.functions.TextExpressions.register(s)
      val fps0 = Tables.documents(s, d)
        .select(col("doc_id"), explode(expr("winnow_fp(lower(text))")).as("wmin"))
      fps0.groupBy(col("wmin")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= operators.ScaleOps.ShingleDfCap)
        .agg(sum(col("df") * (col("df") - 1) / 2)).head().getDouble(0).toLong
    }
    // df-capped 3-gram shingle pair rows, q40 (winnowPairs' discipline
    // on the shingle inverted index: the pair join's true work set)
    def shinglePairs(s: SparkSession, d: String): Long =
      operators.Lsh.shingles(operators.Lsh.tokenHashes(Tables.documents(s, d)))
        .groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= operators.ScaleOps.ShingleDfCap)
        .agg(sum(col("df") * (col("df") - 1) / 2)).head().getDouble(0).toLong
    Map(
      "q151_pagerank" -> csEdges, "q176_recursive_bfs" -> csEdges,
      // q297 peels the same symmetrized co-purchase edge set csEdges
      // measures: each peel is one degree count + two semi-joins over a
      // monotonically shrinking subset of it, so the distinct edge count
      // is the honest denominator (its 14× shuffle reading in round 9
      // was exactly this work set growing super-10× between fixtures)
      "q297_kcore" -> csEdges,
      "q203_sssp_weighted" -> ssspWork,
      "q152_item_similarity" -> basketPairs, "q162_triangle_count" -> basketPairs,
      "q238_assortativity" -> basketPairs,
      "q160_brand_lift" -> brandPairs,
      "q66_winnowing" -> winnowPairs,
      "q40_ngram_jaccard" -> shinglePairs)
  }

  /** One denominator per query (ADVICE r10): the measured work series
    * iff EVERY point is positive, else input rows — never a per-point
    * mix of units (a work model that measures 0 at one point used to
    * yield a mixed work/rows log-log series in the reporter while the
    * spec judged on rows). Shared by the reporter and ScaleAuditSpec. */
  def workSeries(work: Seq[Long], rows: Seq[Long]): Seq[Long] =
    if (work.nonEmpty && work.forall(_ > 0)) work else rows

  /** OLS slope of ln(shuffle) on ln(work) over the scale points where
    * both are positive — the measured scaling exponent. Fewer than two
    * usable points (a query whose shuffle is zero at the small SFs)
    * returns 0.0: nothing super-linear can hide in a flat-then-tiny
    * series, and the spec separately floors on absolute size. Shared by
    * the audit (reported) and ScaleAuditSpec (asserted ≤ [[SlopeMax]]). */
  def fitSlope(points: Seq[(Long, Long)]): Double = {
    val ps = points.filter(p => p._1 > 0 && p._2 > 0)
      .map(p => (math.log(p._1.toDouble), math.log(p._2.toDouble)))
    if (ps.size < 2) return 0.0
    val n = ps.size
    val sx = ps.map(_._1).sum
    val sy = ps.map(_._2).sum
    val sxx = ps.map(p => p._1 * p._1).sum
    val sxy = ps.map(p => p._1 * p._2).sum
    val den = n * sxx - sx * sx
    if (den == 0.0) 0.0 else (n * sxy - sx * sy) / den
  }

  /** Upsampled text point: [[UpCopies]]× sf0.1, each extra cohort c
    * offset by c·[[UpStride]] in doc/vec ids with deterministic content
    * variation. Tokens get a per-cohort suffix, so each cohort carries
    * its own vocabulary and shingle space: distinct tokens, df-capped
    * shingle work sets, and LSH candidate-pair counts all grow ∝ corpus
    * (a constant dup RATE — how a real corpus grows), not quadratically
    * as exact copies would (copies share band keys, so c copies of every
    * doc would make pair sets grow ∝ c² and fake super-linear dedup
    * cost). Embeddings get a small deterministic per-component
    * perturbation for the same reason — realistic geometry growth, not
    * degenerate exact-duplicate stacks. Ids offset in BOTH tables by the
    * same stride, so doc↔vector joins stay consistent. */
  val UpCopies = 10
  val UpStride = 1000000L

  private[graft] def upsample(s: SparkSession, sfC: String, dir: java.nio.file.Path): String = {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(s, sfC)
    val docCohorts = (0 until UpCopies).map { c =>
      if (c == 0) docs.select(
        col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      else {
        val text2 = concat_ws(" ", transform(split(col("text"), " "),
          t => when(t === "", t).otherwise(concat(t, lit(s"v$c")))))
        docs.select(
          (col("doc_id") + lit(c * UpStride)).as("doc_id"),
          text2.as("text"), col("lang"), col("source"),
          length(text2).cast("long").as("n_chars"))
      }
    }
    docCohorts.reduce(_ unionByName _).repartition(32)
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    val emb = Tables.embeddings(s, sfC)
    val embCohorts = (0 until UpCopies).map { c =>
      if (c == 0) emb.select(col("vec_id"), col("embedding"), col("label"))
      else emb.select(
        (col("vec_id") + lit(c * UpStride)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + (pmod(col("vec_id") * 31 + i * 7 + lit(c), lit(997)) - lit(498))
            .cast("double") / lit(10000.0)).cast("float")).as("embedding"),
        col("label"))
    }
    embCohorts.reduce(_ unionByName _).repartition(32)
      .write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
    dir.toString
  }

  /** Build the derived text-tier scale dirs (see [[DocTier]]): points a
    * and b hold the lowest-id 10% / 31.6% of sf0.1's documents and
    * embeddings (id-prefix slices keep doc↔vector joins consistent —
    * both tables shrink together); point c is sf0.1 itself; point e is
    * the [[UpCopies]]× upsample. Written under a per-run temp dir with
    * recursive shutdown cleanup (ADVICE r11: the former fixed shared
    * path let two concurrent audit runs corrupt each other's scale
    * points and leaked the slices). */
  def docScaleDirs(s: SparkSession, sfC: String): (String, String, String, String) = {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-docscale-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      // the derived dirs are per-run temp paths, so any artifacts built
      // FROM them (hybrid index / truth tables / gram table during the
      // audit's warm-up and build measurements) are unreachable by every
      // later run — drop them too, or an opted-in persistent artifact
      // root grows by one orphaned index set per audit run
      Seq("a", "b", "e").foreach(sub =>
        graft.ml.ArtifactStore.dropForCorpus(root.resolve(sub).toString))
      def del(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(del); f.delete(): Unit
      }
      del(root.toFile)
    }))
    def slice(sub: String, frac: Double): String = {
      val dir = root.resolve(sub)
      val docs = Tables.documents(s, sfC)
      val nd = math.round(docs.count() * frac).toInt
      docs.orderBy(col("doc_id")).limit(nd).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
      val emb = Tables.embeddings(s, sfC)
      val ne = math.round(emb.count() * frac).toInt
      emb.orderBy(col("vec_id")).limit(ne).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
      dir.toString
    }
    (slice("a", 0.1), slice("b", 0.31622777), sfC,
      upsample(s, sfC, root.resolve("e")))
  }

  final class MetricsListener extends SparkListener {
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val input = new java.util.concurrent.atomic.AtomicLong
    val inputRows = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
        inputRows.addAndGet(m.inputMetrics.recordsRead)
      }
    }
    /** Poll until the async bus has drained (totals stable ~250 ms). */
    def settled(): (Long, Long, Long) = {
      var last = (shuffleWrite.get, input.get, inputRows.get)
      var stableMs = 0
      val t0 = System.nanoTime()
      while (stableMs < 250 && (System.nanoTime() - t0) < 5e9) {
        Thread.sleep(50)
        val now = (shuffleWrite.get, input.get, inputRows.get)
        if (now == last) stableMs += 50 else { stableMs = 0; last = now }
      }
      last
    }
  }

  def main(args: Array[String]): Unit = {
    val sfA = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val sfB = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val sfC = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val outFile = args.lift(3).getOrElse("SCALEAUDIT.json")
    val runs = sys.env.getOrElse("SPARK_GRAFT_AUDIT_RUNS", "2").toInt
    // optional comma-separated query filter (local profiling only; a
    // filtered report is PARTIAL — never commit one as SCALEAUDIT.json)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_AUDIT_ONLY").map(_.split(",").toSet)
    val spark = GraftSession.local(GraftSession.cpus)
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)

    // derived text-tier scale points (see [[DocTier]]): slice sf0.1's
    // documents/embeddings to 10% / 31.6% by id; point c is sf0.1
    // itself; point e is the 10× upsample (DocTierUp queries only)
    val (da, db, dc, de) = docScaleDirs(spark, sfC)
    def dirsFor(name: String): (String, String, String) =
      if (DocTier(name)) (da, db, dc) else (sfA, sfB, sfC)

    // warm-up absorbs JVM/codegen/first-footer costs (Bench's hygiene);
    // the per-corpus artifacts (hybrid index, truth tables, gram table)
    // are pre-built so bytes/wall measure each query's SERVE path only.
    // A warm-up failure is printed, not swallowed (ADVICE r10): a silent
    // one smears build cost into the first consumer's measurements.
    try {
      SparkEntry.queries(AuditSet.head)(spark, sfA)
        .write.mode("overwrite").format("noop").save()
      // the upsampled point e warms everything the 100% point does,
      // recall-truth tables included (fixed 8-query sets, so the truth
      // build is LINEAR in the corpus; see DocTierUp)
      Seq(sfA, sfB, sfC, da, db, de).foreach(GraftSession.prebuild(spark, _))
    } catch { case e: Throwable =>
      System.err.println(s"[audit] WARM-UP FAILED (measurements may smear): $e")
    }
    finally spark.catalog.clearCache()

    // per (query, sf): bytes/rows from run 1, wall = min over `runs` runs;
    // clearCache between runs so persist() fragments never carry over
    def measure(name: String, sfDir: String): (Double, Long, Long, Long) = {
      val fn = SparkEntry.queries(name)
      var wall = Double.MaxValue
      var sw = 0L
      var in = 0L
      var ir = 0L
      (1 to runs).foreach { r =>
        listener.settled()
        val sw0 = listener.shuffleWrite.get
        val in0 = listener.input.get
        val ir0 = listener.inputRows.get
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        finally spark.catalog.clearCache()
        val t = (System.nanoTime() - t0) / 1e9
        wall = math.min(wall, t)
        if (r == 1) {
          val (sw1, in1, ir1) = listener.settled()
          sw = sw1 - sw0
          in = in1 - in0
          ir = ir1 - ir0
        }
      }
      (wall, sw, in, ir)
    }

    val Zero = (0.0, 0L, 0L, 0L)
    def jsonRow(name: String, tier: String,
        a: (Double, Long, Long, Long), b: (Double, Long, Long, Long),
        c: (Double, Long, Long, Long), e: (Double, Long, Long, Long),
        work: (Long, Long, Long, Long)): String = {
      val (wa, swa, ina, ira) = a
      val (wb, swb, inb, irb) = b
      val (wc, swc, inc, irc) = c
      val (we, swe, ine, ire) = e
      val (ka, kb, kc, ke) = work
      // default work driver: input ROWS, not bytes — a column-pruned
      // dictionary-encoded read stays near-constant in BYTES while rows
      // grow 10× (q302 reads 29 KB at sf0.001 and 89 KB at sf0.1 for a
      // 100× row span), which would fake a super-linear shuffle slope.
      // Where a WorkModel exists the work series is used iff every point
      // measured positive ([[workSeries]] — one denominator per query).
      // Fits run over the MEASURED points only (wall > 0): the e point
      // exists for DocTierUp queries and the build, zeros elsewhere.
      val walls = Seq(wa, wb, wc, we)
      val idx = walls.indices.filter(walls(_) > 0)
      val denoms = ScaleAudit.workSeries(
        idx.map(Seq(ka, kb, kc, ke)), idx.map(Seq(ira, irb, irc, ire)))
      val slope = ScaleAudit.fitSlope(denoms.zip(idx.map(Seq(swa, swb, swc, swe))))
      val workNote = if (ka > 0) f"  work ${ka}%8d/${kb}%8d/${kc}%9d/${ke}%9d" else ""
      System.err.println(f"[audit] $name%-28s wall $wa%6.3f/$wb%6.3f/$wc%7.3f/$we%7.3f  " +
        f"shuffle ${swa}%10d/${swb}%10d/${swc}%11d/${swe}%11d  slope $slope%5.2f$workNote")
      s"""    "$name": {"wall_a": ${f"$wa%.3f"}, "wall_b": ${f"$wb%.3f"}, """ +
        s""""wall_c": ${f"$wc%.3f"}, "wall_e": ${f"$we%.3f"}, """ +
        s""""shuffle_a": $swa, "shuffle_b": $swb, "shuffle_c": $swc, "shuffle_e": $swe, """ +
        s""""input_a": $ina, "input_b": $inb, "input_c": $inc, "input_e": $ine, """ +
        s""""rows_a": $ira, "rows_b": $irb, "rows_c": $irc, "rows_e": $ire, """ +
        s""""work_a": $ka, "work_b": $kb, "work_c": $kc, "work_e": $ke, """ +
        s""""tier": "$tier"}"""
    }

    val rows = AuditSet.filter(n => only.forall(_.contains(n))).map { name =>
      val (qa, qb, qc) = dirsFor(name)
      val a = measure(name, qa)
      val b = measure(name, qb)
      val c = measure(name, qc)
      val e = if (DocTierUp(name)) measure(name, de) else Zero
      val work = WorkModels.get(name) match {
        case Some(f) => (f(spark, qa), f(spark, qb), f(spark, qc),
          if (DocTierUp(name)) f(spark, de) else 0L)
        case None => (0L, 0L, 0L, 0L)
      }
      spark.catalog.clearCache()
      jsonRow(name, if (DocTier(name)) "doc" else "sf", a, b, c, e, work)
    }

    // the one-time hybrid-index BUILD, measured like a query at all four
    // text-tier points (round-10 verdict stretch: "build is linear" in
    // HybridIndex's doc comment becomes a measured exponent — now over
    // the full two-decade doc span; the serve path is already covered by
    // q305 and the three consumers)
    def measureBuild(dir: String): (Double, Long, Long, Long) = {
      ml.HybridIndex.invalidate(dir)
      listener.settled()
      val sw0 = listener.shuffleWrite.get
      val in0 = listener.input.get
      val ir0 = listener.inputRows.get
      val t0 = System.nanoTime()
      try ml.HybridIndex.ensure(spark, dir)
      finally spark.catalog.clearCache()
      val t = (System.nanoTime() - t0) / 1e9
      val (sw1, in1, ir1) = listener.settled()
      (t, sw1 - sw0, in1 - in0, ir1 - ir0)
    }
    val buildRow = jsonRow("build_hybrid_index", "doc",
      measureBuild(da), measureBuild(db), measureBuild(dc), measureBuild(de),
      (0L, 0L, 0L, 0L))
    val json =
      s"""{
         |  "sf_a": "$sfA",
         |  "sf_b": "$sfB",
         |  "sf_c": "$sfC",
         |  "runs": $runs,
         |  "doc_dirs": ["$da", "$db", "$dc", "$de"],
         |  "queries": {
         |${(rows :+ buildRow).mkString(",\n")}
         |  }
         |}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[audit] wrote $outFile")
    spark.stop()
  }
}
