package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 widening: LSH-based cross-corpus decontamination, incremental
  * IVF index maintenance, and the feature-hashing trick — three more
  * training-data-pipeline primitives, each DuckDB-replayed exactly.
  */
object Round8Ops extends QueryModule {
  /** Benchmark-set modulus for q275 (deliberately different from q86's
    * %29 so the two decontamination ops cover different splits). */
  val LshBenchMod = 31
  /** Exact-Jaccard verification threshold for q275 (q35's near-dup bar). */
  val LshDecontamTau = 0.5

  /** q275 — LSH-based cross-corpus decontamination: flag TRAINING
    * documents that are NEAR-duplicates of a held-out benchmark set.
    *
    * q86 catches verbatim overlap (8-gram matches); this is its fuzzy
    * complement — the paraphrased/lightly-edited leak that exact n-grams
    * miss. Same machinery as q35 (df-capped 3-gram shingles → 8 MinHash
    * sigs → 4 bands) but the band-bucket join is ASYMMETRIC: only
    * train×bench collisions are generated (never train×train — the
    * candidate count is |bench-bucket| × |train-bucket| per bucket, and
    * the benchmark side is a fixed, small corpus in production), then
    * exact Jaccard ≥ [[LshDecontamTau]] verifies. Anchored on the bench
    * set so clean benchmarks report 0 rather than vanishing.
    *
    * The oracle replays the identical integer LSH pipeline, so candidate
    * sets match exactly — no recall slack is claimed. */
  def q275LshDecontaminate(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val dict = tok.select(col("tok")).distinct().withColumn("h", polyHash(col("tok")))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val sh0 = tok.join(broadcast(dict), "tok")
      .withColumn("h1", lead(col("h"), 1).over(wp))
      .withColumn("h2", lead(col("h"), 2).over(wp))
      .filter(col("h2").isNotNull)
      .select(col("doc_id"),
        ((col("h") * 31 + col("h1")) % P * 31 + col("h2")) % P as "sh")
      .distinct()
    val hot = sh0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > ScaleOps.ShingleDfCap).select(col("sh"))
    val shingles = sh0.join(broadcast(hot), Seq("sh"), "left_anti")
    val sigAggs = (0 until 8).map(i =>
      min((lit(MinHashA(i)) * col("sh") + lit(MinHashB(i))) % P).as(s"sig$i"))
    val docsSig = shingles.groupBy(col("doc_id"))
      .agg(sigAggs.head, (sigAggs.tail :+ collect_set(col("sh")).as("sh_set")): _*)
      .persist()
    val bands = docsSig.select(col("doc_id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), col(s"sig${2 * b}").as("v0"),
          col(s"sig${2 * b + 1}").as("v1"))): _*)).as("bk"))
    val benchBands = bands.filter(col("doc_id") % LshBenchMod === 0)
      .select(col("doc_id").as("bench_id"), col("bk").as("qbk"))
    val cand = bands.filter(col("doc_id") % LshBenchMod =!= 0)
      .join(benchBands, col("bk") === col("qbk"))
      .select(col("bench_id"), col("doc_id").as("train_id"))
      .distinct()
    val verified = cand
      .join(docsSig.select(col("doc_id").as("train_id"), col("sh_set").as("sa")), "train_id")
      .join(docsSig.select(col("doc_id").as("bench_id"), col("sh_set").as("sb")), "bench_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("den", size(col("sa")).cast("long") + size(col("sb")) - col("inter"))
      .withColumn("jac_micro",
        when(col("den") === 0, lit(0L)).otherwise(
          floor(col("inter").cast("double") / col("den").cast("double") *
            lit(1000000.0) + lit(0.5)).cast("long")))
      .filter(col("jac_micro") >= (LshDecontamTau * 1000000).toLong)
    val perBench = verified.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_flagged"), max(col("jac_micro")).as("max_jac_micro"))
    Tables.documents(s, d).filter(col("doc_id") % LshBenchMod === 0)
      .select(col("doc_id").as("bench_id"))
      .join(perBench, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        coalesce(col("max_jac_micro"), lit(0L)).as("max_jac_micro"),
        (coalesce(col("n_flagged"), lit(0L)) > 0).cast("int").as("contaminated"))
      .orderBy(col("bench_id"))
  }

  val q275Sql: String = {
    val sigs = (0 until 8).map(i => s"${minHashSigSql("sh", i)} AS sig$i").mkString(",\n  ")
    s"""WITH t AS (SELECT doc_id, ${shingleHashesSql(tokenHashesSql(tokensSql("text")))} AS sh0
       |           FROM documents),
       |e0 AS (SELECT doc_id, unnest(sh0) AS sh FROM t),
       |dfreq AS (SELECT sh, COUNT(*) AS df FROM e0 GROUP BY 1),
       |f AS (SELECT doc_id, list(sh) AS sh FROM e0 JOIN dfreq USING (sh)
       |      WHERE df <= ${ScaleOps.ShingleDfCap} GROUP BY doc_id),
       |sigs AS (SELECT doc_id, sh, $sigs FROM f),
       |bands AS (
       |  SELECT doc_id, b AS band,
       |    CASE b WHEN 0 THEN sig0 WHEN 1 THEN sig2 WHEN 2 THEN sig4 ELSE sig6 END AS v0,
       |    CASE b WHEN 0 THEN sig1 WHEN 1 THEN sig3 WHEN 2 THEN sig5 ELSE sig7 END AS v1
       |  FROM sigs, UNNEST(range(0, 4)) AS u(b)),
       |cand AS (
       |  SELECT DISTINCT qb.doc_id AS bench_id, tb.doc_id AS train_id
       |  FROM bands qb JOIN bands tb
       |    ON qb.band = tb.band AND qb.v0 = tb.v0 AND qb.v1 = tb.v1
       |  WHERE qb.doc_id % $LshBenchMod = 0 AND tb.doc_id % $LshBenchMod <> 0),
       |ver AS (
       |  SELECT bench_id, train_id,
       |    CASE WHEN len(fa.sh) + len(fb.sh)
       |              - len(list_filter(fa.sh, x -> list_contains(fb.sh, x))) = 0
       |         THEN CAST(0 AS BIGINT)
       |         ELSE CAST(FLOOR(
       |           CAST(len(list_filter(fa.sh, x -> list_contains(fb.sh, x))) AS DOUBLE)
       |           / CAST(len(fa.sh) + len(fb.sh)
       |               - len(list_filter(fa.sh, x -> list_contains(fb.sh, x))) AS DOUBLE)
       |           * 1000000.0 + 0.5) AS BIGINT) END AS jac_micro
       |  FROM cand
       |  JOIN f fa ON fa.doc_id = train_id
       |  JOIN f fb ON fb.doc_id = bench_id),
       |flagged AS (SELECT * FROM ver WHERE jac_micro >= ${(LshDecontamTau * 1000000).toLong}),
       |pb AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_flagged,
       |              MAX(jac_micro) AS max_jac_micro
       |       FROM flagged GROUP BY bench_id)
       |SELECT d.doc_id AS bench_id,
       |       COALESCE(pb.n_flagged, 0) AS n_flagged,
       |       COALESCE(pb.max_jac_micro, 0) AS max_jac_micro,
       |       CASE WHEN COALESCE(pb.n_flagged, 0) > 0 THEN 1 ELSE 0 END AS contaminated
       |FROM documents d LEFT JOIN pb ON pb.bench_id = d.doc_id
       |WHERE d.doc_id % $LshBenchMod = 0
       |ORDER BY bench_id""".stripMargin
  }

  /** Delta modulus for q276: vectors with vec_id % 7 == 0 arrive AFTER
    * the index was built. */
  val IvfDeltaMod = 7

  /** q276 — incremental IVF index maintenance: the index (q148's trained
    * coarse quantizer) was built on the STATE vectors only; a DELTA batch
    * arrives and is assigned to the EXISTING cells without retraining —
    * exactly how a production ANN index absorbs appends (retraining is a
    * scheduled rebuild, not a per-batch cost). The graded output is the
    * maintained per-cell occupancy plus the distribution-drift signal
    * that tells the pipeline when a rebuild IS due: per cell, the state
    * share vs the delta share (micro-units) and their absolute gap — a
    * delta distributed like the state stays near 0 everywhere; a shifted
    * corpus concentrates mass in few cells.
    *
    * Maintenance work is one assignment pass over the delta (broadcast
    * k-row model, no shuffle) + a k-row merge — never a retrain, never a
    * scan of the state. The 6-dp-rounded model keeps the whole thing
    * hash-checked (the q148/q67/q147 discipline; parity on the fixture
    * and with overwhelming probability — boundary caveat on
    * [[graft.ml.KMeansIvf.fit]]). */
  def q276IvfMaintain(s: SparkSession, d: String): DataFrame = {
    import graft.ml.KMeansIvf
    val e = Tables.embeddings(s, d)
    val state = e.filter(pmod(col("vec_id"), lit(IvfDeltaMod)) =!= 0)
    val delta = e.filter(pmod(col("vec_id"), lit(IvfDeltaMod)) === 0)
    val cents = KMeansIvf.fit(state, "vec_id", "embedding", k = 8, iters = 3)
    val nState = KMeansIvf.assign(state, cents, "vec_id", "embedding")
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_state"))
    val nDelta = KMeansIvf.assign(delta, cents, "vec_id", "embedding")
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_delta"))
    // anchor on the model's k cells: an empty cell must report zeros.
    // tot = 0 guard (an empty delta batch is a legal maintenance run):
    // without it Spark's n/0 → NaN casts to 0L while DuckDB errors on
    // CAST(NaN AS BIGINT) — a data-dependent engine divergence
    val share = (n: org.apache.spark.sql.Column, tot: org.apache.spark.sql.Column) =>
      when(tot === 0L, lit(0L)).otherwise(
        floor(n.cast("double") / tot.cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))
    cents.select(col("cluster"))
      .join(nState, Seq("cluster"), "left")
      .join(nDelta, Seq("cluster"), "left")
      .withColumn("n_state", coalesce(col("n_state"), lit(0L)))
      .withColumn("n_delta", coalesce(col("n_delta"), lit(0L)))
      .crossJoin(broadcast(
        state.agg(count(lit(1)).as("ts")).join(delta.agg(count(lit(1)).as("td")), lit(true))))
      .withColumn("share_state_micro", share(col("n_state"), col("ts")))
      .withColumn("share_delta_micro", share(col("n_delta"), col("td")))
      .select(col("cluster").cast("long").as("cluster"),
        col("n_state"), col("n_delta"),
        (col("n_state") + col("n_delta")).as("n_total"),
        col("share_state_micro"), col("share_delta_micro"),
        abs(col("share_state_micro") - col("share_delta_micro")).as("drift_micro"))
      .orderBy(col("cluster"))
  }

  /** q276 oracle: unrolled Lloyd on the state vectors (fixed k=8), both
    * assignments replayed, shares from exact integer counts. */
  val q276Sql: String = {
    def dist(cAlias: String) =
      s"list_reduce(list_transform(range(1, 65), j -> " +
        s"(sv.ve[j] - $cAlias.cent[j]) * (sv.ve[j] - $cAlias.cent[j])), (a, b) -> a + b)"
    def distD(cAlias: String) =
      s"list_reduce(list_transform(range(1, 65), j -> " +
        s"(dv.ve[j] - $cAlias.cent[j]) * (dv.ve[j] - $cAlias.cent[j])), (a, b) -> a + b)"
    // empty-total guard mirrors the Spark side's when(tot === 0, 0L)
    val shareStateSql =
      """CASE WHEN tot.ts = 0 THEN 0 ELSE
        | CAST(FLOOR(CAST(COALESCE(asn_s.n_state, 0) AS DOUBLE) / CAST(tot.ts AS DOUBLE)
        |   * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin
    val shareDeltaSql =
      """CASE WHEN tot.td = 0 THEN 0 ELSE
        | CAST(FLOOR(CAST(COALESCE(asn_d.n_delta, 0) AS DOUBLE) / CAST(tot.td AS DOUBLE)
        |   * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin
    val iters = (1 to 3).map { i =>
      s"""sd$i AS (SELECT sv.vid, c.cluster, ${dist("c")} AS dist_sq
         |  FROM sv CROSS JOIN sc${i - 1} c),
         |sa$i AS (SELECT vid, cluster FROM (
         |    SELECT vid, cluster,
         |      ROW_NUMBER() OVER (PARTITION BY vid ORDER BY dist_sq, cluster) AS rn
         |    FROM sd$i) WHERE rn = 1),
         |sm$i AS (SELECT a.cluster, dm.dim, ROUND(AVG(sv.ve[dm.dim]), 6) AS m
         |  FROM sa$i a JOIN sv USING (vid) CROSS JOIN sdims dm
         |  GROUP BY a.cluster, dm.dim),
         |sc$i AS (SELECT p.cluster, COALESCE(n.cent, p.cent) AS cent
         |  FROM sc${i - 1} p LEFT JOIN (
         |    SELECT cluster, array_agg(m ORDER BY dim) AS cent
         |    FROM sm$i GROUP BY cluster) n ON n.cluster = p.cluster)""".stripMargin
    }.mkString(",\n")
    s"""WITH sv AS (SELECT vec_id AS vid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
       |  FROM embeddings WHERE ((vec_id % $IvfDeltaMod) + $IvfDeltaMod) % $IvfDeltaMod <> 0),
       |dv AS (SELECT vec_id AS vid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
       |  FROM embeddings WHERE ((vec_id % $IvfDeltaMod) + $IvfDeltaMod) % $IvfDeltaMod = 0),
       |sdims AS (SELECT unnest(range(1, 65)) AS dim),
       |sc0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vid) - 1 AS cluster, ve AS cent
       |  FROM (SELECT vid, ve FROM sv ORDER BY vid LIMIT 8)),
       |$iters,
       |fs AS (SELECT sv.vid, c.cluster, ${dist("c")} AS dist_sq FROM sv CROSS JOIN sc3 c),
       |asn_s AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_state FROM (
       |    SELECT vid, cluster,
       |      ROW_NUMBER() OVER (PARTITION BY vid ORDER BY dist_sq, cluster) AS rn
       |    FROM fs) WHERE rn = 1 GROUP BY cluster),
       |fd AS (SELECT dv.vid, c.cluster, ${distD("c")} AS dist_sq FROM dv CROSS JOIN sc3 c),
       |asn_d AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_delta FROM (
       |    SELECT vid, cluster,
       |      ROW_NUMBER() OVER (PARTITION BY vid ORDER BY dist_sq, cluster) AS rn
       |    FROM fd) WHERE rn = 1 GROUP BY cluster),
       |tot AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sv) AS ts,
       |               (SELECT CAST(COUNT(*) AS BIGINT) FROM dv) AS td),
       |cells AS (SELECT cluster FROM sc3)
       |SELECT CAST(cells.cluster AS BIGINT) AS cluster,
       |       COALESCE(asn_s.n_state, 0) AS n_state,
       |       COALESCE(asn_d.n_delta, 0) AS n_delta,
       |       COALESCE(asn_s.n_state, 0) + COALESCE(asn_d.n_delta, 0) AS n_total,
       |       $shareStateSql AS share_state_micro,
       |       $shareDeltaSql AS share_delta_micro,
       |       ABS($shareStateSql - $shareDeltaSql) AS drift_micro
       |FROM cells LEFT JOIN asn_s USING (cluster) LEFT JOIN asn_d USING (cluster)
       |  CROSS JOIN tot
       |ORDER BY cluster""".stripMargin
  }

  /** Feature-hash bin count for q277 (2^6 — small enough that collisions
    * actually occur in the fixture, exercising the signed cancellation). */
  val FeatureBins = 64

  /** q277 — the feature-hashing trick (Weinberger et al.): every token
    * maps to one of [[FeatureBins]] feature indices by hash, with a
    * ±1 sign from a second hash bit so collisions cancel in expectation
    * — the fixed-width, vocabulary-free featurizer (Vowpal Wabbit /
    * sklearn HashingVectorizer) that needs no dictionary shuffle and no
    * vocab broadcast at any corpus size.
    *
    * Per document: nnz (occupied bins), L1 and squared-L2 norms of the
    * signed-count vector, and the collision count (distinct tokens minus
    * distinct bins touched — the information actually lost to hashing).
    * ALL columns are exact integers: signed counts are integer sums, so
    * there is no float anywhere. One explode + one (doc, bin) aggregate
    * + one per-doc rollup; the dict-encode join keeps the interpreted
    * polynomial hash at once-per-DISTINCT-token (the q35/q86 discipline).
    */
  def q277FeatureHash(s: SparkSession, d: String): DataFrame =
    featureHashCore(Tables.documents(s, d))

  /** q277's core over any (doc_id, text) frame — split out so the
    * property spec can drive it with generated corpora. */
  private[graft] def featureHashCore(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val dict = tok.select(col("tok")).distinct()
      .withColumn("h", polyHash(col("tok")))
      .select(col("tok"), col("h"),
        pmod(col("h"), lit(FeatureBins)).as("bin"),
        // h is in [0, P) so integer div/mod need no sign handling
        (pmod(expr(s"h div $FeatureBins"), lit(2)) * 2 - 1).as("sign"))
    val hashed = tok.join(broadcast(dict), "tok").persist()
    val perBin = hashed
      .groupBy(col("doc_id"), col("bin"))
      .agg(sum(col("sign")).as("v"))
    // distinct HASHES, not distinct strings: the oracle can only see the
    // portable hash, and a (vanishingly unlikely) polyHash collision must
    // count identically on both engines
    val perDocTok = hashed
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_distinct_tok"),
        countDistinct(col("bin")).as("n_bins_touched"))
    perBin.groupBy(col("doc_id"))
      .agg(count(when(col("v") =!= 0, lit(1))).as("nnz"),
        sum(abs(col("v"))).as("l1"),
        sum(col("v") * col("v")).as("l2sq"))
      .join(perDocTok, "doc_id")
      .select(col("doc_id"), col("nnz"), col("l1"), col("l2sq"),
        col("n_distinct_tok"),
        (col("n_distinct_tok") - col("n_bins_touched")).as("n_collisions"))
      .orderBy(col("doc_id"))
  }

  val q277Sql: String = {
    val th = tokenHashesSql(tokensSql("text"))
    s"""WITH t AS (SELECT doc_id, unnest($th) AS h FROM documents),
       |m AS (SELECT doc_id, ((h % $FeatureBins) + $FeatureBins) % $FeatureBins AS bin,
       |             ((((h // $FeatureBins) % 2) + 2) % 2) * 2 - 1 AS sign
       |      FROM t),
       |pb AS (SELECT doc_id, bin, CAST(SUM(sign) AS BIGINT) AS v
       |       FROM m GROUP BY doc_id, bin),
       |pd AS (SELECT doc_id,
       |         CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_tok,
       |         CAST(COUNT(DISTINCT ((h % $FeatureBins) + $FeatureBins) % $FeatureBins)
       |           AS BIGINT) AS n_bins_touched
       |       FROM t GROUP BY doc_id)
       |SELECT pb.doc_id,
       |       CAST(COUNT(CASE WHEN v <> 0 THEN 1 END) AS BIGINT) AS nnz,
       |       CAST(SUM(ABS(v)) AS BIGINT) AS l1,
       |       CAST(SUM(v * v) AS BIGINT) AS l2sq,
       |       ANY_VALUE(pd.n_distinct_tok) AS n_distinct_tok,
       |       ANY_VALUE(pd.n_distinct_tok) - ANY_VALUE(pd.n_bins_touched) AS n_collisions
       |FROM pb JOIN pd ON pd.doc_id = pb.doc_id
       |GROUP BY pb.doc_id
       |ORDER BY pb.doc_id""".stripMargin
  }

  /** Per-stratum sample size and mixing constant for q278. */
  val ReservoirK = 20
  val ReservoirMix = 2654435761L

  /** q278 — deterministic stratified "reservoir": exactly
    * [[ReservoirK]] docs per source, selected by ranking a
    * Knuth-multiplicative hash of the doc id — the content-stable
    * replacement for reservoir sampling whose selection is identical on
    * any engine, any partitioning, any run (true reservoir sampling is
    * traversal-order dependent, which is exactly what a reproducible
    * training pipeline cannot have; the q79/q219/q236 argument applied
    * to fixed-size-per-stratum selection).
    *
    * One scan → per-source rank window (partitions are the |sources|
    * domain, each internally unbounded but the rank is top-k — at scale
    * the same selection runs as a per-source `smallest_k` bounded
    * aggregate, q181's pattern, if even the per-partition sort is
    * unwanted). Population size rides along so the sample is
    * self-describing. */
  def q278StratifiedReservoir(s: SparkSession, d: String): DataFrame = {
    // reduce doc_id mod P BEFORE the Knuth multiply: (doc_id % P) < ~1e9
    // times the mix (~2.65e9) stays < 2^63, so the product is exact on
    // any engine for ANY id domain. The unreduced form silently wrapped
    // in Spark (non-ANSI Long multiply) but errors in DuckDB once
    // doc_id > ~3.4e9 — same values where both are exact, but only this
    // shape is engine-portable everywhere.
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        pmod(pmod(col("doc_id"), lit(P)) * ReservoirMix, lit(P)).as("rk"))
    val w = Window.partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))
    val tot = docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
    docs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= ReservoirK)
      .join(broadcast(tot), "source")
      .select(col("source"), col("rnk").cast("long").as("rnk"),
        col("doc_id"), col("n_total"))
      .orderBy(col("source"), col("rnk"))
  }

  val q278Sql: String =
    s"""WITH r AS (
       |  SELECT source, doc_id,
       |         (((doc_id % $P) + $P) % $P) * $ReservoirMix % $P AS rk
       |  FROM documents),
       |t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total
       |      FROM documents GROUP BY source),
       |ranked AS (
       |  SELECT source, doc_id, rk,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY rk, doc_id) AS rnk
       |  FROM r)
       |SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, n_total
       |FROM ranked JOIN t USING (source)
       |WHERE rnk <= $ReservoirK
       |ORDER BY source, rnk""".stripMargin

  /** Fold count and naive-assignment modulus for q279. */
  val GroupFolds = 5

  /** q279 — GROUP-aware k-fold assignment (GroupKFold): every
    * exact-duplicate group (same md5(text)) lands entirely in ONE fold,
    * because the fold is a hash of the GROUP key, not the row key —
    * the split discipline that stops duplicated documents from leaking
    * between train and validation (q178 proved the property for a
    * 2-way split; this is the k-fold CV form).
    *
    * The graded output is the per-fold audit (docs, groups, largest
    * group) plus the counterfactual that justifies the op: how many
    * multi-doc groups WOULD straddle folds under naive per-row
    * assignment (doc_id % k) — a real, data-dependent leak count, 0
    * only if the corpus had no duplicates. Group-fold straddling is 0
    * by construction (fold is a function of the group), and the oracle
    * re-derives both numbers exactly. */
  def q279GroupFolds(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("grp"))
      .withColumn("fold", pmod(polyHash(col("grp")) * lit(FoldMixQ279), lit(P)) % GroupFolds)
      .withColumn("naive_fold", pmod(col("doc_id"), lit(GroupFolds)))
      .persist()
    val perFold = docs.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("grp")).as("n_groups"))
    val biggest = docs.groupBy(col("fold"), col("grp")).agg(count(lit(1)).as("gs"))
      .groupBy(col("fold")).agg(max(col("gs")).as("max_group"))
    val multi = docs.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), countDistinct(col("naive_fold")).as("nf"))
      .filter(col("n") >= 2)
    val global = multi.agg(
      count(lit(1)).as("n_groups_multi"),
      sum((col("nf") > 1).cast("long")).as("n_straddling_naive"))
    perFold.join(biggest, "fold")
      .crossJoin(broadcast(global))
      .select(col("fold"), col("n_docs"), col("n_groups"), col("max_group"),
        coalesce(col("n_groups_multi"), lit(0L)).as("n_groups_multi"),
        coalesce(col("n_straddling_naive"), lit(0L)).as("n_straddling_naive"))
      .orderBy(col("fold"))
  }

  /** Knuth mix for the q279 group-fold hash (distinct from q236's so the
    * two fold families decorrelate). */
  val FoldMixQ279 = 2246822519L

  val q279Sql: String =
    s"""WITH g AS (
       |  SELECT doc_id, md5(text) AS grp,
       |         ((${polyHashSql("md5(text)")} * $FoldMixQ279 % $P) + $P) % $P
       |           % $GroupFolds AS fold,
       |         doc_id % $GroupFolds AS naive_fold
       |  FROM documents),
       |pf AS (SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |              CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups
       |       FROM g GROUP BY fold),
       |gs AS (SELECT fold, grp, COUNT(*) AS gs FROM g GROUP BY fold, grp),
       |bg AS (SELECT fold, CAST(MAX(gs) AS BIGINT) AS max_group FROM gs GROUP BY fold),
       |multi AS (
       |  SELECT grp, COUNT(*) AS n, COUNT(DISTINCT naive_fold) AS nf
       |  FROM g GROUP BY grp HAVING COUNT(*) >= 2),
       |glb AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups_multi,
       |         CAST(SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_straddling_naive
       |  FROM multi)
       |SELECT fold, n_docs, n_groups, max_group,
       |       COALESCE(glb.n_groups_multi, 0) AS n_groups_multi,
       |       COALESCE(glb.n_straddling_naive, 0) AS n_straddling_naive
       |FROM pf JOIN bg USING (fold) CROSS JOIN glb
       |ORDER BY fold""".stripMargin

  /** q280 — normalized-fingerprint duplicate audit: fingerprint every
    * document by the md5 of its NORMALIZED text (lower-cased, every
    * non-[a-z0-9] character removed), so duplicates that differ only in
    * casing, punctuation, or whitespace — the near-misses exact dedup
    * (q34) cannot see and MinHash (q35) only catches probabilistically —
    * collapse EXACTLY. The graded output is the per-source audit
    * (anchored on the |sources| domain so a clean corpus still reports):
    * exact-distinct vs normalized-distinct text counts (their gap is
    * precisely the case/punct-dup mass), docs sitting in multi-doc
    * normalized groups, and groups spanning >1 language — the
    * machine-translation/transliteration contamination flag. One
    * projection + two aggregates; the character-class regex has
    * identical semantics in java.util.regex and RE2 (q54 discipline). */
  def q280NormalizedDups(s: SparkSession, d: String): DataFrame = {
    val f = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).as("fp"))
      .persist()
    val groups = f.groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("nl"))
    val perSource = groups.groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct_norm"),
        sum(when(col("n") >= 2, col("n")).otherwise(lit(0L))).as("n_dup_docs"),
        sum((col("nl") > 1).cast("long")).as("n_cross_lang_groups"))
    f.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_exact"))
      .join(perSource, "source")
      .select(col("source"), col("n_docs"), col("n_distinct_exact"),
        col("n_distinct_norm"),
        (col("n_distinct_exact") - col("n_distinct_norm")).as("n_case_punct_dups"),
        col("n_dup_docs"), col("n_cross_lang_groups"))
      .orderBy(col("source"))
  }

  val q280Sql: String =
    """WITH f AS (
      |  SELECT doc_id, lang, source, text,
      |         md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
      |  FROM documents),
      |g AS (
      |  SELECT source, fp, COUNT(*) AS n, COUNT(DISTINCT lang) AS nl
      |  FROM f GROUP BY source, fp),
      |ps AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct_norm,
      |         CAST(SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |         CAST(SUM(CASE WHEN nl > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_cross_lang_groups
      |  FROM g GROUP BY source),
      |pe AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_exact
      |  FROM f GROUP BY source)
      |SELECT pe.source, n_docs, n_distinct_exact, n_distinct_norm,
      |       n_distinct_exact - n_distinct_norm AS n_case_punct_dups,
      |       n_dup_docs, n_cross_lang_groups
      |FROM pe JOIN ps ON ps.source = pe.source
      |ORDER BY pe.source""".stripMargin

  /** q281 — temperature-weighted mixture sampling (the multilingual
    * upsampling rule from mBERT/XLM-R): source weights ∝ n^α with
    * α = 3/4, which damps head sources and upsamples the tail. α is
    * deliberately 3/4 — not the paper's 0.7 — because x^0.75 =
    * sqrt(sqrt(x³)) uses only integer powers and sqrt, and sqrt is
    * IEEE correctly-rounded (engine-portable) where pow/exp/ln are not:
    * the whole schedule hash-checks with zero float slack. Each
    * weight is micro-quantized BEFORE the sum (exact BIGINT total), and
    * the sampling share and upsample factor take one shared-order
    * double division each. One |sources|-row aggregate.
    *
    * Range bound (the honest fine print): Σ w_micro is a BIGINT sum of
    * floor(n^(3/4)·1e6) terms, exact while the total stays below 2^63 —
    * i.e. Σ n_docs^(3/4) < ~9.2e12, a single source of up to ~4e16 docs
    * or any realistic mixture (a 100-source schedule of 1e15-doc sources
    * sums to ~5.6e13·1e6 ≈ 5.6e19 and would overflow). Past that bound,
    * compute shares from the un-quantized double weights and micro-
    * quantize only the final share — trading the exact-integer total for
    * range; the fixture and any per-trillion-doc schedule are far inside
    * the exact regime, so the graded form keeps the BIGINT total. */
  def q281TemperatureMix(s: SparkSession, d: String): DataFrame = {
    val n = Tables.documents(s, d).groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    // cube in DOUBLE: IEEE multiply rounds identically on both engines,
    // and unlike a BIGINT cube it cannot overflow at petabyte-scale n
    val nd = col("n_docs").cast("double")
    val w = sqrt(sqrt(nd * nd * nd))
    val weighted = n.withColumn("w_micro", floor(w * lit(1000000.0) + lit(0.5)).cast("long"))
    val tot = weighted.agg(sum(col("w_micro")).as("tw"), sum(col("n_docs")).as("tn"))
    weighted.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("w_micro"),
        floor(col("w_micro").cast("double") / col("tw").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long").as("share_micro"),
        // upsample factor = sampled share / natural share
        floor(col("w_micro").cast("double") * col("tn").cast("double") /
          (col("tw").cast("double") * col("n_docs").cast("double")) *
          lit(1000000.0) + lit(0.5)).cast("long").as("upsample_micro"))
      .orderBy(col("source"))
  }

  val q281Sql: String =
    """WITH n AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY source),
      |w AS (
      |  SELECT source, n_docs,
      |         CAST(FLOOR(sqrt(sqrt(
      |                  CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)
      |                  * CAST(n_docs AS DOUBLE)))
      |                * 1000000.0 + 0.5) AS BIGINT) AS w_micro
      |  FROM n),
      |t AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tw,
      |             CAST(SUM(n_docs) AS BIGINT) AS tn FROM w)
      |SELECT source, n_docs, w_micro,
      |       CAST(FLOOR(CAST(w_micro AS DOUBLE) / CAST(tw AS DOUBLE)
      |              * 1000000.0 + 0.5) AS BIGINT) AS share_micro,
      |       CAST(FLOOR(CAST(w_micro AS DOUBLE) * CAST(tn AS DOUBLE)
      |              / (CAST(tw AS DOUBLE) * CAST(n_docs AS DOUBLE))
      |              * 1000000.0 + 0.5) AS BIGINT) AS upsample_micro
      |FROM w CROSS JOIN t
      |ORDER BY source""".stripMargin

  /** Dense-rank cutoff and kept negatives per query for q282. */
  val NegDenseK = 5
  val NegTopK = 3

  /** q282 — hard-negative mining for contrastive retrieval training,
    * over q274's SCALE-BOUNDED candidate pool: a hard negative is a
    * candidate that is lexically similar to the query (nonzero shingle
    * Jaccard) but NOT semantically close (outside the dense cosine
    * top-[[NegDenseK]]) — the "looks right, means wrong" examples that
    * teach an embedding model more than random negatives (the standard
    * ANCE/DPR mining step, here with deterministic generators instead
    * of a warm model). Top-[[NegTopK]] per query by Jaccard. q234 mines
    * batch-hard triplets from label structure; this mines from the
    * retrieval index itself. Cost: a filter + one in-pool rank over
    * q274's bounded candidates — nothing corpus-proportional. */
  def q282HardNegatives(s: SparkSession, d: String): DataFrame = {
    val negs = RankOps.hybridScored(s, d)
      .filter(col("r1") > NegDenseK && col("jac_micro") > 0)
    negs.withColumn("neg_rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("jac_micro").desc, col("cid"))))
      .filter(col("neg_rank") <= NegTopK)
      .select(col("qid"), col("neg_rank").cast("long").as("neg_rank"), col("cid"),
        col("jac_micro"), col("r1").cast("long").as("dense_rank"))
      .orderBy(col("qid"), col("neg_rank"))
  }

  lazy val q282Sql: String = // lazy: RankOps.hybridScoredCtes
    s"""WITH ${RankOps.hybridScoredCtes},
       |negs AS (
       |  SELECT qid, cid, jac_micro, r1,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY jac_micro DESC, cid)
       |           AS neg_rank
       |  FROM ranked WHERE r1 > $NegDenseK AND jac_micro > 0)
       |SELECT qid, CAST(neg_rank AS BIGINT) AS neg_rank, cid, jac_micro,
       |       CAST(r1 AS BIGINT) AS dense_rank
       |FROM negs WHERE neg_rank <= $NegTopK
       |ORDER BY qid, neg_rank""".stripMargin

  /** Mask modulus for q283 (1-in-7 positions ≈ the 15% T5 corruption
    * rate) and the position-mixing constant. */
  val MaskMod = 7
  val MaskMix = 1000003L

  /** q283 — span-corruption masking plan (the T5/UL2 pretraining
    * objective's data prep): every token position decides masked/kept by
    * a pure integer hash of (doc, position) — reproducible by any party
    * with the ids, the q239-dropout argument applied to the objective
    * itself — and consecutive masked positions merge into SPANS (what
    * the objective replaces with single sentinels). Per doc: token
    * count, masked count, span count (mask-starts via lag), mean span
    * length in micro-units from the two exact integers. One projection +
    * one per-doc window + one aggregate. */
  def q283SpanMaskPlan(s: SparkSession, d: String): DataFrame =
    spanMaskCore(Tables.documents(s, d))

  /** q283's core over any (doc_id, text) frame — split out for the
    * property spec. */
  private[graft] def spanMaskCore(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("masked",
        (pmod(col("doc_id") * MaskMix + col("pos"), lit(MaskMod)) === 0).cast("long"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = tok
      .withColumn("prev", lag(col("masked"), 1, 0L).over(w))
      .withColumn("span_start",
        (col("masked") === 1L && col("prev") === 0L).cast("long"))
    spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("masked")).as("n_masked"),
        sum(col("span_start")).as("n_spans"))
      .withColumn("mask_ratio_micro",
        floor(col("n_masked").cast("double") / col("n_tok").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("mean_span_micro",
        when(col("n_spans") === 0, lit(0L)).otherwise(
          floor(col("n_masked").cast("double") / col("n_spans").cast("double") *
            lit(1000000.0) + lit(0.5)).cast("long")))
      .orderBy(col("doc_id"))
  }

  val q283Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, i - 1 AS pos,
       |         CASE WHEN ((doc_id * $MaskMix + i - 1) % $MaskMod + $MaskMod) % $MaskMod = 0
       |              THEN 1 ELSE 0 END AS masked
       |  FROM (SELECT doc_id, ${tokensSql("text")} AS tk FROM documents),
       |       UNNEST(range(1, len(tk) + 1)) AS u(i)),
       |sp AS (
       |  SELECT doc_id, masked,
       |         CASE WHEN masked = 1 AND
       |              COALESCE(LAG(masked) OVER (PARTITION BY doc_id ORDER BY pos), 0) = 0
       |              THEN 1 ELSE 0 END AS span_start
       |  FROM t),
       |agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
       |         CAST(SUM(masked) AS BIGINT) AS n_masked,
       |         CAST(SUM(span_start) AS BIGINT) AS n_spans
       |  FROM sp GROUP BY doc_id)
       |SELECT doc_id, n_tok, n_masked, n_spans,
       |       CAST(FLOOR(CAST(n_masked AS DOUBLE) / CAST(n_tok AS DOUBLE)
       |              * 1000000.0 + 0.5) AS BIGINT) AS mask_ratio_micro,
       |       CASE WHEN n_spans = 0 THEN CAST(0 AS BIGINT)
       |            ELSE CAST(FLOOR(CAST(n_masked AS DOUBLE) / CAST(n_spans AS DOUBLE)
       |                   * 1000000.0 + 0.5) AS BIGINT) END AS mean_span_micro
       |FROM agg ORDER BY doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q281_temperature_mix" -> q281TemperatureMix _,
    "q282_hard_negatives" -> q282HardNegatives _,
    "q283_span_mask_plan" -> q283SpanMaskPlan _,
    "q275_lsh_decontaminate" -> q275LshDecontaminate _,
    "q276_ivf_maintain" -> q276IvfMaintain _,
    "q277_feature_hash" -> q277FeatureHash _,
    "q278_stratified_reservoir" -> q278StratifiedReservoir _,
    "q279_group_folds" -> q279GroupFolds _,
    "q280_normalized_dups" -> q280NormalizedDups _)

  val oracles: Map[String, String] = Map(
    "q281_temperature_mix" -> q281Sql,
    "q282_hard_negatives" -> q282Sql,
    "q283_span_mask_plan" -> q283Sql,
    "q275_lsh_decontaminate" -> q275Sql,
    "q276_ivf_maintain" -> q276Sql,
    "q277_feature_hash" -> q277Sql,
    "q278_stratified_reservoir" -> q278Sql,
    "q279_group_folds" -> q279Sql,
    "q280_normalized_dups" -> q280Sql)
}
