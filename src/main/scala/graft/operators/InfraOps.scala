package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Engine-infrastructure operators: the Bloom-filter pre-join that guards
  * the decontamination pipeline at scale, the hashing-trick featurizer,
  * the small-file compaction planner, and a Hilbert-curve clustering key
  * beside q119's Morton key.
  *
  * All four are pure integer arithmetic end to end, so every query
  * hash-matches its DuckDB oracle with no float discipline needed.
  */
object InfraOps extends QueryModule {
  /** Bloom filter geometry for q229: m bits, k hash probes per key. */
  val BloomM = 4096
  val BloomK = 3

  /** q229 — Bloom-filter pre-join for decontamination: a [[BloomM]]-bit
    * filter over the benchmark 8-gram set, probed by every training
    * gram; candidates (all [[BloomK]] probe positions set) then verify
    * against the exact gram set. Per training doc: gram count, Bloom
    * candidates, true hits, and surviving false positives.
    *
    * This is the runtime-filter shape that makes q86 viable when the
    * corpus side is 100 TB: the filter is m bits (512 bytes here —
    * broadcast for free, and still broadcast-sized at m=10⁹ for a
    * billion-gram eval suite), so the corpus is pruned to Bloom
    * candidates BEFORE the expensive exact gram join; only the
    * (1−fill)ᵏ-bounded candidate slice ever reaches the shuffle. The
    * filter itself is a distinct-aggregate of probe positions — the
    * relational encoding of the bit array (≤ m rows) — and membership
    * is "all k positions match" (count(*) = k on the position join).
    * Probes reuse the MinHash affine family, so probe independence has
    * the same provenance as q35's signatures.
    */
  def q229BloomPrefilter(s: SparkSession, d: String): DataFrame = {
    // dict-encode each DISTINCT token once (per-occurrence char-fold
    // hashing is 20-50× slower — the q86 lesson), then fold the 8-gram
    // hash from ContamK−1 lead() windows
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val dict = tok.select(col("tok")).distinct().withColumn("h", polyHash(col("tok")))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val withLeads = (1 until Curation.ContamK).foldLeft(tok.join(broadcast(dict), "tok")) {
      (df, i) => df.withColumn(s"h$i", lead(col("h"), i).over(wp))
    }
    val gramExpr = (1 until Curation.ContamK).foldLeft(col("h")) {
      (acc, i) => (acc * 31 + col(s"h$i")) % P
    }
    // persisted: feeds the filter build, the exact-verify set, the probe,
    // and the per-doc gram counts (harness clearCache() releases it)
    val grams = withLeads
      .filter(col(s"h${Curation.ContamK - 1}").isNotNull)
      .select(col("doc_id"), gramExpr.as("g"))
      .distinct()
      .persist()
    val bench = grams.filter(col("doc_id") % 29 === 0)
    val train = grams.filter(col("doc_id") % 29 =!= 0)
    // the filter: distinct probe positions of every benchmark gram
    val bits = bench
      .select(explode(array((0 until BloomK).map(i =>
        (col("g") * MinHashA(i) + MinHashB(i)) % P % BloomM): _*)).as("pos"))
      .distinct()
    // probe: a train gram survives iff all k of its positions are set
    val trainG = train.select(col("doc_id"), col("g")).distinct()
    val cand = trainG
      .select(col("doc_id"), col("g"),
        explode(array((0 until BloomK).map(i =>
          (col("g") * MinHashA(i) + MinHashB(i)) % P % BloomM): _*)).as("pos"))
      .join(broadcast(bits), "pos")
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === BloomK)
      .select(col("doc_id"), col("g"))
    val benchSet = bench.select(col("g")).distinct()
    val verified = cand.join(broadcast(benchSet), Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_true"))
    val perDoc = trainG.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(cand.groupBy(col("doc_id")).agg(count(lit(1)).as("n_cand")), Seq("doc_id"), "left")
      .join(verified, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_cand", "n_true"))
    perDoc.select(col("doc_id"), col("n_grams"), col("n_cand"), col("n_true"),
        (col("n_cand") - col("n_true")).as("n_false_pos"))
      .orderBy(col("doc_id"))
  }

  val q229Sql: String = {
    val grams = kgramHashesSql(tokenHashesSql(tokensSql("text")), Curation.ContamK)
    val posList = (0 until BloomK).map(i =>
      s"(g * ${MinHashA(i)} + ${MinHashB(i)}) % $P % $BloomM").mkString("[", ", ", "]")
    s"""WITH gr AS (
       |  SELECT doc_id, unnest($grams) AS g
       |  FROM documents),
       |bench AS (SELECT DISTINCT g FROM gr WHERE doc_id % 29 = 0),
       |train AS (SELECT DISTINCT doc_id, g FROM gr WHERE doc_id % 29 <> 0),
       |bits AS (SELECT DISTINCT unnest($posList) AS pos FROM bench),
       |probe AS (
       |  SELECT doc_id, g, unnest($posList) AS pos FROM train),
       |cand AS (
       |  SELECT doc_id, g FROM probe JOIN bits USING (pos)
       |  GROUP BY doc_id, g HAVING COUNT(*) = $BloomK),
       |verified AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_true FROM cand
       |  WHERE g IN (SELECT g FROM bench) GROUP BY doc_id),
       |per_doc AS (
       |  SELECT t.doc_id,
       |         CAST(COUNT(*) AS BIGINT) AS n_grams
       |  FROM train t GROUP BY t.doc_id),
       |nc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand GROUP BY doc_id)
       |SELECT p.doc_id, p.n_grams,
       |       COALESCE(nc.n_cand, 0) AS n_cand,
       |       COALESCE(v.n_true, 0) AS n_true,
       |       COALESCE(nc.n_cand, 0) - COALESCE(v.n_true, 0) AS n_false_pos
       |FROM per_doc p
       |LEFT JOIN nc ON nc.doc_id = p.doc_id
       |LEFT JOIN verified v ON v.doc_id = p.doc_id
       |ORDER BY p.doc_id""".stripMargin
  }

  /** Bucket count for the q230 hashing-trick featurizer. */
  val FhBuckets = 256

  /** q230 — feature hashing (the hashing trick): every token occurrence
    * maps to bucket `h mod 256` with sign `±1` from the next hash bit;
    * per document the signed counts form the fixed-width sparse feature
    * vector used when a vocabulary is impractical (Vowpal Wabbit /
    * scikit HashingVectorizer semantics, sign trick per Weinberger et
    * al. 2009). No vocabulary, no fit step, no model table: the plan is
    * one row-local projection plus one (doc, bucket) partial-aggregable
    * groupBy, so it runs identically on 500 docs or 10¹⁰ — the
    * featurizer a 100 TB corpus can actually afford.
    */
  def q230FeatureHash(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("h", polyHash(col("tok")))
    t.withColumn("bucket", col("h") % FhBuckets)
      .withColumn("sign", lit(1) - expr(s"(h div $FhBuckets) % 2") * 2)
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sign")).as("w"))
      .filter(col("w") =!= 0)
      .orderBy(col("doc_id"), col("bucket"))
  }

  val q230Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${polyHashSql("tok")} AS h
       |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents))
       |SELECT doc_id, h % $FhBuckets AS bucket,
       |       CAST(SUM(1 - ((h // $FhBuckets) % 2) * 2) AS BIGINT) AS w
       |FROM t GROUP BY doc_id, h % $FhBuckets
       |HAVING SUM(1 - ((h // $FhBuckets) % 2) * 2) <> 0
       |ORDER BY doc_id, bucket""".stripMargin

  /** Target output size for the q231 compaction planner, in proxy bytes. */
  val CompactTarget = 8000L

  /** q231 — small-file compaction planner: the OPTIMIZE/bin-packing step
    * of lakehouse table maintenance, as a query. Daily per-event-type
    * "files" (size proxy: Σ len(props) + 16/row) are packed, in day
    * order, into output files of ≥ [[CompactTarget]] bytes by bucketing
    * on floor(preceding-cumsum / target) — the streaming analogue of
    * first-fit that keeps day ranges contiguous per output file (so
    * time-range query pruning survives compaction). Output: one row per
    * planned file with part count, bytes, and its day span.
    *
    * One scan → one (type, day) aggregate → one per-type window cumsum
    * over |days| rows → one final rollup. The window partitions by
    * event_type (bounded cardinality, never global), and the plan never
    * moves the data itself — it emits the instruction set a rewriter
    * would execute, which is what a planner over 100 TB must do.
    */
  def q231CompactionPlan(s: SparkSession, d: String): DataFrame = {
    val files = Tables.events(s, d)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg((sum(length(col("props"))) + count(lit(1)) * 16).as("bytes"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("file_bin", expr(s"cum_before div $CompactTarget"))
      .groupBy(col("event_type"), col("file_bin"))
      .agg(count(lit(1)).as("n_parts"), sum(col("bytes")).as("total_bytes"),
        min(col("day")).as("from_day"), max(col("day")).as("to_day"))
      .orderBy(col("event_type"), col("file_bin"))
  }

  val q231Sql: String =
    s"""WITH files AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |         CAST(SUM(len(props)) + COUNT(*) * 16 AS BIGINT) AS bytes
       |  FROM events GROUP BY 1, 2),
       |binned AS (
       |  SELECT event_type, day, bytes,
       |         CAST(COALESCE(SUM(bytes) OVER (PARTITION BY event_type ORDER BY day
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |           // $CompactTarget AS file_bin
       |  FROM files)
       |SELECT event_type, file_bin,
       |       CAST(COUNT(*) AS BIGINT) AS n_parts,
       |       CAST(SUM(bytes) AS BIGINT) AS total_bytes,
       |       MIN(day) AS from_day, MAX(day) AS to_day
       |FROM binned GROUP BY event_type, file_bin
       |ORDER BY event_type, file_bin""".stripMargin

  /** q232 — Hilbert-curve clustering key on q119's exact (customer,
    * month) grid, bucketed and box-bounded the same way, so the two
    * space-filling curves' locality is directly comparable (Hilbert has
    * no Morton "seam jumps", so worst-case bucket boxes shrink).
    *
    * The xy2d walk (one rotate-and-accumulate step per bit level, high
    * to low) runs as a higher-order `aggregate` fold whose state —
    * (d, x, y) — is packed into ONE BIGINT (d·2²⁰ + x·2¹⁰ + y), keeping
    * the fold a pure integer recurrence that both engines execute
    * identically with no struct support needed. Row-local, shuffle-free,
    * and codegen-resident like every other layout key here.
    */
  /** One xy2d rotate-and-accumulate step over the packed (d·2²⁰+x·2¹⁰+y)
    * state, rendered for either engine's integer-op spelling. Shared
    * generator = shared structure = shared results. */
  private def hilbertStep(intDiv: String, s2: String,
      shr: (String, String) => String, n: Int): String = {
    val X = s"((acc $intDiv 1024) % 1024)"
    val Y = "(acc % 1024)"
    val D = s"(acc $intDiv 1048576)"
    val rx = s"((${shr(X, "b")}) & 1)"
    val ry = s"((${shr(Y, "b")}) & 1)"
    val nd = s"($D + $s2 * ($rx * (3 - $ry) + (1 - $rx) * $ry))"
    val fx = s"(CASE WHEN $rx = 1 THEN ${n - 1} - $X ELSE $X END)"
    val fy = s"(CASE WHEN $rx = 1 THEN ${n - 1} - $Y ELSE $Y END)"
    val nx = s"(CASE WHEN $ry = 0 THEN $fy ELSE $X END)"
    val ny = s"(CASE WHEN $ry = 0 THEN $fx ELSE $Y END)"
    s"$nd * 1048576 + $nx * 1024 + $ny"
  }

  /** The DuckDB spelling of one packed-state xy2d step (shared with
    * q268's layout comparison). */
  private[operators] def hilbertStepSql(n: Int): String =
    hilbertStep("//", "(CAST(1 AS BIGINT) << (2 * b))", (e, b) => s"($e >> $b)", n)

  /** The full Hilbert index as a Spark Column over `xb`/`yb` long
    * columns in [0, 2^ZBits). Public so the spec can prove bijectivity
    * over the whole grid with the exact production expression. */
  def hilbertCol: org.apache.spark.sql.Column = {
    val n = 1 << ScaleOps.ZBits
    val step = hilbertStep("div", "shiftleft(CAST(1 AS BIGINT), 2 * b)",
      (e, b) => s"shiftright($e, $b)", n)
    expr(
      s"""aggregate(sequence(${ScaleOps.ZBits - 1}, 0, -1),
         |  CAST(xb * 1024 + yb AS BIGINT),
         |  (acc, b) -> $step,
         |  acc -> acc div 1048576)""".stripMargin)
  }

  def q232HilbertLayout(s: SparkSession, d: String): DataFrame = {
    val n = 1 << ScaleOps.ZBits
    val x = pmod(col("o_custkey"), lit(n))
    val y = pmod(month(col("o_orderdate")) - 1 + (year(col("o_orderdate")) - 1995) * 12,
      lit(n))
    val hil = hilbertCol
    Tables.orders(s, d)
      .select(x.cast("long").as("xb"), y.cast("long").as("yb"))
      .withColumn("h", hil)
      .withColumn("h_bucket", shiftright(col("h"), ScaleOps.ZBits))
      .groupBy(col("h_bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("xb")).as("min_x"), max(col("xb")).as("max_x"),
        min(col("yb")).as("min_y"), max(col("yb")).as("max_y"))
      .withColumn("span_area",
        (col("max_x") - col("min_x") + 1) * (col("max_y") - col("min_y") + 1))
      .orderBy(col("h_bucket"))
  }

  val q232Sql: String = {
    val zb = ScaleOps.ZBits
    val n = 1 << zb
    val xs = s"(((o_custkey % $n) + $n) % $n)"
    val ys = s"((((MONTH(o_orderdate) - 1 + (YEAR(o_orderdate) - 1995) * 12) % $n) + $n) % $n)"
    // the same packed-state fold; DuckDB's list_reduce is seedless, so the
    // seed rides as the list head (fold structure keeps it in acc position)
    val bitsDesc = (zb - 1) to 0 by -1
    val step = hilbertStep("//", "(CAST(1 AS BIGINT) << (2 * b))",
      (e, b) => s"($e >> $b)", n)
    s"""WITH m AS (
       |  SELECT CAST($xs AS BIGINT) AS xb, CAST($ys AS BIGINT) AS yb
       |  FROM orders),
       |h AS (
       |  SELECT xb, yb,
       |    list_reduce(
       |      list_concat([CAST(xb * 1024 + yb AS BIGINT)],
       |                  [${bitsDesc.map(b => s"CAST($b AS BIGINT)").mkString(", ")}]),
       |      (acc, b) -> $step
       |    ) // 1048576 AS h
       |  FROM m)
       |SELECT h >> $zb AS h_bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  MIN(xb) AS min_x, MAX(xb) AS max_x,
       |  MIN(yb) AS min_y, MAX(yb) AS max_y,
       |  (MAX(xb) - MIN(xb) + 1) * (MAX(yb) - MIN(yb) + 1) AS span_area
       |FROM h GROUP BY 1 ORDER BY h_bucket""".stripMargin
  }

  /** q244 — q232's native twin: the identical Hilbert layout computed by
    * the codegen'd [[graft.functions.HilbertIndexF]] expression instead
    * of the interpreted higher-order fold (the q90/q91 portable-vs-native
    * pattern). Same oracle SQL — the hash check proves the custom
    * expression's walk is bit-equal to the portable recurrence; the spec
    * additionally proves it over the full grid and pins the codegen plan.
    */
  def q244HilbertNative(s: SparkSession, d: String): DataFrame = {
    graft.functions.LayoutExpressions.register(s, ScaleOps.ZBits)
    import graft.functions.LayoutExpressions.hilbertF
    val n = 1 << ScaleOps.ZBits
    val x = pmod(col("o_custkey"), lit(n))
    val y = pmod(month(col("o_orderdate")) - 1 + (year(col("o_orderdate")) - 1995) * 12,
      lit(n))
    Tables.orders(s, d)
      .select(x.cast("long").as("xb"), y.cast("long").as("yb"))
      .withColumn("h", hilbertF("xb", "yb"))
      .withColumn("h_bucket", shiftright(col("h"), ScaleOps.ZBits))
      .groupBy(col("h_bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("xb")).as("min_x"), max(col("xb")).as("max_x"),
        min(col("yb")).as("min_y"), max(col("yb")).as("max_y"))
      .withColumn("span_area",
        (col("max_x") - col("min_x") + 1) * (col("max_y") - col("min_y") + 1))
      .orderBy(col("h_bucket"))
  }

  val queries: Map[String, Q] = Map(
    "q229_bloom_prefilter" -> q229BloomPrefilter _,
    "q230_feature_hash" -> q230FeatureHash _,
    "q231_compaction_plan" -> q231CompactionPlan _,
    "q232_hilbert_layout" -> q232HilbertLayout _,
    "q244_hilbert_native" -> q244HilbertNative _)

  val oracles: Map[String, String] = Map(
    "q229_bloom_prefilter" -> q229Sql,
    "q230_feature_hash" -> q230Sql,
    "q231_compaction_plan" -> q231Sql,
    "q232_hilbert_layout" -> q232Sql,
    "q244_hilbert_native" -> q232Sql)
}
