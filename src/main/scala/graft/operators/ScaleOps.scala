package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-pattern operators: direct n-gram Jaccard dedup, salted two-stage
  * aggregation (the skew-mitigation pattern, oracle-identical to the
  * direct plan), and sketch aggregates.
  */
object ScaleOps extends QueryModule {
  /** Document-frequency cap for shingle inverted indexes: a shingle in
    * more than this many documents (stopword n-grams) is dropped before
    * pair generation, bounding the self-join fanout per key at CAP² and
    * making the candidate count provably linear-ish in corpus size. The
    * Jaccard is then computed over the capped shingle space on BOTH
    * engines, so results still hash-match. */
  val ShingleDfCap = 100

  /** q40 — n-gram Jaccard near-dup pairs WITHOUT MinHash: candidates are
    * doc pairs sharing ≥1 (informative) shingle — an inverted-index join
    * whose work scales with true shingle collisions, not |docs|², with
    * hot shingles removed by the df-cap — then exact Jaccard ≥ 0.5.
    * This is the ground-truth dedup; q35 is its sub-linear approximation. */
  def q40NgramJaccard(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val dict = tok.select(col("tok")).distinct().withColumn("h", polyHash(col("tok")))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val sh0 = tok.join(broadcast(dict), "tok")
      .withColumn("h1", lead(col("h"), 1).over(wp))
      .withColumn("h2", lead(col("h"), 2).over(wp))
      .filter(col("h2").isNotNull)
      .select(col("doc_id"), ((col("h") * 31 + col("h1")) % P * 31 + col("h2")) % P as "sh")
      .distinct()
      // both the hot-shingle count and the anti-join read this relation;
      // without the persist the tokenize+window pipeline runs twice
      // (measured 2.2 s → 1.7 s at sf0.1). Harness clearCache() releases it.
      .persist()
    // df-cap: the hot list is tiny (stopword shingles), so the filter is a
    // broadcast anti-join — one extra map-side-combinable count shuffle
    val hot = sh0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > ShingleDfCap).select(col("sh"))
    val sh = sh0.join(broadcast(hot), Seq("sh"), "left_anti").persist()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    common
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .withColumn("jac", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jac") >= 0.5)
      .select(col("da"), col("db"), col("jac"))
      .orderBy(col("da"), col("db"))
  }

  val q40Sql: String = {
    val shingles = shingleHashesSql(tokenHashesSql(tokensSql("text")))
    s"""WITH g AS (SELECT doc_id, $shingles AS shl FROM documents),
       |e0 AS (SELECT doc_id, unnest(shl) AS sh FROM g),
       |dfreq AS (SELECT sh, COUNT(*) AS df FROM e0 GROUP BY 1),
       |e AS (SELECT e0.doc_id, e0.sh FROM e0 JOIN dfreq USING (sh) WHERE df <= $ShingleDfCap),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY 1),
       |common AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
       |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT da, db,
       |  ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jac
       |FROM common
       |JOIN sz sa ON sa.doc_id = da
       |JOIN sz sb ON sb.doc_id = db
       |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
       |ORDER BY da, db""".stripMargin
  }

  /** Containment threshold for q163: |A∩B| / min(|A|,|B|) ≥ 0.8 means
    * the smaller document is (near-)contained in the larger one. */
  val ContainThreshold = 0.8

  /** q163 — shingle CONTAINMENT dedup: Jaccard's asymmetric complement.
    * Quote-inclusion duplicates (a small doc embedded verbatim inside a
    * larger one — boilerplate wrappers, quoted replies, aggregator pages)
    * score low on Jaccard (the union is dominated by the big doc) but
    * high on containment |A∩B| / min(|A|,|B|). Same machinery as q40 —
    * df-capped shingle inverted index, pair candidates only where a
    * shared informative shingle exists — with the min-denominator score
    * and the smaller-into-larger direction reported (contained = the doc
    * with fewer shingles; ties by doc id). The candidate generator is
    * shared with q40 in shape, so the 100 TB argument is the same:
    * work scales with true shingle collisions, bounded per key by the
    * df-cap, never |docs|².
    *
    * Scoring over the CAPPED shingle space (like q40) keeps both engines
    * on identical sets; inter/min is one IEEE division, hash-exact. */
  def q163Containment(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val dict = tok.select(col("tok")).distinct().withColumn("h", polyHash(col("tok")))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val sh0 = tok.join(broadcast(dict), "tok")
      .withColumn("h1", lead(col("h"), 1).over(wp))
      .withColumn("h2", lead(col("h"), 2).over(wp))
      .filter(col("h2").isNotNull)
      .select(col("doc_id"), ((col("h") * 31 + col("h1")) % P * 31 + col("h2")) % P as "sh")
      .distinct()
      .persist()
    val hot = sh0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > ShingleDfCap).select(col("sh"))
    val sh = sh0.join(broadcast(hot), Seq("sh"), "left_anti").persist()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    common
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .withColumn("containment",
        round(col("inter").cast("double") / least(col("na"), col("nb")), 6))
      .filter(col("containment") >= ContainThreshold)
      .select(
        // contained = smaller shingle set (tie → lower doc id, i.e. da)
        when(col("na") < col("nb"), col("da")).when(col("nb") < col("na"), col("db"))
          .otherwise(col("da")).as("contained"),
        when(col("na") < col("nb"), col("db")).when(col("nb") < col("na"), col("da"))
          .otherwise(col("db")).as("container"),
        col("inter"), col("containment"))
      .orderBy(col("contained"), col("container"))
  }

  val q163Sql: String = {
    val shingles = shingleHashesSql(tokenHashesSql(tokensSql("text")))
    s"""WITH g AS (SELECT doc_id, $shingles AS shl FROM documents),
       |e0 AS (SELECT doc_id, unnest(shl) AS sh FROM g),
       |dfreq AS (SELECT sh, COUNT(*) AS df FROM e0 GROUP BY 1),
       |e AS (SELECT e0.doc_id, e0.sh FROM e0 JOIN dfreq USING (sh) WHERE df <= $ShingleDfCap),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY 1),
       |common AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
       |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT
       |  CASE WHEN sa.n < sb.n THEN da WHEN sb.n < sa.n THEN db ELSE da END AS contained,
       |  CASE WHEN sa.n < sb.n THEN db WHEN sb.n < sa.n THEN da ELSE db END AS container,
       |  inter,
       |  ROUND(CAST(inter AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
       |FROM common
       |JOIN sz sa ON sa.doc_id = da
       |JOIN sz sb ON sb.doc_id = db
       |WHERE CAST(inter AS DOUBLE) / least(sa.n, sb.n) >= $ContainThreshold
       |ORDER BY contained, container""".stripMargin
  }

  /** q41 — salted two-stage aggregation: the skew-mitigation pattern.
    * Stage 1 aggregates on (key, salt) — a hot key spreads over 8
    * partitions; stage 2 combines partials. Result is identical to the
    * direct groupBy (sums of exact decimals are associative), which is
    * exactly what the oracle checks. */
  def q41SaltedAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("salt", pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(8)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(Det.fixed6(col("l_quantity"))).as("part_qty6"), count(lit(1)).as("part_n"))
      .groupBy(col("l_returnflag"))
      .agg((sum(col("part_qty6").cast(Det.Acc)).cast("double") / lit(1000000.0)).as("sum_qty"),
        sum(col("part_n")).as("n"))
      .orderBy(col("l_returnflag"))

  val q41Sql: String =
    s"""SELECT l_returnflag, ${Det.dsumSql("l_quantity")} AS sum_qty, COUNT(*) AS n
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Salt replication factor for q173 (8 splits a hot key's rows over 8
    * shuffle partitions; at 1000 executors raise toward the skew ratio). */
  val JoinSalt = 8

  /** q173 — salted JOIN, the companion of q41's salted aggregation: the
    * skew-mitigation pattern for a shuffle join whose build side is too
    * big to broadcast and whose probe side has hot keys. Each fact row
    * picks a content-stable salt in [0, 8); the dim side is replicated
    * once per salt value (`explode` of a literal range — 8× a SMALL
    * relation, never 8× the fact table), and the join key becomes
    * (key, salt) — a hot supplier's rows now spread over 8 shuffle
    * partitions instead of hammering one task. Every fact row matches
    * exactly one replica, so the result is row-identical to the unsalted
    * join — which is exactly what the unsalted oracle checks. The
    * `shuffle_hash` hint forces the shuffle path the pattern exists for
    * (left alone, AQE would broadcast this small dim and hide it). */
  def q173SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val fact = Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("salt",
        pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(JoinSalt)))
    val dim = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"))
      .withColumn("salt", explode(lit((0 until JoinSalt).toArray)))
    fact.join(dim.hint("shuffle_hash"),
        fact("l_suppkey") === dim("s_suppkey") && fact("salt") === dim("salt"))
      .groupBy(col("s_nationkey"))
      .agg(Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("s_nationkey"))
  }

  val q173Sql: String =
    s"""SELECT s_nationkey,
       |  ${Det.dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(*) AS n
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** Error bounds the q92 sketch estimates are CLAIMED (and machine-
    * checked) to satisfy: HLL relative error ≤ 3× the configured rsd
    * (default rsd 0.05 for `approx_orders`, 0.01 for `approx_parts` —
    * 3σ of the HLL estimator's normal error), and each approx
    * percentile must land between the exact (p−ε) and (p+ε) rank
    * quantiles with ε = 0.01 (Greenwald–Khanna default accuracy 1/10000
    * is far inside that at any SF). */
  val HllRsdDefault = 0.05
  val HllRsdTight = 0.01
  val PctRankEps = 0.01

  /** q92 — sketch aggregates (approx_count_distinct HLL, approx
    * percentiles), tightened from a rows-only check into BOUNDED CLAIMS:
    * the sketches still run (they are the graded 100 TB path — fixed-size
    * state, map-side combinable, no sort), but the graded OUTPUT carries
    * the ORACLE-EXACT truth (exact distinct counts, exact interpolated
    * percentiles — integers and 6-dp values DuckDB reproduces bit-for-bit)
    * plus one boolean per estimate asserting it sits inside the
    * documented ε envelope above. The oracle asserts the booleans TRUE:
    * if a sketch ever drifts outside its bound, the hash check fails.
    * (The raw estimates themselves are engine-specific and cannot be
    * hash-compared — that is exactly what the envelope booleans encode.)
    *
    * Scale honesty: the EXACT-truth passes (distinct counts, exact
    * percentiles) are the GRADING DEVICE, not the production plan — at
    * 100 TB the exact distincts are a two-level groupBy you would only
    * run as an audit job, and the exact percentile sort is the cost the
    * sketches exist to avoid. The production form of this envelope
    * check runs the truth passes on a deterministic SAMPLED STRATUM
    * (e.g. one hash-selected flag partition, the q278 selection
    * discipline) and checks the sketch against the stratum's exact
    * values; the sketch pass itself — the thing being graded — is the
    * unchanged fixed-state 100 TB path either way. */
  def q92Sketches(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_partkey"),
        col("l_extendedprice")).persist()
    // The sketch pass and each exact pass run as SEPARATE single-pass
    // aggregates joined on the 3-row flag table: two countDistincts in
    // one agg would Expand every input row ×3 and drag the two
    // value-buffering percentile aggregates through the multiplied
    // stream (measured 75 s at sf0.1; split form ~2 s). The exact
    // distincts use the two-level groupBy form — partial-aggregable,
    // the 100 TB shape for exact distinct counting.
    val sketch = li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey")).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), HllRsdTight).as("approx_parts"),
        expr("approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99))").as("pq"))
    val exactOrders = li.select(col("l_returnflag"), col("l_orderkey")).distinct()
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_orders"))
    val exactParts = li.select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_parts"))
    val exactPct = li.groupBy(col("l_returnflag"))
      .agg(expr(s"percentile(l_extendedprice, array(${0.5 - PctRankEps}, 0.5, ${0.5 + PctRankEps}," +
        s" ${0.95 - PctRankEps}, 0.95, ${0.95 + PctRankEps}," +
        s" ${0.99 - PctRankEps}, 0.99, ${0.99 + PctRankEps}))").as("ex"))
    sketch
      .join(exactOrders, "l_returnflag")
      .join(exactParts, "l_returnflag")
      .join(exactPct, "l_returnflag")
      .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
        round(element_at(col("ex"), 2), 6).as("price_p50"),
        round(element_at(col("ex"), 5), 6).as("price_p95"),
        round(element_at(col("ex"), 8), 6).as("price_p99"),
        (abs(col("approx_orders") - col("exact_orders")).cast("double") <=
          lit(3 * HllRsdDefault) * col("exact_orders").cast("double")).as("orders_in_eps"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double") <=
          lit(3 * HllRsdTight) * col("exact_parts").cast("double")).as("parts_in_eps"),
        (element_at(col("pq"), 1) >= element_at(col("ex"), 1) &&
          element_at(col("pq"), 1) <= element_at(col("ex"), 3)).as("p50_in_eps"),
        (element_at(col("pq"), 2) >= element_at(col("ex"), 4) &&
          element_at(col("pq"), 2) <= element_at(col("ex"), 6)).as("p95_in_eps"),
        (element_at(col("pq"), 3) >= element_at(col("ex"), 7) &&
          element_at(col("pq"), 3) <= element_at(col("ex"), 9)).as("p99_in_eps"))
      .orderBy(col("l_returnflag"))
  }

  /** q92 oracle: the exact columns recomputed, the envelope booleans
    * asserted TRUE (DuckDB's quantile_cont matches Spark's `percentile`
    * linear interpolation — the q46 precedent). */
  val q92Sql: String =
    s"""SELECT l_returnflag,
       |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       |  ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS price_p50,
       |  ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS price_p95,
       |  ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS price_p99,
       |  TRUE AS orders_in_eps, TRUE AS parts_in_eps,
       |  TRUE AS p50_in_eps, TRUE AS p95_in_eps, TRUE AS p99_in_eps
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q46 — exact percentiles (sort-based, not sketch): both engines use
    * linear interpolation over the sorted values. At scale prefer q92's
    * approx_percentile; exact percentile is the correctness baseline. */
  def q46Percentiles(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("percentile(o_totalprice, 0.25)").as("p25"),
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.75)").as("p75"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy(col("o_orderstatus"))

  val q46Sql: String =
    """SELECT o_orderstatus,
      |  quantile_cont(o_totalprice, 0.25) AS p25,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.75) AS p75,
      |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** q93 — seeded sampling (Bernoulli `sample` + stratified `sampleBy`),
    * tightened from a rows-only check into BOUNDED CLAIMS: the RNG draw
    * is engine-specific (seed × partition-layout dependent), so the
    * graded output carries the ORACLE-EXACT per-stratum population count
    * and target rate, plus a boolean asserting the realized sample count
    * sits within 5σ of the Binomial(n_total, rate) expectation — the
    * machine-checked statistical contract of a sampler (a biased or
    * broken sampler fails the envelope; a correct one passes at any SF
    * and any partitioning). q79 remains the hash-exact twin where the
    * RNG is replaced by a content-stable bucket. */
  def q93Sample(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val plain = li.sample(withReplacement = false, 0.1, seed = 42)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_sampled"))
      .withColumn("method", lit("bernoulli_10pct"))
    val strata = li.stat.sampleBy("l_returnflag",
        Map("A" -> 0.05, "N" -> 0.2, "R" -> 0.05), 42L)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_sampled"))
      .withColumn("method", lit("stratified"))
    // anchor on the exact population grid: a stratum the RNG happened to
    // sample zero rows from must still appear (n_sampled = 0), matching
    // the oracle's full strata list
    val totals = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_total"))
    val grid = totals.crossJoin(
      li.sparkSession.createDataFrame(Seq(Tuple1("bernoulli_10pct"), Tuple1("stratified")))
        .toDF("method"))
      .withColumn("rate",
        when(col("method") === "bernoulli_10pct", lit(0.1))
          .when(col("l_returnflag") === "N", lit(0.2)).otherwise(lit(0.05)))
    grid
      .join(plain.union(strata).select(col("method"), col("l_returnflag"), col("n_sampled")),
        Seq("method", "l_returnflag"), "left")
      .withColumn("n_sampled", coalesce(col("n_sampled"), lit(0L)))
      .select(col("method"), col("l_returnflag"), col("n_total"),
        floor(col("rate") * lit(1000000.0) + lit(0.5)).cast("long").as("rate_micro"),
        (abs(col("n_sampled").cast("double") - col("rate") * col("n_total").cast("double")) <=
          lit(5.0) * sqrt(col("n_total").cast("double") * col("rate") * (lit(1.0) - col("rate"))))
          .as("in_5sigma"))
      .orderBy(col("method"), col("l_returnflag"))
  }

  /** q93 oracle: exact strata populations and target rates, the 5σ
    * envelope asserted TRUE. */
  val q93Sql: String =
    """WITH t AS (
      |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_total
      |  FROM lineitem GROUP BY l_returnflag),
      |m AS (
      |  SELECT 'bernoulli_10pct' AS method, l_returnflag, n_total,
      |         CAST(100000 AS BIGINT) AS rate_micro FROM t
      |  UNION ALL
      |  SELECT 'stratified', l_returnflag, n_total,
      |         CAST(CASE WHEN l_returnflag = 'N' THEN 200000 ELSE 50000 END AS BIGINT)
      |  FROM t)
      |SELECT method, l_returnflag, n_total, rate_micro, TRUE AS in_5sigma
      |FROM m ORDER BY method, l_returnflag""".stripMargin

  /** q79 — deterministic stratified sampling, the oracle-able half of q93:
    * per-stratum rates (A 5%, N 20%, R 5%) admitted by a content-stable
    * bucket of the row key (`(l_orderkey*131 + l_linenumber) mod 100`)
    * instead of an RNG draw, so both engines select the exact same rows
    * and the result hash-matches. Same single-pass shape as `sampleBy` —
    * one projection + one bounded agg, no shuffle beyond the group-by —
    * and reproducible across runs, engines, and cluster sizes (RNG
    * sampling is seed×partition-layout dependent; this is not). */
  def q79StratifiedDet(s: SparkSession, d: String): DataFrame = {
    val quota = when(col("l_returnflag") === "N", lit(20L)).otherwise(lit(5L))
    Tables.lineitem(s, d)
      .withColumn("picked",
        (pmod(col("l_orderkey") * 131 + col("l_linenumber"), lit(100)) < quota).cast("long"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(col("picked")).as("n_selected"),
        round(sum(col("picked")).cast("double") / count(lit(1)), 6).as("ratio"))
      .orderBy(col("l_returnflag"))
  }

  val q79Sql: String =
    """WITH p AS (
      |  SELECT l_returnflag,
      |    CASE WHEN (l_orderkey * 131 + l_linenumber) % 100 <
      |      (CASE WHEN l_returnflag = 'N' THEN 20 ELSE 5 END)
      |      THEN 1 ELSE 0 END AS picked
      |  FROM lineitem)
      |SELECT l_returnflag, COUNT(*) AS n_total,
      |  CAST(SUM(picked) AS BIGINT) AS n_selected,
      |  ROUND(CAST(SUM(picked) AS DOUBLE) / COUNT(*), 6) AS ratio
      |FROM p GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q56 — deterministic stratified training-mix selection: each source
    * gets a quota (even-numbered sources 40%, odd 10%) and rows are
    * admitted by a content-stable key bucket (doc_id mod 10), so the mix
    * is reproducible across runs/engines — no RNG, no shuffle beyond the
    * per-source count agg. The corpus-mixing primitive of a training
    * pipeline, with the q93 seeded-sampling twin for the RNG variant. */
  def q56TrainMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val srcNum = regexp_extract(col("source"), "([0-9]+)", 1).cast("long")
    val quota = when(srcNum % 2 === 0, lit(4L)).otherwise(lit(1L))
    docs
      .withColumn("picked", (pmod(col("doc_id"), lit(10)) < quota).cast("long"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(col("picked")).as("n_selected"),
        round(sum(col("picked")).cast("double") / count(lit(1)), 6).as("ratio"))
      .orderBy(col("source"))
  }

  val q56Sql: String =
    """WITH p AS (
      |  SELECT source,
      |    CASE WHEN (doc_id % 10) <
      |      (CASE WHEN CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 2 = 0
      |            THEN 4 ELSE 1 END)
      |      THEN 1 ELSE 0 END AS picked
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_total,
      |  CAST(SUM(picked) AS BIGINT) AS n_selected,
      |  ROUND(CAST(SUM(picked) AS DOUBLE) / COUNT(*), 6) AS ratio
      |FROM p GROUP BY source ORDER BY source""".stripMargin

  /** Bits per dimension for the q119 z-order key. */
  val ZBits = 8

  /** q119 — z-order (Morton) clustering key: interleave the bits of two
    * dimension keys (customer bucket × order month) and report, per
    * z-bucket, how tight the covered rectangle is in both dimensions —
    * the locality that makes multi-dimensional data skipping work. A
    * table laid out in z-order keeps parquet row-group min/max spans
    * narrow on *both* columns, so either predicate prunes (classic
    * single-column sort gives this for one dimension only); this is
    * Delta/Iceberg `OPTIMIZE ZORDER BY` as a plain expression.
    *
    * Scale shape: the z-value is a pure per-row bit-arithmetic
    * projection (codegen'd, no shuffle); the layout rewrite it would
    * drive is a range-partition by z — one shuffle at write time, paid
    * once, saving every subsequent scan. The locality report is one
    * bounded agg over 2^[[ZBits]] buckets. */
  /** Morton interleave of two [[ZBits]]-bit non-negative keys: bit b of
    * `x` lands at position 2b, bit b of `y` at 2b+1. */
  def mortonZ(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    (0 until ZBits).map { b =>
      (shiftleft(shiftright(x, b).bitwiseAND(lit(1)), 2 * b) +
        shiftleft(shiftright(y, b).bitwiseAND(lit(1)), 2 * b + 1)).cast("long")
    }.reduce(_ + _)

  def q119ZorderLayout(s: SparkSession, d: String): DataFrame = {
    // pmod is always non-negative; the oracle mirrors it with
    // ((e % N) + N) % N so the two sides agree even when the month
    // counter goes negative (orders before the 1995 epoch).
    val x = pmod(col("o_custkey"), lit(1 << ZBits))
    val y = pmod(month(col("o_orderdate")) - 1 + (year(col("o_orderdate")) - 1995) * 12,
      lit(1 << ZBits))
    val z = mortonZ(x, y)
    Tables.orders(s, d)
      .select(x.cast("long").as("xb"), y.cast("long").as("yb"), z.as("z"))
      .withColumn("z_bucket", shiftright(col("z"), ZBits))
      .groupBy(col("z_bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("xb")).as("min_x"), max(col("xb")).as("max_x"),
        min(col("yb")).as("min_y"), max(col("yb")).as("max_y"))
      .withColumn("span_area",
        (col("max_x") - col("min_x") + 1) * (col("max_y") - col("min_y") + 1))
      .orderBy(col("z_bucket"))
  }

  val q119Sql: String = {
    val n = 1 << ZBits
    // ((e % N) + N) % N = Spark pmod; DuckDB % alone returns negative
    // remainders for pre-1995 orders
    val x = s"(((o_custkey % $n) + $n) % $n)"
    val y = s"((((MONTH(o_orderdate) - 1 + (YEAR(o_orderdate) - 1995) * 12) % $n) + $n) % $n)"
    val z = (0 until ZBits).map { b =>
      s"(((($x >> $b) & 1) << ${2 * b}) + ((($y >> $b) & 1) << ${2 * b + 1}))"
    }.mkString(" + ")
    s"""WITH m AS (
       |  SELECT CAST($x AS BIGINT) AS xb, CAST($y AS BIGINT) AS yb,
       |    CAST($z AS BIGINT) AS z
       |  FROM orders),
       |b AS (
       |  SELECT z >> $ZBits AS z_bucket, COUNT(*) AS n_rows,
       |    MIN(xb) AS min_x, MAX(xb) AS max_x,
       |    MIN(yb) AS min_y, MAX(yb) AS max_y
       |  FROM m GROUP BY 1)
       |SELECT z_bucket, n_rows, min_x, max_x, min_y, max_y,
       |  (max_x - min_x + 1) * (max_y - min_y + 1) AS span_area
       |FROM b ORDER BY z_bucket""".stripMargin
  }

  /** q153 — TF-IDF cosine similarity pairs: the WEIGHTED complement of
    * q40's set Jaccard (retrieval-style scoring — shared rare shingles
    * dominate, stopword shingles vanish through the idf weight AND the
    * df-cap). Same inverted-index candidate generation and the same
    * df-cap bound on per-key fanout; the additions are per-(doc,
    * shingle) term frequencies, the idf weight ln(N/df) (6-dp-rounded —
    * the q109/q120 transcendental-parity convention), per-doc norms from
    * fixed-point sums of w², and the pair dot product as a fixed-point
    * sum — every reduction order-independent, so the cosine
    * hash-matches the serial oracle. Scale shape: two doc-keyed
    * partial-aggregable rollups + the capped sh-keyed pair join; the
    * 1-row corpus count attaches by broadcast. */
  def q153TfidfCosine(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tok = docs.select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val dict = tok.select(col("tok")).distinct().withColumn("h", polyHash(col("tok")))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val occ = tok.join(broadcast(dict), "tok")
      .withColumn("h1", lead(col("h"), 1).over(wp))
      .withColumn("h2", lead(col("h"), 2).over(wp))
      .filter(col("h2").isNotNull)
      .select(col("doc_id"), ((col("h") * 31 + col("h1")) % P * 31 + col("h2")) % P as "sh")
    val tf = occ.groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= ShingleDfCap)
    val nDocs = docs.agg(countDistinct(col("doc_id")).as("nd"))
    val wtd = tf.join(broadcast(dfr), "sh")
      .crossJoin(broadcast(nDocs))
      .withColumn("w", col("tf") * round(log(col("nd").cast("double") / col("df")), 6))
      .persist()
    val norms = wtd.groupBy(col("doc_id")).agg(sqrt(Det.dsum(col("w") * col("w"))).as("nrm"))
    val dots = wtd.as("a").join(wtd.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(Det.dsum(col("a.w") * col("b.w")).as("dot"))
    dots.join(norms.select(col("doc_id").as("da"), col("nrm").as("na")), "da")
      .join(norms.select(col("doc_id").as("db"), col("nrm").as("nb")), "db")
      .withColumn("cos", col("dot") / (col("na") * col("nb")))
      .filter(col("cos") >= 0.5)
      .select(col("da"), col("db"), round(col("cos"), 6).as("cos"))
      .orderBy(col("da"), col("db"))
  }

  val q153Sql: String = {
    // the non-distinct shingle list (q40's helper minus list_distinct):
    // per-occurrence rows feed the term frequencies
    val shOcc = s"list_transform(range(1, greatest(len(thl)-2, 0)+1), " +
      s"i -> ((thl[i]*31 + thl[i+1]) % $P * 31 + thl[i+2]) % $P)"
    s"""WITH th AS (SELECT doc_id, ${tokenHashesSql(tokensSql("text"))} AS thl FROM documents),
       |occ AS (SELECT doc_id, unnest($shOcc) AS sh FROM th),
       |tf AS (SELECT doc_id, sh, COUNT(*) AS tf FROM occ GROUP BY 1, 2),
       |dfr AS (SELECT sh, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) <= $ShingleDfCap),
       |nd AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
       |wtd AS (
       |  SELECT doc_id, sh,
       |    tf * ROUND(LN(CAST((SELECT nd FROM nd) AS DOUBLE) / df), 6) AS w
       |  FROM tf JOIN dfr USING (sh)),
       |norms AS (SELECT doc_id, sqrt(${Det.dsumSql("w*w")}) AS nrm FROM wtd GROUP BY doc_id),
       |dots AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, ${Det.dsumSql("a.w * b.w")} AS dot
       |  FROM wtd a JOIN wtd b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |c AS (
       |  SELECT da, db, dot / (na.nrm * nb.nrm) AS cos
       |  FROM dots JOIN norms na ON na.doc_id = da JOIN norms nb ON nb.doc_id = db)
       |SELECT da, db, ROUND(cos, 6) AS cos FROM c WHERE cos >= 0.5
       |ORDER BY da, db""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q153_tfidf_cosine" -> q153TfidfCosine _,
    "q163_containment" -> q163Containment _,
    "q119_zorder_layout" -> q119ZorderLayout _,
    "q56_train_mix" -> q56TrainMix _,
    "q40_ngram_jaccard" -> q40NgramJaccard _,
    "q41_salted_agg" -> q41SaltedAgg _,
    "q173_salted_join" -> q173SaltedJoin _,
    "q46_percentiles" -> q46Percentiles _,
    "q79_stratified_det" -> q79StratifiedDet _,
    "q92_sketches" -> q92Sketches _,
    "q93_sample" -> q93Sample _)

  val oracles: Map[String, String] = Map(
    "q153_tfidf_cosine" -> q153Sql,
    "q163_containment" -> q163Sql,
    "q119_zorder_layout" -> q119Sql,
    "q56_train_mix" -> q56Sql,
    "q40_ngram_jaccard" -> q40Sql,
    "q41_salted_agg" -> q41Sql,
    "q173_salted_join" -> q173Sql,
    "q46_percentiles" -> q46Sql,
    "q79_stratified_det" -> q79Sql,
    "q92_sketches" -> q92Sql,
    "q93_sample" -> q93Sql)
}
