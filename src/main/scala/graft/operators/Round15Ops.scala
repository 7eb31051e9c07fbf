package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-15 operators: the DP system goes LIVE and broadens its release
  * types (the r14 verdict's top items).
  *
  *  - q335 continual-release counter (binary-tree / Chan–Dwork): the
  *    fix for the one-shot streaming twin — a counter published at
  *    every epoch of a fixed grid draws noise per DYADIC INTERVAL NODE
  *    (node-tagged salts), each prefix reads ≤ ⌈log T⌉ + 1 noised
  *    nodes, and the ledger charges the tree HEIGHT, not the number of
  *    reads.
  *  - q336 DP quantile release via the exponential mechanism on a
  *    CLOSED bucket domain: at ε = 2·ln 2 the selection weights 2^u
  *    are integers for integer rank-distance utility, so the selection
  *    distribution is exact rationals — q334's enumeration discipline
  *    extended from argmax to quantiles.
  *
  * Both reuse the α = 1/2 exact dyadic tier ([[Round13Ops.dpNoiseSql]])
  * or exact power-of-two weights, keep every ledger figure an integer
  * or exact rational, and pair with DuckDB oracles replaying the
  * identical formulas. [[Round13Ops.DpSalt]] secrecy remains the hard
  * precondition (the committed fixture salt is grading-only).
  */
object Round15Ops extends QueryModule {
  import Round13Ops.{DpSalt, DpScramble, DpD, DpEpsCellMicro, DpDeltaNum,
    dpNoiseSql}

  // ---- q335: continual-release DP counter (binary tree) ----

  /** Epoch grid length T = 8. The fixture's arrival timeline: documents
    * land in T ingest epochs, epoch = doc_id mod T standing in for a
    * batch sequence number (deterministic so the oracle derives the
    * same grid — the [[Round14Ops.DelMod]] convention). The grid is
    * PUBLIC and fixed before any data arrives: the tree shape never
    * depends on the data. */
  val CrT = 8
  /** Tree height: levels 0..3 cover interval lengths 1, 2, 4, 8. Every
    * document lies in exactly ONE node per level, so across levels the
    * releases compose SEQUENTIALLY: ε_total = height · ln 2, and the
    * truncation δ union-bounds over the height: δ = height · 2/D.
    * Within a level the nodes partition the epochs — parallel
    * composition, the level costs one ε. This is the whole point of
    * the binary-tree counter: T epoch releases cost log T, not T. */
  val CrLevels = 4
  val CrEpsMicro: Long = CrLevels * DpEpsCellMicro
  val CrDeltaNum: Long = CrLevels * DpDeltaNum

  /** All 2T−1 dyadic nodes as (level, idx, lo, hi-exclusive). The node
    * set is a function of the PUBLIC grid alone — every node is noised
    * and published whether or not any document fell into it (an
    * absent-node hole would itself leak a count). */
  val CrNodes: Seq[(Long, Long, Long, Long)] =
    (0 until CrLevels).flatMap { l =>
      (0 until (CrT >> l)).map(i =>
        (l.toLong, i.toLong, (i.toLong << l), ((i + 1).toLong << l)))
    }

  /** The dyadic decomposition of prefix [0..t]: greedy largest-node
    * cover of the first m = t + 1 epochs — one node per set bit of m,
    * so a prefix reads exactly popcount(t+1) ≤ ⌈log₂ T⌉ + 1 noised
    * nodes (the Chan–Dwork read bound). Data-independent: both engines
    * get it as a literal mapping table. */
  def crPrefixNodes(t: Int): Seq[(Long, Long)] = {
    val m = t + 1
    var pos = 0
    val out = Seq.newBuilder[(Long, Long)]
    var l = CrLevels - 1
    while (l >= 0) {
      if ((m & (1 << l)) != 0) { out += ((l.toLong, (pos >> l).toLong)); pos += 1 << l }
      l -= 1
    }
    out.result()
  }

  /** Per-(lang, level, idx) node counts from one (lang, epoch) row per
    * document — shared by batch q335 and the streaming twin
    * ([[graft.streaming.CorpusStream.continualCounterStream]]): each
    * document lands in exactly one node per level (idx = epoch DIV 2^l,
    * a row-local explode), and the node counters are a plain
    * partial-aggregable sum — vector addition across partitions or
    * micro-batches, which is what lets the stream keep exactly
    * (2T−1)·|langs| state rows, ever. */
  def crNodeCounts(rows: DataFrame): DataFrame =
    rows.select(col("lang"),
        explode(array((0 until CrLevels).map(l =>
          struct(lit(l.toLong).as("level"),
            expr(s"epoch DIV ${1 << l}").cast("long").as("idx"))): _*)).as("nd"))
      .groupBy(col("lang"), col("nd.level").as("level"), col("nd.idx").as("idx"))
      .agg(count(lit(1)).as("n_node"))

  /** Read-time release assembly over converged node counters — the
    * noise half of the continual counter, shared verbatim by batch
    * q335 and the streaming twin's read projection (the
    * [[Round14Ops.dpReleaseProjection]] discipline: one formula, two
    * physical paths, parity spec-pinned).
    *
    * Mechanism per node: u = (polyHash(salt|tree|lang|level|idx) ·
    * [[Round13Ops.DpScramble]]) mod P mod D → the exact α = 1/2 dyadic
    * inverse CDF. Node-tagged salts make the 2T−1 draws independent;
    * the released prefix at epoch t is Σ over the dyadic decomposition
    * of (node count + node noise) — clamped at 0 as post-processing of
    * the PREFIX (clamping per node would break the telescoping
    * property that consecutive prefixes share all but ≤ log T nodes).
    * Re-reading any prefix re-reads the SAME frozen node draws, so T
    * epoch publications cost the tree height once — exactly the ledger
    * row q333 carries ([[CrEpsMicro]], [[CrDeltaNum]]/D).
    *
    * Scale shape: the node grid is |langs| × (2T−1) rows (a literal
    * 15-row broadcast under a BNLJ with a LocalRelation build — bounded
    * by construction); the prefix map is a 13-row literal equi-join;
    * prefix sums are ≤ popcount-bounded windows per (lang, epoch); the
    * ledger is a 1-row broadcast. One corpus pass total (the epoch
    * aggregate), everything after is grid-sized. */
  def crRelease(s: SparkSession, nodeCounts: DataFrame, langs: DataFrame): DataFrame = {
    val nodes = s.createDataFrame(CrNodes).toDF("level", "idx", "lo", "hi")
    val grid = langs.crossJoin(broadcast(nodes.select(col("level"), col("idx"))))
      .join(nodeCounts, Seq("lang", "level", "idx"), "left")
      .withColumn("node_n_true", coalesce(col("n_node"), lit(0L)))
      .withColumn("node_u",
        (polyHash(concat_ws("|", lit(DpSalt), lit("tree"), col("lang"),
          col("level").cast("string"), col("idx").cast("string")))
          * DpScramble) % P % DpD)
      .withColumn("node_noise", expr(dpNoiseSql("node_u")).cast("long"))
      .withColumn("node_released", col("node_n_true") + col("node_noise"))
      .select(col("lang"), col("level"), col("idx"), col("node_n_true"),
        col("node_u"), col("node_noise"), col("node_released"))
    val prefMap = s.createDataFrame(
        for { t <- 0 until CrT; (l, i) <- crPrefixNodes(t) }
          yield (t.toLong, l, i))
      .toDF("epoch", "level", "idx")
    val wp = Window.partitionBy(col("lang"), col("epoch"))
    val ledger = grid.agg(count(lit(1)).as("n_nodes_total"))
    // LEFT join: the published artifact is the FULL noised tree — nodes
    // no prefix of this grid happens to read (right-aligned nodes) are
    // still released (future range queries read them, and a hole in the
    // tree would itself leak); they surface once as epoch = −1 sentinel
    // rows with null prefix columns, so the graded output size IS the
    // release size q333 pins.
    grid.join(broadcast(prefMap), Seq("level", "idx"), "left")
      .withColumn("epoch", coalesce(col("epoch"), lit(-1L)))
      .withColumn("prefix_true",
        when(col("epoch") >= 0, sum(col("node_n_true")).over(wp)))
      .withColumn("prefix_released",
        when(col("epoch") >= 0,
          greatest(lit(0L), sum(col("node_released")).over(wp))))
      .withColumn("n_nodes_read",
        when(col("epoch") >= 0, count(lit(1)).over(wp)))
      .crossJoin(broadcast(ledger))
      .withColumn("tree_height", lit(CrLevels.toLong))
      .withColumn("eps_total_micro", lit(CrEpsMicro))
      .withColumn("delta_total_num", lit(CrDeltaNum))
      .withColumn("delta_total_den", lit(DpD))
      .select(col("lang"), col("epoch"), col("level"), col("idx"),
        col("node_n_true"), col("node_u"), col("node_noise"),
        col("node_released"), col("prefix_true"), col("prefix_released"),
        col("n_nodes_read"), col("n_nodes_total"), col("tree_height"),
        col("eps_total_micro"), col("delta_total_num"), col("delta_total_den"))
      .orderBy(col("lang"), col("epoch"), col("level").desc, col("idx"))
  }

  /** q335 — continual-release DP counter over the per-lang document
    * count (binary-tree / Chan–Dwork; see [[crRelease]] for the
    * mechanism and ledger derivation). One row per (lang, epoch,
    * decomposition node): the node's own diagnostics plus the epoch's
    * released prefix — the graded surface is the full tree AND every
    * prefix assembled from it, so the oracle checks both halves. */
  def q335ContinualCounter(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("lang"), pmod(col("doc_id"), lit(CrT.toLong)).as("epoch"))
    crRelease(s, crNodeCounts(docs), docs.select(col("lang")).distinct())
  }

  val q335Sql: String = {
    val nodesV = CrNodes.map { case (l, i, lo, hi) => s"($l, $i, $lo, $hi)" }
      .mkString(", ")
    val prefV = (0 until CrT).flatMap(t =>
      crPrefixNodes(t).map { case (l, i) => s"($t, $l, $i)" }).mkString(", ")
    val uExpr = "(" + polyHashSql(
      s"concat_ws('|', '$DpSalt', 'tree', lang, CAST(level AS VARCHAR), " +
        "CAST(idx AS VARCHAR))") + s" * $DpScramble) % $P % $DpD"
    s"""WITH ep AS (
       |  SELECT lang, CAST(doc_id % $CrT AS BIGINT) AS epoch,
       |         CAST(COUNT(*) AS BIGINT) AS n_epoch
       |  FROM documents GROUP BY 1, 2),
       |langs AS (SELECT DISTINCT lang FROM documents),
       |nodes AS (
       |  SELECT CAST(level AS BIGINT) AS level, CAST(idx AS BIGINT) AS idx,
       |         CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi
       |  FROM (VALUES $nodesV) v(level, idx, lo, hi)),
       |nc AS (
       |  SELECT l.lang, n.level, n.idx,
       |         CAST(COALESCE(SUM(e.n_epoch), 0) AS BIGINT) AS node_n_true
       |  FROM langs l CROSS JOIN nodes n
       |  LEFT JOIN ep e ON e.lang = l.lang AND e.epoch >= n.lo AND e.epoch < n.hi
       |  GROUP BY 1, 2, 3),
       |noised AS (
       |  SELECT lang, level, idx, node_n_true, CAST($uExpr AS BIGINT) AS node_u
       |  FROM nc),
       |nz AS (
       |  SELECT *, CAST(${dpNoiseSql("node_u")} AS BIGINT) AS node_noise
       |  FROM noised),
       |nzr AS (SELECT *, node_n_true + node_noise AS node_released FROM nz),
       |pref AS (
       |  SELECT CAST(epoch AS BIGINT) AS epoch, CAST(level AS BIGINT) AS level,
       |         CAST(idx AS BIGINT) AS idx
       |  FROM (VALUES $prefV) p(epoch, level, idx)),
       |ledger AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes_total FROM nzr),
       |joined AS (
       |  SELECT nzr.*, COALESCE(pref.epoch, CAST(-1 AS BIGINT)) AS epoch
       |  FROM nzr LEFT JOIN pref USING (level, idx))
       |SELECT lang, epoch, level, idx, node_n_true, node_u,
       |       node_noise, node_released,
       |       CASE WHEN epoch >= 0 THEN
       |         CAST(SUM(node_n_true) OVER (PARTITION BY lang, epoch)
       |           AS BIGINT) END AS prefix_true,
       |       CASE WHEN epoch >= 0 THEN
       |         GREATEST(CAST(0 AS BIGINT),
       |           CAST(SUM(node_released) OVER (PARTITION BY lang, epoch)
       |             AS BIGINT)) END AS prefix_released,
       |       CASE WHEN epoch >= 0 THEN
       |         CAST(COUNT(*) OVER (PARTITION BY lang, epoch) AS BIGINT) END
       |         AS n_nodes_read,
       |       n_nodes_total,
       |       CAST($CrLevels AS BIGINT) AS tree_height,
       |       CAST($CrEpsMicro AS BIGINT) AS eps_total_micro,
       |       CAST($CrDeltaNum AS BIGINT) AS delta_total_num,
       |       CAST($DpD AS BIGINT) AS delta_total_den
       |FROM joined CROSS JOIN ledger
       |ORDER BY lang, epoch, level DESC, idx""".stripMargin
  }

  /** The canonical dyadic cover of the inclusive epoch range [a, b]:
    * greedy maximal aligned nodes — at each position take the largest
    * node starting there that fits, ≤ 2·log₂ T nodes total (the
    * classic segment-tree bound). Data-independent; both engines get
    * it as a literal mapping. */
  def crRangeNodes(a: Int, b: Int): Seq[(Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long)]
    var pos = a
    while (pos <= b) {
      var l = 0
      while (l + 1 < CrLevels && pos % (1 << (l + 1)) == 0 &&
        pos + (1 << (l + 1)) - 1 <= b) l += 1
      out += ((l.toLong, (pos >> l).toLong))
      pos += 1 << l
    }
    out.result()
  }

  /** q339 — RANGE queries over the published continual-counter tree:
    * the payoff of publishing the FULL tree in q335. Any epoch range
    * [a, b] is answered by its canonical dyadic cover (≤ 2·log₂ T
    * nodes, [[crRangeNodes]]) over the SAME frozen node draws q335
    * released — identical salt tags, so this is pure POST-PROCESSING
    * of an already-published artifact: `eps_marginal_micro` = 0, the
    * ledger row is q335's, and q333 gains NO new row. (Contrast the
    * naive alternative — differencing two noisy prefixes — which costs
    * nothing either but doubles the noise variance on short ranges;
    * the canonical cover reads the fewest noised terms the tree
    * admits.) All T·(T+1)/2 = 36 ranges are graded.
    *
    * Scale shape: the range map is a 36·cover literal equi-join onto
    * the |langs|×(2T−1) node grid; range sums are ≤ 2·log T windows
    * per (lang, a, b); ledger is a 1-row broadcast. The one corpus
    * pass is the same epoch aggregate as q335. */
  def q339DpRangeQuery(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("lang"), pmod(col("doc_id"), lit(CrT.toLong)).as("epoch"))
    val langs = docs.select(col("lang")).distinct()
    val nodes = s.createDataFrame(CrNodes).toDF("level", "idx", "lo", "hi")
    val grid = langs.crossJoin(broadcast(nodes.select(col("level"), col("idx"))))
      .join(crNodeCounts(docs), Seq("lang", "level", "idx"), "left")
      .withColumn("node_n_true", coalesce(col("n_node"), lit(0L)))
      .withColumn("node_u",
        (polyHash(concat_ws("|", lit(DpSalt), lit("tree"), col("lang"),
          col("level").cast("string"), col("idx").cast("string")))
          * DpScramble) % P % DpD)
      .withColumn("node_noise", expr(dpNoiseSql("node_u")).cast("long"))
      .withColumn("node_released", col("node_n_true") + col("node_noise"))
      .select(col("lang"), col("level"), col("idx"), col("node_n_true"),
        col("node_u"), col("node_noise"), col("node_released"))
    val rangeMap = s.createDataFrame(
        for { a <- 0 until CrT; b <- a until CrT; (l, i) <- crRangeNodes(a, b) }
          yield (a.toLong, b.toLong, l, i))
      .toDF("a", "b", "level", "idx")
    val wr = Window.partitionBy(col("lang"), col("a"), col("b"))
    grid.join(broadcast(rangeMap), Seq("level", "idx"))
      .withColumn("range_true", sum(col("node_n_true")).over(wr))
      .withColumn("range_released",
        greatest(lit(0L), sum(col("node_released")).over(wr)))
      .withColumn("n_nodes_read", count(lit(1)).over(wr))
      .withColumn("eps_marginal_micro", lit(0L))
      .withColumn("eps_tree_micro", lit(CrEpsMicro))
      .select(col("lang"), col("a"), col("b"), col("level"), col("idx"),
        col("node_n_true"), col("node_u"), col("node_noise"),
        col("node_released"), col("range_true"), col("range_released"),
        col("n_nodes_read"), col("eps_marginal_micro"), col("eps_tree_micro"))
      .orderBy(col("lang"), col("a"), col("b"), col("level").desc, col("idx"))
  }

  val q339Sql: String = {
    val nodesV = CrNodes.map { case (l, i, lo, hi) => s"($l, $i, $lo, $hi)" }
      .mkString(", ")
    val rangeV = (for { a <- 0 until CrT; b <- a until CrT
        (l, i) <- crRangeNodes(a, b) } yield s"($a, $b, $l, $i)").mkString(", ")
    val uExpr = "(" + polyHashSql(
      s"concat_ws('|', '$DpSalt', 'tree', lang, CAST(level AS VARCHAR), " +
        "CAST(idx AS VARCHAR))") + s" * $DpScramble) % $P % $DpD"
    s"""WITH ep AS (
       |  SELECT lang, CAST(doc_id % $CrT AS BIGINT) AS epoch,
       |         CAST(COUNT(*) AS BIGINT) AS n_epoch
       |  FROM documents GROUP BY 1, 2),
       |langs AS (SELECT DISTINCT lang FROM documents),
       |nodes AS (
       |  SELECT CAST(level AS BIGINT) AS level, CAST(idx AS BIGINT) AS idx,
       |         CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi
       |  FROM (VALUES $nodesV) v(level, idx, lo, hi)),
       |nc AS (
       |  SELECT l.lang, n.level, n.idx,
       |         CAST(COALESCE(SUM(e.n_epoch), 0) AS BIGINT) AS node_n_true
       |  FROM langs l CROSS JOIN nodes n
       |  LEFT JOIN ep e ON e.lang = l.lang AND e.epoch >= n.lo AND e.epoch < n.hi
       |  GROUP BY 1, 2, 3),
       |noised AS (
       |  SELECT lang, level, idx, node_n_true, CAST($uExpr AS BIGINT) AS node_u
       |  FROM nc),
       |nz AS (
       |  SELECT *, CAST(${dpNoiseSql("node_u")} AS BIGINT) AS node_noise
       |  FROM noised),
       |nzr AS (SELECT *, node_n_true + node_noise AS node_released FROM nz),
       |rmap AS (
       |  SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       |         CAST(level AS BIGINT) AS level, CAST(idx AS BIGINT) AS idx
       |  FROM (VALUES $rangeV) r(a, b, level, idx))
       |SELECT lang, a, b, level, idx, node_n_true, node_u, node_noise,
       |       node_released,
       |       CAST(SUM(node_n_true) OVER (PARTITION BY lang, a, b) AS BIGINT)
       |         AS range_true,
       |       GREATEST(CAST(0 AS BIGINT),
       |         CAST(SUM(node_released) OVER (PARTITION BY lang, a, b)
       |           AS BIGINT)) AS range_released,
       |       CAST(COUNT(*) OVER (PARTITION BY lang, a, b) AS BIGINT)
       |         AS n_nodes_read,
       |       CAST(0 AS BIGINT) AS eps_marginal_micro,
       |       CAST($CrEpsMicro AS BIGINT) AS eps_tree_micro
       |FROM nzr JOIN rmap USING (level, idx)
       |ORDER BY lang, a, b, level DESC, idx""".stripMargin
  }

  // ---- q336: DP quantile release (exact exponential mechanism) ----

  /** The CLOSED public bucket domain of the quantile release: length
    * buckets 0..[[QuantCap]] (n_tok DIV [[GovernanceOps.KAnonLenBucket]],
    * clipped at the cap — the q323 clipping discipline makes the domain
    * data-independent; the fixture tops out at len_b = 10, so the cap
    * binds nothing here but makes the domain PUBLIC by construction). */
  val QuantCap = 15L
  /** Utility clamp: u(b) = −min(|rank error|, [[QuantUtilClamp]]).
    * Clamping a sensitivity-1 utility keeps sensitivity ≤ 1 (|max(a,c) −
    * max(b,c)| ≤ |a − b|), so the ε bound is untouched; what it buys is
    * bounded weights 2^(clamp − err) ≤ 2¹², so the total weight W ≤
    * (domain)·2¹² = 2¹⁶ stays enumerable AND the mod-bias of drawing
    * u ∈ [0, W) as hash % P % W stays small: worst per-outcome relative
    * bias ≤ 1/⌊P/W⌋ ≈ 6.6·10⁻⁵ (the documented % P % D caveat, here
    * with W ≤ 2¹⁶ ≪ P). */
  val QuantUtilClamp = 12L
  /** The two released quantiles (percent). Two releases over the same
    * documents compose SEQUENTIALLY: the op costs 2·[[QuantEpsMicro]]. */
  val QuantPcts: Seq[Long] = Seq(50L, 90L)
  /** ε per quantile release: the exponential mechanism with base-2
    * weights exp(ε·u/2) = 2^u has ε/2 = ln 2 → ε = 2·ln 2 for any
    * sensitivity-1 utility (the q334 conservative bound; rank-distance
    * utility is not monotone under one-sided neighbors, so no ln 2
    * refinement is claimed). Pure ε-DP: the mechanism is exact on the
    * closed domain — δ = 0, no truncation anywhere. */
  val QuantEpsMicro: Long = 2L * DpEpsCellMicro
  val QuantOpEpsMicro: Long = QuantPcts.length * QuantEpsMicro

  /** q336 — DP quantile release (p50/p90 of the token-length
    * distribution per lang) via the EXACT exponential mechanism: the
    * verdict's point that a real release publishes medians, not just
    * counts. Utility of bucket b for the q-th percentile is −|n_≤(b) −
    * ⌈q·n/100⌉| clamped at [[QuantUtilClamp]]; with ε = 2·ln 2 the
    * selection weight is the INTEGER 2^(clamp + u), so the selection
    * distribution over the closed domain is exact rationals w_b / W —
    * Round15OpsSpec enumerates all W uniforms and asserts the
    * frequencies, the q334 discipline extended from argmax to
    * quantiles.
    *
    * n (the per-lang document count) is treated as PUBLIC — the
    * standard exponential-mechanism quantile setting (the rank target
    * ⌈q·n/100⌉ is computed from it, not released; publishing n itself
    * is q321's job and priced there). The released VIEW is the
    * (lang, q_pct, selected_bucket) projection; every other column is
    * the grading diagnostic surface.
    *
    * All integer: counts, cumulative ranks, errors, weights, the draw,
    * and the selection interval. Scale shape: one corpus pass (the
    * (lang, len_b) aggregate), then a |langs|·|domain|·|quantiles| grid
    * (≤ 16·16·2 rows) of windows partitioned by (lang, q_pct) — no
    * global window, no unbounded join. */
  def q336DpQuantile(s: SparkSession, d: String): DataFrame = {
    import GovernanceOps.KAnonLenBucket
    val docs = Tables.documents(s, d)
      .select(col("lang"),
        least(size(tokens(col("text"))).cast("long") .divide(lit(KAnonLenBucket)).cast("long"),
          lit(QuantCap)).as("len_b"))
    val counts = docs.groupBy(col("lang"), col("len_b"))
      .agg(count(lit(1)).as("cnt"))
    val grid = docs.select(col("lang")).distinct()
      .select(col("lang"),
        explode(sequence(lit(0L), lit(QuantCap))).as("bucket"))
      .join(counts.withColumnRenamed("len_b", "bucket"),
        Seq("lang", "bucket"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLang = Window.partitionBy(col("lang"))
    val perQ = grid
      .withColumn("n_le", sum(col("cnt")).over(wCum))
      .withColumn("n_public", sum(col("cnt")).over(wLang))
      .select(col("*"), explode(array(QuantPcts.map(lit): _*)).as("q_pct"))
      .withColumn("r_target", expr("(q_pct * n_public + 99) DIV 100"))
      .withColumn("err", abs(col("n_le") - col("r_target")))
      .withColumn("util", -least(col("err"), lit(QuantUtilClamp)))
      .withColumn("weight",
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST($QuantUtilClamp + util AS INT))"))
    val wQ = Window.partitionBy(col("lang"), col("q_pct"))
    val wQCum = wQ.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perQ
      .withColumn("cum_w", sum(col("weight")).over(wQCum))
      .withColumn("w_total", sum(col("weight")).over(wQ))
      .withColumn("u_draw",
        (polyHash(concat_ws("|", lit(DpSalt), lit("quant"), col("lang"),
          col("q_pct").cast("string"))) * DpScramble) % P % col("w_total"))
      .withColumn("is_selected",
        col("u_draw") >= col("cum_w") - col("weight") && col("u_draw") < col("cum_w"))
      .withColumn("selected_bucket",
        max(when(col("is_selected"), col("bucket"))).over(wQ))
      .withColumn("eps_q_micro", lit(QuantEpsMicro))
      .withColumn("eps_op_micro", lit(QuantOpEpsMicro))
      .withColumn("delta_num", lit(0L))
      .withColumn("delta_den", lit(1L))
      .select(col("lang"), col("q_pct"), col("bucket"), col("cnt"),
        col("n_le"), col("n_public"), col("r_target"), col("err"),
        col("util"), col("weight"), col("cum_w"), col("w_total"),
        col("u_draw"), col("is_selected"), col("selected_bucket"),
        col("eps_q_micro"), col("eps_op_micro"), col("delta_num"),
        col("delta_den"))
      .orderBy(col("lang"), col("q_pct"), col("bucket"))
  }

  val q336Sql: String = {
    import GovernanceOps.KAnonLenBucket
    val uExpr = "(" + polyHashSql(
      s"concat_ws('|', '$DpSalt', 'quant', lang, CAST(q_pct AS VARCHAR))") +
      s" * $DpScramble) % $P % w_total"
    val pctsV = QuantPcts.map(p => s"($p)").mkString(", ")
    s"""WITH docs AS (
       |  SELECT lang,
       |         LEAST(CAST(len(${tokensSql("text")}) AS BIGINT) // $KAnonLenBucket,
       |               $QuantCap) AS len_b
       |  FROM documents),
       |counts AS (
       |  SELECT lang, len_b, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM docs GROUP BY 1, 2),
       |grid AS (
       |  SELECT l.lang, CAST(b AS BIGINT) AS bucket,
       |         COALESCE(c.cnt, CAST(0 AS BIGINT)) AS cnt
       |  FROM (SELECT DISTINCT lang FROM docs) l
       |  CROSS JOIN UNNEST(range(0, ${QuantCap + 1})) AS t(b)
       |  LEFT JOIN counts c ON c.lang = l.lang AND c.len_b = CAST(b AS BIGINT)),
       |cum AS (
       |  SELECT lang, bucket, cnt,
       |         CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY bucket)
       |           AS BIGINT) AS n_le,
       |         CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n_public
       |  FROM grid),
       |perq AS (
       |  SELECT cum.*, CAST(q.q_pct AS BIGINT) AS q_pct,
       |         (CAST(q.q_pct AS BIGINT) * n_public + 99) // 100 AS r_target
       |  FROM cum CROSS JOIN (VALUES $pctsV) q(q_pct)),
       |utilw AS (
       |  SELECT *, ABS(n_le - r_target) AS err,
       |         -LEAST(ABS(n_le - r_target), $QuantUtilClamp) AS util,
       |         (CAST(1 AS BIGINT) <<
       |           CAST($QuantUtilClamp - LEAST(ABS(n_le - r_target),
       |             $QuantUtilClamp) AS INT)) AS weight
       |  FROM perq),
       |cw AS (
       |  SELECT *,
       |         CAST(SUM(weight) OVER (PARTITION BY lang, q_pct ORDER BY bucket)
       |           AS BIGINT) AS cum_w,
       |         CAST(SUM(weight) OVER (PARTITION BY lang, q_pct) AS BIGINT)
       |           AS w_total
       |  FROM utilw),
       |drawn AS (
       |  SELECT *, CAST($uExpr AS BIGINT) AS u_draw FROM cw),
       |sel AS (
       |  SELECT *, (u_draw >= cum_w - weight AND u_draw < cum_w) AS is_selected
       |  FROM drawn)
       |SELECT lang, q_pct, bucket, cnt, n_le, n_public, r_target, err, util,
       |       weight, cum_w, w_total, u_draw, is_selected,
       |       CAST(MAX(CASE WHEN is_selected THEN bucket END)
       |         OVER (PARTITION BY lang, q_pct) AS BIGINT) AS selected_bucket,
       |       CAST($QuantEpsMicro AS BIGINT) AS eps_q_micro,
       |       CAST($QuantOpEpsMicro AS BIGINT) AS eps_op_micro,
       |       CAST(0 AS BIGINT) AS delta_num,
       |       CAST(1 AS BIGINT) AS delta_den
       |FROM sel
       |ORDER BY lang, q_pct, bucket""".stripMargin
  }

  // ---- q337: erasure for the standing LSH band index ----

  /** q337's own hot-shingle df-cap, chosen against measured fixture
    * statistics (df tops out at 9/7/25 across the SFs) so the frozen
    * hot list is NONEMPTY at every SF and deletion genuinely flips some
    * shingles' hotness — the drift path this op exists to measure.
    * q183's production cap (100) would leave the hot list empty at
    * fixture scale and the flip path untested. */
  val EraseDfCap = 4L

  /** q337 — erasure for the STANDING LSH band index (r14 verdict
    * missing-path #4): q330 invalidates whole artifacts; the 100 TB
    * path REMOVES deleted documents' band rows and signatures from the
    * standing index without a rebuild — the exact analogue of q330's
    * IVF-cell removal, with the same maintained-vs-scratch `consistent`
    * contract per row.
    *
    * The load-bearing index contract this op proves: per-document
    * signatures depend on other documents ONLY through the df-cap hot
    * list (the index's frozen statistics — q183's convention that a
    * delta can't retroactively reclassify an indexed shingle). So
    * removal-by-tombstone equals a from-raw-text rebuild IF AND ONLY IF
    * the rebuild runs under the FROZEN hot list: `n_after_scratch`
    * re-derives every bucket from the tombstone-filtered corpus under
    * the frozen list (a genuinely different plan — second shingle pass,
    * second signature build), and `consistent` asserts it matches the
    * maintained path everywhere. What deletion DOES drift is the
    * statistics themselves: the `hot_shingle` domain recounts every
    * frozen-hot shingle's df over the survivors, and `flipped` marks
    * the ones that drop to ≤ cap — the q316-style signal that decides
    * when the hot list (and hence the index) warrants a retrain; until
    * then the frozen list stays correct by contract, exactly like
    * q276's assignment invariance.
    *
    * Domains (uniform schema `domain, key, n_before, n_deleted,
    * n_after, n_after_scratch, consistent, dissolved, flipped`):
    *  - `band_bucket`: per (band, v0, v1) bucket membership; key =
    *    polyHash of the triple; `dissolved` marks buckets that fall
    *    below 2 members — they stop generating candidate pairs.
    *  - `hot_shingle`: the frozen hot list vs post-deletion df;
    *    `flipped` = hotness lost.
    *  - `total:docs` / `total:bands` (key = 0): indexed-relation
    *    totals — the artifact-level shrink.
    *
    * Scale shape: maintained removal touches only tombstone-matched
    * rows (an anti-join/flag on doc_id — at 100 TB the deletion list is
    * ≪ the index and the index is partitioned by doc); the scratch
    * rebuild is the deliberate second pass (the monthly compaction
    * audit, q330's discipline). Everything is bucketed: df-capped
    * shingles, band equi-groups — never all-pairs. */
  /** The per-document DISTINCT shingle relation (doc_id, sh) the
    * standing index is built from — the lead-window batch build (one
    * char-level hash per distinct token, the q183 performance choice;
    * the streaming twin uses the row-local array pipeline, which yields
    * the SAME distinct set per document — the deltaDedupStream
    * argument, parity spec-asserted). */
  def eraseShingles(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val dict = tok.select(col("tok")).distinct()
      .withColumn("h", polyHash(col("tok")))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    tok.join(broadcast(dict), "tok")
      .withColumn("h1", lead(col("h"), 1).over(wp))
      .withColumn("h2", lead(col("h"), 2).over(wp))
      .filter(col("h2").isNotNull)
      .select(col("doc_id"),
        ((col("h") * 31 + col("h1")) % P * 31 + col("h2")) % P as "sh")
      .distinct()
  }

  def q337BandErasure(s: SparkSession, d: String): DataFrame = {
    import Round14Ops.DelMod
    // Cache scope (the q322/q330 contract): the per-doc distinct shingle
    // relation feeds the df stats, both band builds, and both df
    // recounts; released by the harness's per-query clearCache —
    // long-lived sessions must clearCache between calls.
    val sh0 = eraseShingles(s, d).persist()
    val dfreq = sh0.withColumn("del", col("doc_id") % DelMod === 0)
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("df"), sum(col("del").cast("long")).as("ddel"))
    // the FROZEN index statistics: full-corpus hot list (small by the
    // df-cap construction — a broadcastable model table)
    val hot = dfreq.filter(col("df") > EraseDfCap).persist()
    def bandsFor(docsSh: DataFrame): DataFrame = {
      val capped = docsSh.join(broadcast(hot.select(col("sh"))), Seq("sh"), "left_anti")
      val sigAggs = (0 until 8).map(i =>
        min((lit(MinHashA(i)) * col("sh") + lit(MinHashB(i))) % P).as(s"sig$i"))
      capped.groupBy(col("doc_id")).agg(sigAggs.head, sigAggs.tail: _*)
        .select(col("doc_id"), explode(array((0 until 4).map(b =>
          struct(lit(b.toLong).as("band"), col(s"sig${2 * b}").as("v0"),
            col(s"sig${2 * b + 1}").as("v1"))): _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"),
          col("bk.v0").as("v0"), col("bk.v1").as("v1"))
    }
    val bandsAll = bandsFor(sh0).persist()
    val bucketKey = polyHash(concat_ws("|", col("band").cast("string"),
      col("v0").cast("string"), col("v1").cast("string")))
    def outCols(domain: String, dissolved: org.apache.spark.sql.Column,
        flipped: org.apache.spark.sql.Column) = Seq(
      lit(domain).as("domain"), col("key"), col("n_before"), col("n_deleted"),
      (col("n_before") - col("n_deleted")).as("n_after"),
      col("n_after_scratch"),
      (col("n_before") - col("n_deleted") === col("n_after_scratch"))
        .as("consistent"),
      dissolved.as("dissolved"), flipped.as("flipped"))
    // band buckets: maintained tombstone removal vs frozen-list rebuild
    val bbScratch = bandsFor(sh0.filter(col("doc_id") % DelMod =!= 0))
      .groupBy(col("band"), col("v0"), col("v1"))
      .agg(count(lit(1)).as("n_after_scratch"))
    val bandBuckets = bandsAll
      .withColumn("del", col("doc_id") % DelMod === 0)
      .groupBy(col("band"), col("v0"), col("v1"))
      .agg(count(lit(1)).as("n_before"), sum(col("del").cast("long")).as("n_deleted"))
      .join(bbScratch, Seq("band", "v0", "v1"), "left")
      .withColumn("n_after_scratch", coalesce(col("n_after_scratch"), lit(0L)))
      .withColumn("key", bucketKey)
      .select(outCols("band_bucket",
        col("n_before") >= 2 && col("n_before") - col("n_deleted") < 2,
        lit(false)): _*)
    // frozen hot list vs the survivors' df — the drift the retrain
    // gate watches
    val dfScratch = sh0.filter(col("doc_id") % DelMod =!= 0)
      .groupBy(col("sh")).agg(count(lit(1)).as("n_after_scratch"))
    val hotShingles = hot
      .join(dfScratch, Seq("sh"), "left")
      .withColumn("n_after_scratch", coalesce(col("n_after_scratch"), lit(0L)))
      .withColumn("key", col("sh"))
      .withColumn("n_before", col("df"))
      .withColumn("n_deleted", col("ddel"))
      .select(outCols("hot_shingle", lit(false),
        col("df") - col("ddel") <= EraseDfCap): _*)
    // indexed-relation totals (1-row folds)
    val totD = bandsAll.select(col("doc_id"),
        (col("doc_id") % DelMod === 0).as("del")).distinct()
      .agg(count(lit(1)).as("n_before"), sum(col("del").cast("long")).as("n_deleted"))
      .crossJoin(broadcast(bbScratch.agg(
        coalesce(sum(col("n_after_scratch")), lit(0L)).as("sb"))))
    val totals = totD.select(explode(array(
        struct(lit("total:docs").as("domain"),
          col("n_before").as("n_before"), col("n_deleted").as("n_deleted"),
          expr("sb DIV 4").as("n_after_scratch")),
        struct(lit("total:bands").as("domain"),
          (col("n_before") * 4L).as("n_before"),
          (col("n_deleted") * 4L).as("n_deleted"),
          col("sb").as("n_after_scratch")))).as("a"))
      .select(col("a.domain").as("domain"), lit(0L).as("key"),
        col("a.n_before").as("n_before"), col("a.n_deleted").as("n_deleted"),
        (col("a.n_before") - col("a.n_deleted")).as("n_after"),
        col("a.n_after_scratch").as("n_after_scratch"),
        (col("a.n_before") - col("a.n_deleted") === col("a.n_after_scratch"))
          .as("consistent"),
        lit(false).as("dissolved"), lit(false).as("flipped"))
    bandBuckets.unionByName(hotShingles)
      .unionByName(totals)
      .orderBy(col("domain"), col("key"))
  }

  val q337Sql: String = {
    import Round14Ops.DelMod
    val sigs = (0 until 8).map(i =>
      s"${minHashSigSql("sh", i)} AS sig$i").mkString(",\n  ")
    val keyE = polyHashSql(
      "concat_ws('|', CAST(band AS VARCHAR), CAST(v0 AS VARCHAR), " +
        "CAST(v1 AS VARCHAR))")
    def bandsCte(fName: String, sigsName: String, bandsName: String,
        extraPred: String) =
      s"""$fName AS (
         |  SELECT e.doc_id, list(e.sh) AS sh FROM e LEFT JOIN hot ON hot.sh = e.sh
         |  WHERE hot.sh IS NULL$extraPred GROUP BY e.doc_id),
         |$sigsName AS (SELECT doc_id, $sigs FROM $fName),
         |$bandsName AS (
         |  SELECT doc_id, CAST(b AS BIGINT) AS band,
         |    CASE b WHEN 0 THEN sig0 WHEN 1 THEN sig2 WHEN 2 THEN sig4 ELSE sig6 END AS v0,
         |    CASE b WHEN 0 THEN sig1 WHEN 1 THEN sig3 WHEN 2 THEN sig5 ELSE sig7 END AS v1
         |  FROM $sigsName, UNNEST(range(0, 4)) AS u(b))""".stripMargin
    s"""WITH t AS (SELECT doc_id, ${shingleHashesSql(tokenHashesSql(tokensSql("text")))} AS sh0 FROM documents),
       |e AS (SELECT doc_id, unnest(sh0) AS sh FROM t),
       |dfreq AS (
       |  SELECT sh, CAST(COUNT(*) AS BIGINT) AS df,
       |         CAST(SUM(CASE WHEN doc_id % $DelMod = 0 THEN 1 ELSE 0 END)
       |           AS BIGINT) AS ddel
       |  FROM e GROUP BY 1),
       |hot AS (SELECT sh, df, ddel FROM dfreq WHERE df > $EraseDfCap),
       |${bandsCte("f", "sigs", "bands", "")},
       |${bandsCte("f2", "sigs2", "bands2", s" AND e.doc_id % $DelMod <> 0")},
       |bb AS (
       |  SELECT band, v0, v1, CAST(COUNT(*) AS BIGINT) AS n_before,
       |         CAST(SUM(CASE WHEN doc_id % $DelMod = 0 THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_deleted
       |  FROM bands GROUP BY 1, 2, 3),
       |bb2 AS (
       |  SELECT band, v0, v1, CAST(COUNT(*) AS BIGINT) AS n_after_scratch
       |  FROM bands2 GROUP BY 1, 2, 3),
       |bbout AS (
       |  SELECT 'band_bucket' AS domain, $keyE AS key, n_before, n_deleted,
       |         COALESCE(bb2.n_after_scratch, CAST(0 AS BIGINT)) AS n_after_scratch,
       |         bb.n_before >= 2 AND bb.n_before - bb.n_deleted < 2 AS dissolved,
       |         FALSE AS flipped
       |  FROM bb LEFT JOIN bb2 USING (band, v0, v1)),
       |dfs AS (
       |  SELECT sh, CAST(COUNT(*) AS BIGINT) AS n_after_scratch
       |  FROM e WHERE doc_id % $DelMod <> 0 GROUP BY 1),
       |hotout AS (
       |  SELECT 'hot_shingle' AS domain, hot.sh AS key, df AS n_before,
       |         ddel AS n_deleted,
       |         COALESCE(dfs.n_after_scratch, CAST(0 AS BIGINT)) AS n_after_scratch,
       |         FALSE AS dissolved,
       |         df - ddel <= $EraseDfCap AS flipped
       |  FROM hot LEFT JOIN dfs ON dfs.sh = hot.sh),
       |td AS (
       |  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd,
       |         CAST(COUNT(DISTINCT CASE WHEN doc_id % $DelMod = 0
       |           THEN doc_id END) AS BIGINT) AS dd
       |  FROM bands),
       |sb AS (SELECT CAST(COUNT(*) AS BIGINT) AS s FROM bands2),
       |totout AS (
       |  SELECT 'total:docs' AS domain, CAST(0 AS BIGINT) AS key,
       |         nd AS n_before, dd AS n_deleted, s // 4 AS n_after_scratch,
       |         FALSE AS dissolved, FALSE AS flipped
       |  FROM td CROSS JOIN sb
       |  UNION ALL
       |  SELECT 'total:bands', CAST(0 AS BIGINT), nd * 4, dd * 4, s,
       |         FALSE, FALSE
       |  FROM td CROSS JOIN sb),
       |unioned AS (
       |  SELECT * FROM bbout UNION ALL SELECT * FROM hotout
       |  UNION ALL SELECT * FROM totout)
       |SELECT domain, key, n_before, n_deleted,
       |       n_before - n_deleted AS n_after, n_after_scratch,
       |       n_before - n_deleted = n_after_scratch AS consistent,
       |       dissolved, flipped
       |FROM unioned
       |ORDER BY domain, key""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q335_dp_continual_counter" -> q335ContinualCounter _,
    "q336_dp_quantile" -> q336DpQuantile _,
    "q337_band_erasure" -> q337BandErasure _,
    "q339_dp_range_query" -> q339DpRangeQuery _)

  val oracles: Map[String, String] = Map(
    "q335_dp_continual_counter" -> q335Sql,
    "q336_dp_quantile" -> q336Sql,
    "q337_band_erasure" -> q337Sql,
    "q339_dp_range_query" -> q339Sql)
}
