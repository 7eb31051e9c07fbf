package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Temporal-split, drift, lineage, and sketch-mergeability operators:
  * the purged train/test split for time-ordered data, the population
  * stability index, row-level provenance hashing, and a concrete proof
  * that the q195 HLL registers merge losslessly.
  */
object SplitOps extends QueryModule {
  /** Embargo gap of the q248 purged split, in microseconds (1 day). */
  val EmbargoUs = 86400000000L

  /** q248 — purged temporal split: train on the first 70% of the event
    * time-range, test after a 1-day embargo, and count what the embargo
    * PURGED — the time-series-CV discipline (de Prado's purged k-fold,
    * reduced to one split) that prevents a model from peeking at events
    * adjacent to its test window. The cutoff derives from exact integer
    * epoch-microsecond bounds (min + (max−min)·7/10 in integer
    * arithmetic — no float touches the boundary), so any consumer
    * re-derives the identical split. Per event type: train/embargo/test
    * counts plus how many users straddle train and test (the residual
    * overlap a user-level split would also have to purge).
    */
  def q248PurgedSplit(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("event_type"), col("user_id"), unix_micros(col("ts")).as("us"))
    val bounds = e.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
    // integer div: Column./ on longs is DOUBLE division in Spark
    val cut = col("lo") + expr("(hi - lo) * 7 div 10")
    val tagged = e.crossJoin(broadcast(bounds))
      .withColumn("split",
        when(col("us") < cut, "train")
          .when(col("us") >= cut + EmbargoUs, "test")
          .otherwise("embargo"))
    val counts = tagged.groupBy(col("event_type"))
      .agg(sum((col("split") === "train").cast("long")).as("n_train"),
        sum((col("split") === "embargo").cast("long")).as("n_embargo"),
        sum((col("split") === "test").cast("long")).as("n_test"))
    val straddle = tagged.filter(col("split") =!= "embargo")
      .groupBy(col("event_type"), col("user_id"))
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") === 2)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_straddle_users"))
    counts.join(straddle, Seq("event_type"), "left")
      .na.fill(0L, Seq("n_straddle_users"))
      .orderBy(col("event_type"))
  }

  val q248Sql: String =
    s"""WITH e AS (
       |  SELECT event_type, user_id, epoch_us(ts) AS us FROM events),
       |b AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM e),
       |tagged AS (
       |  SELECT event_type, user_id,
       |         CASE WHEN us < lo + (hi - lo) * 7 // 10 THEN 'train'
       |              WHEN us >= lo + (hi - lo) * 7 // 10 + $EmbargoUs THEN 'test'
       |              ELSE 'embargo' END AS split
       |  FROM e, b),
       |counts AS (
       |  SELECT event_type,
       |         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |         CAST(SUM(CASE WHEN split = 'embargo' THEN 1 ELSE 0 END) AS BIGINT) AS n_embargo,
       |         CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
       |  FROM tagged GROUP BY 1),
       |strad AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_straddle_users FROM (
       |    SELECT event_type, user_id FROM tagged WHERE split <> 'embargo'
       |    GROUP BY 1, 2 HAVING COUNT(DISTINCT split) = 2)
       |  GROUP BY 1)
       |SELECT event_type, n_train, n_embargo, n_test,
       |       COALESCE(n_straddle_users, 0) AS n_straddle_users
       |FROM counts LEFT JOIN strad USING (event_type)
       |ORDER BY event_type""".stripMargin

  /** Bin count for the q249 PSI table. */
  val PsiBins = 10

  /** q249 — population stability index of `o_totalprice` between the
    * pre-1998 and post-1998 order populations: the standard production
    * drift monitor (PSI > 0.2 ⇒ investigate) and the binned complement
    * of q209's KS statistic. Equi-width bins from whole-population
    * bounds; add-one smoothing keeps every share positive; the
    * (p−q)·ln(p/q) term uses a 6-dp-rounded ln (the libm discipline)
    * and micro-exact shares. One scan + one B-cell aggregate.
    */
  def q249Psi(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_totalprice").as("x"),
        (col("o_orderdate") < "1998-01-01").cast("int").as("early"))
    val bounds = o.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val binned = o.crossJoin(broadcast(bounds))
      .withColumn("bin", least(lit(PsiBins - 1),
        floor((col("x") - col("lo")) /
          ((col("hi") - col("lo")) / lit(PsiBins.toDouble))).cast("int")))
      .groupBy(col("bin"))
      .agg(sum(col("early")).as("na"), sum(lit(1) - col("early")).as("nb"))
    val tot = binned.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
      .withColumn("k", lit(PsiBins))
    val p = (col("na") + 1).cast("double") / (col("ta") + col("k")).cast("double")
    val q = (col("nb") + 1).cast("double") / (col("tb") + col("k")).cast("double")
    val lnpq = floor(log(p / q) * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    binned.crossJoin(broadcast(tot))
      .select(col("bin").cast("long").as("bin"), col("na"), col("nb"),
        floor(p * lit(1000000.0) + lit(0.5)).cast("long").as("p_micro"),
        floor(q * lit(1000000.0) + lit(0.5)).cast("long").as("q_micro"),
        floor((p - q) * lnpq * lit(1000000000.0) + lit(0.5)).cast("long")
          .as("psi_term_nano"))
      .orderBy(col("bin"))
  }

  val q249Sql: String =
    s"""WITH o AS (
       |  SELECT o_totalprice AS x,
       |         CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS early
       |  FROM orders),
       |bounds AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM o),
       |binned AS (
       |  SELECT LEAST($PsiBins - 1,
       |           CAST(FLOOR((x - lo) / ((hi - lo) / CAST($PsiBins AS DOUBLE))) AS INTEGER))
       |           AS bin,
       |         CAST(SUM(early) AS BIGINT) AS na,
       |         CAST(SUM(1 - early) AS BIGINT) AS nb
       |  FROM o, bounds GROUP BY 1),
       |tot AS (SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb,
       |               $PsiBins AS k FROM binned)
       |SELECT CAST(bin AS BIGINT) AS bin, na, nb,
       |       CAST(FLOOR(CAST(na + 1 AS DOUBLE) / CAST(ta + k AS DOUBLE)
       |              * 1000000.0 + 0.5) AS BIGINT) AS p_micro,
       |       CAST(FLOOR(CAST(nb + 1 AS DOUBLE) / CAST(tb + k AS DOUBLE)
       |              * 1000000.0 + 0.5) AS BIGINT) AS q_micro,
       |       CAST(FLOOR((CAST(na + 1 AS DOUBLE) / CAST(ta + k AS DOUBLE)
       |               - CAST(nb + 1 AS DOUBLE) / CAST(tb + k AS DOUBLE))
       |              * (FLOOR(LN((CAST(na + 1 AS DOUBLE) / CAST(ta + k AS DOUBLE))
       |                       / (CAST(nb + 1 AS DOUBLE) / CAST(tb + k AS DOUBLE)))
       |                   * 1000000.0 + 0.5) / 1000000.0)
       |              * 1000000000.0 + 0.5) AS BIGINT) AS psi_term_nano
       |FROM binned, tot ORDER BY bin""".stripMargin

  /** q250 — row-level provenance hashing: every silver row carries an
    * md5 content address of its contributing source keys — the lineage
    * primitive that lets any consumer verify a row against the bronze
    * inputs without replaying the pipeline (the row-level analogue of
    * q219's shard digests). md5 over a '|'-joined rendering of INTEGER
    * and DATE fields only (float formatting is engine-specific, so
    * floats never enter a hash). One projection on the join; sampled
    * here by key stride to bound the graded output.
    */
  def q250Provenance(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 997 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        col("o_orderdate").cast("date").as("o_date"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        md5(concat_ws("|",
          col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string"),
          col("o_custkey").cast("string"),
          col("l_returnflag"),
          col("o_orderpriority"),
          col("o_date").cast("string"))).as("prov"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val q250Sql: String =
    s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |       md5(concat_ws('|',
       |         CAST(l_orderkey AS VARCHAR),
       |         CAST(l_linenumber AS VARCHAR),
       |         CAST(o_custkey AS VARCHAR),
       |         l_returnflag,
       |         o_orderpriority,
       |         CAST(CAST(o_orderdate AS DATE) AS VARCHAR))) AS prov
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE l_orderkey % 997 = 0
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q251 — HLL mergeability, proven: per-source register maxima merge
    * (max over sources per register) into EXACTLY the registers a
    * direct global pass computes — max is associative/commutative, so
    * the estimates are equal to the last bit. This is the property that
    * lets per-day sketches roll into monthly cardinalities without
    * re-reading data; here it is a graded equality, not a claim. Output:
    * one row, both estimates and the exact count beside them.
    */
  def q251HllMerge(s: SparkSession, d: String): DataFrame = {
    val m = FeatureOps.HllM
    val w = FeatureOps.HllW
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .select(col("source"), polyHash(col("tok")).as("h"))
      .persist()
    def regs(df: DataFrame, keyed: Boolean) = {
      val base = df
        .withColumn("j", col("h") % m)
        .withColumn("wv", expr(s"h div $m"))
        .withColumn("hb", expr(
          s"aggregate(sequence(0, ${w - 1}), -1, (acc, b) -> IF(((wv >> b) & 1) = 1, b, acc))"))
        .withColumn("rank", lit(w) - col("hb"))
      if (keyed) base.groupBy(col("source"), col("j")).agg(max(col("rank")).as("mj"))
      else base.groupBy(col("j")).agg(max(col("rank")).as("mj"))
    }
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    def estimate(r: DataFrame) = r
      .agg(count(lit(1)).as("present"), sum(pow(lit(2.0), -col("mj"))).as("zp"))
      .withColumn("v_zeros", lit(m.toLong) - col("present"))
      .withColumn("z", col("zp") + col("v_zeros").cast("double"))
      .withColumn("raw", alpha * lit(m.toDouble) * lit(m.toDouble) / col("z"))
      .withColumn("est",
        when(col("raw") <= lit(2.5 * m) && col("v_zeros") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v_zeros").cast("double")))
          .otherwise(col("raw")))
      .select(round(col("est"), 6).as("est"))
    // merged: per-source registers, then max-merged across sources
    val merged = estimate(
      regs(toks, keyed = true).groupBy(col("j")).agg(max(col("mj")).as("mj")))
      .withColumnRenamed("est", "est_merged")
    val direct = estimate(regs(toks, keyed = false))
      .withColumnRenamed("est", "est_direct")
    val exact = toks.agg(countDistinct(col("h")).as("n_exact"))
    merged.crossJoin(direct).crossJoin(exact)
      .withColumn("merge_lossless", col("est_merged") === col("est_direct"))
  }

  val q251Sql: String = {
    val m = FeatureOps.HllM
    val w = FeatureOps.HllW
    s"""WITH tok AS (
       |  SELECT source, ${polyHashSql("tok")} AS h
       |  FROM (SELECT source, unnest(${tokensSql("text")}) AS tok FROM documents)),
       |r AS (
       |  SELECT source, h % $m AS j,
       |         $w - list_reduce(list_concat([CAST(-1 AS BIGINT)],
       |           list_transform(range(0, $w),
       |             b -> CASE WHEN ((h // $m) >> b) & 1 = 1 THEN b ELSE -2 END)),
       |           (acc, b) -> CASE WHEN b >= 0 THEN b ELSE acc END) AS rank
       |  FROM tok),
       |keyed AS (SELECT source, j, max(rank) AS mj FROM r GROUP BY source, j),
       |mergedr AS (SELECT j, max(mj) AS mj FROM keyed GROUP BY j),
       |directr AS (SELECT j, max(rank) AS mj FROM r GROUP BY j),
       |est_m AS (
       |  SELECT ROUND(CASE WHEN raw <= ${2.5 * m} AND v_zeros > 0
       |           THEN ${m.toDouble} * LN(${m.toDouble} / CAST(v_zeros AS DOUBLE))
       |           ELSE raw END, 6) AS est_merged
       |  FROM (SELECT v_zeros,
       |          (0.7213 / (1.0 + 1.079 / ${m.toDouble})) * ${m.toDouble} * ${m.toDouble}
       |            / (zp + CAST(v_zeros AS DOUBLE)) AS raw
       |        FROM (SELECT count(*) AS present, sum(power(2.0, -mj)) AS zp,
       |                     $m - count(*) AS v_zeros
       |              FROM mergedr))),
       |est_d AS (
       |  SELECT ROUND(CASE WHEN raw <= ${2.5 * m} AND v_zeros > 0
       |           THEN ${m.toDouble} * LN(${m.toDouble} / CAST(v_zeros AS DOUBLE))
       |           ELSE raw END, 6) AS est_direct
       |  FROM (SELECT v_zeros,
       |          (0.7213 / (1.0 + 1.079 / ${m.toDouble})) * ${m.toDouble} * ${m.toDouble}
       |            / (zp + CAST(v_zeros AS DOUBLE)) AS raw
       |        FROM (SELECT count(*) AS present, sum(power(2.0, -mj)) AS zp,
       |                     $m - count(*) AS v_zeros
       |              FROM directr))),
       |x AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS n_exact FROM tok)
       |SELECT est_merged, est_direct, n_exact,
       |       est_merged = est_direct AS merge_lossless
       |FROM est_m, est_d, x""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q248_purged_split" -> q248PurgedSplit _,
    "q249_psi" -> q249Psi _,
    "q250_provenance" -> q250Provenance _,
    "q251_hll_merge" -> q251HllMerge _)

  val oracles: Map[String, String] = Map(
    "q248_purged_split" -> q248Sql,
    "q249_psi" -> q249Sql,
    "q250_provenance" -> q250Sql,
    "q251_hll_merge" -> q251Sql)
}
