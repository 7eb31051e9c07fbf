package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-profiling operators: the "describe this table" surface a warehouse
  * runs before trusting a feed — per-column completeness / cardinality /
  * extremes, and value-distribution histograms.
  *
  * Reference scope note: the reference (leticiaacs-dev/mercurygate) has no
  * profiling surface; this extends the graded library the same way the
  * curation tier does.
  */
object Profiling extends QueryModule {
  /** q133 — one-pass column profile of `orders`: row count, null count,
    * exact distinct count and numeric min/max per column, unpivoted to
    * one row per column. ONE scan computes every column's stats in a
    * single aggregate (the multi-distinct is planned as one Expand —
    * rows × columns — not one scan per column); the stack() unpivot runs
    * over the single aggregated row. At 100 TB the exact distincts
    * swap for `approx_count_distinct` (HLL) — the plan shape is
    * unchanged; exact is kept here for oracle parity.
    */
  def q133Profile(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val agg = o.agg(
      count(lit(1)).as("n_rows"),
      count(col("o_orderkey")).as("nn_key"),
      countDistinct(col("o_orderkey")).as("nd_key"),
      min(col("o_orderkey")).cast("double").as("mn_key"),
      max(col("o_orderkey")).cast("double").as("mx_key"),
      count(col("o_custkey")).as("nn_cust"),
      countDistinct(col("o_custkey")).as("nd_cust"),
      min(col("o_custkey")).cast("double").as("mn_cust"),
      max(col("o_custkey")).cast("double").as("mx_cust"),
      count(col("o_totalprice")).as("nn_price"),
      countDistinct(col("o_totalprice")).as("nd_price"),
      min(col("o_totalprice")).as("mn_price"),
      max(col("o_totalprice")).as("mx_price"),
      count(col("o_orderstatus")).as("nn_status"),
      countDistinct(col("o_orderstatus")).as("nd_status"),
      count(col("o_orderpriority")).as("nn_prio"),
      countDistinct(col("o_orderpriority")).as("nd_prio"))
    agg.select(col("n_rows"), expr(
      """stack(5,
        |  'o_custkey',      n_rows - nn_cust,   nd_cust,   mn_cust,            mx_cust,
        |  'o_orderkey',     n_rows - nn_key,    nd_key,    mn_key,             mx_key,
        |  'o_orderpriority',n_rows - nn_prio,   nd_prio,   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'o_orderstatus',  n_rows - nn_status, nd_status, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'o_totalprice',   n_rows - nn_price,  nd_price,  mn_price,           mx_price)
        |  AS (col_name, n_nulls, n_distinct, min_val, max_val)""".stripMargin))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_val"), col("max_val"))
      .orderBy(col("col_name"))
  }

  val q133Sql: String =
    """WITH a AS (
      |  SELECT COUNT(*) AS n_rows,
      |    COUNT(o_orderkey) AS nn_key, COUNT(DISTINCT o_orderkey) AS nd_key,
      |    CAST(MIN(o_orderkey) AS DOUBLE) AS mn_key, CAST(MAX(o_orderkey) AS DOUBLE) AS mx_key,
      |    COUNT(o_custkey) AS nn_cust, COUNT(DISTINCT o_custkey) AS nd_cust,
      |    CAST(MIN(o_custkey) AS DOUBLE) AS mn_cust, CAST(MAX(o_custkey) AS DOUBLE) AS mx_cust,
      |    COUNT(o_totalprice) AS nn_price, COUNT(DISTINCT o_totalprice) AS nd_price,
      |    MIN(o_totalprice) AS mn_price, MAX(o_totalprice) AS mx_price,
      |    COUNT(o_orderstatus) AS nn_status, COUNT(DISTINCT o_orderstatus) AS nd_status,
      |    COUNT(o_orderpriority) AS nn_prio, COUNT(DISTINCT o_orderpriority) AS nd_prio
      |  FROM orders)
      |SELECT col_name, n_rows, n_nulls, n_distinct, min_val, max_val FROM (
      |  SELECT 'o_custkey' AS col_name, n_rows, n_rows - nn_cust AS n_nulls,
      |    nd_cust AS n_distinct, mn_cust AS min_val, mx_cust AS max_val FROM a
      |  UNION ALL SELECT 'o_orderkey', n_rows, n_rows - nn_key, nd_key, mn_key, mx_key FROM a
      |  UNION ALL SELECT 'o_orderpriority', n_rows, n_rows - nn_prio, nd_prio,
      |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM a
      |  UNION ALL SELECT 'o_orderstatus', n_rows, n_rows - nn_status, nd_status,
      |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM a
      |  UNION ALL SELECT 'o_totalprice', n_rows, n_rows - nn_price, nd_price, mn_price, mx_price FROM a)
      |ORDER BY col_name""".stripMargin

  /** q134 — data-dependent equi-width histogram of `o_totalprice`: the
    * [min, max] range is computed first (a 1-row agg broadcast to every
    * task), then rows bucket by pure arithmetic — `least(floor((x-mn)/w),
    * 9)` — and a 10-key agg finishes. Two passes over the column, no
    * shuffle wider than 10 keys, and the bucket math is IEEE-identical
    * on both engines so the boundaries hash-match. The profiling twin of
    * the fixed-grid width_bucket.
    */
  def q134Histogram(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val bounds = o.agg(
      min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
    o.select(col("o_totalprice")).crossJoin(broadcast(bounds))
      .withColumn("w", (col("mx") - col("mn")) / lit(10.0))
      .withColumn("bucket",
        least(floor((col("o_totalprice") - col("mn")) / col("w")), lit(9.0))
          .cast("long"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        (min(col("mn")) + col("bucket") * min(col("w"))).as("lo"),
        (min(col("mn")) + (col("bucket") + 1) * min(col("w"))).as("hi"))
      .orderBy(col("bucket"))
  }

  val q134Sql: String =
    """WITH b AS (
      |  SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx,
      |    (MAX(o_totalprice) - MIN(o_totalprice)) / 10.0 AS w
      |  FROM orders),
      |r AS (
      |  SELECT CAST(LEAST(FLOOR((o_totalprice - mn) / w), 9.0) AS BIGINT) AS bucket,
      |    mn, w
      |  FROM orders, b)
      |SELECT bucket, COUNT(*) AS n,
      |  MIN(mn) + bucket * MIN(w) AS lo,
      |  MIN(mn) + (bucket + 1) * MIN(w) AS hi
      |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin

  /** q138 — join-key skew diagnostics: the top-10 heaviest `o_custkey`
    * keys with their share of the table and a suggested salt factor
    * (how many subkeys spread the key to the average partition load at
    * 32 shuffle partitions). The report a pipeline runs BEFORE a big
    * join to decide between AQE skew handling and explicit salting —
    * one partial-aggregable count + a 10-row top-k
    * (TakeOrderedAndProject); pure integer/IEEE arithmetic so it
    * hash-matches.
    */
  def q138SkewDiag(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val counts = o.groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    val tot = o.agg(count(lit(1)).as("total"))
    counts.crossJoin(broadcast(tot))
      .withColumn("share", col("n").cast("double") / col("total").cast("double"))
      .withColumn("salt_factor",
        greatest(lit(1L),
          ceil(col("n").cast("double") / (col("total").cast("double") / lit(32.0)))
            .cast("long")))
      .select(col("o_custkey"), col("n"), col("share"), col("salt_factor"))
      .orderBy(col("n").desc, col("o_custkey"))
      .limit(10)
  }

  val q138Sql: String =
    """WITH c AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey),
      |t AS (SELECT COUNT(*) AS total FROM orders)
      |SELECT o_custkey, n,
      |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
      |  GREATEST(1, CAST(CEIL(CAST(n AS DOUBLE) / (CAST(total AS DOUBLE) / 32.0)) AS BIGINT)) AS salt_factor
      |FROM c, t ORDER BY n DESC, o_custkey LIMIT 10""".stripMargin

  /** q144 — z-score standardization + outlier flags: per event type,
    * mean/std from exact fixed-point sums ([[Det.dsum]], the q85
    * machinery — mergeable partials that still hash-match a
    * single-threaded oracle), broadcast back, then row-local z = (x -
    * mean)/std and a |z| > 3 outlier count with rounded z extremes.
    * sqrt is IEEE-correctly-rounded so the whole chain is bit-stable
    * cross-engine. The feature-standardization primitive: two passes,
    * one broadcast, no shuffle wider than |types|.
    */
  def q144ZscoreOutliers(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val stats = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"),
        Det.dsum(col("value")).as("sx"),
        Det.dsum(col("value") * col("value")).as("sxx"))
      .select(col("event_type"), col("n"),
        (col("sx") / col("n")).as("mean"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
          .as("std"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("z", (col("value") - col("mean")) / col("std"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(abs(col("z")) > 3.0, 1L).otherwise(0L)).as("n_outliers"),
        round(min(col("z")), 6).as("min_z"),
        round(max(col("z")), 6).as("max_z"))
      .orderBy(col("event_type"))
  }

  val q144Sql: String =
    s"""WITH m AS (
       |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
       |    ${Det.dsumSql("value")} AS sx,
       |    ${Det.dsumSql("value*value")} AS sxx
       |  FROM events GROUP BY event_type),
       |st AS (
       |  SELECT event_type, sx / n AS mean,
       |    sqrt((sxx - sx * sx / n) / (n - 1)) AS std
       |  FROM m),
       |z AS (
       |  SELECT e.event_type AS event_type, (value - mean) / std AS z
       |  FROM events e JOIN st ON e.event_type = st.event_type)
       |SELECT event_type, COUNT(*) AS n_rows,
       |  CAST(SUM(CASE WHEN ABS(z) > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |  ROUND(MIN(z), 6) AS min_z, ROUND(MAX(z), 6) AS max_z
       |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q145 — decile profiling via `ntile(10)` + `percent_rank`: orders
    * ranked by price into ten equal-count buckets with each bucket's
    * row count, price band and the exact percent_rank at the band edge.
    * The windowed complement of q134's equi-width histogram
    * (equal-POPULATION vs equal-WIDTH buckets); both engines follow the
    * SQL standard's remainder-to-early-buckets ntile rule.
    *
    * Scale note: an exact global ntile total-orders the input — Spark
    * plans an unpartitioned window as a SINGLE-partition sort, which is
    * the honest cost of exact equal-population ranks. At 100 TB use the
    * two-pass approximation instead: exact/approx quantile boundaries
    * (q127) + arithmetic bucketing (q134) — same report, no global
    * sort. This query covers the exact-operator semantics.
    */
  def q145Deciles(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("decile", ntile(10).over(w))
      .withColumn("pr", percent_rank().over(w))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        round(max(col("pr")), 6).as("edge_pr"))
      .orderBy(col("decile"))
  }

  val q145Sql: String =
    """WITH r AS (
      |  SELECT o_orderkey, o_totalprice,
      |    NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile,
      |    PERCENT_RANK() OVER (ORDER BY o_totalprice, o_orderkey) AS pr
      |  FROM orders)
      |SELECT decile, COUNT(*) AS n, MIN(o_totalprice) AS lo,
      |  MAX(o_totalprice) AS hi, ROUND(MAX(pr), 6) AS edge_pr
      |FROM r GROUP BY decile ORDER BY decile""".stripMargin

  /** q205 — dependency discovery audit: inclusion dependencies (IND) and
    * functional dependencies (FD) over the star schema, Metanome-style.
    *
    * The structural complement of q198's referential-integrity gate:
    * q198 *verifies declared* FKs; this *measures candidate* dependencies
    * — the profiling step that DISCOVERS join keys and determinants in an
    * unfamiliar feed. Each IND row reports how much of A's distinct value
    * set is contained in B (coefficient 1.0 = a valid FK candidate); each
    * FD row reports how many LHS groups map to more than one RHS value
    * (0 violations = a valid determinant).
    *
    * Scale shape: every check is distinct-project → LEFT ANTI join (IND,
    * so the probe side never materializes B's columns and duplicate keys
    * cannot multiply rows) or groupBy + count-distinct (FD) — all
    * partial-aggregable, each over only the two columns involved (column
    * pruning reaches the scan). The seven 1-row results union into one
    * report; at 100 TB each check is an independent job over a 1–2 column
    * projection of one table.
    */
  def q205DependencyAudit(s: SparkSession, d: String): DataFrame = {
    def report(name: String, lhsCount: Column, viol: Column): Seq[Column] = Seq(
      lit(name).as("chk"), lhsCount.as("lhs_count"), viol.as("violations"),
      ((lhsCount - viol).cast("double") / lhsCount.cast("double")).as("coefficient"))
    def ind(name: String, a: DataFrame, b: DataFrame): DataFrame = {
      val da = a.toDF("k").distinct()
      val db = b.toDF("k").distinct()
      val agg = da.join(db, Seq("k"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .crossJoin(da.agg(count(lit(1)).as("lhs_count")))
      agg.select(report(name, col("lhs_count"), col("violations")): _*)
    }
    def fd(name: String, grouped: DataFrame): DataFrame =
      grouped.agg(count(lit(1)).as("lhs_count"),
          sum(when(col("nv") > 1, 1L).otherwise(0L)).as("violations"))
        .select(report(name, col("lhs_count"), col("violations")): _*)
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val p = Tables.part(s, d)
    val checks = Seq(
      ind("ind_l_orderkey_in_o_orderkey",
        li.select(col("l_orderkey")), o.select(col("o_orderkey"))),
      ind("ind_o_orderkey_in_l_orderkey",
        o.select(col("o_orderkey")), li.select(col("l_orderkey"))),
      ind("ind_o_custkey_in_c_custkey",
        o.select(col("o_custkey")), c.select(col("c_custkey"))),
      ind("ind_l_partkey_in_p_partkey",
        li.select(col("l_partkey")), p.select(col("p_partkey"))),
      ind("ind_p_partkey_in_l_partkey",
        p.select(col("p_partkey")), li.select(col("l_partkey"))),
      fd("fd_p_brand_to_p_type",
        p.groupBy(col("p_brand")).agg(countDistinct(col("p_type")).as("nv"))),
      fd("fd_l_orderkey_to_l_shipdate",
        li.groupBy(col("l_orderkey")).agg(countDistinct(col("l_shipdate")).as("nv"))))
    checks.reduce(_ unionAll _).orderBy(col("chk"))
  }

  val q205Sql: String = {
    def ind(name: String, aCol: String, aTab: String, bCol: String, bTab: String) =
      s"""SELECT '$name' AS chk,
         |  CAST(COUNT(*) AS BIGINT) AS lhs_count,
         |  CAST(SUM(CASE WHEN b.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
         |  CAST(COUNT(*) - SUM(CASE WHEN b.k IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS coefficient
         |FROM (SELECT DISTINCT $aCol AS k FROM $aTab) a
         |LEFT JOIN (SELECT DISTINCT $bCol AS k FROM $bTab) b USING (k)""".stripMargin
    def fd(name: String, lhs: String, rhs: String, tab: String) =
      s"""SELECT '$name' AS chk,
         |  CAST(COUNT(*) AS BIGINT) AS lhs_count,
         |  CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violations,
         |  CAST(COUNT(*) - SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS coefficient
         |FROM (SELECT $lhs, COUNT(DISTINCT $rhs) AS nv FROM $tab GROUP BY $lhs)""".stripMargin
    Seq(
      ind("ind_l_orderkey_in_o_orderkey", "l_orderkey", "lineitem", "o_orderkey", "orders"),
      ind("ind_o_orderkey_in_l_orderkey", "o_orderkey", "orders", "l_orderkey", "lineitem"),
      ind("ind_o_custkey_in_c_custkey", "o_custkey", "orders", "c_custkey", "customer"),
      ind("ind_l_partkey_in_p_partkey", "l_partkey", "lineitem", "p_partkey", "part"),
      ind("ind_p_partkey_in_l_partkey", "p_partkey", "part", "l_partkey", "lineitem"),
      fd("fd_p_brand_to_p_type", "p_brand", "p_type", "part"),
      fd("fd_l_orderkey_to_l_shipdate", "l_orderkey", "l_shipdate", "lineitem"))
      .map(q => s"($q)").mkString("", "\nUNION ALL\n", "\nORDER BY chk")
  }

  /** q206 — robust outlier detection by median absolute deviation (MAD)
    * per event type, exact and cross-engine bit-identical.
    *
    * q144 flags outliers by z-score, which a heavy tail inflates (the
    * outliers drag the mean and stddev toward themselves); the MAD is the
    * standard robust substitute — breakdown point 50%. Exactness comes
    * from the "doubled median" device: values are 6-dp micro-unit longs
    * ([[Det.fixed6]]), and 2×median = v[⌈n/2⌉] + v[⌊n/2⌋+1] is an INTEGER
    * for every n — no interpolation float whose op order could differ
    * between engines. Deviations |2v − med2| stay integer, the MAD is the
    * same doubled median of them, and the outlier test dev2 > 3·mad2 is
    * an integer compare. Only the two report columns divide back to
    * doubles (single division each).
    *
    * Scale shape: two rank passes, each a window partitioned by
    * event_type (parallel across groups; within-group sort is the price
    * of exact order statistics — the 100 TB substitute is q127/q134-style
    * binning, same trade as q145's documented exact-ntile). Both median
    * lookups are partial-aggregable conditional sums; the per-type med2
    * relation is |types|-sized and AQE broadcasts it back onto the data.
    */
  def q206MadOutliers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def med2Of(df: DataFrame, c: String, out: String): DataFrame = {
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col(c))
      val wAll = Window.partitionBy(col("event_type"))
      df.withColumn("rn", row_number().over(wOrd).cast("long"))
        .withColumn("n", count(lit(1)).over(wAll))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          (sum(when(col("rn") === expr("(n + 1) div 2"), col(c))) +
            sum(when(col("rn") === expr("n div 2 + 1"), col(c)))).as(out))
    }
    val ev = Tables.events(s, d).select(col("event_type"),
      Det.fixed6(col("value")).cast("long").as("v"))
    val med = med2Of(ev, "v", "med2")
    val dev = ev.join(med.select(col("event_type"), col("med2")), "event_type")
      .withColumn("dev2", abs(col("v") * 2 - col("med2")))
    val mad = med2Of(dev, "dev2", "mad2").select(col("event_type"), col("mad2"))
    val outl = dev.join(mad, "event_type")
      .groupBy(col("event_type"))
      .agg(sum(when(col("dev2") > col("mad2") * 3, 1L).otherwise(0L)).as("n_outliers"))
    med.join(mad, "event_type").join(outl, "event_type")
      .select(col("event_type"), col("n"),
        (col("med2").cast("double") / lit(2000000.0)).as("median_value"),
        (col("mad2").cast("double") / lit(2000000.0)).as("mad_value"),
        col("n_outliers"))
      .orderBy(col("event_type"))
  }

  val q206Sql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |         CAST(floor(value*1000000.0 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |r1 AS (
      |  SELECT event_type, v,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM ev),
      |med AS (
      |  SELECT event_type, MAX(n) AS n,
      |         SUM(CASE WHEN rn = (n + 1) // 2 THEN v END)
      |           + SUM(CASE WHEN rn = n // 2 + 1 THEN v END) AS med2
      |  FROM r1 GROUP BY event_type),
      |dev AS (
      |  SELECT ev.event_type, ABS(ev.v * 2 - med.med2) AS dev2
      |  FROM ev JOIN med USING (event_type)),
      |r2 AS (
      |  SELECT event_type, dev2,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev2) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM dev),
      |mad AS (
      |  SELECT event_type,
      |         SUM(CASE WHEN rn = (n + 1) // 2 THEN dev2 END)
      |           + SUM(CASE WHEN rn = n // 2 + 1 THEN dev2 END) AS mad2
      |  FROM r2 GROUP BY event_type),
      |outl AS (
      |  SELECT dev.event_type,
      |         CAST(SUM(CASE WHEN dev.dev2 > mad.mad2 * 3 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_outliers
      |  FROM dev JOIN mad USING (event_type) GROUP BY dev.event_type)
      |SELECT med.event_type, med.n,
      |       CAST(med.med2 AS DOUBLE) / 2000000.0 AS median_value,
      |       CAST(mad.mad2 AS DOUBLE) / 2000000.0 AS mad_value,
      |       outl.n_outliers
      |FROM med JOIN mad USING (event_type) JOIN outl USING (event_type)
      |ORDER BY event_type""".stripMargin

  /** q209 — two-sample Kolmogorov–Smirnov drift statistic per event
    * type, integer-exact.
    *
    * The distribution-drift gate next to q120's KL divergence: KL needs
    * binning (a modeling choice); KS compares the raw empirical CDFs —
    * D = max |F_A(v) − F_B(v)| over observed values — with no bins and a
    * distribution-free null. The A/B split is the deterministic
    * event_id parity (any even/odd split of one stream should NOT drift;
    * a real deployment compares yesterday vs today). Exactness: with
    * 6-dp micro-unit values, cumulative counts ca/cb are integers and
    * D's argmax is found on the INTEGER cross-product ca·n_b − cb·n_a —
    * the single division happens once on the final max. Ties are handled
    * by aggregating per distinct value BEFORE the cumsum, so the CDF is
    * evaluated exactly at each step point.
    *
    * Scale shape: one groupBy (type, value) with map-side partials, one
    * cumsum window partitioned by type (the per-type sort is the price
    * of an exact CDF; at 100 TB substitute the q180 two-phase prefix-sum
    * decomposition — same identity, bucketed), one max. */
  def q209KsDrift(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d).select(col("event_type"),
      Det.fixed6(col("value")).cast("long").as("v"),
      (col("event_id") % 2 === 0).cast("long").as("isa"))
    val byV = ev.groupBy(col("event_type"), col("v"))
      .agg(sum(col("isa")).as("na_v"), sum(lit(1) - col("isa")).as("nb_v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
    val cum = byV
      .withColumn("ca", sum(col("na_v")).over(w))
      .withColumn("cb", sum(col("nb_v")).over(w))
    val tot = ev.groupBy(col("event_type"))
      .agg(sum(col("isa")).as("n_a"), sum(lit(1) - col("isa")).as("n_b"))
    cum.join(tot, "event_type")
      .groupBy(col("event_type"), col("n_a"), col("n_b"))
      .agg(max(abs(col("ca") * col("n_b") - col("cb") * col("n_a"))).as("ks_num"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("ks_num"),
        (col("ks_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("ks"))
      .orderBy(col("event_type"))
  }

  val q209Sql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |         CAST(floor(value*1000000.0 + 0.5) AS BIGINT) AS v,
      |         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS isa
      |  FROM events),
      |byv AS (
      |  SELECT event_type, v,
      |         CAST(SUM(isa) AS BIGINT) AS na_v,
      |         CAST(SUM(1 - isa) AS BIGINT) AS nb_v
      |  FROM ev GROUP BY event_type, v),
      |cum AS (
      |  SELECT event_type,
      |         SUM(na_v) OVER (PARTITION BY event_type ORDER BY v) AS ca,
      |         SUM(nb_v) OVER (PARTITION BY event_type ORDER BY v) AS cb
      |  FROM byv),
      |tot AS (
      |  SELECT event_type,
      |         CAST(SUM(isa) AS BIGINT) AS n_a,
      |         CAST(SUM(1 - isa) AS BIGINT) AS n_b
      |  FROM ev GROUP BY event_type)
      |SELECT cum.event_type, tot.n_a, tot.n_b,
      |       CAST(MAX(ABS(cum.ca * tot.n_b - cum.cb * tot.n_a)) AS BIGINT) AS ks_num,
      |       CAST(MAX(ABS(cum.ca * tot.n_b - cum.cb * tot.n_a)) AS DOUBLE)
      |         / CAST(tot.n_a * tot.n_b AS DOUBLE) AS ks
      |FROM cum JOIN tot USING (event_type)
      |GROUP BY cum.event_type, tot.n_a, tot.n_b
      |ORDER BY event_type""".stripMargin

  /** q211 — Benford first-digit audit of `o_totalprice` with per-digit
    * χ² contributions.
    *
    * The forensic-profiling classic: naturally-arising multiplicative
    * amounts follow P(d) = log10(1 + 1/d); a feed whose first-digit
    * histogram departs sharply is synthetic, truncated, or corrupted.
    * (The fixture IS synthetic — the non-conforming χ² is the point: the
    * audit must report what the data shows.) The first digit is taken
    * lexically (first char of the integer part as a string) — no
    * log/pow on the data path, so there is nothing to diverge between
    * engines; the nine log10 expectations are Scala-computed literals
    * inlined identically into both plans, and each χ² term is the same
    * IEEE sequence. One scan, a 9-row broadcast join, nulls folded so
    * absent digits report obs = 0 instead of vanishing.
    */
  def q211Benford(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val probs = (1 to 9).map(dd => (dd, math.log10(1.0 + 1.0 / dd)))
      .toDF("digit", "p")
    val orders = Tables.orders(s, d)
    val obs = orders
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
    val n = orders.agg(count(lit(1)).as("n"))
    val expected = col("n").cast("double") * col("p")
    val diff = coalesce(col("obs"), lit(0L)).cast("double") - expected
    probs.join(obs, Seq("digit"), "left").crossJoin(broadcast(n))
      .select(col("digit"), coalesce(col("obs"), lit(0L)).as("obs"),
        expected.as("expected"),
        (diff * diff / expected).as("chi2_term"))
      .orderBy(col("digit"))
  }

  val q211Sql: String = {
    // exponent form forces DuckDB to type the literal DOUBLE — a plain
    // decimal literal becomes DECIMAL(17,17), whose double conversion is
    // not correctly rounded for every value (digit 3 lands 1 ulp off)
    val values = (1 to 9)
      .map(dd => f"($dd, ${math.log10(1.0 + 1.0 / dd)}%.17e)").mkString(", ")
    s"""WITH probs(digit, p) AS (VALUES $values),
       |obs AS (
       |  SELECT CAST((CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR))[1] AS INTEGER) AS digit,
       |         CAST(COUNT(*) AS BIGINT) AS obs
       |  FROM orders GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders)
       |SELECT probs.digit, COALESCE(obs.obs, 0) AS obs,
       |       CAST(n.n AS DOUBLE) * probs.p AS expected,
       |       (CAST(COALESCE(obs.obs, 0) AS DOUBLE) - CAST(n.n AS DOUBLE) * probs.p)
       |         * (CAST(COALESCE(obs.obs, 0) AS DOUBLE) - CAST(n.n AS DOUBLE) * probs.p)
       |         / (CAST(n.n AS DOUBLE) * probs.p) AS chi2_term
       |FROM probs LEFT JOIN obs USING (digit) CROSS JOIN n
       |ORDER BY digit""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q144_zscore_outliers" -> q144ZscoreOutliers _,
    "q145_deciles" -> q145Deciles _,
    "q133_profile" -> q133Profile _,
    "q134_histogram" -> q134Histogram _,
    "q138_skew_diag" -> q138SkewDiag _,
    "q205_dependency_audit" -> q205DependencyAudit _,
    "q206_mad_outliers" -> q206MadOutliers _,
    "q209_ks_drift" -> q209KsDrift _,
    "q211_benford" -> q211Benford _)

  val oracles: Map[String, String] = Map(
    "q144_zscore_outliers" -> q144Sql,
    "q145_deciles" -> q145Sql,
    "q133_profile" -> q133Sql,
    "q134_histogram" -> q134Sql,
    "q138_skew_diag" -> q138Sql,
    "q205_dependency_audit" -> q205Sql,
    "q206_mad_outliers" -> q206Sql,
    "q209_ks_drift" -> q209Sql,
    "q211_benford" -> q211Sql)
}
