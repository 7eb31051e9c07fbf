package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical-evaluation operators: deterministic Poisson-bootstrap
  * confidence intervals and exact AUC via score-histogram rank sums.
  */
object EvalOps extends QueryModule {
  /** Bootstrap replica count for q255. */
  val BootB = 32
  /** Hash mixing constants (Knuth multiplicative + replica offset). */
  val BootMix = 2654435761L

  /** q255 — deterministic Poisson bootstrap of the mean order value: 32
    * resamples in ONE pass, each row's per-replica multiplicity drawn
    * from an integer-hash surrogate of Poisson(1) (P(0)≈.368, P(1)≈.368,
    * P(2)≈.184, P(≥3)≈.080 — the documented quantization of the true
    * pmf). This is the production bootstrap shape: no data is copied B
    * times; the replica axis is a B-row broadcast and every replica mean
    * is an exact micro-unit ratio. Replicas are reproducible by anyone
    * with the ids (the q239/q236 determinism contract applied to
    * uncertainty estimation).
    */
  def q255Bootstrap(s: SparkSession, d: String): DataFrame = {
    val reps = s.createDataFrame((0 until BootB).map(Tuple1(_))).toDF("b")
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * lit(1000000.0) + lit(0.5)).cast("long").as("x_micro"))
    val u = pmod(col("o_orderkey") * BootMix + col("b") * lit(40503L), lit(1000L))
    val w = when(u < 368, 0L).when(u < 736, 1L).when(u < 920, 2L).otherwise(3L)
    o.crossJoin(broadcast(reps))
      .withColumn("w", w)
      .groupBy(col("b"))
      .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("x_micro")).as("sx"))
      .select(col("b").cast("long").as("b"), col("n_eff"),
        floor(col("sx").cast("double") / col("n_eff").cast("double") + lit(0.5))
          .cast("long").as("mean_micro"))
      .orderBy(col("b"))
  }

  val q255Sql: String =
    s"""WITH reps AS (SELECT unnest(range(0, $BootB)) AS b),
       |o AS (SELECT o_orderkey,
       |             CAST(FLOOR(o_totalprice * 1000000.0 + 0.5) AS BIGINT) AS x_micro
       |      FROM orders),
       |wt AS (
       |  SELECT b, x_micro,
       |         CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1
       |              WHEN u < 920 THEN 2 ELSE 3 END AS w
       |  FROM (SELECT b, x_micro,
       |          ((o_orderkey * $BootMix + b * 40503) % 1000 + 1000) % 1000 AS u
       |        FROM o CROSS JOIN reps))
       |SELECT CAST(b AS BIGINT) AS b,
       |       CAST(SUM(w) AS BIGINT) AS n_eff,
       |       CAST(FLOOR(CAST(SUM(w * x_micro) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) + 0.5)
       |         AS BIGINT) AS mean_micro
       |FROM wt GROUP BY b ORDER BY b""".stripMargin

  /** q256 — exact AUC of the per-customer target encoder against the
    * urgent label, via the score-histogram rank-sum (Mann–Whitney U):
    * AUC = Σ_v pos(v)·(neg_below(v) + neg(v)/2) / (P·N), all exact
    * integers until one final division. The load-bearing scale fact:
    * the cumulative window runs over DISTINCT SCORE VALUES, whose count
    * is bounded by the encoder's value space (pairs (n, Σy) with n ≤
    * orders-per-customer) — not by the row count — so no corpus-wide
    * sort ever happens; ties are handled exactly by the +neg(v)/2 term
    * rather than by an arbitrary ordering.
    */
  def q256AucExact(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_custkey").as("cat"),
        (col("o_orderpriority") === "1-URGENT").cast("long").as("y"))
    val stats = o.groupBy(col("cat"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("ss"))
    val glob = o.agg(count(lit(1)).as("gn"), sum(col("y")).as("gs"))
    val prior = col("gs").cast("double") / col("gn").cast("double")
    val pMicro = floor((col("ss").cast("double") + lit(MlOps.EncM) * prior) /
      (col("n").cast("double") + lit(MlOps.EncM)) * lit(1000000.0) + lit(0.5)).cast("long")
    val scored = o.join(stats, "cat").crossJoin(broadcast(glob))
      .select(col("y"), pMicro.as("v"))
    val hist = scored.groupBy(col("v"))
      .agg(sum(col("y")).as("pos"), sum(lit(1) - col("y")).as("neg"))
    val wv = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
    val terms = hist
      .withColumn("neg_below", coalesce(sum(col("neg")).over(wv), lit(0L)))
      .withColumn("numer2", col("pos") * (lit(2L) * col("neg_below") + col("neg")))
    terms.agg(sum(col("pos")).as("np"), sum(col("neg")).as("nn"),
        count(lit(1)).as("n_scores"), sum(col("numer2")).as("u2"))
      .select(col("np"), col("nn"), col("n_scores"),
        floor(col("u2").cast("double") /
          (lit(2.0) * col("np").cast("double") * col("nn").cast("double")) *
          lit(1000000.0) + lit(0.5)).cast("long").as("auc_micro"))
  }

  val q256Sql: String =
    s"""WITH o AS (
       |  SELECT o_custkey AS cat,
       |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
       |  FROM orders),
       |stats AS (SELECT cat, CAST(COUNT(*) AS BIGINT) AS n,
       |                 CAST(SUM(y) AS BIGINT) AS ss FROM o GROUP BY cat),
       |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS gn, CAST(SUM(y) AS BIGINT) AS gs FROM o),
       |scored AS (
       |  SELECT y,
       |         CAST(FLOOR((CAST(ss AS DOUBLE) + ${MlOps.EncM} * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)))
       |                / (CAST(n AS DOUBLE) + ${MlOps.EncM}) * 1000000.0 + 0.5) AS BIGINT) AS v
       |  FROM o JOIN stats USING (cat), g),
       |hist AS (
       |  SELECT v, CAST(SUM(y) AS BIGINT) AS pos,
       |         CAST(SUM(1 - y) AS BIGINT) AS neg
       |  FROM scored GROUP BY v),
       |terms AS (
       |  SELECT pos, neg,
       |         CAST(COALESCE(SUM(neg) OVER (ORDER BY v
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |           AS neg_below
       |  FROM hist)
       |SELECT CAST(SUM(pos) AS BIGINT) AS np,
       |       CAST(SUM(neg) AS BIGINT) AS nn,
       |       CAST(COUNT(*) AS BIGINT) AS n_scores,
       |       CAST(FLOOR(CAST(SUM(pos * (2 * neg_below + neg)) AS DOUBLE)
       |              / (2.0 * CAST(SUM(pos) AS DOUBLE) * CAST(SUM(neg) AS DOUBLE))
       |              * 1000000.0 + 0.5) AS BIGINT) AS auc_micro
       |FROM terms""".stripMargin

  /** q308's samples per task, success threshold, and graded k values. */
  val PassN = 10
  val PassThresh = 50.0
  val PassKs: Seq[Int] = Seq(1, 5, 10)

  /** q308 — unbiased pass@k (Chen et al., "Evaluating Large Language
    * Models Trained on Code" — the HumanEval/MBPP estimator): given n
    * sampled attempts per task of which c succeed, the probability that
    * at least one of k drawn samples succeeds is
    * 1 − C(n−c, k)/C(n, k), and averaging THAT (instead of empirically
    * resampling k of n) is the variance-free unbiased estimator every
    * generation-eval harness publishes. The eval tier's existing
    * metrics are ranking/classification (q256 AUC, q259 ROC, q263
    * NDCG, q204 retrieval eval); this is the sampling-based
    * GENERATION metric — a different estimator family.
    *
    * Fixture mapping (deterministic, no synthetic data): task = user,
    * attempts = the user's first [[PassN]] events by (ts, event_id),
    * success = value ≥ [[PassThresh]] (c spans 1..8 at sf0.01, so both
    * easy and hard "tasks" exist). Tasks with n < k drop from that k's
    * average (the estimator requires n ≥ k) — deterministically, on
    * both engines.
    *
    * Exactness: C(n−c,k)/C(n,k) = Π_{i<k} (n−c−i)/(n−i) is computed as
    * a ratio of EXACT integer falling factorials (≤ 10! ≤ 3.6e6, no
    * overflow near int64), one integer-DIV micro-division per (task, k)
    * (truncation, identical on both engines), summed exactly and
    * divided once per k — no float ever enters.
    *
    * Scale shape: one per-task rank window (task-keyed, high
    * cardinality), one (task) aggregate, a |tasks|×|ks| row-local
    * projection, one |ks|-row aggregate — partial-aggregable
    * throughout, nothing global. */
  def q308PassAtK(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("task")).orderBy(col("ts"), col("event_id"))
    val trials = Tables.events(s, d)
      .select(col("user_id").as("task"), col("ts"), col("event_id"),
        (col("value") >= PassThresh).cast("long").as("ok"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PassN)
    val tasks = trials.groupBy(col("task"))
      .agg(count(lit(1)).as("n"), sum(col("ok")).as("c"))
    val perK = tasks
      .withColumn("k", explode(array(PassKs.map(k => lit(k.toLong)): _*)))
      .filter(col("k") <= col("n"))
      .withColumn("num", expr(
        "aggregate(sequence(0L, k - 1L), 1L, (acc, i) -> acc * greatest(n - c - i, 0L))"))
      .withColumn("den", expr(
        "aggregate(sequence(0L, k - 1L), 1L, (acc, i) -> acc * (n - i))"))
      .withColumn("pass_micro", expr("1000000 - (num * 1000000 DIV den)"))
    perK.groupBy(col("k")).agg(
        count(lit(1)).as("n_tasks"),
        sum(col("pass_micro")).as("sum_pass_micro"),
        sum((col("c") === col("n")).cast("long")).as("n_all_pass"),
        sum((col("c") === 0).cast("long")).as("n_none_pass"))
      .withColumn("mean_pass_micro", expr("sum_pass_micro DIV n_tasks"))
      .orderBy(col("k"))
  }

  val q308Sql: String =
    s"""WITH f AS (
       |  SELECT user_id AS task,
       |         CASE WHEN value >= $PassThresh THEN 1 ELSE 0 END AS ok,
       |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events),
       |t AS (SELECT task, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(ok) AS BIGINT) AS c
       |      FROM f WHERE rn <= $PassN GROUP BY task),
       |pk AS (
       |  SELECT t.task, t.n, t.c, CAST(u.k AS BIGINT) AS k,
       |         list_reduce(list_transform(range(0, u.k),
       |           i -> greatest(t.n - t.c - i, 0)), (a, b) -> a * b) AS num,
       |         list_reduce(list_transform(range(0, u.k),
       |           i -> t.n - i), (a, b) -> a * b) AS den
       |  FROM t, UNNEST([${PassKs.mkString(", ")}]) AS u(k)
       |  WHERE u.k <= t.n),
       |pm AS (SELECT task, n, c, k,
       |              1000000 - ((num * 1000000) // den) AS pass_micro
       |       FROM pk)
       |SELECT k, CAST(COUNT(*) AS BIGINT) AS n_tasks,
       |       CAST(SUM(pass_micro) AS BIGINT) AS sum_pass_micro,
       |       CAST(SUM(CASE WHEN c = n THEN 1 ELSE 0 END) AS BIGINT) AS n_all_pass,
       |       CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_none_pass,
       |       CAST(SUM(pass_micro) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
       |         AS mean_pass_micro
       |FROM pm GROUP BY k ORDER BY k""".stripMargin

  val queries: Map[String, Q] = Map(
    "q255_bootstrap" -> q255Bootstrap _,
    "q256_auc_exact" -> q256AucExact _,
    "q308_pass_at_k" -> q308PassAtK _)

  val oracles: Map[String, String] = Map(
    "q255_bootstrap" -> q255Sql,
    "q256_auc_exact" -> q256Sql,
    "q308_pass_at_k" -> q308Sql)
}
