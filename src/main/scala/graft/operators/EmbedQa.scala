package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Representation QA: embedding anisotropy from sufficient statistics
  * and the predictability (conditional entropy) of the event stream.
  */
object EmbedQa extends QueryModule {
  /** q270 — embedding anisotropy per label: the mean pairwise dot
    * product computed WITHOUT materializing pairs, via the sufficient
    * statistic Σ_{i≠j} vᵢ·vⱼ = ‖Σv‖² − Σ‖v‖². High anisotropy (all
    * vectors leaning into a common direction) is the classic
    * representation pathology that collapses cosine-based retrieval
    * (q38/q235's dense leg) — this is the one-scan audit that detects
    * it. Both sums ride [[graft.functions.ArraySumFixed]] (micro-
    * quantized elements, exact integer partials), so an N²-pair
    * quantity is computed from two partial-aggregable aggregates; the
    * oracle recomputes the same identity from per-dimension sums.
    */
  def q270Anisotropy(s: SparkSession, d: String): DataFrame = {
    graft.functions.ArraySumFixed.register(s)
    val agg = Tables.embeddings(s, d)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        expr("array_sum_fixed(embedding)").as("sv"),
        Det.dsum(expr(s"aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (a, v) -> a + v)")).as("sum_norm2"))
    // ‖Σv‖² from the micro-unit integer component sums (exact): each
    // component is Σxᵢ in micro-units; square, sum, rescale once.
    val sumVecNorm2 = expr(
      "aggregate(transform(sv, c -> CAST(c AS DOUBLE) * CAST(c AS DOUBLE)), 0.0D, (a, v) -> a + v)") /
      lit(1e12)
    agg
      .withColumn("pair_dot_mean",
        (sumVecNorm2 - col("sum_norm2")) /
          (col("n").cast("double") * (col("n") - 1).cast("double")))
      .select(col("label"), col("n"),
        floor(col("sum_norm2") / col("n").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long").as("mean_norm2_micro"),
        floor(col("pair_dot_mean") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("anisotropy_micro"))
      .orderBy(col("label"))
  }

  val q270Sql: String =
    s"""WITH u AS (
       |  SELECT label, vec_id,
       |         unnest(range(0, len(embedding))) AS dim,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |comp AS (
       |  SELECT label, dim,
       |         CAST(SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sc
       |  FROM u GROUP BY label, dim),
       |sv2 AS (
       |  SELECT label,
       |         SUM(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)) / 1e12 AS sum_vec_norm2
       |  FROM comp GROUP BY label),
       |n2 AS (
       |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       |         ${Det.dsumSql("list_reduce(list_transform(range(1, len(embedding)+1), i -> CAST((embedding)[i] AS DOUBLE)*CAST((embedding)[i] AS DOUBLE)), (a, b) -> a + b)")}
       |           AS sum_norm2
       |  FROM embeddings GROUP BY label)
       |SELECT n2.label, n,
       |       CAST(FLOOR(sum_norm2 / CAST(n AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
       |         AS mean_norm2_micro,
       |       CAST(FLOOR((sum_vec_norm2 - sum_norm2)
       |              / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
       |              * 1000000.0 + 0.5) AS BIGINT) AS anisotropy_micro
       |FROM n2 JOIN sv2 ON sv2.label = n2.label
       |ORDER BY n2.label""".stripMargin

  /** q271 — conditional entropy of the event stream, H(next | current):
    * how predictable is the next event type given the current one? The
    * information-theoretic companion to q253's Markov accuracy (and its
    * lower bound: accuracy can't beat what the entropy allows). From the
    * bounded |types|² transition table: H = Σ_c p(c) · H(next|c), every
    * log a 6-dp-rounded micro term, every count exact. One scan + one
    * per-user window + constant-size aggregates.
    */
  def q271TransitionEntropy(s: SparkSession, d: String): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("cur"))
      .withColumn("nxt", lead(col("cur"), 1).over(wp))
      .filter(col("nxt").isNotNull)
    val cells = trans.groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("c"))
    val curTot = cells.groupBy(col("cur")).agg(sum(col("c")).as("nc"))
    val p = col("c").cast("double") / col("nc").cast("double")
    val lnp = floor(log(p) * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    cells.join(broadcast(curTot), "cur")
      .withColumn("term_nano", -floor(p * lnp * lit(1000000000.0) + lit(0.5)).cast("long"))
      .groupBy(col("cur"))
      .agg(sum(col("c")).as("n_trans"), count(lit(1)).as("n_next_types"),
        sum(col("term_nano")).as("h_next_nano"))
      .orderBy(col("cur"))
  }

  val q271Sql: String =
    s"""WITH trans AS (
       |  SELECT event_type AS cur,
       |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
       |  FROM events),
       |t AS (SELECT cur, nxt FROM trans WHERE nxt IS NOT NULL),
       |cells AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
       |ct AS (SELECT cur, CAST(SUM(c) AS BIGINT) AS nc FROM cells GROUP BY 1)
       |SELECT cur,
       |       CAST(SUM(c) AS BIGINT) AS n_trans,
       |       CAST(COUNT(*) AS BIGINT) AS n_next_types,
       |       CAST(SUM(-FLOOR((CAST(c AS DOUBLE) / CAST(nc AS DOUBLE))
       |              * (FLOOR(LN(CAST(c AS DOUBLE) / CAST(nc AS DOUBLE))
       |                   * 1000000.0 + 0.5) / 1000000.0)
       |              * 1000000000.0 + 0.5)) AS BIGINT) AS h_next_nano
       |FROM cells JOIN ct USING (cur)
       |GROUP BY cur ORDER BY cur""".stripMargin

  val queries: Map[String, Q] = Map(
    "q270_anisotropy" -> q270Anisotropy _,
    "q271_transition_entropy" -> q271TransitionEntropy _)

  val oracles: Map[String, String] = Map(
    "q270_anisotropy" -> q270Sql,
    "q271_transition_entropy" -> q271Sql)
}
