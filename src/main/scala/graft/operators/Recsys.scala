package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Recommendation-prep: item-item collaborative-filtering similarity
  * over the co-purchase graph (suppliers as items, customers as
  * baskets). The classic co-occurrence shape: two items are similar
  * when many baskets contain both, normalized by each item's basket
  * count (cosine over binary incidence vectors).
  *
  * The scale hazard is the hot basket: pair generation is Σ|basket|²,
  * so one crawler-like customer with 10⁵ items would dominate the whole
  * job. The standard mitigation is the basket cap ([[Recsys.BasketCap]]):
  * baskets above the cap are dropped entirely — an over-broad basket
  * carries near-zero co-occurrence signal anyway. The cap binds at every
  * graded scale (mean basket ≈ 32 items on the fixtures), so the capped
  * path is what the oracle checks, not a dormant knob. After capping,
  * pair volume is ≤ Cap²·|baskets| and the (s1, s2) rollup is
  * partial-aggregable; degree tables are |items|-bounded broadcasts.
  */
object Recsys extends QueryModule {
  /** Maximum basket size (distinct items per customer) admitted to pair
    * generation. */
  val BasketCap = 30

  /** Top-k similar items reported per item. */
  val TopK = 5

  /** q152 — item-item cosine similarity, top-5 per supplier. Degrees are
    * computed on the CAPPED basket set, keeping the normalization
    * consistent with the pairs actually generated. */
  def q152ItemSimilarity(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    val keep = e.groupBy(col("c")).agg(count(lit(1)).as("nb"))
      .filter(col("nb") <= BasketCap)
      .select(col("c"))
    val ec = e.join(keep, "c").persist()
    val deg = ec.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val co = ec.select(col("c"), col("s").as("s1"))
      .join(ec.select(col("c"), col("s").as("s2")), "c")
      .filter(col("s1") =!= col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("co"))
    val sim = co
      .join(broadcast(deg.select(col("s").as("s1"), col("deg").as("d1"))), "s1")
      .join(broadcast(deg.select(col("s").as("s2"), col("deg").as("d2"))), "s2")
      .withColumn("cos", col("co") / sqrt(col("d1") * col("d2")))
    val w = Window.partitionBy(col("s1")).orderBy(col("cos").desc, col("s2"))
    sim.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select(col("s1"), col("s2"), col("co"), round(col("cos"), 6).as("cos"), col("rnk"))
      .orderBy(col("s1"), col("rnk"))
  }

  val q152Sql: String =
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |keep AS (SELECT c FROM e GROUP BY c HAVING COUNT(*) <= $BasketCap),
       |ec AS (SELECT e.c, e.s FROM e JOIN keep USING (c)),
       |deg AS (SELECT s, COUNT(*) AS deg FROM ec GROUP BY s),
       |co AS (
       |  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS co
       |  FROM ec a JOIN ec b ON a.c = b.c AND a.s <> b.s
       |  GROUP BY a.s, b.s),
       |sim AS (
       |  SELECT s1, s2, co,
       |    co / sqrt(CAST(d1.deg * d2.deg AS DOUBLE)) AS cos
       |  FROM co
       |  JOIN deg d1 ON d1.s = co.s1
       |  JOIN deg d2 ON d2.s = co.s2),
       |ranked AS (
       |  SELECT s1, s2, co, cos,
       |    ROW_NUMBER() OVER (PARTITION BY s1 ORDER BY cos DESC, s2) AS rnk
       |  FROM sim)
       |SELECT s1, s2, co, ROUND(cos, 6) AS cos, rnk FROM ranked WHERE rnk <= $TopK
       |ORDER BY s1, rnk""".stripMargin

  /** Minimum pair support for q160 — pairs seen in fewer baskets carry
    * no stable association signal and would dominate the output. */
  val MinSupport = 20

  /** q160 — brand association lift (PMI's log-free twin): for brand
    * pairs co-occurring in an order, lift = P(a,b) / (P(a)·P(b)) =
    * co·N / (cā·c̄b). Reported as the raw ratio rather than its log:
    * `ln` is libm-dependent (JVM `Math.log` vs DuckDB's C library are
    * not guaranteed bit-identical), while the ratio is pure IEEE
    * division — hash-exact across engines, and monotone in PMI so the
    * ranking is the same.
    *
    * Scale shape: the item vocabulary is the brand set (bounded, ~25),
    * so per-basket pair generation is ≤ C(|brands|,2) regardless of
    * basket size — no hot-basket cap needed (contrast q152, where items
    * are suppliers and the cap is load-bearing). The pair rollup is
    * partial-aggregable; the brand-count table and the scalar N both
    * broadcast. */
  def q160BrandLift(s: SparkSession, d: String): DataFrame = {
    val pa = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
    val e = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      .join(broadcast(pa), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("o"), col("p_brand").as("b"))
      .distinct()
      .persist() // three uses: N, per-brand counts, pair self-join
    val n = e.agg(countDistinct(col("o")).as("n"))
    val cnt = e.groupBy(col("b")).agg(count(lit(1)).as("cb"))
    val co = e.select(col("o"), col("b").as("b1"))
      .join(e.select(col("o"), col("b").as("b2")), "o")
      .filter(col("b1") < col("b2"))
      .groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("co"))
      .filter(col("co") >= MinSupport)
    co.join(broadcast(cnt.select(col("b").as("b1"), col("cb").as("c1"))), "b1")
      .join(broadcast(cnt.select(col("b").as("b2"), col("cb").as("c2"))), "b2")
      .crossJoin(broadcast(n))
      .select(col("b1"), col("b2"), col("co"),
        round(col("co") * col("n") / (col("c1") * col("c2")), 6).as("lift"))
      .orderBy(col("lift").desc, col("b1"), col("b2"))
  }

  val q160Sql: String =
    s"""WITH e AS (
       |  SELECT DISTINCT l_orderkey AS o, p_brand AS b
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |n AS (SELECT COUNT(DISTINCT o) AS n FROM e),
       |cnt AS (SELECT b, COUNT(*) AS cb FROM e GROUP BY b),
       |co AS (
       |  SELECT a.b AS b1, b.b AS b2, COUNT(*) AS co
       |  FROM e a JOIN e b ON a.o = b.o AND a.b < b.b
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport)
       |SELECT b1, b2, co,
       |  ROUND(co * n.n / (CAST(c1.cb AS DOUBLE) * c2.cb), 6) AS lift
       |FROM co
       |JOIN cnt c1 ON c1.b = co.b1
       |JOIN cnt c2 ON c2.b = co.b2
       |CROSS JOIN n
       |ORDER BY lift DESC, b1, b2""".stripMargin

  val queries: Map[String, Q] = Map(
    "q152_item_similarity" -> q152ItemSimilarity _,
    "q160_brand_lift" -> q160BrandLift _)
  val oracles: Map[String, String] = Map(
    "q152_item_similarity" -> q152Sql,
    "q160_brand_lift" -> q160Sql)
}
