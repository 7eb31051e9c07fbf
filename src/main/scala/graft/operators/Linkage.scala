package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Record linkage / entity resolution over the part catalog — the
  * classic "same product listed twice under slightly different names"
  * problem (the fixture's adjective+noun name space makes exact and
  * near-duplicate names across distinct partkeys common).
  *
  * Blocking is the SORTED-NEIGHBORHOOD method, not quadratic blocks:
  * within each p_type block rows are sorted by (p_name, p_partkey) and
  * each row is compared only to its next [[Linkage.W]] neighbors in that
  * order (window `lead`s — a row-local projection after one sort). Pair
  * volume is W·N by construction, so the operator stays linear at any
  * scale; a hot block costs nothing extra because the window never
  * materializes the block. Scoring is plain Levenshtein (identical
  * dynamic-programming semantics in Spark and DuckDB, integer output —
  * no float parity risk at all).
  */
object Linkage extends QueryModule {
  /** Sorted-neighborhood window width: each row meets its next W
    * neighbors in (p_name, p_partkey) order within the p_type block. */
  val W = 3

  /** Maximum edit distance for a candidate pair to count as a match. */
  val MaxDist = 2

  /** q150 — entity-resolution candidate pairs: sorted-neighborhood
    * blocking by p_type, Levenshtein scoring, match at distance ≤
    * [[MaxDist]]. Output is the matched pair list with the survivor
    * convention (canonical = lower partkey = a_key, guaranteed by
    * emitting pairs forward along the sort order with the partkey as the
    * final sort key; a_key < b_key is NOT implied for equal names — the
    * tie-break column makes the pair orientation deterministic). */
  def q150EntityResolution(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    val w = Window.partitionBy(col("p_type")).orderBy(col("p_name"), col("p_partkey"))
    val withNbs = p.select(
      col("p_partkey").as("a_key"), col("p_type"), col("p_name").as("a_name"),
      array((1 to W).map(i =>
        struct(lead(col("p_partkey"), i).over(w).as("k"),
          lead(col("p_name"), i).over(w).as("n"))): _*).as("nbs"))
    withNbs
      .select(col("a_key"), col("p_type"), col("a_name"),
        explode(col("nbs")).as("nb"))
      .filter(col("nb.k").isNotNull)
      .withColumn("dist", levenshtein(col("a_name"), col("nb.n")))
      .filter(col("dist") <= MaxDist)
      .select(col("a_key"), col("nb.k").as("b_key"), col("p_type"),
        col("a_name"), col("nb.n").as("b_name"), col("dist").cast("long").as("dist"))
      .orderBy(col("a_key"), col("b_key"))
  }

  /** Oracle mirror: the same W leads, unioned, same threshold. */
  val q150Sql: String = {
    val leads = (1 to W).map(i =>
      s"""SELECT p_partkey AS a_key, p_type, p_name AS a_name,
         |  lead(p_partkey, $i) OVER (PARTITION BY p_type ORDER BY p_name, p_partkey) AS b_key,
         |  lead(p_name, $i) OVER (PARTITION BY p_type ORDER BY p_name, p_partkey) AS b_name
         |FROM part""".stripMargin).mkString(" UNION ALL ")
    s"""WITH cand AS ($leads)
       |SELECT a_key, b_key, p_type, a_name, b_name,
       |  CAST(levenshtein(a_name, b_name) AS BIGINT) AS dist
       |FROM cand
       |WHERE b_key IS NOT NULL AND levenshtein(a_name, b_name) <= $MaxDist
       |ORDER BY a_key, b_key""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q150_entity_resolution" -> q150EntityResolution _)
  val oracles: Map[String, String] = Map(
    "q150_entity_resolution" -> q150Sql)
}
