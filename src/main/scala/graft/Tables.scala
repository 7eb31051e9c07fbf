package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the harness test tables (FIXTURES.md §A).
  *
  * Parquet is self-describing, so no inference pass is needed (unlike the
  * reference's CSV `inferSchema=True` triple-scan —
  * linehaul_source_to_bronze.py:109-141). Each reader is a plain parquet
  * scan; Catalyst handles column pruning + predicate pushdown, so callers
  * should express projections/filters declaratively and let them reach the
  * scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame =
    spark.read.parquet(s"$sfDir/$table.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** The events table with `ts` as a session-TZ TIMESTAMP ([[utcTs]]). */
  def events(s: SparkSession, d: String): DataFrame = utcTs(load(s, d, "events"))

  /** Normalizes an events `ts` column, batch or streaming, to a session-TZ
    * TIMESTAMP so every downstream operator sees one type. The fixtures
    * store it as parquet TIMESTAMP(MICROS) without a time zone, which Spark
    * reads as TIMESTAMP_NTZ; sessions run UTC (GraftSession), so the cast
    * keeps every value and matches what DuckDB computes on the same file.
    * A `ts` of epoch nanoseconds as a long converts too. */
  def utcTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
