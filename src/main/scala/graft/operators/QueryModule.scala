package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family of graded queries: each query by name, and for each name
  * that DuckDB can check, the ANSI SQL it runs over the same parquet.
  * [[graft.SparkEntry.modules]] lists every module once. */
trait QueryModule {
  type Q = (SparkSession, String) => DataFrame
  def queries: Map[String, Q]
  def oracles: Map[String, String]
}
