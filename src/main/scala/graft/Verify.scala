package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver always passes exactly two args)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // The driver only emits a correctness entry for queries whose
        // output dir exists — a silently-absent dir makes the artifact
        // read all-green while queries are broken (the round-6 lesson).
        // Write a one-row error marker instead: the entry then shows up
        // as an explicit schema/hash mismatch carrying the real message.
        try {
          import spark.implicits._
          Seq(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
            .toDF("verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      } finally spark.catalog.clearCache() // builders may persist() internally
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(only))
    spark.stop()
  }

  /** The oracle_sql.json text: the oracle of every query `only` selects
    * (all of them when it is None), so a filtered run checks only what it
    * ran. */
  def oracleJson(only: Option[Set[String]]): String = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
