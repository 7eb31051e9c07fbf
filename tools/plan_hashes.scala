// Plan fingerprints of every registered query, one line per query:
//   <name> TAB <sha1> TAB <exchanges>
// <sha1> is the SHA-1 of the optimized logical plan's text with what
// differs between two JVMs stripped: expression ids (`#123`), the
// `plan_id=` of cached physical plans, object identity hashes (`@1a2b3c`),
// lambda class addresses and paths under the per-JVM artifact directory
// (`graft-artifacts-<n>/...`). Two builds that plan a query the same way
// print the same hash. <exchanges> counts the Exchange nodes of
// the physical plan, subqueries included. A query whose builder throws
// prints `ERROR` and -1. Builders run their own jobs (checkpoints,
// artifact builds), so this takes about as long as the builders do.
//
// Run it like tools/gen_plans.sh, after `sbt -batch package`:
//   SPARK_GRAFT_SF_DIR=<fixture dir> $SPARK_HOME/bin/spark-shell --master 'local[4]' \
//     --conf spark.sql.shuffle.partitions=4 \
//     --conf spark.sql.session.timeZone=UTC \
//     --conf spark.sql.extensions=graft.plans.GraftExtensions \
//     --jars target/scala-2.13/mercurygatespark_2.13-0.1.0.jar -I tools/plan_hashes.scala \
//     | grep -P '^\S+\t(\w+)\t-?\d+$'
// Compare two builds with `diff` over the two outputs.
{
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  import org.apache.spark.sql.execution.exchange.Exchange
  val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    sys.error("set SPARK_GRAFT_SF_DIR to a fixture directory"))
  val helper = new AdaptiveSparkPlanHelper {}
  def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  for (name <- graft.SparkEntry.queries.keys.toSeq.sorted) {
    val line = try {
      val qe = graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
      val hash = sha1(qe.optimizedPlan.toString
        .replaceAll("#\\d+", "")
        .replaceAll("plan_id=\\d+", "plan_id=")
        .replaceAll("\\$Lambda(\\$\\d+)?/0x[0-9a-f]+", "\\$Lambda")
        .replaceAll("@[0-9a-f]{4,}", "@")
        .replaceAll("graft-artifacts-[^,\\]\\s]*", "graft-artifacts-"))
      val exchanges = helper.collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size
      s"$name\t$hash\t$exchanges"
    } catch { case _: Throwable => s"$name\tERROR\t-1" }
    finally spark.catalog.clearCache()
    println(line)
  }
}
sys.exit(0)
