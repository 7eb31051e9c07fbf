package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs launched by each driver-iterated loop query at sf0.001,
  * builder and action together (the action is a noop write). Every round
  * trip the driver makes is a job, so a ceiling here pins "no extra round
  * trips" for the loop queries. Ceilings are the counts measured before
  * the loops moved onto [[graft.operators.Iterate]], less the one job per
  * round that q194's lazy state checkpoint saves. */
class LoopJobsSpec extends AnyFunSuite {
  import TestSpark._

  private val ceilings: Seq[(String, Int)] = Seq(
    "q55_dup_clusters" -> 40,
    "q178_leakage_safe_split" -> 43,
    "q184_keep_best" -> 42,
    "q194_cc_two_phase" -> 46, // 48 before; it runs 2 rounds at sf0.001
    "q245_dedup_weights" -> 44,
    "q261_chain_merge" -> 43,
    "q151_pagerank" -> 20,
    "q203_sssp_weighted" -> 23,
    "q297_kcore" -> 37)

  /** Counts the jobs started under one job group. */
  private final class JobCounter(group: String) extends SparkListener {
    val jobs = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
        jobs.incrementAndGet()
    /** Polls until the asynchronous listener bus has drained (the count
      * holds for 250 ms), as `ScaleAudit.MetricsListener.settled` does. */
    def settled(): Long = {
      var last = jobs.get
      var stableMs = 0
      val t0 = System.nanoTime()
      while (stableMs < 250 && (System.nanoTime() - t0) < 5e9) {
        Thread.sleep(50)
        val now = jobs.get
        if (now == last) stableMs += 50 else { stableMs = 0; last = now }
      }
      last
    }
  }

  private def jobsOf(name: String): Long = {
    val sc = spark.sparkContext
    val group = s"loop-jobs-$name"
    val counter = new JobCounter(group)
    sc.addSparkListener(counter)
    sc.setJobGroup(group, name)
    try SparkEntry.queries(name)(spark, sf).write.mode("overwrite").format("noop").save()
    finally {
      sc.clearJobGroup()
      spark.catalog.clearCache()
    }
    try counter.settled() finally sc.removeSparkListener(counter)
  }

  for ((name, ceiling) <- ceilings)
    test(s"$name launches at most $ceiling Spark jobs") {
      val n = jobsOf(name)
      info(s"$name: $n jobs")
      assert(n <= ceiling, s"$name launched $n jobs, ceiling $ceiling")
    }
}
