package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Queries are forced through the `noop` sink so every projection is fully
  * evaluated — a bare `count()` lets Catalyst prune unevaluated columns
  * and under-measures scalar-heavy queries. A warm-up query absorbs
  * first-job JVM/codegen costs so per-query numbers are comparable.
  *
  * Measurement hygiene (round-3 fixes):
  *  - `clearCache()` after every query: several builders persist() plan
  *    fragments reused within their own plan; left in place they accumulate
  *    in the shared session's storage pool and tax every later query (the
  *    round-2 q90/q92 13×/8× phantom regressions).
  *  - each query runs SPARK_GRAFT_BENCH_RUNS times (default 3) and reports
  *    the per-query MIN — the standard steady-state estimator, robust to
  *    GC pauses and first-touch page-cache misses.
  *  - the printed line uses short "qNN" keys and 3-decimal seconds so the
  *    whole JSON fits the driver's bounded stdout tail; the full-precision
  *    JSON with full query names goes to SPARK_GRAFT_BENCH_OUT (truncated
  *    at startup so a crashed run can't leave a stale previous result).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    // optional comma-separated query-name filter (local profiling only;
    // the driver never sets it, so per-round benches always run everything)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // kill any stale result from a previous (possibly crashed) run first
    try java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(outFile))
    catch { case _: Throwable => () }
    val spark = GraftSession.local(GraftSession.cpus)

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      finally spark.catalog.clearCache() // builders may persist() internally

    // warm-up: JVM + codegen + first parquet footer reads
    try run(SparkEntry.queries("q01_agg_filter")) catch { case _: Throwable => () }
    // pre-build the per-corpus persisted artifacts so every per-query
    // time measures the SERVE path; the one-time build wall rides in the
    // artifact as "build_wall_sec" (round-10 verdict missing #1: stderr
    // prose made round-over-round totals silently non-comparable). A
    // prebuild failure is logged AND flagged as "prebuild_failed": the
    // build then smears into the first consumer's runs, and a smeared
    // run must be distinguishable from a clean one (ADVICE r10).
    var prebuildFailed = false
    val buildWall = {
      val t0 = System.nanoTime()
      try {
        GraftSession.prebuild(spark, sfDir)
        // the q309/q313 lifecycle probes (two real index builds each)
        // run once per (JVM, corpus); the graded queries read the
        // recorded outcomes
        operators.Round11Ops.q309IndexStaleness(spark, sfDir).count(): Unit
        operators.Round12Ops.q313ArtifactAdopt(spark, sfDir).count(): Unit
      } catch { case e: Throwable =>
        prebuildFailed = true
        System.err.println(s"[bench] PREBUILD FAILED (serve floors smear): $e")
      }
      finally spark.catalog.clearCache()
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[bench] artifact prebuild: $buildWall%.3f s")

    // a failed query records -1 (never a small elapsed time that would
    // read as a speedup) and is listed in "failed"
    val outcomes = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { run(fn); true } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      val (mn, spread) =
        if (times.exists(_ < 0)) (-1.0, 0.0) else (times.min, times.max - times.min)
      (name, mn, spread)
    }
    val failed = outcomes.collect { case (n, t, _) if t < 0 => "\"" + n + "\"" }
    // per-query min + max-min spread of the n runs: one artifact is enough
    // to tell a real regression from run-to-run noise (the q42/q35 lesson).
    // The stdout line must survive the driver's bounded 2000-char tail, so
    // the compact form carries only the 8 widest spreads; the full file
    // carries every query's.
    def jsonLine(keyOf: String => String, fmt: Double => String,
        qCap: Int, spreadCap: Int): String = {
      // when capped, keep the SLOWEST queries' entries — the informative
      // ones for a regression read; the rest live in the full file
      val kept = outcomes.sortBy { case (_, t, _) => -t }.take(qCap).sortBy(_._1)
      val qs = kept.map { case (k, v, _) => "\"" + keyOf(k) + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val omitted =
        if (qCap >= outcomes.size) "" else s""","q_omitted":${outcomes.size - qCap}"""
      val sp = outcomes.filter { case (_, t, s) => t >= 0 && s >= 0.005 }
        .sortBy { case (_, _, s) => -s }.take(spreadCap)
        .map { case (k, _, s) => "\"" + keyOf(k) + "\":" + fmt(s) }
        .mkString("{", ",", "}")
      val total = outcomes.map(_._2).filter(_ >= 0).sum
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${outcomes.size},"build_wall_sec":${f"$buildWall%.3f"},"prebuild_failed":$prebuildFailed,"queries":$qs$omitted,"spread":$sp,"failed":${failed.mkString("[", ",", "]")},"runs":$runs,"sf":"$sfDir"}"""
    }
    val full = jsonLine(identity, _.toString, Int.MaxValue, Int.MaxValue)
    // Compact stdout form: "q35_minhash_lsh" -> "q35" (qNN prefixes are
    // unique) and 3-dp seconds. The driver keeps only a bounded 2000-char
    // stdout tail, and at 170 queries a full per-query map no longer fits
    // (the round-6 parsed:null lesson) — so trim the per-query map,
    // slowest-first, until the line is safely under the limit. The full
    // untrimmed JSON always goes to SPARK_GRAFT_BENCH_OUT.
    var qCap = outcomes.size
    var compact = jsonLine(k => k.takeWhile(_ != '_'), d => f"$d%.3f", qCap, 8)
    while (compact.length > 1700 && qCap > 8) {
      qCap = qCap * 3 / 4
      compact = jsonLine(k => k.takeWhile(_ != '_'), d => f"$d%.3f", qCap, 8)
    }
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] write $outFile failed: ${e.getMessage}") }
    spark.stop()
    System.err.println(compact)
    println(compact)
  }
}
