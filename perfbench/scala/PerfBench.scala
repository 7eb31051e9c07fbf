package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark: one workload in one fresh SparkSession, from a
  * single closed-loop client (one op in flight).
  *
  * Reads a properties file written by `run.py`, runs the untimed warm-up,
  * then whole rounds of ops until `seconds` of op wall have passed, and
  * writes one JSON result file. It calls only the program's public entry
  * points: `SparkEntry.queries` forced through the `noop` sink followed by
  * `clearCache()` (as Bench and Verify do), and `Medallion.runTable`.
  *
  * With `trace=1` a SparkListener and a QueryExecutionListener from this
  * file record per-op counters; every op's jobs carry the job group
  * `op-<n>` (`op-<n>.builder` / `op-<n>.action` for queries), so all of one
  * op's spans share that id. Untraced runs attach nothing.
  */
object PerfBench {
  final case class Op(round: Int, name: String, start: Long, end: Long,
      builderEnd: Long, query: Boolean, error: String, rows: Long,
      cacheRdds: Int, cacheBytes: Long) {
    def wall: Double = (end - start) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val p = new java.util.Properties
    val in = Files.newBufferedReader(Paths.get(args(0)), UTF_8)
    try p.load(in) finally in.close()
    def prop(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"plan file lacks '$k'"))
    val workload = prop("workload")
    val cpus = prop("cpus")
    val seconds = prop("seconds").toDouble
    val trace = prop("trace") == "1"
    val work = prop("work")
    val ops = prop("ops").split(",").toSeq

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    if (workload == "train") { // loads the classes a run needs, for the CDS archive
      new QueryRunner(spark, prop("data"), prop("check"), ops).warmUp()
      new EtlRunner(spark, prop("etl.in"), work, prop("etl.tables").split(",").toSeq).warmUp()
      spark.stop()
      return
    }
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val run: Runner =
      if (workload == "medallion_etl") new EtlRunner(spark, prop("etl.in"), work, ops)
      else new QueryRunner(spark, prop("data"), prop("check"), ops)

    val w0 = System.nanoTime()
    run.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val warmEndMs = System.currentTimeMillis()

    val done = Seq.newBuilder[Op]
    var timed = 0.0
    var round = 0
    var n = 0
    while (timed < seconds) {
      round += 1
      for (name <- run.round) {
        n += 1
        val op = run.op(round, name, s"op-$n", tracer.nonEmpty)
        timed += op.wall
        done += op
      }
    }
    val result = done.result()
    spark.stop() // drains the listener bus, so the tracer has every event
    val json = new StringBuilder
    json ++= s"""{"session_s":$sessionS,"warmup_s":$warmS,"warm_end_ms":$warmEndMs,"rounds":$round,"ops":["""
    json ++= result.map { o =>
      s"""{"round":${o.round},"name":${q(o.name)},"wall":${o.wall},""" +
        s""""builder":${(o.builderEnd - o.start) / 1e9},"action":${(o.end - o.builderEnd) / 1e9},""" +
        s""""rows":${o.rows},"error":${q(o.error)}}"""
    }.mkString(",")
    json ++= "]"
    tracer.foreach { t =>
      json ++= ""","spans":""" ++= t.perOp(result, run.inputBytes).map(
        _.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")).mkString("[", ",", "]")
    }
    json ++= "}"
    Files.write(Paths.get(prop("out")), json.toString.getBytes(UTF_8))
  }

  /** JSON string literal: quote, backslash and every control character escaped. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def message(e: Throwable): String =
    (e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  /** One workload: its warm-up, the ops of one round, and what one op is. */
  trait Runner {
    def warmUp(): Unit
    /** The ops of one round, in the same order in every run: the program
      * caches generated code across ops, so what an op costs depends on
      * the ops before it, and a seeded order would make that differ by seed. */
    def round: Seq[String]
    def op(round: Int, name: String, group: String, traced: Boolean): Op
    /** Bytes on disk an op of this name reads as its input. */
    def inputBytes(name: String): Long
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Blocks still resident: RDDs with cached partitions, and their bytes. */
  def resident(spark: SparkSession): (Int, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum)
  }

  /** `SparkEntry.queries` ops over one generated Parquet directory; a
    * round runs `round`, the query names of the plan's `ops`, in order. The
    * warm-up runs every query once and writes its result for the DuckDB
    * check, as Verify does; the timed ops force each result through the
    * `noop` sink and then `clearCache()`, as Bench does. */
  final class QueryRunner(spark: SparkSession, data: String, checkDir: String,
      val round: Seq[String]) extends Runner {
    private val names = round.distinct
    private val fns = names.map(n => n -> graft.SparkEntry.queries.getOrElse(n,
      sys.error(s"no query named $n in SparkEntry.queries"))).toMap
    private val dataBytes = dirBytes(data)

    def warmUp(): Unit = {
      for (n <- names) {
        val t = System.nanoTime()
        try fns(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n")
        catch { case e: Throwable =>
          Files.write(Paths.get(s"$checkDir/$n.error"), message(e).getBytes(UTF_8))
        } finally spark.catalog.clearCache()
        System.err.println(f"perfbench: warm-up $n ${(System.nanoTime() - t) / 1e9}%.2f s")
      }
      // then each query once more, untimed, through the timed path: after
      // only one execution the first timed executions ran up to 1.6x slow
      for (n <- names) op(0, n, "", traced = false)
      val oracles = graft.SparkEntry.oracleSql
      val json = names.flatMap(n => oracles.get(n).map(sql => s"${q(n)}:${q(sql)}"))
        .mkString("{", ",", "}")
      Files.write(Paths.get(s"$checkDir/oracle_sql.json"), json.getBytes(UTF_8))
    }

    def op(round: Int, name: String, group: String, traced: Boolean): Op = {
      val sc = spark.sparkContext
      var error = ""
      if (traced) sc.setJobGroup(s"$group.builder", name)
      val start = System.nanoTime()
      var builderEnd = start
      try {
        val df = fns(name)(spark, data)
        builderEnd = System.nanoTime()
        if (traced) sc.setJobGroup(s"$group.action", name)
        df.write.mode("overwrite").format("noop").save()
      } catch { case e: Throwable =>
        if (builderEnd == start) builderEnd = System.nanoTime()
        error = message(e)
      } finally spark.catalog.clearCache()
      val end = System.nanoTime()
      if (traced) sc.clearJobGroup()
      val (rdds, bytes) = if (traced) resident(spark) else (0, 0L)
      Op(round, name, start, end, builderEnd, query = true, error, -1L, rdds, bytes)
    }

    def inputBytes(name: String): Long = dataBytes
  }

  /** `Medallion.runTable` ops: one op loads one table's batch of one day.
    * Day 1 loads into empty bronze/silver (the Historic + current branch),
    * days 2 and 3 into the same bases (the refresh branch). The warm-up
    * loads into bases of its own; round r writes under `<work>/etl/r<r>`,
    * which the checks read after the run. */
  final class EtlRunner(spark: SparkSession, inDir: String, work: String,
      tables: Seq[String]) extends Runner {
    private val days = Seq(1 -> "2024-07-01", 2 -> "2024-07-02", 3 -> "2024-07-03")

    private def load(base: String, name: String): Long = {
      val Array(day, table) = name.split(":")
      val today = days.toMap.apply(day.stripPrefix("day").toInt)
      graft.pipeline.Medallion.runTable(spark, csv(name), s"$base/bronze", s"$base/silver",
        table, "mercurygate", "perfbench", Timestamp.valueOf(s"$today 06:00:00"), today)
        .map(_.count).getOrElse(0L)
    }

    private def csv(name: String): String = {
      val Array(day, table) = name.split(":")
      s"$inDir/$day/$table.csv"
    }

    /** The first table, days 1 and 2, one op on each branch: the classes,
      * JIT and code paths are shared by every table and every later day, so
      * more warm-up ops would only add set-up time (an op takes seconds,
      * most of it per-file cost). */
    def warmUp(): Unit =
      for ((d, _) <- days.take(2); t <- tables.take(1)) {
        val t0 = System.nanoTime()
        load(s"$work/etl/warm", s"day$d:$t")
        System.err.println(f"perfbench: warm-up day$d:$t ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }

    /** Day 1 of every table, then day 2, then day 3. */
    val round: Seq[String] = days.flatMap { case (d, _) => tables.map(t => s"day$d:$t") }

    def op(round: Int, name: String, group: String, traced: Boolean): Op = {
      val sc = spark.sparkContext
      if (traced) sc.setJobGroup(group, name)
      var error = ""
      var rows = -1L
      val start = System.nanoTime()
      try rows = load(s"$work/etl/r$round", name)
      catch { case e: Throwable => error = message(e) }
      val end = System.nanoTime()
      if (traced) sc.clearJobGroup()
      val (rdds, bytes) = if (traced) resident(spark) else (0, 0L)
      Op(round, name, start, end, start, query = false, error, rows, rdds, bytes)
    }

    def inputBytes(name: String): Long = Files.size(Paths.get(csv(name)))
  }

  /** Per-op counters from Spark's listener buses. Jobs, and through them
    * stages and tasks, are attributed by their job group (`op-<n>`, with
    * `.builder`/`.action` for queries); query executions, which carry no
    * group, by the op whose wall-clock interval holds their first phase.
    * Everything is kept in memory and summed after the bus is drained. */
  final class Tracer(spark: SparkSession) {
    final case class Job(group: String, stages: Seq[Int])
    final case class Task(stage: Int, run: Long, cpu: Long, gc: Long, shWrite: Long,
        shRead: Long, fetchWait: Long, spill: Long, inBytes: Long, inRecords: Long)
    final case class Exec(startMs: Long, analysis: Long, optimization: Long,
        planning: Long, writePath: String, writeNs: Long, outBytes: Long, outFiles: Long)

    private val jobs = new ConcurrentLinkedQueue[Job]
    private val stagesDone = new ConcurrentLinkedQueue[Integer]
    private val tasks = new ConcurrentLinkedQueue[Task]
    private val execs = new ConcurrentLinkedQueue[Exec]
    // System.nanoTime of the op bounds vs wall-clock ms of the events
    private val nanoToMs = System.currentTimeMillis() - System.nanoTime() / 1000000L

    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        jobs.add(Job(g.getOrElse(""), e.stageIds))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stagesDone.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
      }
    })

    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe, durationNs)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        record(qe, 0L)
    })

    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
      val writes = writeCommands(qe.executedPlan)
      val (path, bytes, files) = writes.headOption.map { w =>
        val out = w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
          case _ => ""
        }
        def metric(k: String) = w.metrics.get(k).map(_.value).getOrElse(0L)
        (out, metric("numOutputBytes"), metric("numFiles"))
      }.getOrElse(("", 0L, 0L))
      execs.add(Exec(start, d("analysis"), d("optimization"), d("planning"),
        path, durationNs, bytes, files))
    }

    private def writeCommands(plan: SparkPlan): Seq[DataWritingCommandExec] = plan match {
      case w: DataWritingCommandExec => Seq(w)
      case c: CommandResultExec => writeCommands(c.commandPhysicalPlan)
      // AQE wraps a write with a shuffle, and its final plan in a result stage
      case a: AdaptiveSparkPlanExec => writeCommands(a.executedPlan)
      case s: QueryStageExec => writeCommands(s.plan)
      case other => other.children.flatMap(writeCommands)
    }

    /** Per-op counters (the spans of one op share its `op-<n>` id), in op order. */
    def perOp(ops: Seq[Op], inputBytes: String => Long): Seq[Seq[(String, Double)]] = {
      def opOf(g: String): Int =
        if (g.startsWith("op-")) g.drop(3).takeWhile(_.isDigit).toInt else 0
      val jobList = jobs.asScala.toSeq
      val stageOp: Map[Int, Int] = jobList.flatMap(j => j.stages.map(_ -> opOf(j.group))).toMap
      val tasksBy = tasks.asScala.toSeq.groupBy(t => stageOp.getOrElse(t.stage, 0))
      val stagesBy = stagesDone.asScala.toSeq.groupBy(s => stageOp.getOrElse(s.intValue, 0))
      val jobsBy = jobList.groupBy(j => opOf(j.group))
      val execList = execs.asScala.toSeq
      ops.zipWithIndex.map { case (o, i) =>
        val id = i + 1
        val (s, e) = (o.start / 1000000L + nanoToMs, o.end / 1000000L + nanoToMs)
        val ex = execList.filter(x => x.startMs >= s && x.startMs <= e)
        val ts = tasksBy.getOrElse(id, Nil)
        val js = jobsBy.getOrElse(id, Nil)
        def writeS(part: String) = ex.filter(_.writePath.contains(part)).map(_.writeNs).sum / 1e9
        Seq(
          "operators.builder_s" -> (if (o.query) (o.builderEnd - o.start) / 1e9 else 0.0),
          "operators.builder_jobs" -> js.count(_.group.endsWith(".builder")).toDouble,
          "operators.action_s" -> (if (o.query) (o.end - o.builderEnd) / 1e9 else 0.0),
          "catalyst.analysis_s" -> ex.map(_.analysis).sum / 1e3,
          "catalyst.optimization_s" -> ex.map(_.optimization).sum / 1e3,
          "catalyst.planning_s" -> ex.map(_.planning).sum / 1e3,
          "catalyst.query_executions" -> ex.size.toDouble,
          "scheduler.jobs" -> js.size.toDouble,
          "scheduler.stages" -> stagesBy.getOrElse(id, Nil).size.toDouble,
          "scheduler.tasks" -> ts.size.toDouble,
          "executor.run_s" -> ts.map(_.run).sum / 1e3,
          "executor.cpu_s" -> ts.map(_.cpu).sum / 1e9,
          "executor.gc_s" -> ts.map(_.gc).sum / 1e3,
          "exchange.shuffle_write_bytes" -> ts.map(_.shWrite).sum.toDouble,
          "exchange.shuffle_read_bytes" -> ts.map(_.shRead).sum.toDouble,
          "exchange.fetch_wait_s" -> ts.map(_.fetchWait).sum / 1e3,
          "exchange.spill_bytes" -> ts.map(_.spill).sum.toDouble,
          "scan.input_bytes" -> ts.map(_.inBytes).sum.toDouble,
          "scan.input_records" -> ts.map(_.inRecords).sum.toDouble,
          "scan.disk_bytes" -> inputBytes(o.name).toDouble,
          "pipeline.bronze_write_s" -> writeS("/bronze/"),
          "pipeline.silver_write_s" -> writeS("/silver/"),
          "pipeline.output_bytes" -> ex.map(_.outBytes).sum.toDouble,
          "pipeline.output_files" -> ex.map(_.outFiles).sum.toDouble,
          "cache.rdds_left" -> o.cacheRdds.toDouble,
          "cache.bytes_left" -> o.cacheBytes.toDouble)
      }
    }
  }
}
