package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** The reference's Bronze→Silver medallion dataflow, re-expressed
  * Spark-first (SURVEY.md §7 "graft.pipeline" layer).
  *
  * Differences from the reference, all deliberate:
  *  - audit columns + renames are each ONE `select` projection instead of
  *    stacked `withColumn`/141×`withColumnRenamed` calls
  *    (`linehaul_bronze_silver.py:225-227` — O(renames) analyzer churn);
  *  - `updated_on` is an injected constant, not `datetime.today()`
  *    (`linehaul_source_to_bronze.py:127`), so runs are reproducible while
  *    keeping the reference's whole-batch-one-timestamp semantics;
  *  - existence probes use Hadoop `FileSystem` — the reference's
  *    `os.path.exists` on a cloud path (`linehaul_bronze_silver.py:206`)
  *    checks the driver's local disk and silently forces the first-load
  *    branch every run;
  *  - the declared-but-unused `primary_key`/`orderByCol` config actually
  *    drives a PK dedup window (SURVEY.md §2.5);
  *  - Delta sinks become plain Parquet (no Delta jars in this environment;
  *    the reference only ever full-overwrites, so nothing is lost —
  *    SURVEY.md §2.1 S7);
  *  - one pass per batch: silver is derived from the cached, audit-enriched
  *    batch that bronze was written from, not from a read-back of the bronze
  *    directory (`linehaul_bronze_silver.py:204`), and the bronze write is
  *    clustered by `year_month`, so each month's file is written by its own
  *    task, in parallel across the cores.
  */
object Medallion {

  /** Audit-column enrichment (`linehaul_source_to_bronze.py:122-127`):
    * database, year_month = month-truncated datecreated, region, country,
    * updated_by, updated_on — one projection. */
  def enrichAudit(
      df: DataFrame,
      database: String,
      updatedBy: String,
      updatedOn: Timestamp,
      dateCol: String = "datecreated"): DataFrame = {
    val ym =
      if (df.columns.contains(dateCol)) trunc(col(dateCol), "month")
      else lit(null).cast("date")
    val auditCols = Seq("database", "year_month", "region", "country", "updated_by", "updated_on")
    // withColumn semantics: an audit column already present in the source
    // is REPLACED, not duplicated (matches the reference's withColumn calls)
    val kept = df.columns.filterNot(auditCols.contains).map(col)
    df.select(kept.toIndexedSeq ++ Seq(
      lit(database).as("database"),
      ym.as("year_month"),
      lit("NAM").as("region"),
      lit("USA").as("country"),
      lit(updatedBy).as("updated_by"),
      lit(updatedOn).as("updated_on")): _*)
  }

  /** Bulk rename as a single projection. Only columns present are renamed;
    * absent mappings no-op (the reference's `withColumnRenamed` semantics,
    * `linehaul_bronze_silver.py:225-227`), collisions impossible because
    * shared keys map to identical targets. */
  def applyRenames(df: DataFrame, renames: Map[String, String]): DataFrame = {
    val cols = df.columns.map(c => renames.get(c).fold(col(c))(n => col(c).as(n)))
    df.select(cols.toIndexedSeq: _*)
  }

  /** `deliverydate` → timestamp if present (`linehaul_bronze_silver.py:214-217`). */
  def normalizeTimestamps(df: DataFrame, tsCol: String = "deliverydate"): DataFrame =
    if (df.columns.contains(tsCol))
      df.withColumn(tsCol, to_timestamp(col(tsCol), "yyyy-MM-dd HH:mm:ss"))
    else df

  /** Soft-delete flag (`linehaul_bronze_silver.py:222`). */
  def addActiveFlag(df: DataFrame): DataFrame =
    df.withColumn("active", lit("Y"))

  /** The implied PK dedup the reference declares but never built: keep the
    * newest row per primary key ordered by the version column(s)
    * (SURVEY.md §2.5). Version ties (guaranteed within one batch, where
    * `updated_on` is a single audit constant) are broken by every
    * remaining column in name order, so the survivor depends only on row
    * content, never on partition scan order. */
  def dedupByPk(df: DataFrame, cfg: TableConfig): DataFrame = {
    val keyed = (cfg.primaryKey ++ cfg.orderByCol).toSet
    val tiebreak = df.columns.filterNot(keyed).sorted.map(c => col(c).desc)
    val w = Window.partitionBy(cfg.primaryKey.map(col): _*)
      .orderBy(cfg.orderByCol.map(c => col(c).desc) ++ tiebreak: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Empty-input gate (`linehaul_source_to_bronze.py:114-119`), but without
    * the reference's triple scan: the input is counted once from a cached
    * plan; returns None when empty. */
  def nonEmptyOrNone(df: DataFrame): Option[DataFrame] = {
    val cached = df.persist()
    if (cached.isEmpty) { cached.unpersist(); None } else Some(cached)
  }

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Historic-vs-current routing (`linehaul_source_to_bronze.py:129-141`):
    * first ever load lands in `datePart=Historic`, later loads in
    * `datePart=<today>`. Probes with Hadoop FileSystem, not the driver's
    * local disk. */
  def resolveBronzeTarget(
      spark: SparkSession, basePath: String, table: String, today: String): String = {
    val historic = s"$basePath/$table/datePart=Historic"
    val hasHistoric = fs(spark, historic).exists(new Path(historic))
    if (hasHistoric) s"$basePath/$table/datePart=$today" else historic
  }

  /** Bronze sink: Parquet, partitioned by year_month, overwrite
    * (`linehaul_source_to_bronze.py:136-141`). Partitioned writes keep
    * partition pruning available to every downstream month-filtered scan.
    * Write hygiene for scale: zstd (better ratio than snappy at similar
    * scan cost) and a per-file record cap so one fat input split can't
    * produce a multi-GB file that defeats downstream split parallelism.
    * Codec/row-group layout never affects values — oracle parity holds.
    *
    * The rows are first hash-clustered by `year_month` into
    * `defaultParallelism` partitions. Each month then lands in exactly one
    * task, so a month directory gets one file instead of one per input
    * split, and the fixed cost of each file (open, footer, commit rename,
    * permission calls) is paid in parallel across the cores instead of
    * serially in one task. The partition count is explicit because AQE
    * coalesces a count-free repartition of a small batch back into one
    * task. Trade-off at scale: a month is written by a single task, so the
    * largest month bounds the write's wall (`maxRecordsPerFile` still
    * splits its output into several files). */
  def writeBronze(df: DataFrame, targetPath: String,
      maxRecordsPerFile: Long = 5000000L): Unit =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col("year_month"))
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("year_month").parquet(targetPath)

  /** Silver transform: timestamp normalization → active flag → single-
    * projection rename → PK dedup (the reference's full-load branch,
    * `linehaul_bronze_silver.py:212-246`, plus the implied dedup). */
  def bronzeToSilverDf(bronze: DataFrame, cfg: TableConfig): DataFrame = {
    val renamed = applyRenames(addActiveFlag(normalizeTimestamps(bronze)), RenameMaps.merged)
    val silverCfg = cfg.copy(
      primaryKey = cfg.primaryKey.map(c => RenameMaps.merged.getOrElse(c, c)),
      orderByCol = cfg.orderByCol.map(c => RenameMaps.merged.getOrElse(c, c)))
    dedupByPk(renamed, silverCfg)
  }

  /** Silver sink with historic/current routing
    * (`linehaul_bronze_silver.py:197-271`): first load writes Historic AND
    * current; refreshes only overwrite current. */
  def writeSilver(
      spark: SparkSession, silver: DataFrame, basePath: String, table: String,
      today: String): String = {
    val current = s"$basePath/$table/datePart=$today"
    val historic = s"$basePath/$table/datePart=Historic"
    val tablePath = s"$basePath/$table"
    val firstLoad = !fs(spark, tablePath).exists(new Path(tablePath))
    if (firstLoad) {
      // two actions share one evaluation of the silver transform (scan +
      // rename + dedup shuffle) instead of recomputing it per write
      val cached = silver.persist()
      try {
        cached.write.mode(SaveMode.Overwrite).parquet(historic)
        cached.write.mode(SaveMode.Overwrite).parquet(current)
      } finally cached.unpersist()
    } else {
      silver.write.mode(SaveMode.Overwrite).parquet(current)
    }
    current
  }

  /** Per-table run report (`linehaul_source_to_bronze.py:147-155`,
    * measured correctly as in the mm variant — `mm_source_to_bronze.py:95,177`). */
  final case class RunReport(table: String, database: String, count: Long, execution_time_s: Double)

  /** Explicit-schema CSV scan — SURVEY.md §7's fix for the reference's
    * `inferSchema=True` (which costs a full extra scan per file and makes
    * types nondeterministic across loads — `linehaul_source_to_bronze.py:
    * 109-112`). */
  def readCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.format("csv").option("header", true).schema(schema).load(path)

  /** Run-report table (`linehaul_source_to_bronze.py:185`): list of
    * reports → Dataset, projected like the reference's display. */
  def reportDf(spark: SparkSession, reports: Seq[RunReport]): DataFrame = {
    import spark.implicits._
    reports.toDF().select(col("table"), col("database"), col("count"), col("execution_time_s"))
  }

  /** End-of-run failure gate (`linehaul_source_to_bronze.py:191-193`) —
    * the reference's version is dead code (zero-count rows are skipped
    * before being appended); this one actually fires. */
  def failOnEmpty(reports: Seq[RunReport]): Unit = {
    val bad = reports.filter(_.count == 0)
    require(bad.isEmpty, s"No data from source for: ${bad.map(_.table).mkString(", ")}")
  }

  /** The MERGE the reference's full-overwrite refresh never had: union
    * the existing silver rows with the incoming batch and keep the newest
    * version per primary key (updates win by `orderByCol`, inserts pass
    * through). One keyed shuffle — no driver-side diffing. */
  def upsert(existing: DataFrame, updates: DataFrame, cfg: TableConfig): DataFrame =
    dedupByPk(existing.unionByName(updates, allowMissingColumns = true), cfg)

  /** Small-files compaction: rewrite a parquet directory into
    * ~targetRecordsPerFile-sized files (streaming sinks and frequent
    * incremental loads fragment tables; scans pay per-file overhead). */
  def compact(spark: SparkSession, path: String, targetRecordsPerFile: Long = 1000000L): Long = {
    val df = spark.read.parquet(path)
    val n = df.count()
    val files = math.max(1, math.ceil(n.toDouble / targetRecordsPerFile).toInt)
    val tmp = path + "__compact_tmp"
    df.repartition(files).write.mode(SaveMode.Overwrite).parquet(tmp)
    val hfs = fs(spark, path)
    hfs.delete(new Path(path), true)
    hfs.rename(new Path(tmp), new Path(path))
    n
  }

  /** Retrying connector semantics (`linehaul_source_to_bronze.py:19-34`):
    * n attempts, fixed delay, rethrow after exhaustion. */
  @annotation.tailrec
  def retry[T](attempts: Int, delayMs: Long = 5000)(f: => T): T =
    scala.util.Try(f) match {
      case scala.util.Success(v) => v
      case scala.util.Failure(e) if attempts <= 1 => throw e
      case scala.util.Failure(_) =>
        Thread.sleep(delayMs); retry(attempts - 1, delayMs)(f)
    }

  /** Full source→bronze→silver run for one table over a local/staged CSV
    * (the SFTP download of `linehaul_source_to_bronze.py:44-93` is an
    * environment concern; from the staged file onward the dataflow is
    * identical). Returns the run report, None if the empty gate fired.
    *
    * One pass over the batch: the CSV is staged (cached) once, bronze is
    * written from it, and silver is derived from the same cached rows.
    * Bronze's target is overwritten with exactly this batch, so reading it
    * back would yield the same rows at the price of a partition-discovery
    * listing job and a scan of the small files just written. Silver keeps
    * the read-back's column order (`year_month` last). Its `year_month` is
    * `date` also for a table without `datecreated`; a read-back infers
    * `void` (Parquet logical type Null) from that all-null partition.
    * The staged cache is released on every exit, failures included. */
  def runTable(
      spark: SparkSession, csvPath: String, bronzeBase: String, silverBase: String,
      table: String, database: String, updatedBy: String, updatedOn: Timestamp,
      today: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      cfgOverride: Option[TableConfig] = None): Option[RunReport] = {
    val t0 = System.nanoTime()
    // explicit schema (readCsv) when the caller knows it — kills the
    // inference scan and makes types deterministic; inference only as the
    // reference-faithful fallback (linehaul_source_to_bronze.py:109-112)
    val raw = schema.map(readCsv(spark, csvPath, _)).getOrElse(
      spark.read.format("csv")
        .option("header", true).option("inferSchema", true).load(csvPath))
    nonEmptyOrNone(raw).map { staged =>
      try {
        val enriched = enrichAudit(staged, database, updatedBy, updatedOn)
        // A1 count gate via df.observe: the row count rides the bronze
        // write job as a CollectMetrics node instead of costing its own
        // count() action over the staged input (one job, not two — at
        // 100 TB the saved pass is the difference that matters)
        val obs = org.apache.spark.sql.Observation(s"run_${table}_${t0}")
        val bronzeTarget = resolveBronzeTarget(spark, bronzeBase, table, today)
        writeBronze(enriched.observe(obs, count(lit(1)).as("n")), bronzeTarget)
        val cfg = cfgOverride.getOrElse(
          TableConfig.registry.getOrElse(table, TableConfig(table)))
        val bronzeOrder = enriched.columns.filterNot(_ == "year_month") :+ "year_month"
        val silver = bronzeToSilverDf(enriched.select(bronzeOrder.toIndexedSeq.map(col): _*), cfg)
        writeSilver(spark, silver, silverBase, table, today)
        RunReport(table, database, obs.get("n").asInstanceOf[Long], (System.nanoTime() - t0) / 1e9)
      } finally staged.unpersist()
    }
  }
}
