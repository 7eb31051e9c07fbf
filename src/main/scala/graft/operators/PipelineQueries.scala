package graft.operators

import graft.Tables
import graft.pipeline.Medallion
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's own dataflow operators (SURVEY.md §2.2) exercised as
  * graded queries over the test star schema: audit enrichment (P1–P3),
  * bulk rename projection (P6), timestamp cast round-trip (P4), and the
  * count-gate aggregate (A1) — each through the same `graft.pipeline`
  * code paths the medallion port uses.
  */
object PipelineQueries extends QueryModule {
  /** Fixed audit constants so runs are reproducible (the reference uses
    * `datetime.today()` + notebook user — SURVEY.md §7 hard parts). */
  val FixedTs: java.sql.Timestamp = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  val FixedUser = "graft"

  /** q70 — audit enrichment + partition-key derivation
    * (`linehaul_source_to_bronze.py:122-127`): lit constants + month
    * trunc, then a per-partition-key count (the write-side distribution). */
  def q70AuditEnrich(s: SparkSession, d: String): DataFrame =
    Medallion.enrichAudit(Tables.orders(s, d), "tms", FixedUser, FixedTs, dateCol = "o_orderdate")
      .groupBy(col("database"), col("region"), col("country"), col("updated_by"),
        col("updated_on"), col("year_month"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("year_month"))

  val q70Sql: String =
    """SELECT 'tms' AS database, 'NAM' AS region, 'USA' AS country, 'graft' AS updated_by,
      |  TIMESTAMP '2026-01-01 00:00:00' AS updated_on,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS year_month,
      |  COUNT(*) AS n
      |FROM orders GROUP BY 6 ORDER BY year_month""".stripMargin

  /** Rename map used by q71 (same mechanism as the claims maps). */
  val LineitemRenames: Map[String, String] = Map(
    "l_orderkey" -> "order_key", "l_partkey" -> "part_key",
    "l_suppkey" -> "supp_key", "l_linenumber" -> "line_number",
    "l_quantity" -> "quantity", "l_extendedprice" -> "extended_price",
    "not_a_column" -> "ignored") // absent mappings must no-op

  /** q71 — bulk rename as ONE projection (vs the reference's 141-call
    * `withColumnRenamed` loop, `linehaul_bronze_silver.py:225-227`),
    * including the no-op-on-absent semantics. */
  def q71RenameBulk(s: SparkSession, d: String): DataFrame =
    Medallion.applyRenames(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice")),
        LineitemRenames)
      .orderBy(col("order_key"), col("line_number"))

  val q71Sql: String =
    """SELECT l_orderkey AS order_key, l_linenumber AS line_number,
      |  l_quantity AS quantity, l_extendedprice AS extended_price
      |FROM lineitem ORDER BY order_key, line_number""".stripMargin

  /** q72 — timestamp normalization round-trip
    * (`linehaul_bronze_silver.py:216`): format to the reference's string
    * form, parse back with the same pattern, plus the derived date parts. */
  def q72CastNormalize(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("as_string", date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("reparsed", to_timestamp(col("as_string"), "yyyy-MM-dd HH:mm:ss"))
      .select(col("o_orderkey"), col("as_string"), col("reparsed"),
        (col("reparsed") === col("o_orderdate")).as("roundtrip_ok"))
      .orderBy(col("o_orderkey"))

  val q72Sql: String =
    """SELECT o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS as_string,
      |  strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS reparsed,
      |  strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') = o_orderdate AS roundtrip_ok
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q73 — the configured PK dedup through Medallion.dedupByPk: latest
    * order per customer (primary_key=o_custkey, orderBy=o_orderdate). */
  def q73PkDedupConfig(s: SparkSession, d: String): DataFrame =
    Medallion.dedupByPk(
        Tables.orders(s, d),
        graft.pipeline.TableConfig("orders", Seq("o_custkey"), Seq("o_orderdate", "o_orderkey")))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("o_custkey"))

  val q73Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  /** q74 — MERGE semantics through Medallion.upsert (the refresh the
    * reference's full-overwrite never had): an incoming batch of changed
    * orders (even keys, re-priced ×1.1) merged into the existing
    * snapshot. Updates win by batch_seq, unchanged rows pass through —
    * one keyed shuffle, no driver-side diffing. */
  def q74UpsertMerge(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val existing = base.withColumn("batch_seq", lit(1L))
    val updates = base.filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
      .withColumn("batch_seq", lit(2L))
    Medallion.upsert(existing, updates,
        graft.pipeline.TableConfig("orders", Seq("o_orderkey"), Seq("batch_seq")))
      .orderBy(col("o_orderkey"))
  }

  val q74Sql: String =
    """WITH existing AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice, CAST(1 AS BIGINT) AS batch_seq FROM orders),
      |updates AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice,
      |    CAST(2 AS BIGINT) AS batch_seq
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |u AS (SELECT * FROM existing UNION ALL SELECT * FROM updates)
      |SELECT o_orderkey, o_custkey, o_totalprice, batch_seq
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY batch_seq DESC) AS rn FROM u)
      |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin

  /** q75 — the WHOLE medallion write path as one hash-checked query:
    * stage orders to CSV → source-to-bronze (audit enrich + partitioned
    * parquet write with historic routing) → bronze-to-silver (timestamp
    * normalization, active flag, rename projection, PK dedup, historic +
    * current sinks) → read the silver partition back. The oracle states
    * the same end state declaratively over the original parquet, so every
    * write/read hop (CSV round-trip, partitioned bronze, silver overwrite)
    * must be lossless for the hash to match. Numeric CSV round-trips are
    * exact (shortest-repr doubles); the timestamp column is left out of
    * the staged projection — CSV timestamp formats are a parity hazard
    * and P4 is graded separately (q72). */
  /** The staged input CSV is setup, not the graded write path — stage it
    * once per input dir so bench iterations measure the medallion run,
    * not repeated single-writer CSV staging. */
  private val csvStageCache = scala.collection.concurrent.TrieMap.empty[String, String]

  def q75MedallionE2e(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("medallion_e2e")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val csv = csvStageCache.getOrElseUpdate(d, {
      val staged = java.nio.file.Files.createTempDirectory("medallion_stage").resolve("staged").toString
      Tables.orders(s, d).select(cols.map(col): _*)
        .coalesce(1).write.mode("overwrite").option("header", true).csv(staged)
      staged
    })
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType)))
    val today = "20260101"
    Medallion.runTable(s, csv, tmp.resolve("bronze").toString, tmp.resolve("silver").toString,
      table = "orders", database = "tms", updatedBy = FixedUser, updatedOn = FixedTs,
      today = today, schema = Some(schema),
      cfgOverride = Some(graft.pipeline.TableConfig("orders", Seq("o_orderkey"), Seq("o_orderkey"))))
    s.read.parquet(tmp.resolve(s"silver/orders/datePart=$today").toString)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("database"), col("year_month").cast("date").as("year_month"),
        col("region"), col("country"), col("updated_by"), col("updated_on"), col("active"))
      .orderBy(col("o_orderkey"))
  }

  val q75Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  'tms' AS database, CAST(NULL AS DATE) AS year_month,
      |  'NAM' AS region, 'USA' AS country, 'graft' AS updated_by,
      |  TIMESTAMP '2026-01-01 00:00:00' AS updated_on, 'Y' AS active
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q76 — Gold claims mart through Gold.claimsMart (the layer the
    * reference's README leaves "[Coming soon]"), driven by star-schema
    * stand-ins: orders as the claim table, lineitem as payments and
    * products. Child rollups pre-aggregate BEFORE the left joins, so the
    * join inputs are bounded by claim cardinality — never an exploded
    * claim×payments×products row set. */
  def q76GoldMart(s: SparkSession, d: String): DataFrame = {
    val claim = Tables.orders(s, d).select(
      col("o_orderkey").as("claim_number"), col("o_orderstatus").as("status_code"),
      col("o_totalprice").as("total_amount"))
    val payments = Tables.lineitem(s, d).select(
      col("l_orderkey").as("claim_number"), col("l_extendedprice").as("payment_amount"))
    val products = Tables.lineitem(s, d).select(
      col("l_orderkey").as("claim_number"), col("l_quantity").as("line_total"))
    graft.pipeline.Gold.claimsMart(claim, payments, products)
      .select(col("claim_number"), col("status_code"), col("total_amount"),
        col("n_payments"), col("total_paid"), col("n_products"), col("total_line_value"))
      .orderBy(col("claim_number"))
  }

  /** One bronze staging per (input dir) and process: graded queries may run
    * many bench iterations — rewriting the temp layer each time would bill
    * setup I/O to the read being measured. */
  private val bronzeCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Write the q75-style partitioned bronze for orders (audit-enriched,
    * `partitionBy(year_month)` — `Medallion.writeBronze`) into a temp dir,
    * once per input dir. */
  private def stagedOrdersBronze(s: SparkSession, d: String): String =
    bronzeCache.getOrElseUpdate(d, {
      val tmp = java.nio.file.Files.createTempDirectory("bronze_pruned")
      val target = tmp.resolve("orders").toString
      val enriched = Medallion.enrichAudit(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate")),
        "tms", FixedUser, FixedTs, dateCol = "o_orderdate")
      Medallion.writeBronze(enriched, target)
      target
    })

  /** q77 — partition-pruned read of the bronze layer (SURVEY.md §4's
    * "partition-filtered reads in graded queries"): the bronze sink
    * partitions by `year_month` (`linehaul_source_to_bronze.py:138,141`),
    * so a month-range filter must prune at the directory listing — the
    * plan shows non-empty `PartitionFilters` and only the 12 matching
    * partitions are ever scanned. At 100 TB this is the difference
    * between reading one month and reading seven years. */
  def q77PartitionPruned(s: SparkSession, d: String): DataFrame = {
    val bronze = s.read.parquet(stagedOrdersBronze(s, d))
    bronze
      .filter(col("year_month") >= lit("1996-01-01").cast("date") &&
        col("year_month") < lit("1997-01-01").cast("date"))
      .groupBy(col("year_month").cast("date").as("year_month"))
      .agg(count(lit(1)).as("n"), graft.operators.Det.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("year_month"))
  }

  val q77Sql: String = {
    import graft.operators.Det.dsumSql
    s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS year_month,
       |  COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders
       |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
       |GROUP BY 1 ORDER BY year_month""".stripMargin
  }

  /** q80 — DYNAMIC partition pruning over the same partitioned bronze:
    * q77 prunes statically (the month range is in the query text); here
    * the surviving months are only known by joining a quarter-filtered
    * month dimension, so Spark computes them at runtime from the dim's
    * broadcast and skips every other partition directory — the fact scan
    * plans with `PartitionFilters: [dynamicpruningexpression(...)]`.
    * This is the standard star-schema shape at 100 TB: the fact is
    * partitioned on a key the user never filters directly; without DPP
    * the dimension filter reads all seven years. */
  def q80DppJoin(s: SparkSession, d: String): DataFrame = {
    val fact = s.read.parquet(stagedOrdersBronze(s, d))
    val dim = Tables.orders(s, d)
      .select(date_trunc("month", col("o_orderdate")).cast("date").as("dim_month"))
      .distinct()
      .filter(quarter(col("dim_month")) === 1)
    fact.join(broadcast(dim), col("year_month") === col("dim_month"))
      .groupBy(col("year_month").cast("date").as("year_month"))
      .agg(count(lit(1)).as("n"), graft.operators.Det.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("year_month"))
  }

  val q80Sql: String = {
    import graft.operators.Det.dsumSql
    s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS year_month,
       |  COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders
       |WHERE quarter(o_orderdate) = 1
       |GROUP BY 1 ORDER BY year_month""".stripMargin
  }

  /** One JSON staging per input dir and process (same rationale as
    * [[bronzeCache]]: staging is setup, not the graded read path). */
  private val jsonStageCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** q81 — JSON source scan (§2.1 beyond parquet/CSV): stage events as
    * line-delimited JSON once per input dir, read it back with an
    * EXPLICIT schema (inference costs a second full pass — never at
    * 100 TB), and aggregate. The oracle reads the original parquet, so
    * the JSON write→read round trip must be lossless for the hash to
    * match (Jackson shortest-repr doubles round-trip exactly; the
    * ns-precision timestamp stays out of the projection — JSON timestamp
    * formats are the q72-class parity hazard, graded separately). */
  def q81JsonSource(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val staged = jsonStageCache.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("json_stage").resolve("events").toString
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").json(dir)
      dir
    })
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    s.read.schema(schema).json(staged)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        graft.operators.Det.dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val q81Sql: String = {
    import graft.operators.Det.dsumSql
    s"""SELECT event_type, COUNT(*) AS n,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  ${dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin
  }

  /** Which input dir the bucketed tables were built from (rebuild on change). */
  @volatile private var bucketedFor: Option[String] = None
  /** Data dir of the current bucketed copy — deleted on rebuild: the
    * tables are external (`option("path")`), so DROP TABLE alone would
    * leave each superseded copy of the two largest tables in /tmp for the
    * process lifetime when a JVM alternates input dirs. */
  @volatile private var bucketedDir: Option[java.nio.file.Path] = None

  /** Write orders/lineitem bucketed+sorted on the join key, once per input
    * dir — the recurring-workload layout SCALING.md names as the q04 fix. */
  private def ensureBucketed(s: SparkSession, d: String): Unit = synchronized {
    val ok = bucketedFor.contains(d) &&
      s.catalog.tableExists("graft_li_b") && s.catalog.tableExists("graft_o_b")
    if (!ok) {
      val tmp = java.nio.file.Files.createTempDirectory("bucketed").toString
      s.sql("DROP TABLE IF EXISTS graft_li_b")
      s.sql("DROP TABLE IF EXISTS graft_o_b")
      bucketedDir.foreach { old =>
        try org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
        catch { case _: java.io.IOException => () }
      }
      bucketedDir = Some(java.nio.file.Paths.get(tmp))
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.mode("overwrite").option("path", s"$tmp/li_b")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("graft_li_b")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").option("path", s"$tmp/o_b")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("graft_o_b")
      bucketedFor = Some(d)
    }
  }

  /** q78 — the q04 large-large join over BUCKETED tables: both sides
    * bucketed (8) and sorted on the join key, so the sort-merge join reads
    * co-located buckets with NO shuffle exchange, and the per-order
    * aggregation reuses the same hash distribution (group keys contain the
    * bucket key) — the only Exchange in the whole plan is the final
    * ORDER BY range partitioning. This is the recurring-workload answer to
    * q04's two big shuffles: pay the layout once at write time, join for
    * free every run after. */
  def q78BucketedJoin(s: SparkSession, d: String): DataFrame = {
    ensureBucketed(s, d)
    s.table("graft_li_b").hint("merge") // force SMJ: broadcast would hide the bucketing
      .join(s.table("graft_o_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(
        graft.operators.Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderkey"))
  }

  val q78Sql: String = {
    import graft.operators.Det.dsumSql
    s"""SELECT o_orderkey, o_orderpriority,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1, 2 ORDER BY o_orderkey""".stripMargin
  }

  val q76Sql: String = {
    import graft.operators.Det.dsumSql
    s"""WITH pay AS (SELECT l_orderkey AS claim_number, COUNT(*) AS n_payments,
       |  ${dsumSql("l_extendedprice")} AS total_paid FROM lineitem GROUP BY 1),
       |prod AS (SELECT l_orderkey AS claim_number, COUNT(*) AS n_products,
       |  ${dsumSql("l_quantity")} AS total_line_value FROM lineitem GROUP BY 1),
       |c AS (SELECT o_orderkey AS claim_number, o_orderstatus AS status_code,
       |  o_totalprice AS total_amount FROM orders)
       |SELECT claim_number, status_code, total_amount,
       |  COALESCE(n_payments, 0) AS n_payments, COALESCE(total_paid, 0.0) AS total_paid,
       |  COALESCE(n_products, 0) AS n_products, COALESCE(total_line_value, 0.0) AS total_line_value
       |FROM c LEFT JOIN pay USING (claim_number) LEFT JOIN prod USING (claim_number)
       |ORDER BY claim_number""".stripMargin
  }

  /** One drift staging per input dir (same rationale as [[csvStageCache]]). */
  private val driftStageCache = scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** q177 — schema-drift-tolerant CSV ingestion: two "deliveries" of the
    * same feed whose column sets differ (delivery 1 predates the
    * `o_orderstatus` column; delivery 2 carries it). The reference's whole
    * ingest leans on `inferSchema=True` per file
    * (linehaul_source_to_bronze.py:109-141) but then breaks when the
    * physical shape drifts — the exact failure mode the round-6 events
    * fixture change exposed. The robust recipe graded here:
    * schema-on-read per delivery (each file's own header + inference),
    * `unionByName(allowMissingColumns = true)` to align by NAME not
    * position (absent columns become nulls), then one explicit cast pass
    * to the silver contract types, so inference differences (INT vs
    * BIGINT) can never leak downstream. At 100 TB inference is one extra
    * scan per NEW delivery only — amortized by a schema registry; the
    * union/cast plan itself adds no shuffle (both stay narrow until the
    * final aggregate). */
  def q177SchemaDrift(s: SparkSession, d: String): DataFrame = {
    val (b1, b2) = driftStageCache.getOrElseUpdate(d, {
      val root = java.nio.file.Files.createTempDirectory("drift_stage")
      val o = Tables.orders(s, d)
      val p1 = root.resolve("delivery1").toString
      val p2 = root.resolve("delivery2").toString
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .coalesce(1).write.mode("overwrite").option("header", true).csv(p1)
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .coalesce(1).write.mode("overwrite").option("header", true).csv(p2)
      (p1, p2)
    })
    def delivery(path: String): DataFrame =
      s.read.option("header", true).option("inferSchema", true).csv(path)
    val unified = delivery(b1).unionByName(delivery(b2), allowMissingColumns = true)
      .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
        col("o_orderstatus").cast("string"), col("o_totalprice").cast("double"))
    unified
      .withColumn("o_orderstatus", coalesce(col("o_orderstatus"), lit("predrift")))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  val q177Sql: String =
    s"""SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'predrift' ELSE o_orderstatus END AS o_orderstatus,
       |  COUNT(*) AS n, ${Det.dsumSql("o_totalprice")} AS total
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** q221 — fixed-width ingestion through the custom DataSourceV2 reader
    * ([[graft.sources.FixedWidthSource]]), round-tripped and aggregated.
    *
    * The query formats lineitem rows as zero-padded fixed-width records
    * (the mainframe extract layout), writes them as text, reads them
    * back through the V2 connector — where the `flag = 'R'` and
    * `qty >= 25` predicates PUSH into the scan and the unused partkey
    * column's byte range is never parsed (SupportsPushDownFilters /
    * SupportsPushDownRequiredColumns, asserted in
    * FixedWidthSourceSpec) — and rolls up. The oracle recomputes the
    * same aggregate straight from lineitem (the q75 discipline: the
    * write→read round-trip must be value-transparent). Quantities are
    * integral doubles, so the long cast is exact on both engines. */
  def q221FixedWidth(s: SparkSession, d: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_fw_${math.abs(d.hashCode)}"
    Tables.lineitem(s, d).select(concat(
        lpad(col("l_orderkey").cast("string"), 12, "0"),
        lpad(col("l_partkey").cast("string"), 12, "0"),
        lpad(col("l_quantity").cast("long").cast("string"), 4, "0"),
        col("l_returnflag")).as("value"))
      .write.mode("overwrite").text(tmp)
    s.read.format("graft.sources.FixedWidthSource")
      .option("path", tmp)
      .option("fields", "l_orderkey:12:long,l_partkey:12:long,qty:4:long,flag:1:string")
      .load()
      .filter(col("flag") === "R" && col("qty") >= 25)
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("qty")).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("flag"))
  }

  val q221Sql: String =
    """SELECT l_returnflag AS flag,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      |FROM lineitem
      |WHERE l_returnflag = 'R' AND CAST(l_quantity AS BIGINT) >= 25
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, Q] = Map(
    "q221_fixed_width" -> q221FixedWidth _,
    "q177_schema_drift" -> q177SchemaDrift _,
    "q76_gold_mart" -> q76GoldMart _,
    "q77_partition_pruned" -> q77PartitionPruned _,
    "q78_bucketed_join" -> q78BucketedJoin _,
    "q80_dpp_join" -> q80DppJoin _,
    "q81_json_source" -> q81JsonSource _,
    "q75_medallion_e2e" -> q75MedallionE2e _,
    "q70_audit_enrich" -> q70AuditEnrich _,
    "q71_rename_bulk" -> q71RenameBulk _,
    "q72_cast_normalize" -> q72CastNormalize _,
    "q73_pk_dedup_config" -> q73PkDedupConfig _,
    "q74_upsert_merge" -> q74UpsertMerge _)

  val oracles: Map[String, String] = Map(
    "q221_fixed_width" -> q221Sql,
    "q177_schema_drift" -> q177Sql,
    "q70_audit_enrich" -> q70Sql,
    "q71_rename_bulk" -> q71Sql,
    "q72_cast_normalize" -> q72Sql,
    "q73_pk_dedup_config" -> q73Sql,
    "q74_upsert_merge" -> q74Sql,
    "q75_medallion_e2e" -> q75Sql,
    "q76_gold_mart" -> q76Sql,
    "q77_partition_pruned" -> q77Sql,
    "q78_bucketed_join" -> q78Sql,
    "q80_dpp_join" -> q80Sql,
    "q81_json_source" -> q81Sql)
}
