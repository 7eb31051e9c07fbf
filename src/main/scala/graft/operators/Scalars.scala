package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Det._

/** Scalar-function surface (SURVEY.md §2.8): string, datetime, math, JSON,
  * conditional — plus the SQL front door (grouping sets, correlated
  * subqueries) via `spark.sql` over temp views.
  *
  * All functions here are builtin `org.apache.spark.sql.functions`
  * (whole-stage-codegen'd); integer-valued results are cast to long where
  * DuckDB widens to BIGINT so result schemas agree.
  */
object Scalars extends QueryModule {
  /** q19 — string functions over part. */
  def q19Strings(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("up_name"),
        lower(col("p_brand")).as("lo_brand"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_name"), 1, 8).as("name_pre"),
        regexp_replace(col("p_type"), "E", "3").as("leet_type"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
        reverse(col("p_name")).as("rev_name"),
        instr(col("p_name"), "a").cast("long").as("a_pos"))
      .orderBy(col("p_partkey"))

  val q19Sql: String =
    """SELECT p_partkey,
      |  UPPER(p_name) AS up_name, LOWER(p_brand) AS lo_brand,
      |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
      |  SUBSTR(p_name, 1, 8) AS name_pre,
      |  REGEXP_REPLACE(p_type, 'E', '3', 'g') AS leet_type,
      |  CONCAT_WS('-', p_brand, p_type) AS brand_type,
      |  LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
      |  REVERSE(p_name) AS rev_name,
      |  CAST(STRPOS(p_name, 'a') AS BIGINT) AS a_pos
      |FROM part ORDER BY p_partkey""".stripMargin

  /** q20 — datetime functions over orders. weekday is normalized to
    * 0=Monday (Spark `weekday` ≡ DuckDB `isodow - 1`). */
  def q20Datetime(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        weekday(col("o_orderdate")).cast("long").as("dow"),
        last_day(col("o_orderdate")).cast("timestamp").as("month_end"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        (col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("due_date"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since_epoch"))
      .orderBy(col("o_orderkey"))

  val q20Sql: String =
    """SELECT o_orderkey,
      |  YEAR(o_orderdate) AS yr, QUARTER(o_orderdate) AS qtr, MONTH(o_orderdate) AS mo,
      |  CAST(ISODOW(o_orderdate) - 1 AS BIGINT) AS dow,
      |  CAST(LAST_DAY(o_orderdate) AS TIMESTAMP) AS month_end,
      |  DATE_TRUNC('month', o_orderdate) AS month_start,
      |  o_orderdate + INTERVAL 90 DAY AS due_date,
      |  DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q21 — math functions over lineitem. Transcendentals are rounded to
    * 6 dp (libm last-ulp differences between JVM and DuckDB); sqrt is
    * IEEE-exact so left unrounded. */
  def q21Math(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * col("l_discount")).cast(Dec).cast("double").as("disc_amt"),
        ceil(col("l_extendedprice")).cast("double").as("price_ceil"),
        floor(col("l_extendedprice")).cast("double").as("price_floor"),
        sqrt(col("l_quantity")).as("qty_sqrt"),
        round(log(col("l_extendedprice")), 6).as("price_ln"),
        pow(col("l_quantity"), 2).as("qty_sq"),
        (col("l_linenumber") % 3).cast("long").as("ln_mod"),
        abs(col("l_discount") - lit(0.05)).as("disc_dev"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val q21Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)) AS DOUBLE) AS disc_amt,
      |  CAST(CEIL(l_extendedprice) AS DOUBLE) AS price_ceil,
      |  CAST(FLOOR(l_extendedprice) AS DOUBLE) AS price_floor,
      |  SQRT(l_quantity) AS qty_sqrt,
      |  ROUND(LN(l_extendedprice), 6) AS price_ln,
      |  POWER(l_quantity, 2) AS qty_sq,
      |  CAST(l_linenumber % 3 AS BIGINT) AS ln_mod,
      |  ABS(l_discount - 0.05) AS disc_dev
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q22 — JSON extraction from events.props, both via path extraction
    * (`get_json_object`) and schema-on-read (`from_json`). */
  def q22Json(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_path"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k_schema"))
      .orderBy(col("event_id"))

  val q22Sql: String =
    """SELECT event_id,
      |  CAST(props->>'k' AS BIGINT) AS k_path,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_schema
      |FROM events ORDER BY event_id""".stripMargin

  /** q202 — the Spark 4 VARIANT path for semi-structured data: props
    * parsed ONCE into the binary variant encoding (`parse_json`), fields
    * then extracted with `variant_get` — the open-schema alternative to
    * q22's per-path string re-parsing (each `get_json_object` re-parses
    * the JSON text; a variant parses once and every extraction is a
    * binary traversal, the difference between O(paths) and O(1) parses
    * per row at 100 TB). `try_variant_get` covers the missing-path null
    * path. Aggregated per event type so the variant column itself never
    * reaches the output (variant isn't comparable parquet output;
    * extracted scalars are). */
  def q202Variant(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"),
        expr("try_variant_get(parse_json(props), '$.missing', 'bigint')").as("m"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        count(col("m")).as("n_missing_hits"))
      .orderBy(col("event_type"))

  val q202Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
      |  min(CAST(props->>'k' AS BIGINT)) AS k_min,
      |  max(CAST(props->>'k' AS BIGINT)) AS k_max,
      |  count(CAST(props->>'missing' AS BIGINT)) AS n_missing_hits
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q121 — malformed-tolerant JSON ingestion: a deterministic slice of
    * the input is corrupted (every 7th record loses its last two chars —
    * standing in for the truncated/garbled lines every real feed
    * contains), then parsed with the full PERMISSIVE pattern:
    * `from_json` with `columnNameOfCorruptRecord`, so bad records land in
    * `_corrupt_record` instead of killing the batch OR being silently
    * conflated with valid-but-field-missing rows. Per event type: row,
    * corrupt and parsed counts plus the field sum over parsed rows — the
    * ingestion error-rate report.
    *
    * Scale shape: one projection + one bounded agg; parse failures cost
    * nothing extra (no exception path — codegen'd parser returns the
    * corrupt column). */
  def q121TolerantParse(s: SparkSession, d: String): DataFrame = {
    val mangled = when(col("event_id") % 7 === 0,
      expr("substring(props, 1, length(props) - 2)")).otherwise(col("props"))
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("k BIGINT, _corrupt_record STRING")
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"), mangled.as("raw"))
      .withColumn("parsed", from_json(col("raw"), schema,
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
      .withColumn("corrupt",
        col("parsed").getField("_corrupt_record").isNotNull.cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("corrupt")).as("n_corrupt"),
        (count(lit(1)) - sum(col("corrupt"))).as("n_parsed"),
        sum(when(col("corrupt") === 0, col("parsed").getField("k"))
          .otherwise(lit(0L))).as("sum_k"))
      .orderBy(col("event_type"))
  }

  val q121Sql: String =
    """WITH m AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 7 = 0
      |         THEN substring(props, 1, length(props) - 2) ELSE props END AS raw
      |  FROM events),
      |p AS (
      |  SELECT event_type,
      |    CASE WHEN json_valid(raw) THEN 0 ELSE 1 END AS corrupt,
      |    CASE WHEN json_valid(raw)
      |         THEN CAST(json_extract_string(raw, '$.k') AS BIGINT) ELSE 0 END AS k
      |  FROM m)
      |SELECT event_type, COUNT(*) AS n_rows,
      |  CAST(SUM(corrupt) AS BIGINT) AS n_corrupt,
      |  CAST(COUNT(*) - SUM(corrupt) AS BIGINT) AS n_parsed,
      |  CAST(SUM(k) AS BIGINT) AS sum_k
      |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q23 — conditional expressions: CASE bucketing + conditional agg. */
  def q23CaseWhen(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("bucket",
        when(col("o_totalprice") < 100000.0, lit("small"))
          .when(col("o_totalprice") < 300000.0, lit("mid"))
          .otherwise(lit("big")))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        dsum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(lit(0.0))).as("finished_value"))
      .orderBy(col("bucket"))

  val q23Sql: String =
    s"""SELECT CASE WHEN o_totalprice < 100000.0 THEN 'small'
       |            WHEN o_totalprice < 300000.0 THEN 'mid'
       |            ELSE 'big' END AS bucket,
       |  COUNT(*) AS n,
       |  ${dsumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END")} AS finished_value
       |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  /** q24 — GROUPING SETS through the SQL front door. */
  def q24GroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
         |  COUNT(*) AS n, ${dsumSql("l_extendedprice")} AS sum_price
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY rf, ls""".stripMargin)
  }

  val q24Sql: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
       |  COUNT(*) AS n, ${dsumSql("l_extendedprice")} AS sum_price
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
       |ORDER BY rf, ls""".stripMargin

  /** q25 — correlated scalar subquery (Catalyst decorrelates to a join):
    * customers above their nation's average balance. The inner avg uses
    * the exact-decimal form so both engines compute the same threshold. */
  def q25CorrelatedSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(q25Sql)
  }

  val q25Sql: String =
    """SELECT c_custkey, c_nationkey, c_acctbal
      |FROM customer c
      |WHERE c_acctbal > (
      |  SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
      |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  /** q51 — null-handling semantics: null-safe equality, NULLIF, NVL/
    * COALESCE, null-aware counts. The left-joined order rows supply real
    * nulls. */
  def q51NullSemantics(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
      .select(col("o_custkey"), col("o_orderstatus"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .select(
        col("c_custkey"),
        col("o_orderstatus").eqNullSafe(lit("F")).as("is_f_nullsafe"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_nullif"),
        nvl(col("o_orderstatus"), lit("NONE")).as("status_nvl"),
        col("o_orderstatus").isNull.as("no_big_order"))
      .orderBy(col("c_custkey"), col("status_nvl"))
  }

  val q51Sql: String =
    """SELECT c_custkey,
      |  o_orderstatus IS NOT DISTINCT FROM 'F' AS is_f_nullsafe,
      |  NULLIF(c_mktsegment, 'BUILDING') AS seg_nullif,
      |  COALESCE(o_orderstatus, 'NONE') AS status_nvl,
      |  o_orderstatus IS NULL AS no_big_order
      |FROM customer c LEFT JOIN (SELECT o_custkey, o_orderstatus FROM orders
      |                           WHERE o_totalprice > 400000.0) o
      |  ON c.c_custkey = o.o_custkey
      |ORDER BY c_custkey, status_nvl""".stripMargin

  /** q52 — regex extraction: capture groups + match counting over part
    * descriptors (both engines are PCRE-compatible for this subset). */
  def q52RegexExtract(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).as("brand_num"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        regexp_count(col("p_name"), lit("[aeiou]")).cast("long").as("n_vowels"))
      .orderBy(col("p_partkey"))

  val q52Sql: String =
    """SELECT p_partkey,
      |  regexp_extract(p_brand, 'Brand#(\d+)', 1) AS brand_num,
      |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
      |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT) AS n_vowels
      |FROM part ORDER BY p_partkey""".stripMargin

  /** q69 — interval RANGE frame: 30-day trailing spend per customer (frame
    * bounded by time value, not row count — rows at equal distance enter
    * together, unlike q18's ROWS frame). Ordered on epoch seconds because
    * range frames need numeric order columns. */
  def q69RangeFrame(s: SparkSession, d: String): DataFrame = {
    val secs = 30L * 86400
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("t"))
      .rangeBetween(-secs, 0)
    Tables.orders(s, d)
      .withColumn("t", unix_micros(col("o_orderdate").cast("timestamp")) / 1000000L)
      .withColumn("trailing_30d_spend",
        sum(col("o_totalprice").cast(Det.Dec)).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("trailing_30d_spend"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  val q69Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
      |    PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate) // 1000000
      |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d_spend
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** q84 — unpivot/melt (the inverse of q27's pivot): three lineitem
    * measures fold into (measure, value) rows via `Dataset.unpivot`.
    * Narrow transform — no shuffle, output exactly 3× input, codegen'd
    * Expand underneath — so it scales as a map-only pass. */
  def q84Unpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))

  val q84Sql: String =
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin

  /** q85 — statistical aggregates (mean / sample stddev / correlation)
    * computed from exact decimal MOMENTS instead of the built-in
    * `stddev_samp`/`corr`: the builtins merge per-partition running
    * moments, so their low-order bits depend on partition order and can
    * never hash-match a single-threaded oracle. Summing x, y, x², y², xy
    * as order-independent decimals and applying the closed formulas once
    * per group is deterministic on both engines — and is also the right
    * 100 TB shape: five map-side-combinable sums, one tiny final
    * projection. Every intermediate is cast to double before arithmetic
    * so both engines execute the identical IEEE expression tree. */
  def q85StatsMoments(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity"); val y = col("l_extendedprice")
    Tables.lineitem(s, d)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).cast("double").as("n"),
        dsum(x).as("sx"), dsum(y).as("sy"),
        dsum(x * x).as("sxx"), dsum(y * y).as("syy"), dsum(x * y).as("sxy"))
      .select(col("l_linestatus"),
        col("n").cast("long").as("n_rows"),
        (col("sx") / col("n")).as("mean_qty"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
          .as("std_qty"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
          .as("corr_qty_price"))
      .orderBy(col("l_linestatus"))
  }

  val q85Sql: String =
    s"""WITH m AS (
       |  SELECT l_linestatus, CAST(COUNT(*) AS DOUBLE) AS n,
       |    ${dsumSql("l_quantity")} AS sx,
       |    ${dsumSql("l_extendedprice")} AS sy,
       |    ${dsumSql("l_quantity*l_quantity")} AS sxx,
       |    ${dsumSql("l_extendedprice*l_extendedprice")} AS syy,
       |    ${dsumSql("l_quantity*l_extendedprice")} AS sxy
       |  FROM lineitem GROUP BY 1)
       |SELECT l_linestatus, CAST(n AS BIGINT) AS n_rows,
       |  sx/n AS mean_qty,
       |  sqrt((sxx - sx*sx/n)/(n-1)) AS std_qty,
       |  (n*sxy - sx*sy)/(sqrt(n*sxx - sx*sx)*sqrt(n*syy - sy*sy)) AS corr_qty_price
       |FROM m ORDER BY l_linestatus""".stripMargin

  /** q136 — map-typed columns: JSON parsed into `map<string,bigint>`
    * (schema-free key space — the shape for sparse/ragged properties
    * where a struct would need every key declared), then map_concat to
    * derive an entry, transform_values over the whole map, and an
    * explode to (key, value) rows for a per-key rollup. All map ops are
    * codegen'd row-local transforms — the only shuffle is the final
    * |keys|-sized agg.
    */
  def q136MapOps(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("m", from_json(col("props"), "map<string,bigint>",
        Map.empty[String, String]))
      .withColumn("m2", map_concat(col("m"),
        map(lit("k2"), expr("element_at(m, 'k') * 2"))))
      .withColumn("m3", expr("transform_values(m2, (k, v) -> v * 2)"))
      .select(col("event_id"), explode(col("m3")).as(Seq("key", "val")))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("val")).as("total"))
      .orderBy(col("key"))

  val q136Sql: String =
    """WITH kv AS (
      |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
      |SELECT * FROM (
      |  SELECT 'k' AS key, COUNT(*) AS n, CAST(SUM(k * 2) AS BIGINT) AS total FROM kv
      |  UNION ALL
      |  SELECT 'k2', COUNT(*), CAST(SUM(k * 4) AS BIGINT) FROM kv)
      |ORDER BY key""".stripMargin

  /** q140 — try_* error-tolerant scalar semantics: `try_cast` on a
    * column that only sometimes parses (the digit prefix of
    * o_orderpriority parses; the full string never does) and
    * `try_divide` with a sometimes-zero denominator — failures become
    * NULL in-row instead of aborting the job, the scalar counterpart of
    * q121's corrupt-record JSON path. Per priority: parse successes,
    * failures, and the null-safe aggregate over the partial results.
    */
  def q140TrySemantics(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("prefix_num", expr("try_cast(substring(o_orderpriority, 1, 1) AS BIGINT)"))
      .withColumn("full_num", expr("try_cast(o_orderpriority AS BIGint)"))
      .withColumn("ratio", expr("try_divide(o_totalprice, o_orderkey % 3)"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        count(col("prefix_num")).as("n_prefix_ok"),
        count(col("full_num")).as("n_full_ok"),
        sum(when(col("ratio").isNull, 1L).otherwise(0L)).as("n_div_null"),
        sum(col("prefix_num")).as("sum_prefix"))
      .orderBy(col("o_orderpriority"))

  val q140Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  COUNT(TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT)) AS n_prefix_ok,
      |  COUNT(TRY_CAST(o_orderpriority AS BIGINT)) AS n_full_ok,
      |  CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null,
      |  CAST(SUM(TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT)) AS BIGINT) AS sum_prefix
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val queries: Map[String, Q] = Map(
    "q140_try_semantics" -> q140TrySemantics _,
    "q136_map_ops" -> q136MapOps _,
    "q121_tolerant_parse" -> q121TolerantParse _,
    "q84_unpivot" -> q84Unpivot _,
    "q85_stats_moments" -> q85StatsMoments _,
    "q51_null_semantics" -> q51NullSemantics _,
    "q52_regex_extract" -> q52RegexExtract _,
    "q69_range_frame" -> q69RangeFrame _,
    "q19_scalar_string" -> q19Strings _,
    "q20_scalar_datetime" -> q20Datetime _,
    "q21_scalar_math" -> q21Math _,
    "q22_json_extract" -> q22Json _,
    "q202_variant" -> q202Variant _,
    "q23_case_when" -> q23CaseWhen _,
    "q24_grouping_sets" -> q24GroupingSets _,
    "q25_correlated_subquery" -> q25CorrelatedSubquery _)

  val oracles: Map[String, String] = Map(
    "q140_try_semantics" -> q140Sql,
    "q136_map_ops" -> q136Sql,
    "q121_tolerant_parse" -> q121Sql,
    "q84_unpivot" -> q84Sql,
    "q85_stats_moments" -> q85Sql,
    "q51_null_semantics" -> q51Sql,
    "q52_regex_extract" -> q52Sql,
    "q69_range_frame" -> q69Sql,
    "q19_scalar_string" -> q19Sql,
    "q20_scalar_datetime" -> q20Sql,
    "q21_scalar_math" -> q21Sql,
    "q22_json_extract" -> q22Sql,
    "q202_variant" -> q202Sql,
    "q23_case_when" -> q23Sql,
    "q24_grouping_sets" -> q24Sql,
    "q25_correlated_subquery" -> q25Sql)
}
