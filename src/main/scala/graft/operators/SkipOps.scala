package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Layout payoff and ingest integrity: file-skipping effectiveness of
  * the three clustering keys, and the tokenizer round-trip audit.
  */
object SkipOps extends QueryModule {
  /** Files per layout in q268 (key >> shift ⇒ 16 files). */
  val SkipFiles = 16
  /** Probe points (x, y) — deterministic literals spread over the grid. */
  val Probes: Seq[(Int, Int, Int)] =
    (0 until 8).map(i => (i, (i * 31) % 256, (i * 67) % 256))

  /** q268 — file-skipping effectiveness: the same orders rows laid out
    * three ways (linear by customer, Morton, Hilbert) into 16 "files"
    * each; per probe, how many files' min/max boxes a point lookup, an
    * x-band scan, and a y-band scan must open. This is the payoff table
    * for q119/q232/q244 — the reason layout keys exist is the file-level
    * skipping statistics they produce, and the three query shapes show
    * the trade: linear is unbeatable on its own dimension and worthless
    * on the other; the space-filling curves pay one extra file on points
    * to bound BOTH bands. Boxes are a 3×16-row aggregate; probes are a
    * broadcast literal table; everything after the scan is constant-size.
    */
  def q268SkipStats(s: SparkSession, d: String): DataFrame = {
    val n = 1 << ScaleOps.ZBits
    val x = pmod(col("o_custkey"), lit(n))
    val y = pmod(month(col("o_orderdate")) - 1 + (year(col("o_orderdate")) - 1995) * 12,
      lit(n))
    graft.functions.LayoutExpressions.register(s, ScaleOps.ZBits)
    val keyed = Tables.orders(s, d)
      .select(x.cast("long").as("xb"), y.cast("long").as("yb"))
      .withColumn("z", ScaleOps.mortonZ(col("xb"), col("yb")))
      .withColumn("h", graft.functions.LayoutExpressions.hilbertF("xb", "yb"))
    val boxes = keyed.select(
        explode(array(
          struct(lit("linear").as("layout"), shiftright(col("xb"), 4).as("file"),
            col("xb"), col("yb")),
          struct(lit("morton").as("layout"), shiftright(col("z"), 12).as("file"),
            col("xb"), col("yb")),
          struct(lit("hilbert").as("layout"), shiftright(col("h"), 12).as("file"),
            col("xb"), col("yb")))).as("e"))
      .select(col("e.layout").as("layout"), col("e.file").as("file"),
        col("e.xb").as("xb"), col("e.yb").as("yb"))
      .groupBy(col("layout"), col("file"))
      .agg(min(col("xb")).as("min_x"), max(col("xb")).as("max_x"),
        min(col("yb")).as("min_y"), max(col("yb")).as("max_y"))
    val probes = s.createDataFrame(Probes).toDF("probe", "px", "py")
    boxes.crossJoin(broadcast(probes))
      .groupBy(col("layout"), col("probe"))
      .agg(
        sum((col("px") >= col("min_x") && col("px") <= col("max_x") &&
          col("py") >= col("min_y") && col("py") <= col("max_y")).cast("long"))
          .as("files_point"),
        sum((col("px") >= col("min_x") && col("px") <= col("max_x")).cast("long"))
          .as("files_xband"),
        sum((col("py") >= col("min_y") && col("py") <= col("max_y")).cast("long"))
          .as("files_yband"))
      .orderBy(col("layout"), col("probe"))
  }

  val q268Sql: String = {
    val zb = ScaleOps.ZBits
    val n = 1 << zb
    val xs = s"(((o_custkey % $n) + $n) % $n)"
    val ys = s"((((MONTH(o_orderdate) - 1 + (YEAR(o_orderdate) - 1995) * 12) % $n) + $n) % $n)"
    val z = (0 until zb).map { b =>
      s"(((($xs >> $b) & 1) << ${2 * b}) + ((($ys >> $b) & 1) << ${2 * b + 1}))"
    }.mkString(" + ")
    val step = InfraOps.hilbertStepSql(n)
    val bitsDesc = (zb - 1) to 0 by -1
    val probeRows = Probes.map { case (i, px, py) => s"($i, $px, $py)" }.mkString(", ")
    s"""WITH m AS (
       |  SELECT CAST($xs AS BIGINT) AS xb, CAST($ys AS BIGINT) AS yb,
       |    CAST($z AS BIGINT) AS z,
       |    list_reduce(
       |      list_concat([CAST($xs * 1024 + $ys AS BIGINT)],
       |                  [${bitsDesc.map(b => s"CAST($b AS BIGINT)").mkString(", ")}]),
       |      (acc, b) -> $step
       |    ) // 1048576 AS h
       |  FROM orders),
       |keyed AS (
       |  SELECT 'linear' AS layout, xb >> 4 AS f, xb, yb FROM m
       |  UNION ALL SELECT 'morton', z >> 12, xb, yb FROM m
       |  UNION ALL SELECT 'hilbert', h >> 12, xb, yb FROM m),
       |boxes AS (
       |  SELECT layout, f, MIN(xb) AS min_x, MAX(xb) AS max_x,
       |         MIN(yb) AS min_y, MAX(yb) AS max_y
       |  FROM keyed GROUP BY layout, f),
       |probes(probe, px, py) AS (VALUES $probeRows)
       |SELECT layout, probe,
       |  CAST(SUM(CASE WHEN px >= min_x AND px <= max_x
       |                 AND py >= min_y AND py <= max_y THEN 1 ELSE 0 END) AS BIGINT)
       |    AS files_point,
       |  CAST(SUM(CASE WHEN px >= min_x AND px <= max_x THEN 1 ELSE 0 END) AS BIGINT)
       |    AS files_xband,
       |  CAST(SUM(CASE WHEN py >= min_y AND py <= max_y THEN 1 ELSE 0 END) AS BIGINT)
       |    AS files_yband
       |FROM boxes CROSS JOIN probes
       |GROUP BY layout, probe ORDER BY layout, probe""".stripMargin
  }

  /** q269 — tokenizer round-trip audit: does
    * `detokenize(tokenize(text))` reproduce the input byte-for-byte, and
    * does the stored `n_chars` metadata match the actual text length?
    * The ingest-integrity gate in front of every annotation pipeline
    * (q197's offsets are meaningless if the round-trip drifts). Pure
    * row-local projections + one bounded per-source rollup.
    */
  def q269RoundTrip(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("source"),
        (array_join(tokens(col("text")), " ") === col("text")).cast("long").as("rt_ok"),
        (length(col("text")) === col("n_chars")).cast("long").as("meta_ok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("rt_ok")).as("n_roundtrip_ok"),
        sum(col("meta_ok")).as("n_meta_ok"))
      .withColumn("rt_rate_micro",
        floor(col("n_roundtrip_ok").cast("double") / col("n_docs").cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long"))
      .orderBy(col("source"))
  }

  val q269Sql: String =
    s"""SELECT source,
       |       CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(CASE WHEN list_aggregate(${tokensSql("text")}, 'string_agg', ' ')
       |                      = text THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok,
       |       CAST(SUM(CASE WHEN len(text) = n_chars THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_meta_ok,
       |       CAST(FLOOR(CAST(SUM(CASE WHEN list_aggregate(${tokensSql("text")},
       |                'string_agg', ' ') = text THEN 1 ELSE 0 END) AS DOUBLE)
       |              / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
       |         AS rt_rate_micro
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "q268_skip_stats" -> q268SkipStats _,
    "q269_roundtrip" -> q269RoundTrip _)

  val oracles: Map[String, String] = Map(
    "q268_skip_stats" -> q268Sql,
    "q269_roundtrip" -> q269Sql)
}
