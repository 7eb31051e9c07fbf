package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full graded operator surface; every key that also
  * appears in `oracleSql` is hash-checked against DuckDB running the same
  * ANSI SQL over the same parquet at sf0.01.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01AggFilter(spark, "/root/testdata/sf0.001")

  /** Every query module, each listed once. No two may define the same
    * query or oracle key (HarnessSpec checks it). */
  val modules: Seq[QueryModule] = Seq(
    Relational, Windows, Scalars, Advanced, TextOps, VectorOps, EventTime,
    PipelineQueries, MultimodalQueries, ScaleOps, ScaleOps2, Joins2, Tpch2,
    Tpch3, Tpch4, Curation, CorpusOps, PqOps, HistoryOps, Behavior,
    Profiling, Linkage, GraphOps, Recsys, Retrieval, Layout, SyncOps,
    MaintOps, FeatureOps, QualityOps, MlOps, InfraOps, RankOps, NoveltyOps,
    ChunkOps, WeightOps, AnnAudit, SplitOps, MartOps, EvalOps, MonitorOps,
    DedupQa, RetrievalQa, CurveOps, SkipOps, EmbedQa, SurvivalOps, GiniOps,
    Round8Ops, Round9Ops, GovernanceOps, BudgetOps, Round10Ops, Round11Ops,
    Round12Ops, Round13Ops, Round14Ops, Round15Ops)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = modules.flatMap(_.oracles).toMap
}
