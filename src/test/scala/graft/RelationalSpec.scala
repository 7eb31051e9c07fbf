package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session), built by
  * the same factory as the graded mains. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `f` with RewriteDotProduct switched off, so higher-order-function
    * folds stay interpreted: the portable side of a portable-vs-native
    * comparison. Collect inside `f`; a plan optimized later sees the rule. */
  def portable[T](f: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, graft.plans.RewriteDotProduct.ruleName)
    try f finally spark.conf.unset(key)
  }

  /** Whether `df`'s optimized plan holds a native vector fold. */
  def hasNativeFold(df: org.apache.spark.sql.DataFrame): Boolean = {
    import graft.functions.{DistSqA, DotA, DotProductF}
    df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists {
      case _: DotProductF | _: DotA | _: DistSqA => true
      case _ => false
    }))
  }
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has runnable plan and every oracle key exists in queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("q01 groups to the 6 TPC-H flag/status combos with positive counts") {
    val rows = operators.Relational.q01AggFilter(spark, sf).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("count_order") > 0))
    val keys = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(keys.size == rows.length) // grouping keys unique
  }

  test("q03 broadcast join covers every brand present in lineitem") {
    val n = operators.Relational.q03JoinBroadcast(spark, sf).count()
    assert(n > 0 && n <= 25)
  }

  test("q06 semi-join returns subset of customers") {
    val semi = operators.Relational.q06JoinSemi(spark, sf).count()
    val all = Tables.customer(spark, sf).count()
    assert(semi <= all)
  }

  test("q07 anti-join + join partition customer-facing parts") {
    import org.apache.spark.sql.functions._
    val p = Tables.part(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val anti = operators.Relational.q07JoinAnti(spark, sf).count()
    val joined = p.join(li, p("p_partkey") === li("l_partkey"), "left_semi").count()
    assert(anti + joined == p.count())
  }

  test("q10 rollup has grand total row equal to table count") {
    import org.apache.spark.sql.functions._
    val df = operators.Relational.q10Rollup(spark, sf)
    val total = df.filter(col("rf") === "ALL" && col("ls") === "ALL")
      .collect().head.getAs[Long]("n")
    assert(total == Tables.lineitem(spark, sf).count())
  }

  test("q12 top-k is sorted descending and bounded") {
    val rows = operators.Relational.q12TopK(spark, sf).collect()
    assert(rows.length == 100)
    val prices = rows.map(_.getAs[Double]("l_extendedprice"))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }
}
