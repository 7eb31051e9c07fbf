package graft

import graft.functions.Portable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The RewriteDotProduct optimizer rule: HOF dot products written against
  * the portable API must execute as the codegen DotProductF expression —
  * with identical results. The shared test session installs the rule
  * through `spark.sql.extensions=graft.plans.GraftExtensions`, as the
  * graded mains do; the HOF baseline runs with the rule excluded
  * ([[TestSpark.portable]]). */
class RewriteRuleSpec extends AnyFunSuite {
  import TestSpark._

  /** Collects `mk()` ordered by vec_id with the rule off, after checking
    * that its plan really kept the HOF fold. */
  private def hofSide(mk: () => org.apache.spark.sql.DataFrame) = portable {
    val df = mk()
    assert(!hasNativeFold(df), s"HOF baseline was rewritten:\n${df.queryExecution.optimizedPlan}")
    df.orderBy(col("vec_id")).collect().map(_.getDouble(1))
  }

  test("portable HOF dot product is rewritten to DotProductF and results match") {
    val mk = () => Tables.embeddings(spark, sf)
      .select(col("vec_id"), Portable.dot(col("embedding"), col("embedding")).as("d2"))
    val hof = hofSide(mk)
    val df = mk()
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.toLowerCase.contains("dotproductf"),
      s"expected DotProductF in optimized plan:\n$optimized")
    val nat = df.orderBy(col("vec_id")).collect()
    assert(hof.sameElements(nat.map(_.getDouble(1))))
  }

  test("mixed float/double dot and distSq HOF folds rewrite to DotA / DistSqA") {
    val mkDot = () => Tables.embeddings(spark, sf)
      .withColumn("ed", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .select(col("vec_id"), Portable.dot(col("embedding"), col("ed")).as("d"))
    val mkDist = () => Tables.embeddings(spark, sf)
      .withColumn("ed", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .select(col("vec_id"), expr(
        "aggregate(zip_with(embedding, ed, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), 0D, (a, v) -> a + v)").as("d"))
    val hofDot = hofSide(mkDot)
    val hofDist = hofSide(mkDist)
    val dDot = mkDot()
    val dDist = mkDist()
    assert(dDot.queryExecution.optimizedPlan.toString.toLowerCase.contains("dota"))
    assert(dDist.queryExecution.optimizedPlan.toString.toLowerCase.contains("distsqa"))
    assert(dDot.orderBy(col("vec_id")).collect().map(_.getDouble(1)).sameElements(hofDot))
    assert(dDist.orderBy(col("vec_id")).collect().map(_.getDouble(1)).sameElements(hofDist))
  }

  test("non-matching aggregate shapes are left untouched") {
    import spark.implicits._
    val df = Seq(Seq(1, 2, 3)).toDF("xs")
      .select(expr("aggregate(xs, 0, (a, x) -> a + x)").as("s"))
    assert(!hasNativeFold(df))
    assert(df.head().getInt(0) == 6)
  }

  test("GraftExtensions is loadable by class name (the spark.sql.extensions path)") {
    val cls = Class.forName("graft.plans.GraftExtensions")
    assert(classOf[Function1[_, _]].isAssignableFrom(cls))
  }
}

/** Review-fix regressions: DotProductF must reproduce the HOF form's NULL
  * semantics so the rewrite is semantics-preserving. */
class DotProductNullSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.functions._

  test("ragged or null-element arrays yield NULL, matching aggregate(zip_with(...))") {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val df = Seq(
      (Array(1f, 2f), Array(1f, 2f)),        // ok -> 5.0
      (Array(1f, 2f, 3f), Array(1f, 2f))     // ragged -> null
    ).toDF("a", "b")
    val native = df.select(expr("dot_f(a, b)")).collect().map(r => Option(r.get(0)))
    val hof = portable(df.select(graft.functions.Portable.dot(col("a"), col("b"))).collect())
      .map(r => Option(r.get(0)))
    assert(native.sameElements(hof))
    assert(native(0).contains(5.0) && native(1).isEmpty)
  }
}

/** dedupByPk must be content-deterministic even when the version column
  * ties (the in-batch case where updated_on is one audit constant). */
class DedupTieSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._

  test("version ties resolve by remaining-column order, not partition order") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(("K", 1, "a", 10.0), ("K", 1, "b", 5.0), ("K", 1, "a", 7.0))
    val expected = graft.pipeline.Medallion.dedupByPk(
      rows.toDF("pk", "v", "tag", "amt"),
      graft.pipeline.TableConfig("t", Seq("pk"), Seq("v"))).collect().head
    // survivor = max by (tag desc, amt desc among remaining cols sorted by name: amt, tag)
    (1 to 3).foreach { _ =>
      val shuffled = scala.util.Random.shuffle(rows)
      val got = graft.pipeline.Medallion.dedupByPk(
        shuffled.toDF("pk", "v", "tag", "amt").repartition(3),
        graft.pipeline.TableConfig("t", Seq("pk"), Seq("v"))).collect().head
      assert(got == expected)
    }
  }
}
