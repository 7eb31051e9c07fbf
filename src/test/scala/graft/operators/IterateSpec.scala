package graft.operators

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Iterate]]'s round accounting: how many steps run, which rounds are
  * probed, and what happens at the cap. The state is one row `x`. */
class IterateSpec extends AnyFunSuite {
  import TestSpark._

  private def x0: DataFrame = spark.range(1).select(lit(0L).as("x"))
  private def xOf(df: DataFrame): Long = df.head().getLong(0)

  /** A step that counts its calls and moves `x` one up, to at most `top`. */
  private final class Counting(top: Long) {
    var steps = 0
    var probedAt = Vector.empty[Int]
    def step(df: DataFrame): DataFrame = {
      steps += 1
      df.select(least(col("x") + 1, lit(top)).as("x"))
    }
    def stable(prev: DataFrame, next: DataFrame): Boolean = {
      probedAt :+= steps
      xOf(prev) == xOf(next)
    }
  }

  test("fixed runs exactly n steps and truncates the lineage") {
    val c = new Counting(top = 100)
    val out = Iterate.fixed(3, x0)(c.step)
    assert(c.steps == 3)
    assert(xOf(out) == 3)
    assert(out.queryExecution.logical.isInstanceOf[LogicalRDD])
  }

  test("untilFixpoint stops at the first stable probe") {
    // x reaches 5 in round 5; round 6 is the first that leaves it unchanged
    val c = new Counting(top = 5)
    val out = Iterate.untilFixpoint(cap = 30, probeEvery = 1, x0)(c.step)(c.stable)
    assert(xOf(out) == 5)
    assert(c.steps == 6)
    assert(c.probedAt == (1 to 6))
  }

  test("untilFixpoint with probeEvery = 2 probes only even rounds") {
    // x reaches 3 in round 3, round 4 leaves it unchanged and is probed
    val c = new Counting(top = 3)
    val out = Iterate.untilFixpoint(cap = 20, probeEvery = 2, x0)(c.step)(c.stable)
    assert(xOf(out) == 3)
    assert(c.steps == 4)
    assert(c.probedAt == Seq(2, 4))
  }

  test("untilFixpoint probes at an odd cap and throws when the state still changes") {
    val c = new Counting(top = 100)
    val err = intercept[IllegalStateException] {
      Iterate.untilFixpoint(cap = 7, probeEvery = 2, x0)(c.step)(c.stable)
    }
    assert(c.steps == 7)
    assert(c.probedAt == Seq(2, 4, 6, 7))
    assert(err.getMessage.contains("7 rounds"), err.getMessage)
  }

  test("untilFixpoint accepts a fixpoint first seen at the cap") {
    // x reaches 4 in round 4; round 5 is the cap and leaves it unchanged
    val c = new Counting(top = 4)
    val out = Iterate.untilFixpoint(cap = 5, probeEvery = 1, x0)(c.step)(c.stable)
    assert(xOf(out) == 4)
    assert(c.steps == 5)
  }
}
