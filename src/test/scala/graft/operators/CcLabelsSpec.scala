package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused tests for the [[TextOps.ccLabels]] internals: convergence is
  * probed every 2nd round instead of every round, which may not change the
  * fixpoint, and a graph too wide for the round cap fails. A long path
  * graph needs one propagation round per hop (min-label travels one edge
  * per round), so diameter-7/8 paths exercise several probe-skipped rounds
  * and both convergence parities. */
class CcLabelsSpec extends AnyFunSuite {
  import TestSpark._

  private def labelsOf(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val df = pairs.toDF("da", "db")
    TextOps.ccLabels(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("path graph converging on an odd round gets min labels") {
    // path 1-2-3-...-8: diameter 7, every node must end at label 1
    val pairs = (1L to 7L).map(i => (i, i + 1))
    val got = labelsOf(pairs)
    assert(got == (1L to 8L).map(_ -> 1L).toMap)
  }

  test("path graph converging on an even round gets min labels") {
    val pairs = (1L to 8L).map(i => (i, i + 1)) // diameter 8
    val got = labelsOf(pairs)
    assert(got == (1L to 9L).map(_ -> 1L).toMap)
  }

  test("disjoint components keep distinct min labels") {
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L), (31L, 32L), (32L, 30L))
    val got = labelsOf(pairs)
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L, 32L -> 30L))
  }

  test("a 25-hop path throws at the 20-round cap") {
    // on a 26-node path the min label needs 25 rounds to reach the far
    // end; the cap binds at round 20 and must fail loudly, not return the
    // partial labeling
    val pairs = (1L to 25L).map(i => (i, i + 1))
    val err = intercept[IllegalStateException](labelsOf(pairs))
    assert(err.getMessage.contains("20 rounds"), err.getMessage)
  }
}
