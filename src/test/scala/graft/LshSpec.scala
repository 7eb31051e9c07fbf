package graft

import graft.functions.Portable.{shingleHashes, tokenHashes, tokens}
import graft.operators.Lsh
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/** The building blocks of the shared LSH pipeline ([[graft.operators.Lsh]]). */
class LshSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("the batch shingle set equals the row-local set for every document") {
    val docs = Tables.documents(spark, sf)
    val batch = sets(Lsh.shingles(Lsh.tokenHashes(docs))
      .groupBy(col("doc_id")).agg(sort_array(collect_list(col("sh")))))
    val rowLocal = sets(docs.select(col("doc_id"),
        sort_array(shingleHashes(tokenHashes(tokens(col("text"))))).as("s"))
      .filter(size(col("s")) > 0))
    assert(batch.nonEmpty && batch == rowLocal)
  }

  test("a document with fewer than 3 tokens has no shingle rows") {
    val docs = Seq((1L, ""), (2L, "one"), (3L, "one  two"), (4L, "one two three"))
      .toDF("doc_id", "text")
    val sh = Lsh.shingles(Lsh.tokenHashes(docs)).collect()
    assert(sh.map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("each signed document yields 4 band keys, band b carrying (sig2b, sig2b+1)") {
    val sig = Lsh.signatures(Lsh.shingles(Lsh.tokenHashes(Tables.documents(spark, sf))))
    val bands = sig.select(col("doc_id") +: (0 until 8).map(i => col(s"sig$i")) :+ Lsh.bandKey: _*)
    assert(bands.select(col("bk.band")).schema.head.dataType == IntegerType)
    val rows = bands.select(col("doc_id"), col("bk.band"), col("bk.v0"), col("bk.v1"),
        array((0 until 8).map(i => col(s"sig$i")): _*)).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.size == sig.count())
    byDoc.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (0 until 4))
      rs.foreach { r =>
        val (b, s) = (r.getInt(1), r.getSeq[Long](4))
        assert(r.getLong(2) == s(2 * b) && r.getLong(3) == s(2 * b + 1))
      }
    }
  }

  test("withJaccard: 1.0 for identical sets, 0.5 for {1,2,3} vs {2,3,4}") {
    val df = Seq((1, Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)), (2, Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)))
      .toDF("id", "sa", "sb")
    val jac = Lsh.withJaccard(df).orderBy(col("id")).select(col("jac")).as[Double].collect()
    assert(jac.toSeq == Seq(1.0, 0.5))
  }
}
