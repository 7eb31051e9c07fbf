package graft

import graft.ml.KMeansIvf
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KMeansSpec extends AnyFunSuite {
  import TestSpark._

  test("k-means: inertia is non-increasing and assignment partitions the data") {
    val e = Tables.embeddings(spark, sf)
    // inertia of the models after 1, 2 and 3 Lloyd iterations
    def inertiaByIters(): Seq[Double] = (1 to 3).map { iters =>
      val c = KMeansIvf.fit(e, "vec_id", "embedding", k = 4, iters = iters)
      KMeansIvf.assign(e, c, "vec_id", "embedding").agg(sum(col("dist_sq"))).head().getDouble(0)
    }
    val centroids = KMeansIvf.fit(e, "vec_id", "embedding", k = 4, iters = 3)
    val inertias = inertiaByIters()
    assert(centroids.count() == 4)
    assert(inertias.length == 3)
    assert(inertias.zip(inertias.tail).forall { case (a, b) => b <= a + 1e-6 },
      s"inertia not non-increasing: $inertias")
    val assigned = KMeansIvf.assign(e, centroids, "vec_id", "embedding")
    assert(assigned.count() == e.count())
    assert(assigned.select(countDistinct(col("cluster"))).head().getLong(0) <= 4)
    // refit with same inputs is bit-identical (deterministic training)
    val c2 = KMeansIvf.fit(e, "vec_id", "embedding", k = 4, iters = 3)
    val i2 = inertiaByIters()
    assert(i2 == inertias)
    val a = centroids.orderBy("cluster").collect().map(_.toString)
    val b = c2.orderBy("cluster").collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("q148 IVF assignment: one cell per vector, rounded model, distances finite") {
    val rows = graft.operators.VectorOps.q148IvfAssign(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.length == n) // exactly one cell per vector
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == n)
    val clusters = rows.map(_.getAs[Long]("cluster")).toSet
    assert(clusters.subsetOf((0L until 8L).toSet))
    assert(rows.forall(r => r.getAs[Double]("dist6") >= 0.0))
    spark.catalog.clearCache()
  }
}
