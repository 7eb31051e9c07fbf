package graft

import graft.pipeline.{Medallion, RenameMaps, TableConfig}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY.md §5.3) using raw ScalaCheck
  * generators sampled over fixed seeds (the scalatest bridge isn't in the
  * offline cache): PK-dedup laws, rename bijection, portable-hash
  * stability. */
class PropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val rowGen: Gen[List[(String, Int, Double)]] =
    Gen.listOfN(60, for {
      key <- Gen.choose(0, 8)
      version <- Gen.choose(0, 1000)
      payload <- Gen.choose(-1e6, 1e6)
    } yield (s"K$key", version, payload))

  test("dedupByPk: unique keys out, each kept row carries its key's max version") {
    samples(rowGen, 6).filter(_.nonEmpty).foreach { rows =>
      val df = rows.toDF("pk", "version", "payload")
      val out = Medallion.dedupByPk(df,
        TableConfig("t", Seq("pk"), Seq("version"))).collect()
      val keys = out.map(_.getString(0))
      assert(keys.distinct.length == keys.length)
      val maxByKey = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      out.foreach(r => assert(r.getInt(1) == maxByKey(r.getString(0))))
      assert(keys.toSet == rows.map(_._1).toSet)
    }
  }

  test("allpairs prefix filter: lossless and exact on adversarial small universes") {
    // Tiny feature universes make every feature common (df collisions,
    // ordering ties, duplicate sets, subset sets) — the regime where a
    // buggy prefix length or tie-break would drop pairs. Ground truth is
    // computed driver-side from the generated sets.
    val corpusGen: Gen[List[(Long, Set[Long])]] = for {
      nDocs <- Gen.choose(4, 14)
      univ <- Gen.choose(5L, 10L)
      docs <- Gen.listOfN(nDocs, Gen.nonEmptyListOf(Gen.choose(1L, univ)).map(_.toSet))
    } yield docs.zipWithIndex.map { case (set, i) => (i.toLong, set) }
    samples(corpusGen, 12).filter(_.nonEmpty).foreach { docs =>
      val sh = docs.flatMap { case (id, set) => set.map(f => (id, f)) }
        .toDF("doc_id", "sh")
      val got = graft.operators.TextOps.allpairsPrefixCore(sh).collect()
        .map(r => ((r.getAs[Long]("da"), r.getAs[Long]("db")), r.getAs[Long]("inter")))
        .toMap
      val expected = (for {
        (ia, sa) <- docs; (ib, sb) <- docs if ia < ib
        inter = (sa & sb).size
        if 3 * inter >= sa.size + sb.size && inter > 0
      } yield ((ia, ib), inter.toLong)).toMap
      assert(got == expected,
        s"docs=$docs\n got=$got\n expected=$expected")
    }
  }

  test("applyRenames: bijective on present columns, no column lost or gained") {
    val presentGen = Gen.someOf(RenameMaps.claim.keys.toSeq).map(_.toList)
    samples(presentGen, 8).filter(_.nonEmpty).foreach { cols =>
      val df = cols.zipWithIndex
        .foldLeft(Seq(1).toDF("__seed")) { case (d, (c, i)) => d.withColumn(c, lit(i)) }
        .drop("__seed")
      val out = Medallion.applyRenames(df, RenameMaps.merged)
      assert(out.columns.length == df.columns.length)
      assert(out.columns.toSet == cols.map(RenameMaps.claim).toSet)
    }
  }

  test("kgramHashes: equals the reference fold-model; count and range laws hold") {
    import graft.functions.Portable
    val tokGen = Gen.listOfN(20, Gen.choose(0, 12).map(i => s"t$i"))
    samples(tokGen, 8).foreach { toks =>
      val k = 8
      def ph(s: String): Long =
        s.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % Portable.P)
      val model = toks.map(ph).sliding(k).filter(_.length == k)
        .map(_.foldLeft(0L)((a, h) => (a * 31 + h) % Portable.P)).toSeq.distinct
      val got = Seq(toks.mkString(" ")).toDF("text")
        .select(Portable.kgramHashes(
          Portable.tokenHashes(Portable.tokens(col("text"))), k).as("g"))
        .collect()(0).getSeq[Long](0)
      assert(got == model)
      got.foreach(h => assert(h >= 0 && h < Portable.P))
    }
  }

  test("dsum: partition-layout independent and equal to the 6dp fixed-point model") {
    val valGen = Gen.listOfN(300, Gen.choose(-1e7, 1e7))
    samples(valGen, 4).foreach { vs =>
      def model: Double = vs.map(v => math.floor(v * 1e6 + 0.5).toLong).sum / 1e6
      val results = Seq(1, 3, 7).map { parts =>
        spark.createDataset(vs).repartition(parts).toDF("v")
          .agg(graft.operators.Det.dsum(col("v"))).collect()(0).getDouble(0)
      }
      // identical across partition layouts (the whole point of dsum)...
      assert(results.distinct.length == 1)
      // ...and equal to the sequential fixed-point model
      assert(results.head == model)
    }
  }

  test("mortonZ: equals the bit-interleave model and decodes back to (x, y)") {
    import graft.operators.ScaleOps
    val zb = ScaleOps.ZBits
    def model(x: Int, y: Int): Long =
      (0 until zb).map { b =>
        (((x >> b) & 1).toLong << (2 * b)) | (((y >> b) & 1).toLong << (2 * b + 1))
      }.sum
    def decode(z: Long): (Int, Int) = {
      var (x, y) = (0, 0)
      (0 until zb).foreach { b =>
        x |= (((z >> (2 * b)) & 1L) << b).toInt
        y |= (((z >> (2 * b + 1)) & 1L) << b).toInt
      }
      (x, y)
    }
    val pairGen = Gen.listOfN(50, for {
      x <- Gen.choose(0, (1 << zb) - 1)
      y <- Gen.choose(0, (1 << zb) - 1)
    } yield (x, y))
    samples(pairGen, 4).filter(_.nonEmpty).foreach { pairs =>
      val got = pairs.distinct.toDF("x", "y")
        .select(col("x"), col("y"), ScaleOps.mortonZ(col("x"), col("y")).as("z"))
        .collect()
      got.foreach { r =>
        val (x, y, z) = (r.getInt(0), r.getInt(1), r.getLong(2))
        assert(z == model(x, y), s"($x, $y)")
        assert(decode(z) == ((x, y)), s"decode $z")
      }
    }
  }

  test("SmallestK: any partitioning + merge order equals sorted-distinct-take-k") {
    import graft.functions.SmallestK
    import org.apache.spark.sql.catalyst.expressions.Literal
    val agg = SmallestK(Literal(0L), Literal(10))
    val dataGen = for {
      xs <- Gen.listOfN(80, Gen.choose(-500L, 500L))
      cuts <- Gen.listOfN(3, Gen.choose(0, 80))
    } yield (xs, cuts.sorted)
    samples(dataGen, 8).foreach { case (xs, cuts) =>
      // split xs into ragged chunks, build one buffer per chunk via
      // update, then merge in chunk order — simulating map-side partials
      val bounds = (0 +: cuts :+ xs.length).distinct.sorted
      val chunks = bounds.zip(bounds.tail).map { case (a, b) => xs.slice(a, b) }
      val bufs = chunks.map { chunk =>
        val b = agg.createAggregationBuffer()
        chunk.foreach { v =>
          b.add(v); if (b.size > 10) b.pollLast()
        }
        // serialization round-trip must be lossless at every partial
        agg.deserialize(agg.serialize(b))
      }
      val merged = bufs.foldLeft(agg.createAggregationBuffer())(agg.merge)
      val got = {
        val it = merged.iterator(); Iterator.continually(it)
          .takeWhile(_.hasNext).map(_.next().longValue()).toList
      }
      assert(got == xs.distinct.sorted.take(10))
    }
  }

  test("dot_a / dist_sq_a: bit-identical to the interpreted HOF folds on random vectors") {
    graft.functions.VectorExpressions.registerAny(spark)
    val vecGen: Gen[List[(Array[Float], Array[Float])]] =
      Gen.listOfN(24, for {
        n <- Gen.choose(1, 48)
        a <- Gen.listOfN(n, Gen.choose(-8.0, 8.0).map(_.toFloat))
        b <- Gen.listOfN(n, Gen.choose(-8.0, 8.0).map(_.toFloat))
      } yield (a.toArray, b.toArray))
    samples(vecGen, 4).foreach { rows =>
      // double side exercises the mixed float/double accessor path
      val df = rows.toDF("a", "b")
        .withColumn("bd", expr("transform(b, x -> CAST(x AS DOUBLE))"))
      val native = df.selectExpr("dot_a(a, b)", "dist_sq_a(a, bd)").collect()
      val hof = portable {
        val h = df.selectExpr(
          "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)",
          "aggregate(zip_with(a, bd, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), 0D, (a2, v) -> a2 + v)")
        assert(!hasNativeFold(h), s"HOF side was rewritten:\n${h.queryExecution.optimizedPlan}")
        h.collect()
      }
      assert(native.length == hof.length)
      native.zip(hof).foreach { case (n, h) =>
        // exact bit equality, not tolerance: same fold order is the claim
        (0 to 1).foreach(i => assert(java.lang.Double.doubleToLongBits(n.getDouble(i)) ==
          java.lang.Double.doubleToLongBits(h.getDouble(i))))
      }
    }
  }

  private val P = graft.functions.Portable.P

  private val docGen: Gen[List[(Long, String)]] =
    Gen.listOfN(25, for {
      id <- Gen.choose(0L, 5000L)
      nTok <- Gen.choose(0, 40)
      toks <- Gen.listOfN(nTok, Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString))
    } yield id -> toks.mkString(" ")).map(_.distinctBy(_._1))

  private def polyModel(s: String): Long =
    s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)

  test("q277 featureHashCore: equals the signed-count reference model on random corpora") {
    import graft.operators.Round8Ops
    samples(docGen, 4).filter(_.nonEmpty).foreach { docs =>
      val got = Round8Ops.featureHashCore(docs.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      docs.foreach { case (id, text) =>
        val toks = text.split(" ").filter(_.nonEmpty).toList
        if (toks.isEmpty) assert(!got.contains(id))
        else {
          val hs = toks.map(polyModel)
          val signed = hs.groupBy(_ % Round8Ops.FeatureBins).view
            .mapValues(_.map(h => (h / Round8Ops.FeatureBins % 2) * 2 - 1).sum).toMap
          val nnz = signed.values.count(_ != 0).toLong
          val l1 = signed.values.map(math.abs(_)).sum
          val l2sq = signed.values.map(v => v * v).sum
          val nDist = hs.distinct.size.toLong
          val nColl = nDist - hs.map(_ % Round8Ops.FeatureBins).distinct.size
          assert(got(id) == ((nnz, l1, l2sq, nDist, nColl)),
            s"doc $id: ${got(id)} != ${(nnz, l1, l2sq, nDist, nColl)}")
        }
      }
    }
  }

  test("q283 spanMaskCore: span/mask counts equal the maximal-run reference model") {
    import graft.operators.Round8Ops
    samples(docGen, 4).filter(_.nonEmpty).foreach { docs =>
      val got = Round8Ops.spanMaskCore(docs.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      docs.foreach { case (id, text) =>
        val n = text.split(" ").count(_.nonEmpty)
        if (n == 0) assert(!got.contains(id))
        else {
          val mask = (0 until n)
            .map(p => (id * Round8Ops.MaskMix + p) % Round8Ops.MaskMod == 0)
          val nMasked = mask.count(identity).toLong
          val nSpans = mask.zipWithIndex
            .count { case (m, i) => m && (i == 0 || !mask(i - 1)) }.toLong
          assert(got(id) == ((n.toLong, nMasked, nSpans)),
            s"doc $id: ${got(id)} != ${(n, nMasked, nSpans)}")
        }
      }
    }
  }

  test("q281 temperature weights: micro model exact, upsample anti-monotone in n") {
    val nGen = Gen.listOfN(8, Gen.choose(1L, 2000000L)).map(_.distinct)
    samples(nGen, 5).filter(_.size >= 2).foreach { ns =>
      def wMicro(n: Long): Long = {
        val d = n.toDouble
        math.floor(math.sqrt(math.sqrt(d * d * d)) * 1e6 + 0.5).toLong
      }
      val tw = ns.map(wMicro).sum.toDouble
      val tn = ns.sum.toDouble
      val ups = ns.map(n => n -> math.floor(
        wMicro(n) * tn / (tw * n) * 1e6 + 0.5).toLong).sortBy(_._1)
      // α = 3/4 < 1: strictly smaller sources never get a smaller factor
      ups.sliding(2).foreach {
        case Seq((n1, u1), (n2, u2)) => if (n1 < n2) assert(u1 >= u2)
        case _ => ()
      }
      // and the model is exactly what the operator computes (checked on
      // the graded fixture by Round8OpsSpec; here we pin the law itself)
      assert(ups.forall(_._2 > 0))
    }
  }

  test("polyHash: stable, in [0, P), equals the reference fold for random ASCII strings") {
    val strGen = Gen.listOfN(20, Gen.listOfN(12, Gen.alphaNumChar).map(_.mkString))
    samples(strGen, 4).filter(_.nonEmpty).foreach { strs =>
      val got = strs.distinct.toDF("s")
        .select(graft.functions.Portable.polyHash(col("s")).as("h"), col("s"))
        .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
      strs.foreach { s =>
        val expect = s.foldLeft(0L)((a, c) => (a * 31 + c) % graft.functions.Portable.P)
        assert(got(s) == expect && expect >= 0 && expect < graft.functions.Portable.P)
      }
    }
  }

  private val vecGen: Gen[List[(Long, List[Float])]] =
    Gen.listOfN(12, for {
      id <- Gen.choose(0L, 1000L)
      v <- Gen.listOfN(64, Gen.choose(-4.0f, 4.0f))
    } yield (id, v)).map(_.distinctBy(_._1))

  test("q289 packSign: equals the bit-fold model; Hamming equals the sign-diff count") {
    import graft.functions.Portable
    samples(vecGen, 4).filter(_.size >= 2).foreach { vecs =>
      val df = vecs.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      val got = df.select(col("vec_id"),
          Portable.packSign("embedding", 0, 32).as("w0"),
          Portable.packSign("embedding", 32, 32).as("w1"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      def model(v: List[Float], off: Int): Long =
        (0 until 32).foldLeft(0L)((acc, i) =>
          if (v(off + i) >= 0f) acc + (1L << i) else acc)
      vecs.foreach { case (id, v) =>
        assert(got(id) == ((model(v, 0), model(v, 32))), s"packSign drifted for $id")
      }
      // Hamming via the q289 expression = plain sign-disagreement count
      val ham = df.as("a").join(df.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
          (bit_count(Portable.packSign("a.embedding", 0, 32)
              .bitwiseXOR(Portable.packSign("b.embedding", 0, 32))) +
            bit_count(Portable.packSign("a.embedding", 32, 32)
              .bitwiseXOR(Portable.packSign("b.embedding", 32, 32)))).cast("long").as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val byId = vecs.toMap
      ham.foreach { case ((ia, ib), h) =>
        val want = byId(ia).zip(byId(ib)).count { case (x, y) => (x >= 0f) != (y >= 0f) }
        assert(h == want.toLong, s"hamming($ia,$ib)=$h != $want")
      }
    }
  }

  test("q291 isqrt formula: exact against BigInt sqrt on adversarial boundaries") {
    import graft.operators.Round9Ops.MaxIsqrt
    // the exact expression q291 applies to cell counts, including the
    // overflow guard on the (q0+1)^2 probe
    def isqrtExpr(nCol: org.apache.spark.sql.Column) = {
      val q0 = floor(sqrt(nCol.cast("double"))).cast("long")
      q0 + when(q0 < MaxIsqrt && (q0 + 1) * (q0 + 1) <= nCol, lit(1L))
          .otherwise(lit(0L)) -
        when(q0 * q0 > nCol, lit(1L)).otherwise(lit(0L))
    }
    val squares = (1L to 40L) ++ Seq(1L << 26, 1L << 31, 3037000499L)
    val boundary = squares.flatMap(k => Seq(k * k - 1, k * k, k * k + 1))
      .filter(_ >= 1)
    val rand = samples(Gen.choose(1L, Long.MaxValue), 60)
    val ns = (boundary ++ rand ++ Seq(1L, 2L, 3L, Long.MaxValue)).distinct
    val got = ns.toDF("n").select(col("n"), isqrtExpr(col("n")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def isqrtRef(n: Long): Long = {
      var x = math.sqrt(n.toDouble).toLong
      while (BigInt(x) * x > n) x -= 1
      while (BigInt(x + 1) * (x + 1) <= n) x += 1
      x
    }
    ns.foreach { n =>
      val want = isqrtRef(n)
      assert(got(n) == want, s"isqrt($n): ${got(n)} != $want")
    }
  }

  private val tokStreamGen: Gen[List[String]] =
    Gen.listOfN(300, Gen.choose(0, 12).map(i => s"t$i"))

  test("mgFold: split-invariant, bounded at k, MG error laws hold on random streams") {
    import graft.streaming.CorpusStream
    val streams = samples(tokStreamGen, 6)
    for ((toks, seedI) <- streams.zipWithIndex.map { case (t, i) => (t, i + 1) };
         k <- Seq(1, 2, 3, 5)) {
      if (toks.nonEmpty) {
        val whole = CorpusStream.mgFold(CorpusStream.MgState(Nil, Nil, 0L), toks, k)
        // carrying state across arbitrary splits equals the one-shot fold
        val cut = toks.length / (seedI + 1)
        val split = CorpusStream.mgFold(
          CorpusStream.mgFold(CorpusStream.MgState(Nil, Nil, 0L), toks.take(cut), k),
          toks.drop(cut), k)
        assert(split == whole, "state carry-over must equal the single-shot fold")
        assert(whole.toks.size <= k && whole.n == toks.length)
        val truth = toks.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
        val est = whole.toks.zip(whole.cnts).toMap
        est.foreach { case (t, e) =>
          assert(e <= truth(t), s"$t overcounted")
          assert(truth(t) - e <= whole.n / k, s"$t undercount beyond n/k")
        }
        // completeness: count > n/k cannot be evicted
        truth.foreach { case (t, c) =>
          if (c > whole.n / k) assert(est.contains(t), s"heavy $t evicted (c=$c)")
        }
      }
    }
  }
}
