package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-compression tier of the ANN
  * stack (q37 LSH blocks / q38 brute baseline / q39+q67 IVF cells).
  *
  * The 64-dim float corpus is split into [[M]] 16-dim subspaces; each
  * subvector is replaced by the id of its nearest codebook entry, so a
  * vector becomes M small codes (256 bytes → 4 bytes here, and at 100 TB
  * the encoded corpus plus the M×[[Ks]] codebook fits where raw floats
  * cannot — the point of PQ). Queries never decode: asymmetric distance
  * computation (ADC) sums, per subspace, the exact query-to-centroid
  * distance looked up by the stored code.
  *
  * Codebooks here are deterministic (the subvectors of the [[Ks]] lowest
  * vec_ids) rather than trained, exactly like q39's fixed coarse
  * quantizer, which is what lets the whole encode→ADC→top-k path
  * hash-match the DuckDB oracle (q67 is the trained-quantizer pattern;
  * training is engine-local so that one stays rows-only).
  *
  * Scale shape: encoding is corpus × (M·Ks) broadcast rows — one linear
  * pass, partial-aggregable argmin, no corpus shuffle; the ADC lookup
  * table is |queries| × (M·Ks) rows, broadcast against the code table;
  * the only shuffle is the final (qid, vid) pivot-sum at M rows per
  * candidate.
  */
object PqOps extends QueryModule {
  /** Subspace count (64 dims → 4 × 16-dim subvectors). */
  val M = 4

  /** Subvector width. */
  val SubDim = 16

  /** Codebook size per subspace (corpus is vec_id ≥ Ks, so codebook donor
    * vectors never appear in the encoded corpus). */
  val Ks = 16

  /** (sub, centroid_id, centroid subvector) rows — M·Ks of them. */
  private def codebook(e: DataFrame): DataFrame = {
    val subs = (0 until M).map { m =>
      e.filter(col("vec_id") < Ks)
        .select(lit(m).as("sub"), col("vec_id").as("code"),
          slice(col("embedding"), m * SubDim + 1, SubDim).as("cvec"))
    }
    subs.reduce(_ unionAll _)
  }

  /** Per-(row, sub) nearest codebook entry by sequential-double L2. */
  private def encode(rows: DataFrame, book: DataFrame, idCol: String): DataFrame = {
    val subbed = rows.select(col(idCol), explode(
      array((0 until M).map(m =>
        struct(lit(m).as("sub"), slice(col("embedding"), m * SubDim + 1, SubDim).as("svec"))): _*)
    ).as("sv")).select(col(idCol), col("sv.sub").as("sub"), col("sv.svec").as("svec"))
    val w = Window.partitionBy(col(idCol), col("sub")).orderBy(col("dsq"), col("code"))
    subbed.join(broadcast(book), "sub")
      .withColumn("dsq", distSq(col("svec"), col("cvec")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("sub"), col("code"))
  }

  /** q89 — PQ encode + ADC top-5: corpus (vec_id ≥ 16) is encoded to 4
    * codes; queries (vec_id < 8) build an exact query→centroid distance
    * table and rank candidates by the ADC sum. The four subspace terms are
    * pivoted to columns and added in fixed order, so the sum is the same
    * double expression on both engines. */
  def q89PqAdc(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val book = codebook(e).persist()
    val corpus = e.filter(col("vec_id") >= Ks).select(col("vec_id"), col("embedding"))
    val codes = encode(corpus, book, "vec_id")
      .select(col("vec_id").as("cid"), col("sub"), col("code"))
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding"))
    // ADC lookup table: exact distance from each query subvector to every
    // codebook centroid of that subspace
    val lut = encodeDistances(queries, book)
    val terms = codes.join(broadcast(lut), Seq("sub", "code"))
    def term(m: Int): Column = sum(when(col("sub") === m, col("dsq")).otherwise(lit(0.0)))
    val adc = terms.groupBy(col("qid"), col("cid"))
      .agg((term(0) + term(1) + term(2) + term(3)).as("adc0"))
      .withColumn("adc", round(col("adc0"), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc0"), col("cid"))
    adc.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("cid"), col("adc"), col("rnk"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** (qid, sub, code, dsq) for every query × codebook entry. */
  private def encodeDistances(queries: DataFrame, book: DataFrame): DataFrame = {
    val subbed = queries.select(col("qid"), explode(
      array((0 until M).map(m =>
        struct(lit(m).as("sub"), slice(col("embedding"), m * SubDim + 1, SubDim).as("svec"))): _*)
    ).as("sv")).select(col("qid"), col("sv.sub").as("sub"), col("sv.svec").as("svec"))
    subbed.join(broadcast(book), "sub")
      .withColumn("dsq", distSq(col("svec"), col("cvec")))
      .select(col("qid"), col("sub"), col("code"), col("dsq"))
  }

  val q89Sql: String = {
    // slices are 1-based inclusive in DuckDB: sub m covers [m*16+1, m*16+16]
    def sl(e: String, m: Int) = s"($e)[${m * SubDim + 1}:${m * SubDim + SubDim}]"
    val subUnion = (0 until M).map(m =>
      s"SELECT vec_id, $m AS sub, ${sl("embedding", m)} AS svec FROM embeddings").mkString(" UNION ALL ")
    s"""WITH subbed AS ($subUnion),
       |book AS (SELECT sub, vec_id AS code, svec AS cvec FROM subbed WHERE vec_id < $Ks),
       |corpus AS (SELECT vec_id AS cid, sub, svec FROM subbed WHERE vec_id >= $Ks),
       |enc AS (
       |  SELECT cid, sub, code,
       |    ROW_NUMBER() OVER (PARTITION BY cid, sub
       |      ORDER BY ${distSqSql("svec", "cvec")}, code) AS rn
       |  FROM corpus JOIN book USING (sub)),
       |codes AS (SELECT cid, sub, code FROM enc WHERE rn = 1),
       |qsub AS (SELECT vec_id AS qid, sub, svec FROM subbed WHERE vec_id < 8),
       |lut AS (
       |  SELECT qid, sub, code, ${distSqSql("svec", "cvec")} AS dsq
       |  FROM qsub JOIN book USING (sub)),
       |terms AS (SELECT qid, cid, sub, dsq FROM codes JOIN lut USING (sub, code)),
       |adc AS (
       |  SELECT qid, cid,
       |    SUM(CASE WHEN sub = 0 THEN dsq ELSE 0 END)
       |      + SUM(CASE WHEN sub = 1 THEN dsq ELSE 0 END)
       |      + SUM(CASE WHEN sub = 2 THEN dsq ELSE 0 END)
       |      + SUM(CASE WHEN sub = 3 THEN dsq ELSE 0 END) AS adc0
       |  FROM terms GROUP BY 1, 2),
       |ranked AS (
       |  SELECT qid, cid, ROUND(adc0, 6) AS adc,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc0, cid) AS rnk
       |  FROM adc)
       |SELECT qid, cid, adc, rnk FROM ranked WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  /** q149 — IVF-PQ with asymmetric distance: the canonical composition of
    * the ANN stack's two halves (FAISS's IndexIVFPQ). The q148 trained
    * 6-dp-rounded coarse quantizer (KMeansIvf k=8, iters=3) partitions the
    * corpus into cells; each corpus vector is then stored as [[M]] codes of
    * its RESIDUAL (vector − cell centroid) against a shared deterministic
    * residual codebook (the residual subvectors of the [[Ks]] lowest
    * vec_ids, the q89 convention). Queries probe their top-2 nearest cells
    * only and rank that subset by the ADC sum over a per-(query, cell)
    * residual lookup table — per-cell because the query's residual depends
    * on which centroid it is compared under.
    *
    * Scale shape: the model is k×64 + M·Ks×16 doubles, broadcast; corpus
    * passes are linear (assign → residual → encode, each an argmin against
    * a broadcast table, no corpus shuffle); search touches only probed
    * cells and the final pivot-sum groups |probed candidates| × M rows.
    * Everything after training is exact sequential-double arithmetic, so
    * the whole search — training included, via the rounded-mean Lloyd
    * CTEs — hash-matches the DuckDB oracle. */
  def q149IvfPqSearch(s: SparkSession, d: String): DataFrame = {
    import graft.ml.KMeansIvf
    val e = Tables.embeddings(s, d)
    val cents0 = KMeansIvf.fit(e, "vec_id", "embedding", k = 8, iters = 3)
    val cents = cents0.persist()
    val assigned = KMeansIvf.assign(e, cents, "vec_id", "embedding")
      .select(col("vec_id").as("aid"), col("cluster"))
    val resid = e.join(assigned, e("vec_id") === col("aid"))
      .join(broadcast(cents), "cluster")
      .select(col("vec_id"), col("cluster"),
        zip_with(col("embedding"), col("cent"), (x, y) => x.cast("double") - y).as("rv"))
      .persist()
    val book = (0 until M).map { m =>
      resid.filter(col("vec_id") < Ks)
        .select(lit(m).as("sub"), col("vec_id").as("code"),
          slice(col("rv"), m * SubDim + 1, SubDim).as("cvec"))
    }.reduce(_ unionAll _)
    def subspaces(src: DataFrame, idCols: Seq[String], vec: String): DataFrame =
      src.select(idCols.map(col) :+ explode(
        array((0 until M).map(m =>
          struct(lit(m).as("sub"), slice(col(vec), m * SubDim + 1, SubDim).as("svec"))): _*)
      ).as("sv"): _*).select(idCols.map(col) :+ col("sv.sub").as("sub") :+ col("sv.svec").as("svec"): _*)
    val wEnc = Window.partitionBy(col("vec_id"), col("sub")).orderBy(col("dsq"), col("code"))
    val codes = subspaces(resid.filter(col("vec_id") >= Ks), Seq("vec_id", "cluster"), "rv")
      .join(broadcast(book), "sub")
      .withColumn("dsq", distSq(col("svec"), col("cvec")))
      .withColumn("rn", row_number().over(wEnc))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("cid"), col("cluster"), col("sub"), col("code"))
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("dist_sq"), col("cluster"))
    val probes = queries.join(broadcast(cents), lit(true))
      .withColumn("dist_sq", KMeansIvf.distSq("qe", "cent"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= 2)
      .select(col("qid"), col("cluster"),
        zip_with(col("qe"), col("cent"), (x, y) => x.cast("double") - y).as("qrv"))
    val lut = subspaces(probes, Seq("qid", "cluster"), "qrv")
      .join(broadcast(book), "sub")
      .withColumn("dsq", distSq(col("svec"), col("cvec")))
      .select(col("qid"), col("cluster"), col("sub"), col("code"), col("dsq"))
    val terms = codes.join(broadcast(lut), Seq("cluster", "sub", "code"))
    def term(m: Int): Column = sum(when(col("sub") === m, col("dsq")).otherwise(lit(0.0)))
    val adc = terms.groupBy(col("qid"), col("cid"))
      .agg((term(0) + term(1) + term(2) + term(3)).as("adc0"))
    val wr = Window.partitionBy(col("qid")).orderBy(col("adc0"), col("cid"))
    adc.withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("cid"), round(col("adc0"), 6).as("adc"), col("rnk"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** q149 oracle: the q148 Lloyd CTEs extended with residual PQ — same
    * codebook/encode/LUT shapes as [[q89Sql]], in residual space. */
  val q149Sql: String = {
    def d16(aE: String, bE: String) =
      s"list_reduce(list_transform(range(1, ${SubDim + 1}), j -> " +
        s"(($aE)[j] - ($bE)[j]) * (($aE)[j] - ($bE)[j])), (x, y) -> x + y)"
    val rsubUnion = (0 until M).map(m =>
      s"SELECT vec_id, cluster, $m AS sub, rv[${m * SubDim + 1}:${m * SubDim + SubDim}] AS svec FROM resid").mkString(" UNION ALL ")
    val qsubUnion = (0 until M).map(m =>
      s"SELECT qid, cluster, $m AS sub, qrv[${m * SubDim + 1}:${m * SubDim + SubDim}] AS svec FROM qresid").mkString(" UNION ALL ")
    s"""WITH ${VectorOps.trainedModelCtes},
       |resid AS (
       |  SELECT v.vec_id, a.cluster,
       |    list_transform(range(1, 65), j -> v.ve[j] - c.cent[j]) AS rv
       |  FROM v JOIN a4 a USING (vec_id) JOIN c3 c ON c.cluster = a.cluster),
       |rsub AS ($rsubUnion),
       |book AS (SELECT sub, vec_id AS code, svec AS cvec FROM rsub WHERE vec_id < $Ks),
       |corp AS (SELECT vec_id AS cid, cluster, sub, svec FROM rsub WHERE vec_id >= $Ks),
       |enc AS (
       |  SELECT cid, cluster, sub, code,
       |    ROW_NUMBER() OVER (PARTITION BY cid, sub ORDER BY ${d16("svec", "cvec")}, code) AS rn
       |  FROM corp JOIN book USING (sub)),
       |codes AS (SELECT cid, cluster, sub, code FROM enc WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, ve AS qe FROM v WHERE vec_id < 8),
       |pd AS (
       |  SELECT qid, c.cluster, c.cent,
       |    list_reduce(list_transform(range(1, 65), j ->
       |      (qe[j] - c.cent[j]) * (qe[j] - c.cent[j])), (x, y) -> x + y) AS dist_sq
       |  FROM q CROSS JOIN c3 c),
       |probes AS (
       |  SELECT qid, cluster, cent FROM (
       |    SELECT qid, cluster, cent,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist_sq, cluster) AS rn
       |    FROM pd) WHERE rn <= 2),
       |qresid AS (
       |  SELECT p.qid, p.cluster,
       |    list_transform(range(1, 65), j -> q.qe[j] - p.cent[j]) AS qrv
       |  FROM probes p JOIN q USING (qid)),
       |qsub AS ($qsubUnion),
       |lut AS (
       |  SELECT qid, cluster, sub, code, ${d16("svec", "cvec")} AS dsq
       |  FROM qsub JOIN book USING (sub)),
       |terms AS (SELECT qid, cid, sub, dsq FROM codes JOIN lut USING (cluster, sub, code)),
       |adc AS (
       |  SELECT qid, cid,
       |    SUM(CASE WHEN sub = 0 THEN dsq ELSE 0 END)
       |      + SUM(CASE WHEN sub = 1 THEN dsq ELSE 0 END)
       |      + SUM(CASE WHEN sub = 2 THEN dsq ELSE 0 END)
       |      + SUM(CASE WHEN sub = 3 THEN dsq ELSE 0 END) AS adc0
       |  FROM terms GROUP BY 1, 2),
       |ranked AS (
       |  SELECT qid, cid, ROUND(adc0, 6) AS adc,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc0, cid) AS rnk
       |  FROM adc)
       |SELECT qid, cid, adc, rnk FROM ranked WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  /** Target dimensionality for q117's random projection (64 → 16). */
  val RpDim = 16

  /** Deterministic ±1 entry of the q117 projection matrix, as engine SQL.
    * Achlioptas's database-friendly sign matrix with the RNG replaced by
    * a two-round multiply-xor-shift mix of the (row, col) index, so both
    * engines build the identical matrix from pure BIGINT arithmetic (all
    * intermediates < 2^63; bit 16 is taken, never bit 0 — the parity of
    * any odd-multiplier product preserves input parity, which collapses
    * the matrix to rank 1). Full rank 16 and random-equivalent distortion
    * verified against a seeded-RNG matrix on the fixture. */
  private def signDuck(iE: String, jE: String): String = {
    val h0 = s"((($iE) * 64 + ($jE)) * 2654435761) % 4294967296"
    val h1 = s"(xor(($h0), (($h0) >> 16))) % 2147483648"
    val h2 = s"((($h1) * 2246822519) % 4294967296)"
    s"(CASE WHEN ((($h2) >> 16) % 2) = 0 THEN 1.0 ELSE -1.0 END)"
  }

  /** q117 — Johnson–Lindenstrauss random projection: compress every
    * embedding 64 → [[RpDim]] dims with the deterministic ±1 sign matrix
    * of [[signDuck]], then report, per label, how well
    * cosine survives the 4× compression over the consecutive-id pair
    * sample (the q49 bounded linear pairing).
    *
    * Scale shape: projection is a pure per-row map — one corpus scan, no
    * shuffle, no model state at all (the matrix is arithmetic, not data).
    * This is the cheap precursor tier of the ANN stack: 4× narrower
    * vectors make every downstream q37/q39/q89 pass 4× lighter. The
    * distortion report pairs row i with row i+1 — linear, never
    * all-pairs. */
  def q117RandomProjection(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    // The Spark side bakes the matrix as a typedlit array Literal — built
    // once, never re-evaluated (a string-expr array(...) stays a
    // CreateArray rebuilt per access, and the formula-in-lambda HOF path
    // re-evaluates the integer mix 8× per entry per row). The oracle
    // recomputes the matrix from the formula, so the hash gate
    // independently proves literal == construction.
    val signs: Seq[Double] = (0 until RpDim).flatMap { i =>
      (1 to dim).map { j =>
        val h0 = ((i.toLong * dim + j) * 2654435761L) % 4294967296L
        val h1 = (h0 ^ (h0 >> 16)) % 2147483648L
        val h2 = (h1 * 2246822519L) % 4294967296L
        if (((h2 >> 16) & 1L) == 0L) 1.0 else -1.0
      }
    }
    val m = typedlit(signs)
    val proj = transform(
      sequence(lit(0), lit(RpDim - 1)),
      i => aggregate(
        sequence(lit(1), lit(dim)),
        lit(0.0),
        (acc, j) => acc +
          element_at(col("embedding"), j).cast("double") *
            element_at(m, (i * dim + j).cast("int"))) / lit(math.sqrt(RpDim)))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"), proj.as("pv"))
    val a = e.select(col("vec_id").as("a_id"), col("label"),
      col("embedding").as("a_ve"), col("pv").as("a_pv"))
    val b = e.select((col("vec_id") - 1).as("a_id"),
      col("embedding").as("b_ve"), col("pv").as("b_pv"))
    a.join(b, "a_id")
      .withColumn("cos64", cosine(col("a_ve"), col("b_ve")))
      .withColumn("cos16", cosine(col("a_pv"), col("b_pv")))
      .withColumn("adiff", round(abs(col("cos64") - col("cos16")), 6))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(Det.davg(col("cos64")), 6).as("avg_cos_orig"),
        round(Det.davg(col("cos16")), 6).as("avg_cos_proj"),
        round(Det.davg(col("adiff")), 6).as("avg_abs_diff"),
        round(max(col("adiff")), 6).as("max_abs_diff"))
      .orderBy(col("label"))
  }

  val q117Sql: String = {
    val proj = (e: String) =>
      s"""list_transform(range(0, $RpDim), i ->
         |  list_reduce(list_transform(range(1, 65), j ->
         |    CAST(($e)[j] AS DOUBLE) *
         |      ${signDuck("i", "j")}),
         |    (x, y) -> x + y) / ${math.sqrt(RpDim)})""".stripMargin
    s"""WITH e AS (SELECT vec_id, label, embedding, ${proj("embedding")} AS pv
       |  FROM embeddings),
       |p AS (
       |  SELECT a.label,
       |    ${cosineSql("a.embedding", "b.embedding")} AS cos64,
       |    ${cosineSql("a.pv", "b.pv")} AS cos16
       |  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
       |m AS (SELECT label, cos64, cos16, ROUND(ABS(cos64 - cos16), 6) AS adiff FROM p)
       |SELECT label, COUNT(*) AS n_pairs,
       |  ROUND(${Det.davgSql("cos64")}, 6) AS avg_cos_orig,
       |  ROUND(${Det.davgSql("cos16")}, 6) AS avg_cos_proj,
       |  ROUND(${Det.davgSql("adiff")}, 6) AS avg_abs_diff,
       |  ROUND(MAX(adiff), 6) AS max_abs_diff
       |FROM m GROUP BY label ORDER BY label""".stripMargin
  }

  /** q137 — int8 scalar quantization of the embedding corpus: per-dim
    * [min, max] bounds, quantize each coordinate to 0..255, and report
    * per-dim reconstruction error (max + 6-dp fixed-point mean). The
    * 4× memory compression baseline under PQ (q89): bounds are a
    * |dims|-row aggregate broadcast back; quantize/reconstruct are
    * row-local codegen arithmetic — the corpus shuffles once to (dim)
    * for bounds and once for the error rollup, both |dims|-bounded.
    * Float→double widening and the (x-mn)/scale arithmetic are IEEE
    * identical cross-engine, so even max_err hash-matches.
    */
  def q137Int8Quant(s: SparkSession, d: String): DataFrame = {
    val flat = graft.Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim"), col("xf").cast("double").as("x"))
    val bounds = flat.groupBy("dim").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    flat.join(broadcast(bounds), "dim")
      .withColumn("scale", (col("mx") - col("mn")) / lit(255.0))
      .withColumn("q",
        when(col("scale") === 0.0, lit(0L)).otherwise(
          least(greatest(floor((col("x") - col("mn")) / col("scale") + lit(0.5)),
            lit(0.0)), lit(255.0)).cast("long")))
      .withColumn("err", abs(col("x") - (col("mn") + col("q") * col("scale"))))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        round(max(col("err")), 6).as("max_err"),
        round(Det.davg(col("err")), 6).as("avg_err"))
      .orderBy(col("dim"))
  }

  val q137Sql: String =
    s"""WITH flat AS (
       |  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
       |  FROM embeddings, range(1, 65) r(i)),
       |b AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM flat GROUP BY dim),
       |q AS (
       |  SELECT flat.dim AS dim, x, mn, (mx - mn) / 255.0 AS scale,
       |    CASE WHEN (mx - mn) / 255.0 = 0.0 THEN 0
       |         ELSE CAST(LEAST(GREATEST(FLOOR((x - mn) / ((mx - mn) / 255.0) + 0.5),
       |           0.0), 255.0) AS BIGINT) END AS qv
       |  FROM flat JOIN b ON flat.dim = b.dim),
       |e AS (SELECT dim, ABS(x - (mn + qv * scale)) AS err FROM q)
       |SELECT dim, COUNT(*) AS n,
       |  ROUND(MAX(err), 6) AS max_err,
       |  ROUND(${Det.davgSql("err")}, 6) AS avg_err
       |FROM e GROUP BY dim ORDER BY dim""".stripMargin

  val queries: Map[String, Q] = Map(
    "q137_int8_quant" -> q137Int8Quant _,
    "q89_pq_adc" -> q89PqAdc _,
    "q117_random_projection" -> q117RandomProjection _,
    "q149_ivfpq_search" -> q149IvfPqSearch _)
  val oracles: Map[String, String] = Map(
    "q137_int8_quant" -> q137Sql,
    "q89_pq_adc" -> q89Sql,
    "q117_random_projection" -> q117Sql,
    "q149_ivfpq_search" -> q149Sql)
}
