package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-stratification and retrieval-ranking operators: CCNet-style
  * perplexity bucketing with a held-out LM, batch-hard triplet mining for
  * contrastive training, reciprocal-rank-fusion hybrid search, and the
  * k-fold split-balance audit.
  */
object RankOps extends QueryModule {
  /** Interpolation weights of the q233 scorer (literals on both engines
    * so no 1−λ subtraction enters the float path). */
  val Lam = 0.7
  val LamC = 0.3
  /** Normal-tercile z boundary for the head/middle/tail split. */
  val TercileZ = 0.4307

  /** q233 — perplexity stratification (the CCNet head/middle/tail split):
    * an interpolated bigram LM is fitted on the 4/5 hash split and scores
    * the held-out 1/5; held-out docs are bucketed by their z-score
    * against the scored population's exact moments.
    *
    * This is the corpus-quality stratifier in front of LLM pretraining:
    * "head" (most-fluent-under-the-LM) data is kept or upsampled, "tail"
    * is dropped or audited. Model tables are bounded exactly as q154
    * (symbols collapse to VocabCap+OOV BEFORE bigram counting, so the
    * model is (K+1)²); scoring is one scan over held-out bigrams with
    * bounded broadcast joins. Unseen-history bigrams take the unigram
    * backoff alone; the unigram is add-one smoothed over the closed
    * symbol space so p > 0 always. Buckets come from mean/σ of the
    * scored docs — exact integer sums, one sqrt (correctly rounded in
    * IEEE, hence engine-portable, unlike ln/pow) — not from a global
    * sort: the 100 TB path needs no ntile over the corpus.
    */
  def q233PerplexityBuckets(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), (pmod(col("doc_id"), lit(5)) === 0).as("is_test"))
    val tok = docs
      .select(col("doc_id"), col("is_test"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val top = tok.filter(!col("is_test"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc).limit(Curation.VocabCap).select(col("tok"))
    val sym = tok.join(broadcast(top.withColumn("inv", lit(1))), Seq("tok"), "left")
      .select(col("doc_id"), col("is_test"), col("pos"),
        when(col("inv").isNotNull, col("tok")).otherwise(lit("")).as("sym"))
      .persist()
    val uni = sym.filter(!col("is_test")).groupBy(col("sym")).agg(count(lit(1)).as("u"))
    val stats = uni.agg(sum(col("u")).as("t"), count(lit(1)).as("vs"))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val big = sym
      .withColumn("sym2", lead(col("sym"), 1).over(wp))
      .filter(col("sym2").isNotNull)
      .select(col("doc_id"), col("is_test"), col("sym"), col("sym2"))
    val bcnt = big.filter(!col("is_test"))
      .groupBy(col("sym"), col("sym2")).agg(count(lit(1)).as("bc"))
    val hcnt = bcnt.groupBy(col("sym")).agg(sum(col("bc")).as("hc"))
    val p =
      when(col("bc").isNotNull,
        lit(Lam) * (col("bc").cast("double") / col("hc").cast("double")))
        .otherwise(lit(0.0)) +
        lit(LamC) * ((coalesce(col("u"), lit(0L)) + 1).cast("double") /
          (col("t") + col("vs")).cast("double"))
    val scored = big.filter(col("is_test"))
      .join(broadcast(bcnt), Seq("sym", "sym2"), "left")
      .join(broadcast(hcnt), Seq("sym"), "left")
      .join(broadcast(uni.select(col("sym").as("sym2"), col("u"))), Seq("sym2"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("lp_micro", floor(log(p) * lit(1000000.0) + lit(0.5)).cast("long"))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nb"),
        sum((col("sym2") === "").cast("long")).as("n_oov"),
        floor(sum(col("lp_micro")).cast("double") / count(lit(1)) + lit(0.5))
          .cast("long").as("alp_micro"))
    val mom = perDoc.agg(count(lit(1)).as("n"),
      sum(col("alp_micro")).as("s1"),
      sum(col("alp_micro") * col("alp_micro")).as("s2"))
    val mu = col("s1").cast("double") / col("n").cast("double")
    val sig = sqrt(col("s2").cast("double") / col("n").cast("double") - mu * mu)
    perDoc.crossJoin(broadcast(mom))
      .withColumn("bucket",
        when(col("alp_micro").cast("double") > mu + lit(TercileZ) * sig, "head")
          .when(col("alp_micro").cast("double") < mu - lit(TercileZ) * sig, "tail")
          .otherwise("middle"))
      .select(col("doc_id"), col("nb"), col("n_oov"), col("alp_micro"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  val q233Sql: String = {
    val k = Curation.VocabCap
    s"""WITH docs AS (
       |  SELECT doc_id, ${tokensSql("text")} AS tk, (doc_id % 5 = 0) AS is_test
       |  FROM documents),
       |toks AS (SELECT doc_id, unnest(tk) AS tok FROM docs WHERE NOT is_test),
       |topl AS (SELECT LIST(tok) AS toplist FROM
       |  (SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1)
       |   ORDER BY c DESC, tok LIMIT $k)),
       |syms AS (SELECT doc_id, is_test,
       |    list_transform(tk, x -> CASE WHEN list_contains(toplist, x)
       |      THEN x ELSE chr(1) END) AS sl
       |  FROM docs CROSS JOIN topl),
       |uni AS (SELECT sym, CAST(COUNT(*) AS BIGINT) AS u
       |  FROM (SELECT unnest(sl) AS sym FROM syms WHERE NOT is_test) GROUP BY 1),
       |stats AS (SELECT CAST(SUM(u) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS vs FROM uni),
       |big AS (
       |  SELECT doc_id, is_test,
       |         unnest(list_transform(range(1, len(sl)), i -> sl[i])) AS sym,
       |         unnest(list_transform(range(1, len(sl)), i -> sl[i+1])) AS sym2
       |  FROM syms WHERE len(sl) >= 2),
       |bcnt AS (SELECT sym, sym2, CAST(COUNT(*) AS BIGINT) AS bc FROM big
       |         WHERE NOT is_test GROUP BY 1, 2),
       |hcnt AS (SELECT sym, CAST(SUM(bc) AS BIGINT) AS hc FROM bcnt GROUP BY 1),
       |scored AS (
       |  SELECT b.doc_id,
       |         b.sym2 = chr(1) AS is_oov,
       |         CAST(FLOOR(LN(
       |           CASE WHEN bc IS NOT NULL
       |                THEN $Lam * (CAST(bc AS DOUBLE) / CAST(hc AS DOUBLE)) ELSE 0.0 END
       |           + $LamC * (CAST(COALESCE(u, 0) + 1 AS DOUBLE) / CAST(t + vs AS DOUBLE))
       |         ) * 1000000.0 + 0.5) AS BIGINT) AS lp_micro
       |  FROM big b
       |  LEFT JOIN bcnt ON bcnt.sym = b.sym AND bcnt.sym2 = b.sym2
       |  LEFT JOIN hcnt ON hcnt.sym = b.sym
       |  LEFT JOIN uni ON uni.sym = b.sym2
       |  CROSS JOIN stats
       |  WHERE b.is_test),
       |per_doc AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nb,
       |         CAST(SUM(CASE WHEN is_oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |         CAST(FLOOR(CAST(SUM(lp_micro) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
       |           AS alp_micro
       |  FROM scored GROUP BY doc_id),
       |mom AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(alp_micro) AS BIGINT) AS s1,
       |         CAST(SUM(alp_micro * alp_micro) AS BIGINT) AS s2
       |  FROM per_doc)
       |SELECT doc_id, nb, n_oov, alp_micro,
       |       CASE WHEN CAST(alp_micro AS DOUBLE) >
       |                 CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
       |                 + $TercileZ * SQRT(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
       |                     - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
       |                       * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
       |            THEN 'head'
       |            WHEN CAST(alp_micro AS DOUBLE) <
       |                 CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
       |                 - $TercileZ * SQRT(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
       |                     - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
       |                       * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
       |            THEN 'tail'
       |            ELSE 'middle' END AS bucket
       |FROM per_doc, mom ORDER BY doc_id""".stripMargin
  }

  /** Anchor stride for q234 (every 17th vector anchors a triplet). */
  val AnchorMod = 17

  /** q234 — batch-hard triplet mining (FaceNet/contrastive training): for
    * each anchor, the hardest positive (same label, LOWEST cosine) and
    * hardest negative (different label, HIGHEST cosine), with the triplet
    * margin. Anchors are a strided slice — the "batch" — so the pair
    * space is |anchors|·N, never N².
    *
    * DOCUMENTED EXACTNESS BASELINE since round 9 (the q38/q91/q235/q246
    * precedent, allowlisted in PlanInvariantSpec): it pays the full
    * anchor×corpus grid for the exact batch-hard optimum, and q284 is
    * the scale-bounded production twin — the same triplet semantics
    * mined from label-partitioned IVF cells (positives) and the hybrid
    * candidate pool (negatives), nothing corpus-proportional broadcast.
    */
  def q234TripletMine(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    import graft.functions.VectorExpressions.cosineF
    val e = Tables.embeddings(s, d)
    val anchors = e.filter(col("vec_id") % AnchorMod === 0)
      .select(col("vec_id").as("aid"), col("label").as("alabel"), col("embedding").as("ae"))
    val cands = e.select(col("vec_id").as("cid"), col("label").as("clabel"),
      col("embedding").as("ce"))
    val scored = cands.join(broadcast(anchors), col("aid") =!= col("cid"))
      .withColumn("cos", cosineF("ae", "ce"))
      .persist()
    val wPos = Window.partitionBy(col("aid")).orderBy(col("cos").asc, col("cid"))
    val pos = scored.filter(col("clabel") === col("alabel"))
      .withColumn("rn", row_number().over(wPos)).filter(col("rn") === 1)
      .select(col("aid"), col("alabel"), col("cid").as("pos_id"), col("cos").as("cos_pos"))
    val wNeg = Window.partitionBy(col("aid")).orderBy(col("cos").desc, col("cid"))
    val neg = scored.filter(col("clabel") =!= col("alabel"))
      .withColumn("rn", row_number().over(wNeg)).filter(col("rn") === 1)
      .select(col("aid"), col("cid").as("neg_id"), col("cos").as("cos_neg"))
    pos.join(neg, "aid")
      .select(col("aid"), col("alabel"), col("pos_id"), col("cos_pos"),
        col("neg_id"), col("cos_neg"),
        round(col("cos_neg") - col("cos_pos"), 6).as("hardness"))
      .orderBy(col("aid"))
  }

  val q234Sql: String =
    s"""WITH a AS (SELECT vec_id AS aid, label AS alabel, embedding AS ae
       |           FROM embeddings WHERE vec_id % $AnchorMod = 0),
       |c AS (SELECT vec_id AS cid, label AS clabel, embedding AS ce FROM embeddings),
       |scored AS (
       |  SELECT aid, alabel, cid, clabel, ${cosineSql("ae", "ce")} AS cos
       |  FROM a JOIN c ON aid <> cid),
       |pos AS (
       |  SELECT aid, alabel, cid AS pos_id, cos AS cos_pos,
       |         ROW_NUMBER() OVER (PARTITION BY aid ORDER BY cos ASC, cid) AS rn
       |  FROM scored WHERE clabel = alabel),
       |neg AS (
       |  SELECT aid, cid AS neg_id, cos AS cos_neg,
       |         ROW_NUMBER() OVER (PARTITION BY aid ORDER BY cos DESC, cid) AS rn
       |  FROM scored WHERE clabel <> alabel)
       |SELECT pos.aid, alabel, pos_id, cos_pos, neg_id, cos_neg,
       |       ROUND(cos_neg - cos_pos, 6) AS hardness
       |FROM pos JOIN neg ON pos.aid = neg.aid AND pos.rn = 1 AND neg.rn = 1
       |WHERE pos.rn = 1 AND neg.rn = 1
       |ORDER BY pos.aid""".stripMargin

  /** RRF rank constant (the standard k=60 from Cormack et al.). */
  val RrfK = 60
  /** Fused results kept per query in q235. */
  val RrfTopN = 10

  /** q235 — reciprocal-rank-fusion hybrid search: every query document
    * retrieves by embedding cosine AND by 3-gram Jaccard, and the two
    * rankings fuse as Σ 1/(60+rank) — the standard hybrid
    * (dense + lexical) retrieval combiner, rank-based so the two
    * incomparable score scales never mix. Ranks come from per-query
    * windows (|queries|-bounded partitions); the fused score is micro-
    * quantized from an identical two-term IEEE sum.
    *
    * The lexical leg runs as an INVERTED INDEX (dict-encoded shingles,
    * query postings broadcast, intersections as a count aggregate) —
    * never as per-pair array scans, whose cost is |q|·N·|shingle|² and
    * whose arrays would have to ride every row of the pair grid. The
    * dense leg is the codegen'd cosine over the same broadcast query
    * batch — q235/q246 are DOCUMENTED EXACTNESS BASELINES (the q38/q91
    * precedent, allowlisted in PlanInvariantSpec): they rank every query
    * against the whole corpus so the scale-bounded twin has an exact
    * ground truth to be graded against. The production path is q274,
    * which generates candidates from q148's trained IVF cells + q35's
    * LSH bands and fuses identically.
    */
  /** The shared dense+lexical ranking core of q235/q246: per (query,
    * candidate), cosine rank r1 and shingle-Jaccard rank r2. */
  private[operators] def hybridRanks(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    import graft.functions.VectorExpressions.cosineF
    // dict-encoded 3-gram shingle postings (the q229/q86 pattern: hash
    // each DISTINCT token once, fold grams from lead windows)
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val dict = tok.select(col("tok")).distinct().withColumn("h", polyHash(col("tok")))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val postings = tok.join(broadcast(dict), "tok")
      .withColumn("h2", lead(col("h"), 1).over(wp))
      .withColumn("h3", lead(col("h"), 2).over(wp))
      .filter(col("h3").isNotNull)
      .select(col("doc_id"),
        (((col("h") * 31 + col("h2")) % P) * 31 + col("h3")).mod(P).as("sh"))
      .distinct()
      .persist()
    val sz = postings.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val qPost = postings.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("qid"), col("sh"))
    val inter = postings.join(broadcast(qPost), "sh")
      .filter(col("qid") =!= col("doc_id"))
      .groupBy(col("qid"), col("doc_id").as("cid"))
      .agg(count(lit(1)).as("ninter"))
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val qEmb = emb.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val pairs = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .join(broadcast(qEmb), col("qid") =!= col("cid"))
      .withColumn("cos", cosineF("qe", "ce"))
      .join(inter, Seq("qid", "cid"), "left")
      // LEFT joins: a doc with < 3 tokens has no shingle rows at all, and
      // an inner join here would drop it from the pair grid while the
      // oracle keeps it with an empty shingle list (ADVICE r7 #4)
      .join(sz.select(col("doc_id").as("cid"), col("nsh").as("csz")), Seq("cid"), "left")
      .join(broadcast(sz.select(col("doc_id").as("qid"), col("nsh").as("qsz"))), Seq("qid"), "left")
      .withColumn("ni", coalesce(col("ninter"), lit(0L)))
      .withColumn("den",
        coalesce(col("qsz"), lit(0L)) + coalesce(col("csz"), lit(0L)) - col("ni"))
      .withColumn("jac_micro",
        when(col("den") === 0, lit(0L)).otherwise(
          floor(col("ni").cast("double") /
            col("den").cast("double") * lit(1000000.0) + lit(0.5))
            .cast("long")))
    val r1 = row_number().over(
      Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid")))
    val r2 = row_number().over(
      Window.partitionBy(col("qid")).orderBy(col("jac_micro").desc, col("cid")))
    pairs.withColumn("r1", r1).withColumn("r2", r2)
      .select(col("qid"), col("cid"),
        col("r1").cast("long").as("r1"), col("r2").cast("long").as("r2"))
  }

  /** The shared DuckDB CTE chain producing (qid, cid, r1, r2). */
  private[operators] val hybridRanksCtes: String = {
    val sh = shingleHashesSql(tokenHashesSql(tokensSql("text")))
    s"""ds AS (SELECT doc_id, $sh AS sh FROM documents),
       |j AS (SELECT doc_id, sh, embedding FROM ds JOIN embeddings ON doc_id = vec_id),
       |q AS (SELECT doc_id AS qid, sh AS qsh, embedding AS qe FROM j WHERE doc_id % 97 = 0),
       |c AS (SELECT doc_id AS cid, sh AS csh, embedding AS ce FROM j),
       |hpairs AS (
       |  SELECT qid, cid, ${cosineSql("qe", "ce")} AS cos,
       |         CASE WHEN len(qsh) + len(csh)
       |                   - len(list_filter(qsh, x -> list_contains(csh, x))) = 0
       |              THEN CAST(0 AS BIGINT)
       |              ELSE CAST(FLOOR(
       |           CAST(len(list_filter(qsh, x -> list_contains(csh, x))) AS DOUBLE)
       |           / CAST(len(qsh) + len(csh)
       |               - len(list_filter(qsh, x -> list_contains(csh, x))) AS DOUBLE)
       |           * 1000000.0 + 0.5) AS BIGINT) END AS jac_micro
       |  FROM q JOIN c ON qid <> cid),
       |hranked AS (
       |  SELECT qid, cid, jac_micro,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS r1,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY jac_micro DESC, cid) AS r2
       |  FROM hpairs)""".stripMargin
  }

  def q235RrfHybrid(s: SparkSession, d: String): DataFrame = {
    val ranked = hybridRanks(s, d)
      .withColumn("rrf_micro",
        floor((lit(1.0) / (lit(RrfK) + col("r1")).cast("double") +
          lit(1.0) / (lit(RrfK) + col("r2")).cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
    ranked.withColumn("rank_fused", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rrf_micro").desc, col("cid"))))
      .filter(col("rank_fused") <= RrfTopN)
      .select(col("qid"), col("rank_fused").cast("long").as("rank_fused"), col("cid"),
        col("r1").cast("long").as("r1"), col("r2").cast("long").as("r2"), col("rrf_micro"))
      .orderBy(col("qid"), col("rank_fused"))
  }

  val q235Sql: String = {
    val sh = shingleHashesSql(tokenHashesSql(tokensSql("text")))
    s"""WITH ds AS (SELECT doc_id, $sh AS sh FROM documents),
       |j AS (SELECT doc_id, sh, embedding FROM ds JOIN embeddings ON doc_id = vec_id),
       |q AS (SELECT doc_id AS qid, sh AS qsh, embedding AS qe FROM j WHERE doc_id % 97 = 0),
       |c AS (SELECT doc_id AS cid, sh AS csh, embedding AS ce FROM j),
       |pairs AS (
       |  SELECT qid, cid, ${cosineSql("qe", "ce")} AS cos,
       |         CASE WHEN len(qsh) + len(csh)
       |                   - len(list_filter(qsh, x -> list_contains(csh, x))) = 0
       |              THEN CAST(0 AS BIGINT)
       |              ELSE CAST(FLOOR(
       |           CAST(len(list_filter(qsh, x -> list_contains(csh, x))) AS DOUBLE)
       |           / CAST(len(qsh) + len(csh)
       |               - len(list_filter(qsh, x -> list_contains(csh, x))) AS DOUBLE)
       |           * 1000000.0 + 0.5) AS BIGINT) END AS jac_micro
       |  FROM q JOIN c ON qid <> cid),
       |ranked AS (
       |  SELECT qid, cid, jac_micro,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS r1,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY jac_micro DESC, cid) AS r2
       |  FROM pairs),
       |fused AS (
       |  SELECT qid, cid, r1, r2,
       |         CAST(FLOOR((1.0 / CAST($RrfK + r1 AS DOUBLE)
       |                     + 1.0 / CAST($RrfK + r2 AS DOUBLE))
       |                * 1000000.0 + 0.5) AS BIGINT) AS rrf_micro
       |  FROM ranked),
       |topn AS (
       |  SELECT qid, cid, r1, r2, rrf_micro,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, cid)
       |           AS rank_fused
       |  FROM fused)
       |SELECT qid, rank_fused, cid, r1, r2, rrf_micro
       |FROM topn WHERE rank_fused <= $RrfTopN
       |ORDER BY qid, rank_fused""".stripMargin
  }

  /** Fold count and mixing constant for the q236 split audit. */
  val Folds = 5
  val FoldMix = 2654435761L

  /** q236 — k-fold split assignment + balance audit: rows land in folds
    * by a Knuth-multiplicative id hash (deterministic, data-independent,
    * re-derivable by any consumer — the q219 manifest's argument applied
    * to cross-validation), and the audit reports the fold×label
    * contingency with each cell's expected count and χ² contribution —
    * the standard check that a "random" split didn't correlate with the
    * label. One scan, one (K·|labels|)-cell aggregate; χ² from exact
    * integers in one shared-order division each.
    */
  def q236FoldAudit(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(pmod(col("o_orderkey") * FoldMix % P, lit(Folds)).as("fold"),
        col("o_orderpriority").as("label"))
    val cells = o.groupBy(col("fold"), col("label")).agg(count(lit(1)).as("n"))
    val foldTot = cells.groupBy(col("fold")).agg(sum(col("n")).as("nf"))
    val labTot = cells.groupBy(col("label")).agg(sum(col("n")).as("nl"))
    val tot = cells.agg(sum(col("n")).as("nn"))
    val expd = col("nf").cast("double") * col("nl").cast("double") / col("nn").cast("double")
    val chi = (col("n").cast("double") - expd) * (col("n").cast("double") - expd) / expd
    cells.join(broadcast(foldTot), "fold").join(broadcast(labTot), "label")
      .crossJoin(broadcast(tot))
      .select(col("fold"), col("label"), col("n"),
        floor(expd * lit(1000000.0) + lit(0.5)).cast("long").as("expected_micro"),
        floor(chi * lit(1000000.0) + lit(0.5)).cast("long").as("chi2_micro"))
      .orderBy(col("fold"), col("label"))
  }

  val q236Sql: String =
    s"""WITH o AS (
       |  SELECT ((o_orderkey * $FoldMix % $P) + $P) % $P % $Folds AS fold,
       |         o_orderpriority AS label
       |  FROM orders),
       |cells AS (SELECT fold, label, CAST(COUNT(*) AS BIGINT) AS n
       |          FROM o GROUP BY 1, 2),
       |ft AS (SELECT fold, CAST(SUM(n) AS BIGINT) AS nf FROM cells GROUP BY 1),
       |lt AS (SELECT label, CAST(SUM(n) AS BIGINT) AS nl FROM cells GROUP BY 1),
       |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells)
       |SELECT fold, label, n,
       |       CAST(FLOOR(CAST(nf AS DOUBLE) * CAST(nl AS DOUBLE) / CAST(nn AS DOUBLE)
       |              * 1000000.0 + 0.5) AS BIGINT) AS expected_micro,
       |       CAST(FLOOR((CAST(n AS DOUBLE)
       |                - CAST(nf AS DOUBLE) * CAST(nl AS DOUBLE) / CAST(nn AS DOUBLE))
       |              * (CAST(n AS DOUBLE)
       |                - CAST(nf AS DOUBLE) * CAST(nl AS DOUBLE) / CAST(nn AS DOUBLE))
       |              / (CAST(nf AS DOUBLE) * CAST(nl AS DOUBLE) / CAST(nn AS DOUBLE))
       |              * 1000000.0 + 0.5) AS BIGINT) AS chi2_micro
       |FROM cells JOIN ft USING (fold) JOIN lt USING (label), tt
       |ORDER BY fold, label""".stripMargin

  /** RBO persistence parameter and truncation depth for q246. */
  val RboP = 0.9
  val RboDepth = 50

  /** q246 — rank-biased overlap between the two retrieval legs: how much
    * do the dense (cosine) and lexical (Jaccard) rankings of q235
    * actually agree, top-weighted? RBO@50 with p=0.9 (Webber et al.) —
    * the ranking-similarity metric that, unlike Kendall/Spearman, is
    * defined on indefinite rankings and weights the head. Low RBO is the
    * signal that fusion (q235) has something to add; RBO→1 means one leg
    * is redundant.
    *
    * Determinism: the p^(d−1) weights are embedded as double LITERALS
    * (Scala's Double.toString round-trips exactly, and both engines
    * parse the same nearest double), each depth term is micro-quantized
    * to a BIGINT before the (order-free, exact) sum, and the depth grid
    * is a [[RboDepth]]-row broadcast — per-query work is D·|candidates|
    * filtered rows into a D-cell aggregate.
    */
  def q246RankOverlap(s: SparkSession, d: String): DataFrame = {
    val ranks = hybridRanks(s, d)
    val weights = (1 to RboDepth).map(dep => (dep, math.pow(RboP, dep - 1)))
    val depths = s.createDataFrame(weights).toDF("dep", "w")
    val ov = ranks.join(broadcast(depths),
        col("r1") <= col("dep") && col("r2") <= col("dep"))
      .groupBy(col("qid"), col("dep"), col("w"))
      .agg(count(lit(1)).as("ov"))
      .withColumn("term_nano",
        floor(col("w") * col("ov").cast("double") / col("dep").cast("double") *
          lit(1000000000.0) + lit(0.5)).cast("long"))
    // anchor on the query list: zero-overlap queries report RBO 0
    // instead of vanishing (an empty result is not a graded answer)
    val agg = ov.groupBy(col("qid"))
      .agg(sum(col("term_nano")).as("sum_nano"),
        max(when(col("dep") === RboDepth, col("ov"))).as("ov_d"))
    ranks.select(col("qid")).distinct()
      .join(agg, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("ov_d"), lit(0L)).as("overlap_at_depth"),
        coalesce(
          floor(lit(1.0 - RboP) * col("sum_nano").cast("double") + lit(0.5)).cast("long"),
          lit(0L)).as("rbo_nano"))
      .orderBy(col("qid"))
  }

  val q246Sql: String = {
    val weightRows = (1 to RboDepth)
      .map(dep => s"(${dep}, ${math.pow(RboP, dep - 1)})").mkString(", ")
    s"""WITH $hybridRanksCtes,
       |depths(dep, w) AS (VALUES $weightRows),
       |ov AS (
       |  SELECT qid, dep, w, CAST(COUNT(*) AS BIGINT) AS ov
       |  FROM hranked JOIN depths ON r1 <= dep AND r2 <= dep
       |  GROUP BY qid, dep, w),
       |terms AS (
       |  SELECT qid, dep, ov,
       |         CAST(FLOOR(w * CAST(ov AS DOUBLE) / CAST(dep AS DOUBLE)
       |                * 1000000000.0 + 0.5) AS BIGINT) AS term_nano
       |  FROM ov),
       |agg AS (
       |  SELECT qid,
       |         CAST(MAX(CASE WHEN dep = $RboDepth THEN ov END) AS BIGINT) AS ov_d,
       |         CAST(FLOOR(${1.0 - RboP} * CAST(SUM(term_nano) AS DOUBLE) + 0.5) AS BIGINT)
       |           AS rbo_nano
       |  FROM terms GROUP BY qid),
       |qids AS (SELECT DISTINCT qid FROM hranked)
       |SELECT qid,
       |       COALESCE(ov_d, 0) AS overlap_at_depth,
       |       COALESCE(rbo_nano, 0) AS rbo_nano
       |FROM qids LEFT JOIN agg USING (qid)
       |ORDER BY qid""".stripMargin
  }

  /** Constant query-batch size, IVF probe count, and quantizer shape for
    * q274 (k/iters match q148 so the trained model is the same object). */
  val HybridQueryCap = 16
  val HybridProbes = 2
  val HybridK = 8
  val HybridIters = 3

  /** q274 — the SCALE-BOUNDED hybrid retrieval fusion: q235's RRF over
    * candidates generated by q148's trained IVF cells (dense leg) and
    * q35's LSH band buckets (lexical leg), for a CONSTANT batch of
    * [[HybridQueryCap]] queries.
    *
    * This is the production shape of hybrid search, where q235 is the
    * exactness baseline: q235 ranks every query against the whole corpus
    * (a |q|×N grid — fine for grading, quadratic at 100 TB), while here
    * every per-query candidate set is bounded by 2 probed IVF cells plus
    * the query's LSH bucket collisions, and ranks/RRF are computed within
    * that pool (the standard candidate-generation → re-rank contract).
    *
    * Plan shape — deliberately nothing corpus-proportional crosses the
    * wire or a broadcast:
    *   - since round 10 the model, the corpus cell assignment, and the
    *     lexical MinHash table come from the PERSISTED
    *     [[graft.ml.HybridIndex]] artifact (q305 is the graded build op)
    *     — the index build/serve split of every production vector
    *     system; the serve path below reads parquet instead of
    *     re-training, which dropped the three consumers' floors from
    *     ~3.9/4.1/5.4 s to serve-only cost;
    *   - the k-row model is collected and embedded as LITERAL centroid
    *     arrays, so QUERY probing is a posexplode over an 8-literal
    *     distance array, top-[[HybridProbes]] per query (|q|×k rows);
    *   - every join is an equi-join, and every broadcast side is
    *     O(|q|) — probes (32 rows), query band keys (64), query
    *     embeddings and shingle sets (16).
    * The oracle re-derives the identical model (VectorOps.trainedModelCtes,
    * the unrolled Lloyd recurrence) and replays both candidate generators
    * serially, so candidate sets — and therefore ranks and fused scores —
    * hash-match exactly; no recall slack is claimed.
    */
  /** The shared scale-bounded candidate core of q274 (and q282's
    * hard-negative miner, and q284's triplet miner): per
    * (query, candidate) from the IVF + LSH generators — with provenance
    * (`is_dense`) and both labels riding the joins the pool pays anyway —
    * cosine, Jaccard micro, and the two in-pool ranks. */
  private[operators] def hybridScored(s: SparkSession, d: String): DataFrame = {
    import graft.ml.HybridIndex
    graft.functions.VectorExpressions.register(s)
    graft.functions.VectorExpressions.registerAny(s)
    import graft.functions.VectorExpressions.cosineF
    val e = Tables.embeddings(s, d)
    // ---- dense leg: the PERSISTED trained model (q305 is the graded
    // build; this is the serve path — through round 9 each of the three
    // hybrid consumers re-trained this model in-query, ~60% of each run)
    val model: Seq[Seq[Double]] = HybridIndex.model(s, d)
    def dists(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array(model.map(c => call_function("dist_sq_a", vec, array(c.map(lit): _*))): _*)
    val assigned = HybridIndex.assigned(s, d)
      .select(col("vec_id").as("cid"), col("cluster"))
    val qv = e.filter(col("vec_id") < HybridQueryCap)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("alabel"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("dsq"), col("cluster"))
    val probes = qv
      .select(col("qid"), posexplode(dists(col("qe"))).as(Seq("cluster", "dsq")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= HybridProbes)
      .select(col("qid"), col("cluster").cast("int").as("cluster"))
    val dcand = assigned.join(broadcast(probes), "cluster")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"))
    // ---- lexical leg: the persisted MinHash signature table, banded
    val docsSig = HybridIndex.docsSig(s, d)
    val bands = docsSig.select(col("doc_id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), col(s"sig${2 * b}").as("v0"),
          col(s"sig${2 * b + 1}").as("v1"))): _*)).as("bk"))
    val qbands = bands.filter(col("doc_id") < HybridQueryCap)
      .select(col("doc_id").as("qid"), col("bk").as("qbk"))
    val lcand = bands.join(broadcast(qbands), col("bk") === col("qbk"))
      .filter(col("qid") =!= col("doc_id"))
      .select(col("qid"), col("doc_id").as("cid"))
    // ---- candidate pool + re-rank (q235's scoring and fusion, verbatim).
    // Provenance (is_dense) and the two labels ride joins the pool pays
    // anyway — q284's triplet miner needs them; q274/q282 ignore them.
    val cand = dcand.withColumn("is_dense", lit(1L))
      .unionByName(lcand.withColumn("is_dense", lit(0L)))
      .groupBy(col("qid"), col("cid")).agg(max(col("is_dense")).as("is_dense"))
    val sets = docsSig.select(col("doc_id"), col("sh_set"))
    val scored = cand
      .join(e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("label").as("clabel")), "cid")
      .join(broadcast(qv), "qid")
      .withColumn("cos", cosineF("qe", "ce"))
      // LEFT joins: a candidate (or query) with < 3 tokens has no shingle
      // row — it must stay in the pool with an empty set, not vanish
      .join(sets.select(col("doc_id").as("cid"), col("sh_set").as("sb")), Seq("cid"), "left")
      .join(broadcast(sets.filter(col("doc_id") < HybridQueryCap)
        .select(col("doc_id").as("qid"), col("sh_set").as("sa"))), Seq("qid"), "left")
      .withColumn("ni",
        size(array_intersect(coalesce(col("sa"), array().cast("array<long>")),
          coalesce(col("sb"), array().cast("array<long>")))).cast("long"))
      .withColumn("den",
        coalesce(size(col("sa")), lit(0)).cast("long") +
          coalesce(size(col("sb")), lit(0)).cast("long") - col("ni"))
      .withColumn("jac_micro",
        when(col("den") === 0, lit(0L)).otherwise(
          floor(col("ni").cast("double") / col("den").cast("double") *
            lit(1000000.0) + lit(0.5)).cast("long")))
    val r1 = row_number().over(
      Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid")))
    val r2 = row_number().over(
      Window.partitionBy(col("qid")).orderBy(col("jac_micro").desc, col("cid")))
    scored.withColumn("r1", r1).withColumn("r2", r2)
  }

  def q274HybridIvfLsh(s: SparkSession, d: String): DataFrame = {
    val fused = hybridScored(s, d)
      .withColumn("rrf_micro",
        floor((lit(1.0) / (lit(RrfK) + col("r1")).cast("double") +
          lit(1.0) / (lit(RrfK) + col("r2")).cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
    fused.withColumn("rank_fused", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rrf_micro").desc, col("cid"))))
      .filter(col("rank_fused") <= RrfTopN)
      .select(col("qid"), col("rank_fused").cast("long").as("rank_fused"), col("cid"),
        col("r1").cast("long").as("r1"), col("r2").cast("long").as("r2"), col("rrf_micro"))
      .orderBy(col("qid"), col("rank_fused"))
  }

  /** The q274/q282-shared oracle CTE chain: the unrolled Lloyd model
    * (shared with q148), both candidate generators replayed serially,
    * scoring + in-pool ranks — ends at `ranked`
    * (qid, cid, jac_micro, r1, r2). lazy: references VectorOps. */
  /** The lexical-index CTE fragment (df-capped shingle lists + 8 MinHash
    * signatures per doc) — the oracle replay of the
    * [[graft.ml.HybridIndex]] build's lexical half, shared by the hybrid
    * consumers' oracles and q305's index-content oracle. Ends at `lsig`
    * (doc_id, sh, sig0..sig7). */
  private[operators] val lexSigCtes: String = {
    val sigs = (0 until 8).map(i => s"${minHashSigSql("sh", i)} AS sig$i").mkString(",\n  ")
    s"""lt AS (SELECT doc_id, ${shingleHashesSql(tokenHashesSql(tokensSql("text")))} AS sh0
       |       FROM documents),
       |le AS (SELECT doc_id, unnest(sh0) AS sh FROM lt),
       |ldf AS (SELECT sh, COUNT(*) AS df FROM le GROUP BY 1),
       |lf AS (SELECT doc_id, list(sh) AS sh FROM le JOIN ldf USING (sh)
       |       WHERE df <= ${ScaleOps.ShingleDfCap} GROUP BY doc_id),
       |lsig AS (SELECT doc_id, sh, $sigs FROM lf)""".stripMargin
  }

  private[operators] lazy val hybridScoredCtes: String = {
    val distQ =
      "list_reduce(list_transform(range(1, 65), j -> " +
        "(qv.qe[j] - c.cent[j]) * (qv.qe[j] - c.cent[j])), (a, b) -> a + b)"
    s"""${VectorOps.trainedModelCtes},
       |qv AS (SELECT vec_id AS qid, ve AS qe FROM v WHERE vec_id < $HybridQueryCap),
       |pd AS (SELECT qv.qid, c.cluster, $distQ AS dsq FROM qv CROSS JOIN c3 c),
       |probes AS (SELECT qid, cluster FROM (
       |    SELECT qid, cluster,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dsq, cluster) AS rn
       |    FROM pd) WHERE rn <= $HybridProbes),
       |dcand AS (
       |  SELECT p.qid, a.vec_id AS cid, 1 AS is_dense
       |  FROM probes p JOIN a4 a USING (cluster) WHERE a.vec_id <> p.qid),
       |$lexSigCtes,
       |lband AS (
       |  SELECT doc_id, b AS band,
       |    CASE b WHEN 0 THEN sig0 WHEN 1 THEN sig2 WHEN 2 THEN sig4 ELSE sig6 END AS v0,
       |    CASE b WHEN 0 THEN sig1 WHEN 1 THEN sig3 WHEN 2 THEN sig5 ELSE sig7 END AS v1
       |  FROM lsig, UNNEST(range(0, 4)) AS u(b)),
       |lcand AS (
       |  SELECT qb.doc_id AS qid, b.doc_id AS cid, 0 AS is_dense
       |  FROM lband qb JOIN lband b
       |    ON qb.band = b.band AND qb.v0 = b.v0 AND qb.v1 = b.v1
       |  WHERE qb.doc_id < $HybridQueryCap AND b.doc_id <> qb.doc_id),
       |cand AS (SELECT qid, cid, MAX(is_dense) AS is_dense FROM (
       |  SELECT qid, cid, is_dense FROM dcand
       |  UNION ALL SELECT qid, cid, is_dense FROM lcand) GROUP BY qid, cid),
       |pairs AS (
       |  SELECT cand.qid, cand.cid, cand.is_dense,
       |         eq.label AS alabel, ec.label AS clabel,
       |         ${cosineSql("eq.embedding", "ec.embedding")} AS cos,
       |         COALESCE(len(list_filter(fq.sh, x -> list_contains(fc.sh, x))), 0) AS ni,
       |         COALESCE(len(fq.sh), 0) + COALESCE(len(fc.sh), 0)
       |           - COALESCE(len(list_filter(fq.sh, x -> list_contains(fc.sh, x))), 0) AS den
       |  FROM cand
       |  JOIN embeddings eq ON eq.vec_id = cand.qid
       |  JOIN embeddings ec ON ec.vec_id = cand.cid
       |  LEFT JOIN lf fq ON fq.doc_id = cand.qid
       |  LEFT JOIN lf fc ON fc.doc_id = cand.cid),
       |jp AS (
       |  SELECT qid, cid, is_dense, alabel, clabel, cos,
       |         CASE WHEN den = 0 THEN CAST(0 AS BIGINT)
       |              ELSE CAST(FLOOR(CAST(ni AS DOUBLE) / CAST(den AS DOUBLE)
       |                     * 1000000.0 + 0.5) AS BIGINT) END AS jac_micro
       |  FROM pairs),
       |ranked AS (
       |  SELECT qid, cid, is_dense, alabel, clabel, cos, jac_micro,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS r1,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY jac_micro DESC, cid) AS r2
       |  FROM jp)""".stripMargin
  }

  /** Sentinel id for a q284 anchor whose positive/negative pool leg is
    * empty (can't happen on the committed fixtures; the guard keeps the
    * anchored output total and the oracle replicates it). */
  val TripletNone = -1L

  /** q284 — SCALE-BOUNDED batch-hard triplet mining: q234's semantics
    * (hardest positive = same label, lowest cosine; hardest negative =
    * different label, highest cosine; margin) mined from the
    * [[hybridScored]] candidate pool instead of the full anchor×corpus
    * grid. Positives come from the anchor's probed IVF cells restricted
    * to its own label — exactly the candidate set a label-partitioned
    * IVF index ((label, cell) keys over the same literal centroids)
    * returns, so `is_dense AND clabel = alabel` IS the label-partitioned
    * probe; negatives come from the whole hybrid pool (dense ∪ lexical),
    * the q282 hard-negative source. Anchors are the constant
    * [[HybridQueryCap]] query batch, every join is an equi-join, and the
    * per-anchor argmin/argmax windows are pool-bounded — nothing
    * corpus-proportional crosses a broadcast. q234 is hereby the
    * DOCUMENTED EXACTNESS BASELINE this twin is graded against (the
    * q38→q39/q274 precedent): it pays |anchors|·N for the exact
    * batch-hard optimum; this is the shape that survives 100 TB.
    * Cosines surface as micro-units; an anchored LEFT join keeps every
    * anchor in the report even if a leg is empty ([[TripletNone]]). */
  def q284TripletBounded(s: SparkSession, d: String): DataFrame = {
    // two argmin/argmax legs consume the pool: pin it so the LSH+IVF
    // candidate pipeline runs once (bench clearCache() releases)
    val pool = hybridScored(s, d).persist()
    val wPos = Window.partitionBy(col("qid")).orderBy(col("cos").asc, col("cid"))
    val pos = pool.filter(col("is_dense") === 1L && col("clabel") === col("alabel"))
      .withColumn("rn", row_number().over(wPos)).filter(col("rn") === 1)
      .select(col("qid"), col("cid").as("pos_id"),
        floor(col("cos") * lit(1000000.0) + lit(0.5)).cast("long").as("cos_pos_micro"))
    val wNeg = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    val neg = pool.filter(col("clabel") =!= col("alabel"))
      .withColumn("rn", row_number().over(wNeg)).filter(col("rn") === 1)
      .select(col("qid"), col("cid").as("neg_id"),
        floor(col("cos") * lit(1000000.0) + lit(0.5)).cast("long").as("cos_neg_micro"))
    val anchors = Tables.embeddings(s, d).filter(col("vec_id") < HybridQueryCap)
      .select(col("vec_id").as("qid"), col("label").as("alabel"))
    anchors.join(pos, Seq("qid"), "left").join(neg, Seq("qid"), "left")
      .select(col("qid"), col("alabel"),
        coalesce(col("pos_id"), lit(TripletNone)).as("pos_id"),
        coalesce(col("cos_pos_micro"), lit(0L)).as("cos_pos_micro"),
        coalesce(col("neg_id"), lit(TripletNone)).as("neg_id"),
        coalesce(col("cos_neg_micro"), lit(0L)).as("cos_neg_micro"),
        when(col("pos_id").isNull || col("neg_id").isNull, lit(0L))
          .otherwise(col("cos_neg_micro") - col("cos_pos_micro")).as("margin_micro"))
      .orderBy(col("qid"))
  }

  lazy val q284Sql: String = // lazy: hybridScoredCtes references VectorOps
    s"""WITH $hybridScoredCtes,
       |pos AS (
       |  SELECT qid, cid AS pos_id,
       |         CAST(FLOOR(cos * 1000000.0 + 0.5) AS BIGINT) AS cos_pos_micro,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos ASC, cid) AS rn
       |  FROM ranked WHERE is_dense = 1 AND clabel = alabel),
       |neg AS (
       |  SELECT qid, cid AS neg_id,
       |         CAST(FLOOR(cos * 1000000.0 + 0.5) AS BIGINT) AS cos_neg_micro,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |  FROM ranked WHERE clabel <> alabel),
       |anchors AS (SELECT vec_id AS qid, label AS alabel FROM embeddings
       |            WHERE vec_id < $HybridQueryCap)
       |SELECT a.qid, a.alabel,
       |       CAST(COALESCE(p.pos_id, $TripletNone) AS BIGINT) AS pos_id,
       |       CAST(COALESCE(p.cos_pos_micro, 0) AS BIGINT) AS cos_pos_micro,
       |       CAST(COALESCE(n.neg_id, $TripletNone) AS BIGINT) AS neg_id,
       |       CAST(COALESCE(n.cos_neg_micro, 0) AS BIGINT) AS cos_neg_micro,
       |       CAST(CASE WHEN p.pos_id IS NULL OR n.neg_id IS NULL THEN 0
       |            ELSE n.cos_neg_micro - p.cos_pos_micro END AS BIGINT) AS margin_micro
       |FROM anchors a
       |LEFT JOIN (SELECT * FROM pos WHERE rn = 1) p USING (qid)
       |LEFT JOIN (SELECT * FROM neg WHERE rn = 1) n USING (qid)
       |ORDER BY a.qid""".stripMargin

  val q274Sql: String =
    s"""WITH $hybridScoredCtes,
       |fused AS (
       |  SELECT qid, cid, r1, r2,
       |         CAST(FLOOR((1.0 / CAST($RrfK + r1 AS DOUBLE)
       |                     + 1.0 / CAST($RrfK + r2 AS DOUBLE))
       |                * 1000000.0 + 0.5) AS BIGINT) AS rrf_micro
       |  FROM ranked),
       |topn AS (
       |  SELECT qid, cid, r1, r2, rrf_micro,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, cid)
       |           AS rank_fused
       |  FROM fused)
       |SELECT qid, rank_fused, cid, CAST(r1 AS BIGINT) AS r1, CAST(r2 AS BIGINT) AS r2,
       |       rrf_micro
       |FROM topn WHERE rank_fused <= $RrfTopN
       |ORDER BY qid, rank_fused""".stripMargin

  val queries: Map[String, Q] = Map(
    "q233_ppl_buckets" -> q233PerplexityBuckets _,
    "q234_triplet_mine" -> q234TripletMine _,
    "q235_rrf_hybrid" -> q235RrfHybrid _,
    "q236_fold_audit" -> q236FoldAudit _,
    "q246_rank_overlap" -> q246RankOverlap _,
    "q274_hybrid_ivf_lsh" -> q274HybridIvfLsh _,
    "q284_triplet_bounded" -> q284TripletBounded _)

  val oracles: Map[String, String] = Map(
    "q233_ppl_buckets" -> q233Sql,
    "q234_triplet_mine" -> q234Sql,
    "q235_rrf_hybrid" -> q235Sql,
    "q236_fold_audit" -> q236Sql,
    "q246_rank_overlap" -> q246Sql,
    "q274_hybrid_ivf_lsh" -> q274Sql,
    "q284_triplet_bounded" -> q284Sql)
}
