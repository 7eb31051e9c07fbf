package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-governance audits: the reports a data-curation team publishes
  * about a release — cross-source duplication overlap (which sources
  * copy from each other), weak-supervision label aggregation (majority
  * vote + per-labeler reliability when no gold labels exist), and
  * k-anonymity of quasi-identifier groups (can a document be singled
  * out by its visible attributes). All-integer accounting throughout;
  * every micro share is one integer DIV (the q295 discipline).
  */
object GovernanceOps extends QueryModule {
  /** q296 — cross-source duplication matrix (the dedup-policy input:
    * before deduplicating a multi-source corpus you need to know WHICH
    * source pairs share content — dropping CommonCrawl∩Wikipedia dups
    * from the wrong side silently deletes the curated copy): every
    * document's content fingerprint (q33's polynomial hash of the
    * lowercased text) is reduced to the DISTINCT (source, fp) set, and
    * every UNORDERED source pair is graded with its shared-fingerprint
    * count, per-side distinct totals, Jaccard overlap, and directional
    * containments — including zero rows for non-overlapping pairs, so
    * the matrix is complete (the pair domain is anchored by a
    * sources×sources cross of the per-source aggregate, the q285
    * domain-anchor discipline). Distinct from q190, which estimates
    * token-VOCABULARY Jaccard between sources (are they about the same
    * things); this measures whole-DOCUMENT duplication (do they carry
    * the same documents) — the overlap dedup acts on.
    *
    * Scale shape: the fingerprint pass is one projection; the distinct
    * (source, fp) set is one partial-aggregable shuffle; the pair join
    * keys on fp where each side holds AT MOST |sources| rows per
    * fingerprint (distinct-by-construction), so the join output is
    * ≤ |sources|²/2 rows per shared fingerprint — never a dup-group
    * blowup; and the pair domain is |sources|² (single digits), a
    * broadcast. At 100 TB the fingerprints come from the dedup tier's
    * existing q33 pass — this audit rides it for one extra shuffle. */
  def q296SourceOverlap(s: SparkSession, d: String): DataFrame = {
    val fp = Tables.documents(s, d)
      .select(col("source"), polyHash(lower(col("text"))).as("fp"))
      .distinct().persist()
    val per = fp.groupBy(col("source")).agg(count(lit(1)).as("n_fp"))
    val dom = per.select(col("source").as("src_a"), col("n_fp").as("n_fp_a"))
      .join(broadcast(per.select(col("source").as("src_b"), col("n_fp").as("n_fp_b"))),
        col("src_a") < col("src_b"))
    val shared = fp.as("x")
      .join(fp.as("y"),
        col("x.fp") === col("y.fp") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    dom.join(shared, Seq("src_a", "src_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("jaccard_micro",
        expr("n_shared * 1000000 DIV (n_fp_a + n_fp_b - n_shared)"))
      .withColumn("contain_a_micro", expr("n_shared * 1000000 DIV n_fp_a"))
      .withColumn("contain_b_micro", expr("n_shared * 1000000 DIV n_fp_b"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q296Sql: String =
    s"""WITH fp AS (
       |  SELECT DISTINCT source, ${polyHashSql("lower(text)")} AS fp
       |  FROM documents),
       |per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_fp
       |        FROM fp GROUP BY source),
       |dom AS (
       |  SELECT a.source AS src_a, a.n_fp AS n_fp_a,
       |         b.source AS src_b, b.n_fp AS n_fp_b
       |  FROM per a JOIN per b ON a.source < b.source),
       |sh AS (
       |  SELECT x.source AS src_a, y.source AS src_b,
       |         CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM fp x JOIN fp y ON x.fp = y.fp AND x.source < y.source
       |  GROUP BY 1, 2)
       |SELECT d.src_a, d.src_b, d.n_fp_a, d.n_fp_b,
       |       COALESCE(sh.n_shared, 0) AS n_shared,
       |       (COALESCE(sh.n_shared, 0) * 1000000)
       |         // (d.n_fp_a + d.n_fp_b - COALESCE(sh.n_shared, 0)) AS jaccard_micro,
       |       (COALESCE(sh.n_shared, 0) * 1000000) // d.n_fp_a AS contain_a_micro,
       |       (COALESCE(sh.n_shared, 0) * 1000000) // d.n_fp_b AS contain_b_micro
       |FROM dom d LEFT JOIN sh ON sh.src_a = d.src_a AND sh.src_b = d.src_b
       |ORDER BY d.src_a, d.src_b""".stripMargin

  /** q298 — weak-supervision label aggregation: majority vote over
    * three labeling functions with per-function reliability (the
    * Snorkel/Dawid–Skene first step — when no gold labels exist, the
    * majority label IS the working truth and each labeler's agreement
    * with it is the reliability weight the next iteration would use;
    * distinct from q228, which scores chance-corrected agreement
    * BETWEEN two raters and never forms a label): the three labeling
    * functions are q292's stage conditions applied INDEPENDENTLY
    * (token-count band, mode-token repetition, language keep-set);
    * each document's aggregated label is votes ≥ 2. Per source: the
    * vote histogram (unanimous keep / 2-1 keep / 2-1 drop / unanimous
    * drop — the 2-1 rows are exactly the review queue a labeling
    * pipeline samples), plus each function's agreement count with the
    * majority and its integer-DIV reliability share.
    *
    * Scale shape: the repetition flag needs the q87-shaped
    * partial-aggregable (doc, tok) mode aggregate; everything else is
    * row-local flags + ONE per-source aggregate. All integer. */
  def q298LabelMajority(s: SparkSession, d: String): DataFrame = {
    import Round9Ops.{AttrKeepLangs, AttrMaxTok, AttrMinTok, AttrRepMult}
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), tokens(col("text")).as("tk"))
      .withColumn("n_tok", size(col("tk")).cast("long"))
    val mode = docs.select(col("doc_id"), explode(col("tk")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("mode_c"))
    val flags = docs.join(mode, Seq("doc_id"), "left")
      .withColumn("mode_c", coalesce(col("mode_c"), lit(0L)))
      .withColumn("fa", (col("n_tok") >= AttrMinTok && col("n_tok") <= AttrMaxTok)
        .cast("long"))
      .withColumn("fb", (col("mode_c") * AttrRepMult <= col("n_tok")).cast("long"))
      .withColumn("fc", col("lang").isin(AttrKeepLangs: _*).cast("long"))
      .withColumn("votes", col("fa") + col("fb") + col("fc"))
      .withColumn("maj", (col("votes") >= 2).cast("long"))
    flags.groupBy(col("source")).agg(
        count(lit(1)).as("n"),
        sum((col("votes") === 3).cast("long")).as("n_keep_3_0"),
        sum((col("votes") === 2).cast("long")).as("n_keep_2_1"),
        sum((col("votes") === 1).cast("long")).as("n_drop_2_1"),
        sum((col("votes") === 0).cast("long")).as("n_drop_3_0"),
        sum(col("maj")).as("n_majority_keep"),
        sum((col("fa") === col("maj")).cast("long")).as("agree_a"),
        sum((col("fb") === col("maj")).cast("long")).as("agree_b"),
        sum((col("fc") === col("maj")).cast("long")).as("agree_c"))
      .withColumn("rel_a_micro", expr("agree_a * 1000000 DIV n"))
      .withColumn("rel_b_micro", expr("agree_b * 1000000 DIV n"))
      .withColumn("rel_c_micro", expr("agree_c * 1000000 DIV n"))
      .orderBy(col("source"))
  }

  val q298Sql: String = {
    import Round9Ops.{AttrMinTok, AttrMaxTok, AttrRepMult}
    val langList = Round9Ops.AttrKeepLangs.map(l => s"'$l'").mkString(", ")
    s"""WITH docs AS (
       |  SELECT doc_id, source, lang,
       |         CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |md AS (
       |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS mode_c
       |  FROM (SELECT doc_id, tok, COUNT(*) AS c
       |        FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS tok
       |              FROM documents) GROUP BY 1, 2)
       |  GROUP BY doc_id),
       |fl AS (
       |  SELECT d.source,
       |    CASE WHEN d.n_tok >= $AttrMinTok AND d.n_tok <= $AttrMaxTok
       |         THEN 1 ELSE 0 END AS fa,
       |    CASE WHEN COALESCE(md.mode_c, 0) * $AttrRepMult <= d.n_tok
       |         THEN 1 ELSE 0 END AS fb,
       |    CASE WHEN d.lang IN ($langList) THEN 1 ELSE 0 END AS fc
       |  FROM docs d LEFT JOIN md USING (doc_id)),
       |v AS (
       |  SELECT source, fa, fb, fc, fa + fb + fc AS votes,
       |    CASE WHEN fa + fb + fc >= 2 THEN 1 ELSE 0 END AS maj
       |  FROM fl),
       |a AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN votes = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_3_0,
       |    CAST(SUM(CASE WHEN votes = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_2_1,
       |    CAST(SUM(CASE WHEN votes = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_2_1,
       |    CAST(SUM(CASE WHEN votes = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_3_0,
       |    CAST(SUM(maj) AS BIGINT) AS n_majority_keep,
       |    CAST(SUM(CASE WHEN fa = maj THEN 1 ELSE 0 END) AS BIGINT) AS agree_a,
       |    CAST(SUM(CASE WHEN fb = maj THEN 1 ELSE 0 END) AS BIGINT) AS agree_b,
       |    CAST(SUM(CASE WHEN fc = maj THEN 1 ELSE 0 END) AS BIGINT) AS agree_c
       |  FROM v GROUP BY source)
       |SELECT source, n, n_keep_3_0, n_keep_2_1, n_drop_2_1, n_drop_3_0,
       |       n_majority_keep, agree_a, agree_b, agree_c,
       |       agree_a * 1000000 // n AS rel_a_micro,
       |       agree_b * 1000000 // n AS rel_b_micro,
       |       agree_c * 1000000 // n AS rel_c_micro
       |FROM a ORDER BY source""".stripMargin
  }

  /** q299's anonymity threshold (groups smaller than this are
    * re-identification risks) and the token-count bucket width of the
    * quasi-identifier. */
  val KAnonK = 5L
  val KAnonLenBucket = 10L

  /** q299 — k-anonymity audit over quasi-identifiers (training-data
    * governance: a document whose VISIBLE attributes — language,
    * source, length bucket — put it in a group smaller than k can be
    * singled out by them, the classic Sweeney re-identification
    * surface; release reviews demand the count of such groups before
    * metadata ships): documents group by the quasi-identifier tuple
    * (lang, source, n_tok DIV [[KAnonLenBucket]]), and each
    * (lang, source) panel is graded with its group count, sub-[[KAnonK]]
    * group count, at-risk document count, min/max group sizes, and the
    * integer-DIV at-risk share.
    *
    * Scale shape: two stacked partial-aggregable aggregates — (quasi
    * tuple) then (lang, source) — nothing else; the report is
    * |langs|·|sources| rows. The audit is one pass whatever the corpus
    * size. */
  def q299KAnonymity(s: SparkSession, d: String): DataFrame = {
    val g = Tables.documents(s, d)
      .select(col("lang"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("len_b", expr(s"n_tok DIV $KAnonLenBucket"))
      .select(col("lang"), col("source"), col("len_b"))
      .groupBy(col("lang"), col("source"), col("len_b"))
      .agg(count(lit(1)).as("gsz"))
    g.groupBy(col("lang"), col("source")).agg(
        sum(col("gsz")).as("n_docs"),
        count(lit(1)).as("n_groups"),
        sum((col("gsz") < KAnonK).cast("long")).as("n_small_groups"),
        sum(when(col("gsz") < KAnonK, col("gsz")).otherwise(lit(0L))).as("n_at_risk"),
        min(col("gsz")).as("min_group"),
        max(col("gsz")).as("max_group"))
      .withColumn("risk_micro", expr("n_at_risk * 1000000 DIV n_docs"))
      .orderBy(col("lang"), col("source"))
  }

  val q299Sql: String =
    s"""WITH g AS (
       |  SELECT lang, source,
       |         CAST(len(${tokensSql("text")}) AS BIGINT) // $KAnonLenBucket AS len_b,
       |         CAST(COUNT(*) AS BIGINT) AS gsz
       |  FROM documents GROUP BY 1, 2, 3)
       |SELECT lang, source,
       |       CAST(SUM(gsz) AS BIGINT) AS n_docs,
       |       CAST(COUNT(*) AS BIGINT) AS n_groups,
       |       CAST(SUM(CASE WHEN gsz < $KAnonK THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_small_groups,
       |       CAST(SUM(CASE WHEN gsz < $KAnonK THEN gsz ELSE 0 END) AS BIGINT)
       |         AS n_at_risk,
       |       MIN(gsz) AS min_group, MAX(gsz) AS max_group,
       |       (CAST(SUM(CASE WHEN gsz < $KAnonK THEN gsz ELSE 0 END) AS BIGINT)
       |         * 1000000) // CAST(SUM(gsz) AS BIGINT) AS risk_micro
       |FROM g GROUP BY lang, source
       |ORDER BY lang, source""".stripMargin

  /** q304 — duplicate-cluster size profile with a power-law tail fit
    * (the dedup-ROI question: is duplication a few mega-clusters —
    * boilerplate, killable by exact hashing — or a long tail of pairs
    * that needs the full LSH machinery? The answer is the SLOPE of
    * ln(#clusters) against ln(cluster size), read exactly like q295's
    * Zipf slope): duplicate-OPENING clusters — documents sharing their
    * first [[Round9Ops.SpanGram]] tokens, q292 stage-4's boilerplate
    * key (chosen over whole-text md5 because opening-gram duplication
    * exists at every fixture SF while full-text dups only appear at
    * sf0.1 — and the opening key is what boilerplate dedup actually
    * clusters on) — of size ≥ 2 histogram into (size, cluster-count)
    * rows; each graded row carries the size, its cluster/document/
    * removable-document counts, and the global OLS slope + totals
    * (removable share in micros) attached from a 1-row aggregate.
    *
    * Scale shape: one md5 projection + two stacked partial-aggregable
    * aggregates (text-hash, then size); the histogram is
    * |distinct sizes| rows (tiny); the fit is a 1-row aggregate over
    * it — no windows, no joins wider than the 1-row broadcast. The
    * log micro-rounding is the q285/q295 discipline. */
  def q304DupClusterProfile(s: SparkSession, d: String): DataFrame = {
    val sizes = Tables.documents(s, d)
      .select(polyHash(concat_ws(" ",
        slice(tokens(col("text")), 1, Round9Ops.SpanGram))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("csize"))
      .filter(col("csize") >= 2)
    val hist = sizes.groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
    def lnMicro(c: org.apache.spark.sql.Column) =
      floor(log(c.cast("double")) * lit(1000000.0) + lit(0.5)).cast("long")
    val fit = hist
      .select(col("csize"), col("n_clusters"),
        lnMicro(col("csize")).as("xm"), lnMicro(col("n_clusters")).as("ym"))
      .agg(count(lit(1)).as("n_sizes"),
        sum(col("xm")).as("sx"), sum(col("ym")).as("sy"),
        sum(col("xm") * col("xm")).as("sxx"), sum(col("xm") * col("ym")).as("sxy"),
        sum(col("csize") * col("n_clusters")).as("dup_docs"),
        sum((col("csize") - 1) * col("n_clusters")).as("removable_docs"))
      .withColumn("den", col("n_sizes") * col("sxx") - col("sx") * col("sx"))
      .withColumn("slope_micro",
        when(col("den") === 0, lit(0L)).otherwise(
          floor((col("n_sizes") * col("sxy") - col("sx") * col("sy")).cast("double") /
            col("den").cast("double") * lit(1000000.0) + lit(0.5)).cast("long")))
    val totDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs_total"))
    hist.crossJoin(broadcast(fit.select(col("n_sizes"), col("dup_docs"),
        col("removable_docs"), col("slope_micro"))))
      .crossJoin(broadcast(totDocs))
      .withColumn("n_docs_at_size", col("csize") * col("n_clusters"))
      .withColumn("removable_at_size", (col("csize") - 1) * col("n_clusters"))
      .withColumn("removable_share_micro",
        expr("removable_docs * 1000000 DIV n_docs_total"))
      .select(col("csize"), col("n_clusters"), col("n_docs_at_size"),
        col("removable_at_size"), col("n_sizes"), col("dup_docs"),
        col("removable_docs"), col("n_docs_total"),
        col("removable_share_micro"), col("slope_micro"))
      .orderBy(col("csize"))
  }

  val q304Sql: String = {
    def lnMicro(e: String) =
      s"CAST(FLOOR(LN(CAST($e AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"
    s"""WITH pre AS (
       |  SELECT ${polyHashSql(
            s"array_to_string((${tokensSql("text")})[1:${Round9Ops.SpanGram}], ' ')")} AS h
       |  FROM documents),
       |sizes AS (
       |  SELECT h, CAST(COUNT(*) AS BIGINT) AS csize
       |  FROM pre GROUP BY h HAVING COUNT(*) >= 2),
       |hist AS (SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_clusters
       |         FROM sizes GROUP BY csize),
       |terms AS (
       |  SELECT csize, n_clusters,
       |         ${lnMicro("csize")} AS xm, ${lnMicro("n_clusters")} AS ym
       |  FROM hist),
       |fit AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_sizes,
       |    CAST(SUM(xm) AS BIGINT) AS sx, CAST(SUM(ym) AS BIGINT) AS sy,
       |    CAST(SUM(xm * xm) AS BIGINT) AS sxx,
       |    CAST(SUM(xm * ym) AS BIGINT) AS sxy,
       |    CAST(SUM(csize * n_clusters) AS BIGINT) AS dup_docs,
       |    CAST(SUM((csize - 1) * n_clusters) AS BIGINT) AS removable_docs
       |  FROM terms),
       |f2 AS (
       |  SELECT n_sizes, dup_docs, removable_docs,
       |    CASE WHEN n_sizes * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT)
       |         ELSE CAST(FLOOR(CAST(n_sizes * sxy - sx * sy AS DOUBLE)
       |                / CAST(n_sizes * sxx - sx * sx AS DOUBLE)
       |                * 1000000.0 + 0.5) AS BIGINT) END AS slope_micro
       |  FROM fit),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_total FROM documents)
       |SELECT h.csize, h.n_clusters,
       |       h.csize * h.n_clusters AS n_docs_at_size,
       |       (h.csize - 1) * h.n_clusters AS removable_at_size,
       |       f.n_sizes, f.dup_docs, f.removable_docs, t.n_docs_total,
       |       (f.removable_docs * 1000000) // t.n_docs_total
       |         AS removable_share_micro,
       |       f.slope_micro
       |FROM hist h CROSS JOIN f2 f CROSS JOIN tot t
       |ORDER BY h.csize""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q296_source_overlap" -> q296SourceOverlap _,
    "q298_label_majority" -> q298LabelMajority _,
    "q299_kanonymity" -> q299KAnonymity _,
    "q304_dup_cluster_profile" -> q304DupClusterProfile _)

  val oracles: Map[String, String] = Map(
    "q296_source_overlap" -> q296Sql,
    "q298_label_majority" -> q298Sql,
    "q299_kanonymity" -> q299Sql,
    "q304_dup_cluster_profile" -> q304Sql)
}
