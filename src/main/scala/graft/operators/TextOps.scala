package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + dedup operators for LLM-data pipelines: token stats,
  * quality scoring, language ID, content fingerprinting, exact dedup,
  * MinHash+LSH near-dup, SimHash.
  *
  * Everything is a single projection (or projection + one keyed shuffle)
  * over the documents table — no driver-side loops, no UDFs — so each
  * operator scales linearly with document count. The LSH candidate
  * generation (q35) explodes ~4 band rows per doc and joins on band
  * buckets: work is proportional to true collisions, never all-pairs.
  */
object TextOps extends QueryModule {
  /** q30 — token statistics per document: whitespace tokens, distinct
    * tokens, regex word count, mean token length. */
  def q30TokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        regexp_count(col("text"), lit("[a-z]+")).cast("long").as("n_words"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") / size(col("toks"))).as("mean_tok_len"))
      .orderBy(col("doc_id"))

  val q30Sql: String =
    s"""SELECT doc_id,
       |  CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(${tokensSql("text")})) AS BIGINT) AS n_distinct,
       |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_words,
       |  CAST(len(replace(text, ' ', '')) AS DOUBLE) / len(${tokensSql("text")}) AS mean_tok_len
       |FROM documents ORDER BY doc_id""".stripMargin

  /** q31 — quality scoring: type-token ratio, stopword ratio, mean word
    * length → composite score. Pure int→double arithmetic, deterministic. */
  def q31Quality(s: SparkSession, d: String): DataFrame = {
    val stop = "'the','a','of','and','to','in'"
    Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tok", size(col("toks")).cast("double"))
      .withColumn("ttr", size(array_distinct(col("toks"))) / col("n_tok"))
      .withColumn("stop_ratio",
        expr(s"size(filter(toks, t -> t IN ($stop)))") / col("n_tok"))
      .withColumn("mean_len", length(regexp_replace(col("text"), " ", "")) / col("n_tok"))
      .select(
        col("doc_id"), col("ttr"), col("stop_ratio"), col("mean_len"),
        round(lit(0.4) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
          lit(0.3) * least(col("mean_len") / 8.0, lit(1.0)), 6).as("quality"))
      .orderBy(col("doc_id"))
  }

  val q31Sql: String = {
    val toks = tokensSql("text")
    val stop = "'the','a','of','and','to','in'"
    s"""WITH t AS (SELECT doc_id, text, $toks AS toks,
       |  CAST(len($toks) AS DOUBLE) AS n_tok FROM documents)
       |SELECT doc_id,
       |  len(list_distinct(toks)) / n_tok AS ttr,
       |  len(list_filter(toks, t -> t IN ($stop))) / n_tok AS stop_ratio,
       |  len(replace(text, ' ', '')) / n_tok AS mean_len,
       |  ROUND(0.4*(len(list_distinct(toks))/n_tok) + 0.3*(1.0 - len(list_filter(toks, t -> t IN ($stop)))/n_tok)
       |      + 0.3*LEAST((len(replace(text,' ',''))/n_tok)/8.0, 1.0), 6) AS quality
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Per-language marker tokens for the n-gram language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("row", "column", "merge"),
    "en" -> Seq("the", "order", "table"),
    "es" -> Seq("slow", "agg", "vector"),
    "fr" -> Seq("scan", "data", "query"),
    "zh" -> Seq("join", "small", "batch"))

  /** q32 — language ID: marker-token scoring with deterministic
    * alphabetical tie-break, compared against the labeled lang. */
  def q32LangId(s: SparkSession, d: String): DataFrame = {
    val df0 = Tables.documents(s, d).withColumn("toks", tokens(col("text")))
    val scored = LangMarkers.foldLeft(df0) { case (df, (l, ms)) =>
      df.withColumn(s"s_$l",
        expr(s"size(filter(toks, t -> t IN (${ms.map("'" + _ + "'").mkString(",")})))").cast("long"))
    }
    val langs = LangMarkers.map(_._1)
    val pred = langs.init.foldRight(lit(langs.last): org.apache.spark.sql.Column) { (l, rest) =>
      when(langs.filter(_ != l).map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _), lit(l)).otherwise(rest)
    }
    scored
      .withColumn("predicted", pred)
      .select(col("doc_id") +: langs.map(l => col(s"s_$l")) :+ col("predicted") :+
        (col("predicted") === col("lang")).as("is_correct"): _*)
      .orderBy(col("doc_id"))
  }

  val q32Sql: String = {
    val toks = tokensSql("text")
    val scores = LangMarkers.map { case (l, ms) =>
      s"CAST(len(list_filter(toks, t -> t IN (${ms.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS s_$l"
    }.mkString(",\n  ")
    val langs = LangMarkers.map(_._1)
    val pred = langs.init.map { l =>
      val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"""WITH t AS (SELECT doc_id, lang, $toks AS toks FROM documents),
       |sc AS (SELECT doc_id, lang, $scores FROM t)
       |SELECT doc_id, ${langs.map("s_" + _).mkString(", ")},
       |  CASE $pred ELSE '${langs.last}' END AS predicted,
       |  (CASE $pred ELSE '${langs.last}' END) = lang AS is_correct
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Char-bigram profiles for the character-level language-ID variant. */
  val CharProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("ro", "ol", "me"),
    "en" -> Seq("th", "he", "ta"),
    "es" -> Seq("sl", "ag", "ve"),
    "fr" -> Seq("sc", "da", "qu"),
    "zh" -> Seq("jo", "sm", "ba"))

  /** q50 — character n-gram language ID: score = total occurrences of each
    * profile's char bigrams, counted portably as
    * (len(text) - len(replace(text, bigram, ''))) / 2. Complements the
    * token-marker variant (q32) with the classic char-n-gram heuristic. */
  def q50CharNgramLangId(s: SparkSession, d: String): DataFrame = {
    def bigramCount(b: String) =
      (length(col("text")) - length(expr(s"replace(text, '$b', '')"))) / 2 // literal, like the oracle's replace()
    val scored = CharProfiles.foldLeft(Tables.documents(s, d)) { case (df, (l, bs)) =>
      df.withColumn(s"s_$l", bs.map(bigramCount).reduce(_ + _).cast("long"))
    }
    val langs = CharProfiles.map(_._1)
    val pred = langs.init.foldRight(lit(langs.last): org.apache.spark.sql.Column) { (l, rest) =>
      when(langs.filter(_ != l).map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _), lit(l)).otherwise(rest)
    }
    scored.withColumn("predicted", pred)
      .select(col("doc_id") +: langs.map(l => col(s"s_$l")) :+ col("predicted"): _*)
      .orderBy(col("doc_id"))
  }

  val q50Sql: String = {
    def bc(b: String) = s"(len(text) - len(replace(text, '$b', ''))) / 2"
    val scores = CharProfiles.map { case (l, bs) =>
      s"CAST(${bs.map(bc).mkString(" + ")} AS BIGINT) AS s_$l"
    }.mkString(",\n  ")
    val langs = CharProfiles.map(_._1)
    val pred = langs.init.map { l =>
      val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"""WITH sc AS (SELECT doc_id, $scores FROM documents)
       |SELECT doc_id, ${langs.map("s_" + _).mkString(", ")},
       |  CASE $pred ELSE '${langs.last}' END AS predicted
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** q33 — content fingerprinting: rolling polynomial hash + md5 of the
    * normalized text, with duplicate-group sizes. */
  def q33Fingerprint(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    Tables.documents(s, d)
      .withColumn("fp", polyHash(lower(col("text"))))
      .withColumn("content_md5", md5(col("text")))
      .withColumn("n_same_fp", count(lit(1)).over(w))
      .select(col("doc_id"), col("fp"), col("content_md5"), col("n_same_fp"))
      .orderBy(col("doc_id"))
  }

  val q33Sql: String =
    s"""SELECT doc_id, ${polyHashSql("lower(text)")} AS fp, md5(text) AS content_md5,
       |  COUNT(*) OVER (PARTITION BY ${polyHashSql("lower(text)")}) AS n_same_fp
       |FROM documents ORDER BY doc_id""".stripMargin

  /** q34 — exact dedup summary: `dropDuplicates` cardinality vs raw count,
    * by source. */
  def q34ExactDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_text"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_exact_dups"))
      .orderBy(col("source"))
  }

  val q34Sql: String =
    """SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_distinct_text,
      |  COUNT(*) - COUNT(DISTINCT text) AS n_exact_dups
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** q35 — MinHash + LSH near-dup detection, full pipeline:
    * token-hash 3-gram shingles → 8 MinHash signatures → 4 bands of 2 →
    * band-bucket join for candidates → exact Jaccard verify ≥ 0.5.
    * The oracle runs the *same* LSH pipeline (identical integer
    * arithmetic), so candidate sets match exactly — no recall slack.
    *
    * The pipeline's steps live in [[Lsh]]; q55, q178, q184, q194, q245,
    * q258 and q261 embed q35's pairs as their input stage through
    * [[lshDocs]] and [[Lsh.verifiedPairs]], so each shares the PERSISTED
    * signature relation inside its plan instead of running a duplicate
    * tokenize/shingle pass (optimization guide §2.4: remove redundant
    * passes; §1.2: fix the distributed algorithm first). */
  def q35MinHashLsh(s: SparkSession, d: String): DataFrame =
    Lsh.verifiedPairs(lshDocs(s, d)).orderBy(col("da"), col("db"))

  /** Per-doc MinHash signatures + df-capped shingle set (doc_id,
    * sig0..sig7, sh_set), PERSISTED: the band build and both verify-side
    * fetch joins read it (a few MB at sf0.1 — |docs| × |shingle set|,
    * MEMORY_AND_DISK, LRU-evictable). Cache scope: one query invocation
    * — the bench/Verify harness runs clearCache() between queries, so
    * nothing leaks across queries; a long-lived session must call
    * clearCache() between calls. */
  private[operators] def lshDocs(s: SparkSession, d: String): DataFrame = {
    val sh0 = Lsh.shingles(Lsh.tokenHashes(Tables.documents(s, d)))
    Lsh.signatures(Lsh.dropHot(sh0, Lsh.hot(sh0))).persist()
  }

  /** The q35 LSH pipeline as a CTE chain, shared by q35's oracle and
    * q55's (which clusters q35's verified pairs). */
  private[operators] val lshJacExpr: String =
    """ROUND(CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
      |        (len(sa) + len(sb) - CAST(len(list_intersect(sa, sb)) AS DOUBLE)), 6)""".stripMargin

  private[operators] val lshCandidateCtes: String = {
    val sigs = (0 until 8).map(i => s"${minHashSigSql("sh", i)} AS sig$i").mkString(",\n  ")
    s"""t AS (SELECT doc_id, ${shingleHashesSql(tokenHashesSql(tokensSql("text")))} AS sh0 FROM documents),
       |e AS (SELECT doc_id, unnest(sh0) AS s FROM t),
       |dfreq AS (SELECT s, COUNT(*) AS df FROM e GROUP BY 1),
       |f AS (SELECT doc_id, list(s) AS sh FROM e JOIN dfreq USING (s)
       |      WHERE df <= ${ScaleOps.ShingleDfCap} GROUP BY doc_id),
       |sigs AS (SELECT doc_id, sh, $sigs FROM f),
       |bands AS (
       |  SELECT doc_id, sh, b AS band,
       |    CASE b WHEN 0 THEN sig0 WHEN 1 THEN sig2 WHEN 2 THEN sig4 ELSE sig6 END AS v0,
       |    CASE b WHEN 0 THEN sig1 WHEN 1 THEN sig3 WHEN 2 THEN sig5 ELSE sig7 END AS v1
       |  FROM sigs, UNNEST(range(0, 4)) AS u(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.sh AS sa, b.sh AS sb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1 AND a.doc_id < b.doc_id)""".stripMargin
  }

  val q35Sql: String =
    s"""WITH $lshCandidateCtes
       |SELECT da, db, $lshJacExpr AS jac
       |FROM cand
       |WHERE $lshJacExpr >= 0.5
       |ORDER BY da, db""".stripMargin

  /** q55 — duplicate-cluster assembly: connected components over the
    * verified near-dup pair graph (q35's output), so each group of
    * mutually-near documents gets one canonical cluster id (the min
    * doc_id) — the step that turns pairwise dedup into keep-one-per-
    * cluster selection in a training pipeline.
    *
    * Implementation is iterative min-label propagation (the standard
    * distributed CC algorithm): each round every vertex takes the min of
    * its own label and its neighbors', until a fixpoint. Rounds are
    * driver-iterated like any iterative algorithm (k-means, Pregel), but
    * per-round work is two small joins and the convergence probe is an
    * aggregate — no data ever collects to the driver. Round count is
    * bounded by the dup-graph diameter (dup clusters are tiny by nature;
    * a cluster too wide for the 20-round cap fails the query instead of
    * returning partial labels). The oracle computes the same components
    * with a recursive CTE. */
  def q55DupClusters(s: SparkSession, d: String): DataFrame =
    clustersFromPairs(Lsh.verifiedPairs(lshDocs(s, d))).orderBy(col("doc_id"))

  /** Min-label-propagation connected components over a verified pair
    * set: (id, label), clustered docs only. Shared by every consumer of
    * q55's clustering (q178/q184/q245/q261) so each embeds ONE LSH+CC
    * subplan instead of rebuilding its own (§2.4). Throws
    * `IllegalStateException` if the labels still change after 20 rounds
    * (a component of diameter above 20). */
  private[operators] def ccLabels(pairs: DataFrame): DataFrame = {
    // An eager UNPARTITIONED checkpoint of the edges: the r16 alternative
    // `repartition(db).persist()` lets the per-round edges⋈labels join
    // reuse the cached partitioning once labels outgrow the broadcast
    // threshold (plans/r16/ccLabels_round1_atscale_*.txt), but measured
    // 1.13× SLOWER across the five consumers at sf0.1 (control 1.06): the
    // IMR columnar encode/decode per round plus the up-front shuffle
    // outweigh the reuse while labels still broadcast, and a
    // localCheckpoint cannot carry the partitioning instead (it reports
    // UnknownPartitioning under AQE). At a scale where labels stop
    // broadcasting, revisit the persist form.
    val edges = pairs.select(col("da"), col("db"))
      .union(pairs.select(col("db").as("da"), col("da").as("db")))
      .localCheckpoint(true)
    val labels0 = edges.select(col("da").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    // Probes every 2nd round: min-label propagation rarely converges
    // before round 3, and one probe job materializes both pending rounds.
    Iterate.untilFixpoint(cap = 20, probeEvery = 2, labels0) { labels =>
      val nbrMin = edges.join(labels, edges("db") === labels("id"))
        .groupBy(edges("da").as("nid")).agg(min(col("label")).as("nbr"))
      // carry the previous label through the update so the convergence
      // probe is a filter over the new state instead of a second join
      // against the old labels
      labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
    } { (_, next) => next.filter(col("label") =!= col("old")).isEmpty }
      .select(col("id"), col("label"))
  }

  /** [[ccLabels]] + cluster sizes, columns (doc_id, cluster_id,
    * cluster_size), UNORDERED (q55 adds the final orderBy). */
  private[operators] def clustersFromPairs(pairs: DataFrame): DataFrame = {
    val labels = ccLabels(pairs)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
  }

  /** q178 — leakage-safe train/val/test split: assignment is by DUP
    * CLUSTER, not by document, so near-duplicates can never straddle
    * train and eval (the contamination channel a per-doc random split
    * leaves open — a test doc whose near-copy sits in train is a leaked
    * answer). Composition: q55's connected components give every
    * clustered doc its cluster representative; singletons represent
    * themselves; the representative id is hashed to a bucket
    * (Knuth multiplicative constant, pure integer arithmetic on both
    * engines) and bucketed 80/10/10. Output: per-split doc and cluster
    * counts. By construction zero clusters span splits — the property a
    * per-doc split cannot offer.
    *
    * Scale shape: q55's label propagation plus one broadcast-joinable
    * label map against the corpus; the split decision itself is a
    * per-row projection. */
  def q178LeakageSafeSplit(s: SparkSession, d: String): DataFrame = {
    // ccLabels, not q55DupClusters: the split never reads cluster_size,
    // but an inner join against the size aggregate cannot be pruned by
    // Catalyst, so going through q55 paid a groupBy+join for a column
    // this query drops (§2.3: don't compute what you throw away).
    val clusters = ccLabels(Lsh.verifiedPairs(lshDocs(s, d)))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    val bucket = (col("cluster_id") * lit(2654435761L)) % lit(100L)
    Tables.documents(s, d).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(bucket < 80, lit("train")).when(bucket < 90, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
      .orderBy(col("split"))
  }

  val q178Sql: String =
    s"""WITH RECURSIVE $lshCandidateCtes,
       |pairs AS (SELECT da, db FROM cand WHERE $lshJacExpr >= 0.5),
       |edges AS (SELECT da, db FROM pairs UNION ALL SELECT db, da FROM pairs),
       |verts AS (SELECT DISTINCT da AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT eg.da, re.r FROM edges eg JOIN reach re ON re.id = eg.db
       |),
       |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |alldocs AS (
       |  SELECT d.doc_id, COALESCE(lab.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN lab ON lab.id = d.doc_id),
       |b AS (SELECT doc_id, cluster_id, (cluster_id * 2654435761) % 100 AS bkt
       |      FROM alldocs)
       |SELECT CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val'
       |            ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs, COUNT(DISTINCT cluster_id) AS n_clusters
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  val q55Sql: String =
    s"""WITH RECURSIVE $lshCandidateCtes,
       |pairs AS (SELECT da, db FROM cand WHERE $lshJacExpr >= 0.5),
       |edges AS (SELECT da, db FROM pairs UNION ALL SELECT db, da FROM pairs),
       |verts AS (SELECT DISTINCT da AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT eg.da, re.r FROM edges eg JOIN reach re ON re.id = eg.db
       |),
       |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
       |SELECT id AS doc_id, cluster_id, cluster_size
       |FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin

  /** q36 — SimHash: 30-bit locality-sensitive content hash per doc +
    * exact-collision group sizes (hamming-0 dup candidates). */
  def q36SimHash(s: SparkSession, d: String): DataFrame = {
    // Dictionary-encoded like q35: hash distinct tokens once, then the
    // per-occurrence ±1 bit sums are 30 codegen'd conditional aggregates.
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val dict = tok.select(col("tok")).distinct().withColumn("h", polyHash(col("tok")))
    val bitSums = (0 until 30).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"b$b"))
    val sh = (0 until 30).map(b =>
      when(col(s"b$b") >= 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    val w = Window.partitionBy(col("simhash"))
    tok.join(broadcast(dict), "tok")
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", sh)
      .withColumn("n_bucket", count(lit(1)).over(w))
      .select(col("doc_id"), col("simhash"), col("n_bucket"))
      .orderBy(col("doc_id"))
  }

  val q36Sql: String = {
    val th = tokenHashesSql(tokensSql("text"))
    s"""WITH t AS (SELECT doc_id, ${simHashSql("th")} AS simhash
       |           FROM (SELECT doc_id, $th AS th FROM documents) WHERE len(th) > 0)
       |SELECT doc_id, simhash, COUNT(*) OVER (PARTITION BY simhash) AS n_bucket
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** q66 — winnowing document fingerprints (the MOSS rolling-hash scheme):
    * char 12-gram hashes, minima over 8-gram windows, distinct minima =
    * the document's fingerprint set; docs sharing enough fingerprints are
    * near-dup pairs. The fingerprint set is computed per row by the
    * codegen'd [[graft.functions.WinnowFingerprintsF]] expression — only
    * the ~n/w fingerprints are exploded into rows, never the characters
    * (the composed char-explode + 12×lead() form was an ×n_chars row
    * blowup through a shuffle — the old plan's 100 TB killer). */
  def q66Winnowing(s: SparkSession, d: String): DataFrame = {
    graft.functions.TextExpressions.register(s)
    // winnow_fp returns the DISTINCT minima per doc, so (doc_id, wmin)
    // pairs are already unique after the explode
    val fps0 = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr("winnow_fp(lower(text))")).as("wmin"))
    // df-cap, exactly as in the shingle joins (ScaleOps.ShingleDfCap):
    // boilerplate phrases put one fingerprint in hundreds of docs, and the
    // pair join is quadratic per hot key (11M pairs at sf0.1 uncapped,
    // ~0.15% of fingerprints past the cap). Oracle mirrors the cap.
    val hot = fps0.groupBy(col("wmin")).agg(count(lit(1)).as("df"))
      .filter(col("df") > ScaleOps.ShingleDfCap).select(col("wmin"))
    val fps = fps0.join(broadcast(hot), Seq("wmin"), "left_anti").persist()
    val sizes = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = fps.as("x").join(fps.as("y"),
        col("x.wmin") === col("y.wmin") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .withColumn("overlap", round(col("n_common") / least(col("na"), col("nb")).cast("double"), 6))
      .filter(col("overlap") >= 0.5)
      .select(col("da"), col("db"), col("n_common"), col("overlap"))
      .orderBy(col("da"), col("db"))
  }

  val q66Sql: String =
    s"""WITH chars AS (
       |  SELECT doc_id, i - 1 AS pos, CAST(ascii(t[i]) AS BIGINT) AS a
       |  FROM (SELECT doc_id, string_split_regex(lower(text), '') AS t FROM documents),
       |       UNNEST(range(1, len(t) + 1)) AS u(i)),
       |gram AS (
       |  SELECT doc_id, pos, ((((((((((((((((((((((a) * 31 + LEAD(a, 1) OVER w) % 1000000007) * 31 + LEAD(a, 2) OVER w) % 1000000007) * 31 + LEAD(a, 3) OVER w) % 1000000007) * 31 + LEAD(a, 4) OVER w) % 1000000007) * 31 + LEAD(a, 5) OVER w) % 1000000007) * 31 + LEAD(a, 6) OVER w) % 1000000007) * 31 + LEAD(a, 7) OVER w) % 1000000007) * 31 + LEAD(a, 8) OVER w) % 1000000007) * 31 + LEAD(a, 9) OVER w) % 1000000007) * 31 + LEAD(a, 10) OVER w) % 1000000007) * 31 + LEAD(a, 11) OVER w) % 1000000007 AS h
       |  FROM chars WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |g AS (SELECT * FROM gram WHERE h IS NOT NULL),
       |fp0 AS (
       |  SELECT DISTINCT doc_id, wmin FROM (
       |    SELECT doc_id,
       |      MIN(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin,
       |      LEAD(h, 7) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL AS is_full
       |    FROM g) WHERE is_full)
       |, dfreq AS (SELECT wmin, COUNT(*) AS df FROM fp0 GROUP BY 1)
       |, fp AS (SELECT fp0.doc_id, fp0.wmin FROM fp0 JOIN dfreq USING (wmin) WHERE df <= ${ScaleOps.ShingleDfCap})
       |, sz AS (SELECT doc_id, COUNT(*) AS n FROM fp GROUP BY 1),
       |pairs AS (
       |  SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS n_common
       |  FROM fp x JOIN fp y ON x.wmin = y.wmin AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT da, db, n_common,
       |  ROUND(n_common / CAST(LEAST(sa.n, sb.n) AS DOUBLE), 6) AS overlap
       |FROM pairs JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       |WHERE ROUND(n_common / CAST(LEAST(sa.n, sb.n) AS DOUBLE), 6) >= 0.5
       |ORDER BY da, db""".stripMargin

  /** q53 — TF-IDF: top-3 most characteristic terms per document.
    * tf = term count in doc; idf = ln(N / df) (exact integer ratio through
    * ln, rounded 6dp); one explode + two bounded aggregations — the
    * classic text-feature pipeline, linear in corpus size. */
  def q53TfIdf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val n = docs.count() // corpus size: one cheap metadata-level count
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term")
      .withColumn("tfidf", round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val q53Sql: String = {
    val toks = tokensSql("text")
    s"""WITH tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest($toks) AS term FROM documents)
       |  GROUP BY 1, 2),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n FROM documents),
       |scored AS (
       |  SELECT doc_id, term, tf, df,
       |    ROUND(tf * LN(CAST(n AS DOUBLE) / df), 6) AS tfidf
       |  FROM tf JOIN dfreq USING (term), n),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
       |  FROM scored)
       |SELECT doc_id, term, tf, df, tfidf, rnk FROM ranked WHERE rnk <= 3
       |ORDER BY doc_id, rnk""".stripMargin
  }

  /** BPE-ish pre-tokenization pattern: alpha runs, digit runs, and single
    * non-alphanumeric marks — the classic byte-pair-encoding pre-split
    * (GPT-2-style contractions aside). Identical RE semantics in Spark
    * (java.util.regex) and DuckDB (RE2) for this class-only pattern. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** q54 — token accounting with a BPE-ish regex pre-tokenizer: token
    * count, distinct-token count, longest token, mean token length per
    * document. One codegen'd projection — the token-budget estimator a
    * training pipeline runs before mixing corpora. */
  def q54BpeTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", expr(s"regexp_extract_all(lower(text), '$BpePattern', 0)"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        array_max(transform(col("toks"), t => length(t))).cast("long").as("longest"),
        round(expr("aggregate(toks, 0L, (a, t) -> a + length(t))").cast("double") /
          size(col("toks")), 6).as("mean_len"))
      .orderBy(col("doc_id"))

  val q54Sql: String =
    s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '$BpePattern') AS toks FROM documents)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tok,
       |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |  CAST(list_max(list_transform(toks, t -> len(t))) AS BIGINT) AS longest,
       |  ROUND(CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks), 6) AS mean_len
       |FROM t ORDER BY doc_id""".stripMargin

  /** q90 — scale-path MinHash signatures via builtin xxhash64 (codegen'd,
    * ~10× the portable polynomial hash), tightened from a rows-only check
    * into BOUNDED CLAIMS: the signature VALUES are engine-specific (DuckDB
    * has no xxhash64), so the graded output carries the oracle-exact
    * per-doc token count and exact-duplicate group size, plus two
    * machine-checked consistency booleans the oracle asserts TRUE —
    *
    *   - `paths_agree`: sig0 recomputed through a genuinely different
    *     physical path (posexplode → shuffle → min aggregate) equals the
    *     codegen'd transform+array_min value. Catches codegen/agg
    *     divergence and any row-order dependence in the fast path.
    *   - `dup_consistent`: every doc in an exact-duplicate group (same
    *     md5(text)) carries the SAME 4-sig vector — the property exact
    *     dedup (q34) relies on when it trusts signatures to agree on
    *     byte-identical content across partitions.
    */
  def q90MinHashFast(s: SparkSession, d: String): DataFrame = {
    val sigs = Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"), md5(col("text")).as("grp"),
        size(col("toks")).cast("long").as("n_tok"),
        array_min(transform(col("toks"), t => xxhash64(t))).as("sig0"),
        array_min(transform(col("toks"), t => xxhash64(t, lit(1)))).as("sig1"),
        array_min(transform(col("toks"), t => xxhash64(t, lit(2)))).as("sig2"),
        array_min(transform(col("toks"), t => xxhash64(t, lit(3)))).as("sig3"))
    val aggPath = Tables.documents(s, d)
      .select(col("doc_id").as("did"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("did")).agg(min(xxhash64(col("tok"))).as("sig0_agg"))
    val wg = Window.partitionBy(col("grp"))
    sigs.join(aggPath, sigs("doc_id") === aggPath("did"), "left")
      .withColumn("n_dup_group", count(lit(1)).over(wg))
      .select(col("doc_id"), col("n_tok"), col("n_dup_group"),
        (col("sig0") <=> col("sig0_agg")).as("paths_agree"),
        ((col("sig0") <=> min(col("sig0")).over(wg)) &&
          (col("sig1") <=> min(col("sig1")).over(wg)) &&
          (col("sig2") <=> min(col("sig2")).over(wg)) &&
          (col("sig3") <=> min(col("sig3")).over(wg))).as("dup_consistent"))
      .orderBy(col("doc_id"))
  }

  /** q90 oracle: exact token counts and dup-group sizes, the consistency
    * claims asserted TRUE. */
  val q90Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, md5(text) AS grp,
       |         CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents)
       |SELECT doc_id, n_tok, COUNT(*) OVER (PARTITION BY grp) AS n_dup_group,
       |       TRUE AS paths_agree, TRUE AS dup_consistent
       |FROM t ORDER BY doc_id""".stripMargin

  /** q49 — edit-distance similarity: Levenshtein between each doc and the
    * next doc of the same lang (deterministic pairing via lead window —
    * linear pair count, not all-pairs). Both engines implement the same
    * Wagner–Fischer DP, so distances match exactly. */
  def q49Levenshtein(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    // edit distance is O(len^2) per pair: bound it to a 200-char prefix
    // (the standard scale guard; full-text near-dup detection belongs to
    // the linear-cost fingerprint ops q35/q66)
    val df = Tables.documents(s, d).withColumn("t", substring(col("text"), 1, 200))
    df
      .withColumn("next_id", lead(col("doc_id"), 1).over(w))
      .withColumn("next_t", lead(col("t"), 1).over(w))
      .filter(col("next_id").isNotNull)
      // the pairing window has one partition per lang (5) — spread the
      // O(len²) DP projection below across every core. The partition count
      // must be EXPLICIT: a bare repartition(col) is REPARTITION_BY_COL,
      // which AQE coalesces to 1 for small inputs and the DP goes
      // single-threaded.
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("lang"), col("doc_id"), col("next_id"),
        levenshtein(col("t"), col("next_t")).cast("long").as("edit_dist"),
        round(lit(1.0) - levenshtein(col("t"), col("next_t")) /
          greatest(length(col("t")), length(col("next_t"))).cast("double"), 6).as("sim"))
      .orderBy(col("lang"), col("doc_id"))
  }

  val q49Sql: String =
    """WITH p AS (
      |  SELECT lang, doc_id, substr(text, 1, 200) AS t,
      |    LEAD(doc_id, 1) OVER (PARTITION BY lang ORDER BY doc_id) AS next_id,
      |    LEAD(substr(text, 1, 200), 1) OVER (PARTITION BY lang ORDER BY doc_id) AS next_t
      |  FROM documents)
      |SELECT lang, doc_id, next_id,
      |  CAST(levenshtein(t, next_t) AS BIGINT) AS edit_dist,
      |  ROUND(1.0 - levenshtein(t, next_t) /
      |    CAST(GREATEST(len(t), len(next_t)) AS DOUBLE), 6) AS sim
      |FROM p WHERE next_id IS NOT NULL
      |ORDER BY lang, doc_id""".stripMargin

  /** q58 — Gopher-style quality-rule filter: per-document boolean rules
    * (token-count bounds, mean-word-length bounds, alphabetic-character
    * ratio, minimum distinct-stopword hits — the published Gopher/C4
    * heuristics, thresholds adapted to the short synthetic fixture docs),
    * rolled up to per-language pass rates. Unlike q31's *score*, this is
    * the filter-policy form a training-data pipeline actually applies:
    * each rule is one codegen'd projection, the rollup is one bounded agg
    * (≤ #langs rows), so the whole policy is a single linear pass at any
    * scale. */
  def q58GopherFilter(s: SparkSession, d: String): DataFrame = {
    val stop = "'the','a','of','and','to','in'"
    val b = (c: org.apache.spark.sql.Column) => when(c, 1L).otherwise(0L)
    Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tok", size(col("toks")).cast("double"))
      .withColumn("mean_len",
        length(regexp_replace(col("text"), " ", "")) / col("n_tok"))
      .withColumn("alpha_ratio",
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
          length(col("text")))
      .withColumn("r_words", b(col("n_tok") >= 10 && col("n_tok") <= 80))
      .withColumn("r_meanlen", b(col("mean_len") >= 3.0 && col("mean_len") <= 10.0))
      .withColumn("r_alpha", b(col("alpha_ratio") >= 0.6))
      .withColumn("r_stop",
        b(expr(s"size(array_distinct(filter(toks, t -> t IN ($stop))))") >= 2))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("r_words")).as("pass_words"),
        sum(col("r_meanlen")).as("pass_meanlen"),
        sum(col("r_alpha")).as("pass_alpha"),
        sum(col("r_stop")).as("pass_stop"),
        sum(col("r_words") * col("r_meanlen") * col("r_alpha") * col("r_stop")).as("pass_all"))
      .orderBy(col("lang"))
  }

  val q58Sql: String = {
    val toks = tokensSql("text")
    val stop = "'the','a','of','and','to','in'"
    s"""WITH t AS (
       |  SELECT lang,
       |    CAST(len($toks) AS DOUBLE) AS n_tok,
       |    len(replace(text, ' ', '')) / CAST(len($toks) AS DOUBLE) AS mean_len,
       |    CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
       |      / len(text) AS alpha_ratio,
       |    len(list_distinct(list_filter($toks, x -> x IN ($stop)))) AS n_stop
       |  FROM documents),
       |r AS (
       |  SELECT lang,
       |    CAST(n_tok >= 10 AND n_tok <= 80 AS BIGINT) AS r_words,
       |    CAST(mean_len >= 3.0 AND mean_len <= 10.0 AS BIGINT) AS r_meanlen,
       |    CAST(alpha_ratio >= 0.6 AS BIGINT) AS r_alpha,
       |    CAST(n_stop >= 2 AS BIGINT) AS r_stop
       |  FROM t)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(r_words) AS BIGINT) AS pass_words,
       |  CAST(SUM(r_meanlen) AS BIGINT) AS pass_meanlen,
       |  CAST(SUM(r_alpha) AS BIGINT) AS pass_alpha,
       |  CAST(SUM(r_stop) AS BIGINT) AS pass_stop,
       |  CAST(SUM(r_words * r_meanlen * r_alpha * r_stop) AS BIGINT) AS pass_all
       |FROM r GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Email/phone patterns shared by the Spark query and its oracle — both
    * engines (Java regex / RE2) read this subset identically. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+1 555-[0-9]{4}-[0-9]{4}"

  /** q59 — PII redaction (scrub-before-training). The fixture text is
    * synthetic word-soup with no real PII, so the query first plants a
    * deterministic synthetic email + phone per document (derived from
    * doc_id; the oracle builds the identical string), then redacts with
    * the same patterns a production scrubber would use and counts the
    * hits. One projection of codegen'd regexp builtins — a map-only pass
    * with no shuffle, so it scales linearly at 100 TB. */
  def q59PiiRedact(s: SparkSession, d: String): DataFrame = {
    val aug = concat(col("text"),
      lit(" reach user"), col("doc_id").cast("string"),
      lit("@mail.example.com or +1 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit("-"),
      lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"))
    Tables.documents(s, d)
      .select(col("doc_id"), aug.as("aug"))
      .select(col("doc_id"),
        regexp_replace(regexp_replace(col("aug"), EmailRe, "[EMAIL]"),
          PhoneRe, "[PHONE]").as("redacted"),
        regexp_count(col("aug"), lit(EmailRe)).as("n_emails"),
        regexp_count(col("aug"), lit(PhoneRe)).as("n_phones"))
      .orderBy(col("doc_id"))
  }

  val q59Sql: String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    text || ' reach user' || CAST(doc_id AS VARCHAR)
       |      || '@mail.example.com or +1 555-'
       |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-'
       |      || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') AS aug
       |  FROM documents)
       |SELECT doc_id,
       |  regexp_replace(regexp_replace(aug, '$EmailRe', '[EMAIL]', 'g'),
       |    '$PhoneRe', '[PHONE]', 'g') AS redacted,
       |  CAST(len(regexp_extract_all(aug, '$EmailRe')) AS INTEGER) AS n_emails,
       |  CAST(len(regexp_extract_all(aug, '$PhoneRe')) AS INTEGER) AS n_phones
       |FROM aug ORDER BY doc_id""".stripMargin

  /** q175 — EXACT similarity self-join by prefix filtering (the AllPairs /
    * ppjoin family, Bayardo et al. WWW'07): all document pairs with
    * shingle-set Jaccard ≥ 1/2, with a completeness GUARANTEE — unlike
    * q35 (MinHash banding, probabilistic) and q40 (df-capped index, drops
    * candidates through ultra-common shingles).
    *
    * The pruning: order every doc's shingles by ascending document
    * frequency (rarest first, ties by value); a doc with n shingles
    * indexes only its first n - ceil(n/2) + 1 — any pair with overlap
    * ≥ ceil(τ·max(n_a,n_b)) MUST collide inside these prefixes (if the
    * prefixes were disjoint, the doc whose prefix ends earlier in the
    * global order has all its common elements among its last
    * ceil(τ·n)-1 positions — fewer than the overlap requires). Candidate
    * generation therefore joins ~half-size posting lists dominated by
    * RARE shingles (a shingle shared by thousands of docs sorts last and
    * rarely lands in a prefix), and exact verification runs only on
    * colliding pairs. All thresholds are integer arithmetic —
    * ceil(n/2) = (n+1) div 2, J ≥ 1/2 ⟺ 3·inter ≥ n_a+n_b — so both
    * engines decide identically with no float edge cases.
    *
    * Scale shape: shuffle on shingle hash for df + candidates, shuffle on
    * pair for verify — work ∝ Σ_prefix df², concentrated on rare shingles
    * by construction; never an all-pairs product. Shingles are 5-grams,
    * not q40's 3-grams: prefix filtering's Σdf² bound is only useful when
    * the feature universe has a rare tail, and the corpus vocabulary is
    * small enough that 3-gram space (|V|³) saturates — every 3-gram is
    * common, df² explodes (measured 55 s at sf0.1). 5-gram space (|V|⁵)
    * keeps df ≈ 1 for non-duplicated content at any corpus size where
    * vocabulary grows slower than documents — the same
    * longer-n-gram-for-discrimination argument as q86's k=8 contamination
    * grams. */
  def q175AllpairsPrefix(s: SparkSession, d: String): DataFrame = {
    // Materialize the token-hash array as a column BEFORE shingling: the
    // k-gram fold makes k element_at references, and if they point at the
    // raw expression subtree instead of a bound attribute, each one
    // re-tokenizes and re-hashes the whole document per shingle (measured
    // 80 s vs 2 s at sf0.1). Persist the exploded relation — it feeds five
    // consumers (df, sizes, prefix, both verify sides); shingle rows ≈
    // token count, so the cached size is corpus-bounded.
    val sh = Tables.documents(s, d)
      .withColumn("th", tokenHashes(tokens(col("text"))))
      .select(col("doc_id"), explode(kgramHashes(col("th"), 5)).as("sh"))
      .persist()
    allpairsPrefixCore(sh)
  }

  /** Core of q175 over any (doc_id, sh) set relation — separated so the
    * property suite can drive it with adversarial random universes
    * (small feature spaces force heavy df collisions and ties, the worst
    * case for the prefix-completeness theorem). */
  def allpairsPrefixCore(sh: DataFrame): DataFrame = {
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    val prefix = sh.join(dfreq, "sh")
      .withColumn("pos", row_number().over(wDoc))
      .join(sz, "doc_id")
      .filter(col("pos") <= col("n") - expr("(n + 1) div 2") + lit(1))
      .select(col("doc_id"), col("sh"))
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val inter = cand
      .join(sh.as("ta"), col("ta.doc_id") === col("da"))
      .join(sh.as("tb"),
        col("tb.doc_id") === col("db") && col("tb.sh") === col("ta.sh"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .filter(lit(3) * col("inter") >= col("na") + col("nb"))
      .select(col("da"), col("db"), col("inter"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6).as("jac"))
      .orderBy(col("da"), col("db"))
  }

  val q175Sql: String = {
    val shingles = kgramHashesSql(tokenHashesSql(tokensSql("text")), 5)
    s"""WITH g AS (SELECT doc_id, $shingles AS shl FROM documents),
       |e AS (SELECT doc_id, unnest(shl) AS sh FROM g),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY 1),
       |common AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
       |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT da, db, inter,
       |  ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jac
       |FROM common
       |JOIN sz sa ON sa.doc_id = da
       |JOIN sz sb ON sb.doc_id = db
       |WHERE 3*inter >= sa.n + sb.n
       |ORDER BY da, db""".stripMargin
  }

  /** q183 — incremental dedup: probe a DELTA batch of new documents
    * against the STANDING corpus' LSH index without touching
    * standing-vs-standing pairs.
    *
    * The production shape this grades: a crawl lands daily; deduping it
    * means comparing the new batch against the existing index, not
    * re-running all-pairs over the whole corpus (q35 is the full batch
    * op; q174 is the same incremental principle for aggregates). The
    * probe join's work is |delta bands| × (collisions in the standing
    * index) — proportional to the DELTA, independent of corpus size once
    * the index exists. Here "standing" is doc_id % 8 ≠ 7 and "delta" is
    * doc_id % 8 = 7 (a deterministic 12.5% batch both engines agree on).
    * Index-side conventions an incremental system must fix are made
    * explicit: the shingle df-cap is computed from the STANDING corpus
    * only (the index's own statistics — a delta batch can't retroactively
    * reclassify an indexed shingle as hot), and delta-only shingles pass
    * the cap by definition. Candidates are verified with exact Jaccard,
    * so the output is (new doc, indexed doc, similarity) ready for the
    * keep/drop routing step. */
  /** The delta-batch predicate shared by q183 and its streaming twin:
    * doc_id % 8 = 7 is "new this delivery", the rest is the standing
    * corpus. */
  val DeltaPred: org.apache.spark.sql.Column = col("doc_id") % 8 === 7

  /** Hot-shingle list by STANDING-corpus document frequency (the index's
    * own statistics — q183's df-cap convention), plus the capped
    * per-document LSH relation (doc_id, sig0..7, sh_set) for ALL
    * documents. Shared by q183 and the streaming twin's index build. */
  def deltaLshRelations(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val sh0 = Lsh.shingles(Lsh.tokenHashes(Tables.documents(s, d)))
      .persist() // read by the df-cap count and both band builds
    // index statistics: hot shingles determined by the standing side only
    val hot = Lsh.hot(sh0.filter(!DeltaPred))
    val docs = Lsh.signatures(Lsh.dropHot(sh0, hot)).persist()
    (hot, docs)
  }

  /** Band keys (doc_id, bk=(band,v0,v1)) for an LSH doc relation. */
  def bandsOf(df: DataFrame): DataFrame = df.select(col("doc_id"), Lsh.bandKey)

  def q183DeltaDedup(s: SparkSession, d: String): DataFrame = {
    val (_, docs) = deltaLshRelations(s, d)
    val isDelta = DeltaPred
    // the probe: delta bands against the standing index — never
    // standing×standing, so candidate volume scales with the batch
    val cand = bandsOf(docs.filter(isDelta)).as("l")
      .join(bandsOf(docs.filter(!isDelta)).as("r"), col("l.bk") === col("r.bk"))
      .select(col("l.doc_id").as("da"), col("r.doc_id").as("db")).distinct()
    Lsh.verify(cand, docs).orderBy(col("da"), col("db"))
  }

  val q183Sql: String = {
    val sigs = (0 until 8).map(i => s"${minHashSigSql("sh", i)} AS sig$i").mkString(",\n  ")
    s"""WITH t AS (SELECT doc_id, ${shingleHashesSql(tokenHashesSql(tokensSql("text")))} AS sh0 FROM documents),
       |e AS (SELECT doc_id, unnest(sh0) AS s FROM t),
       |dfreq AS (SELECT s, COUNT(*) AS df FROM e WHERE doc_id % 8 <> 7 GROUP BY 1),
       |f AS (SELECT doc_id, list(s) AS sh FROM e LEFT JOIN dfreq USING (s)
       |      WHERE COALESCE(df, 0) <= ${ScaleOps.ShingleDfCap} GROUP BY doc_id),
       |sigs AS (SELECT doc_id, sh, $sigs FROM f),
       |bands AS (
       |  SELECT doc_id, sh, b AS band,
       |    CASE b WHEN 0 THEN sig0 WHEN 1 THEN sig2 WHEN 2 THEN sig4 ELSE sig6 END AS v0,
       |    CASE b WHEN 0 THEN sig1 WHEN 1 THEN sig3 WHEN 2 THEN sig5 ELSE sig7 END AS v1
       |  FROM sigs, UNNEST(range(0, 4)) AS u(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.sh AS sa, b.sh AS sb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1
       |   AND a.doc_id % 8 = 7 AND b.doc_id % 8 <> 7)
       |SELECT da, db,
       |  ROUND(CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
       |        (len(sa) + len(sb) - CAST(len(list_intersect(sa, sb)) AS DOUBLE)), 6) AS jac
       |FROM cand
       |WHERE ROUND(CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
       |        (len(sa) + len(sb) - CAST(len(list_intersect(sa, sb)) AS DOUBLE)), 6) >= 0.5
       |ORDER BY da, db""".stripMargin
  }

  /** q184 — canonical-document selection: inside every multi-document dup
    * cluster (q55's connected components), keep the HIGHEST-QUALITY
    * member, not the arbitrary min-id one.
    *
    * This is the routing step a dedup pipeline actually ends with: the
    * cluster tells you the documents are interchangeable, quality decides
    * which one survives. Quality is the integer lexical-diversity score
    * (q182's ⌊distinct-token ratio × 10⁶⌋ — pure integer arithmetic, so
    * the winner is deterministic on both engines), tie-broken by min
    * doc_id. The rank window partitions by cluster_id — dup clusters are
    * small by nature, so the shuffle is balanced whatever the corpus
    * size. Output is one row per multi-doc cluster: the survivor, its
    * score, and how many members it displaced. */
  def q184KeepBest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = clustersFromPairs(Lsh.verifiedPairs(lshDocs(s, d)))
      .filter(col("cluster_size") >= 2)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    // Join FIRST, tokenize after: the score is only read for cluster
    // members (≪ corpus), so tokenizing every document then inner-joining
    // threw away almost all of the tokenize pass (§2.3 — project/filter
    // before expensive per-row work; the join result is identical).
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("doc_id"))
    clusters
      .join(Tables.documents(s, d).select(col("doc_id"), col("text")), "doc_id")
      .withColumn("toks", tokens(col("text")))
      .withColumn("score", expr(
        """case when size(toks) = 0 then 0L
          |else (cast(size(array_distinct(toks)) as bigint) * 1000000)
          |       div cast(size(toks) as bigint) end""".stripMargin))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc"),
        col("score"), col("cluster_size").as("n_members"))
      .orderBy(col("cluster_id"))
  }

  val q184Sql: String =
    s"""WITH RECURSIVE $lshCandidateCtes,
       |pairs AS (SELECT da, db FROM cand WHERE $lshJacExpr >= 0.5),
       |edges AS (SELECT da, db FROM pairs UNION ALL SELECT db, da FROM pairs),
       |verts AS (SELECT DISTINCT da AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT eg.da, re.r FROM edges eg JOIN reach re ON re.id = eg.db
       |),
       |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1),
       |mem AS (SELECT id AS doc_id, cluster_id, cluster_size
       |        FROM lab JOIN sz USING (cluster_id) WHERE cluster_size >= 2),
       |sc AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) = 0 THEN 0
       |         ELSE (CAST(len(list_distinct(toks)) AS BIGINT) * 1000000)
       |                // CAST(len(toks) AS BIGINT) END AS score
       |  FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents)),
       |r2 AS (
       |  SELECT mem.cluster_id, mem.doc_id, sc.score, mem.cluster_size,
       |    row_number() OVER (PARTITION BY mem.cluster_id
       |      ORDER BY sc.score DESC, mem.doc_id) AS rn
       |  FROM mem JOIN sc USING (doc_id))
       |SELECT cluster_id, doc_id AS kept_doc, score, cluster_size AS n_members
       |FROM r2 WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q183_delta_dedup" -> q183DeltaDedup _,
    "q184_keep_best" -> q184KeepBest _,
    "q175_allpairs_prefix" -> q175AllpairsPrefix _,
    "q178_leakage_safe_split" -> q178LeakageSafeSplit _,
    "q58_gopher_filter" -> q58GopherFilter _,
    "q59_pii_redact" -> q59PiiRedact _,
    "q49_levenshtein" -> q49Levenshtein _,
    "q30_token_stats" -> q30TokenStats _,
    "q31_quality_score" -> q31Quality _,
    "q32_lang_id" -> q32LangId _,
    "q33_fingerprint" -> q33Fingerprint _,
    "q34_exact_dedup" -> q34ExactDedup _,
    "q35_minhash_lsh" -> q35MinHashLsh _,
    "q36_simhash" -> q36SimHash _,
    "q66_winnowing" -> q66Winnowing _,
    "q50_char_ngram_langid" -> q50CharNgramLangId _,
    "q53_tfidf" -> q53TfIdf _,
    "q54_bpe_tokens" -> q54BpeTokens _,
    "q55_dup_clusters" -> q55DupClusters _,
    "q90_minhash_fast" -> q90MinHashFast _)

  val oracles: Map[String, String] = Map(
    "q183_delta_dedup" -> q183Sql,
    "q184_keep_best" -> q184Sql,
    "q175_allpairs_prefix" -> q175Sql,
    "q178_leakage_safe_split" -> q178Sql,
    "q58_gopher_filter" -> q58Sql,
    "q59_pii_redact" -> q59Sql,
    "q49_levenshtein" -> q49Sql,
    "q30_token_stats" -> q30Sql,
    "q31_quality_score" -> q31Sql,
    "q32_lang_id" -> q32Sql,
    "q33_fingerprint" -> q33Sql,
    "q34_exact_dedup" -> q34Sql,
    "q35_minhash_lsh" -> q35Sql,
    "q36_simhash" -> q36Sql,
    "q66_winnowing" -> q66Sql,
    "q50_char_ngram_langid" -> q50Sql,
    "q53_tfidf" -> q53Sql,
    "q54_bpe_tokens" -> q54Sql,
    "q55_dup_clusters" -> q55Sql,
    "q90_minhash_fast" -> q90Sql)
}
