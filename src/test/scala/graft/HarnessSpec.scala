package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the graded-surface contract itself: `SparkEntry.queries` /
  * `oracleSql` merge the per-module Maps, where a duplicated key would
  * silently overwrite a query — these checks make that failure loud. */
class HarnessSpec extends AnyFunSuite {

  // Empty since round 8: the five formerly rows-only queries were
  // tightened into hash-checked claims (q67/q147 via the 6-dp-rounded
  // portable Lloyd model, q90/q92/q93 via exact columns + envelope
  // booleans the oracle asserts TRUE).
  private val RowsOnly = Set.empty[String]

  test("every query key is well-formed and its qNN prefix is unique") {
    val keys = SparkEntry.queries.keys.toSeq
    keys.foreach(k => assert(k.matches("^q\\d+_[a-z0-9_]+$"), s"bad key: $k"))
    val nums = keys.map(_.takeWhile(_ != '_'))
    val dups = nums.groupBy(identity).filter(_._2.length > 1).keys
    assert(dups.isEmpty, s"colliding query numbers: ${dups.mkString(", ")}")
  }

  test("no query or oracle key is defined by two modules") {
    def dups(keys: Seq[String]) = keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    val q = dups(SparkEntry.modules.flatMap(_.queries.keys))
    val o = dups(SparkEntry.modules.flatMap(_.oracles.keys))
    assert(q.isEmpty, s"query keys defined twice: ${q.mkString(", ")}")
    assert(o.isEmpty, s"oracle keys defined twice: ${o.mkString(", ")}")
  }

  test("oracles cover exactly the non-rows-only queries") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).mkString(", ")}")
    assert(q -- o == RowsOnly,
      s"oracle-less queries drifted: ${((q -- o) -- RowsOnly).mkString(", ")}")
  }

  test("Verify writes every oracle, or only those of the queries it is given") {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    def parsed(only: Option[Set[String]]): Map[String, String] =
      mapper.readTree(Verify.oracleJson(only)).properties().asScala
        .map(e => e.getKey -> e.getValue.asText).toMap
    assert(parsed(None) == SparkEntry.oracleSql)
    val some = Set("q35_minhash_lsh", "q183_delta_dedup", "q337_band_erasure")
    assert(parsed(Some(some)) == SparkEntry.oracleSql.filter { case (k, _) => some(k) })
  }

  // single-row scalar aggregates: order is trivially deterministic
  private val SingleRow = Set("q96_tpch_q6", "q97_tpch_q14", "q105_tpch_q17",
    "q106_tpch_q19", "q122_funnel", "q141_curation_funnel", "q164_funnel_latency",
    "q251_hll_merge", "q256_auc_exact", "q258_capture_recapture", "q262_bloom_fpr")

  test("README and SURVEY coverage counts match the registered surface") {
    def counts(path: String, re: scala.util.matching.Regex): (Int, Int) = {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
      val m = re.findFirstMatchIn(text)
        .getOrElse(fail(s"$path lost its coverage-count line"))
      (m.group(1).toInt, m.group(2).toInt)
    }
    val (rOracles, rQueries) =
      counts("README.md", """\((\d+) oracles, (\d+) queries""".r)
    val (sQueries, sOracles) =
      counts("SURVEY.md", """Current surface: (\d+) queries, (\d+) oracles""".r)
    assert(rQueries == SparkEntry.queries.size,
      s"README says $rQueries queries, registry has ${SparkEntry.queries.size}")
    assert(rOracles == SparkEntry.oracleSql.size,
      s"README says $rOracles oracles, registry has ${SparkEntry.oracleSql.size}")
    assert(sQueries == SparkEntry.queries.size,
      s"SURVEY says $sQueries queries, registry has ${SparkEntry.queries.size}")
    assert(sOracles == SparkEntry.oracleSql.size,
      s"SURVEY says $sOracles oracles, registry has ${SparkEntry.oracleSql.size}")
  }

  test("PLANS.md covers the whole registry (plan evidence cannot lag)") {
    // PLANS.md is generated registry-driven (tools/plans_gen.scala walks
    // SparkEntry.queries), so a missing section means the evidence was
    // not regenerated after a query landed — rerun tools/gen_plans.sh
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("PLANS.md")), java.nio.charset.StandardCharsets.UTF_8)
    val sections = "(?m)^## (\\S+)$".r.findAllMatchIn(text).map(_.group(1)).toSet
    val missing = SparkEntry.queries.keySet -- sections
    assert(missing.isEmpty,
      s"queries with no PLANS.md section (rerun tools/gen_plans.sh): " +
        s"${missing.toSeq.sorted.mkString(", ")}")
    val stale = sections.filter(_.startsWith("q")) -- SparkEntry.queries.keySet
    assert(stale.isEmpty,
      s"PLANS.md sections for unregistered queries: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("every oracle is non-empty SQL ordered by something (or single-row)") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.nonEmpty)
      assert(sql.toUpperCase.contains("ORDER BY") || SingleRow.contains(k),
        s"$k oracle lacks ORDER BY — the hash compare needs deterministic order")
    }
  }
}
