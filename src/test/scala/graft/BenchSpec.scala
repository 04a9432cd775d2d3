package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards for the bench's driver contract: the harness that records
  * BENCH_r{N}.json keeps only a ~2000-char tail of stdout and parses the
  * LAST line that is valid JSON — rounds 1-3 recorded "parsed": null from
  * overflow / sbt log prefixes. These tests pin the invariants that fixed
  * it, so a future query addition can't silently regress the budget.
  */
class BenchSpec extends AnyFunSuite {

  // worst-case widths: every query present, 4-digit-second times, huge eps
  private val results: Map[String, Double] =
    SparkEntry.queries.keySet.map(_ -> 9999.999).toMap
  private val line = Bench.headlineLine(results, 99999999L, 99999999L,
    99999999L, 99999999L, "/root/testdata/sf0.1", "/root/repo/BENCH_DETAIL.json")

  test("headline stdout line stays within the driver's tail budget") {
    assert(line.length < 1500,
      s"headline line is ${line.length} chars; the driver keeps ~2000 — trim HeadlineQueries")
  }

  test("headline and detail lines are valid single-line JSON with the contract keys") {
    for (l <- Seq(line, Bench.detailLine(results, 1L, 1L, 1L, 1L, "/sf"))) {
      assert(!l.contains("\n"))
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
      assert(node.get("metric").asText() == "total")
      assert(node.get("value").isNumber && node.get("unit").asText() == "sec")
      assert(node.get("n_queries").asLong() == SparkEntry.queries.size)
      assert(node.get("failures").asLong() == 0L)
      assert(node.get("queries").isObject)
    }
  }

  test("failed queries are counted, named in detail, and excluded from totals") {
    val ok = Map("q01_pricing_summary" -> 1.0)
    val head = Bench.headlineLine(ok, 1L, 1L, 1L, 1L, "/sf", "/d.json",
      failed = Seq("q78_streaming_agg", "q60_log_roundtrip"))
    val detail = Bench.detailLine(ok, 1L, 1L, 1L, 1L, "/sf",
      failed = Seq("q78_streaming_agg", "q60_log_roundtrip"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val h = om.readTree(head)
    assert(h.get("failures").asLong() == 2L)
    assert(h.get("n_queries").asLong() == 1L)
    assert(h.get("value").asDouble() == 1.0) // failures add no fake time
    val d = om.readTree(detail)
    assert(d.get("failures").asLong() == 2L)
    assert(d.get("failed").isArray && d.get("failed").size() == 2)
    assert(!d.get("queries").has("q78_streaming_agg"))
  }

  test("a failed probe keeps -1 in its slot and its reason in the detail") {
    val err = "java.io.IOException: disk \"full\"\n at staging"
    val detail = Bench.detailLine(Map("q01_pricing_summary" -> 1.0), -1L, 1L, 1L, 1L,
      "/sf", probeErrors = Seq("stream_entries_per_sec" -> err))
    assert(!detail.contains("\n"))
    val d = new com.fasterxml.jackson.databind.ObjectMapper().readTree(detail)
    assert(d.get("stream_entries_per_sec").asLong() == -1L)
    assert(d.get("probe_errors").size() == 1)
    assert(d.get("probe_errors").get("stream_entries_per_sec").asText() == err)
  }

  test("every headline query name is a real query") {
    val unknown = Bench.HeadlineQueries.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"unknown headline queries: $unknown")
  }

  test("every query has an oracle (driver records a weaker check otherwise)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty,
      s"queries without oracle SQL (rows-only driver check): ${missing.toSeq.sorted}")
  }
}
