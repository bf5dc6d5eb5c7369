package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The measuring mains do not hide failures: unknown entry names abort the
  * run, and a failed entry is named, never timed.
  */
class BenchSpec extends AnyFunSuite {
  test("Bench and Verify reject names that are not in the catalog") {
    Catalog.requireKnown(Seq("sql_tpch_q06", "p71_minhash_calibration"))
    Catalog.requireKnown(Nil)
    val e = intercept[IllegalArgumentException](
      Catalog.requireKnown(Seq("sql_tpch_q01", "sql_tpch_q06")))
    assert(e.getMessage.contains("sql_tpch_q01"))
    assert(!e.getMessage.contains("sql_tpch_q06"))
  }

  test("a failed entry is left out of the total and listed by name") {
    val timed = Seq("q01_pricing_summary" -> 1.5, "p01_dedup_exact" -> 0.25)
    val failed = Seq("sql_tpch_q09")
    val json = new ObjectMapper().readTree(Bench.line(timed, failed, "sf"))
    assert(json.get("metric").asText == "total")
    assert(json.get("value").asDouble == 1.75)
    assert(json.get("n_entries").asInt == 2)
    assert(json.get("failed").size == 1 && json.get("failed").get(0).asText == "sql_tpch_q09")
    assert(!json.get("queries").has("sql_tpch_q09"))
    val full = new ObjectMapper().readTree(Bench.full(timed :+ ("_calib_start" -> 0.2), failed))
    assert(!full.has("sql_tpch_q09") && full.get("failed").get(0).asText == "sql_tpch_q09")
    assert(full.get("q01_pricing_summary").asDouble == 1.5)
  }
}
