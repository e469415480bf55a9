package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the skip-scales carry-forward (VERDICT r14 #1): a 1-scale bench
  * run must splice the prior committed record's sf1_/sf10_ blocks into
  * its own output instead of clobbering the 3-scale history. Pure text
  * in, fragments out — no Spark session needed. */
class BenchSpec extends AnyFunSuite {

  // a miniature 3-scale record with every value shape the real one
  // carries: flat float maps, long maps, nested regression objects,
  // string dirs, and a top-level string value ("sf") that must NOT be
  // mistaken for a key
  private val prior =
    """{"metric":"total","value":195.0,"unit":"sec","failed":0,""" +
      """"queries":{"a1_group_count":0.1,"sf_lookalike":0.2},""" +
      """"gc_ms":{"a1_group_count":12},""" +
      """"sf":"/root/testdata/sf0.1",""" +
      """"sf1_total":327.5,"sf1_failed":0,""" +
      """"sf1_queries":{"a1_group_count":1.5,"d13_cluster_canonical":-1},""" +
      """"sf1_gc_ms":{"a1_group_count":120},""" +
      """"sf1_regressions":{"t6_tableone_beautify":{"prior":0.32,"sweep":0.99}},""" +
      """"sf1_isolated_queries":{"t6_tableone_beautify":0.31},""" +
      """"sf1_dir":"benchdata/sf1",""" +
      """"sf10_total":789.4,"sf10_failed":0,""" +
      """"sf10_queries":{"a1_group_count":9.25},""" +
      """"sf10_dir":"benchdata/sf10"}"""

  test("carries every sf1_* block verbatim, and only those") {
    val out = Bench.carryScaleBlocks(prior, "sf1_")
    assert(out.contains(""","sf1_total":327.5"""))
    assert(out.contains(""","sf1_failed":0"""))
    assert(out.contains(
      """"sf1_queries":{"a1_group_count":1.5,"d13_cluster_canonical":-1}"""))
    assert(out.contains(""""sf1_gc_ms":{"a1_group_count":120}"""))
    assert(out.contains(
      """"sf1_regressions":{"t6_tableone_beautify":{"prior":0.32,"sweep":0.99}}"""))
    assert(out.contains(""""sf1_isolated_queries":{"t6_tableone_beautify":0.31}"""))
    assert(out.contains(""""sf1_dir":"benchdata/sf1""""))
    // the prefix must not leak sibling scales or unprefixed keys
    assert(!out.contains("sf10_"))
    assert(!out.contains("\"queries\""))
    assert(!out.contains("\"gc_ms\""))
  }

  test("sf1_ prefix does not match sf10_ keys and vice versa") {
    val sf10 = Bench.carryScaleBlocks(prior, "sf10_")
    assert(sf10 ===
      ""","sf10_total":789.4,"sf10_failed":0""" +
        ""","sf10_queries":{"a1_group_count":9.25}""" +
        ""","sf10_dir":"benchdata/sf10"""")
  }

  test("splicing a carried block yields parseable JSON (round-trip)") {
    val frag = Bench.carryScaleBlocks(prior, "sf1_") +
      Bench.carryScaleBlocks(prior, "sf10_")
    val rec = s"""{"metric":"total","value":1.0,"unit":"sec","sf":"x"$frag}"""
    // minimal structural parse: balanced braces and quotes
    var depth = 0; var inStr = false; var esc = false
    rec.foreach { c =>
      if (inStr) { if (esc) esc = false else if (c == '\\') esc = true
                   else if (c == '"') inStr = false }
      else c match {
        case '{' => depth += 1
        case '}' => depth -= 1; assert(depth >= 0)
        case '"' => inStr = true
        case _ =>
      }
    }
    assert(depth === 0 && !inStr)
    assert(rec.contains(""""sf1_total":327.5"""))
    assert(rec.contains(""""sf10_total":789.4"""))
  }

  test("a NaN or infinite median round-trips the BENCH_QUERIES line as valid JSON") {
    val line = Bench.queriesLine("sf",
      Seq("a" -> Double.NaN, "b" -> 1.5, "c" -> Double.PositiveInfinity))
    // Jackson's strict parser rejects the bare NaN / Infinity tokens
    val q = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line).get("queries")
    assert(q.get("a").asDouble() === -1.0)
    assert(q.get("b").asDouble() === 1.5)
    assert(q.get("c").asDouble() === -1.0)
  }

  test("empty or scale-less prior carries nothing") {
    assert(Bench.carryScaleBlocks("", "sf1_") === "")
    assert(Bench.carryScaleBlocks("""{"metric":"total","value":1.0}""", "sf1_") === "")
    // a 1-scale record with no sf1 history: nothing to carry
    val oneScale = """{"value":143.1,"queries":{"a1":0.1},"sf":"d","skipped_scales":"sf1,sf10"}"""
    assert(Bench.carryScaleBlocks(oneScale, "sf1_") === "")
  }

  test("a query name sharing the prefix inside a nested map is not carried") {
    // keys at depth 2 (inside "queries") must be invisible to the scan
    val tricky = """{"queries":{"sf1_lookalike":0.5},"sf1_total":2.0}"""
    assert(Bench.carryScaleBlocks(tricky, "sf1_") === ""","sf1_total":2.0""")
  }
}
