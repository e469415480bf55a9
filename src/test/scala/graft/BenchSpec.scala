package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins Bench's record codec: a 1-scale bench run must carry the prior
  * committed record's sf1_/sf10_ blocks into its own output instead of
  * clobbering the 3-scale history, the regression gate must read the
  * prior's own `queries` map, and every line Bench and Verify write must
  * parse strictly. No Spark session needed. */
class BenchSpec extends AnyFunSuite {

  // Jackson's default parser is strict: no NaN/Infinity tokens, no raw
  // control characters inside strings
  private val strict = new ObjectMapper()

  // a miniature 3-scale record with every value shape the real one
  // carries: flat float maps, long maps, nested regression objects,
  // string dirs, and a top-level string value ("sf")
  private val prior = strict.readTree(
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
      """"sf10_dir":"benchdata/sf10"}""")

  private def names(n: JsonNode): Seq[String] = n.fieldNames.asScala.toSeq

  private def tempFile(text: String): String = {
    val f = Files.createTempFile("bench_prior_", ".json")
    f.toFile.deleteOnExit()
    Files.writeString(f, text)
    f.toString
  }

  test("carries every sf1_* block verbatim, and only those") {
    val out = Bench.scaleBlocks(prior, "sf1")
    assert(names(out) === Seq("sf1_total", "sf1_failed", "sf1_queries", "sf1_gc_ms",
      "sf1_regressions", "sf1_isolated_queries", "sf1_dir"))
    names(out).foreach(k => assert(out.get(k) === prior.get(k), k))
    assert(out.get("sf1_regressions").get("t6_tableone_beautify").get("sweep").asDouble === 0.99)
  }

  test("sf1_ prefix does not match sf10_ keys and vice versa") {
    val sf10 = Bench.scaleBlocks(prior, "sf10")
    assert(names(sf10) === Seq("sf10_total", "sf10_failed", "sf10_queries", "sf10_dir"))
    assert(!names(Bench.scaleBlocks(prior, "sf1")).exists(_.startsWith("sf10_")))
  }

  test("splicing a carried block yields parseable JSON (round-trip)") {
    val rec = Util.json.createObjectNode().put("metric", "total").put("value", 1.0)
      .put("unit", "sec").put("sf", "x")
    rec.setAll[JsonNode](Bench.scaleBlocks(prior, "sf1"))
    rec.setAll[JsonNode](Bench.scaleBlocks(prior, "sf10"))
    val back = strict.readTree(Util.json.writeValueAsString(rec))
    assert(back === rec)
    assert(back.get("sf1_total").asDouble === 327.5)
    assert(back.get("sf10_total").asDouble === 789.4)
  }

  test("a NaN or infinite median round-trips the BENCH_QUERIES line as valid JSON") {
    val line = Bench.queriesLine("sf",
      Seq("a" -> Double.NaN, "b" -> 1.5, "c" -> Double.PositiveInfinity))
    val q = strict.readTree(line).get("queries")
    assert(q.get("a").asDouble() === -1.0)
    assert(q.get("b").asDouble() === 1.5)
    assert(q.get("c").asDouble() === -1.0)
  }

  test("a record with non-finite medians and escaped query names parses strictly") {
    val odd = Seq("q\"uote", "back\\slash", "tab\tname")
    val line = Bench.queriesLine("dir\"x",
      Seq(odd(0) -> Double.NaN, odd(1) -> Double.NegativeInfinity, odd(2) -> 0.25,
        "inf" -> Double.PositiveInfinity))
    val rec = strict.readTree(line)
    assert(rec.get("sf").asText === "dir\"x")
    val q = rec.get("queries")
    assert(names(q) === odd :+ "inf")
    assert(odd.take(2).map(q.get(_).asDouble) === Seq(-1.0, -1.0))
    assert(q.get("tab\tname").asDouble === 0.25)
    assert(q.get("inf").asDouble === -1.0)
  }

  test("empty or scale-less prior carries nothing") {
    val empty = Bench.readPrior(tempFile(""))
    assert(Bench.scaleBlocks(empty, "sf1").isEmpty)
    assert(Bench.loadPrior(empty, "queries").isEmpty)
    val absent = Bench.readPrior(tempFile("") + ".missing")
    assert(Bench.scaleBlocks(absent, "sf1").isEmpty)
    assert(Bench.scaleBlocks(strict.readTree("""{"metric":"total","value":1.0}"""), "sf1").isEmpty)
    // a 1-scale record with no sf1 history: nothing to carry
    val oneScale = strict.readTree(
      """{"value":143.1,"queries":{"a1":0.1},"sf":"d","skipped_scales":"sf1,sf10"}""")
    assert(Bench.scaleBlocks(oneScale, "sf1").isEmpty)
  }

  test("a query name sharing the prefix inside a nested map is not carried") {
    // keys inside "queries" are not top-level fields
    val tricky = strict.readTree("""{"queries":{"sf1_lookalike":0.5},"sf1_total":2.0}""")
    assert(names(Bench.scaleBlocks(tricky, "sf1")) === Seq("sf1_total"))
  }

  test("the committed bench_out.json carries exactly its sf1_* and sf10_* fields") {
    val committed = Bench.readPrior("bench_out.json")
    val sf1 = Bench.scaleBlocks(committed, "sf1")
    val sf10 = Bench.scaleBlocks(committed, "sf10")
    assert(names(sf1) === Seq("sf1_total", "sf1_failed", "sf1_queries", "sf1_gc_ms",
      "sf1_jit_ms", "sf1_dir"))
    assert(names(sf10) === Seq("sf10_total", "sf10_failed", "sf10_queries", "sf10_gc_ms",
      "sf10_jit_ms", "sf10_isolated_queries", "sf10_dir"))
    (names(sf1) ++ names(sf10)).foreach { k =>
      assert((if (k.startsWith("sf10_")) sf10 else sf1).get(k) === committed.get(k), k)
    }
  }

  test("loadPrior reads the queries map, not isolated_queries") {
    val committed = Bench.readPrior("bench_out.json")
    val q = Bench.loadPrior(committed, "queries")
    assert(q.keySet === names(committed.get("queries")).toSet)
    val iso = committed.get("isolated_queries")
    assert(!iso.isEmpty)
    names(iso).foreach(n => assert(q(n) === committed.get("queries").get(n).asDouble, n))
    assert(names(iso).exists(n => q(n) != iso.get(n).asDouble))
    // the same when isolated_queries comes first in the record
    val swapped = strict.readTree("""{"isolated_queries":{"a":9.0},"queries":{"a":1.0}}""")
    assert(Bench.loadPrior(swapped, "queries") === Map("a" -> 1.0))
  }

  test("an isolated child that records the failure sentinel yields no isolated time") {
    val child = strict.readTree("""{"queries":{"failed_q":-1.0,"ok_q":0.75,"text_q":"1.0"}}""")
    assert(Bench.isolatedSeconds(child, "failed_q") === None)
    assert(Bench.isolatedSeconds(child, "ok_q") === Some(0.75))
    assert(Bench.isolatedSeconds(child, "text_q") === None)
    assert(Bench.isolatedSeconds(child, "absent_q") === None)
    assert(Bench.isolatedSeconds(Bench.readPrior(tempFile("")), "ok_q") === None)
  }

  test("oracle_sql.json round-trips SQL with a tab, CR, quote and U+0001") {
    val sql = Map("q1" -> "SELECT\t1 AS \"x\"\r\nFROM t WHERE s = '\u0001'",
      "q\"2" -> "SELECT '\\' AS b")
    val txt = Verify.oracleJson(sql)
    assert(!txt.exists(c => c < ' '))
    val back = strict.readTree(txt)
    assert(names(back).toSet === sql.keySet)
    sql.foreach { case (k, v) => assert(back.get(k).asText === v, k) }
  }
}
