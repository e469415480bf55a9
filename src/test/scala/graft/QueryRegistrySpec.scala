package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one record per query, indexed by name. Building
  * it needs no Spark session. */
class QueryRegistrySpec extends AnyFunSuite {

  private def stub(name: String) = Query(name, None)((s, _) => s.emptyDataFrame)

  test("a name registered twice is rejected") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.index(SparkEntry.registry :+ stub("a1_group_count")))
    assert(e.getMessage.contains("a1_group_count"))
    assert(SparkEntry.index(Seq(stub("x"), stub("y"))).keySet === Set("x", "y"))
  }

  test("291 queries, 283 of them with an oracle") {
    assert(SparkEntry.registry.size === 291)
    assert(SparkEntry.queries.size === 291)
    assert(SparkEntry.oracleSql.size === 283)
  }

  test("the queries without an oracle are exactly the rows-only ones") {
    assert(SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet) === Set(
      "c3_kmeans_profile", "d3_minhash_dedup", "d4_fingerprints",
      "d7_corpus_similarity", "m2_media_features", "p3_sequence_pack",
      "s3_ann_ivf", "t5_tableone_pvalues"))
  }

  test("the ops_mix benchmark queries resolve to a builder and an oracle") {
    Seq("a13_grouped_quantiles_dist", "d6_minhash_dedup_cc", "m6_phash_neardup",
      "g2_pagerank", "g6_kcore", "x14_bm25", "o15_jsonl_export", "j1_outer_join",
      "k1_salted_agg").foreach { q =>
      assert(SparkEntry.queries.contains(q), q)
      assert(SparkEntry.oracleSql.contains(q), q)
    }
  }

  test("selecting an unknown query name fails instead of selecting nothing") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("a1_group_count", "a1_group_cnt")))
    assert(e.getMessage.contains("a1_group_cnt"))
    assert(!e.getMessage.contains("a1_group_count"))
    assert(SparkEntry.select(Seq("j1_outer_join", "a1_group_count")).map(_.name) ===
      Seq("j1_outer_join", "a1_group_count"))
    assert(SparkEntry.select(Nil) === SparkEntry.registry)
  }
}
