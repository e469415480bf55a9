package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query map and the oracle map are joined by name strings: a typo in
  * an oracle key would silently turn its query into a check_oracle.py
  * SKIP. Building the maps needs no Spark session. */
class QueryRegistrySpec extends AnyFunSuite {

  test("every oracle SQL key names a registered query") {
    assert(SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet).isEmpty)
  }

  test("the queries without an oracle are exactly the rows-only ones") {
    assert(SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet) === Set(
      "c3_kmeans_profile", "d3_minhash_dedup", "d4_fingerprints",
      "d7_corpus_similarity", "m2_media_features", "p3_sequence_pack",
      "s3_ann_ivf", "t5_tableone_pvalues"))
  }
}
