package graft

import org.apache.spark.sql.functions._

/** Builds a larger benchmark dataset by replicating a testdata scale
  * factor with shifted keys: every primary/foreign key column maps
  * `key -> key * factor + rep`, so join fan-outs and group cardinalities
  * scale with the factor while non-key value distributions are preserved
  * exactly. The multiplicative shift is INJECTIVE across (key, rep) and
  * stays injective under composition (building sf10 by replicating sf1
  * again), unlike the previous additive `key + rep * 1e9` scheme, whose
  * two-step composition collided (sf10 documents: 500k rows but only
  * 95k distinct doc_ids = 5000 x 19 reachable offset sums) — silently
  * benchmarking duplicate-id corpora until the adjacentPairs id-contract
  * guard failed d2 loudly at sf10. Dimension tables (region/nation) are
  * copied unreplicated, mirroring how TPC-H dims grow sub-linearly.
  *
  * Usage: runMain graft.ScaleData [srcDir] [dstDir] [factor]
  * Default: /root/testdata/sf0.1 -> benchdata/sf1 x10.
  */
object ScaleData {

  /** Near-dup realism for replicated document text: replicas on the
    * exact-twin stratum (`rep % 5 == 0` — rep 0 is the original, so a
    * factor-10 build keeps one exact twin per doc) pass through
    * unchanged; every other replica gets seeded token mutations — one
    * forced position plus a hash-Bernoulli sprinkle at a per-replica
    * rate drawn from 2-6% — appending `~rep` to the chosen tokens.
    * Token replacement at rate r moves the 3-token-shingle Jaccard to
    * roughly (1-3r)/(1+3r), so the planted (original, replica) pairs
    * land in the ~0.7-0.94 band production near-dups occupy instead of
    * the all-1.0 exact twins that made the LSH bench measure a
    * quadratic twin artifact (r6 verdict: d3 was 23% of the sf10 suite
    * on degenerate data). Deterministic in (docId, rep): rebuilds are
    * byte-identical, and composing builds (sf1 -> sf10) just mutates
    * mutated text again, still deterministically. */
  private[graft] def mutatedText(text: org.apache.spark.sql.Column,
                                 docId: org.apache.spark.sql.Column,
                                 rep: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = split(text, " ")
    val n = size(toks)
    // per-replica mutation rate: bucket 0-4 -> 0.02 .. 0.06
    val rate = (pmod(xxhash64(docId, rep, lit(11L)), lit(5)) + 1).cast("double") / 100.0 + 0.01
    // forced mutation position: a mutated replica NEVER equals its original
    val forced = pmod(xxhash64(docId, rep, lit(23L)), greatest(n.cast("long"), lit(1L)))
    val mut = transform(toks, (tok, i) =>
      when(i.cast("long") === forced ||
           pmod(xxhash64(docId, rep, i, lit(37L)), lit(1000)).cast("double") < rate * 1000,
        concat(tok, lit("~"), rep.cast("string"))).otherwise(tok))
    when(rep % 5 === 0 || n === 0, text).otherwise(concat_ws(" ", mut))
  }

  /** Near-dup realism for replicated EMBEDDINGS — the round-10 twin
    * audit found documents.text already de-twinned (max dup group 8 at
    * sf10) but every embedding vector byte-identical across all 100
    * replicas (2000 distinct vectors x 100 copies), so d5/d11/s7/s8
    * benchmarked degenerate 100-deep LSH buckets and tie-saturated kNN
    * lists. Same stratum policy as [[mutatedText]]: `rep % 5 == 0`
    * stays exact (one exact twin per factor-10 build), every other
    * replica gets per-dimension multiplicative jitter
    * `x * (1 + a * u_i)` with u_i uniform in [-1, 1] seeded by
    * (vecId, rep, i) and a per-replica amplitude `a` drawn from
    * {0.15, 0.3, 0.5, 0.8, 1.2}. Independent relative noise of
    * variance a^2/3 lands the replica at cosine ~ 1/sqrt(1 + a^2/3) to
    * its original — {0.996, 0.985, 0.96, 0.90, 0.81} — straddling the
    * usual 0.95-ish near-dup thresholds the way a real corpus does
    * instead of sitting at all-1.0. Deterministic in (vecId, rep);
    * composing builds re-jitters jittered vectors, still deterministic. */
  private[graft] def jitteredEmbedding(vec: org.apache.spark.sql.Column,
                                       vecId: org.apache.spark.sql.Column,
                                       rep: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val amps = Seq(0.15, 0.3, 0.5, 0.8, 1.2)
    val amp = element_at(
      array(amps.map(lit): _*), (pmod(xxhash64(vecId, rep, lit(41L)), lit(amps.size)) + 1).cast("int"))
    val jit = transform(vec, (x, i) => {
      // u in [-1, 1): 20-bit hash slice, exact in doubles
      val u = pmod(xxhash64(vecId, rep, i, lit(53L)), lit(1048576)).cast("double") / 524288.0 - 1.0
      (x * (amp * u + 1.0)).cast("float")
    })
    when(rep % 5 === 0, vec).otherwise(jit)
  }

  private val keyCols: Seq[(String, Seq[String])] = Seq(
    "region"     -> Nil,
    "nation"     -> Nil,
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "benchdata/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Session.local()
    // events ships TIMESTAMP(NANOS); read as long, write as long —
    // Util.events converts on read either way
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    keyCols.foreach { case (t, keys) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val out =
        if (keys.isEmpty) df
        else df.crossJoin(spark.range(factor).select(col("id").as("__rep")))
          .select(df.columns.map { c =>
            if (keys.contains(c)) (col(c) * factor + col("__rep")).as(c)
            // documents.text: mutate non-twin replicas into 0.7-0.9-Jaccard
            // near-dups (seeded by the ORIGINAL doc_id + rep, so the
            // mutation set is independent of the key shift)
            else if (t == "documents" && c == "text")
              mutatedText(col(c), col("doc_id"), col("__rep")).as(c)
            else if (t == "embeddings" && c == "embedding")
              jitteredEmbedding(col(c), col("vec_id"), col("__rep")).as(c)
            else col(c)
          }.toSeq: _*)
      // Spread replicated tables across one file per core: the source
      // scale factors ship single-file tables, and a crossJoin of a
      // single-file scan coalesces back to one output file — which then
      // caps every SCAN-stage computation of the benchmark at one task
      // (one 33 MB parquet of 10M rows = one partition under the 128 MB
      // split size; per-row projections like JSON parsing ran 1-core on
      // a 32-core session and benchmarked ~12x slower than their real
      // cost). A cluster reads thousands of files; the bench should too.
      val spread = if (keys.isEmpty) out else out.repartition(spark.sparkContext.defaultParallelism)
      spread.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      System.err.println(s"[scale] $t x${if (keys.isEmpty) 1 else factor} -> $dst/$t.parquet")
    }
    spark.stop()
  }
}
