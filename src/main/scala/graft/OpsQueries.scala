package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Association, BloomJoin, Bpe, Clustering, Curation, Dedup, Drift, Encoding, Evaluation, Graph, Histograms, Merge, Multimodal, Packing, Pca, Pq, Quality, Sampling, Search, Similarity, TextAnalysis, TimeSeries}
import graft.streaming.EventPipeline
import graft.Util.table

/** Driver-contract registration for the training-data-pipeline operators
  * (dedup, similarity search, multimodal plumbing, text analysis,
  * event-stream transforms) over the driver's `documents` / `embeddings` /
  * `events` tables.
  *
  * Queries with a matching `oracleSql` entry are hash-compared against
  * DuckDB; hash-based operators (xxhash64 signatures, LSH) are not
  * SQL-expressible and get the driver's rows-only check — their exact
  * semantics are asserted in the ScalaTest specs instead.
  */
object OpsQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(col("doc_id"), col("text"))

  /** The d6/d13/d13c/c5 shared planted near-dup corpus: doc_id % 5 == 3
    * becomes a double-space copy of doc_id - 1 and doc_id % 5 == 4 a
    * triple-space copy of doc_id - 2 — the same token stream (identical
    * shingle sets) under different raw text, so each % 5 == 2 donor
    * anchors a 3-clique that exact dedup does not absorb. */
  private def plantedNearDupDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val c1 = d.select((col("doc_id") + 1).as("doc_id"),
      expr("replace(text, ' ', '  ')").as("__c1"))
    val c2 = d.select((col("doc_id") + 2).as("doc_id"),
      expr("replace(text, ' ', '   ')").as("__c2"))
    d.join(c1, Seq("doc_id"), "left").join(c2, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 3 && col("__c1").isNotNull, col("__c1"))
          .when(col("doc_id") % 5 === 4 && col("__c2").isNotNull, col("__c2"))
          .otherwise(col("text")).as("text"))
  }

  /** The d15/d15c shared "new crawl" over the reference corpus `ref`:
    * doc_id % 4 == 0 is a byte-exact copy, % 4 == 1 an equal-token
    * near-dup (double spaces), % 4 in {2, 3} genuinely fresh (a unique
    * token appended). Ids shift by 1e12 for scale-proof disjointness
    * (a +1e6 shift collided with real ids at sf30, where ids reach
    * 1.5M, and crossCorpusDedup's in-plan uniqueness guard caught it
    * loudly rather than silently double-counting). */
  private def newCrawl(ref: DataFrame): DataFrame =
    ref.select((col("doc_id") + 1000000000000L).as("doc_id"),
      when(col("doc_id") % 4 === 0, col("text"))
        .when(col("doc_id") % 4 === 1, expr("replace(text, ' ', '  ')"))
        .otherwise(concat(col("text"), lit(" zz"), col("doc_id"))).as("text"))

  /** The g1/g11 shared planted doc-adjacency graph, canonical (a < b):
    * chain edges (i, i+1), chords (i, i+2) at i%3==0 and i%5==0
    * (overlapping at i%15==0 — exercises the canonical dedup), and
    * triangle-free (i, i+4) edges at i%7==0. */
  private def plantedDocGraph(s: SparkSession, dir: String): DataFrame = {
    val ids = docs(s, dir).select(col("doc_id").as("i"))
    val raw = ids.select(explode(array(
        struct(col("i").as("src"), (col("i") + 1).as("dst"), lit(true).as("k")),
        struct(col("i").as("src"), (col("i") + 2).as("dst"), (col("i") % 3 === 0).as("k")),
        struct(col("i").as("src"), (col("i") + 2).as("dst"), (col("i") % 5 === 0).as("k")),
        struct(col("i").as("src"), (col("i") + 4).as("dst"), (col("i") % 7 === 0).as("k")))).as("e"))
      .filter(col("e.k"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    Graph.canonicalEdges(raw, "src", "dst")
  }

  /** The o15/c9 shared export handshake: wipe the target dirs, run
    * [[graft.sources.Sinks.exportJsonlSharded]] on `df` (must carry
    * doc_id/source/text/n_tok), re-read the JSONL with tokens
    * RECOMPUTED from the round-tripped text, and return the per-shard
    * census with the one-file-per-shard and manifest-match booleans.
    * The re-read census is persisted and the ≤shards rows collected
    * once (aggregates-only contract), so the JSONL is read ONCE — the
    * earlier def-per-consumer shape re-read and re-tokenized the
    * corpus three times per bench rep. */
  private def jsonlExportCensus(s: SparkSession, df: DataFrame,
                                outName: String, mtName: String): DataFrame = {
    val wh = s.conf.get("spark.sql.warehouse.dir")
    def pth(n: String) = new org.apache.hadoop.fs.Path(wh, n).toString
    val out = pth(outName); val mt = pth(mtName)
    val fs0 = new org.apache.hadoop.fs.Path(wh).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    fs0.delete(new org.apache.hadoop.fs.Path(out), true)
    fs0.delete(new org.apache.hadoop.fs.Path(mt), true)
    val rep = graft.sources.Sinks.exportJsonlSharded(
      df, out, "doc_id", "n_tok", manifestTable = mt)
    val reread = s.read
      .schema("doc_id LONG, source STRING, text STRING, n_tok LONG")
      .json(out)
      .withColumn("rt", size(TextAnalysis.tokens(col("text"))).cast("long"))
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum("rt").as("n_tokens"))
      .persist()
    try {
      val manifest = graft.sources.VersionedTable.read(s, mt)
        .select(col("shard"), col("n_docs"), col("n_tokens"))
      val manifestOk = reread.exceptAll(manifest)
        .unionAll(manifest.exceptAll(reread)).isEmpty
      val rows = reread.orderBy("shard").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          rep.nFiles == rep.nShards, manifestOk))
      import s.implicits._
      rows.toDF("shard", "n_docs", "n_tokens",
          "one_file_per_shard", "manifest_match")
        .orderBy("shard")
    } finally reread.unpersist()
  }

  /** The c4/c6 shared upstream: exact-deduped, non-empty documents. */
  private def dedupedCorpus(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir), "doc_id", "text")
      .filter(length(col("text")) > 0)

  /** The c4/c6 shared signal-join pipeline over a deduped corpus `dd`:
    * per-doc profile/entropy scoring, duplicated-span fraction, LM
    * perplexity — two left joins on doc_id, exact-arithmetic gates, and
    * the per-language report. c4 runs it lazy (dd re-executes per
    * stage); c6 runs it through [[Curation.withMaterialized]]. */
  private def curationV2Report(dd: DataFrame): DataFrame = {
    val p = col("__p")
    val scored = dd
      .withColumn("__p", TextAnalysis.profile(col("text")))
      .withColumn("__e", graft.functions.HashFunctions.charEntropy(col("text")))
      .select(col("doc_id"),
        TextAnalysis.languageIdP(p).as("lang_pred"),
        TextAnalysis.qualityScoreP(p).as("q"),
        TextAnalysis.tokenCountP(p).cast("long").as("n_tok"),
        col("__e.entropy").as("entropy"))
    val dup = Dedup.dupNgramFraction(dd, "doc_id", "text", n = 5)
      .select(col("doc_id"), col("dup_fraction"))
    val lm = TextAnalysis.lmScore(dd, "doc_id", "text", alpha = 0.1)
      .select(col("doc_id"), col("ppl"))
    scored
      .join(dup, Seq("doc_id"), "left")
      .join(lm, Seq("doc_id"), "left")
      .filter(col("q") >= 0.5 &&
        (col("dup_fraction").isNull || col("dup_fraction") <= 0.5))
      .groupBy("lang_pred")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        round(avg("entropy") + lit(5e-10), 6).as("mean_entropy"),
        round(avg("ppl") + lit(5e-10), 4).as("mean_ppl"))
      .orderBy("lang_pred")
  }

  /** Adjacent-id document pairs (doc i vs doc i+1) — a deterministic,
    * oracle-friendly pair generator for the pairwise similarity ops. */
  private def adjacentPairs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val a = d.select(col("doc_id").as("id_a"), col("text").as("text_a"))
    val b = d.select(col("doc_id").as("id_b"), col("text").as("text_b"))
    a.join(b, col("id_b") === col("id_a") + 1)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- deduplication -------------------------------------------------
    "d1_exact_dedup" -> ((s, dir) =>
      Dedup.exact(docs(s, dir), "doc_id", "text")
        .select(col("doc_id")).orderBy("doc_id")),
    "d2_jaccard_pairs" -> ((s, dir) => {
      // Shingle-hash sets for all three n-gram sizes are computed in ONE
      // token-hash pass per doc (multiShingleHash; three stacked
      // shingleHash calls re-tokenized and re-hashed identically 3x),
      // and consecutive-id pairing runs through the blocked-window
      // adjacentPairs operator — one payload shuffle instead of the
      // self-join's two. Distinct 8-byte hashes, not shingle STRINGS,
      // travel through the shuffle and feed the set ops — set sizes (and
      // so Jaccard) equal the string-set version up to 2^-64 hash
      // collisions; the DuckDB oracle computes the string-shingle
      // Jaccard and the 6-decimal hash compare agrees.
      val ms = graft.functions.HashFunctions.multiShingleHash(
        TextAnalysis.tokens(lower(col("text"))), Seq(1, 2, 3))
      val withSh = docs(s, dir).select(col("doc_id"), ms.as("__ms"))
        .select(col("doc_id") +: Seq(1, 2, 3).map(n => col(s"__ms.n$n").as(s"s$n")): _*)
      def jac(n: Int) = round(
        size(array_intersect(col(s"s${n}_a"), col(s"s${n}_b"))).cast("double") /
          greatest(size(array_union(col(s"s${n}_a"), col(s"s${n}_b"))), lit(1)).cast("double"),
        6).as(s"jaccard$n")
      Dedup.adjacentPairs(withSh, "doc_id")
        .select(col("doc_id_a").as("id_a") +: col("doc_id_b").as("id_b") +:
          Seq(1, 2, 3).map(jac): _*)
        .orderBy("id_a")
    }),
    // MinHash/SimHash signatures are xxhash64-based -> rows-only checks.
    "d3_minhash_dedup" -> ((s, dir) =>
      Dedup.minHashDedup(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .select(col("doc_id")).orderBy("doc_id")),
    "d6_minhash_dedup_cc" -> ((s, dir) => {
      // The [[plantedNearDupDocs]] fixture puts the FULL pipeline
      // (exact-dedup prefix -> MinHash-LSH pairs -> connected
      // components) under the DuckDB hash gate (the d8/d9 pattern):
      // each % 5 == 2 donor anchors a 3-clique the components must
      // merge. At threshold 1.0 a pair qualifies iff the distinct
      // shingle-hash sets are EQUAL, and equal sets mean identical
      // MinHash signatures — every band collides, recall is exactly 1 —
      // so the surviving id set is SQL-derivable: min doc_id per
      // distinct shingle set. The exact prefix stays the production
      // order (absorbs mass-duplicate clusters before LSH buckets them).
      val corpus = plantedNearDupDocs(s, dir)
      Dedup.minHashDedupClustered(
          Dedup.exact(corpus, "doc_id", "text"),
          "doc_id", "text", threshold = 1.0)
        .select(col("doc_id")).orderBy("doc_id")
    }),
    "d4_fingerprints" -> ((s, dir) =>
      // fingerprint is array<long>; joined to a string so the driver's
      // pandas-side rows-only canonicalization can sort/hash the column
      docs(s, dir).select(col("doc_id"),
          Dedup.simHash(col("text")).as("simhash"),
          TextAnalysis.contentHash(col("text")).as("content_hash"),
          concat_ws(",", TextAnalysis.fingerprint(col("text"))).as("fingerprint"))
        .orderBy("doc_id")),

    "d10_doc_line_dedup" -> ((s, dir) => {
      // intra-document line dedup: repeat the doc body and a disclaimer
      // line inside each document (the corpus is single-line), keep an
      // empty separator — the zero-shuffle projection must drop the
      // repeats, keep the empty line, and leave order intact
      val d = table(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", col("text"), lit("DISCLAIMER"), col("text"), lit(""),
          lit("DISCLAIMER"), concat(lit("footer: "), col("lang"))).as("text"))
      d.select(col("doc_id"), Dedup.dedupLinesWithinDoc(col("text")).as("text_dedup"))
        .withColumn("n_lines_kept", size(split(col("text_dedup"), "\n", -1)))
        .orderBy("doc_id")
    }),
    "d9_line_dedup" -> ((s, dir) => {
      // the synthetic corpus is single-line, so wrap each doc in shared
      // boilerplate (one global nav line + a per-language footer) — the
      // C4-style global line dedup then has real cross-document work:
      // the nav survives once, each footer once per language
      val d = table(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", lit("== SITE NAV =="), col("text"),
          concat(lit("contact us: "), col("lang"))).as("text"))
      Dedup.globalLineDedup(d, "doc_id", "text")
        .select(col("doc_id"), col("text").as("text_dedup"))
        .orderBy("doc_id")
    }),
    "d8_decontamination" -> ((s, dir) => {
      // benchmark set = doc_id < 10, training corpus = the rest; flag
      // training docs sharing any word trigram with the benchmark
      val d = docs(s, dir)
      Dedup.ngramOverlap(d.filter(col("doc_id") >= 10),
          d.filter(col("doc_id") < 10), "doc_id", "text", "text", n = 3)
        .select(col("doc_id"), col("n_overlap"),
          round(col("overlap_ratio"), 6).as("overlap_ratio"))
        .orderBy("doc_id")
    }),
    "d7_corpus_similarity" -> ((s, dir) => { // minhash-based -> rows-only
      // corpus-level MinHash union per source, then pairwise corpus
      // Jaccard estimates — no document is re-read for the comparison
      val mh = udaf(new graft.functions.MinHashUnion(64),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
      val sigs = table(s, dir, "documents")
        .select(col("source"), Dedup.minHashSignature(col("text")).as("sig"))
        .groupBy("source").agg(mh(col("sig")).as("corpus_sig"))
      val a = sigs.select(col("source").as("src_a"), col("corpus_sig").as("sig_a"))
      val b = sigs.select(col("source").as("src_b"), col("corpus_sig").as("sig_b"))
      a.join(b, col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          round(Dedup.minHashJaccard(col("sig_a"), col("sig_b")), 6).as("est_jaccard"))
        .orderBy("src_a", "src_b")
    }),

    // ---- similarity search over embeddings -----------------------------
    "s12_centroid_outliers" -> ((s, dir) =>
      // per-label embedding outlier screen: k-row centroid exchange,
      // broadcast back, one group-keyed window for the z-scores; all
      // rows emitted so no engine sits on the threshold knife edge
      Similarity.centroidOutliers(table(s, dir, "embeddings"),
          "vec_id", "label", "embedding", dim = 64)
        .select(col("vec_id"), col("label"),
          round(col("dist") + lit(5e-10), 6).as("dist"),
          round(col("z") + lit(5e-10), 6).as("z"))
        .orderBy("vec_id")),
    "s5_embedding_by_lang" -> ((s, dir) => {
      // cross-modal profiling join: the narrow text-metadata projection
      // (doc_id, lang) broadcasts into the embedding scan — the vector
      // payload never shuffles; per-vector math happens before the
      // 12-row group agg.
      val d = table(s, dir, "documents").select(col("doc_id"), col("lang"))
      val v = transform(col("embedding"), x => x.cast("double"))
      val e = table(s, dir, "embeddings").select(col("vec_id"), col("label"),
        sqrt(aggregate(transform(v, x => x * x), lit(0.0d), (acc, x) => acc + x)).as("l2"))
      e.join(broadcast(d), e("vec_id") === d("doc_id"))
        .groupBy("lang", "label")
        .agg(count(lit(1)).as("n"), round(avg(col("l2")) + lit(5e-10), 6).as("mean_l2"))
        .orderBy("lang", "label")
    }),
    "s6_random_projection" -> ((s, dir) =>
      // JL dimensionality reduction 64 -> 8 over the seeded plane set
      // LSH shares; the projection array is materialized ONCE (the __p
      // CollapseProject sharing pattern) and unpacked into one column
      // per component for the hash compare
      table(s, dir, "embeddings")
        .withColumn("__pr", Similarity.randomProjection(col("embedding"), 8, 64))
        .select(col("vec_id") +: (0 until 8).map(i =>
          round(element_at(col("__pr"), i + 1) + lit(5e-10), 6).as(s"p$i")): _*)
        .orderBy("vec_id")),
    "s4_vector_norms" -> ((s, dir) => {
      // elementwise vector math via codegen'd higher-order functions
      // (transform/aggregate/array_max) — zero shuffle, pure projection;
      // the float->double cast happens BEFORE any arithmetic so both
      // engines square/sum identical doubles in identical list order.
      val v = transform(col("embedding"), x => x.cast("double"))
      val sq = aggregate(transform(v, x => x * x), lit(0.0d), (acc, x) => acc + x)
      table(s, dir, "embeddings")
        .select(col("vec_id"), size(col("embedding")).cast("long").as("dim"),
          round(sqrt(sq) + lit(5e-10), 6).as("l2"),
          round(array_max(transform(v, x => abs(x))) + lit(5e-10), 6).as("max_abs"),
          round(element_at(v, 1) / sqrt(sq) + lit(5e-10), 6).as("unit_first"))
        .orderBy("vec_id")
    }),
    "s1_cosine_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.topKForQueries(emb, "vec_id", "embedding", q, "qid", "qv", k = 10)
        .select(col("query_id"), col("id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("cosine").desc, col("id"))
    }),
    "s16_binary_hamming" -> ((s, dir) => {
      // 32x-compressed sign codes -> Hamming shortlist (the scan moves
      // two longs per vector, never the 64 floats) -> exact-cosine
      // rerank of 50 candidates per query; the oracle replays the bit
      // packing term-for-term
      val emb = table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.topKBinary(emb, "vec_id", "embedding", q, "qid", "qv",
          k = 10, dims = 64)
        .select(col("query_id"), col("id"), col("hamming"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("cosine").desc, col("id"))
    }),
    "s17_ann_recall" -> ((s, dir) => {
      // the ANN QUALITY harness: recall@10 of the LSH multi-probe and
      // the binary-Hamming shortlist against the exact brute-force
      // truth, per probe query — the eval loop every approximate index
      // must close before it replaces the exact scan
      val emb = table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val truth = Similarity.topKForQueries(emb, "vec_id", "embedding",
          q, "qid", "qv", k = 10)
        .select(col("query_id"), col("id"))
      def recallOf(approx: DataFrame, tag: String) =
        truth.join(
            approx.select(col("query_id"), col("id"), lit(1L).as("__hit")),
            Seq("query_id", "id"), "left")
          .groupBy("query_id")
          .agg(count(lit(1)).as("k"),
            sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
          .select(lit(tag).as("method"), col("query_id"), col("k"),
            col("n_hits"),
            (col("n_hits").cast("double") / col("k")).as("recall"))
      recallOf(Similarity.topKLsh(emb, "vec_id", "embedding", q, "qid", "qv",
          k = 10, numPlanes = 8), "lsh")
        .unionByName(recallOf(Similarity.topKBinary(emb, "vec_id", "embedding",
          q, "qid", "qv", k = 10, dims = 64), "binary"))
        .select(col("method"), col("query_id"), col("k"), col("n_hits"),
          round(col("recall") + lit(5e-10), 6).as("recall"))
        .orderBy("method", "query_id")
    }),
    "s2_ann_lsh" -> ((s, dir) => { // oracle embeds the deterministic plane literals
      val emb = table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.topKLsh(emb, "vec_id", "embedding", q, "qid", "qv", k = 10, numPlanes = 8)
        .select(col("query_id"), col("id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("cosine").desc, col("id"))
    }),

    "s3_ann_ivf" -> ((s, dir) => { // centroid codebook not SQL-expressible -> rows-only
      val emb = table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.topKIvf(emb, "vec_id", "embedding", q, "qid", "qv", k = 10)
        .select(col("query_id"), col("id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("cosine").desc, col("id"))
    }),
    "d5_embedding_neardup" -> ((s, dir) => { // oracle embeds the deterministic plane literals
      val emb = table(s, dir, "embeddings")
      // adaptive plane count (clamp(ceil(log2(n/64)), 4, 16), folded into
      // the plan) keeps bucket population ~constant as the corpus grows;
      // the oracle mirrors the same formula in a count(*) CTE
      Dedup.embeddingNearDupPairsAdaptive(emb, "vec_id", "embedding", 0.2)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    // ---- multimodal plumbing (decode step is a documented stub) --------
    "m1_media_meta" -> ((s, dir) =>
      // width/height for fake text payloads are hash-derived pseudo-decode
      // noise (real PNG/JPEG/WAV header parsing is spec-verified on
      // hand-built bytes); format + byte count are the oracle surface
      Multimodal.withMediaMeta(
          Multimodal.asBinaryPayload(docs(s, dir), "text"), "payload")
        .select(col("doc_id"), col("media_meta.format").as("format"),
          col("media_meta.n_bytes").as("n_bytes"))
        .orderBy("doc_id")),
    "m2_media_features" -> ((s, dir) => {
      // features is array<float>; projected to scalar summaries (dim, L2
      // norm, first component, content hash) — arrays are unhashable for
      // the driver's pandas-side rows-only canonicalization.
      // Every 10th doc is wrapped in-plan into a REAL PCM-16 WAV (44-byte
      // canonical header + the first 64 text bytes as sample data), so
      // the real RIFF chunk-walk + sample decode runs against testdata —
      // audio_stats is the decoded (n/mean/rms/peak) for those, null for
      // raw payloads (whose pixel decode remains the documented stub).
      // ... and every 10th+5 doc into a REAL 4x4 24-bpp BMP (54-byte DIB
      // header + 48 text bytes as BGR pixel rows; stride 12 needs no
      // padding), so the real pixel decode runs against testdata too —
      // image_stats carries the decoded per-channel means for those.
      // Every 10th+7 doc becomes a REAL 4x4 8-bit RGB PNG of the same 48
      // text bytes (deflate + CRC in-plan), driving the inflate+unfilter
      // decode path against testdata as well.
      val hdr = lit(Multimodal.wavPcm16Header(dataBytes = 64))
      val bmpHdr = lit(Multimodal.bmp24Header(4, 4))
      val wrapped = Multimodal.asBinaryPayload(docs(s, dir), "text")
        .withColumn("payload",
          when(col("doc_id") % 10 === 0,
            concat(hdr, substring(rpad(col("text"), 64, "x").cast("binary"), 1, 64)))
          .when(col("doc_id") % 10 === 5,
            concat(bmpHdr, substring(rpad(col("text"), 48, "x").cast("binary"), 1, 48)))
          .when(col("doc_id") % 10 === 7,
            Multimodal.pngRgb8Payload(col("payload"), 4, 4))
            .otherwise(col("payload")))
      Multimodal.withImageStats(
          Multimodal.withAudioStats(
            Multimodal.withFeatures(wrapped, "payload"), "payload"), "payload")
        .select(col("doc_id"),
          size(col("features")).as("dim"),
          round(sqrt(Similarity.dot(col("features").cast("array<double>"),
            col("features").cast("array<double>"))), 4).as("norm"),
          round(element_at(col("features"), 1).cast("double"), 4).as("f1"),
          xxhash64(to_json(col("features"))).as("features_hash"),
          col("audio_stats.n_samples").as("audio_n_samples"),
          round(col("audio_stats.rms"), 6).as("audio_rms"),
          round(col("audio_stats.peak"), 6).as("audio_peak"),
          col("image_stats.n_pixels").as("img_n_pixels"),
          round(col("image_stats.mean_r"), 6).as("img_mean_r"),
          round(col("image_stats.mean_g"), 6).as("img_mean_g"),
          round(col("image_stats.mean_b"), 6).as("img_mean_b"))
        .orderBy("doc_id")
    }),
    "m2b_decode_stats" -> ((s, dir) => {
      // Hash-green slice of the real decoders: every planted payload's
      // sample/pixel bytes are a KNOWN byte transform of the document text
      // (WAV: 64 bytes as LE16 pairs; BMP: 48 bytes as BGR triples; PNG:
      // 48 bytes as RGB triples through a real deflate round-trip), so the
      // decoded statistics are SQL-derivable from the text and DuckDB can
      // oracle them byte-for-byte — the decoders run for real, the oracle
      // recomputes their math from the raw bytes.
      val hdr = lit(Multimodal.wavPcm16Header(dataBytes = 64))
      val bmpHdr = lit(Multimodal.bmp24Header(4, 4))
      val wrapped = Multimodal.asBinaryPayload(docs(s, dir), "text")
        .filter(col("doc_id") % 10 === 0 || col("doc_id") % 10 === 5 || col("doc_id") % 10 === 7)
        .withColumn("payload",
          when(col("doc_id") % 10 === 0,
            concat(hdr, substring(rpad(col("text"), 64, "x").cast("binary"), 1, 64)))
          .when(col("doc_id") % 10 === 5,
            concat(bmpHdr, substring(rpad(col("text"), 48, "x").cast("binary"), 1, 48)))
          .otherwise(Multimodal.pngRgb8Payload(col("payload"), 4, 4)))
      Multimodal.withImageStats(
          Multimodal.withAudioStats(wrapped, "payload"), "payload")
        .select(col("doc_id"),
          col("audio_stats.n_samples").as("audio_n_samples"),
          round(col("audio_stats.mean"), 6).as("audio_mean"),
          round(col("audio_stats.rms"), 6).as("audio_rms"),
          round(col("audio_stats.peak"), 6).as("audio_peak"),
          col("image_stats.n_pixels").as("img_n_pixels"),
          round(col("image_stats.mean_r"), 6).as("img_mean_r"),
          round(col("image_stats.mean_g"), 6).as("img_mean_g"),
          round(col("image_stats.mean_b"), 6).as("img_mean_b"))
        .orderBy("doc_id")
    }),
    "m9_adpcm_stats" -> ((s, dir) => {
      // REAL compressed-audio sample decode: four closed-form PCM
      // signals are ADPCM-encoded ON THE DRIVER (fixture encoder) and
      // planted as literals; the ENGINE runs the real nibble-walk
      // decoder per row. The oracle carries golden per-variant stats
      // verified in MultimodalSpec against an independently-typed
      // reference decoder — ADPCM's stateful recursion is the one
      // decode DuckDB cannot replay structurally (the m2 JPEG class),
      // so the constants stand in for the closed form.
      val variants = (0 until 4).map { v =>
        val pcm = Array.tabulate[Short](64)(j =>
          (((j + 1) * (2 * v + 3) * 997) % 32768 - 16384).toShort)
        lit(Multimodal.imaAdpcmWav(pcm, blockAlign = 36))
      }
      val planted = docs(s, dir).filter(col("doc_id") % 10 === 3)
        .withColumn("payload",
          when(col("doc_id") % 40 === 3, variants(0))
            .when(col("doc_id") % 40 === 13, variants(1))
            .when(col("doc_id") % 40 === 23, variants(2))
            .otherwise(variants(3)))
      Multimodal.withAudioStats(planted.select(col("doc_id"), col("payload")), "payload")
        .select(col("doc_id"),
          col("audio_stats.n_samples").as("n_samples"),
          round(col("audio_stats.mean") + lit(5e-10), 6).as("mean"),
          round(col("audio_stats.rms") + lit(5e-10), 6).as("rms"),
          round(col("audio_stats.peak") + lit(5e-10), 6).as("peak"))
        .orderBy("doc_id")
    }),
    "m16_flac_stats" -> ((s, dir) => {
      // REAL lossless-compressed-audio sample decode, oracle-checked END
      // TO END (the step past m9's golden constants): each planted FLAC
      // stream packs four 64-sample blocks — constant, verbatim, fixed-2,
      // and LPC subframes, Rice-coded residuals, CRC-8/CRC-16 verified —
      // whose samples are a closed form in (doc_id, j). The engine runs
      // the full bitstream decoder; DuckDB replays the stats from the
      // planting formula because LOSSLESS means decoded == planted.
      // Every stat is exact dyadic-rational math (|v| < 2^15, 256
      // samples), so both engines compute identical doubles.
      val planted = docs(s, dir).filter(col("doc_id") % 10 === 9)
        .select(col("doc_id"), Multimodal.flacPayload(col("doc_id")).as("payload"))
      Multimodal.withAudioStats(planted, "payload")
        .select(col("doc_id"),
          col("audio_stats.n_samples").as("n_samples"),
          round(col("audio_stats.mean") + lit(5e-10), 6).as("mean"),
          round(col("audio_stats.rms") + lit(5e-10), 6).as("rms"),
          round(col("audio_stats.peak") + lit(5e-10), 6).as("peak"))
        .orderBy("doc_id")
    }),
    "m10_video_frames" -> ((s, dir) => {
      // REAL video sample decode, oracle-checked end to end: plant a
      // minimal single-stream AVI whose uncompressed BI_RGB DIB frame
      // rasters are the doc text bytes (4x2, two frames — stride 12 is
      // unpadded, so text byte i IS raster byte i), container-parse the
      // header AND pixel-decode every frame in the engine, and let
      // DuckDB replay the per-frame channel means from the raw text.
      // DIB is BGR order: channel at text position i is BGR[i % 3].
      // All means are sums of 8 bytes / 8 — exact dyadic rationals, no
      // rounding nudge needed (the m5 class). MJPG (lossy) frames are
      // tolerance-specced in MultimodalSpec, not oracled (the m2 class).
      val planted = docs(s, dir).filter(col("doc_id") % 10 === 6)
        .withColumn("payload", Multimodal.aviDibPayload(col("text"), w = 4, h = 2, nFrames = 2))
      val meta = Multimodal.withVideoMeta(planted.select(col("doc_id"), col("payload")), "payload")
      Multimodal.videoFrames(meta, "payload")
        .select(col("doc_id"),
          col("video_meta.n_frames").cast("long").as("n_frames"),
          col("video_meta.width").cast("long").as("width"),
          col("video_meta.height").cast("long").as("height"),
          round(col("video_meta.duration_ms"), 6).as("duration_ms"),
          col("frame_id").cast("long").as("frame_id"),
          col("n_pixels"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
        .orderBy("doc_id", "frame_id")
    }),
    "m5_audio_frames" -> ((s, dir) => {
      // frame-level features over the REAL PCM decode: the planted WAVs
      // carry 32 samples whose bytes are a known transform of the doc
      // text, so every frame's RMS and zero-crossing count is
      // SQL-derivable. All the math is exact dyadic rationals (v^2/2^30
      // sums < 2^53) — both engines round the identical double, no
      // nudge needed.
      val hdr = lit(Multimodal.wavPcm16Header(dataBytes = 64))
      val planted = Multimodal.asBinaryPayload(docs(s, dir), "text")
        .filter(col("doc_id") % 10 === 0)
        .withColumn("payload",
          concat(hdr, substring(rpad(col("text"), 64, "x").cast("binary"), 1, 64)))
      Multimodal.audioFrames(planted.select(col("doc_id"), col("payload")), "payload",
          frameSize = 8)
        .select(col("doc_id"), col("frame_id").cast("long").as("frame_id"),
          col("n_samples").cast("long").as("n_samples"),
          round(col("rms"), 6).as("rms"), col("zcr").cast("long").as("zcr"))
        .orderBy("doc_id", "frame_id")
    }),
    "m11_flip_crop" -> ((s, dir) => {
      // augmentation pipeline, oracle-checked end to end: plant 4x4
      // BMPs from the doc text (the m4 pattern), mirror horizontally,
      // crop an ASYMMETRIC 2x2 window at (0,1) — the crop of the flip
      // reads source columns {3,2}, so a broken flip changes the
      // stats — and decode the cropped payload for channel means.
      // 4-pixel means are exact dyadic rationals (the m4/m5 class).
      val bmpHdr = lit(Multimodal.bmp24Header(4, 4))
      val planted = Multimodal.asBinaryPayload(docs(s, dir), "text")
        .filter(col("doc_id") % 10 === 2)
        .withColumn("payload",
          concat(bmpHdr, substring(rpad(col("text"), 48, "x").cast("binary"), 1, 48)))
      val flipped = Multimodal.flipBmp(
        planted.select(col("doc_id"), col("payload")), "payload")
        .drop("payload").withColumnRenamed("flipped", "payload")
      val cropped = Multimodal.cropBmp(flipped, "payload", x0 = 0, y0 = 1, cw = 2, ch = 2)
        .drop("payload").withColumnRenamed("cropped", "payload")
      Multimodal.withImageStats(cropped, "payload")
        .select(col("doc_id"),
          col("image_stats.n_pixels").as("n_pixels"),
          round(col("image_stats.mean_r"), 6).as("mean_r"),
          round(col("image_stats.mean_g"), 6).as("mean_g"),
          round(col("image_stats.mean_b"), 6).as("mean_b"))
        .orderBy("doc_id")
    }),
    "m12_audio_decimate" -> ((s, dir) => {
      // audio augmentation, oracle-checked end to end: plant 32-sample
      // PCM-16 WAVs from the doc text (the m5 pattern), decimate by 4
      // through the real header-rewriting transform, then decode the
      // DECIMATED payload for stats AND read its rewritten sample rate
      // back off the fmt header (2000 = 8000/4) via withMediaMeta.
      val hdr = lit(Multimodal.wavPcm16Header(dataBytes = 64))
      val planted = Multimodal.asBinaryPayload(docs(s, dir), "text")
        .filter(col("doc_id") % 10 === 4)
        .withColumn("payload",
          concat(hdr, substring(rpad(col("text"), 64, "x").cast("binary"), 1, 64)))
      val dec = Multimodal.decimateWav(
          planted.select(col("doc_id"), col("payload")), "payload", factor = 4)
        .drop("payload").withColumnRenamed("decimated", "payload")
      Multimodal.withAudioStats(Multimodal.withMediaMeta(dec, "payload"), "payload")
        .select(col("doc_id"),
          col("media_meta.width").cast("long").as("rate"),
          col("audio_stats.n_samples").as("n_samples"),
          round(col("audio_stats.mean") + lit(5e-10), 6).as("mean"),
          round(col("audio_stats.rms"), 6).as("rms"),
          round(col("audio_stats.peak"), 6).as("peak"))
        .orderBy("doc_id")
    }),
    "m4_resize" -> ((s, dir) => {
      // REAL resize pipeline, oracle-checked end to end: plant 4x4 BMPs
      // from the doc text (as m2b), box-resample to 2x2 through
      // decode -> area-average -> re-encode, then decode the RESIZED
      // payload again for its stats. 4x4 -> 2x2 has exact quarter
      // weights, so each output byte is round(sum/4.0) — byte math
      // DuckDB replays from the raw text (both engines round half-up on
      // the exact .25-grid doubles).
      val bmpHdr = lit(Multimodal.bmp24Header(4, 4))
      val planted = Multimodal.asBinaryPayload(docs(s, dir), "text")
        .filter(col("doc_id") % 10 === 5)
        .withColumn("payload",
          concat(bmpHdr, substring(rpad(col("text"), 48, "x").cast("binary"), 1, 48)))
      Multimodal.withImageStats(
          Multimodal.resizeBmp(planted, "payload", 2, 2).drop("payload")
            .withColumnRenamed("resized", "payload"), "payload")
        .select(col("doc_id"),
          col("image_stats.n_pixels").as("n_pixels"),
          round(col("image_stats.mean_r"), 6).as("mean_r"),
          round(col("image_stats.mean_g"), 6).as("mean_g"),
          round(col("image_stats.mean_b"), 6).as("mean_b"))
        .orderBy("doc_id")
    }),
    "m15_otsu_threshold" -> ((s, dir) => {
      // REAL binarization over planted 4x4 BMPs (the m4 discipline):
      // decode -> integer-luma histogram -> the full 256-candidate
      // between-class-variance walk, ties to the smallest t — every
      // step exact integer/double arithmetic the oracle replays from
      // the raw text bytes; constant images (no valid split) drop out
      val bmpHdr = lit(Multimodal.bmp24Header(4, 4))
      val planted = Multimodal.asBinaryPayload(docs(s, dir), "text")
        .filter(col("doc_id") % 7 === 3)
        .withColumn("payload",
          concat(bmpHdr, substring(rpad(col("text"), 48, "x").cast("binary"), 1, 48)))
      Multimodal.withOtsuStats(planted, "payload")
        .filter(col("otsu_stats").isNotNull)
        .select(col("doc_id"),
          col("otsu_stats.n_pixels").as("n_pixels"),
          col("otsu_stats.threshold").as("threshold"),
          col("otsu_stats.n_below").as("n_below"),
          round(col("otsu_stats.mean_below") + lit(5e-10), 6).as("mean_below"),
          round(col("otsu_stats.mean_above") + lit(5e-10), 6).as("mean_above"),
          round(col("otsu_stats.between_var") + lit(5e-10), 6).as("between_var"))
        .orderBy("doc_id")
    }),
    "m3_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.asBinaryPayload(docs(s, dir), "text"), "payload", stride = 64)
        .groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
        .orderBy("doc_id")),

    // ---- text analysis (one shared profile pass per query) -------------
    "x1_text_stats" -> ((s, dir) => {
      val p = col("__p")
      docs(s, dir).withColumn("__p", TextAnalysis.profile(col("text")))
        .select(col("doc_id"),
          p.getField("n_chars").cast("long").as("n_chars_computed"),
          TextAnalysis.tokenCountP(p).cast("long").as("n_tokens"),
          round(TextAnalysis.meanTokenLengthP(p), 6).as("mean_token_len"),
          round(TextAnalysis.punctRatioP(p), 6).as("punct_ratio"),
          round(TextAnalysis.digitRatioP(p), 6).as("digit_ratio"),
          round(TextAnalysis.upperRatioP(p), 6).as("upper_ratio"),
          round(TextAnalysis.stopwordRatioP(p), 6).as("stopword_ratio"))
        .orderBy("doc_id")
    }),
    "x2_text_enrich" -> ((s, dir) => {
      val p = col("__p")
      docs(s, dir).withColumn("__p", TextAnalysis.profile(col("text")))
        .select(col("doc_id"),
          TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_tokens_bpeish"),
          round(TextAnalysis.qualityScoreP(p), 6).as("quality_score"),
          TextAnalysis.languageIdP(p).as("lang_pred"))
        .orderBy("doc_id")
    }),
    "x7_normalize" -> ((s, dir) =>
      // canonicalization before dedup: the normalized text itself rides
      // under the oracle hash, so every regex/lowercase/trim rule is
      // pinned character-for-character against DuckDB
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("text_norm"),
          length(col("text")).as("n_chars_raw"))
        .withColumn("n_chars_norm", length(col("text_norm")))
        .orderBy("doc_id")),
    "x4_tfidf" -> ((s, dir) =>
      // corpus size N is an in-plan count subquery — no driver-side count
      TextAnalysis.tfidfTopTerms(docs(s, dir), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("term"), round(col("score"), 6).as("score"))
        .orderBy(col("doc_id"), col("score").desc, col("term"))),
    "x3_token_topk" -> ((s, dir) =>
      docs(s, dir).select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(20)),
    "x18_sentence_stats" -> ((s, dir) =>
      // sentence segmentation + ARI readability per document: one
      // compiled projection, zero shuffle; ARI is the syllable-free
      // readability index, so every term replays as exact arithmetic
      TextAnalysis.sentenceStats(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_sentences"), col("n_words"), col("n_chars"),
          round(col("words_per_sentence") + lit(5e-10), 6).as("words_per_sentence"),
          round(col("ari") + lit(5e-10), 6).as("ari"))
        .orderBy("doc_id")),
    "x23_flesch" -> ((s, dir) =>
      // Flesch reading ease + FK grade with the vowel-group syllable
      // heuristic — deliberately the simplest engine-identical regex
      // rule, so the oracle replays the count; one compiled projection
      TextAnalysis.fleschStats(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_sentences"), col("n_words"), col("n_syllables"),
          round(col("flesch_ease") + lit(5e-10), 6).as("flesch_ease"),
          round(col("fk_grade") + lit(5e-10), 6).as("fk_grade"))
        .orderBy("doc_id")),
    "a26_spearman" -> ((s, dir) =>
      // tie-averaged Spearman over the lineitem measures: ranks from
      // the bucketed (feature, value) census (no per-feature sort
      // task), doubled ranks keep every sum integral in DECIMAL(38,0),
      // so the oracle's HUGEINT sums replay rho bit-for-bit
      Association.spearmanMatrix(
          table(s, dir, "lineitem")
            .select("l_quantity", "l_extendedprice", "l_discount"),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .select(col("col_x"), col("col_y"), col("n"),
          round(col("rho") + lit(5e-10), 6).as("rho"))
        .orderBy("col_x", "col_y")),
    "a27_target_encode" -> ((s, dir) =>
      // smoothed mean-target encoding (k = 10 pseudo-counts toward the
      // global mean): one census aggregate + a 1-row broadcast total;
      // decimal sums keep the means partition-order exact
      Encoding.targetEncode(table(s, dir, "orders"),
          "o_orderpriority", "o_totalprice", k = 10.0)
        .select(col("category"), col("n"),
          round(col("mean_raw") + lit(5e-10), 6).as("mean_raw"),
          round(col("mean_encoded") + lit(5e-10), 6).as("mean_encoded"))
        .orderBy("category")),
    "a28_woe_iv" -> ((s, dir) => {
      // weight-of-evidence + information value against a replayable
      // binary target (orderkey % 3): the feature-screening encoder,
      // add-0.5 smoothing keeps empty cells finite
      val o = table(s, dir, "orders")
        .withColumn("y", (col("o_orderkey") % 3 === 0).cast("int"))
      Encoding.woeEncode(o, "o_orderpriority", "y")
        .select(col("category"), col("n"), col("n_good"), col("n_bad"),
          round(col("woe") + lit(5e-10), 6).as("woe"),
          round(col("iv_term") + lit(5e-10), 6).as("iv_term"))
        .orderBy("category")
    }),
    "t23_kendall_tau" -> ((s, dir) =>
      // ordinal concordance between quantity and discount: C/D pair
      // counts off the bounded (x, y) cell census (50x11 cells), ties
      // from the marginals — rows touched once, pairs counted in cell
      // space (the documented tiny-cross class)
      Association.kendallTau(
          table(s, dir, "lineitem").select("l_quantity", "l_discount"),
          "l_quantity", "l_discount")
        .select(col("n"), col("n_cells"), col("concordant"), col("discordant"),
          round(col("tau_b") + lit(5e-10), 6).as("tau_b"))),
    "t24_mantel_haenszel" -> ((s, dir) =>
      // confounder-adjusted 2x2: does a big order line (qty > 25) still
      // associate with a deep discount AFTER stratifying on return
      // flag? ONE stratum-census aggregate; every MH sum is row-local
      // over the 3 census rows
      Association.mantelHaenszel(
          table(s, dir, "lineitem").select(col("l_returnflag"),
            (col("l_quantity") > 25).cast("int").as("exposed"),
            (col("l_discount") >= 0.05).cast("int").as("outcome")),
          "l_returnflag", "exposed", "outcome")
        .select(col("n_strata"), col("n"), col("sum_a"),
          round(col("or_mh") + lit(5e-10), 6).as("or_mh"),
          round(col("cmh_stat") + lit(5e-10), 6).as("cmh_stat"))),
    "t25_risk_ratios" -> ((s, dir) =>
      // crude 2x2 effect sizes with 95% CIs: urgent orders vs a
      // high-ticket outcome — one 4-cell census, row-local algebra
      Association.riskRatios(
          table(s, dir, "orders").select(
            (col("o_orderpriority") === "1-URGENT").cast("int").as("exposed"),
            (col("o_totalprice") > 150000.0).cast("int").as("outcome")),
          "exposed", "outcome")
        .select(col("n"), col("a"), col("b"), col("c"), col("d"),
          round(col("odds_ratio") + lit(5e-10), 6).as("odds_ratio"),
          round(col("or_lo") + lit(5e-10), 6).as("or_lo"),
          round(col("or_hi") + lit(5e-10), 6).as("or_hi"),
          round(col("risk_ratio") + lit(5e-10), 6).as("risk_ratio"),
          round(col("rr_lo") + lit(5e-10), 6).as("rr_lo"),
          round(col("rr_hi") + lit(5e-10), 6).as("rr_hi"),
          round(col("risk_diff") + lit(5e-10), 6).as("risk_diff"),
          round(col("rd_lo") + lit(5e-10), 6).as("rd_lo"),
          round(col("rd_hi") + lit(5e-10), 6).as("rd_hi"))),
    "t27_welch_t" -> ((s, dir) =>
      // unequal-variance mean comparison of order value between the two
      // order statuses that survive filtering: decimal census, Welch-
      // Satterthwaite dof in-plan, p-value left to the scipy specs
      Association.welchT(
          table(s, dir, "orders")
            .filter(col("o_orderstatus").isin("F", "O"))
            .select("o_orderstatus", "o_totalprice"),
          "o_orderstatus", "o_totalprice")
        .select(col("group_a"), col("group_b"), col("n_groups"),
          col("n_a"), col("n_b"),
          round(col("mean_a") + lit(5e-10), 6).as("mean_a"),
          round(col("mean_b") + lit(5e-10), 6).as("mean_b"),
          round(col("t_stat") + lit(5e-10), 6).as("t_stat"),
          round(col("dof") + lit(5e-10), 6).as("dof"))),
    "t28_paired_t" -> ((s, dir) =>
      // before/after the discount, per line: the pairing removes the
      // between-line price variance; differences fold as decimals
      Association.pairedT(
          table(s, dir, "lineitem")
            .select(col("l_extendedprice").as("pre"),
              (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("post")),
          "pre", "post")
        .select(col("n"),
          round(col("mean_diff") + lit(5e-10), 6).as("mean_diff"),
          round(col("sd_diff") + lit(5e-10), 6).as("sd_diff"),
          round(col("t_stat") + lit(5e-10), 6).as("t_stat"), col("dof"))),
    "g10_assortativity" -> ((s, dir) => {
      // hub-mixing of the g7 chain+band graph: exact decimal degree
      // power sums over both edge directions, one double correlation
      val ids = docs(s, dir).select(col("doc_id").as("i"))
      val chain = ids.filter(col("i") % 50 =!= 49)
        .select(col("i").as("id_a"), (col("i") + 1).as("id_b"))
      val band = ids.filter(col("i") % 50 < 48)
        .select(col("i").as("id_a"), (col("i") + 2).as("id_b"))
      Graph.assortativity(chain.union(band))
        .select(col("n_edges"),
          round(col("r_assortativity") + lit(5e-10), 6).as("r_assortativity"))
    }),
    "a32_bartlett" -> ((s, dir) =>
      // Levene's (t20) parametric sibling over the same shape: one
      // decimal power-sum census, one aggregate over its <=k rows,
      // every log/division on census-derived doubles
      Association.bartlett(
          table(s, dir, "lineitem").select("l_returnflag", "l_extendedprice"),
          "l_returnflag", "l_extendedprice")
        .select(col("k"), col("n"),
          round(col("chi2") + lit(5e-10), 6).as("chi2"), col("dof"))),
    "w13_changepoint" -> ((s, dir) => {
      // WHERE did the daily traffic shift: binary segmentation (depth
      // 1) over the w9 daily census — prefix windows over census rows,
      // the normalized mean-shift score, argmax with earliest-x ties
      val daily = table(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
        .agg(count(lit(1)).cast("double").as("n_events"))
      TimeSeries.changePoint(daily, "event_type", "day", "n_events")
        .select(col("event_type"), col("n_points"),
          col("split_x").cast("long").as("split_x"),
          round(col("mean_left") + lit(5e-10), 6).as("mean_left"),
          round(col("mean_right") + lit(5e-10), 6).as("mean_right"),
          round(col("stat") + lit(5e-10), 6).as("stat"))
        .orderBy("event_type")
    }),
    "t29_cochran_q" -> ((s, dir) =>
      // do three matched binary screens share one positive rate?
      // R_i/R_i² are row-local, so the whole corpus folds to 6 exact
      // longs in ONE aggregate and Q is a single division
      Association.cochranQ(
          table(s, dir, "orders")
            .filter(col("o_orderstatus").isNotNull &&
              col("o_totalprice").isNotNull && col("o_orderkey").isNotNull)
            .select((col("o_orderstatus") === "F").as("t1"),
              (col("o_totalprice") > 150000.0).as("t2"),
              (col("o_orderkey") % 2 === 0).as("t3")),
          Seq("t1", "t2", "t3"))
        .select(col("n"), col("k"), col("t_total"),
          round(col("q_stat") + lit(5e-10), 6).as("q_stat"), col("dof"))),
    "g12_rich_club" -> ((s, dir) =>
      // hub wiring audit over the g1 planted graph: per degree
      // threshold, the edge density among the above-threshold nodes —
      // two censuses + report-sized theta joins, rows touched once
      Graph.richClub(plantedDocGraph(s, dir))
        .select(col("k"), col("n_nodes"), col("n_edges"),
          round(col("phi") + lit(5e-10), 6).as("phi"))
        .orderBy("k")),
    "a31_cuped" -> ((s, dir) =>
      // the A/B variance-reduction lever: adjust revenue by the
      // quantity covariate with the POOLED theta — one per-flag census
      // of exact decimal power sums, theta/xbar off the same census,
      // all algebra row-local over census rows. var_y/var_cuped round
      // at 2 dp (t20 precedent: each is a difference of ~1e9-scale
      // sums, float-order noise lives near 1e-6); the scale-free
      // var_reduction ratio cancels that noise and holds 6 dp
      Association.cuped(
          table(s, dir, "lineitem")
            .select("l_returnflag", "l_extendedprice", "l_quantity"),
          "l_returnflag", "l_extendedprice", "l_quantity")
        .select(col("l_returnflag"), col("n"),
          round(col("mean_y") + lit(5e-10), 6).as("mean_y"),
          round(col("mean_cuped") + lit(5e-10), 6).as("mean_cuped"),
          round(col("var_y") + lit(5e-10), 2).as("var_y"),
          round(col("var_cuped") + lit(5e-10), 2).as("var_cuped"),
          round(col("var_reduction") + lit(5e-10), 6).as("var_reduction"))
        .orderBy("l_returnflag")),
    "a33_ols" -> ((s, dir) =>
      // closed-form two-predictor regression per return flag: revenue
      // on (quantity, discount) — one exact-decimal power-sum census,
      // Cramer's rule row-locally per census row. Coefficients round
      // at 4 dp (b0 rides ~1e4-scale means — the a31 headroom rule);
      // the scale-free r2 holds 6
      Association.ols2(
          table(s, dir, "lineitem")
            .select("l_returnflag", "l_quantity", "l_discount", "l_extendedprice"),
          "l_returnflag", "l_quantity", "l_discount", "l_extendedprice")
        .select(col("l_returnflag"), col("n"),
          round(col("b0") + lit(5e-10), 4).as("b0"),
          round(col("b1") + lit(5e-10), 4).as("b1"),
          round(col("b2") + lit(5e-10), 4).as("b2"),
          round(col("r2") + lit(5e-10), 6).as("r2"))
        .orderBy("l_returnflag")),
    "v13_brier_decomposition" -> ((s, dir) =>
      // WHY is the v8 Brier what it is: Murphy reliability/resolution/
      // uncertainty over the distinct-forecast census, with the exact
      // identity brier = rel - res + unc (spec-pinned)
      Evaluation.brierDecomposition(
          table(s, dir, "orders")
            .filter(col("o_orderkey").isNotNull && col("o_orderstatus").isNotNull)
            .select(((col("o_orderkey") % 1000).cast("double") / 1000.0).as("p"),
              (col("o_orderstatus") === "F").cast("long").as("y")),
          "p", "y")
        .select(col("n"), col("n_forecasts"),
          round(col("base_rate") + lit(5e-10), 6).as("base_rate"),
          round(col("reliability") + lit(5e-10), 6).as("reliability"),
          round(col("resolution") + lit(5e-10), 6).as("resolution"),
          round(col("uncertainty") + lit(5e-10), 6).as("uncertainty"),
          round(col("brier") + lit(5e-10), 6).as("brier"))),
    "a29_partial_corr" -> ((s, dir) =>
      // is the price~quantity correlation just the discount channel?
      // nine decimal power sums in ONE aggregate; the double algebra
      // sees exact operands so the oracle replays it bit-for-bit
      Association.partialCorrelation(
          table(s, dir, "lineitem")
            .select("l_extendedprice", "l_quantity", "l_discount"),
          "l_extendedprice", "l_quantity", "l_discount")
        .select(col("n"),
          round(col("r_xy") + lit(5e-10), 6).as("r_xy"),
          round(col("r_xz") + lit(5e-10), 6).as("r_xz"),
          round(col("r_yz") + lit(5e-10), 6).as("r_yz"),
          round(col("r_partial") + lit(5e-10), 6).as("r_partial"))),
    "t22_bh_fdr" -> ((s, dir) => {
      // Benjamini-Hochberg step-up over a deterministic p spread (the
      // Lehmer priority of the nation key normalized to (0,1)) — the
      // multiple-testing mechanics are the operator under test, and the
      // replayable spread lets the oracle re-derive rank, adjustment,
      // and rejection exactly; input is REPORT-sized by contract
      val p = table(s, dir, "nation").select(col("n_nationkey"),
        (Sampling.lehmerPriority(col("n_nationkey"), 5L).cast("double") /
          lit(2147483647.0)).as("p"))
      Association.bhAdjust(p, "n_nationkey", "p", alpha = 0.1)
        .select(col("n_nationkey"), round(col("p") + lit(5e-10), 6).as("p"),
          col("p_rank").cast("long").as("p_rank"),
          round(col("p_adj") + lit(5e-10), 6).as("p_adj"), col("reject"))
        .orderBy("n_nationkey")
    }),
    "x25_feature_hash" -> ((s, dir) =>
      // vocabulary-free sparse vectorization via the hashing trick:
      // bucket + sign from the replayable positional char hash, signed
      // counts per (doc, bucket) — one explode + one map-side aggregate
      TextAnalysis.featureHash(docs(s, dir), "doc_id", "text", buckets = 64)
        .orderBy("doc_id", "bucket")),
    "x17_bpe_merges" -> ((s, dir) =>
      // distributed BPE merge training (Sennrich subword algorithm):
      // ONE corpus scan builds word frequencies, then each of 12 rounds
      // is a map-side-combined pair count over the DISTRIBUTED vocab
      // (never collected) plus a narrow merge map. Deterministic
      // (count-desc, pair-asc tie break), so the oracle pins the merge
      // table as data-derived golden constants — justified by BpeSpec,
      // where an independently-written single-machine reference trainer
      // reproduces the distributed result on the sf0.001 documents (the
      // m9 golden-constant discipline).
      Bpe.mergesFrame(s, Bpe.train(docs(s, dir), "text", nMerges = 12))
        .orderBy("rank")),
    "p13_temperature_weights" -> ((s, dir) =>
      // temperature-scaled mixing shares (p_s ∝ n_s^(1/T), T = 2): the
      // smoothing every multilingual training mix uses to boost
      // low-resource languages. One count aggregate + a 1-row broadcast
      // total; the selection itself composes through weightedMixture
      // (temperatureMixture, spec-pinned — the p5 rows-only class).
      Sampling.temperatureWeights(
          table(s, dir, "documents").select(col("lang")), "lang", temperature = 2.0)
        .select(col("source").as("lang"), col("n_rows").as("n_docs"),
          round(col("share") + lit(5e-10), 6).as("share"))
        .orderBy("lang")),
    "p15_bootstrap_ci" -> ((s, dir) =>
      // Poisson bootstrap CI of the mean document byte length: 24
      // replicates' weighted sums + the point estimate in ONE scan —
      // no resample is ever materialized, and the integer Lehmer +
      // threshold weights let the oracle replay the resampling itself
      Sampling.poissonBootstrapCi(
          table(s, dir, "documents")
            .select(col("doc_id"), octet_length(col("text")).as("blen")),
          "doc_id", "blen", b = 24, seed = 11L, alpha = 0.1)
        .select(col("b"), col("n"),
          round(col("point_mean") + lit(5e-10), 6).as("point_mean"),
          round(col("ci_lo") + lit(5e-10), 6).as("ci_lo"),
          round(col("ci_hi") + lit(5e-10), 6).as("ci_hi"))),
    "p14_kfold" -> ((s, dir) => {
      // exact k-fold assignment audit: the per-fold census (size, price
      // mass, key range) over fold = lehmerPriority(o_orderkey, 7) mod 5
      // — the ASSIGNMENT arithmetic replays in SQL, so the oracle pins
      // every row's fold, not just the sizes
      val folds = Sampling.assignFolds(
        table(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
          .filter(col("o_orderkey").isNotNull),
        "o_orderkey", k = 5, seed = 7L)
      folds.groupBy("fold").agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("sum_price"),
          min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
        .orderBy("fold")
    }),
    "p17_stratified_kfold" -> ((s, dir) =>
      // class-balanced folds: the round-robin deal within each priority
      // stratum bounds every (stratum, fold) census at +-1 row — visible
      // in the n column — and the oracle re-derives each row's fold
      Sampling.stratifiedFolds(
          table(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
            .filter(col("o_orderkey").isNotNull && col("o_orderpriority").isNotNull),
          "o_orderpriority", "o_orderkey", k = 5, seed = 3L)
        .groupBy(col("o_orderpriority"), col("fold"))
        .agg(count(lit(1)).as("n"), min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
        .orderBy("o_orderpriority", "fold")),
    "x16_cms_freq" -> ((s, dir) => {
      // Count-Min point-frequency estimates, gated against exact counts:
      // build the sketch in ONE decomposable pass (map-side combined —
      // the shuffle carries a 4x8192 long grid per partition, never a
      // token), then check both CMS guarantees for the exact top-20
      // tokens: estimates never undercount, and overcount beyond
      // 2N/width only with prob 2^-depth. The grid is seed-deterministic
      // so both booleans are stable facts of the data the oracle pins
      // TRUE (the d6 planted-derivability discipline, one level up).
      // The sketch and top-20 collects are aggregate-sized (256 KiB + 20
      // rows).
      val depth = 4; val width = 8192
      val cms = udaf(new graft.functions.CountMin(depth, width),
        org.apache.spark.sql.Encoders.STRING)
      val tk = docs(s, dir).select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val skRow = tk.agg(cms(col("token")).as("sk"), count(lit(1)).as("total")).head()
      val grid = skRow.getAs[scala.collection.Seq[Long]]("sk").toArray
      val total = skRow.getAs[Long]("total")
      val top = tk.groupBy("token").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("token")).limit(20).collect()
      val bound = 2L * total / width
      val checked = top.toSeq.map { r =>
        val t = r.getString(0); val e = r.getLong(1)
        val est = graft.functions.CountMin.estimate(grid, depth, width, t)
        (t, e, est >= e, est <= e + bound)
      }
      import s.implicits._
      checked.toDF("token", "exact_n", "est_ge_exact", "within_bound")
        .orderBy(col("exact_n").desc, col("token"))
    }),
    "x5_repetition" -> ((s, dir) => {
      val t = col("text")
      // one compiled ArrayFreqStats pass shared by both line signals
      // (same __p sharing pattern as x1/x2)
      val lf = col("__lf")
      docs(s, dir).withColumn("__lf", TextAnalysis.lineFreqStats(t))
        .select(col("doc_id"),
          round(TextAnalysis.duplicateLineRatioS(lf), 6).as("dup_line_ratio"),
          round(TextAnalysis.duplicateLineCharRatioS(lf), 6).as("dup_line_char_ratio"),
          round(TextAnalysis.topNgramRatio(t, 2), 6).as("top_bigram_ratio"),
          round(TextAnalysis.bulletLineRatio(t), 6).as("bullet_line_ratio"),
          round(TextAnalysis.ellipsisLineRatio(t), 6).as("ellipsis_line_ratio"))
        .orderBy("doc_id")
    }),
    "x6_pii" -> ((s, dir) => {
      val t = col("text")
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.emailCount(t).cast("long").as("n_emails"),
          TextAnalysis.urlCount(t).cast("long").as("n_urls"),
          TextAnalysis.ipv4Count(t).cast("long").as("n_ipv4"),
          TextAnalysis.phoneCount(t).cast("long").as("n_phones"),
          length(TextAnalysis.redactPii(t)).cast("long").as("redacted_len"))
        .orderBy("doc_id")
    }),
    "x13_lexical_diversity" -> ((s, dir) =>
      // Gopher-style unique-words signals: type-token ratio and hapax
      // fraction from ONE compiled frequency pass; both ratios are
      // exact-integer divisions, so the hash compare needs no nudge
      docs(s, dir)
        .withColumn("__f", graft.functions.HashFunctions.arrayFreqStats(
          TextAnalysis.tokens(lower(col("text")))))
        .filter(col("__f.n") > 0)
        .select(col("doc_id"),
          col("__f.n").cast("long").as("n_tok"),
          col("__f.n_distinct").cast("long").as("n_types"),
          col("__f.n_once").cast("long").as("n_hapax"),
          round(col("__f.n_distinct").cast("double") / col("__f.n"), 6).as("ttr"),
          round(col("__f.n_once").cast("double") / col("__f.n"), 6).as("hapax_fraction"))
        .orderBy("doc_id")),
    "x11_char_entropy" -> ((s, dir) =>
      // statistical garbage detector: codepoint-entropy in bits via the
      // one-pass compiled histogram expression; n_cp pins the
      // codepoint-vs-UTF-16 unit choice against the oracle's character
      // counting
      docs(s, dir).filter(length(col("text")) > 0)
        .withColumn("__e", graft.functions.HashFunctions.charEntropy(col("text")))
        .select(col("doc_id"), col("__e.n_cp").cast("long").as("n_cp"),
          round(col("__e.entropy") + lit(5e-10), 6).as("char_entropy"))
        .orderBy("doc_id")),
    "x12_url_domains" -> ((s, dir) =>
      // domain histogram for mixture weighting / domain filtering: URL
      // hosts with multiplicity, exact top-20 with deterministic
      // tiebreak (the x3 shape — map-side-combinable count, tiny
      // result). The corpus contains no URLs, so they are PLANTED
      // in-plan from doc_id (the m-family payload precedent — the
      // oracle replays the planting): mixed-case hosts exercise the
      // lowercasing, the :8080 variant the port boundary.
      docs(s, dir)
        .withColumn("text",
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" https://site-"), col("doc_id") % 7, lit(".example.org/a"))).otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit(" https://CDN-"), col("doc_id") % 4, lit(".Example.net:8080/b"))).otherwise(lit(""))))
        .select(explode(TextAnalysis.urlHosts(col("text"))).as("host"))
        .groupBy("host").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("host")).limit(20)),
    "x10_lm_score" -> ((s, dir) =>
      // CCNet-style bigram-LM scoring, self-trained on the corpus: model
      // counts and vocabulary ride in-plan (two map-side-combinable aggs
      // + a broadcast 1-row vocab), scoring is one join on the bigram
      // key. avg(ln(..)) is a float sum whose partition order differs
      // from DuckDB's sequential sum — the shared +5e-10 nudge (the c1
      // pattern) keeps the 6-decimal rounding off knife edges.
      TextAnalysis.lmScore(docs(s, dir), "doc_id", "text", alpha = 0.1)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_logp") + lit(5e-10), 6).as("avg_logp"),
          round(col("ppl") + lit(5e-10), 4).as("ppl"))
        .orderBy("doc_id")),
    "d12_dup_span_fraction" -> ((s, dir) =>
      // Lee-et-al duplicated-span fraction at 5-gram granularity: the
      // marked fraction is a ratio of exact longs, so the oracle compare
      // needs no nudge; gram identity is the 8-byte positional hash on
      // the Spark side vs the gram string in DuckDB (the d2 precedent —
      // equal up to 2^-64 collisions).
      Dedup.dupNgramFraction(docs(s, dir), "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_grams"), col("n_dup"),
          round(col("dup_fraction"), 6).as("dup_fraction"))
        .orderBy("doc_id")),
    "c1_curation" -> ((s, dir) => {
      // End-to-end corpus curation composite: exact dedup -> quality gate
      // (>= 0.5, an exact double in both engines: 3 passed checks / 6) ->
      // per-language corpus report. One narrow scoring projection and one
      // small shuffle on lang_pred; dedup dominates, and every stage is
      // the already-verified operator (d1 + x2 semantics).
      val p = col("__p")
      val scored = Dedup.exact(docs(s, dir), "doc_id", "text")
        .withColumn("__p", TextAnalysis.profile(col("text")))
        .select(TextAnalysis.languageIdP(p).as("lang_pred"),
          TextAnalysis.qualityScoreP(p).as("q"),
          TextAnalysis.tokenCountP(p).cast("long").as("n_tok"))
        .filter(col("q") >= 0.5)
      scored.groupBy("lang_pred").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          round(avg("q") + lit(5e-10), 6).as("mean_quality"))
        .orderBy("lang_pred")
    }),

    "c4_curation_v2" -> ((s, dir) =>
      // End-to-end curation composing the round-9 signals: exact dedup
      // -> quality + duplicated-span GATES (both exact arithmetic:
      // quality is n/6, dup_fraction a long ratio — a float gate here
      // could flake the oracle on a knife-edge doc) -> per-language
      // report carrying the float signals (entropy, LM perplexity) only
      // inside nudged-rounded aggregates. Empty docs are garbage by
      // definition and leave at the dedup step. Fully lazy: the deduped
      // corpus plan is re-executed once per signal stage (c6 is the
      // materialize-once production shape of the SAME pipeline).
      curationV2Report(dedupedCorpus(s, dir))),

    "c7_pq_adc" -> ((s, dir) => {
      // product-quantization ADC search with PLANTED codebooks (the
      // subvector slices of vec_id 0..15 — aggregate-sized collects), so
      // encode + table + top-10 are pure closed-form arithmetic the
      // oracle replays per position; TRAINING (Pq.fit's Lloyd rounds) is
      // iterative-float and stays spec-pinned in PqSpec, the c3 class.
      // The scan side touches only the m-int code column: at 100 TB the
      // vectors are read once to encode, never again per query.
      val e = table(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      val first = e.filter(col("vec_id") < 16).orderBy("vec_id")
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0))
      val dsub = 8
      val codebooks = (0 until 8).map(sub =>
        first.map(v => v.slice(sub * dsub, (sub + 1) * dsub)).toSeq)
      val query = e.filter(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val enc = Pq.encode(e, "vec_id", "embedding", codebooks)
      Pq.search(enc, "vec_id", "codes", query, codebooks, 10)
        .select(col("vec_id"), round(col("adc") + lit(5e-10), 6).as("adc"))
        .orderBy("adc", "vec_id")
    }),
    "c6_curation_mat" -> ((s, dir) =>
      // c4's pipeline with the PRODUCTION storage decision: the deduped
      // corpus is materialized ONCE (call-scoped MEMORY_AND_DISK persist,
      // released before return) and the three signal stages scan the
      // cache instead of re-running the dedup each — cost goes from
      // Σ(dedup + stage) to dedup + Σ(stage). Same oracle as c4: a
      // storage decision must never change results.
      Curation.withMaterialized(dedupedCorpus(s, dir), curationV2Report(_))),
    "d11_semantic_dedup" -> ((s, dir) => {
      // SemDeDup against the same FIXED deterministic codebook as c2
      // (embeddings vec_id < 8): min-id dominance at cosine >= 0.2
      // inside each cluster. DuckDB replays assignment + pair rule with
      // list_cosine_similarity over identical double-cast vectors, so
      // the surviving id set hash-matches exactly.
      val e = table(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8).orderBy("vec_id")
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toSeq).toSeq
      // maxClusterSize mirrors the oracle's sz-CTE gate; with the FIXED
      // 8-cell codebook, cells at the 100x bench scale (~62k rows) are
      // exempt by design — production sizes k with n (k ~ n/5000) so the
      // cap never bites; the oracle pins the k-fixed variant
      Clustering.semanticDedup(e, "vec_id", "embedding", cents, tau = 0.2,
          maxClusterSize = 10000)
        .select(col("vec_id"), col("centroid_id").cast("long").as("centroid_id"))
        .orderBy("vec_id")
    }),
    "c2_vector_quantize" -> ((s, dir) => {
      // vector quantization against a FIXED deterministic codebook (the
      // embeddings with vec_id < 8, in id order) — the k-means E-step /
      // IVF coarse-assignment kernel, oracle-checked: DuckDB recomputes
      // every assignment with list_cosine_similarity over the same
      // double-cast vectors (both engines accumulate the dot/norms in
      // index order, so the cosines — and therefore the argmax — agree
      // bit-for-bit). The codebook collect is 8 rows; the corpus never
      // shuffles (codebook rides inside one NearestCentroids expression,
      // the 8-row centroid frame joins broadcast).
      val e = table(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8).orderBy("vec_id")
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toSeq).toSeq
      Clustering.quantize(e, "vec_id", "embedding", cents)
        .groupBy(col("centroid_id").cast("long").as("centroid_id"))
        .agg(count(lit(1)).as("n"), round(avg("cosine"), 6).as("mean_cos"))
        .orderBy("centroid_id")
    }),
    "c3_kmeans_profile" -> ((s, dir) => {
      // full-corpus distributed k-means (k=10 to match the ground-truth
      // label count, 5 Lloyd rounds, hash-deterministic init) profiled
      // against the labels: per-cluster size, cohesion, majority label
      // and purity. Iterative + fp-order-sensitive at the last bit ->
      // rows-only (cardinality is pinned at exactly k by clusterProfile's
      // empty-cluster rows); the semantics are spec-pinned on separated
      // fixtures in ClusteringSpec.
      val e = table(s, dir, "embeddings")
      val cents = Clustering.fit(e, "vec_id", "embedding", k = 10, iters = 5)
      Clustering.clusterProfile(e, "vec_id", "embedding", cents,
          labelCol = Some("label"))
        .select(col("centroid_id"), col("n"),
          round(col("mean_cosine"), 4).as("mean_cosine"),
          col("top_label").cast("long").as("top_label"),
          round(col("purity"), 4).as("purity"))
        .orderBy("centroid_id")
    }),
    "c3b_cluster_profile" -> ((s, dir) => {
      // hash-green slice of c3 (the m2b precedent): the identical
      // clusterProfile census — size, cohesion, majority label via the
      // (count, label) struct-max, purity, guaranteed empty-cluster
      // rows — but against a FIXED deterministic codebook (embeddings
      // with vec_id < 10, id order) instead of the fp-order-sensitive
      // Lloyd output, so DuckDB replays assignment AND census exactly
      // (the c2 cosine-argmax contract). c3 keeps the full fit
      // rows-only; this pins everything in it except the iterations.
      val e = table(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 10).orderBy("vec_id")
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toSeq).toSeq
      Clustering.clusterProfile(e, "vec_id", "embedding", cents,
          labelCol = Some("label"))
        .select(col("centroid_id"), col("n"),
          round(col("mean_cosine") + lit(5e-10), 6).as("mean_cosine"),
          col("top_label").cast("long").as("top_label"),
          round(col("purity") + lit(5e-10), 6).as("purity"))
        .orderBy("centroid_id")
    }),

    // ---- deterministic sampling ----------------------------------------
    "p8_token_budget" -> ((s, dir) => {
      // "take ~5000 tokens per source" in seeded-priority order — the
      // token-budget mixture primitive; bucketed weight-cumsum keeps the
      // window sort to ~1/1024 of each source (spec-pinned equal to the
      // naive whole-group window). Lehmer-keyed, so the oracle replays
      // the naive window and hash-checks the kept set.
      val d = table(s, dir, "documents")
        .withColumn("n_tok", size(TextAnalysis.tokens(col("text"))).cast("long"))
      Sampling.tokenBudgetSample(d, "source", "doc_id", "n_tok", budgetTokens = 5000L)
        .groupBy("source").agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("source")
    }),
    "p9_bottomk_sample" -> ((s, dir) =>
      // deterministic per-stratum k-sample via the mergeable bounded
      // aggregator; the Lehmer priority is exact integer math, so the
      // oracle verifies the SELECTION itself (the pattern p1/p2 now
      // share via lehmerSplit / lehmerStratifiedTake)
      Sampling.bottomKSample(
          table(s, dir, "orders").select(col("o_orderpriority"), col("o_orderkey")),
          "o_orderpriority", "o_orderkey", n = 5)
        .orderBy("o_orderpriority", "priority", "o_orderkey")),
    "p20_mixture_anneal" -> ((s, dir) =>
      // the pretraining curriculum plan: epoch 0 samples languages
      // uniformly, the last epoch at the target mix, linear in between;
      // integer quotas by largest remainder against each epoch's
      // 100k-doc budget, each quota reported against the corpus's
      // actual supply (repeat_factor > 1 = data will repeat). One
      // census + driver algebra; the schedule is a literal frame
      Sampling.mixtureAnnealSchedule(
          table(s, dir, "documents").select(col("lang")),
          "lang",
          Seq(("de", 0.15), ("en", 0.4), ("es", 0.15), ("fr", 0.1), ("zh", 0.2)),
          epochs = 4, budgetPerEpoch = 100000L)
        .select(col("epoch"), col("source"),
          round(col("weight") + lit(5e-10), 6).as("weight"),
          col("quota"), col("available"),
          round(col("repeat_factor") + lit(5e-10), 6).as("repeat_factor"))
        .orderBy("epoch", "source")),
    "p19_length_batching" -> ((s, dir) => {
      // how much compute does length bucketing buy: fixed 32-doc
      // batches pad to the batch max; arrival order vs length-sorted
      // compared in one report, both global ranks via range partitions
      // + driver prefix offsets (never a one-task window)
      val d = table(s, dir, "documents")
        .filter(col("text").isNotNull)
        .withColumn("n_tok", size(TextAnalysis.tokens(col("text"))).cast("long"))
        .select(col("doc_id"), col("n_tok"))
      Sampling.paddingEfficiency(d, "doc_id", "n_tok", batchSize = 32)
        .select(col("strategy"), col("n_docs"), col("n_batches"),
          col("sum_tokens"), col("padded_tokens"),
          round(col("pad_waste") + lit(5e-10), 6).as("pad_waste"))
        .orderBy("strategy")
    }),
    "q1_quality_suite" -> ((s, dir) => {
      // declarative write-audit-publish gate over orders: scalar checks
      // share ONE aggregate pass; uniqueness is a (count, distinct)
      // pair; referential is one anti-join count against a planted
      // two-thirds reference (so the orphan branch actually exercises).
      // The mix is chosen to emit both passing and failing rows.
      val orders = table(s, dir, "orders")
      val customerRef = table(s, dir, "customer").filter(col("c_custkey") % 3 =!= 0)
      Quality.checkSuite(orders, Seq(
          Quality.NotNull("o_custkey"),
          Quality.InRange("o_totalprice", 0.0, 400000.0, maxBadFrac = 0.05),
          Quality.MatchesRegex("o_orderpriority", "^[1-5]-"),
          Quality.Unique(Seq("o_orderkey")),
          Quality.Unique(Seq("o_custkey"), maxBadFrac = 0.5),
          Quality.Referential("o_custkey", customerRef, "c_custkey", maxBadFrac = 0.1)))
        .select(col("check"), col("target"), col("n_rows"), col("n_bad"),
          round(col("bad_frac") + lit(5e-10), 6).as("bad_frac"),
          round(col("threshold") + lit(5e-10), 6).as("threshold"),
          col("passed").cast("long").as("passed"))
        .orderBy("check", "target")
    }),
    "q2_profile" -> ((s, dir) =>
      // discovery companion to q1: exact per-column profile of orders
      // (long + string columns only — double/timestamp renderings are
      // engine-specific and belong to typed checks, not the profile)
      Quality.profileExact(table(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("column")),
    "q5_incremental_psi" -> ((s, dir) => {
      // drift read OFF HISTOGRAM STATE, not the corpora: first-half vs
      // second-half events per event_type, 10 bins over [0, 500) — in
      // production both states arrive via Histograms.mergeState and
      // this query never rescans a corpus
      val ev = table(s, dir, "events")
      val cut = to_timestamp(lit("2024-01-16 00:00:00"))
      val refH = Histograms.binned(ev.filter(col("ts") < cut),
        Seq("event_type"), "value", 0.0, 500.0, 10)
      val curH = Histograms.binned(ev.filter(col("ts") >= cut),
        Seq("event_type"), "value", 0.0, 500.0, 10)
      Drift.psiFromHistograms(refH, curH, Seq("event_type"), 10)
        .select(col("event_type"), col("n_ref"), col("n_cur"),
          round(col("psi") + lit(5e-10), 6).as("psi"))
        .orderBy("event_type")
    }),
    "p12_group_holdout" -> ((s, dir) => {
      // leakage-safe eval split: whole SOURCES move together; the
      // output is the holdout side itself, so the oracle re-derives the
      // exact membership (hash + Lehmer replayed in SQL)
      val (_, holdout) = Sampling.groupHoldout(
        table(s, dir, "documents"), "source", holdoutFraction = 0.4)
      holdout.select(col("doc_id"), col("source")).orderBy("doc_id")
    }),
    "v1_roc_auc" -> ((s, dir) => {
      // exact corpus-scale ROC-AUC: first embedding component as the
      // score, odd labels as the positive class
      val e = table(s, dir, "embeddings")
      Evaluation.rocAuc(
          e.select(element_at(col("embedding"), 1).as("score"),
            (col("label") % 2).as("y")), "score", "y")
        .select(round(col("auc") + lit(5e-10), 6).as("auc"),
          col("n_pos"), col("n_neg"))
    }),
    "v14_auc_delong" -> ((s, dir) => {
      // is the v1 AUC real or noise: DeLong placement variances over
      // the same score census (both class cumsums from ONE stitched
      // window pass), normal CI; the five-number algebra runs on
      // driver scalars off one census-sized moment aggregate
      val e = table(s, dir, "embeddings")
      Evaluation.aucDeLong(
          e.select(element_at(col("embedding"), 1).as("score"),
            (col("label") % 2).as("y")), "score", "y")
        .select(col("n_pos"), col("n_neg"),
          round(col("auc") + lit(5e-10), 6).as("auc"),
          round(col("var_auc") + lit(5e-10), 6).as("var_auc"),
          round(col("se_auc") + lit(5e-10), 6).as("se_auc"),
          round(col("ci_lo") + lit(5e-10), 6).as("ci_lo"),
          round(col("ci_hi") + lit(5e-10), 6).as("ci_hi"))
    }),
    "v2_confusion" -> ((s, dir) => {
      // one-pass confusion counts + derived metrics for the thresholded
      // second component against the same class
      val e = table(s, dir, "embeddings")
      Evaluation.confusionStats(
          e.select((element_at(col("embedding"), 2) > 0.0f).cast("long").as("pred"),
            (col("label") % 2).as("y")), "pred", "y")
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          round(col("precision") + lit(5e-10), 6).as("precision"),
          round(col("recall") + lit(5e-10), 6).as("recall"),
          round(col("f1") + lit(5e-10), 6).as("f1"),
          round(col("accuracy") + lit(5e-10), 6).as("accuracy"))
    }),
    "v3_ndcg" -> ((s, dir) => {
      // ranking-eval: NDCG@10 per order-year — score = o_totalprice,
      // relevance = a deterministic 4-grade (o_custkey % 4), ties broken
      // by o_orderkey. Two bounded TopKRel buffers per group ride ONE
      // map-side-combined aggregate; the oracle's window formulation
      // must per-group-sort every row — the plan this operator avoids.
      Evaluation.ndcgAtK(
          table(s, dir, "orders")
            .filter(col("o_totalprice").isNotNull && col("o_custkey").isNotNull &&
              col("o_orderkey").isNotNull)
            .select(year(col("o_orderdate")).cast("long").as("yr"),
              col("o_totalprice").as("score"),
              (col("o_custkey") % 4).as("rel"),
              col("o_orderkey").as("id")),
          "yr", "score", "rel", "id", 10)
        .select(col("yr"), col("n_items"),
          round(col("dcg") + lit(5e-10), 6).as("dcg"),
          round(col("idcg") + lit(5e-10), 6).as("idcg"),
          round(col("ndcg") + lit(5e-10), 6).as("ndcg"))
        .orderBy("yr")
    }),
    "v7_mrr_precision" -> ((s, dir) =>
      // MRR@10 / P@10 over the v3 ranking task (relevant = grade > 0)
      // from the same bounded buffer — exact rationals end to end
      Evaluation.rankingAtK(
          table(s, dir, "orders")
            .filter(col("o_totalprice").isNotNull && col("o_custkey").isNotNull &&
              col("o_orderkey").isNotNull)
            .select(year(col("o_orderdate")).cast("long").as("yr"),
              col("o_totalprice").as("score"),
              (col("o_custkey") % 4).as("rel"),
              col("o_orderkey").as("id")),
          "yr", "score", "rel", "id", 10)
        .select(col("yr"), col("n_items"),
          round(col("mrr") + lit(5e-10), 6).as("mrr"),
          round(col("precision") + lit(5e-10), 6).as("precision"))
        .orderBy("yr")),
    "v8_brier_logloss" -> ((s, dir) =>
      // proper-scoring companion to v4's ECE: per-priority Brier and
      // log-loss of the same synthetic probability against the
      // fully-shipped label — one map-side-combined aggregate
      Evaluation.probMetrics(
          table(s, dir, "orders")
            .filter(col("o_orderkey").isNotNull && col("o_orderstatus").isNotNull &&
              col("o_orderpriority").isNotNull)
            .select(col("o_orderpriority"),
              ((col("o_orderkey") % 1000).cast("double") / 1000.0).as("p"),
              (col("o_orderstatus") === "F").cast("long").as("y")),
          "o_orderpriority", "p", "y")
        .select(col("o_orderpriority"), col("n"),
          round(col("base_rate") + lit(5e-10), 6).as("base_rate"),
          round(col("brier") + lit(5e-10), 6).as("brier"),
          round(col("logloss") + lit(5e-10), 6).as("logloss"))
        .orderBy("o_orderpriority")),
    "v9_avg_precision" -> ((s, dir) =>
      // PR-curve area per order-month: score = o_totalprice, positives
      // = the 10% custkey slice, ties pinned by o_orderkey; cumPos/rank
      // stay exact integers so the step sum replays bit-for-bit. Month
      // granularity (84 groups), not year (7): the per-group sort
      // window needs groups >= cores or the biggest groups serialize
      // the stage (measured 16.6 -> ~2 s at the 100x bench scale)
      Evaluation.averagePrecision(
          table(s, dir, "orders")
            .filter(col("o_totalprice").isNotNull && col("o_custkey").isNotNull &&
              col("o_orderkey").isNotNull)
            .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
              .cast("long").as("ym"),
              col("o_totalprice").as("score"),
              (col("o_custkey") % 10 === 0).cast("long").as("y"),
              col("o_orderkey").as("id")),
          "ym", "score", "y", "id")
        .select(col("ym"), col("n"), col("n_pos"),
          round(col("ap") + lit(5e-10), 6).as("ap"))
        .orderBy("ym")),
    "v4_calibration" -> ((s, dir) => {
      // reliability diagram + ECE in one aggregate pass: "model
      // probability" p = (o_orderkey % 1000)/1000, label = fully-shipped
      // status; 10 equal-width bins, the ECE walk rides the tiny bin frame
      Evaluation.calibrationBins(
          table(s, dir, "orders")
            .filter(col("o_orderkey").isNotNull && col("o_orderstatus").isNotNull)
            .select(((col("o_orderkey") % 1000).cast("double") / 1000.0).as("p"),
              (col("o_orderstatus") === "F").cast("long").as("y")),
          "p", "y", 10)
        .select(col("bin"), col("n"),
          round(col("conf") + lit(5e-10), 6).as("conf"),
          round(col("acc") + lit(5e-10), 6).as("acc"),
          round(col("gap") + lit(5e-10), 6).as("gap"),
          round(col("ece") + lit(5e-10), 6).as("ece"))
        .orderBy("bin")
    }),
    "v5_cohen_kappa" -> ((s, dir) => {
      // inter-annotator agreement: rater1 = l_suppkey % 3; rater2 agrees
      // on the deterministic 60% slice (l_orderkey % 5 < 3) and votes the
      // next label otherwise — chance-corrected by the exact-integer
      // marginal products
      Evaluation.cohenKappa(
          table(s, dir, "lineitem")
            .filter(col("l_suppkey").isNotNull && col("l_orderkey").isNotNull)
            .select((col("l_suppkey") % 3).as("r1"),
              when(col("l_orderkey") % 5 < 3, col("l_suppkey") % 3)
                .otherwise((col("l_suppkey") + 1) % 3).as("r2")),
          "r1", "r2")
        .select(col("n"),
          round(col("p_o") + lit(5e-10), 6).as("p_o"),
          round(col("p_e") + lit(5e-10), 6).as("p_e"),
          round(col("kappa") + lit(5e-10), 6).as("kappa"))
    }),
    "v6_fleiss_kappa" -> ((s, dir) => {
      // multi-rater agreement: 3 deterministic raters per order — base
      // label o_orderkey % 4, rater r flips to the next label on its own
      // 20% slice ((o_orderkey + r) % 5 = 0; the slices are disjoint, so
      // every item keeps exactly 3 votes). The votes arrive WIDE (one
      // column per rater), so the shuffle-free path applies: the
      // long-format fleissKappa on the same data shuffles 45M vote rows
      // keyed by item at the 100x bench scale (measured 23.7 s vs ~1 s)
      val o = table(s, dir, "orders").filter(col("o_orderkey").isNotNull)
      val wide = o.select(Seq(col("o_orderkey").as("item")) ++ (0 to 2).map(r =>
        when((col("o_orderkey") + lit(r.toLong)) % 5 === 0,
          ((col("o_orderkey") % 4) + 1) % 4)
          .otherwise(col("o_orderkey") % 4).as(s"r$r")): _*)
      Evaluation.fleissKappaWide(wide, Seq("r0", "r1", "r2"))
        .select(col("n_items"), col("n_raters"),
          round(col("p_bar") + lit(5e-10), 6).as("p_bar"),
          round(col("p_e") + lit(5e-10), 6).as("p_e"),
          round(col("kappa") + lit(5e-10), 6).as("kappa"))
    }),
    "q3_psi_drift" -> ((s, dir) => {
      // monitoring gate: PSI of the value distribution, view-cohort as
      // reference vs purchase-cohort as current, fixed audit bins; the
      // ±inf lo/hi columns are specced, the driver row keeps the counts
      // and the (rounded) psi terms/total
      val ev = table(s, dir, "events")
      Drift.psiDrift(ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"),
          "value", Seq(10.0, 25.0, 50.0, 100.0, 200.0))
        .select(col("bin"), col("n_ref"), col("n_cur"),
          round(col("psi_term") + lit(5e-10), 6).as("psi_term"),
          round(col("psi") + lit(5e-10), 6).as("psi"))
        .orderBy("bin")
    }),
    "q4_ks_drift" -> ((s, dir) => {
      // bin-free companion: exact two-sample KS over the same cohorts
      val ev = table(s, dir, "events")
      Drift.ksStatistic(ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"), "value")
        .select(round(col("ks") + lit(5e-10), 6).as("ks"),
          round(col("at_value") + lit(5e-10), 6).as("at_value"),
          col("n_ref"), col("n_cur"))
    }),
    "q17_spc_rules" -> ((s, dir) => {
      // Western Electric SPC rules over hourly event-count series: one
      // exact-long moment census per type (the e11 discipline — z cuts
      // cannot flake), one partitioned window pass for all four rolling
      // rules, one report row per type
      val hourly = table(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      TimeSeries.westernElectric(hourly, "event_type", "h", "n")
        .select(col("event_type"), col("n_points"),
          round(col("mean") + lit(5e-10), 6).as("mean"),
          round(col("std") + lit(5e-10), 6).as("std"),
          col("r1_n"), col("r2_n"), col("r3_n"), col("r4_n"),
          date_format(col("first_alarm_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("first_alarm_ts"))
        .orderBy("event_type")
    }),
    "q18_monitoring_panel" -> ((s, dir) => {
      // the operations dashboard in ONE call over ONE hourly rollup
      // (r14 verdict #8 stretch): Western Electric rule counts (q17),
      // rolling-z anomaly count + max |z| (a10), and PSI of the
      // hourly-count distribution first-half vs second-half (the q5
      // read-off-state discipline) — every leg the already-verified
      // operator, melted into the (event_type, check_name, value)
      // report the pager reads. The same panel reads hourly counts
      // merged batch by batch with mergeAggState (spec in
      // EventPipelineSpec).
      val hourly = table(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      EventPipeline.monitoringPanel(hourly,
          psiCut = to_timestamp(lit("2024-01-16 00:00:00")))
        .select(col("event_type"), col("check_name"),
          round(col("value") + lit(5e-10), 6).as("value"))
        .orderBy("event_type", "check_name")
    }),
    "q7_acf" -> ((s, dir) => {
      // autocorrelation of hourly event-value series per type: one
      // shuffle keyed by event_type serves the mean window, all six lag
      // offsets, and the per-lag conditional sums
      val hourly = table(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum("value").as("x"))
      TimeSeries.acf(hourly, "event_type", "h", "x", maxLag = 6)
        .select(col("event_type"), col("lag"), col("n_pairs"),
          round(col("acf") + lit(5e-10), 6).as("acf"))
        .orderBy("event_type", "lag")
    }),
    "x30_k_anonymity" -> ((s, dir) =>
      // the pre-export privacy gate: every row must share its
      // (source, lang, length-bucket) quasi-identifier combination with
      // >= 4 others or it re-identifies — one QI census (shuffle
      // carries distinct combinations, never rows) + a 1-row fold
      graft.ops.Quality.kAnonymity(
          table(s, dir, "documents")
            .select(col("source"), col("lang"),
              expr("n_chars div 200").as("len_bucket")),
          Seq("source", "lang", "len_bucket"), k = 5L)),
    "x32_l_diversity" -> ((s, dir) =>
      // the homogeneity-attack companion gate: each (source, len-bucket)
      // QI group must span >= 3 distinct languages — one census over
      // distinct (QI, sensitive) combinations + a 1-row fold, NULL
      // sensitive carried through the sentinel as its own value
      graft.ops.Quality.lDiversity(
          table(s, dir, "documents")
            .select(col("source"), col("lang"),
              expr("n_chars div 200").as("len_bucket")),
          Seq("source", "len_bucket"), "lang", l = 3L)),

    "x20_benford" -> ((s, dir) =>
      // first-digit audit of prices-in-cents: the digit comes from the
      // decimal string, immune to the log10 power-of-ten knife edge
      graft.ops.Audit.benford(
          table(s, dir, "lineitem")
            .select(round(col("l_extendedprice") * lit(100)).cast("long")
              .as("cents")),
          "cents")
        .select(col("digit"), col("cnt"),
          round(col("obs_freq") + lit(5e-10), 6).as("obs_freq"),
          round(col("exp_freq") + lit(5e-10), 6).as("exp_freq"),
          round(col("dev") + lit(5e-10), 6).as("dev"))
        .orderBy("digit")),
    "x21_oov_rate" -> ((s, dir) => {
      // tokenizer-coverage screen: per-source out-of-vocabulary rate
      // against the corpus's own top-20 token vocabulary (count DESC,
      // token ASC ties). Two passes over ONE exploded token frame; the
      // vocab rides a broadcast left join
      val tk = table(s, dir, "documents")
        .filter(col("source").isNotNull && col("text").isNotNull)
        .select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      val vocab = tk.groupBy("token").agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col("token")).limit(20)
        .select(col("token"), lit(1L).as("__in"))
      tk.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          round(col("n_oov").cast("double") / col("n_tokens") + lit(5e-10), 6)
            .as("oov_rate"))
        .orderBy("source")
    }),
    "x22_boilerplate" -> ((s, dir) =>
      // boilerplate-header detector: each source's most common leading
      // trigram and its share of the source's docs — one prefix
      // projection, one census, a min(struct) argmax, no window
      table(s, dir, "documents")
        .filter(col("source").isNotNull && col("text").isNotNull)
        .select(col("source"), concat_ws(" ",
          slice(TextAnalysis.tokens(lower(col("text"))), 1, 3)).as("prefix"))
        .groupBy("source", "prefix").agg(count(lit(1)).as("__c"))
        .groupBy("source")
        .agg(sum("__c").as("n_docs"),
          min(struct((-col("__c")).as("nc"), col("prefix").as("p"))).as("__b"))
        .select(col("source"), col("n_docs"),
          col("__b.p").as("top_prefix"), (-col("__b.nc")).as("n_top"),
          round((-col("__b.nc")).cast("double") / col("n_docs") + lit(5e-10), 6)
            .as("share"))
        .orderBy("source")),
    "x19_zipf" -> ((s, dir) =>
      // corpus-health Zipf fit: vocabulary census -> rank window over
      // vocab rows only -> closed-form OLS in one aggregate
      TextAnalysis.zipfFit(
          docs(s, dir)
            .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
            .groupBy("token").agg(count(lit(1)).as("cnt")),
          "token", "cnt", topN = 1000)
        .select(col("n_tokens"),
          round(col("slope") + lit(5e-10), 6).as("slope"),
          round(col("intercept") + lit(5e-10), 6).as("intercept"),
          round(col("r2") + lit(5e-10), 6).as("r2"))),
    "e18_markov_transitions" -> ((s, dir) =>
      // behavioral baseline: P(next event | current event) per user
      // stream, deterministic under equal timestamps via the event-id
      // tiebreak
      TimeSeries.transitionMatrix(
          table(s, dir, "events"), "user_id", "ts", "event_type", "event_id")
        .select(col("from_state"), col("to_state"), col("cnt"),
          round(col("prob") + lit(5e-10), 6).as("prob"))
        .orderBy("from_state", "to_state")),
    "q9_cross_correlation" -> ((s, dir) => {
      // does purchasing echo clicking? lead-lag correlation between the
      // two hourly series on one shared grid
      val hourly = table(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(sum(when(col("event_type") === "click", 1).otherwise(0))
          .cast("double").as("x"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0))
            .cast("double").as("y"))
        .withColumn("k", lit("click_purchase"))
      TimeSeries.crossCorrelation(hourly, "k", "h", "x", "y", maxLag = 4)
        .select(col("k"), col("lag"), col("n_pairs"),
          round(col("ccf") + lit(5e-10), 6).as("ccf"))
        .orderBy("lag")
    }),
    "q10_cusum" -> ((s, dir) =>
      // did traffic shift? CUSUM changepoint over each type's hourly
      // count series; the argmax criterion is integer-exact so the
      // located index is engine-independent
      TimeSeries.cusum(
          table(s, dir, "events")
            .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
            .agg(count(lit(1)).cast("double").as("x")),
          "event_type", "h", "x")
        .select(col("event_type"), col("n"), col("cp_index"),
          date_format(col("cp_time"), "yyyy-MM-dd HH:mm:ss").as("cp_hour"),
          round(col("s_max") + lit(5e-10), 6).as("s_max"),
          round(col("stat") + lit(5e-10), 6).as("stat"))
        .orderBy("event_type")),
    "q11_trend" -> ((s, dir) =>
      // is traffic growing? grouped OLS over each type's hourly counts
      // with position as the regressor — all six sufficient sums are
      // exact integers, so the fit replays engine-independently
      TimeSeries.trend(
          table(s, dir, "events")
            .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
            .agg(count(lit(1)).cast("double").as("x")),
          "event_type", "h", "x")
        .select(col("event_type"), col("n"),
          round(col("slope") + lit(5e-10), 6).as("slope"),
          round(col("intercept") + lit(5e-10), 6).as("intercept"),
          round(col("r2") + lit(5e-10), 6).as("r2"))
        .orderBy("event_type")),
    "q12_interarrival" -> ((s, dir) =>
      // how bursty is each event type? per-(type, user) inter-arrival
      // gaps (microsecond-exact, ties by event_id) reduced to a per-type
      // census — the window keys on (type, user), never type alone
      TimeSeries.interArrival(Util.events(s, dir),
          "event_type", "user_id", "ts", "event_id")
        .select(col("event_type"), col("n_pairs"),
          round(col("mean_gap_s") + lit(5e-10), 6).as("mean_gap_s"),
          round(col("min_gap_s") + lit(5e-10), 6).as("min_gap_s"),
          round(col("max_gap_s") + lit(5e-10), 6).as("max_gap_s"))
        .orderBy("event_type")),
    "q8_seasonal_decompose" -> ((s, dir) => {
      // hour-of-day seasonality of event traffic: classical additive
      // decomposition with the 2x24 centered MA; one shuffle per type
      // serves every window, the seasonal census is 24 rows per type
      val hourly = table(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).cast("double").as("x"))
      TimeSeries.decompose(hourly, "event_type", "h", "x", period = 24)
        .select(col("event_type"), col("h"), col("x"),
          col("phase").cast("long").as("phase"),
          round(col("trend") + lit(5e-10), 6).as("trend"),
          round(col("seasonal") + lit(5e-10), 6).as("seasonal"),
          round(col("residual") + lit(5e-10), 6).as("residual"))
        .orderBy("event_type", "h")
    }),
    "q6_jsd_drift" -> ((s, dir) => {
      // symmetric bounded drift over the q3 cohorts and bins: JSD
      // saturates at ln 2 where PSI explodes on one-sided empty bins
      val ev = table(s, dir, "events")
      Drift.jsdDrift(ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"),
          "value", Seq(10.0, 25.0, 50.0, 100.0, 200.0))
        .select(col("bin"), col("n_ref"), col("n_cur"),
          round(col("jsd_term") + lit(5e-10), 6).as("jsd_term"),
          round(col("jsd") + lit(5e-10), 6).as("jsd"))
        .orderBy("bin")
    }),
    "a30_quantile_bins" -> ((s, dir) =>
      // equal-frequency quintiles of price: edges from the exact grouped
      // quantile operator, attached as LITERALS (the clampToBounds gate),
      // census in one branch-free aggregate
      Encoding.quantileBin(
          table(s, dir, "lineitem").select("l_extendedprice"),
          "l_extendedprice", k = 5)
        .select(col("bin"),
          round(col("lo") + lit(5e-10), 6).as("lo"),
          round(col("hi") + lit(5e-10), 6).as("hi"),
          col("n"),
          round(col("mean_value") + lit(5e-10), 6).as("mean_value"))
        .orderBy("bin")),
    "s13_embed_cov" -> ((s, dir) =>
      // the distributed half of PCA as an oracle-checkable census: the
      // 64x64 upper-triangle sample covariance off ONE corpus scan
      // (in-array Gram assembly, zero shuffle beyond the combine)
      Pca.covFrame(table(s, dir, "embeddings").select("embedding"),
          "embedding", dim = 64)
        .select(col("i"), col("j"), col("n"),
          // + 0.0 normalizes IEEE -0.0 to +0.0 — the near-zero
          // covariances land on either side of 0 and the two engines'
          // round() disagree on the zero's SIGN, which the driver's
          // stringified row sort would scramble
          (round(col("cov") + lit(5e-10), 6) + lit(0.0)).as("cov"))
        .orderBy("i", "j")),
    "s14b_pca_trace" -> ((s, dir) => {
      // the eigen step made oracle-checkable (r14 verdict #3): the full
      // Jacobi spectrum's SUM must equal the covariance TRACE — a
      // similarity-invariant DuckDB replays from the raw embeddings as
      // Σ_d var_samp(x_d) (the s13 diagonal, summed) — and the top-k
      // eigenvectors must be orthonormal. The trace value itself is
      // computed from the census (the hash-checked quantity); the two
      // booleans carry the driver algebra's correctness: a broken
      // Jacobi rotation breaks trace preservation, a broken sign-pin /
      // sorting breaks orthonormality. The raw spectrum (fp-order
      // sensitive, not SQL-replayable) stays pinned by PcaSpec's
      // recovery tests.
      val e = table(s, dir, "embeddings").select("embedding")
      val m = Pca.fit(e, "embedding", dim = 64, k = 8)
      // census trace summed in index order on the driver (deterministic
      // fold, same rounding discipline as s13)
      val diag = Pca.covFrame(e, "embedding", dim = 64)
        .filter(col("i") === col("j")).orderBy("i")
        .collect().map(_.getAs[Double]("cov"))
      val trace = diag.sum
      val eigSumOk = math.abs(m.totalVariance - trace) <=
        1e-9 * math.max(1.0, math.abs(trace))
      val comps = m.components
      val maxResid = (for (a <- comps.indices; b <- a until comps.size) yield {
        val dot = comps(a).zip(comps(b)).map { case (x, y) => x * y }.sum
        math.abs(dot - (if (a == b) 1.0 else 0.0))
      }).max
      import s.implicits._
      Seq((m.n, BigDecimal(trace + 5e-10).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          eigSumOk, maxResid <= 1e-9))
        .toDF("n", "trace", "eig_sum_ok", "orthonormal_ok")
    }),
    "c9_curated_export" -> ((s, dir) => {
      // THE END-TO-END TRAINING HANDOFF, every stage the verified
      // operator: exact dedup (d1) -> quality gate (c1/x2's scorer) ->
      // fresh token census -> token-budgeted JSONL export with a
      // VersionedTable manifest (o15) -> re-read census with RECOMPUTED
      // tokens. The oracle replays dedup, gate, budget, and shard
      // assignment from the raw table in one SQL — a drift anywhere in
      // the chain breaks the hash
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .filter(col("text").isNotNull)
      val p = col("__p")
      val gated = Dedup.exact(docs, "doc_id", "text")
        .withColumn("__p", TextAnalysis.profile(col("text")))
        .filter(TextAnalysis.qualityScoreP(p) >= 0.5)
        .withColumn("n_tok", TextAnalysis.tokenCountP(p).cast("long"))
        .select("doc_id", "source", "text", "n_tok")
      jsonlExportCensus(s, gated, "graft_curated_jsonl", "graft_curated_manifest")
    }),
    "c8_mix_report" -> ((s, dir) => {
      // pretraining-mix planner, the c1/p13/p18 disciplines composed:
      // quality gate -> per-SOURCE token census -> temperature-smoothed
      // (T = 2, over token mass) shares -> exact 100k-token budget via
      // largest remainder. One scoring projection, one census shuffle,
      // then a driver-side fold over the <=|sources| AGGREGATE census
      // (the p18/v11 discipline — no unpartitioned window)
      val p = col("__p")
      val kept = table(s, dir, "documents")
        .select(col("source"), col("text"))
        .withColumn("__p", TextAnalysis.profile(col("text")))
        .select(col("source"),
          TextAnalysis.qualityScoreP(p).as("q"),
          TextAnalysis.tokenCountP(p).cast("long").as("n_tok"))
        .filter(col("q") >= 0.5)
      val census = kept.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_tokens")))
        .sortBy(_._1)
      val tm = census.iterator.map(c => math.sqrt(c._3.toDouble)).sum
      val shares = census.map { case (src, _, nt) =>
        src -> math.sqrt(nt.toDouble) / tm }
      val alloc = Sampling.largestRemainder(shares.toSeq, 100000L)
      val shareOf = shares.toMap
      import s.implicits._
      census.map { case (src, nd, nt) =>
        // same HALF_UP-at-6dp the Spark-side round() applies elsewhere
        val shareR = BigDecimal(shareOf(src) + 5e-10)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (src, nd, nt, shareR, alloc(src))
      }.toSeq
        .toDF("source", "n_docs", "n_tokens", "share", "token_budget")
        .orderBy("source")
    }),
    "v11_lift_table" -> ((s, dir) => {
      // decile gains table on the v1 score/label pair: gated-router
      // edges as literals, one branch-free census, cumulative capture
      // and lift scanning from the best bin over the 10-row census
      val e = table(s, dir, "embeddings")
      Evaluation.liftTable(
          e.select(element_at(col("embedding"), 1).as("score"),
            (col("label") % 2).as("y")), "score", "y", k = 10)
        .select(col("bin"), col("n"), col("n_pos"),
          round(col("rate") + lit(5e-10), 6).as("rate"),
          round(col("lift") + lit(5e-10), 6).as("lift"),
          round(col("cum_capture") + lit(5e-10), 6).as("cum_capture"),
          round(col("cum_lift") + lit(5e-10), 6).as("cum_lift"))
        .orderBy(col("bin").desc)
    }),
    "w11_seasonal_strength" -> ((s, dir) => {
      // is hourly traffic genuinely seasonal? Hyndman F-statistics off
      // the q8 decomposition — six power sums per type, census algebra
      val hourly = table(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).cast("double").as("x"))
      TimeSeries.seasonalStrength(
          TimeSeries.decompose(hourly, "event_type", "h", "x", period = 24),
          "event_type")
        .select(col("event_type"), col("n"),
          round(col("f_seasonal") + lit(5e-10), 6).as("f_seasonal"),
          round(col("f_trend") + lit(5e-10), 6).as("f_trend"))
        .orderBy("event_type")
    }),
    "s15_sq8_topk" -> ((s, dir) => {
      // scalar-quantized ANN: per-dim min/max census (nothing
      // iterative, so the ORACLE re-derives model AND codes AND
      // scores), floor-256 codes (no half-point tie for two engines
      // to disagree on), mid-rise ADC dot product, TakeOrdered top-10
      val emb = table(s, dir, "embeddings")
      val model = Pq.sqTrain(emb, "embedding", dim = 64)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      Pq.sqSearch(Pq.sqEncode(emb, "vec_id", "embedding", model),
          "vec_id", "codes", q, model, k = 10)
        .select(col("vec_id"), round(col("score") + lit(5e-10), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
    }),
    "p18_neyman_allocation" -> ((s, dir) =>
      // variance-optimal eval-budget split across priority strata:
      // decimal power-sum census, N_h*S_h shares, largest-remainder
      // rounding so the allocations sum to the budget EXACTLY
      Sampling.neymanAllocation(
          table(s, dir, "orders").select("o_orderpriority", "o_totalprice"),
          "o_orderpriority", "o_totalprice", budget = 1000L)
        .select(col("stratum"), col("n"),
          round(col("sd") + lit(5e-10), 6).as("sd"),
          round(col("share") + lit(5e-10), 6).as("share"), col("n_alloc"))
        .orderBy("stratum")),
    "w10_rolling_median" -> ((s, dir) => {
      // 7-day rolling median of daily traffic per type: the robust
      // anomaly baseline; the window orders the 30-row daily CENSUS
      // per type, never events
      val daily = table(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
        .agg(count(lit(1)).cast("double").as("n_events"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
      daily.withColumn("med7", expr("percentile(n_events, 0.5)").over(w))
        .select(col("event_type"), col("day"),
          col("n_events").cast("long").as("n_events"),
          round(col("med7") + lit(5e-10), 6).as("med7"))
        .orderBy("event_type", "day")
    }),
    "w9_theil_sen" -> ((s, dir) => {
      // robust daily-traffic trend per event type: median of all
      // pairwise slopes over the 30-point daily census — quadratic in
      // CENSUS points (435 pairs/key), never in events
      val daily = table(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
        .agg(count(lit(1)).cast("double").as("n_events"))
      TimeSeries.theilSen(daily, "event_type", "day", "n_events")
        .select(col("event_type"), col("n_points"), col("n_pairs"),
          round(col("sen_slope") + lit(5e-10), 6).as("sen_slope"))
        .orderBy("event_type")
    }),
    "q16_embedding_drift" -> ((s, dir) => {
      // has the embedding cloud moved? every 5th vector plays the new
      // snapshot with a planted affine shift (x*1.1 + 0.05) so all
      // three signal families fire: centroid direction, centroid
      // norms, and the per-dim variance trace — 2x64 census cells off
      // one pass per side, metrics literal-lifted
      val emb = table(s, dir, "embeddings")
      val ref = emb.filter(col("vec_id") % 5 =!= 0)
      val cur = emb.filter(col("vec_id") % 5 === 0)
        .select(transform(col("embedding"),
          x => x.cast("double") * lit(1.1) + lit(0.05)).as("embedding"))
      Drift.embeddingDrift(ref, cur, "embedding", dims = 64)
        .select(col("n_ref"), col("n_cur"),
          round(col("mean_cosine") + lit(5e-10), 6).as("mean_cosine"),
          round(col("norm_ref") + lit(5e-10), 6).as("norm_ref"),
          round(col("norm_cur") + lit(5e-10), 6).as("norm_cur"),
          round(col("var_trace_ref") + lit(5e-10), 6).as("var_trace_ref"),
          round(col("var_trace_cur") + lit(5e-10), 6).as("var_trace_cur"))
    }),
    "u10_incremental_join_view" -> ((s, dir) => {
      // incremental JOIN view maintenance over a materialized table:
      // V = base orders x base customers lands as a VersionedTable,
      // the delta dAxB U AxdB U dAxdB APPENDS (V itself never
      // recomputed), and the re-read view must aggregate to the full
      // recomputed join — the IVM algebra, the append accumulation,
      // and the manifest round-trip all under one hash
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val t = new org.apache.hadoop.fs.Path(wh, "graft_ivm_view").toString
      val fs0 = new org.apache.hadoop.fs.Path(t).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs0.delete(new org.apache.hadoop.fs.Path(t), true)
      val o = table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      val c = table(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      val oBase = o.filter(col("o_orderkey") % 3 =!= 0)
      val oDelta = o.filter(col("o_orderkey") % 3 === 0)
      val cBase = c.filter(col("o_custkey") % 2 === 0)
      val cDelta = c.filter(col("o_custkey") % 2 =!= 0)
      graft.sources.VersionedTable.commit(oBase.join(cBase, Seq("o_custkey")), t)
      graft.sources.VersionedTable.commit(
        graft.ops.Merge.incrementalJoinDelta(oBase, oDelta, cBase, cDelta,
          Seq("o_custkey")), t)
      graft.sources.VersionedTable.read(s, t)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("sum_price"),
          max("o_orderkey").as("max_key"))
        .orderBy("c_mktsegment")
    }),
    "x29_ngram_novelty" -> ((s, dir) => {
      // incoming-snapshot freshness screen: every 10th doc plays the
      // new crawl, the rest the standing corpus; per-source share of
      // the snapshot's DISTINCT trigrams never seen in the reference —
      // census-vs-census, one gram-keyed join, no per-doc pair work
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val cur = d.filter(col("doc_id") % 10 === 0 && col("source").isNotNull)
      val ref = d.filter(col("doc_id") % 10 =!= 0)
      TextAnalysis.ngramNovelty(cur, ref, "source", "text", n = 3)
        .select(col("source"), col("n_grams"), col("n_novel"),
          round(col("novelty_rate") + lit(5e-10), 6).as("novelty_rate"))
        .orderBy("source")
    }),
    "w12_mann_kendall" -> ((s, dir) => {
      // distribution-free monotone-trend test on w9's daily census —
      // S folds as an exact long over the 435-pair tiny cross, the tie
      // correction off a second census aggregate; only Var's /18 and
      // the continuity-corrected Z are doubles
      val daily = table(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
        .agg(count(lit(1)).cast("double").as("n_events"))
      TimeSeries.mannKendall(daily, "event_type", "day", "n_events")
        .select(col("event_type"), col("n_points"), col("s_stat"),
          round(col("var_s") + lit(5e-10), 6).as("var_s"),
          round(col("z") + lit(5e-10), 6).as("z"))
        .orderBy("event_type")
    }),
    "v10_pr_auc" -> ((s, dir) => {
      // exact trapezoidal PR-AUC on the v1 score/label pair: every
      // operating point AND its predecessor are row-local integer
      // ratios off the same cumsum census — one pass, one final fold
      val e = table(s, dir, "embeddings")
      Evaluation.prAuc(
          e.select(element_at(col("embedding"), 1).as("score"),
            (col("label") % 2).as("y")), "score", "y")
        .select(round(col("pr_auc") + lit(5e-10), 6).as("pr_auc"),
          round(col("baseline") + lit(5e-10), 6).as("baseline"),
          col("n_pos"), col("n_neg"))
    }),
    "x26_pmi_collocations" -> ((s, dir) =>
      // top-20 glued bigrams by PMI: in-array bigram assembly (zero
      // shuffle), two token censuses, minCount >= 5 prunes the
      // rare-pair PMI ceiling, deterministic lexicographic tie-break
      TextAnalysis.pmiCollocations(docs(s, dir), "text", minCount = 5L, topK = 20)
        .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
          round(col("pmi") + lit(5e-10), 6).as("pmi"))),
    "x31_kneser_ney" -> ((s, dir) =>
      // the count-based LM's smoothing census: absolute-discounted
      // bigram probability backing off to the CONTINUATION unigram —
      // one in-array bigram census, every KN ingredient a
      // census-of-the-census aggregate, exact longs under one fixed
      // division algebra; top-30 bigrams by count, ties lexicographic
      TextAnalysis.kneserNeyBigrams(docs(s, dir), "text",
          discount = 0.75, topK = 30)
        .select(col("w1"), col("w2"), col("c_xy"), col("c_left"),
          col("n_follow"), col("n_precede"),
          round(col("p_cont") + lit(5e-10), 6).as("p_cont"),
          round(col("p_kn") + lit(5e-10), 6).as("p_kn"))),
    "x28_langid_confusion" -> ((s, dir) =>
      // the language-ID operator EVALUATED against the corpus labels:
      // the (label, prediction) confusion census — one compiled
      // profile projection + one map-side-combined aggregate; the
      // classifier itself is the thing under oracle here
      table(s, dir, "documents")
        .filter(col("lang").isNotNull && col("text").isNotNull)
        .select(col("lang"), TextAnalysis.languageId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")),
    "q15_drift_panel" -> ((s, dir) => {
      // one-call drift dashboard: the four production measures on one
      // (ref, cur) pair — PSI over fixed bins, exact KS, exact
      // Wasserstein-1, categorical mix chi-square + Cramer's V — as a
      // (check_name, value) report; every leg is the already-verified
      // operator, unioned into the report the retrain gate reads
      val d = table(s, dir, "documents")
      val ref = d.filter(col("lang") === "en")
      val cur = d.filter(col("lang") =!= "en")
      val psi = Drift.psiDrift(ref, cur, "n_chars",
          Seq(200.0, 500.0, 1000.0, 2000.0))
        .select(lit("psi").as("check_name"), col("psi").as("value")).limit(1)
      val ks = Drift.ksStatistic(ref, cur, "n_chars")
        .select(lit("ks").as("check_name"), col("ks").as("value"))
      val w1 = Drift.wasserstein1(ref, cur, "n_chars")
        .select(lit("w1").as("check_name"), col("w1").as("value"))
      val cat = Drift.categoricalDrift(ref, cur, "source")
      val chi = cat.select(lit("chi2_source").as("check_name"),
        col("chi2").as("value"))
      val cv = cat.select(lit("cramers_v_source").as("check_name"),
        col("cramers_v").as("value"))
      psi.unionByName(ks).unionByName(w1).unionByName(chi).unionByName(cv)
        .select(col("check_name"), round(col("value") + lit(5e-10), 6).as("value"))
        .orderBy("check_name")
    }),
    "q13_wasserstein" -> ((s, dir) => {
      // exact earth-mover drift between returned and accepted lines'
      // price distributions: decimal CDF cross-products over the value
      // census, range-partitioned cumulatives + driver prefix offsets
      // (the KS scaffold), ONE double division on the final row
      val li = table(s, dir, "lineitem")
      Drift.wasserstein1(
          li.filter(col("l_returnflag") === "R"),
          li.filter(col("l_returnflag") === "A"),
          "l_extendedprice")
        .select(round(col("w1") + lit(5e-10), 6).as("w1"),
          col("n_ref"), col("n_cur"))
    }),
    "q14_categorical_drift" -> ((s, dir) => {
      // chi-square homogeneity of the source mix, English vs the rest:
      // two category censuses full-outer-joined, statistic + Cramer's V
      // off exact counts (p-value stays with the scipy-constant specs)
      val d = table(s, dir, "documents")
      Drift.categoricalDrift(
          d.filter(col("lang") === "en"),
          d.filter(col("lang") =!= "en"),
          "source")
        .select(col("n_ref"), col("n_cur"), col("n_categories"),
          round(col("chi2") + lit(5e-10), 6).as("chi2"), col("dof"),
          round(col("cramers_v") + lit(5e-10), 6).as("cramers_v"))
    }),
    "p11_negative_samples" -> ((s, dir) => {
      // contrastive-training negatives: 3 per anchor from a bounded
      // deterministic pool (vec_id % 101 — scale-proportional, always
      // under the literal-array cap), slot probes on the Lehmer
      // permutation with bounded same-label rejection — the whole draw
      // is exact integer math the oracle replays, selections included
      val items = table(s, dir, "embeddings").select(col("vec_id"), col("label"))
      val pool = items.filter(col("vec_id") % 101 === 0)
      Sampling.negativeSamples(items, pool, "vec_id", "label", k = 3)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("slot"), col("neg_id"))
        .orderBy("vec_id", "slot")
    }),
    "p10_dsir_weights" -> ((s, dir) =>
      // DSIR importance weights: hashed-unigram target-vs-source log
      // ratio per document (target = English docs, source = the whole
      // corpus). Bucketing is the replayable positional char hash, so
      // the oracle re-derives every bucket assignment AND the smoothed
      // log-ratio model — the weight computation is hash-verified, not
      // rows-only.
      TextAnalysis.importanceWeights(
          table(s, dir, "documents").select("doc_id", "text", "lang"),
          "doc_id", "text",
          targetCond = col("lang") === "en", buckets = 4096, alpha = 0.5)
        .select(col("doc_id"), col("n_grams"),
          round(col("logw_sum") + lit(5e-10), 6).as("logw_sum"),
          round(col("logw_avg") + lit(5e-10), 6).as("logw_avg"))
        .orderBy("doc_id")),
    "p1_hash_split" -> ((s, dir) => {
      // replayable split: holdout = Lehmer priority below 0.2·M — the
      // oracle re-derives MEMBERSHIP itself (hash-PASS, not rows-only)
      val (_, holdout) = Sampling.lehmerSplit(
        table(s, dir, "documents").select("doc_id", "lang"), "doc_id", 0.2)
      holdout.orderBy("doc_id")
    }),
    "p2_stratified_take" -> ((s, dir) =>
      // replayable exact-5-per-lang sample: priority order is exact
      // integer math, so the oracle re-derives the chosen rows
      Sampling.lehmerStratifiedTake(
          table(s, dir, "documents").select("doc_id", "lang"), "lang", "doc_id", n = 5)
        .orderBy("lang", "doc_id")),
    "p4_chunk_tokens" -> ((s, dir) =>
      // context-window chunking: 64-token chunks, 8 tokens of carried
      // context — pure projection, DuckDB-expressible (list slicing)
      Packing.chunkByTokens(docs(s, dir), "doc_id", "text",
          chunkTokens = 64, overlap = 8)
        .orderBy("doc_id", "chunk_id")),
    "p5_weighted_mixture" -> ((s, dir) => { // Lehmer membership -> oracle replays it
      // training-mix downsampling to 50/30/20 target proportions; the
      // bottleneck source (largest weight, equal sizes) is kept whole.
      // Selection keys on lehmerPriority — exact integer arithmetic the
      // oracle re-derives from the same per-source counts, so the KEPT
      // SET itself is hash-checked; proportion/determinism contracts
      // additionally pinned by SamplingSpec.
      val mix = Sampling.weightedMixture(
        table(s, dir, "documents").select("doc_id", "source"), "source", "doc_id",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
      mix.groupBy("source").agg(count(lit(1)).as("n_kept")).orderBy("source")
    }),
    "p6_epoch_shuffle" -> ((s, dir) => { // Lehmer order key -> oracle replays it
      // deterministic epoch reshuffle: reproducible global permutation
      // via ONE range sort on (lehmerPriority(id, seed), id) — balanced
      // boundaries by permutation uniformity even on skewed ids. The
      // query emits epoch 1's first 100 docs with their priorities
      // (smallest keys -> TakeOrderedAndProject, no full sort for the
      // probe); the priority column pins the ORDER, not just the set.
      Sampling.epochShuffle(docs(s, dir).select(col("doc_id")), "doc_id", seed = 1L)
        .limit(100)
        .withColumn("priority", Sampling.lehmerPriority(col("doc_id"), 1L))
    }),
    "p7_mixture_upsample" -> ((s, dir) => { // Lehmer partial epoch -> oracle replays it
      // upsampling mix: build a 2x-corpus training mix at 60/30/10 by
      // REPEATING under-represented sources (full epochs + one
      // deterministic partial epoch). The partial-epoch slice keys on
      // lehmerPriority/M, so the oracle re-derives every (row, epoch)
      // from the counts; proportion/determinism contracts in
      // SamplingSpec. totalOut derives from the multiplier inside the
      // operator — no extra full-scan d.count() action at construction.
      val d = table(s, dir, "documents").select("doc_id", "source")
      val mix = Sampling.weightedMixtureUpsample(d, "source", "doc_id",
        Map("src0" -> 0.6, "src1" -> 0.3, "src2" -> 0.1), totalOutMultiplier = 2.0)
      mix.groupBy("source", "epoch").agg(count(lit(1)).as("n_kept"))
        .orderBy("source", "epoch")
    }),
    "p3_sequence_pack" -> ((s, dir) => { // hash-spread greedy -> rows-only
      // fixed partitions: pack assignment must not depend on the
      // session's shuffle-partition setting
      val d = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.packByTokenBudget(d, "doc_id", "n_tok", budget = 512, partitions = 8)
        .orderBy("doc_id")
    }),
    "p3b_sequence_pack_lehmer" -> ((s, dir) => {
      // hash-green slice of p3 (the m2b precedent): the IDENTICAL
      // greedy next-fit packer — explicit group id, per-group state
      // reset, oversized-doc overflow, group<<32|idx pack ids — spread
      // and ordered by a Lehmer key instead of xxhash64, so DuckDB
      // replays the whole assignment (recursive CTE stepping each
      // group's greedy scan) and hash-checks every pack id. p3 keeps
      // the xxhash64 spread rows-only; this pins the packer's math.
      val d = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.packByTokenBudget(d, "doc_id", "n_tok", budget = 512,
          partitions = 8,
          spreadKey = Some(pmod(col("doc_id") * lit(48271L), lit(2147483647L))))
        .orderBy("doc_id")
    }),

    // ---- event-table transforms -----------------------------------------
    "e11_stream_anomaly" -> ((s, dir) => {
      // anomaly scoring: hourly counts scored against the hour-of-day
      // baseline profile, broadcast after the aggregation; every
      // statistic is exact-integer moments so the |z| cut cannot flake
      val ev = Util.events(s, dir)
      EventPipeline.anomalyAgainstBaseline(ev, EventPipeline.hourOfDayBaseline(ev))
        .select(col("event_type"),
          date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("n"), round(col("z") + lit(5e-10), 6).as("z"))
        .orderBy("event_type", "w_start")
    }),
    "e1_windowed_counts" -> ((s, dir) =>
      EventPipeline.windowedCounts(Util.events(s, dir))
        .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("event_type"), col("n"), round(col("sum_value"), 6).as("sum_value"))
        .orderBy("w_start", "event_type")),
    "e2_sessionize" -> ((s, dir) =>
      EventPipeline.sessionizeBatch(Util.events(s, dir))
        .select(col("user_id"),
          date_format(col("s_start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
          date_format(col("s_end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
          col("n_events"), round(col("sum_value"), 6).as("sum_value"))
        .orderBy("user_id", "s_start")),
    "e3_asof_join" -> ((s, dir) => {
      // for every error event, the latest click by the same user at or
      // before it (clicks deduped per (user, ts) for a well-defined match)
      val ev = Util.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(min(col("event_id")).as("click_id"))
        .withColumn("click_ts", col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      graft.ops.AsOf.joinAsOf(errors, clicks, "user_id", "ts", Seq("click_id", "click_ts"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("click_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))
        .orderBy("event_id")
    }),
    "e4_range_join" -> ((s, dir) => {
      // pairs of error events within 60s of each other (banded range
      // join: equi-join on tolerance-width time bands, no cross join)
      val errors = Util.events(s, dir).filter(col("event_type") === "error")
        .select("event_id", "ts")
      graft.ops.RangeJoin.selfPairsWithin(errors, "event_id", "ts", toleranceSec = 60)
        .select(col("id_a"), col("id_b"), col("t_a"), col("t_b"))
        .orderBy("id_a", "id_b")
    }),
    "e5_interval_join" -> ((s, dir) => {
      // clicks within 30 min AFTER a view by the same user — the
      // impression-attribution interval join (batch path of the
      // watermark-evicted stream-stream join)
      val ev = Util.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      EventPipeline.intervalJoin(views, clicks, "user_id", "view_ts", "click_ts")
        .select(col("user_id"), col("view_id"), col("click_id"),
          date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))
        .orderBy("view_id", "click_id")
    }),
    "e10_outer_interval_join" -> ((s, dir) => {
      // LEFT-OUTER attribution: every view keeps a row; views with no
      // click in their 30-min window surface null-padded (streaming path
      // emits those exactly when the click watermark passes the window
      // end). Aggregated per user: views, attributed views, attribution
      // rate — the conversion-coverage report.
      val ev = Util.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      EventPipeline.intervalJoin(views, clicks, "user_id", "view_ts", "click_ts",
          joinType = "left_outer")
        .groupBy(col("user_id"), col("view_id"))
        .agg(max(col("click_id").isNotNull.cast("int")).as("__hit"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_views"),
          sum(col("__hit")).cast("long").as("n_attributed"))
        .withColumn("attribution_rate",
          round(col("n_attributed").cast("double") / col("n_views").cast("double"), 6))
        .filter(col("n_views") >= 3)
        .orderBy("user_id")
    }),
    "e7_variant_extract" -> ((s, dir) => {
      // Spark 4 VARIANT path: parse the JSON ONCE into a variant column,
      // then extract typed fields from the binary-encoded value —
      // the parse-amortized shape for documents with MANY extracted
      // fields (e6 re-parses per extraction API). try_parse_json keeps
      // parity with e6's lenient nulls: a malformed props row becomes a
      // null variant instead of failing the query. try_variant_get on a
      // missing path yields null, counted to pin that semantic.
      val v = Util.events(s, dir)
        .select(col("event_type"), try_parse_json(col("props")).as("v"))
        .select(col("event_type"),
          try_variant_get(col("v"), "$.k", "int").as("k"),
          try_variant_get(col("v"), "$.absent", "int").as("missing"))
      v.groupBy("event_type").agg(
          count(col("k")).as("n"),
          sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"),
          max(col("k")).as("k_max"),
          count(col("missing")).as("n_missing"))
        .orderBy("event_type")
    }),
    "e6_json_extract" -> ((s, dir) => {
      // semi-structured metadata: typed parse (from_json against a
      // schema, codegen'd Jackson scan) and path extraction
      // (get_json_object) over the JSON props column. Both derivations
      // ride the same projection; n_path_agree = n under the oracle hash
      // proves they agree row-for-row. Scale posture: pure per-row
      // projection before a tiny groupBy — no shuffle of the JSON text.
      val parsed = Util.events(s, dir).select(col("event_type"),
        from_json(col("props"), "k INT", Map.empty[String, String])
          .getField("k").as("k"),
        get_json_object(col("props"), "$.k").cast("int").as("k_path"))
      parsed.groupBy("event_type").agg(
          count(col("k")).as("n"),
          sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"),
          max(col("k")).as("k_max"),
          count(when(col("k") === col("k_path"), 1)).as("n_path_agree"))
        .orderBy("event_type")
    }),
    "w6_ewma" -> ((s, dir) => {
      // truncated EWMA (α = 0.3, 8 lags, head-renormalized) over each
      // event type's hourly value series — the smoothed-rate signal
      // monitoring reads; all 8 lags share one window operator on the
      // single event_type exchange
      val hourly = Util.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(col("value")).as("v"))
      EventPipeline.ewmaSmoothed(hourly, "event_type", "h", "v")
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("h"),
          round(col("v") + lit(5e-10), 6).as("v"),
          round(col("ewma") + lit(5e-10), 6).as("ewma"))
        .orderBy("event_type", "h")
    }),

    "e17_sliding_window" -> ((s, dir) =>
      // sliding event-time windows (1 h length, 30 min slide): every
      // event lands in exactly 2 overlapping windows — the smoothed-rate
      // readout e1's tumbling form cannot give. One generate + one hash
      // aggregate.
      EventPipeline.slidingWindowedCounts(Util.events(s, dir), "1 hour",
          "30 minutes")
        .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("event_type"), col("n"),
          round(col("sum_value") + lit(5e-10), 6).as("sum_value"))
        .orderBy("w_start", "event_type")),

    "e16_attribution" -> ((s, dir) =>
      // last-touch attribution, 1-hour lookback: each purchase credits
      // the user's latest click at-or-before it (ties by event id);
      // organic purchases keep null touch columns. One window pass.
      EventPipeline.lastTouchAttribution(Util.events(s, dir),
          "click", "purchase", 3600 * 1000L)
        .orderBy("conv_id")),

    "e8_funnel" -> ((s, dir) => {
      // strict first-occurrence conversion funnel view -> click ->
      // purchase: ONE map-side-combinable aggregation per user
      // (conditional mins over the millisecond epoch), then a single-row
      // rollup — no self-join, no window, nothing keyed wider than
      // user_id, so the shape survives any user cardinality. The mean
      // latency is derived from the EXACT integer (sum_ms, n) pair both
      // engines agree on, so the double division is bit-identical.
      val ev = Util.events(s, dir)
      def firstMs(t: String) =
        min(when(col("event_type") === t, unix_millis(col("ts"))))
      val perUser = ev.groupBy("user_id").agg(
        firstMs("view").as("v_ms"),
        firstMs("click").as("c_ms"),
        firstMs("purchase").as("p_ms"))
      val conv = col("c_ms") > col("v_ms")
      perUser.agg(
          count(lit(1)).as("n_users"),
          count(col("v_ms")).as("n_view"),
          count(when(conv, 1)).as("n_view_click"),
          count(when(conv && col("p_ms") > col("c_ms"), 1)).as("n_full_funnel"),
          sum(when(conv, col("c_ms") - col("v_ms"))).as("sum_view_click_ms"),
          round(sum(when(conv, col("c_ms") - col("v_ms"))).cast("double") /
            count(when(conv, 1)).cast("double") / 1000.0, 6)
            .as("mean_view_to_click_sec"))
    }),
    "e9_funnel_ttl" -> ((s, dir) =>
      // TTL funnel: the per-user funnel after inactivity gaps > 1h
      // re-open it (= funnel over each user's LAST activity episode),
      // collapsed to per-stage counts.
      EventPipeline.funnelLastEpisode(Util.events(s, dir), ttlMs = 3600000L)
        .select(col("stage"), col("n_users"), col("sum_view_click_ms"))
        .orderBy("stage")),
    "x8_vocab" -> ((s, dir) => {
      // corpus vocabulary head: exact top-100 tokens by frequency with
      // each token's corpus share and the ranked prefix's cumulative
      // coverage. explode -> map-side-combinable count; the top-100 rides
      // TakeOrderedAndProject (per-partition heaps, no global sort) and
      // the grand total aggregates the SAME token-count exchange
      // (ReuseExchange dedupes the scan+shuffle); the rank/cumsum window
      // is unpartitioned BUT runs over the 100 surviving rows only.
      import org.apache.spark.sql.expressions.Window
      val tk = docs(s, dir)
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      val counts = tk.groupBy("token").agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("total"))
      val top = counts.orderBy(col("n").desc, col("token")).limit(100)
      val w = Window.orderBy(col("n").desc, col("token"))
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.crossJoin(broadcast(total))
        .select(
          row_number().over(w).cast("long").as("rank"),
          col("token"), col("n"),
          round(col("n").cast("double") / col("total").cast("double"), 6).as("share"),
          round(sum(col("n")).over(wc).cast("double") / col("total").cast("double"), 6)
            .as("cum_share"))
        .orderBy("rank")
    }),
    "x9_heavy_hitters" -> ((s, dir) => {
      // sketch-path frequent tokens: a Misra-Gries summary finds the
      // candidate set WITHOUT shuffling the vocabulary (the shuffle
      // carries one 50-entry map per partition), then one broadcast-
      // filtered re-count pass makes the survivors exact. The MG
      // guarantee (every token with freq > N/(k+1) is in the sketch)
      // makes the final set "exact counts of all tokens above the
      // N/(k+1) frequency floor" — DETERMINISTIC and SQL-derivable even
      // though the sketch's own content is partitioning-dependent.
      val k = 50
      val mg = udaf(new graft.functions.MisraGries(k),
        org.apache.spark.sql.Encoders.STRING)
      val tk = docs(s, dir)
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      val sk = tk.agg(mg(col("token")).as("sketch"), count(lit(1)).as("total"))
      val cand = sk.select(explode(map_keys(col("sketch"))).as("token"), col("total"))
      tk.join(broadcast(cand), Seq("token"))
        .groupBy("token", "total").agg(count(lit(1)).as("n"))
        .filter(col("n") * (k + 1) > col("total"))
        .select(col("token"), col("n"),
          round(col("n").cast("double") / col("total").cast("double"), 6).as("share"))
        .orderBy(col("n").desc, col("token"))
    }),
    "k2_salted_join" -> ((s, dir) => {
      // plan-level skew-resistant fact-dim join, hot-keys-only flavor:
      // a Misra-Gries sketch over l_partkey surfaces up to 64 heavy
      // candidates, only THOSE fact rows are salted x8 (and only those
      // dim keys replicated) while the skew-free remainder takes the
      // plain join — replication cost is saltFactor * |hotKeys|, not
      // saltFactor * |dim| (the full-replication version measured
      // 13.6 s at 100x bench scale; this one degrades to plain-join
      // cost on uniform keys). Result equals the plain join on any
      // input; SkewSpec pins equivalence, the planted-heavy-key path,
      // and the degrade-to-plain path.
      val li = table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"))
      val p = table(s, dir, "part").select(col("p_partkey"), col("p_type"))
      graft.ops.Skew.hotSaltedJoin(li, p, "l_partkey", "p_partkey", saltFactor = 8)
        .groupBy("p_type")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy("p_type")
    }),
    "k4_skew_report" -> ((s, dir) =>
      // skew diagnosis — the planning step before k1/k2's salted ops:
      // MG candidates, exact recount, share + suggested salt per heavy
      // key. event_type has 5 values, all within the 64-key sketch, so
      // the report is EXACT and the oracle replays it with plain SQL.
      graft.ops.Skew.skewReport(Util.events(s, dir), "event_type",
        partitions = 32)),

    "k3_bloom_join" -> ((s, dir) => {
      // bloom-prefiltered semi join: lineitems of the ~2% of parts with
      // p_size = 1. The distributed bloom build ships only a bitmap to
      // the driver; the codegen'd probe drops ~98% of the fact rows
      // BEFORE the join exchange — the explicit form of AQE's runtime
      // filter, exact because the semi join clears false positives.
      val li = table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_returnflag"), col("l_quantity"))
      val dim = table(s, dir, "part").filter(col("p_size") === 1).select("p_partkey")
      BloomJoin.bloomSemiJoin(li, dim, "l_partkey", "p_partkey",
          expectedDimKeys = 1000000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    "j2_bucketed_join" -> ((s, dir) => {
      // bucketed co-located join: both sides materialized bucketed (and
      // per-bucket sorted) by the join key into the session warehouse,
      // then joined — with matching bucket counts SortMergeJoin reads
      // co-located buckets with NO shuffle on either side
      // (BucketedJoinSpec pins the exchange-free plan). The write is part
      // of the query on purpose: at 100 TB the bucketed materialization
      // is the amortized one-time cost that removes the join shuffle
      // from every downstream run against the fact table.
      // a FRESH session's in-memory catalog does not own a leftover
      // warehouse directory from a previous run, and saveAsTable then
      // refuses the location — drop the table AND clear the location so
      // the query is self-healing across driver sessions
      def freshTable(name: String)(write: String => Unit): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $name")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), name)
        loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
        write(name)
      }
      val o = table(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
      val c = table(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      freshTable("graft_bkt_orders")(o.write.format("parquet")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(_))
      freshTable("graft_bkt_customer")(c.write.format("parquet")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(_))
      s.table("graft_bkt_orders")
        .join(s.table("graft_bkt_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("c_mktsegment")
    }),

    "w3_topk_per_group" -> ((s, dir) => {
      // top-5 orders by price per priority via the bounded-heap TopK
      // Aggregator: the partial aggregate carries AT MOST 5 rows per
      // (task, group) through the shuffle — the window formulation the
      // oracle uses must shuffle and per-group-sort EVERY row. O(n log k)
      // and memory-bounded vs the window's O(n log n); at 100 TB that is
      // a top-5 query vs a global sort. TopKSpec pins window equality
      // and partition-shape independence.
      val tk = udaf(new graft.functions.TopK(5),
        org.apache.spark.sql.Encoders.product[graft.functions.Scored])
      table(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(tk(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("o_orderkey"),
          round(col("col.score") + lit(5e-10), 6).as("price"))
        .orderBy("o_orderpriority", "rank")
    }),
    "o2_zorder_cells" -> ((s, dir) => {
      // Z-order layout audit: bucket orders into a 256x256 (custkey,
      // orderkey) grid, compute the Morton key, and report each
      // 16x16-tile z-cell's row count and PER-DIMENSION min/max. The
      // tight two-dimensional bounds per cell ARE the data-skipping
      // property a z-ordered file layout delivers (writeZOrdered's
      // file-level parquet stats; SinksSpec pins the file-stats side) —
      // and the key is exact integer bit math DuckDB replays verbatim.
      val orders = table(s, dir, "orders")
        .select(pmod(col("o_custkey"), lit(256L)).as("x"),
          pmod(col("o_orderkey"), lit(256L)).as("y"))
      orders
        .select(graft.sources.Sinks.zorderKey(Seq(col("x"), col("y")), 8).as("zkey"),
          col("x"), col("y"))
        .groupBy(shiftright(col("zkey"), 8).as("zcell"))
        .agg(count(lit(1)).as("n"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("zcell")
    }),
    "o3_text_formats" -> ((s, dir) => {
      // JSON-lines + CSV sink/source round-trip — the ingest/egress
      // text formats: the click events land as both, read back under
      // EXPLICIT schemas (no inference scan — at 100 TB schema
      // inference is a full extra pass), and the same daily aggregate
      // runs on each. Doubles survive the text round-trip exactly
      // (Spark writes shortest-round-trip representations), timestamps
      // travel as preformatted strings so no parser/timezone semantics
      // enter the comparison. The oracle computes the aggregate straight
      // from the parquet — a mismatch on either format row means that
      // format's writer or reader changed a value.
      val base = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_text_events").toString
      val src = Util.events(s, dir).filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
        .repartition(4)
      src.write.mode("overwrite").json(s"$base/json")
      src.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
      val schema = "event_id LONG, user_id LONG, value DOUBLE, ts_s STRING"
      def daily(df: DataFrame, fmt: String): DataFrame =
        df.groupBy(substring(col("ts_s"), 1, 10).as("day"))
          .agg(count(lit(1)).as("n"),
            round(sum("value") + lit(5e-10), 6).as("sum_value"))
          .withColumn("fmt", lit(fmt))
      daily(s.read.schema(schema).json(s"$base/json"), "json")
        .unionByName(daily(
          s.read.option("header", "true").schema(schema).csv(s"$base/csv"), "csv"))
        .select(col("fmt"), col("day"), col("n"), col("sum_value"))
        .orderBy("fmt", "day")
    }),
    "o1_partition_prune" -> ((s, dir) => {
      // Hive-layout partitioned sink + directory-pruned scan: events
      // land partitioned by event_type (pre-shuffled -> one file per
      // value, no small-files fanout), and the read-back filters on the
      // partition column, so the scan's PartitionFilters drop every
      // non-error directory before opening a single row group — the
      // layout that turns a 100 TB full scan into a one-partition read.
      val path = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_part_events").toString
      graft.sources.Sinks.writePartitioned(
        Util.events(s, dir).select(col("event_id"), col("ts"),
          col("value"), col("event_type")),
        path, Seq("event_type"))
      s.read.parquet(path).filter(col("event_type") === "error")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")) + lit(5e-10), 6).as("sum_value"))
        .orderBy("day")
    }),

    "o7_compaction" -> ((s, dir) => {
      // small-file compaction: orders planted as 64 undersized shards,
      // rewritten to ceil(bytes/target) files via a shuffle-free
      // coalesce; the read-back aggregate must equal the source table's
      // (content preservation IS the oracle; file counts are
      // size-dependent and spec-pinned in SinksSpec instead). Decimal
      // sums — the u6 precedent — so combination order cannot drift.
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val frag = new org.apache.hadoop.fs.Path(wh, "graft_frag_orders").toString
      val packed = new org.apache.hadoop.fs.Path(wh, "graft_compact_orders").toString
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .repartition(64).write.mode("overwrite").parquet(frag)
      graft.sources.Sinks.compact(s, frag, packed, targetFileBytes = 4L << 20)
      s.read.parquet(packed)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("sum_price"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderpriority")
    }),

    "o12_compact_pruned_read" -> ((s, dir) => {
      // the lakehouse loop CLOSED (round 12): audited fragmented ingest
      // (quality gate + stats) -> compaction TRANSACTION (overwrite
      // version, range-clustered on the prune key, stats republished)
      // -> stats-pruned read of the bottom key decile. The aggregate
      // hash-matches the source table under the same filter, and the
      // in-plan booleans pin that compaction shrank the file count AND
      // that the pruned read actually skipped files — a compaction that
      // lost rows, stats that went stale, or pruning that kept
      // everything each break a column.
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val t = new org.apache.hadoop.fs.Path(wh, "graft_compact_loop_orders").toString
      val fs0 = new org.apache.hadoop.fs.Path(t).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs0.delete(new org.apache.hadoop.fs.Path(t), true) // fresh table per run
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      graft.ops.Quality.auditedCommitWithStats(o.repartition(64), t,
        Seq(graft.ops.Quality.NotNull("o_orderkey"),
          graft.ops.Quality.MatchesRegex("o_orderpriority", "^[1-5]-")),
        statsCols = Seq("o_orderkey"))
      val (_, nBefore, nAfter) = graft.sources.FileSkipping.compactTable(
        s, t, Seq("o_orderkey"), clusterBy = Seq("o_orderkey"),
        targetFiles = Some(8))
      val maxKey = o.agg(max("o_orderkey")).head().getLong(0)
      val (pruned, rep) = graft.sources.FileSkipping.readBetween(
        s, t, "o_orderkey", 0L, maxKey / 10)
      pruned.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("sum_price"),
          max(col("o_orderkey")).as("max_key"))
        .withColumn("compacted", lit(nBefore > nAfter))
        .withColumn("files_pruned", lit(rep.filesKept < rep.filesTotal))
        .orderBy("o_orderpriority")
    }),

    "o14_table_history" -> ((s, dir) => {
      // time-travel history report: plant append/append/overwrite, then
      // one row per surviving version — (version, mode, rows, mass) —
      // every version's content a derivable orders slice, so the oracle
      // pins the WHOLE history, not just the latest snapshot
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val t = new org.apache.hadoop.fs.Path(wh, "graft_history_orders").toString
      val fs0 = new org.apache.hadoop.fs.Path(t).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs0.delete(new org.apache.hadoop.fs.Path(t), true)
      val o = table(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 2 === 0), t)
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 2 === 1), t)
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 5 === 0), t,
        mode = "overwrite")
      graft.sources.VersionedTable.versions(s, t).map { case (v, mode) =>
        graft.sources.VersionedTable.read(s, t, version = Some(v))
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              + lit(5e-10), 6).as("sum_price"))
          .select(lit(v).as("version"), lit(mode).as("mode"),
            col("n_rows"), col("sum_price"))
      }.reduce(_ unionByName _).orderBy("version")
    }),
    "o15_jsonl_export" -> ((s, dir) => {
      // the "export for training" handoff CLOSED: documents land as
      // token-budgeted JSONL shards (one file per shard, budget =
      // max(2000, total div 64) so the layout scales with the corpus),
      // the per-shard census registers as a VersionedTable manifest,
      // and the output is the census of the RE-READ JSONL with tokens
      // RECOMPUTED from the round-tripped text — a lost document, a
      // mangled escape, a drifted shard boundary, a stale manifest, or
      // a shard split across files each break a column
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .filter(col("text").isNotNull)
        .withColumn("n_tok", size(TextAnalysis.tokens(col("text"))).cast("long"))
      jsonlExportCensus(s, d, "graft_export_jsonl", "graft_export_manifest")
    }),
    "o13_zero_copy_clone" -> ((s, dir) => {
      // shallow clone: v1+v2 of the source, clone (manifest-only, no
      // data copied), diverge the clone with a third slice — the clone
      // reads all three while the source still reads two, which only
      // holds if the absolute-path manifest resolves the SHARED files
      // and the divergence stayed private
      val wh = s.conf.get("spark.sql.warehouse.dir")
      def pth(n: String) = new org.apache.hadoop.fs.Path(wh, n).toString
      val fs0 = new org.apache.hadoop.fs.Path(wh).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      val src = pth("graft_clone_src"); val tgt = pth("graft_clone_tgt")
      fs0.delete(new org.apache.hadoop.fs.Path(src), true)
      fs0.delete(new org.apache.hadoop.fs.Path(tgt), true)
      val o = table(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 3 === 0), src)
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 3 === 1), src)
      graft.sources.VersionedTable.cloneTable(s, src, tgt)
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 3 === 2), tgt)
      val srcR = graft.sources.VersionedTable.read(s, src)
        .agg(count(lit(1)).as("src_rows"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("src_sum"))
      val tgtR = graft.sources.VersionedTable.read(s, tgt)
        .agg(count(lit(1)).as("clone_rows"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("clone_sum"))
      srcR.crossJoin(broadcast(tgtR))
    }),
    "o8_versioned_table" -> ((s, dir) => {
      // snapshot-versioned table: v1 = even orderkeys, v2 = append the
      // odd ones, v3 = overwrite with a decoy slice; the query reads v2
      // BY VERSION NUMBER after v3 landed, so the aggregate equals the
      // full source table only if append accumulation, manifest
      // isolation, and time travel all hold. Decimal sums (u6 precedent).
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val t = new org.apache.hadoop.fs.Path(wh, "graft_versioned_orders").toString
      val fs0 = new org.apache.hadoop.fs.Path(t).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs0.delete(new org.apache.hadoop.fs.Path(t), true) // fresh table per run
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 2 === 0), t)
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 2 === 1), t)
      graft.sources.VersionedTable.commit(o.limit(10), t, mode = "overwrite")
      graft.sources.VersionedTable.read(s, t, version = Some(2L))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("sum_price"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderpriority")
    }),

    "o16_bloom_pruned_read" -> ((s, dir) => {
      // per-file Bloom index: point lookup on a key the layout is NOT
      // clustered by (files range-partitioned on totalprice, so key
      // min/max spans everything and only the bloom can prune); blooms
      // build distributed in one scan (mergeable BloomFilterAggregate
      // per file), sized from the row count so fpp holds at any scale.
      // The require pins the prune property; rows are the oracle.
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val t = new org.apache.hadoop.fs.Path(wh, "graft_bloom_orders").toString
      val fs0 = new org.apache.hadoop.fs.Path(t).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs0.delete(new org.apache.hadoop.fs.Path(t), true)
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .repartitionByRange(8, col("o_totalprice"))
      graft.sources.FileSkipping.commitWithBloom(o, t, Seq("o_orderkey"))
      val probe = table(s, dir, "orders")
        .agg(min(col("o_orderkey"))).head().getLong(0)
      val (pruned, rep) = graft.sources.FileSkipping.readEquals(
        s, t, "o_orderkey", probe)
      require(rep.filesKept < rep.filesTotal,
        s"bloom pruning opened all ${rep.filesTotal} files — the index broke")
      require(rep.filesKept >= 1, "bloom pruned the file holding the key")
      pruned.select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .orderBy("o_orderkey")
    }),
    "o9_stats_pruned_read" -> ((s, dir) => {
      // file-level min/max data skipping over a versioned table: commit
      // orders range-partitioned by o_orderkey (disjoint per-file key
      // ranges — the layout sorted/z-ordered writes produce), record
      // parquet-FOOTER stats per file at commit time (metadata-only, no
      // row data read), then answer a narrow between() by opening ONLY
      // the files whose [min,max] intersects it. The require makes the
      // query self-checking for the prune property at every scale; the
      // row-level gate is the oracle (plain full-scan filter).
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val t = new org.apache.hadoop.fs.Path(wh, "graft_pruned_orders").toString
      val fs0 = new org.apache.hadoop.fs.Path(t).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs0.delete(new org.apache.hadoop.fs.Path(t), true) // fresh table per run
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .repartitionByRange(8, col("o_orderkey"))
      graft.sources.FileSkipping.commitWithStats(o, t, Seq("o_orderkey"))
      val (pruned, rep) = graft.sources.FileSkipping.readBetween(
        s, t, "o_orderkey", 1000L, 2500L)
      require(rep.filesKept < rep.filesTotal,
        s"stats pruning opened all ${rep.filesTotal} files — skipping broke")
      pruned.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    "o10_zorder_pruned_read" -> ((s, dir) => {
      // the full 2-D data-skipping stack: a z-ordered layout (each file
      // a Morton TILE with tight min/max on BOTH dimensions at once)
      // committed with footer stats, then a conjunctive 2-D range read
      // that opens only the tiles both predicates can touch. A sorted
      // layout prunes one dimension; this prunes both from the same
      // stats — the o2 key + o9 stats composed into the read path.
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val t = new org.apache.hadoop.fs.Path(wh, "graft_zorder_orders").toString
      val fs0 = new org.apache.hadoop.fs.Path(t).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs0.delete(new org.apache.hadoop.fs.Path(t), true) // fresh table per run
      val o = table(s, dir, "orders").select(
        col("o_orderkey"), col("o_totalprice"),
        (col("o_orderkey") % 64).as("d1"),
        (col("o_custkey") % 64).as("d2"))
      val arranged = o
        .withColumn("__z", graft.sources.Sinks.zorderKey(Seq(col("d1"), col("d2")), 6))
        .repartitionByRange(16, col("__z"))
        .sortWithinPartitions("__z").drop("__z")
      graft.sources.FileSkipping.commitWithStats(arranged, t, Seq("d1", "d2"))
      val (pruned, rep) = graft.sources.FileSkipping.readWhere(
        s, t, Seq(("d1", 3L, 5L), ("d2", 10L, 20L)))
      require(rep.filesKept < rep.filesTotal,
        s"z-order 2-D pruning opened all ${rep.filesTotal} files — skipping broke")
      pruned.agg(count(lit(1)).as("n"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          + lit(5e-10), 6).as("sum_price"))
    }),

    // ---- lakehouse mutation: CDC upsert + SCD2 history -----------------
    "u2_upsert" -> ((s, dir) => {
      // MERGE INTO shape: orders replayed as a change stream against the
      // customer snapshot — every ~10th change is a delete, every ~97th
      // targets a brand-new key (exercising the insert branch), latest
      // change per key wins by (o_orderdate, o_orderkey). Latest-per-key
      // is one map-side-combinable max_by; one key-hash join applies it.
      val snap = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val ch = table(s, dir, "orders").select(
        when(col("o_orderkey") % 97 === 0, col("o_custkey") + lit(1000000L))
          .otherwise(col("o_custkey")).as("c_custkey"),
        when(col("o_orderkey") % 10 === 0, lit("delete"))
          .otherwise(lit("upsert")).as("op"),
        col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice").as("c_acctbal"))
      graft.Util.roundDoubles(
          Merge.applyChangelog(snap, ch, "c_custkey", "op",
            Seq("o_orderdate", "o_orderkey"), Seq("c_acctbal"), tagCol = Some("src")))
        .orderBy("c_custkey")
    }),
    "u3_scd2" -> ((s, dir) => {
      // SCD type-2 dimension build from the same change stream: 1-based
      // version per key plus a [valid_from, valid_to) interval, open on
      // the current version. One window = one key-hash exchange.
      val ch = table(s, dir, "orders").select(
        col("o_custkey").as("c_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice").as("bal"))
      graft.Util.roundDoubles(
          Merge.scd2(ch, "c_custkey", "o_orderdate",
            Seq("o_orderdate", "o_orderkey"), Seq("bal")))
        .select(col("c_custkey"), col("version"), col("bal"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"))
        .orderBy("c_custkey", "version")
    }),
    "u5_snapshot_diff" -> ((s, dir) => {
      // migration-validation diff: two synthetic snapshots of orders
      // (key-filtered, every 3rd price bumped x1.1) through the one-join
      // full-outer classifier. Every arithmetic input is the identical
      // double in both engines, so added/removed/changed/unchanged
      // assignment is exact.
      val src = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val before = src.filter(col("o_orderkey") % 7 =!= 0)
      val after = src.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")))
      Merge.snapshotDiff(before, after, "o_orderkey",
          Seq("o_totalprice", "o_orderstatus"))
        .select(col("o_orderkey"), col("diff_class"),
          round(col("before_o_totalprice") + lit(5e-10), 6).as("before_price"),
          round(col("after_o_totalprice") + lit(5e-10), 6).as("after_price"),
          col("before_o_orderstatus").as("before_status"),
          col("after_o_orderstatus").as("after_status"))
        .orderBy("o_orderkey")
    }),
    "a10_anomaly" -> ((s, dir) => {
      // rolling z-score outlier detection over hourly event counts —
      // the shared rollingZAnomalies read-out (exact-long window
      // moments, self-excluding frame, <12-prior-hours skip), which
      // reads hourly counts merged batch by batch with mergeAggState
      // identically (spec-pinned in EventPipelineSpec).
      val hourly = Util.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      EventPipeline.rollingZAnomalies(hourly)
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("h"),
          col("n"), round(col("z") + lit(5e-10), 6).as("z"))
        .orderBy("event_type", "h")
    }),

    // ---- graph primitives ----------------------------------------------
    "g1_triangles" -> ((s, dir) => {
      // per-node triangle counts over a planted doc-adjacency graph:
      // chain edges (i, i+1) for every doc, chords (i, i+2) at i%3==0
      // and i%5==0 (overlapping at i%15==0 — exercises the canonical
      // dedup), and (i, i+4) at i%7==0 (edges that close NO triangle —
      // must contribute nothing). Triangles {i, i+1, i+2} appear exactly
      // at the chord positions; the oracle replays the generation and
      // counts via the three-way a<b<c join.
      Graph.triangleCounts(plantedDocGraph(s, dir)).orderBy("node")
    }),
    "g11_clustering_coeff" -> ((s, dir) => {
      // per-degree local-clustering report over the g1 planted graph:
      // within a degree class the coefficient denominator d(d-1) is
      // constant, so the class average folds EXACTLY as
      // 2*sum_triangles / (n_nodes*d*(d-1)) — one double division per
      // output row off exact longs, no float accumulation to drift
      val byDeg = Graph.clusteringCoefficients(plantedDocGraph(s, dir))
        .groupBy("deg")
        .agg(count(lit(1)).as("n_nodes"), sum("n_triangles").as("n_triangles"))
      byDeg.select(col("deg"), col("n_nodes"), col("n_triangles"),
          round(when(col("deg") > 1,
            col("n_triangles").cast("double") * 2.0 /
              (col("n_nodes") * col("deg") * (col("deg") - 1)).cast("double"))
            .otherwise(lit(0.0)) + lit(5e-10), 6).as("avg_coeff"))
        .orderBy("deg")
    }),
    "g2_pagerank" -> ((s, dir) => {
      // 5-iteration PageRank over a deterministic order-derived directed
      // graph (src = customer, dst folded from custkey+orderkey; edges to
      // non-source targets drop their mass — the documented edges-only
      // formulation both engines share). Top-20 by ROUNDED rank with id
      // tiebreak, so a sub-1e-6 float divergence cannot flip the cut.
      val e = table(s, dir, "orders").select(col("o_custkey").as("src"),
        ((col("o_custkey") + col("o_orderkey")) % 1000).as("dst"))
      Graph.pageRank(e, iters = 5)
        .select(col("node"), round(col("rank") + lit(5e-10), 6).as("rank"))
        .orderBy(col("rank").desc, col("node")).limit(20)
    }),

    "g13_harmonic_centrality" -> ((s, dir) => {
      // landmark harmonic centrality over the g4 block-chain graph,
      // seeds dense enough (id%29==0) that blocks carry 2+ landmarks
      // and the 1/d sum actually sums; chain distance is |node - seed|
      // within the 50-block, so the oracle replays in closed form
      val edges = docs(s, dir).select(col("doc_id").as("i"))
        .filter(col("i") % 50 =!= 49)
        .select(col("i").as("src"), (col("i") + 1).as("dst"))
      val canonical = Graph.canonicalEdges(edges, "src", "dst")
      val seeds = canonical
        .select(explode(array(col("a"), col("b"))).as("node")).distinct()
        .filter(col("node") % 29 === 0)
      Graph.harmonicCentrality(canonical, seeds, maxHops = 6)
        .select(col("node"), col("n_seeds_reached"),
          round(col("harmonic") + lit(5e-10), 6).as("harmonic"))
        .orderBy("node")
    }),
    "g4_shortest_paths" -> ((s, dir) => {
      // multi-source BFS over g3's block-chain graph (components = 50-id
      // blocks): seeds at id%97==0, hop cap 6. Chain distance is plain
      // |node - seed| within the block, so the oracle needs no graph
      // walk — min over same-block seeds, capped at 6.
      val edges = docs(s, dir).select(col("doc_id").as("i"))
        .filter(col("i") % 50 =!= 49)
        .select(col("i").as("src"), (col("i") + 1).as("dst"))
      val canonical = Graph.canonicalEdges(edges, "src", "dst")
      val seeds = canonical
        .select(explode(array(col("a"), col("b"))).as("node")).distinct()
        .filter(col("node") % 97 === 0)
      Graph.shortestPaths(canonical, seeds, maxHops = 6)
        .orderBy("node")
    }),

    "s7_knn_graph" -> ((s, dir) =>
      // kNN-graph over the embedding corpus: top-3 bucket-mates per
      // vector via the bounded TopK aggregator (shuffle carries <= 3
      // rows per (partition, src)); bucket + cosine math shared with
      // the oracle-green d5 path
      Similarity.knnGraph(table(s, dir, "embeddings"), "vec_id", "embedding", k = 3)
        .select(col("src"), col("rank"), col("dst"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("src", "rank")),

    "s18_label_disagreement" -> ((s, dir) =>
      // mislabel screen: points whose s7 kNN neighbors mostly carry a
      // DIFFERENT label, ranked for review — the label joins touch ids
      // only (vectors never reshuffle), the census is <= corpus
      // (src, label, n_label) triples, majority neighbor label via the
      // c3b (count, label-string) struct-max convention
      Similarity.labelDisagreement(table(s, dir, "embeddings"),
          "vec_id", "embedding", "label", k = 3)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("n_neighbors"), col("n_disagree"),
          round(col("disagreement") + lit(5e-10), 6).as("disagreement"),
          col("top_neighbor_label").cast("long").as("top_neighbor_label"))
        .orderBy("vec_id")),
    "s19_knn_margin" -> ((s, dir) =>
      // mined-pair confidence filter: top-1 cosine against the mean of
      // ranks 2..3 (the margin criterion) — the s7 kNN graph plus one
      // census-sized aggregate; k = 3 keeps the "rest" mean at <= 2
      // terms, so its summation order cannot differ across engines
      Similarity.knnMargin(table(s, dir, "embeddings"),
          "vec_id", "embedding", k = 3)
        .select(col("vec_id"), col("n_neighbors"),
          round(col("cos_top1") + lit(5e-10), 6).as("cos_top1"),
          round(col("mean_rest") + lit(5e-10), 6).as("mean_rest"),
          round(col("margin") + lit(5e-10), 6).as("margin"))
        .orderBy("vec_id")),

    "e15_retention_cohorts" -> ((s, dir) => {
      // cohort retention grid — the shared retentionGrid read-out
      // (first-seen via mergeable min, activity via distinct
      // (user, day), one user-key join; exact-long rate), which reads
      // (user_id, d) counts merged batch by batch with mergeAggState
      // identically (spec-pinned in EventPipelineSpec).
      // Capped at offsets 0-7 to keep output cardinality fixed.
      val ev = Util.events(s, dir).select(col("user_id"), to_date(col("ts")).as("d"))
      EventPipeline.retentionGrid(ev, maxOffset = 7)
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"), col("n_active"),
          round(col("retention") + lit(5e-10), 6).as("retention"))
        .orderBy("cohort_day", "day_offset")
    }),

    "e13_session_window" -> ((s, dir) =>
      // Spark's NATIVE session_window operator (dynamic-gap session
      // aggregation; e2 covers the gaps-and-islands formulation of the
      // same semantics): sessions merge while the gap is < 30 min, the
      // window end is last event + gap. One user_id+session exchange;
      // works identically on a stream (watermark attaches there).
      Util.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value") + lit(5e-10), 6).as("sum_value"))
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
          date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "s_start")),

    "c5_curation_v3" -> ((s, dir) => {
      // end-to-end composite of the wave-3/4 operators: the d13 planted
      // near-dup corpus → KEEP-BEST canonical per cluster (longest, tie
      // min id) → blocklist gate (≤1 'spark' hit) → length gate
      // (≥20 tokens) → per-language report carrying the absorbed
      // cluster mass. Every stage is an individually oracle-verified
      // operator; the oracle composes their verified CTE shapes.
      val corpus = plantedNearDupDocs(s, dir)
      val surv = Dedup.canonicalPerCluster(corpus, "doc_id", "text",
        prefer = length(col("text")), threshold = 1.0)
      surv.select(col("doc_id"), col("cluster_size"),
          size(TextAnalysis.tokens(lower(col("text")))).as("n_tok"),
          TextAnalysis.blocklistHits(col("text"), Seq("spark")).as("n_blocked"))
        .filter(col("n_blocked") <= 1 && col("n_tok") >= 20)
        .join(table(s, dir, "documents").select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("cluster_size").as("mass"),
          sum("n_tok").cast("long").as("n_tokens"),
          round(avg(col("n_blocked")) + lit(5e-10), 6).as("mean_blocked"))
        .orderBy("lang")
    }),

    "s11_ivf_pq_rerank" -> ((s, dir) => {
      // s10's planted IVF-PQ stack + the exact-rerank tail: the ADC
      // shortlist (50) is re-scored with exact squared L2 on the
      // original vectors — the production recall-repair step, every
      // stage still closed-form and replayed by the oracle
      val e = table(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      def collectVecs(lo: Int, hi: Int): Seq[Seq[Double]] =
        e.filter(col("vec_id") >= lo && col("vec_id") < hi).orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0)).toSeq
      val cbSrc = collectVecs(0, 16)
      val codebooks = (0 until 8).map(sub =>
        cbSrc.map(v => v.slice(sub * 8, (sub + 1) * 8)))
      val coarse = collectVecs(16, 32)
      val query = e.filter(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      Pq.searchIvfPqReranked(e, "vec_id", "embedding", query, coarse, codebooks,
          k = 10, kShortlist = 50, nprobe = 4)
        .select(col("vec_id"),
          round(col("exact_dist") + lit(5e-10), 6).as("exact_dist"))
        .orderBy("exact_dist", "vec_id")
    }),
    "s10_ivf_pq" -> ((s, dir) => {
      // the full billion-scale ANN layout, oracle-checked end to end
      // with PLANTED stages: coarse centroids = vectors 16..31, PQ
      // codebooks = subvector slices of vectors 0..15 (both
      // aggregate-sized collects), query = vector 7, nprobe 4 of 16
      // lists. The scan side reads the pruned lists' m-int codes only;
      // training both stages stays spec-pinned (PqSpec / c3).
      val e = table(s, dir, "embeddings")
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      def collectVecs(lo: Int, hi: Int): Seq[Seq[Double]] =
        e.filter(col("vec_id") >= lo && col("vec_id") < hi).orderBy("vec_id")
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0)).toSeq
      val cbSrc = collectVecs(0, 16)
      val dsub = 8
      val codebooks = (0 until 8).map(sub =>
        cbSrc.map(v => v.slice(sub * dsub, (sub + 1) * dsub)))
      val coarse = collectVecs(16, 32)
      val query = e.filter(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val enc = Pq.encodeIvfPq(e, "vec_id", "embedding", coarse, codebooks)
      Pq.searchIvfPq(enc, "vec_id", query, coarse, codebooks, k = 10, nprobe = 4)
        .select(col("vec_id"), col("list").cast("long").as("list"),
          round(col("adc") + lit(5e-10), 6).as("adc"))
        .orderBy("adc", "vec_id")
    }),
    "s9_standardize" -> ((s, dir) => {
      // per-dimension feature standardization: z = (v - mean)/std from
      // one melt aggregate, applied via a broadcast 1-row (means, stds)
      // pack — zero corpus shuffle for the transform. The report pins
      // BOTH the moments and the transform: after-stats must read
      // (0, 1) per dimension to 6 decimals, which only holds if every
      // z value was computed from the right per-dim constants.
      val z = Similarity.standardize(table(s, dir, "embeddings"),
        "embedding", "z")
      val before = table(s, dir, "embeddings")
        .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
        .groupBy("dim").agg(
          round(avg(col("v")) + lit(5e-10), 6).as("mean_d"),
          round(stddev_samp(col("v")) + lit(5e-10), 6).as("std_d"))
      val after = z.select(posexplode(col("z")).as(Seq("dim", "zv")))
        .groupBy("dim").agg(
          round(avg(col("zv")) + lit(5e-10), 6).as("mean_z"),
          round(stddev_samp(col("zv")) + lit(5e-10), 6).as("std_z"))
      before.join(after, Seq("dim")).orderBy("dim")
    }),

    "s8_knn_reranked" -> ((s, dir) =>
      // shrink-then-rerank: candidates bucketed on the 8-dim JL
      // projection (s6's seeded planes), ranked by FULL 64-dim cosine —
      // the production two-stage; recall is projection-bucket-local,
      // precision is exact
      Similarity.knnGraphReranked(table(s, dir, "embeddings"),
          "vec_id", "embedding", k = 3)
        .select(col("src"), col("rank"), col("dst"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("src", "rank")),

    "g6_kcore" -> ((s, dir) => {
      // fixed-round 2-core peeling on a mixed planted graph: even
      // blocks are chain+skip bands (a stable 2-core), odd blocks are
      // bare chains (peel 1 node per end per round) — 3 rounds leave
      // the bands whole and the chains 3 shorter at each end, and the
      // oracle replays each round's degree census + semi-joins
      val ids = docs(s, dir).select(col("doc_id").as("i"))
      val chain = ids.filter(col("i") % 50 =!= 49)
        .select(col("i").as("id_a"), (col("i") + 1).as("id_b"))
      val band = ids.filter(col("i") % 50 < 48 &&
          floor(col("i") / 50).cast("long") % 2 === 0)
        .select(col("i").as("id_a"), (col("i") + 2).as("id_b"))
      Graph.kCore(chain.union(band), k = 2, rounds = 3)
        .groupBy(floor(col("id") / 50).cast("long").as("block"))
        .agg(count(lit(1)).as("n_nodes"), sum("degree").as("total_degree"))
        .orderBy("block")
    }),
    "g7_adamic_adar" -> ((s, dir) => {
      // link prediction on the full chain+skip band graph: every
      // non-adjacent two-hop pair scored by its common neighbors
      val ids = docs(s, dir).select(col("doc_id").as("i"))
      val chain = ids.filter(col("i") % 50 =!= 49)
        .select(col("i").as("id_a"), (col("i") + 1).as("id_b"))
      val band = ids.filter(col("i") % 50 < 48)
        .select(col("i").as("id_a"), (col("i") + 2).as("id_b"))
      Graph.adamicAdar(chain.union(band), maxDegree = 64)
        .select(col("id_a"), col("id_b"), col("n_common"),
          round(col("aa_score") + lit(5e-10), 6).as("aa_score"))
        .orderBy("id_a", "id_b")
    }),
    "g9_jaccard_links" -> ((s, dir) => {
      // normalized link prediction on the g7 graph: wedge census for
      // the overlap, inclusion-exclusion union off the two UNCAPPED
      // endpoint degrees, existing edges anti-joined away
      val ids = docs(s, dir).select(col("doc_id").as("i"))
      val chain = ids.filter(col("i") % 50 =!= 49)
        .select(col("i").as("id_a"), (col("i") + 1).as("id_b"))
      val band = ids.filter(col("i") % 50 < 48)
        .select(col("i").as("id_a"), (col("i") + 2).as("id_b"))
      Graph.jaccardScores(chain.union(band), maxDegree = 64)
        .select(col("id_a"), col("id_b"), col("n_common"),
          col("deg_a"), col("deg_b"),
          round(col("jaccard") + lit(5e-10), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    "g8_hits" -> ((s, dir) => {
      // hubs/authorities on a directed planted graph: chain i -> i+1
      // inside each 50-block plus every node pointing at its block
      // start — block starts become the authorities. 2 raw-integer
      // rounds (normalization factors out of the power iteration), so
      // the block census AND the argmax authority node are exact; the
      // divisions by the L1 totals are single integer-ratio doubles
      val ids = docs(s, dir).select(col("doc_id").as("i"))
      val chain = ids.filter(col("i") % 50 =!= 49)
        .select(col("i").as("src"), (col("i") + 1).as("dst"))
      val toStart = ids.filter(col("i") % 50 =!= 0)
        .select(col("i").as("src"), (col("i") - col("i") % 50).as("dst"))
      Graph.hits(chain.union(toStart), iters = 2)
        .groupBy((col("node") - col("node") % 50).as("block"))
        .agg(count(lit(1)).as("n_nodes"),
          max_by(col("node"), struct(col("authority"), -col("node"))).as("top_auth_node"),
          round(max(col("authority")) + lit(5e-10), 6).as("max_authority"),
          round(sum(col("authority")) + lit(5e-10), 6).as("sum_authority"),
          round(sum(col("hub")) + lit(5e-10), 6).as("sum_hub"))
      .orderBy("block")
    }),
    "g5_label_propagation" -> ((s, dir) => {
      // community detection on the g3 chain-block graph: 2 synchronous
      // LPA rounds, every step deterministic (mode with smallest-label
      // ties), so the oracle replays both rounds join-for-join
      val edges = docs(s, dir).select(col("doc_id").as("i"))
        .filter(col("i") % 50 =!= 49)
        .select(col("i").as("id_a"), (col("i") + 1).as("id_b"))
      Graph.labelPropagation(edges, iters = 2)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("size"), min("id").as("min_id"), max("id").as("max_id"))
        .orderBy("community")
    }),
    "g3_components" -> ((s, dir) => {
      // DIRECT oracle coverage for connectedComponents (d6/d13 exercise
      // it only through the dedup pipelines): chain edges (i, i+1)
      // broken at every block boundary (i % 50 == 49), so components
      // are exactly the 50-wide id blocks and min-label = block start —
      // SQL-derivable without any graph walk. Census output (component,
      // size, max id) pins label assignment AND membership.
      val edges = docs(s, dir).select(col("doc_id").as("i"))
        .filter(col("i") % 50 =!= 49)
        .select(col("i").as("id_a"), (col("i") + 1).as("id_b"))
      Dedup.connectedComponents(edges)
        .groupBy("component")
        .agg(count(lit(1)).as("size"), max(col("id")).as("max_id"))
        .orderBy("component")
    }),

    // ---- full-text retrieval -------------------------------------------
    "x15_blocklist" -> ((s, dir) =>
      // C4-style blocklist gate: token-exact hit counts for a literal
      // blocklist + the 0/1 keep decision — one scan, zero shuffle
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.blocklistHits(col("text"),
            Seq("merge", "vector", "slow")).cast("long").as("n_blocked"),
          when(TextAnalysis.blocklistHits(col("text"),
            Seq("merge", "vector", "slow")) === 0, 1L).otherwise(0L).as("kept"))
        .orderBy("doc_id")),

    "x14_bm25" -> ((s, dir) =>
      // BM25 top-20 for a 3-term query: tf per term via in-row array
      // filters (no explode/shuffle), corpus stats (N, avgdl, df) as ONE
      // broadcast 1-row aggregate, top-k as TakeOrdered. All score
      // inputs are exact integers (tf, dl, df, N) plus avgdl (an exact
      // integer sum / count), so the double pipeline is deterministic
      // and the oracle spells the identical operation order.
      Search.bm25TopK(docs(s, dir), "doc_id", "text",
          Seq("vector", "hash", "merge"), k = 20)
        .select(col("doc_id"), col("dl"),
          round(col("score") + lit(5e-10), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))),

    // ---- quality-aware canonical dedup ---------------------------------
    "d13_cluster_canonical" -> ((s, dir) => {
      // the d6 planted corpus (equal-token near-dup 3-cliques), but the
      // survivor policy is KEEP-BEST (longest text, tie -> min id) — the
      // double/triple-space copies are LONGER than their donors, so the
      // winner differs from d6's min-id everywhere a clique exists, and
      // cluster_size pins the component membership itself under the hash
      // gate (d6 only checked the survivor set).
      val corpus = plantedNearDupDocs(s, dir)
      Dedup.canonicalPerCluster(corpus, "doc_id", "text",
          prefer = length(col("text")), threshold = 1.0)
        .select(col("doc_id"), col("cluster_size"))
        .orderBy("doc_id")
    }),
    "d13c_cluster_canonical_uncapped" -> ((s, dir) => {
      // d13's UNCAPPED contrast twin: maxBucketSize = 0 opts into the
      // quadratic pair path that the default 50-cap skips, so the record
      // measures capped vs uncapped instead of the same plan twice. At
      // gate scale no bucket exceeds 50, so the oracle is d13's verbatim
      // (hash-identical output); at sf10+ the replicated clusters reach
      // ~300/~900 docs and this twin alone pays the exponent-1.85
      // Σ size² pair growth.
      val corpus = plantedNearDupDocs(s, dir)
      Dedup.canonicalPerCluster(corpus, "doc_id", "text",
          prefer = length(col("text")), threshold = 1.0, maxBucketSize = 0)
        .select(col("doc_id"), col("cluster_size"))
        .orderBy("doc_id")
    }),

    // ---- time-series regularization ------------------------------------
    "e19_new_vs_returning" -> ((s, dir) => {
      // daily audience decomposition: each day's actives split into
      // first-ever-seen ("new") vs returning, plus the running total of
      // distinct users — the cumulative-distinct that has no direct
      // operator. Exact at any scale: first-seen day is ONE map-side-
      // combinable min per user; every window below runs on the
      // ~|days|-row census only, never on events
      val presence = Util.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val active = presence.groupBy("day").agg(count(lit(1)).as("active_users"))
      val firstSeen = presence.groupBy("user_id").agg(min("day").as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      active.join(firstSeen, Seq("day"), "left")
        .select(col("day"), col("active_users"),
          coalesce(col("new_users"), lit(0L)).as("new_users"))
        .withColumn("returning_users", col("active_users") - col("new_users"))
        .withColumn("cumulative_users", sum("new_users").over(w))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("active_users"), col("new_users"), col("returning_users"),
          col("cumulative_users"))
        .orderBy("day")
    }),
    "e12_gap_fill" -> ((s, dir) => {
      // resample events to a dense per-type hourly grid: planted holes
      // (hours 3/10/17 dropped) plus the corpus's natural gaps become
      // explicit rows with n=0 and a forward-filled last-observed value —
      // the shape every downstream window/anomaly consumer needs. The
      // grid explodes from the per-type min/max AGGREGATE (5 rows -> one
      // row per type-hour), never from raw events; the forward-fill
      // window runs over those bounded hourly rows, not the raw scan.
      import org.apache.spark.sql.expressions.Window
      val hourly = Util.events(s, dir)
        .filter(hour(col("ts")) % 7 =!= 3)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
      val grid = hourly.groupBy("event_type")
        .agg(min("h").as("lo"), max("h").as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
      val w = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("event_type", "h"), "left")
        .withColumn("__ff", last(col("avg_value"), ignoreNulls = true).over(w))
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("h"),
          coalesce(col("n"), lit(0L)).as("n"),
          round(col("avg_value") + lit(5e-10), 6).as("avg_value"),
          round(col("__ff") + lit(5e-10), 6).as("ff_value"))
        .orderBy("event_type", "h")
    }),

    "d16_containment" -> ((s, dir) => {
      // near-SUPERSET detection (quote/boilerplate wrapping — the Lee
      // et al. containment signal Jaccard misses): directional
      // |A∩B|/|A| over 3-gram shingle-hash sets on adjacent pairs.
      // Every id%5==0 doc is planted to CONTAIN its predecessor
      // verbatim, so containment_ab = 1.0 exactly there while jaccard
      // stays well below 1 — the asymmetry is the point.
      val d = docs(s, dir)
      val prev = d.select((col("doc_id") + 1).as("doc_id"), col("text").as("__prev"))
      val corpus = d.join(prev, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0 && col("__prev").isNotNull,
            concat(col("text"), lit(" "), col("__prev")))
            .otherwise(col("text")).as("text"))
      val withSh = corpus.select(col("doc_id"),
        graft.functions.HashFunctions.shingleHash(
          TextAnalysis.tokens(lower(col("text"))), 3).as("sh"))
      val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
      Dedup.adjacentPairs(withSh, "doc_id")
        .select(col("doc_id_a").as("id_a"), col("doc_id_b").as("id_b"),
          round(inter / greatest(size(col("sh_a")), lit(1)).cast("double"), 6).as("containment_ab"),
          round(inter / greatest(size(col("sh_b")), lit(1)).cast("double"), 6).as("containment_ba"))
        .orderBy("id_a")
    }),

    "u7b_incremental_distinct" -> ((s, dir) => {
      // incremental DISTINCT maintenance — the aggregate class u6's
      // sum/min/max combiners cannot express: per-segment HLL sketches
      // of the historical batch unioned with the delta batch's, exact
      // recompute riding alongside. DuckDB has no Spark-compatible HLL,
      // but the MERGED estimate's accuracy contract is SQL-derivable
      // (the a6b/m2b twin pattern): emit the exact census plus a
      // boolean "merged estimate within 5·rsd of exact" (lgConfigK=12
      // default → rsd ≈ 1.04/√4096 ≈ 1.6%); the oracle replays the
      // census and a literal TRUE. MergeSpec separately pins merged ==
      // whole-input sketch EXACTLY (register-wise max is associative).
      val o = table(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
        .join(table(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")), Seq("o_custkey"))
      def sk(df: DataFrame): DataFrame = df.groupBy("c_mktsegment")
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      Merge.mergeSketchState(
          sk(o.filter(col("o_orderkey") % 7 =!= 0)),
          sk(o.filter(col("o_orderkey") % 7 === 0)),
          Seq("c_mktsegment"), Seq("sk"))
        .select(col("c_mktsegment"), hll_sketch_estimate(col("sk")).as("__approx"))
        .join(o.groupBy("c_mktsegment")
          .agg(count_distinct(col("o_custkey")).as("exact_customers")), Seq("c_mktsegment"))
        .select(col("c_mktsegment"), col("exact_customers"),
          (abs(col("__approx") - col("exact_customers")).cast("double") <=
            lit(5 * 1.04 / math.sqrt(4096.0)) *
              col("exact_customers").cast("double")).as("within_bounds"))
        .orderBy("c_mktsegment")
    }),

    "u9_incremental_topk" -> ((s, dir) => {
      // heavy-hitter STATE maintenance: the historical batch's k-entry
      // Misra-Gries summary merges with the delta batch's driver-side
      // (MisraGries.mergeSummaries — Agarwal et al.'s rule, preserving
      // the N/(k+1) bound over the COMBINED stream), so the history is
      // never re-summarized. The merged candidates then take ONE exact
      // re-count + floor filter, which makes the output "exact counts
      // of all tokens above total/(k+1)" — deterministic and
      // SQL-derivable however the stream was batched (the x9 argument,
      // extended across batches; x9 uses k=50, this uses k=40 so the
      // two pin different floors).
      val k = 40
      val mg = udaf(new graft.functions.MisraGries(k),
        org.apache.spark.sql.Encoders.STRING)
      val tk = docs(s, dir).select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      def summary(df: DataFrame) =
        df.agg(mg(col("token")).as("sk"), count(lit(1)).as("n")).head()
      val hist = summary(tk.filter(col("doc_id") % 5 =!= 0))
      val delta = summary(tk.filter(col("doc_id") % 5 === 0))
      val merged = graft.functions.MisraGries.mergeSummaries(
        hist.getAs[scala.collection.Map[String, Long]]("sk").toMap,
        delta.getAs[scala.collection.Map[String, Long]]("sk").toMap, k)
      val total = hist.getAs[Long]("n") + delta.getAs[Long]("n")
      import s.implicits._
      val cand = merged.keys.toSeq.toDF("token")
      tk.join(broadcast(cand), Seq("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .filter(col("n") * (k + 1) > lit(total))
        .select(col("token"), col("n"),
          round(col("n").cast("double") / lit(total.toDouble), 6).as("share"))
        .orderBy(col("n").desc, col("token"))
    }),
    "d15_cross_corpus_dedup" -> ((s, dir) => {
      // dedup the [[newCrawl]] against the existing corpus: only its
      // fresh half survives. Threshold 1.0 => a new doc is dropped
      // iff its distinct shingle set EQUALS some ref doc's (the d6
      // equality argument), which the oracle derives with a set-key
      // anti-join — no LSH replay needed.
      val ref = docs(s, dir)
      Dedup.crossCorpusDedup(newCrawl(ref), ref, "doc_id", "text", threshold = 1.0)
        .select(col("doc_id")).orderBy("doc_id")
    }),
    "d15c_cross_corpus_uncapped" -> ((s, dir) => {
      // d15's UNCAPPED contrast twin (the d13c rationale): it opts INTO
      // the quadratic path with maxBucketSize = 0 so the 3-scale record
      // keeps measuring the capped-vs-uncapped contrast instead of the
      // same plan twice.
      // At gate scale no bucket exceeds 50 -> d15's oracle verbatim;
      // at the composed scales this twin alone pays the exponent-1.84
      // boundary-crossing pair growth the default path skips.
      val ref = docs(s, dir)
      Dedup.crossCorpusDedup(newCrawl(ref), ref, "doc_id", "text", threshold = 1.0,
          maxBucketSize = 0)
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // ---- crawl dedup by canonical URL ----------------------------------
    "d14_url_dedup" -> ((s, dir) => {
      // the same page reached four ways — case-varied host + default
      // port + tracking query (%4==0), trailing slash (%4==1), fragment
      // (%4==2) — must group under ONE canonical key; %4==3 is a
      // distinct host family that must NOT merge. Pure projection +
      // one key agg: the 100 TB crawl-dedup shape.
      docs(s, dir).select(col("doc_id"))
        .withColumn("url",
          when(col("doc_id") % 4 === 0,
            concat(lit("HTTPS://Site-"), col("doc_id") % 5,
              lit(".Example.org:443/p/"), col("doc_id") % 7, lit("?utm_source=x")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("https://site-"), col("doc_id") % 5,
              lit(".example.org/p/"), col("doc_id") % 7, lit("/")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("https://site-"), col("doc_id") % 5,
              lit(".example.org/p/"), col("doc_id") % 7, lit("#section-"), col("doc_id") % 3))
          .otherwise(
            concat(lit("http://other-"), col("doc_id") % 11,
              lit(".example.net:80/q/"), col("doc_id") % 13)))
        .withColumn("canonical_url", TextAnalysis.canonicalizeUrl(col("url")))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .orderBy("canonical_url")
    }),

    // ---- perceptual image hashing --------------------------------------
    "m6_phash_neardup" -> ((s, dir) => {
      // near-duplicate IMAGE detection by perceptual hash: every %10==5
      // doc plants TWO 8x8 BMPs — its own bytes (img_id 2i) and a
      // one-character-perturbed variant (img_id 2i+1, first byte 'Z') —
      // then the full pipeline runs: decode -> 8x8 box resample (exact
      // identity here) -> integer aHash -> banded hamming pairs. The
      // variant differs in ONE pixel's gray (plus the mean shift), so
      // most (2i, 2i+1) pairs land within hamming <= 3; the oracle
      // replays the byte math and brute-forces all pairs — equal by the
      // pigeonhole exactness of quarter banding at maxHamming 3, which
      // holds only while every quarter bucket has <= 256 rows (aHashPairs'
      // default maxBucketSize skips larger buckets; true at gate scale).
      val bmpHdr = lit(Multimodal.bmp24Header(8, 8))
      val base = docs(s, dir).filter(col("doc_id") % 10 === 5)
      val variants = base.select(explode(array(
          struct((col("doc_id") * 2).as("img_id"), col("text").as("t")),
          struct((col("doc_id") * 2 + 1).as("img_id"),
            concat(lit("Z"), substring(col("text"), 2, 191)).as("t")))).as("v"))
        .select(col("v.img_id").as("img_id"),
          concat(bmpHdr,
            substring(rpad(col("v.t"), 192, "x").cast("binary"), 1, 192)).as("payload"))
      Multimodal.aHashPairs(
          Multimodal.withImageAHash(variants, "payload"), "img_id", "ahash")
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    "m7_audio_fingerprint" -> ((s, dir) => {
      // audio near-dup detection over the REAL PCM decode: 65-sample
      // planted WAVs (the m5 byte transform), delta-contour fingerprint
      // (bit = sample louder than its predecessor — pure integer
      // comparisons), banded hamming pairs via the quarter-generic
      // aHashPairs. Each %10==0 doc plants an original and a
      // one-byte-perturbed variant (sample 5's low byte), which flips
      // at most delta bits 4 and 5 — every planted pair lands within
      // hamming <= 2 by construction; the oracle brute-forces all pairs,
      // equal to the banded join while every quarter bucket has <= 256
      // rows (aHashPairs' default maxBucketSize cap).
      val hdr = lit(Multimodal.wavPcm16Header(dataBytes = 130))
      val base = docs(s, dir).filter(col("doc_id") % 10 === 0)
      val variants = base.select(explode(array(
          struct((col("doc_id") * 2).as("clip_id"), col("text").as("t")),
          struct((col("doc_id") * 2 + 1).as("clip_id"),
            concat(substring(col("text"), 1, 10), lit("Z"),
              substring(col("text"), 12, 1000)).as("t")))).as("v"))
        .select(col("v.clip_id").as("clip_id"),
          concat(hdr,
            substring(rpad(col("v.t"), 130, "x").cast("binary"), 1, 130)).as("payload"))
      Multimodal.aHashPairs(
          Multimodal.withAudioFingerprint(variants, "payload"), "clip_id", "afp")
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    "m8_mp3_meta" -> ((s, dir) => {
      // MPEG-1 Layer III stream metadata over the REAL frame-header
      // walk: every %10==3 doc plants a deterministic frame chain whose
      // count / bitrate / sample rate are closed-form functions of
      // doc_id, so the oracle derives every decoded field without
      // replaying any byte math. Sample-level decode of compressed
      // audio stays the documented stub — headers carry everything the
      // curation gate needs (duration, CBR check, rate buckets).
      val planted = docs(s, dir).filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"), Multimodal.mp3FramesPayload(
          (col("doc_id") % 4 + 1).cast("int"),
          (col("doc_id") % 14 + 1).cast("int"),
          (col("doc_id") % 3).cast("int")).as("payload"))
      Multimodal.withMp3Meta(planted, "payload")
        .select(col("doc_id"),
          col("mp3_meta.n_frames").cast("long").as("n_frames"),
          col("mp3_meta.sample_rate").cast("long").as("sample_rate"),
          col("mp3_meta.bitrate_min_kbps").cast("long").as("bitrate_min_kbps"),
          col("mp3_meta.bitrate_max_kbps").cast("long").as("bitrate_max_kbps"),
          col("mp3_meta.n_samples").as("n_samples"),
          round(col("mp3_meta.duration_s") + lit(5e-10), 6).as("duration_s"))
        .orderBy("doc_id")
    }),
    "m13_gif_meta" -> ((s, dir) => {
      // animated-GIF container metadata over the REAL block walk: every
      // %10==4 doc plants a spec-valid GIF89a whose dimensions / frame
      // count / color table / total delay are closed-form functions of
      // doc_id — the oracle derives every decoded field without
      // replaying any byte math (the m8 planted-stage pattern). Pixel
      // (LZW) decode stays the documented stub; the container carries
      // everything a media-curation gate filters on.
      val planted = docs(s, dir).filter(col("doc_id") % 10 === 4)
        .select(col("doc_id"), Multimodal.gifPayload(
          (col("doc_id") % 64 + 16).cast("int"),
          (col("doc_id") % 48 + 8).cast("int"),
          (col("doc_id") % 5 + 1).cast("int"),
          (col("doc_id") % 3 + 1).cast("int"),
          (col("doc_id") % 10 + 1).cast("int")).as("payload"))
      Multimodal.withGifMeta(planted, "payload")
        .select(col("doc_id"), col("gif_meta.version").as("version"),
          col("gif_meta.width").cast("long").as("width"),
          col("gif_meta.height").cast("long").as("height"),
          col("gif_meta.gct_colors").cast("long").as("gct_colors"),
          col("gif_meta.n_frames").cast("long").as("n_frames"),
          col("gif_meta.n_ext").cast("long").as("n_ext"),
          col("gif_meta.duration_cs").as("duration_cs"))
        .orderBy("doc_id")
    }),
    "m14_gif_pixels" -> ((s, dir) => {
      // REAL GIF pixel decode (round 12 — the LZW stub closed): every
      // %10==4 doc plants a GIF89a whose frames carry genuinely
      // LZW-compressed rasters of the (f + k) mod m index pattern; the
      // engine walks the container, decompresses each frame's variable
      // width bit stream, folds palette-channel means — and the oracle
      // derives the same means closed-form from the residue counts.
      // Smaller dims than m13: pixel work scales with w*h*frames.
      val planted = docs(s, dir).filter(col("doc_id") % 10 === 4)
        .select(col("doc_id"), Multimodal.gifPayload(
          (col("doc_id") % 24 + 8).cast("int"),
          (col("doc_id") % 12 + 4).cast("int"),
          (col("doc_id") % 4 + 1).cast("int"),
          (col("doc_id") % 3 + 1).cast("int"),
          lit(2)).as("payload"))
      Multimodal.gifFrames(planted, "payload")
        .select(col("doc_id"), col("frame_id").cast("long").as("frame_id"),
          col("n_pixels"),
          round(col("mean_r") + lit(5e-10), 6).as("mean_r"),
          round(col("mean_g") + lit(5e-10), 6).as("mean_g"),
          round(col("mean_b") + lit(5e-10), 6).as("mean_b"))
        .orderBy("doc_id", "frame_id")
    }),

    // ---- incremental aggregate maintenance -----------------------------
    "u6_incremental_agg" -> ((s, dir) => {
      // materialized-view update: per-customer aggregate state from the
      // historical batch (o_orderkey % 7 != 0) merged with the delta
      // batch's aggregate (% 7 == 0) — NO rescan of the history. The
      // oracle recomputes the aggregate over ALL orders, so the hash
      // gate pins merge(agg(A), agg(B)) == agg(A ∪ B) exactly (decimal
      // sums — the j1 precedent — so combination order cannot drift).
      val orders = table(s, dir, "orders").select(col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("p"), col("o_orderkey"))
      def aggState(df: DataFrame): DataFrame = df.groupBy("o_custkey").agg(
        count(lit(1)).as("n"), sum(col("p")).as("sum_price"),
        min(col("p")).as("min_price"), max(col("p")).as("max_price"))
      val state = aggState(orders.filter(col("o_orderkey") % 7 =!= 0))
      val delta = aggState(orders.filter(col("o_orderkey") % 7 === 0))
      Merge.mergeAggState(state, delta, Seq("o_custkey"),
          Map("n" -> "sum", "sum_price" -> "sum",
            "min_price" -> "min", "max_price" -> "max"))
        .select(col("o_custkey"), col("n"),
          round(col("sum_price").cast("double") + lit(5e-10), 6).as("sum_price"),
          round(col("min_price").cast("double") + lit(5e-10), 6).as("min_price"),
          round(col("max_price").cast("double") + lit(5e-10), 6).as("max_price"),
          round(col("sum_price").cast("double") / col("n") + lit(5e-10), 6).as("mean_price"))
        .orderBy("o_custkey")
    }),

    "u8_incremental_histogram" -> ((s, dir) => {
      // incremental DISTRIBUTION maintenance: per-priority fixed-bin
      // histogram state from the historical batch merged with the delta
      // batch's state (bin counts sum — mergeAggState over keys+bin),
      // then quantile ESTIMATES read from the merged state. The oracle
      // recomputes the histogram over ALL orders and replays the same
      // cum-walk + in-bin interpolation, pinning BOTH the exact merge
      // and the estimate arithmetic.
      val o = table(s, dir, "orders")
      val keys = Seq("o_orderpriority")
      def st(df: DataFrame) =
        Histograms.binned(df, keys, "o_totalprice", 0.0, 600000.0, 64)
      val merged = Histograms.mergeState(
        st(o.filter(col("o_orderkey") % 3 =!= 0)),
        st(o.filter(col("o_orderkey") % 3 === 0)), keys)
      Histograms.quantileFromBins(merged, keys, 0.0, 600000.0, 64,
          Seq("q25" -> 0.25, "q50" -> 0.5, "q90" -> 0.9))
        .select(col("o_orderpriority"),
          round(col("q25") + lit(5e-10), 6).as("q25"),
          round(col("q50") + lit(5e-10), 6).as("q50"),
          round(col("q90") + lit(5e-10), 6).as("q90"))
        .orderBy("o_orderpriority")
    }),

    "d23_fs_weights" -> ((s, dir) => {
      // probabilistic record-linkage scoring over blocked candidates:
      // sorted-neighborhood pairs (segment x 1000-balance band, ordered
      // by balance) scored with Fellegi-Sunter log2 likelihood ratios —
      // u's from ONE melt census (exact pair probabilities), m's as
      // parameters; a rare-value agreement (acct cents) outweighs a
      // common one (segment), which is the method's whole point
      val base = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          col("c_acctbal"),
          (round(abs(col("c_acctbal")) * 100).cast("long") % 1000).as("cents3"))
      val pairs = Dedup.sortedNeighborhoodPairs(base, "c_custkey",
        struct(col("c_mktsegment"), floor(col("c_acctbal") / 1000.0)),
        col("c_acctbal"), window = 3,
        carryCols = Seq("c_nationkey", "c_mktsegment", "cents3"))
      Dedup.fellegiSunterScores(base, pairs,
          Seq(("c_nationkey", 0.95), ("c_mktsegment", 0.9), ("cents3", 0.7)))
        .select(col("id_a"), col("id_b"),
          col("agree_c_nationkey"), col("agree_c_mktsegment"),
          col("agree_cents3"),
          round(col("score") + lit(5e-10), 6).as("score"))
        .orderBy("id_a", "id_b")
    }),
    "d17_sorted_neighborhood" -> ((s, dir) => {
      // sorted-neighborhood blocking: docs sorted by length within each
      // (language, 256-char length band) block pair with their next 2
      // neighbors; candidates scored with exact unigram-set Jaccard
      // (distinct token-hash arrays — set sizes equal the string version
      // up to 2^-64 collisions, the d2 precedent). One window pass,
      // O(n·window) candidates. The band rides the SORT KEY itself, so
      // banding loses only pairs straddling a 256-boundary — the
      // method's standard trade, bought back as parallelism: blocking on
      // bare lang (cardinality 5) would collapse the window sort to 5
      // tasks at any corpus size.
      val ms = graft.functions.HashFunctions.multiShingleHash(
        TextAnalysis.tokens(lower(col("text"))), Seq(1))
      val base = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          ms.getField("n1").as("s1"))
      Dedup.sortedNeighborhoodPairs(base, "doc_id",
          struct(col("lang"), (col("n_chars") / 256).cast("int").as("band")),
          col("n_chars"), window = 3, carryCols = Seq("s1"))
        .select(col("id_a"), col("id_b"),
          round(size(array_intersect(col("s1_a"), col("s1_b"))).cast("double") /
            greatest(size(array_union(col("s1_a"), col("s1_b"))), lit(1)).cast("double"),
            6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    "d19_repeated_spans" -> ((s, dir) =>
      // cross-document repeated-span anchors (the Lee-et-al substring
      // dedup signal, sampled): every 8th 24-gram of every doc, exact
      // two-level aggregation, survivors = fingerprints of spans
      // occurring more than once corpus-wide. Positional sampling so
      // DuckDB replays the anchor set verbatim; the alignment-robust
      // hashMod mode is spec-pinned (DedupSpec).
      Dedup.repeatedSpans(docs(s, dir), "doc_id", "text", k = 24, stride = 8)
        .orderBy(col("n_occ").desc, col("gram")).limit(30)),
    "d20_span_mask" -> ((s, dir) => {
      // detect -> remove, end to end: d19's top-30 anchors become the
      // blocklist (aggregate-sized collect by construction), and the
      // mask pass blanks every character covered by ANY occurrence of
      // any of them — coverage semantics, so overlaps compose
      // order-free and DuckDB can replay the whole transform. The mask
      // scan checks every position (stride 1): occurrences the strided
      // DETECTOR sampled past are still masked.
      val grams = Dedup.repeatedSpans(docs(s, dir), "doc_id", "text", k = 24, stride = 8)
        .orderBy(col("n_occ").desc, col("gram")).limit(30)
        .collect().map(_.getString(0)).toSeq
      Dedup.maskSpans(docs(s, dir), "text", grams, k = 24)
        .filter(col("n_masked") > 0)
        .select(col("doc_id"), col("masked"), col("n_masked").cast("long").as("n_masked"))
        .orderBy("doc_id")
    }),
    "d21_jaro_winkler_pairs" -> ((s, dir) =>
      // prefix-biased fuzzy linkage at the DISTINCT-name level: all
      // part-name pairs with Jaro-Winkler >= 0.84, candidates from the
      // lossless length-banded equi-join; the oracle cross-validates the
      // whole JaroOps kernel against DuckDB's own jaro_winkler_similarity
      Dedup.jaroWinklerPairs(
          table(s, dir, "part").select(lower(col("p_name")).as("name")),
          "name", threshold = 0.84)
        .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"),
          round(col("jw") + lit(5e-10), 6).as("jw"))
        .orderBy("name_a", "name_b")),
    "d22_source_overlap" -> ((s, dir) =>
      // can these crawls be mixed? pairwise Jaccard/containment of each
      // source pair's distinct word-trigram sets; the gram self-join
      // fans out at most |sources|^2 per gram, never rows^2
      Dedup.sourceOverlapMatrix(table(s, dir, "documents"), "source", "text", n = 3)
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("n_common"),
          round(col("jaccard") + lit(5e-10), 6).as("jaccard"),
          round(col("containment") + lit(5e-10), 6).as("containment"))
        .orderBy("src_a", "src_b")),
    "d18_fuzzy_join" -> ((s, dir) => {
      // edit-distance record linkage: a probe batch (every 199th part
      // name, first character dropped — a planted typo at lev 1 from
      // its source) fuzzy-matched against the full part corpus at
      // maxDist 2 via PassJoin segment blocking over DISTINCT names.
      // Reported as the per-probe linkage summary (match count + best
      // match, ties by id): the planted corpus has only 64 distinct
      // names over n rows, so the dense id-pair set is O(n²/64)-sized
      // OUTPUT (637M rows at the 100x bench scale) — fuzzyJoinBest
      // aggregates at the name level and never materializes it. The
      // pair-level op stays brute-force-equality-specced in LinkageSpec.
      val parts = table(s, dir, "part")
        .select(col("p_partkey"), lower(col("p_name")).as("name"))
      val probes = parts.filter(col("p_partkey") % 199 === 0)
        .select(col("p_partkey").as("probe_id"),
          col("name").substr(lit(2), length(col("name"))).as("probe_name"))
      Dedup.fuzzyJoinBest(probes,
          parts.select(col("p_partkey").as("part_id"), col("name")),
          "probe_id", "probe_name", "part_id", "name", maxDist = 2)
        .orderBy("probe_id")
    }),

    // ---- metadata-only scan: parquet aggregate pushdown ----------------
    "o5_agg_pushdown" -> ((s, dir) => {
      // COUNT/MIN/MAX answered from parquet row-group STATISTICS — no
      // data page is read (the 100 TB "profile this table" query as a
      // footer walk). Needs the DSv2 parquet path; a child session
      // isolates the conf flips from the shared verify/bench session
      // (same SparkContext, separate SQL conf). SourcesSpec pins
      // PushedAggregation in the plan so a silent fallback to a full
      // scan cannot masquerade as a pass.
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.useV1SourceList", "")
      s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      Util.table(s2, dir, "lineitem").agg(
          count(lit(1)).as("n_rows"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .select(col("n_rows"),
          round(col("min_qty") + lit(5e-10), 6).as("min_qty"),
          round(col("max_qty") + lit(5e-10), 6).as("max_qty"),
          round(col("min_price") + lit(5e-10), 6).as("min_price"),
          round(col("max_price") + lit(5e-10), 6).as("max_price"))
    }),

    // ---- ingest robustness: corrupt-record capture ---------------------
    "o6_corrupt_records" -> ((s, dir) => {
      // PERMISSIVE CSV ingest with a corrupt-record column: malformed
      // rows (every 7th row's value planted non-numeric) survive the
      // read as null fields + the captured raw line instead of failing
      // the 100 TB job at row 3 billion; the report counts both
      // populations and aggregates only the clean rows. The oracle
      // derives all three numbers from the parquet planting rule.
      val base = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_corrupt_csv").toString
      Util.events(s, dir).filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          when(col("event_id") % 7 === 0, lit("notanumber"))
            .otherwise(col("value").cast("string")).as("value"))
        .repartition(4)
        .write.mode("overwrite").option("header", "true").csv(base)
      val schema = "event_id LONG, user_id LONG, value DOUBLE, _corrupt_record STRING"
      s.read.option("header", "true").option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema).csv(base)
        .agg(count(lit(1)).as("n_rows"),
          count(col("_corrupt_record")).as("n_corrupt"),
          round(sum("value") + lit(5e-10), 6).as("sum_good_value"))
    }),

    // ---- columnar sink/source: ORC -------------------------------------
    "o4_orc_roundtrip" -> ((s, dir) => {
      // ORC sink + source round-trip (the o3 pattern for the second
      // columnar format): purchase events land as zlib ORC, are read
      // back (ORC embeds its schema — no inference scan), and the daily
      // aggregate must match the oracle computed straight from the
      // parquet. Doubles round-trip exactly in ORC's binary encoding;
      // timestamps travel preformatted (no parser semantics in play).
      val base = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_orc_events").toString
      val src = Util.events(s, dir).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
        .repartition(4)
      src.write.mode("overwrite").option("compression", "zlib").orc(s"$base/orc")
      s.read.orc(s"$base/orc")
        .groupBy(substring(col("ts_s"), 1, 10).as("day"))
        .agg(count(lit(1)).as("n"),
          round(sum("value") + lit(5e-10), 6).as("sum_value"))
        .orderBy("day")
    }),
    "o11_schema_merge" -> ((s, dir) => {
      // schema evolution across parquet batches: the v1 history lacks
      // the discount column the v2 writer added; mergeSchema unions the
      // schemas on read and v1 rows surface NULL discounts. The census
      // must match an oracle computed straight from the source table —
      // pinning that evolution loses no rows and invents no values.
      val base = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_schema_merge").toString
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      o.filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_custkey")
        .repartition(2).write.mode("overwrite").parquet(s"$base/v1")
      o.filter(col("o_orderkey") % 3 === 1)
        .repartition(2).write.mode("overwrite").parquet(s"$base/v2")
      s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
        .groupBy((col("o_orderkey") % 3).as("batch"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("n_null_price"),
          round(sum(col("o_totalprice")).cast("double") + lit(5e-10), 6).as("sum_price"))
        .orderBy("batch")
    }),
  )

  // DuckDB-side token array matching TextAnalysis.tokens. The whitespace
  // class is the shared explicit one (Java \s and RE2 \s disagree on \x0B).
  private val Ws = s"[${TextAnalysis.WhitespaceClass}]"
  private val Toks = raw"list_filter(string_split_regex(text, '$Ws+'), t -> length(t) > 0)"
  private def toksOf(c: String) =
    raw"list_filter(string_split_regex(lower($c), '$Ws+'), t -> length(t) > 0)"
  /** DuckDB n-gram shingle list matching Dedup.shingles (lowercased). */
  private def shingleSql(n: Int, tk: String): String =
    if (n == 1) s"list_distinct($tk)"
    else {
      val cat = (0 until n).map(i => s"$tk[i+$i]").mkString("concat_ws(' ', ", ", ", ")")
      s"list_distinct(CASE WHEN len($tk) < $n THEN [array_to_string($tk, ' ')] " +
        s"ELSE list_transform(range(1, len($tk) - ${n - 2}), i -> $cat) END)"
    }
  private def jaccardSql(n: Int): String = {
    val (sa, sb) = (shingleSql(n, "ta"), shingleSql(n, "tb"))
    s"ROUND(len(list_intersect($sa, $sb))::DOUBLE / " +
      s"greatest(len(list_distinct(list_concat($sa, $sb))), 1), 6) AS jaccard$n"
  }
  private val StopwordList =
    TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Sign-bit LSH bucket as DuckDB SQL: the hyperplanes are deterministic
    * (seeded LCG), so their exact values are embedded as list literals.
    * Double.toString round-trips, and both engines accumulate the dot
    * product sequentially in doubles over the float-cast embedding, so
    * the sign (hence the bucket) matches bit-for-bit. KNOWN FRAGILITY:
    * if DuckDB ever switches list_inner_product to pairwise/FMA
    * summation, a |dot| within ~1e-13 of zero could flip its bucket bit
    * and fail this gate spuriously. SimilaritySpec's "oracle sign margin"
    * test pins that the actual gated embeddings stay orders of magnitude
    * above that margin on every plane, so a future failure here means the
    * data moved onto a knife edge, not that the engine broke. */
  private def bucketSql(vecExpr: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product($vecExpr, $plane) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** [[bucketSql]] gated on a runtime plane count `pExpr` (SQL scalar):
    * bit i contributes only when i < p — mirrors Similarity.lshBucketGated
    * so the oracle tracks the adaptive plane formula exactly. */
  private def bucketSqlGated(vecExpr: String, planes: Seq[Seq[Double]], pExpr: String): String =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = p.mkString("[", ", ", "]")
      s"(CASE WHEN $i < $pExpr AND list_inner_product($vecExpr, $plane) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Per-language score expression over a lowercased token list `tk`. */
  private def langScoreSql(words: Seq[String]): String = {
    val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(tk, t -> list_contains($list, t)))::DOUBLE / greatest(len(tk), 1)"
  }

  /** Text-enrichment CTE chain shared by x2 and c1: tokenizes `src` (a
    * table name or parenthesized derived table with doc_id, text) and
    * exposes per-doc language scores (s_de..s_zh, max m), n_tok, and the
    * quality-heuristic inputs in CTE `f`. Mirrors TextAnalysis exactly —
    * both queries' parity rides on this one definition. */
  private def enrichSql(src: String, pre: String = ""): String = {
    val langs = TextAnalysis.LangStopwords.toSeq.sortBy(_._1) // de en es fr it
    val scoreCols = langs.map { case (l, ws) => s"${langScoreSql(ws)} AS s_$l" }
    s"WITH ${pre}t AS (SELECT doc_id, text, ${toksOf("text")} AS tk FROM $src), " +
      "s AS (SELECT doc_id, text, tk, " + scoreCols.mkString(", ") + ", " +
      raw"length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g'))::DOUBLE / greatest(length(text), 1) AS s_zh, " +
      "len(tk) AS n_tok, " +
      raw"length(regexp_replace(text, '$Ws', '', 'g'))::DOUBLE / greatest(len(tk), 1) AS mtl, " +
      s"len(list_filter(tk, t -> list_contains($StopwordList, t)))::DOUBLE / greatest(len(tk), 1) AS stop_r, " +
      "length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE / greatest(length(text), 1) AS punct_r, " +
      "length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / greatest(length(text), 1) AS digit_r, " +
      "length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE / greatest(length(text), 1) AS upper_r " +
      "FROM t), " +
      "f AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_it, s_zh) AS m FROM s) "
  }

  /** Quality heuristic over CTE `f`'s columns — TextAnalysis.qualityScoreP. */
  private val QualityScoreSql: String =
    "(((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END) + " +
      "(CASE WHEN mtl >= 2.0 AND mtl <= 12.0 THEN 1.0 ELSE 0.0 END) + " +
      "(CASE WHEN stop_r >= 0.05 THEN 1.0 ELSE 0.0 END) + " +
      "(CASE WHEN punct_r <= 0.3 THEN 1.0 ELSE 0.0 END) + " +
      "(CASE WHEN digit_r <= 0.3 THEN 1.0 ELSE 0.0 END) + " +
      "(CASE WHEN upper_r <= 0.3 THEN 1.0 ELSE 0.0 END)) / 6.0)"

  /** Language pick over CTE `f` — TextAnalysis.languageId's array_max
    * tie-break: highest score, then lexicographically LARGEST language. */
  private val LangPickSql: String = {
    val pick = ("zh" +: TextAnalysis.LangStopwords.toSeq.sortBy(_._1).map(_._1).reverse)
      .map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
    s"(CASE WHEN m > 0.05 THEN (CASE $pick END) ELSE 'und' END)"
  }

  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    // c6 is c4's pipeline under a different STORAGE decision
    // (materialize-once); the results — and therefore the oracle — are
    // identical by contract. d13c/d15c are d13/d15 with the pair-stage
    // cap DISABLED (maxBucketSize = 0, the uncapped contrast twins) —
    // the default cap (50) is far above every gate-scale cluster
    // (planted cliques are 3 docs), so capped == uncapped there by the
    // cap's own contract and the oracles are shared; the cap's skip
    // semantics are pinned quantitatively in DedupSpec/ClusteringSpec.
    base +
      ("c6_curation_mat" -> base("c4_curation_v2")) +
      ("d13c_cluster_canonical_uncapped" -> base("d13_cluster_canonical")) +
      ("d15c_cross_corpus_uncapped" -> base("d15_cross_corpus_dedup"))
  }

  private def oracleSqlBase: Map[String, String] = Map(
    // chunk=64, overlap=8 -> stride 56; chunk i = tokens
    // [i*56+1, i*56+64] (1-based inclusive, DuckDB list_slice semantics
    // = Spark slice(start, length)); chunk count ceil(max(n-8,1)/56)
    "p4_chunk_tokens" ->
      (s"WITH t AS (SELECT doc_id, $Toks AS tk FROM documents), " +
        "n AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0), " +
        "c AS (SELECT doc_id, tk, " +
        "unnest(range(0, CAST(ceil(greatest(n - 8, 1) / 56.0) AS BIGINT))) AS chunk_id FROM n) " +
        "SELECT doc_id, chunk_id, " +
        "len(list_slice(tk, chunk_id*56+1, chunk_id*56+64))::BIGINT AS n_tokens, " +
        "array_to_string(list_slice(tk, chunk_id*56+1, chunk_id*56+64), ' ') AS chunk_text " +
        "FROM c ORDER BY doc_id, chunk_id"),
    "d1_exact_dedup" ->
      ("SELECT doc_id FROM (SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn " +
        "FROM documents) WHERE rn = 1 ORDER BY doc_id"),
    // Survivors of the threshold-1.0 clustered near-dedup over the planted
    // corpus = min doc_id per distinct (lowercased, whitespace-split)
    // trigram-shingle SET: equal sets <=> jaccard 1.0 <=> identical
    // MinHash signatures (every band collides, recall exactly 1), up to
    // the same 2^-64 hash-collision bound the d2 oracle rides on.
    "d6_minhash_dedup_cc" ->
      ("WITH corpus AS (SELECT d.doc_id, " +
        "CASE WHEN d.doc_id % 5 = 3 AND c1.text IS NOT NULL THEN replace(c1.text, ' ', '  ') " +
        "WHEN d.doc_id % 5 = 4 AND c2.text IS NOT NULL THEN replace(c2.text, ' ', '   ') " +
        "ELSE d.text END AS text FROM documents d " +
        "LEFT JOIN documents c1 ON c1.doc_id = d.doc_id - 1 " +
        "LEFT JOIN documents c2 ON c2.doc_id = d.doc_id - 2), " +
        s"t AS (SELECT doc_id, ${toksOf("text")} AS tk FROM corpus), " +
        s"keyed AS (SELECT doc_id, list_sort(${shingleSql(3, "tk")}) AS sk FROM t) " +
        "SELECT doc_id FROM keyed QUALIFY doc_id = min(doc_id) OVER (PARTITION BY sk) " +
        "ORDER BY doc_id"),
    "d2_jaccard_pairs" ->
      (s"WITH toks AS (SELECT doc_id, ${toksOf("text")} AS tk FROM documents) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        Seq(1, 2, 3).map(n => jaccardSql(n)).mkString(", ") +
        " FROM (SELECT doc_id, tk AS ta FROM toks) a " +
        "JOIN (SELECT doc_id, tk AS tb FROM toks) b ON b.doc_id = a.doc_id + 1 " +
        "ORDER BY id_a"),
    "m1_media_meta" ->
      // Mirrors decodeStub's reachable branches for UTF-8 text payloads:
      // a text CAN spell 'RIFF....WAVE' in printable ASCII (-> 'wav'),
      // while the PNG/JPEG magic bytes (0x89 / 0xFF) cannot begin valid
      // UTF-8, so those branches are unreachable here. Byte positions are
      // checked on hex(blob) (2 hex chars/byte) since DuckDB substring is
      // VARCHAR-only: bytes 1-4 = hex 1-8 'RIFF', bytes 9-12 = hex 17-24
      // 'WAVE'.
      ("SELECT doc_id, CASE WHEN octet_length(encode(text)) = 0 THEN 'empty' " +
        "WHEN octet_length(encode(text)) >= 28 AND substring(hex(encode(text)), 1, 8) = '52494646' " +
        "AND substring(hex(encode(text)), 17, 8) = '57415645' THEN 'wav' " +
        "ELSE 'raw' END AS format, " +
        "octet_length(encode(text))::BIGINT AS n_bytes FROM documents ORDER BY doc_id"),
    "m2b_decode_stats" ->
      // Recomputes the planted-payload decode math from the raw text bytes:
      // WAV samples are LE16 pairs of rpad(text,64) normalized to [-1,1);
      // BMP pixels are BGR triples of rpad(text,48); PNG pixels are RGB
      // triples of the same 48 bytes (the deflate round-trip is exact, so
      // the byte stream the Spark decoder reconstructs IS this slice).
      // Text is pure ASCII in the corpus, so unicode(char) == byte value.
      ("WITH base AS (SELECT doc_id, rpad(text, 64, 'x') AS t64, rpad(text, 48, 'x') AS t48 " +
        "FROM documents WHERE doc_id % 10 IN (0, 5, 7)), " +
        "audio AS (SELECT doc_id, count(*)::BIGINT AS n, avg(s) AS mean, " +
        "sqrt(avg(s*s)) AS rms, max(abs(s)) AS peak FROM (" +
        "SELECT q.doc_id, (CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) / 32768.0 AS s FROM (" +
        "SELECT b.doc_id, unicode(substring(b.t64, (2*t.i+1)::INT, 1)) " +
        "+ 256*unicode(substring(b.t64, (2*t.i+2)::INT, 1)) AS v " +
        "FROM base b, range(32) t(i) WHERE b.doc_id % 10 = 0) q) GROUP BY doc_id), " +
        "img AS (SELECT doc_id, count(*)::BIGINT AS n, avg(r) AS mr, avg(g) AS mg, avg(bl) AS mb FROM (" +
        "SELECT b.doc_id, " +
        "CASE WHEN b.doc_id % 10 = 5 THEN unicode(substring(b.t48, (3*t.i+3)::INT, 1)) " +
        "ELSE unicode(substring(b.t48, (3*t.i+1)::INT, 1)) END AS r, " +
        "unicode(substring(b.t48, (3*t.i+2)::INT, 1)) AS g, " +
        "CASE WHEN b.doc_id % 10 = 5 THEN unicode(substring(b.t48, (3*t.i+1)::INT, 1)) " +
        "ELSE unicode(substring(b.t48, (3*t.i+3)::INT, 1)) END AS bl " +
        "FROM base b, range(16) t(i) WHERE b.doc_id % 10 IN (5, 7)) GROUP BY doc_id) " +
        "SELECT b.doc_id, a.n AS audio_n_samples, round(a.mean, 6) AS audio_mean, " +
        "round(a.rms, 6) AS audio_rms, round(a.peak, 6) AS audio_peak, " +
        "i.n AS img_n_pixels, round(i.mr, 6) AS img_mean_r, " +
        "round(i.mg, 6) AS img_mean_g, round(i.mb, 6) AS img_mean_b " +
        "FROM base b LEFT JOIN audio a USING (doc_id) LEFT JOIN img i USING (doc_id) " +
        "ORDER BY b.doc_id"),
    "m9_adpcm_stats" ->
      // golden per-variant stats (verified against the spec's independent
      // reference decoder) — ADPCM's stateful nibble recursion is not
      // structurally SQL-replayable, so constants stand in for the
      // closed form (the m8 planting discipline, one level removed)
      ("SELECT doc_id, 65::BIGINT AS n_samples, " +
        "CASE (doc_id % 40) WHEN 3 THEN -0.045437 WHEN 13 THEN -0.011611 " +
        "WHEN 23 THEN -0.022701 ELSE -0.026201 END AS mean, " +
        "CASE (doc_id % 40) WHEN 3 THEN 0.277715 WHEN 13 THEN 0.283089 " +
        "WHEN 23 THEN 0.288659 ELSE 0.271879 END AS rms, " +
        "CASE (doc_id % 40) WHEN 3 THEN 0.460754 WHEN 13 THEN 0.528046 " +
        "WHEN 23 THEN 0.57196 ELSE 0.533844 END AS peak " +
        "FROM documents WHERE doc_id % 10 = 3 ORDER BY doc_id"),
    "m10_video_frames" ->
      // replay the AVI frame decode from the raw text bytes: the planted
      // DIB rasters are t48 verbatim (frame f = bytes f*24 .. f*24+23,
      // BGR at i % 3), so each channel mean is an avg over 8 bytes —
      // exact dyadic math, identical rounding in both engines. The
      // header fields are planting constants (4x2, 2 frames, 40 ms each).
      ("WITH base AS (SELECT doc_id, rpad(text, 48, 'x') AS t " +
        "FROM documents WHERE doc_id % 10 = 6), " +
        "px AS (SELECT doc_id, (t.i // 24)::BIGINT AS frame_id, t.i % 3 AS c, " +
        "unicode(substring(t, (t.i+1)::INT, 1)) AS v FROM base, range(48) t(i)) " +
        "SELECT doc_id, 2::BIGINT AS n_frames, 4::BIGINT AS width, " +
        "2::BIGINT AS height, 80.0 AS duration_ms, frame_id, " +
        "8::BIGINT AS n_pixels, " +
        "round(avg(CASE WHEN c = 2 THEN v END), 6) AS mean_r, " +
        "round(avg(CASE WHEN c = 1 THEN v END), 6) AS mean_g, " +
        "round(avg(CASE WHEN c = 0 THEN v END), 6) AS mean_b " +
        "FROM px GROUP BY doc_id, frame_id ORDER BY doc_id, frame_id"),
    "m16_flac_stats" ->
      // replay the FLAC decode from the planting closed form (lossless:
      // decoded == planted): the four 64-sample block formulas of
      // Multimodal.flacSignal, then exact dyadic stats — sums of
      // v/2^15 and (v/2^15)^2 over 256 terms stay under 53 bits, so
      // both engines produce bit-identical doubles
      ("WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 9), " +
        "s AS (SELECT d.doc_id, CASE " +
        "WHEN j.range < 64 THEN (doc_id % 1000) * 16 - 8000 " +
        "WHEN j.range < 128 THEN ((doc_id * 37 + j.range * 251) % 4096) - 2048 " +
        "WHEN j.range < 192 THEN ((doc_id % 100) * 3 - 150) + ((doc_id % 7) - 3) * (j.range - 128) " +
        "ELSE ((doc_id * 13 + j.range * 89) % 257) - 128 END AS v " +
        "FROM d CROSS JOIN range(256) j) " +
        "SELECT doc_id, count(*)::BIGINT AS n_samples, " +
        "round(sum(v) / 32768.0 / 256 + 5e-10, 6) AS mean, " +
        "round(sqrt(sum(v * v) / (32768.0 * 32768.0) / 256) + 5e-10, 6) AS rms, " +
        "round(max(abs(v)) / 32768.0 + 5e-10, 6) AS peak " +
        "FROM s GROUP BY doc_id ORDER BY doc_id"),
    "m12_audio_decimate" ->
      // replay decimate-by-4 from the raw text bytes: samples i in
      // {0,4,...,28} as sign-extended LE16 pairs (the m5 replay);
      // mean/peak are exact dyadic rationals, rms rounds the identical
      // double in both engines; the rewritten rate is the 8000/4 const
      ("WITH base AS (SELECT doc_id, rpad(text, 64, 'x') AS t64 " +
        "FROM documents WHERE doc_id % 10 = 4), " +
        "raw AS (SELECT doc_id, unicode(substring(t64, (8*t.i+1)::INT, 1)) " +
        "+ 256*unicode(substring(t64, (8*t.i+2)::INT, 1)) AS vu FROM base, range(8) t(i)), " +
        "sgn AS (SELECT doc_id, CASE WHEN vu >= 32768 THEN vu - 65536 ELSE vu END AS v FROM raw) " +
        "SELECT doc_id, 2000::BIGINT AS rate, count(*)::BIGINT AS n_samples, " +
        "round(sum(v)/count(*)/32768.0 + 5e-10, 6) AS mean, " +
        "round(sqrt(avg((v/32768.0)*(v/32768.0))), 6) AS rms, " +
        "round(max(abs(v))/32768.0, 6) AS peak " +
        "FROM sgn GROUP BY doc_id ORDER BY doc_id"),
    "m5_audio_frames" ->
      // replay the frame fold from the raw text bytes: LE16 pairs,
      // sign-extended, frame = i // 8; ZCR counts strict sign flips of
      // adjacent RAW samples within the frame (i % 8 <> 0 skips each
      // frame's first sample, whose predecessor is the previous frame)
      ("WITH base AS (SELECT doc_id, rpad(text, 64, 'x') AS t64 " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        "raw AS (SELECT doc_id, t.i, unicode(substring(t64, (2*t.i+1)::INT, 1)) " +
        "+ 256*unicode(substring(t64, (2*t.i+2)::INT, 1)) AS vu FROM base, range(32) t(i)), " +
        "s AS (SELECT doc_id, i, CASE WHEN vu >= 32768 THEN vu - 65536 ELSE vu END AS v FROM raw), " +
        "w AS (SELECT doc_id, i, v, i // 8 AS f, " +
        "lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s) " +
        "SELECT doc_id, f::BIGINT AS frame_id, count(*)::BIGINT AS n_samples, " +
        "round(sqrt(avg((v/32768.0)*(v/32768.0))), 6) AS rms, " +
        "sum(CASE WHEN i % 8 <> 0 AND pv * v < 0 THEN 1 ELSE 0 END)::BIGINT AS zcr " +
        "FROM w GROUP BY doc_id, f ORDER BY doc_id, frame_id"),
    "m11_flip_crop" ->
      // replay flip-then-crop from the raw text bytes: the BMP family
      // works in STORED row order (decodeBmp24Pixels doc), so the crop
      // rows {1,2} are stored rows {1,2} and the mirrored crop columns
      // {0,1} read source columns {3,2} — the window is stored bytes
      // (y in {1,2}) x (x in {2,3}), channel c at y*12 + 3x + c
      // (1-based; c=3 is R in the BGR triple, as m4)
      ("WITH base AS (SELECT doc_id, rpad(text, 48, 'x') AS t " +
        "FROM documents WHERE doc_id % 10 = 2), " +
        "px AS (SELECT b.doc_id, " +
        "unicode(substring(b.t, ((1 + t.i//2)*12 + 3*(2 + t.i%2) + 3)::INT, 1)) AS r, " +
        "unicode(substring(b.t, ((1 + t.i//2)*12 + 3*(2 + t.i%2) + 2)::INT, 1)) AS g, " +
        "unicode(substring(b.t, ((1 + t.i//2)*12 + 3*(2 + t.i%2) + 1)::INT, 1)) AS bl " +
        "FROM base b, range(4) t(i)) " +
        "SELECT doc_id, 4::BIGINT AS n_pixels, round(avg(r), 6) AS mean_r, " +
        "round(avg(g), 6) AS mean_g, round(avg(bl), 6) AS mean_b " +
        "FROM px GROUP BY doc_id ORDER BY doc_id"),
    "m4_resize" -> {
      // replay the 4x4 -> 2x2 box resample from the raw text bytes: the
      // planted BMP is t48 as BGR triples at stride 12, output pixel
      // (i%2, i//2) averages its 2x2 source block per channel with exact
      // quarter weights, rounded half-up exactly like the Scala decoder
      def byt(x: String, y: String, c: Int) =
        s"unicode(substring(b.t, (($y)*12 + 3*($x) + $c)::INT, 1))"
      def outPx(c: Int) = {
        val p1 = byt("2*(o.i%2)", "2*(o.i//2)", c)
        val p2 = byt("2*(o.i%2)+1", "2*(o.i//2)", c)
        val p3 = byt("2*(o.i%2)", "2*(o.i//2)+1", c)
        val p4 = byt("2*(o.i%2)+1", "2*(o.i//2)+1", c)
        s"round(($p1 + $p2 + $p3 + $p4)/4.0)"
      }
      "WITH base AS (SELECT doc_id, rpad(text, 48, 'x') AS t " +
        "FROM documents WHERE doc_id % 10 = 5), " +
        "px AS (SELECT b.doc_id, " + outPx(3) + " AS r, " + outPx(2) + " AS g, " +
        outPx(1) + " AS bl FROM base b, range(4) o(i)) " +
        "SELECT doc_id, count(*)::BIGINT AS n_pixels, round(avg(r), 6) AS mean_r, " +
        "round(avg(g), 6) AS mean_g, round(avg(bl), 6) AS mean_b " +
        "FROM px GROUP BY doc_id ORDER BY doc_id"
    },
    "m15_otsu_threshold" ->
      // integer-luma pixels from the raw text bytes, the same 256-t
      // sigma walk, argmax with the same smallest-t tie
      ("WITH base AS (SELECT doc_id, rpad(text, 48, 'x') AS t " +
        "FROM documents WHERE doc_id % 7 = 3), " +
        "px AS (SELECT b.doc_id, (unicode(substring(b.t, (o.i * 3 + 1)::INT, 1)) + " +
        "unicode(substring(b.t, (o.i * 3 + 2)::INT, 1)) + " +
        "unicode(substring(b.t, (o.i * 3 + 3)::INT, 1))) // 3 AS gray " +
        "FROM base b, range(16) o(i)), " +
        "h AS (SELECT doc_id, gray, count(*)::BIGINT AS c FROM px GROUP BY 1, 2), " +
        "cu AS (SELECT h.doc_id, r.range AS t, " +
        "CAST(coalesce(sum(CASE WHEN h.gray <= r.range THEN h.c END), 0) AS BIGINT) AS n0, " +
        "CAST(coalesce(sum(CASE WHEN h.gray <= r.range THEN h.gray * h.c END), 0) AS BIGINT) AS s0, " +
        "CAST(sum(h.c) AS BIGINT) AS n, CAST(sum(h.gray * h.c) AS BIGINT) AS st " +
        "FROM h, range(256) r GROUP BY 1, 2), " +
        "sg AS (SELECT doc_id, t, n0, s0, n, st, " +
        "CASE WHEN n0 > 0 AND n - n0 > 0 THEN (n0::DOUBLE / n) * ((n - n0)::DOUBLE / n) * " +
        "(s0::DOUBLE / n0 - (st - s0)::DOUBLE / (n - n0)) * " +
        "(s0::DOUBLE / n0 - (st - s0)::DOUBLE / (n - n0)) END AS sigma FROM cu), " +
        "pick AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY sigma DESC, t) AS rn " +
        "FROM sg WHERE sigma IS NOT NULL) " +
        "SELECT doc_id, n AS n_pixels, t::INT AS threshold, n0 AS n_below, " +
        "round(s0::DOUBLE / n0 + 5e-10, 6) AS mean_below, " +
        "round((st - s0)::DOUBLE / (n - n0) + 5e-10, 6) AS mean_above, " +
        "round(sigma + 5e-10, 6) AS between_var " +
        "FROM pick WHERE rn = 1 ORDER BY doc_id"),
    "m3_frame_sample" ->
      ("SELECT doc_id, ((greatest(octet_length(encode(text)) - 1, 0) // 64) + 1)::BIGINT AS n_frames " +
        "FROM documents ORDER BY doc_id"),
    "d5_embedding_neardup" -> {
      val bucket = bucketSqlGated("embedding::DOUBLE[]",
        graft.ops.Similarity.randomPlanes(16, 64), "(SELECT p FROM np)")
      ("WITH np AS (SELECT greatest(4, least(16, CAST(ceil(log2(count(*) / 64.0)) AS INT))) AS p FROM embeddings), " +
        "b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, " + bucket + " AS bucket FROM embeddings) " +
        "SELECT a.id AS id_a, c.id AS id_b, ROUND(list_cosine_similarity(a.v, c.v), 6) AS cosine " +
        "FROM b a JOIN b c ON a.bucket = c.bucket AND a.id < c.id " +
        "WHERE list_cosine_similarity(a.v, c.v) >= 0.2 ORDER BY id_a, id_b")
    },
    "s17_ann_recall" -> {
      // truth = the s1 exact window; lsh = the s2 bucket replay;
      // binary = the s16 packing with k=10; recall = per-query hit
      // share off two left joins of 10-row sets
      val bucket = bucketSql("embedding::DOUBLE[]", graft.ops.Similarity.randomPlanes(8, 64))
      val probeList = ("bucket" +: (0 until 8).map(i => s"xor(bucket, ${1L << i})"))
        .mkString("[", ", ", "]")
      def word(w: Int) = (0 until 32).map(b =>
        s"(CASE WHEN embedding[${w * 32 + b + 1}] > 0 THEN ${1L << b}::BIGINT ELSE 0 END)")
        .mkString(" + ")
      ("WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3), " +
        "tr AS (SELECT query_id, id FROM (SELECT q.qid AS query_id, e.vec_id AS id, " +
        "row_number() OVER (PARTITION BY q.qid " +
        "ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id) AS rn " +
        "FROM embeddings e CROSS JOIN q) WHERE rn <= 10), " +
        s"cb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, $bucket AS bucket FROM embeddings), " +
        s"q0 AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv2, $bucket AS bucket " +
        "FROM embeddings WHERE vec_id < 3), " +
        s"qb AS (SELECT qid, qv2, unnest($probeList) AS bucket FROM q0), " +
        "ls AS (SELECT query_id, id FROM (SELECT qb.qid AS query_id, cb.id, " +
        "row_number() OVER (PARTITION BY qb.qid " +
        "ORDER BY list_cosine_similarity(cb.v, qb.qv2) DESC, cb.id) AS rn " +
        "FROM cb JOIN qb USING (bucket)) WHERE rn <= 10), " +
        s"c2 AS (SELECT vec_id, embedding, ${word(0)} AS w0, ${word(1)} AS w1 FROM embeddings), " +
        "bq AS (SELECT vec_id AS qid, w0 AS b0, w1 AS b1, embedding::DOUBLE[] AS bqv " +
        "FROM c2 WHERE vec_id < 3), " +
        "h2 AS (SELECT bq.qid AS query_id, c2.vec_id AS id, " +
        "CAST(bit_count(xor(c2.w0, bq.b0)) AS BIGINT) + CAST(bit_count(xor(c2.w1, bq.b1)) AS BIGINT) AS hamming " +
        "FROM c2 CROSS JOIN bq), " +
        "sl2 AS (SELECT query_id, id, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY hamming, id) AS rn FROM h2), " +
        "cn2 AS (SELECT query_id, id FROM sl2 WHERE rn <= 50), " +
        "bn AS (SELECT query_id, id FROM (SELECT cn2.query_id, cn2.id, " +
        "row_number() OVER (PARTITION BY cn2.query_id " +
        "ORDER BY list_cosine_similarity(c3.embedding::DOUBLE[], bq.bqv) DESC, cn2.id) AS rn " +
        "FROM cn2 JOIN c2 c3 ON c3.vec_id = cn2.id JOIN bq ON bq.qid = cn2.query_id) " +
        "WHERE rn <= 10), " +
        "rc AS (SELECT 'lsh' AS method, tr.query_id, count(*)::BIGINT AS k, " +
        "CAST(sum(CASE WHEN ls.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits " +
        "FROM tr LEFT JOIN ls ON ls.query_id = tr.query_id AND ls.id = tr.id GROUP BY 2 " +
        "UNION ALL SELECT 'binary', tr.query_id, count(*)::BIGINT, " +
        "CAST(sum(CASE WHEN bn.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "FROM tr LEFT JOIN bn ON bn.query_id = tr.query_id AND bn.id = tr.id GROUP BY 2) " +
        "SELECT method, query_id, k, n_hits, " +
        "round(n_hits::DOUBLE / k + 5e-10, 6) AS recall FROM rc ORDER BY method, query_id")
    },
    "s2_ann_lsh" -> {
      val bucket = bucketSql("embedding::DOUBLE[]", graft.ops.Similarity.randomPlanes(8, 64))
      // multi-probe: the query probes its own bucket plus every 1-bit-flip
      // neighbor — the same probe set topKLsh builds
      val probeList = ("bucket" +: (0 until 8).map(i => s"xor(bucket, ${1L << i})"))
        .mkString("[", ", ", "]")
      ("WITH cb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, " + bucket + " AS bucket FROM embeddings), " +
        "q0 AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, " + bucket + " AS bucket " +
        "FROM embeddings WHERE vec_id < 3), " +
        s"qb AS (SELECT qid, qv, unnest($probeList) AS bucket FROM q0) " +
        "SELECT query_id, id, cosine FROM (" +
        "SELECT qb.qid AS query_id, cb.id AS id, ROUND(list_cosine_similarity(cb.v, qb.qv), 6) AS cosine, " +
        "row_number() OVER (PARTITION BY qb.qid " +
        "ORDER BY list_cosine_similarity(cb.v, qb.qv) DESC, cb.id) AS rn " +
        "FROM cb JOIN qb USING (bucket)) WHERE rn <= 10 " +
        "ORDER BY query_id, cosine DESC, id")
    },
    "s12_centroid_outliers" ->
      // per-dim centroid means, the same squared-diff fold, label
      // windows for mu/sd
      ("WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings " +
        "WHERE vec_id IS NOT NULL AND label IS NOT NULL AND embedding IS NOT NULL " +
        "AND len(embedding) = 64), " +
        "c AS (SELECT label, dim, avg(v[dim]) AS cx FROM e " +
        "CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) GROUP BY 1, 2), " +
        "d AS (SELECT e.vec_id, e.label, " +
        "sqrt(sum((e.v[c.dim] - c.cx) * (e.v[c.dim] - c.cx))) AS dist " +
        "FROM e JOIN c USING (label) GROUP BY 1, 2), " +
        "z AS (SELECT vec_id, label, dist, avg(dist) OVER (PARTITION BY label) AS mu, " +
        "stddev_samp(dist) OVER (PARTITION BY label) AS sd FROM d) " +
        "SELECT vec_id, label, round(dist + 5e-10, 6) AS dist, " +
        "round(CASE WHEN sd > 0 THEN (dist - mu) / sd END + 5e-10, 6) AS z " +
        "FROM z ORDER BY vec_id"),
    "s5_embedding_by_lang" ->
      ("WITH e AS (SELECT vec_id, label, " +
        "sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')) AS l2 " +
        "FROM embeddings) " +
        "SELECT d.lang, e.label, count(*)::BIGINT AS n, ROUND(avg(e.l2) + 5e-10, 6) AS mean_l2 " +
        "FROM e JOIN documents d ON e.vec_id = d.doc_id " +
        "GROUP BY d.lang, e.label ORDER BY d.lang, e.label"),
    // list_aggregate('sum') folds in list order, same as Spark's
    // aggregate() — identical doubles, identical order, identical sum
    "s6_random_projection" -> {
      // plane literals + 1/sqrt(8) as round-tripped double strings; both
      // engines run the same sequential double inner product (the d5
      // precedent), so each component is the identical double
      val planes = graft.ops.Similarity.randomPlanes(8, 64)
      val scale = 1.0 / math.sqrt(8.0)
      val cols = planes.zipWithIndex.map { case (p, i) =>
        s"round(list_inner_product(embedding::DOUBLE[], ${p.mkString("[", ", ", "]")}) " +
          s"* $scale + 5e-10, 6) AS p$i" }
      s"SELECT vec_id, ${cols.mkString(", ")} FROM embeddings ORDER BY vec_id"
    },
    "s4_vector_norms" ->
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "s AS (SELECT vec_id, v, list_aggregate(list_transform(v, x -> x * x), 'sum') AS sq FROM e) " +
        "SELECT vec_id, len(v)::BIGINT AS dim, " +
        "ROUND(sqrt(sq) + 5e-10, 6) AS l2, " +
        "ROUND(list_max(list_transform(v, x -> abs(x))) + 5e-10, 6) AS max_abs, " +
        "ROUND(v[1] / sqrt(sq) + 5e-10, 6) AS unit_first " +
        "FROM s ORDER BY vec_id"),
    "s16_binary_hamming" -> {
      // the same 32-bit word packing, term for term: disjoint bits, so
      // + substitutes for | (the o2 Morton precedent); Hamming via
      // bit_count(xor); shortlist and rerank replay the two windows
      def word(w: Int) = (0 until 32).map(b =>
        s"(CASE WHEN embedding[${w * 32 + b + 1}] > 0 THEN ${1L << b}::BIGINT ELSE 0 END)")
        .mkString(" + ")
      ("WITH c AS (SELECT vec_id, embedding, " +
        s"${word(0)} AS w0, ${word(1)} AS w1 FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, w0 AS q0, w1 AS q1, embedding::DOUBLE[] AS qv " +
        "FROM c WHERE vec_id < 3), " +
        "h AS (SELECT q.qid AS query_id, c.vec_id AS id, " +
        "CAST(bit_count(xor(c.w0, q.q0)) AS BIGINT) + CAST(bit_count(xor(c.w1, q.q1)) AS BIGINT) AS hamming " +
        "FROM c CROSS JOIN q), " +
        "sl AS (SELECT query_id, id, hamming, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY hamming, id) AS rn FROM h), " +
        "cand AS (SELECT query_id, id, hamming FROM sl WHERE rn <= 50), " +
        "r AS (SELECT cand.query_id, cand.id, cand.hamming, " +
        "list_cosine_similarity(c2.embedding::DOUBLE[], q.qv) AS cos0 " +
        "FROM cand JOIN c c2 ON c2.vec_id = cand.id JOIN q ON q.qid = cand.query_id), " +
        "rk AS (SELECT query_id, id, hamming, ROUND(cos0, 6) AS cosine, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, id) AS rn FROM r) " +
        "SELECT query_id, id, hamming, cosine FROM rk WHERE rn <= 10 " +
        "ORDER BY query_id, cosine DESC, id")
    },
    "s1_cosine_topk" ->
      ("WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3) " +
        "SELECT query_id, id, cosine FROM (" +
        "SELECT q.qid AS query_id, e.vec_id AS id, " +
        "ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cosine, " +
        "row_number() OVER (PARTITION BY q.qid " +
        "ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id) AS rn " +
        "FROM embeddings e CROSS JOIN q) WHERE rn <= 10 " +
        "ORDER BY query_id, cosine DESC, id"),
    "x1_text_stats" ->
      (s"SELECT doc_id, length(text) AS n_chars_computed, len($Toks) AS n_tokens, " +
        raw"ROUND(length(regexp_replace(text, '$Ws', '', 'g'))::DOUBLE / greatest(len($Toks), 1), 6) AS mean_token_len, " +
        "ROUND(length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE / greatest(length(text), 1), 6) AS punct_ratio, " +
        "ROUND(length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / greatest(length(text), 1), 6) AS digit_ratio, " +
        "ROUND(length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE / greatest(length(text), 1), 6) AS upper_ratio, " +
        s"ROUND(len(list_filter(${toksOf("text")}, t -> list_contains($StopwordList, t)))::DOUBLE / " +
        s"greatest(len(${toksOf("text")}), 1), 6) AS stopword_ratio " +
        "FROM documents ORDER BY doc_id"),
    "x3_token_topk" ->
      (s"SELECT t AS token, count(*) AS cnt FROM (SELECT unnest($Toks) AS t FROM documents) " +
        "GROUP BY t ORDER BY cnt DESC, token LIMIT 20"),
    "p13_temperature_weights" ->
      // identical float order: per-language pow, then one global sum
      ("WITH c AS (SELECT lang, count(*)::BIGINT AS n_docs " +
        "FROM documents GROUP BY lang), " +
        "w AS (SELECT lang, n_docs, pow(n_docs::DOUBLE, 0.5) AS pw FROM c) " +
        "SELECT lang, n_docs, round(pw / (SELECT sum(pw) FROM w) + 5e-10, 6) AS share " +
        "FROM w ORDER BY lang"),
    "x18_sentence_stats" ->
      // the same split/filter/strip arithmetic with RE2's identical
      // character classes, and the ARI algebra term for term
      ("SELECT doc_id, " +
        s"len(list_filter(string_split_regex(text, '[.!?]+$Ws+'), s -> length(trim(s)) > 0))::BIGINT AS n_sentences, " +
        s"len($Toks)::BIGINT AS n_words, " +
        s"length(regexp_replace(text, '$Ws+', '', 'g'))::BIGINT AS n_chars, " +
        s"round(CASE WHEN len(list_filter(string_split_regex(text, '[.!?]+$Ws+'), s -> length(trim(s)) > 0)) > 0 " +
        s"THEN len($Toks)::DOUBLE / len(list_filter(string_split_regex(text, '[.!?]+$Ws+'), s -> length(trim(s)) > 0)) END + 5e-10, 6) AS words_per_sentence, " +
        s"round(CASE WHEN len($Toks) > 0 AND len(list_filter(string_split_regex(text, '[.!?]+$Ws+'), s -> length(trim(s)) > 0)) > 0 " +
        s"THEN 4.71 * (length(regexp_replace(text, '$Ws+', '', 'g'))::DOUBLE / len($Toks)) " +
        s"+ 0.5 * (len($Toks)::DOUBLE / len(list_filter(string_split_regex(text, '[.!?]+$Ws+'), s -> length(trim(s)) > 0))) " +
        "- 21.43 END + 5e-10, 6) AS ari " +
        "FROM documents WHERE text IS NOT NULL ORDER BY doc_id"),
    "x23_flesch" ->
      // same split/token fragments as x18 plus the vowel-group
      // syllable count; Flesch and FK algebra replayed term for term
      (s"WITH t AS (SELECT doc_id, " +
        s"len(list_filter(string_split_regex(text, '[.!?]+$Ws+'), s -> length(trim(s)) > 0))::BIGINT AS ns, " +
        s"len($Toks)::BIGINT AS nw, " +
        "len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS nsyl " +
        "FROM documents WHERE text IS NOT NULL) " +
        "SELECT doc_id, ns AS n_sentences, nw AS n_words, nsyl AS n_syllables, " +
        "round(CASE WHEN nw > 0 AND ns > 0 THEN " +
        "206.835 - 1.015 * (nw::DOUBLE / ns) - 84.6 * (nsyl::DOUBLE / nw) END + 5e-10, 6) AS flesch_ease, " +
        "round(CASE WHEN nw > 0 AND ns > 0 THEN " +
        "0.39 * (nw::DOUBLE / ns) + 11.8 * (nsyl::DOUBLE / nw) - 15.59 END + 5e-10, 6) AS fk_grade " +
        "FROM t ORDER BY doc_id"),
    "x25_feature_hash" ->
      // bucket, sign, and signed count re-derived from the same
      // positional char hash (the p10 fragment), 1-based list index ==
      // Spark's 0-based i + 1
      (s"WITH tkn AS (SELECT doc_id, ${toksOf("text")} AS tk FROM documents), " +
        "occ AS (SELECT doc_id, unnest(tk) AS t FROM tkn), " +
        "nrm AS (SELECT doc_id, regexp_replace(t, '[^a-z0-9]', '', 'g') AS t FROM occ), " +
        "k AS (SELECT doc_id, " +
        "list_sum(list_transform(list_transform(string_split(t, ''), c -> unicode(c)), " +
        "(c, i) -> c * ((i * 2654435761) % 1048573))) % 1048573 AS k " +
        "FROM nrm WHERE length(t) > 0) " +
        "SELECT doc_id, (k % 64)::BIGINT AS bucket, " +
        "CAST(sum(1 - 2 * (((k * 2654435761) >> 12) % 2)) AS BIGINT) AS weight, " +
        "count(*)::BIGINT AS n_terms " +
        "FROM k GROUP BY doc_id, k % 64 ORDER BY doc_id, bucket"),
    "a26_spearman" ->
      // tie-averaged doubled ranks via rank()/count() windows (equal to
      // the census closed form 2*below + cnt + 1), HUGEINT sums cast to
      // DOUBLE, then the identical rho algebra per pair
      ("WITH s AS (SELECT l_quantity::DOUBLE AS q, l_extendedprice::DOUBLE AS e, " +
        "l_discount::DOUBLE AS d FROM lineitem WHERE l_quantity IS NOT NULL " +
        "AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL), " +
        "r AS (SELECT " +
        "(2 * rank() OVER (ORDER BY q) + count(*) OVER (PARTITION BY q) - 1) AS rq, " +
        "(2 * rank() OVER (ORDER BY e) + count(*) OVER (PARTITION BY e) - 1) AS re, " +
        "(2 * rank() OVER (ORDER BY d) + count(*) OVER (PARTITION BY d) - 1) AS rd FROM s), " +
        "g AS (SELECT count(*)::BIGINT AS nn, count(*)::DOUBLE AS n, " +
        "sum(rq)::DOUBLE AS sq, sum(re)::DOUBLE AS se, sum(rd)::DOUBLE AS sd, " +
        "sum(rq*rq)::DOUBLE AS sqq, sum(re*re)::DOUBLE AS see, sum(rd*rd)::DOUBLE AS sdd, " +
        "sum(rq*re)::DOUBLE AS sqe, sum(rq*rd)::DOUBLE AS sqd, sum(re*rd)::DOUBLE AS sed FROM r) " +
        Seq(("l_quantity", "l_extendedprice", "sqe", "sq", "se", "sqq", "see"),
            ("l_quantity", "l_discount", "sqd", "sq", "sd", "sqq", "sdd"),
            ("l_extendedprice", "l_discount", "sed", "se", "sd", "see", "sdd"))
          .map { case (cx, cy, sxy, sx, sy, sxx, syy) =>
            s"SELECT '$cx' AS col_x, '$cy' AS col_y, nn AS n, " +
              s"round(CASE WHEN sqrt(n*$sxx - $sx*$sx) * sqrt(n*$syy - $sy*$sy) > 0 " +
              s"THEN (n*$sxy - $sx*$sy) / (sqrt(n*$sxx - $sx*$sx) * sqrt(n*$syy - $sy*$sy)) END " +
              "+ 5e-10, 6) AS rho FROM g"
          }.mkString(" UNION ALL ") +
        " ORDER BY col_x, col_y"),
    "a27_target_encode" ->
      // per-category decimal sums + the same shrinkage algebra
      ("WITH c AS (SELECT o_orderpriority AS category, count(*)::BIGINT AS n, " +
        "sum(CAST(o_totalprice AS DECIMAL(18,6))) AS s FROM orders " +
        "WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS tn, sum(s) AS ts FROM c) " +
        "SELECT category, n, round(s::DOUBLE / n + 5e-10, 6) AS mean_raw, " +
        "round((s::DOUBLE + 10.0 * (ts::DOUBLE / tn)) / (n::DOUBLE + 10.0) + 5e-10, 6) AS mean_encoded " +
        "FROM c, t ORDER BY category"),
    "a28_woe_iv" ->
      // the same smoothed odds algebra from exact long counts
      ("WITH c AS (SELECT o_orderpriority AS category, count(*)::BIGINT AS n, " +
        "CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good, " +
        "CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_bad " +
        "FROM orders WHERE o_orderpriority IS NOT NULL AND o_orderkey IS NOT NULL GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_good) AS BIGINT) AS tg, CAST(sum(n_bad) AS BIGINT) AS tb FROM c) " +
        "SELECT category, n, n_good, n_bad, " +
        "round(ln(((n_good + 0.5) / (tg + 1.0)) / ((n_bad + 0.5) / (tb + 1.0))) + 5e-10, 6) AS woe, " +
        "round((((n_good + 0.5) / (tg + 1.0)) - ((n_bad + 0.5) / (tb + 1.0))) * " +
        "ln(((n_good + 0.5) / (tg + 1.0)) / ((n_bad + 0.5) / (tb + 1.0))) + 5e-10, 6) AS iv_term " +
        "FROM c, t ORDER BY category"),
    "t23_kendall_tau" ->
      // census self-join with x1 < x2, HUGEINT pair sums, marginal tie
      // pairs, and the identical tau-b algebra
      ("WITH c AS (SELECT l_quantity::DOUBLE AS x, l_discount::DOUBLE AS y, count(*)::BIGINT AS c " +
        "FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL GROUP BY 1, 2), " +
        "cd AS (SELECT coalesce(sum(CASE WHEN a.y < b.y THEN a.c * b.c END), 0) AS C, " +
        "coalesce(sum(CASE WHEN a.y > b.y THEN a.c * b.c END), 0) AS D " +
        "FROM c a JOIN c b ON a.x < b.x), " +
        "tx AS (SELECT coalesce(sum(t * (t - 1) // 2), 0) AS n1 FROM (SELECT sum(c)::BIGINT AS t FROM c GROUP BY x)), " +
        "ty AS (SELECT coalesce(sum(t * (t - 1) // 2), 0) AS n2 FROM (SELECT sum(c)::BIGINT AS t FROM c GROUP BY y)), " +
        "nf AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*)::BIGINT AS n_cells FROM c) " +
        "SELECT n, n_cells, CAST(C AS BIGINT) AS concordant, CAST(D AS BIGINT) AS discordant, " +
        "round(CASE WHEN sqrt(((n * (n - 1) // 2)::DOUBLE - n1::DOUBLE) * ((n * (n - 1) // 2)::DOUBLE - n2::DOUBLE)) > 0 " +
        "THEN (C - D)::DOUBLE / sqrt(((n * (n - 1) // 2)::DOUBLE - n1::DOUBLE) * ((n * (n - 1) // 2)::DOUBLE - n2::DOUBLE)) END " +
        "+ 5e-10, 6) AS tau_b " +
        "FROM nf, cd, tx, ty"),
    "a30_quantile_bins" ->
      // quantile_cont edges (== Spark's exact percentile), the same
      // branch-free bin sum, decimal value sums for the means
      ("WITH e AS (SELECT quantile_cont(l_extendedprice, 0.2) AS e1, " +
        "quantile_cont(l_extendedprice, 0.4) AS e2, " +
        "quantile_cont(l_extendedprice, 0.6) AS e3, " +
        "quantile_cont(l_extendedprice, 0.8) AS e4 " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL), " +
        "b AS (SELECT (CASE WHEN v >= e1 THEN 1 ELSE 0 END + " +
        "CASE WHEN v >= e2 THEN 1 ELSE 0 END + CASE WHEN v >= e3 THEN 1 ELSE 0 END + " +
        "CASE WHEN v >= e4 THEN 1 ELSE 0 END)::BIGINT AS bin, v FROM " +
        "(SELECT l_extendedprice::DOUBLE AS v FROM lineitem " +
        "WHERE l_extendedprice IS NOT NULL), e), " +
        "g AS (SELECT bin, count(*)::BIGINT AS n, " +
        "sum(CAST(v AS DECIMAL(18,6))) AS s FROM b GROUP BY bin) " +
        "SELECT bin, " +
        "round(CASE bin WHEN 0 THEN '-infinity'::DOUBLE WHEN 1 THEN e1 " +
        "WHEN 2 THEN e2 WHEN 3 THEN e3 ELSE e4 END + 5e-10, 6) AS lo, " +
        "round(CASE bin WHEN 0 THEN e1 WHEN 1 THEN e2 WHEN 2 THEN e3 " +
        "WHEN 3 THEN e4 ELSE 'infinity'::DOUBLE END + 5e-10, 6) AS hi, " +
        "n, round(s::DOUBLE / n + 5e-10, 6) AS mean_value " +
        "FROM g, e ORDER BY bin"),
    "s13_embed_cov" ->
      // per-dimension sums + positional product sums via the
      // subscripted self-join; the same (sij - si*sj/n)/(n-1) algebra
      ("WITH tk AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, " +
        "generate_subscripts(embedding, 1) AS i FROM embeddings " +
        "WHERE embedding IS NOT NULL AND len(embedding) = 64), " +
        "nn AS (SELECT count(DISTINCT vec_id)::BIGINT AS n FROM tk), " +
        "s AS (SELECT i, sum(x) AS si FROM tk GROUP BY i), " +
        "p AS (SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sij FROM tk a " +
        "JOIN tk b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2) " +
        "SELECT (p.i - 1)::BIGINT AS i, (p.j - 1)::BIGINT AS j, n, " +
        "round((sij - sa.si * sb.si / n) / (n - 1) + 5e-10, 6) + 0.0 AS cov " +
        "FROM p JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j, nn " +
        "ORDER BY i, j"),
    "s14b_pca_trace" ->
      // trace = Σ_d var_samp(x_d): the s13 diagonal, summed — the
      // similarity invariant the Jacobi spectrum must preserve; the two
      // booleans are literal TRUE (the accuracy/orthonormality contract
      // the Spark side actually evaluates)
      ("WITH tk AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, " +
        "generate_subscripts(embedding, 1) AS i FROM embeddings " +
        "WHERE embedding IS NOT NULL AND len(embedding) = 64), " +
        "nn AS (SELECT count(DISTINCT vec_id)::BIGINT AS n FROM tk), " +
        "v AS (SELECT i, sum(x) AS si, sum(x * x) AS sii FROM tk GROUP BY i) " +
        "SELECT n, round(sum((sii - si * si / n) / (n - 1)) + 5e-10, 6) AS trace, " +
        "true AS eig_sum_ok, true AS orthonormal_ok FROM v, nn GROUP BY n"),
    "c9_curated_export" -> {
      // dedup (d1's window pick) feeds the x2 enrich CTEs; the gate,
      // derived budget, and running-sum shard assignment replay the
      // whole chain from the raw table
      val dd = "dd AS (SELECT doc_id, text FROM (SELECT doc_id, text, " +
        "row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn " +
        "FROM documents WHERE text IS NOT NULL) WHERE rn = 1), "
      (enrichSql("dd", dd) +
        s", k AS (SELECT doc_id, n_tok::BIGINT AS n_tok FROM f WHERE $QualityScoreSql >= 0.5), " +
        "b AS (SELECT greatest(2000, CAST(sum(n_tok) AS BIGINT) // 64) AS budget FROM k), " +
        "w AS (SELECT doc_id, n_tok, coalesce(CAST(sum(n_tok) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prev FROM k) " +
        "SELECT CAST(prev // (SELECT budget FROM b) AS BIGINT) AS shard, " +
        "count(*)::BIGINT AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
        "true AS one_file_per_shard, true AS manifest_match " +
        "FROM w GROUP BY 1 ORDER BY 1")
    },
    "c8_mix_report" ->
      // the x2 enrich CTEs for the quality gate and token counts, then
      // the same sqrt-share and largest-remainder walk
      (enrichSql("documents") +
        ", k AS (SELECT d.source, f.n_tok FROM f JOIN documents d ON d.doc_id = f.doc_id " +
        s"WHERE $QualityScoreSql >= 0.5), " +
        "c AS (SELECT source, count(*)::BIGINT AS n_docs, " +
        "CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM k GROUP BY source), " +
        "w AS (SELECT *, sqrt(n_tokens::DOUBLE) AS m, " +
        "sum(sqrt(n_tokens::DOUBLE)) OVER () AS tm FROM c), " +
        "x AS (SELECT source, n_docs, n_tokens, m / tm AS share, " +
        "100000.0 * (m / tm) AS ex, floor(100000.0 * (m / tm))::BIGINT AS base FROM w), " +
        "y AS (SELECT *, ex - base AS frac, 100000 - sum(base) OVER () AS short, " +
        "row_number() OVER (ORDER BY ex - base DESC, source) AS rn FROM x) " +
        "SELECT source, n_docs, n_tokens, round(share + 5e-10, 6) AS share, " +
        "(base + CASE WHEN rn <= short THEN 1 ELSE 0 END)::BIGINT AS token_budget " +
        "FROM y ORDER BY source"),
    "v11_lift_table" ->
      // quantile_cont decile edges, the same branch-free bin sum, and
      // the same from-the-top cumulative windows
      ("WITH s AS (SELECT embedding[1]::DOUBLE AS v, (label % 2)::BIGINT AS y FROM embeddings " +
        "WHERE embedding[1] IS NOT NULL AND label IS NOT NULL), " +
        "e AS (SELECT " + (1 until 10).map(i =>
          s"quantile_cont(v, 0.$i) AS e$i").mkString(", ") + " FROM s), " +
        "b AS (SELECT (" + (1 until 10).map(i =>
          s"CASE WHEN v >= e$i THEN 1 ELSE 0 END").mkString(" + ") +
        ")::BIGINT AS bin, y FROM s, e), " +
        "g AS (SELECT bin, count(*)::BIGINT AS n, " +
        "CAST(sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos FROM b GROUP BY bin), " +
        "w AS (SELECT *, CAST(sum(n) OVER () AS BIGINT) AS tn, " +
        "CAST(sum(n_pos) OVER () AS BIGINT) AS tp, " +
        "CAST(sum(n) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn, " +
        "CAST(sum(n_pos) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp FROM g) " +
        "SELECT bin, n, n_pos, " +
        "round(n_pos::DOUBLE / n + 5e-10, 6) AS rate, " +
        "round(CASE WHEN tp > 0 THEN (n_pos::DOUBLE / n) / (tp::DOUBLE / tn) END + 5e-10, 6) AS lift, " +
        "round(CASE WHEN tp > 0 THEN cp::DOUBLE / tp END + 5e-10, 6) AS cum_capture, " +
        "round(CASE WHEN tp > 0 THEN (cp::DOUBLE / cn) / (tp::DOUBLE / tn) END + 5e-10, 6) AS cum_lift " +
        "FROM w ORDER BY bin DESC"),
    "w11_seasonal_strength" ->
      // the q8 decomposition CTEs, then the six power sums and the
      // same variance-ratio algebra per key
      ("WITH hourly AS (SELECT event_type AS k, date_trunc('hour', ts) AS h, " +
        "count(*)::DOUBLE AS x FROM events GROUP BY 1, 2), " +
        "b AS (SELECT k, h, x, (row_number() OVER w - 1) % 24 AS phase, " +
        "count(*) OVER wf AS cnt, sum(x) OVER wf AS sm, " +
        "lag(x, 12) OVER w AS xl, lead(x, 12) OVER w AS xr FROM hourly " +
        "WINDOW w AS (PARTITION BY k ORDER BY h), " +
        "wf AS (PARTITION BY k ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)), " +
        "t AS (SELECT k, h, x, phase, " +
        "CASE WHEN cnt = 25 THEN (sm - (xl + xr) / 2.0) / 24.0 END AS trend FROM b), " +
        "d AS (SELECT k, h, x, phase, trend, x - trend AS dd FROM t), " +
        "pm AS (SELECT k, phase, avg(dd) AS pm FROM d GROUP BY 1, 2), " +
        "sea AS (SELECT k, phase, pm - avg(pm) OVER (PARTITION BY k) AS seasonal FROM pm), " +
        "j AS (SELECT d.k, d.x - d.trend - sea.seasonal AS r, sea.seasonal AS s, d.trend AS tr " +
        "FROM d JOIN sea ON d.k = sea.k AND d.phase = sea.phase WHERE d.trend IS NOT NULL), " +
        "g AS (SELECT k, count(*)::BIGINT AS n, sum(r) AS s1, sum(r * r) AS s2, " +
        "sum(s + r) AS s3, sum((s + r) * (s + r)) AS s4, " +
        "sum(tr + r) AS s5, sum((tr + r) * (tr + r)) AS s6 FROM j GROUP BY k) " +
        "SELECT k AS event_type, n, " +
        "round(CASE WHEN n >= 2 AND (s4 - s3 * s3 / n::DOUBLE) / (n::DOUBLE - 1.0) > 0 " +
        "THEN greatest(0.0, 1.0 - ((s2 - s1 * s1 / n::DOUBLE) / (n::DOUBLE - 1.0)) / " +
        "((s4 - s3 * s3 / n::DOUBLE) / (n::DOUBLE - 1.0))) END + 5e-10, 6) AS f_seasonal, " +
        "round(CASE WHEN n >= 2 AND (s6 - s5 * s5 / n::DOUBLE) / (n::DOUBLE - 1.0) > 0 " +
        "THEN greatest(0.0, 1.0 - ((s2 - s1 * s1 / n::DOUBLE) / (n::DOUBLE - 1.0)) / " +
        "((s6 - s5 * s5 / n::DOUBLE) / (n::DOUBLE - 1.0))) END + 5e-10, 6) AS f_trend " +
        "FROM g ORDER BY event_type"),
    "s15_sq8_topk" ->
      // model, codes, and ADC scores all re-derived from scratch: the
      // min/max census, the same floor-256 clamp, the same mid-rise
      // reconstruction inside the dot product
      ("WITH tk AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, " +
        "generate_subscripts(embedding, 1) AS i FROM embeddings " +
        "WHERE embedding IS NOT NULL AND len(embedding) = 64), " +
        "m AS (SELECT i, min(x) AS lo, max(x) AS hi FROM tk GROUP BY i), " +
        "q AS (SELECT i, x AS qx FROM tk WHERE vec_id = 0), " +
        "cd AS (SELECT t.vec_id, t.i, CASE WHEN hi - lo > 0 " +
        "THEN greatest(0.0, least(255.0, floor((t.x - lo) * 256.0 / (hi - lo)))) ELSE 0.0 END AS c, " +
        "lo, hi FROM tk t JOIN m USING (i)), " +
        "sc AS (SELECT vec_id, sum(qx * (lo + (c + 0.5) * (hi - lo) / 256.0)) AS score " +
        "FROM cd JOIN q USING (i) GROUP BY vec_id) " +
        "SELECT vec_id, round(score + 5e-10, 6) AS score FROM sc " +
        "ORDER BY score DESC, vec_id LIMIT 10"),
    "p18_neyman_allocation" ->
      // decimal census, the same sd/share algebra, and the same
      // largest-remainder walk (frac desc, stratum tie-break)
      ("WITH c AS (SELECT o_orderpriority AS stratum, count(*)::BIGINT AS n, " +
        "sum(CAST(o_totalprice AS DECIMAL(18,6))) AS sx, " +
        "sum(CAST(o_totalprice AS DECIMAL(28,6)) * CAST(o_totalprice AS DECIMAL(28,6))) AS sxx " +
        "FROM orders WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL GROUP BY 1), " +
        "d AS (SELECT stratum, n, CASE WHEN n >= 2 THEN " +
        "sqrt((sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0)) " +
        "ELSE 0.0 END AS sd FROM c), " +
        "e AS (SELECT *, n::DOUBLE * sd AS m, sum(n::DOUBLE * sd) OVER () AS tm, " +
        "sum(n) OVER () AS tn FROM d), " +
        "f AS (SELECT stratum, n, sd, CASE WHEN tm > 0 THEN m / tm " +
        "ELSE n::DOUBLE / tn END AS share FROM e), " +
        "g AS (SELECT *, 1000.0 * share AS ex, floor(1000.0 * share)::BIGINT AS base FROM f), " +
        "h AS (SELECT *, ex - base AS frac, 1000 - sum(base) OVER () AS short, " +
        "row_number() OVER (ORDER BY ex - base DESC, stratum) AS rn FROM g) " +
        "SELECT stratum, n, round(sd + 5e-10, 6) AS sd, " +
        "round(share + 5e-10, 6) AS share, " +
        "(base + CASE WHEN rn <= short THEN 1 ELSE 0 END)::BIGINT AS n_alloc " +
        "FROM h ORDER BY stratum"),
    "w10_rolling_median" ->
      // the same daily census with a framed quantile_cont window
      ("WITH d AS (SELECT event_type, " +
        "date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS day, " +
        "count(*)::DOUBLE AS y FROM events " +
        "WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2) " +
        "SELECT event_type, day, y::BIGINT AS n_events, " +
        "round(quantile_cont(y, 0.5) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) + 5e-10, 6) AS med7 " +
        "FROM d ORDER BY event_type, day"),
    "w9_theil_sen" ->
      // the daily census, the pairwise-slope join, and quantile_cont
      // (DuckDB's interpolated median == Spark's exact percentile)
      ("WITH d AS (SELECT event_type, " +
        "date_diff('day', DATE '1970-01-01', ts::DATE)::DOUBLE AS day, " +
        "count(*)::DOUBLE AS y FROM events " +
        "WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "p AS (SELECT a.event_type, (b.y - a.y) / (b.day - a.day) AS slope " +
        "FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day), " +
        "m AS (SELECT event_type, count(*)::BIGINT AS n_pairs, " +
        "quantile_cont(slope, 0.5) AS sen_slope FROM p GROUP BY 1), " +
        "c AS (SELECT event_type, count(*)::BIGINT AS n_points FROM d GROUP BY 1) " +
        "SELECT m.event_type, n_points, n_pairs, " +
        "round(sen_slope + 5e-10, 6) AS sen_slope " +
        "FROM m JOIN c USING (event_type) ORDER BY event_type"),
    "w12_mann_kendall" ->
      // w9's daily census; S via the signed pair join (exact integer),
      // ties via the (key, y) census, Var and Z replayed as the same
      // single double expressions
      ("WITH d AS (SELECT event_type, " +
        "date_diff('day', DATE '1970-01-01', ts::DATE)::DOUBLE AS day, " +
        "count(*)::DOUBLE AS y FROM events " +
        "WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "s AS (SELECT a.event_type, CAST(sum(CASE WHEN b.y > a.y THEN 1 " +
        "WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat " +
        "FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day GROUP BY 1), " +
        "tg AS (SELECT event_type, y, count(*)::BIGINT AS t FROM d GROUP BY 1, 2), " +
        "ti AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n_points, " +
        "CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tiek FROM tg GROUP BY 1), " +
        "v AS (SELECT ti.event_type, n_points, coalesce(s.s_stat, 0) AS s_stat, " +
        "(n_points * (n_points - 1) * (2 * n_points + 5) - tiek) / 18.0 AS var_s " +
        "FROM ti LEFT JOIN s USING (event_type)) " +
        "SELECT event_type, n_points, s_stat, round(var_s + 5e-10, 6) AS var_s, " +
        "round(CASE WHEN n_points >= 2 AND var_s > 0 THEN " +
        "(s_stat - sign(s_stat)) / sqrt(var_s) END + 5e-10, 6) AS z " +
        "FROM v ORDER BY event_type"),
    "v10_pr_auc" ->
      // per-distinct-score class counts, both strictly-below cumsums,
      // each trapezoid term row-local with the same operand order
      ("WITH s AS (SELECT embedding[1]::DOUBLE AS v, (label % 2)::BIGINT AS y FROM embeddings " +
        "WHERE embedding[1] IS NOT NULL AND label IS NOT NULL), " +
        "g AS (SELECT v, sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END)::BIGINT AS np, " +
        "sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::BIGINT AS nn FROM s GROUP BY v), " +
        "t AS (SELECT sum(np)::BIGINT AS p, sum(nn)::BIGINT AS n FROM g), " +
        "c AS (SELECT np, nn, " +
        "coalesce(sum(np) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pb, " +
        "coalesce(sum(nn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS nb FROM g), " +
        "x AS (SELECT np, (p - pb)::DOUBLE AS tp, (n - nb)::DOUBLE AS fp, " +
        "(p - pb)::DOUBLE - np AS tpp, (n - nb)::DOUBLE - nn AS fpp, p, n FROM c, t), " +
        "z AS (SELECT sum(np::DOUBLE / p * " +
        "((tp / (tp + fp)) + (CASE WHEN tpp + fpp > 0 THEN tpp / (tpp + fpp) ELSE 1.0 END)) / 2.0) AS pr_auc " +
        "FROM x) " +
        "SELECT round(pr_auc + 5e-10, 6) AS pr_auc, " +
        "round(p::DOUBLE / (p + n)::DOUBLE + 5e-10, 6) AS baseline, " +
        "p AS n_pos, n AS n_neg FROM z, t"),
    "g9_jaccard_links" ->
      // the g7 wedge census with inclusion-exclusion degrees
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "e AS (SELECT i AS a, i + 1 AS b FROM ids WHERE i % 50 <> 49 " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 50 < 48), " +
        "und AS (SELECT a AS z, b AS n FROM e UNION ALL SELECT b, a FROM e), " +
        "deg AS (SELECT z, count(*)::BIGINT AS dg FROM und GROUP BY z), " +
        "hub AS (SELECT und.z, und.n FROM und JOIN deg USING (z) WHERE dg <= 64), " +
        "pr AS (SELECT l.n AS x, r.n AS y FROM hub l JOIN hub r " +
        "ON l.z = r.z AND l.n < r.n), " +
        "sc AS (SELECT x, y, count(*)::BIGINT AS n_common FROM pr GROUP BY x, y), " +
        "nc AS (SELECT sc.x, sc.y, sc.n_common, da.dg AS deg_a, db.dg AS deg_b " +
        "FROM sc JOIN deg da ON da.z = sc.x JOIN deg db ON db.z = sc.y " +
        "WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = sc.x AND e.b = sc.y)) " +
        "SELECT x AS id_a, y AS id_b, n_common, deg_a, deg_b, " +
        "round(n_common::DOUBLE / (deg_a + deg_b - n_common)::DOUBLE + 5e-10, 6) AS jaccard " +
        "FROM nc ORDER BY id_a, id_b"),
    "t24_mantel_haenszel" ->
      // the stratum 2x2 census, the MH sums, and the uncorrected CMH
      // quadratic replayed with the identical operand order
      ("WITH c AS (SELECT l_returnflag AS s, " +
        "CAST(sum(CASE WHEN l_quantity > 25 AND l_discount >= 0.05::DOUBLE THEN 1 ELSE 0 END) AS BIGINT) AS a, " +
        "CAST(sum(CASE WHEN l_quantity > 25 AND NOT (l_discount >= 0.05::DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS b, " +
        "CAST(sum(CASE WHEN NOT (l_quantity > 25) AND l_discount >= 0.05::DOUBLE THEN 1 ELSE 0 END) AS BIGINT) AS c, " +
        "CAST(sum(CASE WHEN NOT (l_quantity > 25) AND NOT (l_discount >= 0.05::DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS d " +
        "FROM lineitem WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL " +
        "AND l_discount IS NOT NULL GROUP BY 1), " +
        "f AS (SELECT *, a + b + c + d AS nk FROM c WHERE a + b + c + d >= 2), " +
        "g AS (SELECT count(*)::BIGINT AS n_strata, CAST(sum(nk) AS BIGINT) AS n, " +
        "CAST(sum(a) AS BIGINT) AS sum_a, " +
        "sum(a::DOUBLE * d / nk) AS rn, sum(b::DOUBLE * c / nk) AS rd, " +
        "sum((a + b)::DOUBLE * (a + c) / nk) AS esum, " +
        "sum((a + b)::DOUBLE * (c + d) * (a + c) * (b + d) / (nk::DOUBLE * nk * (nk - 1.0))) AS vsum " +
        "FROM f) " +
        "SELECT n_strata, n, sum_a, " +
        "round(CASE WHEN rd > 0 THEN rn / rd END + 5e-10, 6) AS or_mh, " +
        "round(CASE WHEN vsum > 0 THEN (sum_a::DOUBLE - esum) * (sum_a::DOUBLE - esum) / vsum END + 5e-10, 6) AS cmh_stat " +
        "FROM g"),
    "t25_risk_ratios" ->
      // the 4-cell census and all three Wald intervals with the same
      // operand order (z pinned to the same 15-digit constant)
      ("WITH raw AS (SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS e, " +
        "CASE WHEN o_totalprice > 150000.0::DOUBLE THEN 1 ELSE 0 END AS o FROM orders " +
        "WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL), " +
        "c AS (SELECT CAST(sum(e * o) AS BIGINT) AS a, CAST(sum(e * (1 - o)) AS BIGINT) AS b, " +
        "CAST(sum((1 - e) * o) AS BIGINT) AS c, CAST(sum((1 - e) * (1 - o)) AS BIGINT) AS d FROM raw), " +
        "x AS (SELECT *, a::DOUBLE + b AS n1, c::DOUBLE + d AS n0, " +
        "a::DOUBLE / (a::DOUBLE + b) AS p1, c::DOUBLE / (c::DOUBLE + d) AS p0, " +
        "1.959963984540054 AS z, a > 0 AND b > 0 AND c > 0 AND d > 0 AS ok, " +
        "a::DOUBLE * d / (b::DOUBLE * c) AS orv, " +
        "sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d) AS seor FROM c), " +
        "y AS (SELECT *, p1 / p0 AS rrv, sqrt(b / (a::DOUBLE * n1) + d / (c::DOUBLE * n0)) AS serr, " +
        "sqrt(p1 * (1.0 - p1) / n1 + p0 * (1.0 - p0) / n0) AS serd FROM x) " +
        "SELECT a + b + c + d AS n, a, b, c, d, " +
        "round(CASE WHEN ok THEN orv END + 5e-10, 6) AS odds_ratio, " +
        "round(CASE WHEN ok THEN exp(ln(orv) - z * seor) END + 5e-10, 6) AS or_lo, " +
        "round(CASE WHEN ok THEN exp(ln(orv) + z * seor) END + 5e-10, 6) AS or_hi, " +
        "round(CASE WHEN a > 0 AND c > 0 THEN rrv END + 5e-10, 6) AS risk_ratio, " +
        "round(CASE WHEN a > 0 AND c > 0 THEN exp(ln(rrv) - z * serr) END + 5e-10, 6) AS rr_lo, " +
        "round(CASE WHEN a > 0 AND c > 0 THEN exp(ln(rrv) + z * serr) END + 5e-10, 6) AS rr_hi, " +
        "round(CASE WHEN n1 > 0 AND n0 > 0 THEN p1 - p0 END + 5e-10, 6) AS risk_diff, " +
        "round(CASE WHEN n1 > 0 AND n0 > 0 THEN p1 - p0 - z * serd END + 5e-10, 6) AS rd_lo, " +
        "round(CASE WHEN n1 > 0 AND n0 > 0 THEN p1 - p0 + z * serd END + 5e-10, 6) AS rd_hi " +
        "FROM y"),
    "t27_welch_t" ->
      // the 2-row decimal census, then the same Welch algebra with
      // every operand double-cast in the same positions
      ("WITH c AS (SELECT o_orderstatus AS g, count(*)::BIGINT AS n, " +
        "sum(CAST(o_totalprice AS DECIMAL(18,6))) AS sx, " +
        "sum(CAST(o_totalprice AS DECIMAL(28,6)) * CAST(o_totalprice AS DECIMAL(28,6))) AS sxx " +
        "FROM orders WHERE o_orderstatus IN ('F','O') AND o_totalprice IS NOT NULL GROUP BY 1), " +
        "w AS (SELECT min(g) AS ga, max(g) AS gb, count(DISTINCT g)::BIGINT AS k FROM c), " +
        "p AS (SELECT w.ga AS group_a, w.gb AS group_b, k AS n_groups, " +
        "a.n AS n_a, b.n AS n_b, a.sx AS sxa, a.sxx AS sxxa, b.sx AS sxb, b.sxx AS sxxb " +
        "FROM w JOIN c a ON a.g = w.ga JOIN c b ON b.g = w.gb), " +
        "q AS (SELECT *, sxa::DOUBLE / n_a::DOUBLE AS ma, sxb::DOUBLE / n_b::DOUBLE AS mb, " +
        "(sxxa::DOUBLE - sxa::DOUBLE * sxa::DOUBLE / n_a::DOUBLE) / (n_a::DOUBLE - 1.0) AS va, " +
        "(sxxb::DOUBLE - sxb::DOUBLE * sxb::DOUBLE / n_b::DOUBLE) / (n_b::DOUBLE - 1.0) AS vb FROM p), " +
        "z AS (SELECT *, va / n_a::DOUBLE + vb / n_b::DOUBLE AS se2, " +
        "n_groups = 2 AND n_a >= 2 AND n_b >= 2 AS ok FROM q) " +
        "SELECT group_a, group_b, n_groups, n_a, n_b, " +
        "round(ma + 5e-10, 6) AS mean_a, round(mb + 5e-10, 6) AS mean_b, " +
        "round(CASE WHEN ok AND se2 > 0 THEN (ma - mb) / sqrt(se2) END + 5e-10, 6) AS t_stat, " +
        "round(CASE WHEN ok AND se2 > 0 THEN se2 * se2 / " +
        "((va / n_a::DOUBLE) * (va / n_a::DOUBLE) / (n_a::DOUBLE - 1.0) + " +
        "(vb / n_b::DOUBLE) * (vb / n_b::DOUBLE) / (n_b::DOUBLE - 1.0)) END + 5e-10, 6) AS dof " +
        "FROM z"),
    "t28_paired_t" ->
      // exact decimal difference sums, the same one-sample algebra
      ("WITH s AS (SELECT count(*)::BIGINT AS n, " +
        "sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) - " +
        "CAST(l_extendedprice AS DECIMAL(18,6))) AS sd, " +
        "sum((CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6)) - " +
        "CAST(l_extendedprice AS DECIMAL(28,6))) * " +
        "(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6)) - " +
        "CAST(l_extendedprice AS DECIMAL(28,6)))) AS sdd " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL), " +
        "q AS (SELECT n, sd::DOUBLE / n::DOUBLE AS md, " +
        "(sdd::DOUBLE - sd::DOUBLE * sd::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0) AS vd FROM s) " +
        "SELECT n, round(md + 5e-10, 6) AS mean_diff, " +
        "round(CASE WHEN n >= 2 AND vd >= 0 THEN sqrt(vd) END + 5e-10, 6) AS sd_diff, " +
        "round(CASE WHEN n >= 2 AND vd > 0 THEN md / (sqrt(vd) / sqrt(n::DOUBLE)) END + 5e-10, 6) AS t_stat, " +
        "CASE WHEN n >= 2 THEN (n - 1)::BIGINT END AS dof FROM q"),
    "g10_assortativity" ->
      // degree census on both directions, HUGEINT power sums, one
      // double correlation with the identical operand order
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "e AS (SELECT i AS a, i + 1 AS b FROM ids WHERE i % 50 <> 49 " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 50 < 48), " +
        "und AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e), " +
        "deg AS (SELECT u AS z, count(*)::BIGINT AS dg FROM und GROUP BY u), " +
        "j AS (SELECT du.dg AS du, dv.dg AS dv FROM und " +
        "JOIN deg du ON du.z = und.u JOIN deg dv ON dv.z = und.v), " +
        "s AS (SELECT count(*)::BIGINT AS m, sum(du::HUGEINT) AS sx, sum(dv::HUGEINT) AS sy, " +
        "sum(du::HUGEINT * dv) AS sxy, sum(du::HUGEINT * du) AS sxx, " +
        "sum(dv::HUGEINT * dv) AS syy FROM j) " +
        "SELECT m AS n_edges, " +
        "round(CASE WHEN sqrt(m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * " +
        "sqrt(m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0 " +
        "THEN (m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) / " +
        "(sqrt(m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * " +
        "sqrt(m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)) END + 5e-10, 6) AS r_assortativity " +
        "FROM s"),
    "a32_bartlett" ->
      // per-flag decimal power sums, the same pooled-variance and
      // correction-factor algebra over the census rows
      ("WITH c AS (SELECT l_returnflag AS g, count(*)::BIGINT AS ni, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS sx, " +
        "sum(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS sxx " +
        "FROM lineitem WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL GROUP BY 1), " +
        "s AS (SELECT ni, (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / ni::DOUBLE) / (ni::DOUBLE - 1.0) AS s2 FROM c), " +
        "g AS (SELECT count(*)::BIGINT AS k, CAST(sum(ni) AS BIGINT) AS n, " +
        "min(ni) AS minn, min(s2) AS mins2, " +
        "sum((ni - 1)::DOUBLE * s2) AS ssw, sum((ni - 1)::DOUBLE * ln(s2)) AS slog, " +
        "sum(1.0 / (ni - 1)::DOUBLE) AS sinv FROM s) " +
        "SELECT k, n, round(CASE WHEN k >= 2 AND minn >= 2 AND mins2 > 0 THEN " +
        "((n - k)::DOUBLE * ln(ssw / (n - k)::DOUBLE) - slog) / " +
        "(1.0 + (sinv - 1.0 / (n - k)::DOUBLE) / (3.0 * (k - 1)::DOUBLE)) END + 5e-10, 6) AS chi2, " +
        "(k - 1)::BIGINT AS dof FROM g"),
    "w13_changepoint" ->
      // the daily census, both prefix windows, the identical score
      // expression, argmax via row_number with the earliest-day tie
      ("WITH d AS (SELECT event_type, " +
        "date_diff('day', DATE '1970-01-01', ts::DATE)::DOUBLE AS day, " +
        "count(*)::DOUBLE AS y FROM events " +
        "WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "w AS (SELECT event_type, day, y, " +
        "count(*) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl, " +
        "sum(y) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl, " +
        "count(*) OVER (PARTITION BY event_type) AS n, " +
        "sum(y) OVER (PARTITION BY event_type) AS s FROM d), " +
        "sc AS (SELECT event_type, day, n, sl / nl AS ml, (s - sl) / (n - nl) AS mr, " +
        "abs(sl / nl - (s - sl) / (n - nl)) * sqrt(nl::DOUBLE * (n - nl) / n) AS stat " +
        "FROM w WHERE nl < n), " +
        "b AS (SELECT *, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY stat DESC, day) AS rn FROM sc) " +
        "SELECT event_type, CAST(n AS BIGINT) AS n_points, CAST(day AS BIGINT) AS split_x, " +
        "round(ml + 5e-10, 6) AS mean_left, round(mr + 5e-10, 6) AS mean_right, " +
        "round(stat + 5e-10, 6) AS stat FROM b WHERE rn = 1 ORDER BY event_type"),
    "t29_cochran_q" ->
      // the six exact longs and the single-division Q, replayed
      ("WITH b AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS t1, " +
        "CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS t2, " +
        "CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS t3 FROM orders " +
        "WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL " +
        "AND o_orderkey IS NOT NULL), " +
        "g AS (SELECT count(*)::BIGINT AS n, CAST(sum(t1 + t2 + t3) AS BIGINT) AS t, " +
        "CAST(sum((t1 + t2 + t3) * (t1 + t2 + t3)) AS BIGINT) AS r2, " +
        "CAST(sum(t1) AS BIGINT) AS c1, CAST(sum(t2) AS BIGINT) AS c2, " +
        "CAST(sum(t3) AS BIGINT) AS c3 FROM b) " +
        "SELECT n, 3::BIGINT AS k, t AS t_total, " +
        "round(CASE WHEN 3 * t - r2 > 0 THEN " +
        "CAST(2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - t * t) AS DOUBLE) / (3 * t - r2) END " +
        "+ 5e-10, 6) AS q_stat, 2::BIGINT AS dof FROM g"),
    "g12_rich_club" ->
      // g1's edge replay + degree census; suffix counts via the same
      // greater-than joins in census space
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "raw AS (SELECT i AS a, i + 1 AS b FROM ids " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 3 = 0 " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 5 = 0 " +
        "UNION ALL SELECT i, i + 4 FROM ids WHERE i % 7 = 0), " +
        "ce AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM raw WHERE a <> b), " +
        "deg AS (SELECT node, count(*)::BIGINT AS deg FROM " +
        "(SELECT a AS node FROM ce UNION ALL SELECT b FROM ce) GROUP BY node), " +
        "dc AS (SELECT deg, count(*)::BIGINT AS cnt FROM deg GROUP BY deg), " +
        "em AS (SELECT least(da.deg, db.deg) AS mdeg, count(*)::BIGINT AS ecnt " +
        "FROM ce JOIN deg da ON da.node = ce.a JOIN deg db ON db.node = ce.b GROUP BY 1), " +
        "ks AS (SELECT deg AS k FROM dc WHERE deg < (SELECT max(deg) FROM dc)), " +
        "nk AS (SELECT k, CAST(sum(cnt) AS BIGINT) AS n_nodes FROM ks " +
        "JOIN dc ON dc.deg > ks.k GROUP BY k), " +
        "ek AS (SELECT k, CAST(coalesce(sum(ecnt), 0) AS BIGINT) AS n_edges FROM ks " +
        "LEFT JOIN em ON em.mdeg > ks.k GROUP BY k) " +
        "SELECT nk.k, n_nodes, n_edges, " +
        "round(CASE WHEN n_nodes >= 2 THEN n_edges::DOUBLE * 2.0 / (n_nodes * (n_nodes - 1)) END " +
        "+ 5e-10, 6) AS phi FROM nk JOIN ek USING (k) ORDER BY k"),
    "a31_cuped" -> {
      // per-flag decimal power sums, pooled theta/xbar off their
      // grand totals, the identical double algebra per census row
      val vy = "(syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0)"
      val vx = "(sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0)"
      val cv = "(sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0)"
      val vc = s"$vy - 2.0 * theta * $cv + theta * theta * $vx"
      ("WITH c AS (SELECT l_returnflag AS g, count(*)::BIGINT AS n, " +
        "sum(CAST(l_quantity AS DECIMAL(18,6))) AS sx, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS sy, " +
        "sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_quantity AS DECIMAL(28,6))) AS sxx, " +
        "sum(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS syy, " +
        "sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS sxy " +
        "FROM lineitem WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL " +
        "AND l_quantity IS NOT NULL GROUP BY 1), " +
        "p AS (SELECT CAST(sum(n) AS BIGINT) AS pn, sum(sx) AS psx, sum(sy) AS psy, " +
        "sum(sxx) AS psxx, sum(sxy) AS psxy FROM c), " +
        "t AS (SELECT c.*, CASE WHEN pn::DOUBLE * psxx::DOUBLE - psx::DOUBLE * psx::DOUBLE > 0 " +
        "THEN (pn::DOUBLE * psxy::DOUBLE - psx::DOUBLE * psy::DOUBLE) / " +
        "(pn::DOUBLE * psxx::DOUBLE - psx::DOUBLE * psx::DOUBLE) END AS theta, " +
        "psx::DOUBLE / pn::DOUBLE AS xbar FROM c CROSS JOIN p) " +
        "SELECT g AS l_returnflag, n, " +
        "round(sy::DOUBLE / n::DOUBLE + 5e-10, 6) AS mean_y, " +
        "round(sy::DOUBLE / n::DOUBLE - theta * (sx::DOUBLE / n::DOUBLE - xbar) + 5e-10, 6) AS mean_cuped, " +
        s"round(CASE WHEN n >= 2 THEN $vy END + 5e-10, 2) AS var_y, " +
        s"round(CASE WHEN n >= 2 THEN $vc END + 5e-10, 2) AS var_cuped, " +
        s"round(CASE WHEN n >= 2 AND $vy > 0 THEN 1.0 - ($vc) / ($vy) END + 5e-10, 6) AS var_reduction " +
        "FROM t ORDER BY l_returnflag")
    },
    "a33_ols" -> {
      // the a31 decimal power-sum census for (x1, x2, y), then the
      // identical centered-sum/Cramer double algebra per census row
      val c11 = "(s11::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE)"
      val c22 = "(s22::DOUBLE - s2::DOUBLE * s2::DOUBLE / n::DOUBLE)"
      val c12 = "(s12::DOUBLE - s1::DOUBLE * s2::DOUBLE / n::DOUBLE)"
      val c1y = "(s1y::DOUBLE - s1::DOUBLE * sy::DOUBLE / n::DOUBLE)"
      val c2y = "(s2y::DOUBLE - s2::DOUBLE * sy::DOUBLE / n::DOUBLE)"
      val cyy = "(syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE)"
      val det = s"($c11 * $c22 - $c12 * $c12)"
      ("WITH c AS (SELECT l_returnflag AS g, count(*)::BIGINT AS n, " +
        "sum(CAST(l_quantity AS DECIMAL(18,6))) AS s1, " +
        "sum(CAST(l_discount AS DECIMAL(18,6))) AS s2, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS sy, " +
        "sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_quantity AS DECIMAL(28,6))) AS s11, " +
        "sum(CAST(l_discount AS DECIMAL(28,6)) * CAST(l_discount AS DECIMAL(28,6))) AS s22, " +
        "sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_discount AS DECIMAL(28,6))) AS s12, " +
        "sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS s1y, " +
        "sum(CAST(l_discount AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS s2y, " +
        "sum(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS syy " +
        "FROM lineitem WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL " +
        "AND l_discount IS NOT NULL AND l_extendedprice IS NOT NULL GROUP BY 1), " +
        s"b AS (SELECT *, CASE WHEN n >= 3 AND $det > 0 " +
        s"THEN ($c1y * $c22 - $c2y * $c12) / $det END AS b1, " +
        s"CASE WHEN n >= 3 AND $det > 0 " +
        s"THEN ($c2y * $c11 - $c1y * $c12) / $det END AS b2 FROM c) " +
        "SELECT g AS l_returnflag, n, " +
        "round(sy::DOUBLE / n::DOUBLE - b1 * (s1::DOUBLE / n::DOUBLE) - " +
        "b2 * (s2::DOUBLE / n::DOUBLE) + 5e-10, 4) AS b0, " +
        "round(b1 + 5e-10, 4) AS b1, round(b2 + 5e-10, 4) AS b2, " +
        s"round(CASE WHEN b1 IS NOT NULL AND $cyy > 0 " +
        s"THEN (b1 * $c1y + b2 * $c2y) / $cyy END + 5e-10, 6) AS r2 " +
        "FROM b ORDER BY l_returnflag")
    },
    "v13_brier_decomposition" ->
      // the distinct-forecast census, base rate off its totals, the
      // three Murphy terms and their exact-identity recombination
      ("WITH s AS (SELECT (o_orderkey % 1000)::DOUBLE / 1000.0 AS p, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders " +
        "WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL), " +
        "c AS (SELECT p, count(*)::BIGINT AS n, CAST(sum(y) AS BIGINT) AS sy FROM s GROUP BY p), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(sy) AS BIGINT) AS nsy FROM c), " +
        "d AS (SELECT c.n, c.p, c.sy::DOUBLE / c.n AS ybar, t.nn, " +
        "t.nsy::DOUBLE / t.nn AS base FROM c CROSS JOIN t) " +
        "SELECT CAST(min(nn) AS BIGINT) AS n, count(*)::BIGINT AS n_forecasts, " +
        "round(min(base) + 5e-10, 6) AS base_rate, " +
        "round(sum(n * (p - ybar) * (p - ybar) / nn) + 5e-10, 6) AS reliability, " +
        "round(sum(n * (ybar - base) * (ybar - base) / nn) + 5e-10, 6) AS resolution, " +
        "round(min(base * (1.0 - base)) + 5e-10, 6) AS uncertainty, " +
        "round(sum(n * (p - ybar) * (p - ybar) / nn) - sum(n * (ybar - base) * (ybar - base) / nn) " +
        "+ min(base * (1.0 - base)) + 5e-10, 6) AS brier " +
        "FROM d"),
    "a29_partial_corr" ->
      // the nine decimal power sums and the identical double algebra
      ("WITH g AS (SELECT count(*)::BIGINT AS n, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS sx, " +
        "sum(CAST(l_quantity AS DECIMAL(18,6))) AS sy, " +
        "sum(CAST(l_discount AS DECIMAL(18,6))) AS sz, " +
        "sum(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS sxx, " +
        "sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_quantity AS DECIMAL(28,6))) AS syy, " +
        "sum(CAST(l_discount AS DECIMAL(28,6)) * CAST(l_discount AS DECIMAL(28,6))) AS szz, " +
        "sum(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_quantity AS DECIMAL(28,6))) AS sxy, " +
        "sum(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_discount AS DECIMAL(28,6))) AS sxz, " +
        "sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_discount AS DECIMAL(28,6))) AS syz " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL " +
        "AND l_discount IS NOT NULL), " +
        "r AS (SELECT n, " +
        "CASE WHEN sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0 " +
        "THEN (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)) END AS r_xy, " +
        "CASE WHEN sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * sqrt(n::DOUBLE * szz::DOUBLE - sz::DOUBLE * sz::DOUBLE) > 0 " +
        "THEN (n::DOUBLE * sxz::DOUBLE - sx::DOUBLE * sz::DOUBLE) / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * sqrt(n::DOUBLE * szz::DOUBLE - sz::DOUBLE * sz::DOUBLE)) END AS r_xz, " +
        "CASE WHEN sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) * sqrt(n::DOUBLE * szz::DOUBLE - sz::DOUBLE * sz::DOUBLE) > 0 " +
        "THEN (n::DOUBLE * syz::DOUBLE - sy::DOUBLE * sz::DOUBLE) / (sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) * sqrt(n::DOUBLE * szz::DOUBLE - sz::DOUBLE * sz::DOUBLE)) END AS r_yz " +
        "FROM g) " +
        "SELECT n, round(r_xy + 5e-10, 6) AS r_xy, round(r_xz + 5e-10, 6) AS r_xz, " +
        "round(r_yz + 5e-10, 6) AS r_yz, " +
        "round(CASE WHEN abs(r_xz) < 1.0 - 1e-12 AND abs(r_yz) < 1.0 - 1e-12 " +
        "THEN (r_xy - r_xz * r_yz) / (sqrt(1.0 - r_xz * r_xz) * sqrt(1.0 - r_yz * r_yz)) END + 5e-10, 6) AS r_partial " +
        "FROM r"),
    "q15_drift_panel" ->
      // all four legs replayed with their own queries' idioms (q3 psi
      // smoothing, q4 KS sup, q13 decimal mass, q14 homogeneity) and
      // unioned into the same 5-row report
      ("WITH r AS (SELECT n_chars::DOUBLE AS v FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL), " +
        "c AS (SELECT n_chars::DOUBLE AS v FROM documents WHERE lang <> 'en' AND n_chars IS NOT NULL), " +
        "bins AS (SELECT range AS bin FROM range(5)), " +
        {
          val binExpr = Seq(200.0, 500.0, 1000.0, 2000.0)
            .map(e => s"(CASE WHEN v >= $e THEN 1 ELSE 0 END)").mkString(" + ")
          s"rb AS (SELECT $binExpr AS bin, count(*)::BIGINT AS n FROM r GROUP BY 1), " +
          s"cb AS (SELECT $binExpr AS bin, count(*)::BIGINT AS n FROM c GROUP BY 1), "
        } +
        "d0 AS (SELECT bins.bin, coalesce(rb.n, 0)::BIGINT AS nr, coalesce(cb.n, 0)::BIGINT AS nc " +
        "FROM bins LEFT JOIN rb ON bins.bin = rb.bin LEFT JOIN cb ON bins.bin = cb.bin), " +
        "p0 AS (SELECT (nr + 5e-1) / ((SELECT count(*) FROM r) + 25e-1) AS pr, " +
        "(nc + 5e-1) / ((SELECT count(*) FROM c) + 25e-1) AS pc FROM d0), " +
        "psiv AS (SELECT 'psi' AS check_name, sum((pc - pr) * ln(pc / pr)) AS value FROM p0), " +
        "u AS (SELECT v, 1 AS r1, 0 AS c1 FROM r UNION ALL SELECT v, 0, 1 FROM c), " +
        "g0 AS (SELECT v, sum(r1)::BIGINT AS nr, sum(c1)::BIGINT AS nc FROM u GROUP BY v), " +
        "t0 AS (SELECT sum(nr)::BIGINT AS tr, sum(nc)::BIGINT AS tc FROM g0), " +
        "cdf AS (SELECT v, sum(nr) OVER (ORDER BY v) AS cr, sum(nc) OVER (ORDER BY v) AS cc FROM g0), " +
        "ksv AS (SELECT 'ks' AS check_name, abs(cr::DOUBLE / tr - cc::DOUBLE / tc) AS value " +
        "FROM cdf CROSS JOIN t0 ORDER BY value DESC, v LIMIT 1), " +
        "w1g AS (SELECT CAST(n_chars AS DECIMAL(18,6)) AS v, " +
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS r1, " +
        "CASE WHEN lang <> 'en' THEN 1 ELSE 0 END AS c1 FROM documents " +
        "WHERE n_chars IS NOT NULL AND lang IS NOT NULL), " +
        "w1c AS (SELECT v, CAST(sum(r1) AS BIGINT) AS nr, CAST(sum(c1) AS BIGINT) AS nc FROM w1g GROUP BY v), " +
        "w1t AS (SELECT CAST(sum(nr) AS BIGINT) AS tr, CAST(sum(nc) AS BIGINT) AS tc FROM w1c), " +
        "w1w AS (SELECT v, sum(nr) OVER (ORDER BY v) AS cr, sum(nc) OVER (ORDER BY v) AS cc, " +
        "lead(v) OVER (ORDER BY v) AS nv FROM w1c), " +
        "w1m AS (SELECT sum(abs(cr * tc - cc * tr) * (nv - v)) AS mass FROM w1w, w1t WHERE nv IS NOT NULL), " +
        "w1v AS (SELECT 'w1' AS check_name, mass::DOUBLE / (tr::DOUBLE * tc::DOUBLE) AS value FROM w1m, w1t), " +
        "cr2 AS (SELECT source AS cat, count(*)::BIGINT AS nr FROM documents " +
        "WHERE lang = 'en' AND source IS NOT NULL GROUP BY 1), " +
        "cc2 AS (SELECT source AS cat, count(*)::BIGINT AS nc FROM documents " +
        "WHERE lang <> 'en' AND source IS NOT NULL GROUP BY 1), " +
        "cj AS (SELECT coalesce(cr2.cat, cc2.cat) AS cat, coalesce(nr, 0) AS nr, " +
        "coalesce(nc, 0) AS nc FROM cr2 FULL OUTER JOIN cc2 ON cr2.cat = cc2.cat), " +
        "ct AS (SELECT CAST(sum(nr) AS BIGINT) AS tr, CAST(sum(nc) AS BIGINT) AS tc, " +
        "count(*)::BIGINT AS g2 FROM cj), " +
        "cx AS (SELECT sum(" +
        "(CASE WHEN tr::DOUBLE * (nr + nc) / (tr + tc) > 0 " +
        "THEN (nr::DOUBLE - tr::DOUBLE * (nr + nc) / (tr + tc)) * (nr::DOUBLE - tr::DOUBLE * (nr + nc) / (tr + tc)) / (tr::DOUBLE * (nr + nc) / (tr + tc)) ELSE 0.0 END) + " +
        "(CASE WHEN tc::DOUBLE * (nr + nc) / (tr + tc) > 0 " +
        "THEN (nc::DOUBLE - tc::DOUBLE * (nr + nc) / (tr + tc)) * (nc::DOUBLE - tc::DOUBLE * (nr + nc) / (tr + tc)) / (tc::DOUBLE * (nr + nc) / (tr + tc)) ELSE 0.0 END)) AS chi2 " +
        "FROM cj, ct), " +
        "chiv AS (SELECT 'chi2_source' AS check_name, CASE WHEN g2 > 1 THEN chi2 END AS value FROM cx, ct), " +
        "cvv AS (SELECT 'cramers_v_source' AS check_name, " +
        "CASE WHEN g2 > 1 THEN sqrt(chi2 / (tr + tc)::DOUBLE) END AS value FROM cx, ct) " +
        "SELECT check_name, round(value + 5e-10, 6) AS value FROM " +
        "(SELECT * FROM psiv UNION ALL SELECT * FROM ksv UNION ALL SELECT * FROM w1v " +
        "UNION ALL SELECT * FROM chiv UNION ALL SELECT * FROM cvv) ORDER BY check_name"),
    "q13_wasserstein" ->
      // the value census, one global cumulative, and the same decimal
      // cross-product mass with ONE final double division
      ("WITH v AS (SELECT CAST(l_extendedprice AS DECIMAL(18,6)) AS v, " +
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r, " +
        "CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS c " +
        "FROM lineitem WHERE l_returnflag IN ('R','A') AND l_extendedprice IS NOT NULL), " +
        "g AS (SELECT v, CAST(sum(r) AS BIGINT) AS nr, CAST(sum(c) AS BIGINT) AS nc FROM v GROUP BY v), " +
        "t AS (SELECT CAST(sum(nr) AS BIGINT) AS tr, CAST(sum(nc) AS BIGINT) AS tc FROM g), " +
        "w AS (SELECT v, sum(nr) OVER (ORDER BY v) AS cr, sum(nc) OVER (ORDER BY v) AS cc, " +
        "lead(v) OVER (ORDER BY v) AS nv FROM g), " +
        "m AS (SELECT sum(abs(cr * tc - cc * tr) * (nv - v)) AS mass FROM w, t WHERE nv IS NOT NULL) " +
        "SELECT round(mass::DOUBLE / (tr::DOUBLE * tc::DOUBLE) + 5e-10, 6) AS w1, " +
        "tr AS n_ref, tc AS n_cur FROM m, t"),
    "q14_categorical_drift" ->
      // two category censuses full-outer-joined, the homogeneity
      // quadratic with multiplication-before-division operand order
      ("WITH r AS (SELECT source AS cat, count(*)::BIGINT AS nr FROM documents " +
        "WHERE lang = 'en' AND source IS NOT NULL GROUP BY 1), " +
        "c AS (SELECT source AS cat, count(*)::BIGINT AS nc FROM documents " +
        "WHERE lang <> 'en' AND source IS NOT NULL GROUP BY 1), " +
        "j AS (SELECT coalesce(r.cat, c.cat) AS cat, coalesce(nr, 0) AS nr, " +
        "coalesce(nc, 0) AS nc FROM r FULL OUTER JOIN c ON r.cat = c.cat), " +
        "t AS (SELECT CAST(sum(nr) AS BIGINT) AS tr, CAST(sum(nc) AS BIGINT) AS tc, " +
        "count(*)::BIGINT AS g FROM j), " +
        "x AS (SELECT sum(" +
        "(CASE WHEN tr::DOUBLE * (nr + nc) / (tr + tc) > 0 " +
        "THEN (nr::DOUBLE - tr::DOUBLE * (nr + nc) / (tr + tc)) * (nr::DOUBLE - tr::DOUBLE * (nr + nc) / (tr + tc)) / (tr::DOUBLE * (nr + nc) / (tr + tc)) ELSE 0.0 END) + " +
        "(CASE WHEN tc::DOUBLE * (nr + nc) / (tr + tc) > 0 " +
        "THEN (nc::DOUBLE - tc::DOUBLE * (nr + nc) / (tr + tc)) * (nc::DOUBLE - tc::DOUBLE * (nr + nc) / (tr + tc)) / (tc::DOUBLE * (nr + nc) / (tr + tc)) ELSE 0.0 END)) AS chi2 " +
        "FROM j, t) " +
        "SELECT tr AS n_ref, tc AS n_cur, g AS n_categories, " +
        "round(CASE WHEN g > 1 THEN chi2 END + 5e-10, 6) AS chi2, " +
        "(g - 1)::BIGINT AS dof, " +
        "round(CASE WHEN g > 1 THEN sqrt(chi2 / (tr + tc)::DOUBLE) END + 5e-10, 6) AS cramers_v " +
        "FROM x, t"),
    "t22_bh_fdr" ->
      // the Lehmer p spread, the rank, and the step-up tail min
      // replayed verbatim
      ("WITH p AS (SELECT n_nationkey, " +
        "(((n_nationkey::BIGINT + 5) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647) / 2147483647.0 AS p " +
        "FROM nation WHERE n_nationkey IS NOT NULL), " +
        "r AS (SELECT n_nationkey, p, count(*) OVER () AS m, " +
        "row_number() OVER (ORDER BY p, n_nationkey) AS p_rank FROM p), " +
        "a AS (SELECT *, least(1.0, min(p * m / p_rank) OVER (ORDER BY p_rank " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS p_adj FROM r) " +
        "SELECT n_nationkey, round(p + 5e-10, 6) AS p, p_rank::BIGINT AS p_rank, " +
        "round(p_adj + 5e-10, 6) AS p_adj, p_adj <= 0.1 AS reject " +
        "FROM a ORDER BY n_nationkey"),
    "x17_bpe_merges" ->
      // golden merge table for the sf0.01 documents corpus — BPE's
      // iterative argmax-and-rewrite has no SQL replay, so constants
      // stand in, justified by BpeSpec's independent reference trainer
      // reproducing the distributed result (the m9 discipline)
      ("SELECT * FROM (VALUES (1,'e','r'),(2,'i','n'),(3,'o','w'),(4,'o','r')," +
        "(5,'s','t'),(6,'m','er'),(7,'a','t'),(8,'l','u'),(9,'a','r')," +
        "(10,'p','ar'),(11,'j','o'),(12,'jo','in')) " +
        "AS t(\"rank\", \"left\", \"right\") ORDER BY \"rank\""),
    "x26_pmi_collocations" ->
      // positional bigram self-join, both censuses, and the identical
      // left-associative PMI operand order; ties cut lexicographically
      (s"WITH tk AS (SELECT doc_id, unnest($Toks) AS w, " +
        s"generate_subscripts($Toks, 1) AS i FROM documents), " +
        "uni AS (SELECT w, count(*)::BIGINT AS c FROM tk GROUP BY w), " +
        "tu AS (SELECT CAST(sum(c) AS BIGINT) AS nu FROM uni), " +
        "bi AS (SELECT l.w AS w1, r.w AS w2 FROM tk l JOIN tk r " +
        "ON l.doc_id = r.doc_id AND r.i = l.i + 1), " +
        "tb AS (SELECT count(*)::BIGINT AS nb FROM bi), " +
        "bg AS (SELECT w1, w2, count(*)::BIGINT AS c_xy FROM bi " +
        "GROUP BY 1, 2 HAVING count(*) >= 5), " +
        "sc AS (SELECT w1, w2, c_xy, cu1.c AS c_x, cu2.c AS c_y, " +
        "ln(c_xy::DOUBLE * nu * nu / (nb::DOUBLE * cu1.c * cu2.c)) AS pmi " +
        "FROM bg JOIN uni cu1 ON cu1.w = bg.w1 JOIN uni cu2 ON cu2.w = bg.w2, tu, tb) " +
        "SELECT w1, w2, c_xy, c_x, c_y, round(pmi + 5e-10, 6) AS pmi " +
        "FROM sc ORDER BY pmi DESC, w1, w2 LIMIT 20"),
    "x31_kneser_ney" ->
      // the x26 positional bigram census, then every KN ingredient as a
      // census-of-the-census aggregate and the identical left-assoc
      // division algebra (p_cont reused unrounded inside p_kn)
      (s"WITH tk AS (SELECT doc_id, unnest($Toks) AS w, " +
        s"generate_subscripts($Toks, 1) AS i FROM documents), " +
        "bi AS (SELECT l.w AS w1, r.w AS w2 FROM tk l JOIN tk r " +
        "ON l.doc_id = r.doc_id AND r.i = l.i + 1), " +
        "bg AS (SELECT w1, w2, count(*)::BIGINT AS c_xy FROM bi GROUP BY 1, 2), " +
        "lf AS (SELECT w1, CAST(sum(c_xy) AS BIGINT) AS c_left, " +
        "count(*)::BIGINT AS n_follow FROM bg GROUP BY 1), " +
        "rt AS (SELECT w2, count(*)::BIGINT AS n_precede FROM bg GROUP BY 1), " +
        "tt AS (SELECT count(*)::BIGINT AS nbt FROM bg) " +
        "SELECT bg.w1, bg.w2, c_xy, c_left, n_follow, n_precede, " +
        "round(n_precede::DOUBLE / nbt + 5e-10, 6) AS p_cont, " +
        "round(greatest(c_xy::DOUBLE - 0.75, 0.0) / c_left + " +
        "0.75::DOUBLE * n_follow::DOUBLE / c_left * (n_precede::DOUBLE / nbt) " +
        "+ 5e-10, 6) AS p_kn " +
        "FROM bg JOIN lf ON lf.w1 = bg.w1 JOIN rt ON rt.w2 = bg.w2, tt " +
        "ORDER BY c_xy DESC, bg.w1, bg.w2 LIMIT 30"),
    "x28_langid_confusion" ->
      // the x2 enrich CTEs + the same argmax language pick, censused
      // against the stored label
      (enrichSql("documents") +
        ", p AS (SELECT d.lang, " + LangPickSql + " AS lang_pred " +
        "FROM f JOIN documents d ON d.doc_id = f.doc_id " +
        "WHERE d.lang IS NOT NULL AND d.text IS NOT NULL) " +
        "SELECT lang, lang_pred, count(*)::BIGINT AS n FROM p " +
        "GROUP BY 1, 2 ORDER BY lang, lang_pred"),
    "x16_cms_freq" ->
      // exact top-20 replayed; the two CMS guarantee booleans are stable
      // facts of the seed-deterministic grid, pinned TRUE (verified at
      // the gate SF; CountMinSpec pins the guarantees structurally)
      (s"WITH tk AS (SELECT unnest($Toks) AS t FROM documents) " +
        "SELECT t AS token, count(*)::BIGINT AS exact_n, " +
        "true AS est_ge_exact, true AS within_bound " +
        "FROM tk GROUP BY t ORDER BY exact_n DESC, token LIMIT 20"),
    "x2_text_enrich" -> (enrichSql("documents") +
      "SELECT doc_id, " +
        raw"len(regexp_extract_all(text, '[\p{L}\p{N}]+|[^\p{L}\p{N}${TextAnalysis.WhitespaceClass}]'))::BIGINT AS n_tokens_bpeish, " +
        s"ROUND($QualityScoreSql, 6) AS quality_score, " +
        s"$LangPickSql AS lang_pred " +
        "FROM f ORDER BY doc_id"),
    "d10_doc_line_dedup" ->
      ("WITH src AS (SELECT doc_id, concat_ws(chr(10), text, 'DISCLAIMER', text, '', " +
        "'DISCLAIMER', 'footer: ' || lang) AS text FROM documents), " +
        "l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS ln, " +
        "generate_subscripts(string_split(text, chr(10)), 1) AS idx FROM src), " +
        "k AS (SELECT doc_id, idx, ln FROM l QUALIFY ln = '' OR " +
        "idx = min(idx) OVER (PARTITION BY doc_id, ln)) " +
        "SELECT doc_id, string_agg(ln, chr(10) ORDER BY idx) AS text_dedup, " +
        "count(*) AS n_lines_kept FROM k GROUP BY doc_id ORDER BY doc_id"),
    "d9_line_dedup" ->
      ("WITH src AS (SELECT doc_id, concat_ws(chr(10), '== SITE NAV ==', text, 'contact us: ' || lang) AS text FROM documents), " +
        "t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM src), " +
        "l AS (SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1), i -> {'idx': i, 'ln': ls[i]})) AS e FROM t), " +
        "x AS (SELECT doc_id, e.idx AS idx, e.ln AS ln FROM l), " +
        "k AS (SELECT doc_id, idx, ln, (length(ln) = 0 OR " +
        "row_number() OVER (PARTITION BY ln ORDER BY doc_id, idx) = 1) AS keep FROM x) " +
        "SELECT doc_id, string_agg(ln, chr(10) ORDER BY idx) AS text_dedup " +
        "FROM k WHERE keep GROUP BY doc_id ORDER BY doc_id"),
    "d8_decontamination" -> {
      val tri = "list_transform(range(1, len(tk) - 1), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"
      val gs = s"list_filter(list_distinct(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] ELSE $tri END), x -> length(x) > 0)"
      (s"WITH t AS (SELECT doc_id, ${toksOf("text")} AS tk FROM documents), " +
        s"g AS (SELECT doc_id, $gs AS gs FROM t), " +
        "bench AS (SELECT DISTINCT unnest(gs) AS gr FROM g WHERE doc_id < 10), " +
        "corpus AS (SELECT doc_id, len(gs) AS ng, unnest(gs) AS gr FROM g WHERE doc_id >= 10) " +
        "SELECT doc_id, count(*) AS n_overlap, " +
        "ROUND(count(*)::DOUBLE / any_value(ng), 6) AS overlap_ratio " +
        "FROM corpus JOIN bench USING (gr) GROUP BY doc_id ORDER BY doc_id")
    },
    "x5_repetition" -> {
      // non-empty lines; word bigrams WITHOUT the d2 helper's list_distinct
      // (frequency counting needs every occurrence)
      val ls = "list_filter(string_split(text, chr(10)), l -> length(l) > 0)"
      val gs = "CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')] " +
        "ELSE list_transform(range(1, len(tk)), i -> concat_ws(' ', tk[i], tk[i+1])) END"
      (s"WITH src AS (SELECT doc_id, $ls AS ls, ${toksOf("text")} AS tk FROM documents), " +
        s"g AS (SELECT doc_id, ls, $gs AS gs FROM src) " +
        "SELECT doc_id, " +
        "ROUND((len(ls) - len(list_distinct(ls)))::DOUBLE / greatest(len(ls), 1), 6) AS dup_line_ratio, " +
        "ROUND(coalesce(list_sum(list_transform(list_distinct(ls), " +
        "l -> (len(list_filter(ls, x -> x = l)) - 1) * length(l))), 0)::DOUBLE / " +
        "greatest(coalesce(list_sum(list_transform(ls, l -> length(l))), 0), 1), 6) AS dup_line_char_ratio, " +
        "ROUND(coalesce(list_max(list_transform(list_distinct(gs), " +
        "gr -> len(list_filter(gs, x -> x = gr)))), 0)::DOUBLE / greatest(len(gs), 1), 6) AS top_bigram_ratio, " +
        raw"ROUND(len(list_filter(ls, l -> regexp_matches(l, '^[ \t]*[-*•]')))::DOUBLE / " +
        "greatest(len(ls), 1), 6) AS bullet_line_ratio, " +
        raw"ROUND(len(list_filter(ls, l -> regexp_matches(l, '(\.\.\.|…)$$')))::DOUBLE / " +
        "greatest(len(ls), 1), 6) AS ellipsis_line_ratio " +
        "FROM g ORDER BY doc_id")
    },
    "x6_pii" -> {
      import graft.ops.TextAnalysis.{EmailPattern, UrlPattern, Ipv4Pattern, PhonePattern}
      val redacted = Seq(EmailPattern -> "<EMAIL>", UrlPattern -> "<URL>",
        Ipv4Pattern -> "<IP>", PhonePattern -> "<PHONE>")
        .foldLeft("text") { case (t, (p, tag)) => s"regexp_replace($t, '$p', '$tag', 'g')" }
      ("SELECT doc_id, " +
        s"len(regexp_extract_all(text, '$EmailPattern'))::BIGINT AS n_emails, " +
        s"len(regexp_extract_all(text, '$UrlPattern'))::BIGINT AS n_urls, " +
        s"len(regexp_extract_all(text, '$Ipv4Pattern'))::BIGINT AS n_ipv4, " +
        s"len(regexp_extract_all(text, '$PhonePattern'))::BIGINT AS n_phones, " +
        s"length($redacted)::BIGINT AS redacted_len " +
        "FROM documents ORDER BY doc_id")
    },
    "c1_curation" ->
      // end-to-end curation: exact-dedup the corpus, score each survivor,
      // keep quality >= 0.5 (an exact double in both engines: 3/6), report
      // per predicted language. Reuses the x2 enrichment CTE over the
      // deduped source so the composite inherits the same verified
      // semantics.
      (enrichSql("(SELECT doc_id, text FROM (SELECT doc_id, text, " +
        "row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1) dd") +
        s"SELECT $LangPickSql AS lang_pred, count(*) AS n_docs, " +
        "sum(n_tok)::BIGINT AS n_tokens, " +
        s"ROUND(avg($QualityScoreSql) + 5e-10, 6) AS mean_quality " +
        s"FROM f WHERE $QualityScoreSql >= 0.5 " +
        "GROUP BY lang_pred ORDER BY lang_pred"),
    "c4_curation_v2" -> {
      // composed from the verified x11/d12/x10 CTE shapes over the
      // deduped, non-empty corpus; the shared `t` CTE (doc_id, text, tk)
      // from enrichSql feeds every signal so tokenization cannot drift
      val dd = "(SELECT doc_id, text FROM (SELECT doc_id, text, " +
        "row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM documents) " +
        "WHERE rn = 1 AND length(text) > 0) dd"
      val gram = (1 to 5).map(o => s"tk[(i+${o - 1})::INT]").mkString("concat_ws(' ', ", ", ", ")")
      enrichSql(dd) +
        ", chpos AS (SELECT doc_id, text, unnest(range(1, length(text)+1)) AS i FROM t), " +
        "chars AS (SELECT doc_id, substring(text, (i)::INT, 1) AS ch FROM chpos), " +
        "cf AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch), " +
        "cn AS (SELECT doc_id, sum(c)::BIGINT AS n FROM cf GROUP BY doc_id), " +
        "ent AS (SELECT cn.doc_id, log2(cn.n) - sum(cf.c * log2(cf.c)) / cn.n AS entropy " +
        "FROM cf JOIN cn USING (doc_id) GROUP BY cn.doc_id, cn.n), " +
        "dp AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i FROM t WHERE len(tk) >= 5), " +
        s"dg AS (SELECT doc_id, $gram AS gram FROM dp), " +
        "dfr AS (SELECT gram, count(*) AS c FROM dg GROUP BY gram), " +
        "dupf AS (SELECT doc_id, sum(CASE WHEN dfr.c >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS dup_fraction " +
        "FROM dg JOIN dfr USING (gram) GROUP BY doc_id), " +
        "lpos AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM t WHERE len(tk) >= 2), " +
        "bg AS (SELECT doc_id, tk[(i)::INT] AS w1, tk[(i+1)::INT] AS w2 FROM lpos), " +
        "bc2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2), " +
        "bc1 AS (SELECT w1, sum(c2) AS c1 FROM bc2 GROUP BY w1), " +
        "vv AS (SELECT count(DISTINCT w2)::DOUBLE AS v FROM bg), " +
        "lmsc AS (SELECT bg.doc_id, ln((bc2.c2 + 0.1) / (bc1.c1 + 0.1 * vv.v)) AS lp " +
        "FROM bg JOIN bc2 USING (w1, w2) JOIN bc1 USING (w1) CROSS JOIN vv), " +
        "lmq AS (SELECT doc_id, exp(-avg(lp)) AS ppl FROM lmsc GROUP BY doc_id) " +
        s"SELECT $LangPickSql AS lang_pred, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens, " +
        "round(avg(ent.entropy) + 5e-10, 6) AS mean_entropy, " +
        "round(avg(lmq.ppl) + 5e-10, 4) AS mean_ppl " +
        "FROM f JOIN ent ON f.doc_id = ent.doc_id " +
        "LEFT JOIN dupf ON f.doc_id = dupf.doc_id " +
        "LEFT JOIN lmq ON f.doc_id = lmq.doc_id " +
        s"WHERE $QualityScoreSql >= 0.5 " +
        "AND (dupf.dup_fraction IS NULL OR dupf.dup_fraction <= 0.5) " +
        "GROUP BY lang_pred ORDER BY lang_pred"
    },
    "x13_lexical_diversity" ->
      (s"WITH t AS (SELECT doc_id, ${toksOf("text")} AS tk FROM documents), " +
        "tok AS (SELECT doc_id, unnest(tk) AS w FROM t WHERE len(tk) > 0), " +
        "f AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w) " +
        "SELECT doc_id, sum(c)::BIGINT AS n_tok, count(*)::BIGINT AS n_types, " +
        "sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax, " +
        "round(count(*)::DOUBLE / sum(c), 6) AS ttr, " +
        "round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE / sum(c), 6) AS hapax_fraction " +
        "FROM f GROUP BY doc_id ORDER BY doc_id"),
    "x11_char_entropy" ->
      // character frequencies via substring over a position range
      // (DuckDB substring/length are character-unit, matching the Spark
      // expression's codepoint loop); entropy from exact integer counts
      ("WITH cpos AS (SELECT doc_id, text, unnest(range(1, length(text)+1)) AS i " +
        "FROM documents WHERE length(text) > 0), " +
        "chars AS (SELECT doc_id, substring(text, (i)::INT, 1) AS ch FROM cpos), " +
        "f AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch), " +
        "n AS (SELECT doc_id, sum(c)::BIGINT AS n FROM f GROUP BY doc_id) " +
        "SELECT n.doc_id, n.n AS n_cp, " +
        "round(log2(n.n) - sum(f.c * log2(f.c)) / n.n + 5e-10, 6) AS char_entropy " +
        "FROM f JOIN n USING (doc_id) GROUP BY n.doc_id, n.n ORDER BY n.doc_id"),
    "x12_url_domains" ->
      ("WITH planted AS (SELECT doc_id, text || " +
        "(CASE WHEN doc_id % 3 = 0 THEN ' https://site-' || (doc_id % 7)::VARCHAR || '.example.org/a' ELSE '' END) || " +
        "(CASE WHEN doc_id % 5 = 0 THEN ' https://CDN-' || (doc_id % 4)::VARCHAR || '.Example.net:8080/b' ELSE '' END) AS text " +
        "FROM documents), " +
        s"h AS (SELECT unnest(regexp_extract_all(text, '${TextAnalysis.UrlHostPattern}', 1)) AS host " +
        "FROM planted), " +
        "g AS (SELECT lower(host) AS host, count(*) AS cnt FROM h GROUP BY 1) " +
        "SELECT host, cnt FROM g ORDER BY cnt DESC, host LIMIT 20"),
    "u5_snapshot_diff" ->
      ("WITH src AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders), " +
        "bf AS (SELECT * FROM src WHERE o_orderkey % 7 <> 0), " +
        "af AS (SELECT o_orderkey, CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1 " +
        "ELSE o_totalprice END AS o_totalprice, o_orderstatus FROM src WHERE o_orderkey % 5 <> 0) " +
        "SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey, " +
        "CASE WHEN b.o_orderkey IS NULL THEN 'added' " +
        "WHEN a.o_orderkey IS NULL THEN 'removed' " +
        "WHEN (b.o_totalprice IS DISTINCT FROM a.o_totalprice) " +
        "OR (b.o_orderstatus IS DISTINCT FROM a.o_orderstatus) THEN 'changed' " +
        "ELSE 'unchanged' END AS diff_class, " +
        "round(b.o_totalprice + 5e-10, 6) AS before_price, " +
        "round(a.o_totalprice + 5e-10, 6) AS after_price, " +
        "b.o_orderstatus AS before_status, a.o_orderstatus AS after_status " +
        "FROM bf b FULL OUTER JOIN af a ON b.o_orderkey = a.o_orderkey " +
        "ORDER BY o_orderkey"),
    "a10_anomaly" ->
      // every statistic the z-score consumes is a window sum of exact
      // integers; the double arithmetic is written in the identical
      // operation order as the Spark expression
      ("WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "w AS (SELECT event_type, h, n, count(*) OVER win AS cnt, " +
        "sum(n) OVER win AS s, sum(n*n) OVER win AS ssq FROM hourly " +
        "WINDOW win AS (PARTITION BY event_type ORDER BY h " +
        "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)), " +
        "v AS (SELECT event_type, h, n, cnt, s, " +
        "(ssq::DOUBLE - s::DOUBLE * s / cnt) / cnt AS vr FROM w WHERE cnt >= 12) " +
        "SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS h, n::BIGINT AS n, " +
        "round((n::DOUBLE - s::DOUBLE / cnt) / sqrt(vr) + 5e-10, 6) AS z " +
        "FROM v WHERE vr > 0 AND abs((n::DOUBLE - s::DOUBLE / cnt) / sqrt(vr)) >= 2.0 " +
        "ORDER BY event_type, h"),
    "g1_triangles" ->
      // replay the planted edge generation, canonicalize (least/greatest
      // + DISTINCT), enumerate each triangle once via the x<y<z three-way
      // join, then fan each triangle out to its three corners
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "raw AS (SELECT i AS a, i + 1 AS b FROM ids " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 3 = 0 " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 5 = 0 " +
        "UNION ALL SELECT i, i + 4 FROM ids WHERE i % 7 = 0), " +
        "ce AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM raw WHERE a <> b), " +
        "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM ce e1 " +
        "JOIN ce e2 ON e2.a = e1.b JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "corner AS (SELECT unnest([x, y, z]) AS node FROM tri) " +
        "SELECT node, count(*)::BIGINT AS n_triangles FROM corner " +
        "GROUP BY node ORDER BY node"),
    "g11_clustering_coeff" ->
      // g1's triangle replay plus the degree census; nodes outside any
      // triangle left-join to 0, and the class average replays as the
      // same single exact-long division
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "raw AS (SELECT i AS a, i + 1 AS b FROM ids " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 3 = 0 " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 5 = 0 " +
        "UNION ALL SELECT i, i + 4 FROM ids WHERE i % 7 = 0), " +
        "ce AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM raw WHERE a <> b), " +
        "deg AS (SELECT node, count(*)::BIGINT AS deg FROM " +
        "(SELECT a AS node FROM ce UNION ALL SELECT b FROM ce) GROUP BY node), " +
        "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM ce e1 " +
        "JOIN ce e2 ON e2.a = e1.b JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "tc AS (SELECT node, count(*)::BIGINT AS t FROM " +
        "(SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node), " +
        "pn AS (SELECT deg.deg, coalesce(tc.t, 0) AS t FROM deg LEFT JOIN tc USING (node)) " +
        "SELECT deg, count(*)::BIGINT AS n_nodes, CAST(sum(t) AS BIGINT) AS n_triangles, " +
        "round(CASE WHEN deg > 1 THEN CAST(sum(t) AS DOUBLE) * 2.0 / " +
        "(count(*) * deg * (deg - 1)) ELSE 0.0 END + 5e-10, 6) AS avg_coeff " +
        "FROM pn GROUP BY deg ORDER BY deg"),
    "g2_pagerank" -> {
      // 5 unrolled iterations of r'(v) = (1-d)/N + d·Σ r(u)/outdeg(u),
      // the identical double operations as Graph.pageRank ((1.0 - 0.85)
      // spelled as the expression, not a 0.15 literal, so the constant
      // is the same IEEE value); float-sum partition-order noise is
      // absorbed by the shared 6-decimal rounding
      val iterCte = (k: Int) =>
        s"r$k AS (SELECT n2.node, (1.0 - 0.85) / nn.n + 0.85 * coalesce(t.m, 0.0) AS rank " +
          "FROM nodes n2 CROSS JOIN nn LEFT JOIN " +
          s"(SELECT e.dst AS node, sum(p.rank / od.outdeg) AS m FROM e " +
          s"JOIN r${k - 1} p ON p.node = e.src JOIN od ON od.src = e.src " +
          "GROUP BY e.dst) t ON t.node = n2.node)"
      "WITH e0 AS (SELECT DISTINCT o_custkey AS src, (o_custkey + o_orderkey) % 1000 AS dst " +
        "FROM orders), " +
        "nodes AS (SELECT DISTINCT src AS node FROM e0), " +
        "e AS (SELECT src, dst FROM e0 WHERE dst IN (SELECT node FROM nodes)), " +
        // out-degree over the FULL distinct edge set e0, not the kept
        // edges e: dropped edges' rank shares leave the node set (the
        // Graph.pageRank drop semantics, replayed identically)
        "od AS (SELECT src, count(*) AS outdeg FROM e0 GROUP BY src), " +
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes), " +
        "r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn), " +
        (1 to 5).map(iterCte).mkString(", ") + " " +
        "SELECT node, round(rank + 5e-10, 6) AS rank FROM r5 " +
        "ORDER BY rank DESC, node LIMIT 20"
    },
    "s11_ivf_pq_rerank" ->
      // s10's CTE chain, shortlist LIMIT 50, then the exact full-dim
      // distance replay over the shortlist
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings " +
        "WHERE vec_id IS NOT NULL AND embedding IS NOT NULL), " +
        "co AS (SELECT vec_id AS cent, v AS cv FROM e WHERE vec_id >= 16 AND vec_id < 32), " +
        "cd AS (SELECT e.vec_id, co.cent, " +
        "list_sum(list_transform(range(1, 65), j -> (v[j] - cv[j]) * (v[j] - cv[j]))) AS dist " +
        "FROM e, co), " +
        "assign AS (SELECT vec_id, cent FROM " +
        "(SELECT vec_id, cent, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cent) AS rn FROM cd) WHERE rn = 1), " +
        "probe AS (SELECT cent FROM cd WHERE vec_id = 7 ORDER BY dist, cent LIMIT 4), " +
        "cb AS (SELECT s.i AS sub, e.vec_id AS cent, v[s.i*8+1 : s.i*8+8] AS cv " +
        "FROM e, range(8) s(i) WHERE e.vec_id < 16), " +
        "sv AS (SELECT e.vec_id, s.i AS sub, v[s.i*8+1 : s.i*8+8] AS svec " +
        "FROM e, range(8) s(i)), " +
        "d AS (SELECT sv.vec_id, sv.sub, cb.cent, " +
        "list_sum(list_transform(range(1, 9), j -> " +
        "(svec[j] - cv[j]) * (svec[j] - cv[j]))) AS dist " +
        "FROM sv JOIN cb ON sv.sub = cb.sub), " +
        "codes AS (SELECT vec_id, sub, cent FROM " +
        "(SELECT vec_id, sub, cent, row_number() OVER " +
        "(PARTITION BY vec_id, sub ORDER BY dist, cent) AS rn FROM d) WHERE rn = 1), " +
        "q AS (SELECT sub, cent, dist FROM d WHERE vec_id = 7), " +
        "adc AS (SELECT c.vec_id, sum(q.dist) AS adc FROM codes c " +
        "JOIN q ON c.sub = q.sub AND c.cent = q.cent " +
        "WHERE c.vec_id IN (SELECT a.vec_id FROM assign a WHERE a.cent IN (SELECT cent FROM probe)) " +
        "GROUP BY 1), " +
        "short AS (SELECT vec_id FROM adc ORDER BY adc, vec_id LIMIT 50), " +
        "ex AS (SELECT e.vec_id, " +
        "list_sum(list_transform(range(1, 65), j -> (e.v[j] - q2.qv[j]) * (e.v[j] - q2.qv[j]))) AS exact_dist " +
        "FROM e JOIN short USING (vec_id) " +
        "CROSS JOIN (SELECT v AS qv FROM e WHERE vec_id = 7) q2) " +
        "SELECT vec_id, round(exact_dist + 5e-10, 6) AS exact_dist " +
        "FROM ex ORDER BY exact_dist, vec_id LIMIT 10"),
    "s10_ivf_pq" ->
      // c7's CTEs plus the coarse stage: full-dim squared L2 to vectors
      // 16..31, per-vector argmin assignment, the query's 4 nearest
      // lists, ADC restricted to the probed lists
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings " +
        "WHERE vec_id IS NOT NULL AND embedding IS NOT NULL), " +
        "co AS (SELECT vec_id AS cent, v AS cv FROM e WHERE vec_id >= 16 AND vec_id < 32), " +
        "cd AS (SELECT e.vec_id, co.cent, " +
        "list_sum(list_transform(range(1, 65), j -> (v[j] - cv[j]) * (v[j] - cv[j]))) AS dist " +
        "FROM e, co), " +
        "assign AS (SELECT vec_id, cent FROM " +
        "(SELECT vec_id, cent, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY dist, cent) AS rn FROM cd) WHERE rn = 1), " +
        "probe AS (SELECT cent FROM cd WHERE vec_id = 7 ORDER BY dist, cent LIMIT 4), " +
        "cb AS (SELECT s.i AS sub, e.vec_id AS cent, v[s.i*8+1 : s.i*8+8] AS cv " +
        "FROM e, range(8) s(i) WHERE e.vec_id < 16), " +
        "sv AS (SELECT e.vec_id, s.i AS sub, v[s.i*8+1 : s.i*8+8] AS svec " +
        "FROM e, range(8) s(i)), " +
        "d AS (SELECT sv.vec_id, sv.sub, cb.cent, " +
        "list_sum(list_transform(range(1, 9), j -> " +
        "(svec[j] - cv[j]) * (svec[j] - cv[j]))) AS dist " +
        "FROM sv JOIN cb ON sv.sub = cb.sub), " +
        "codes AS (SELECT vec_id, sub, cent FROM " +
        "(SELECT vec_id, sub, cent, row_number() OVER " +
        "(PARTITION BY vec_id, sub ORDER BY dist, cent) AS rn FROM d) WHERE rn = 1), " +
        "q AS (SELECT sub, cent, dist FROM d WHERE vec_id = 7), " +
        "adc AS (SELECT c.vec_id, sum(q.dist) AS adc FROM codes c " +
        "JOIN q ON c.sub = q.sub AND c.cent = q.cent " +
        "WHERE c.vec_id IN (SELECT a.vec_id FROM assign a WHERE a.cent IN (SELECT cent FROM probe)) " +
        "GROUP BY 1) " +
        "SELECT adc.vec_id, (a.cent - 16)::BIGINT AS list, " +
        "round(adc.adc + 5e-10, 6) AS adc " +
        "FROM adc JOIN assign a ON a.vec_id = adc.vec_id " +
        "ORDER BY adc.adc, adc.vec_id LIMIT 10"),
    "s9_standardize" ->
      // identical melt + avg/stddev_samp (the a4 precedent) and the same
      // (v - mean)/std transform; cross-engine 1e-15 moment noise leaves
      // after-stats at exactly (0, 1) under the 6-decimal rounding
      ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings), " +
        "m AS (SELECT unnest(range(0, 64)) AS dim, emb FROM v), " +
        "x AS (SELECT dim, emb[(dim + 1)::INT] AS val FROM m), " +
        "st AS (SELECT dim, avg(val) AS mu, stddev_samp(val) AS sd FROM x GROUP BY dim), " +
        "z AS (SELECT x.dim, CASE WHEN sd IS NULL OR sd = 0 THEN 0.0 " +
        "ELSE (val - mu) / sd END AS zv FROM x JOIN st USING (dim)), " +
        "za AS (SELECT dim, avg(zv) AS mz, stddev_samp(zv) AS sz FROM z GROUP BY dim) " +
        "SELECT st.dim::INT AS dim, " +
        "round(mu + 5e-10, 6) AS mean_d, round(sd + 5e-10, 6) AS std_d, " +
        "round(mz + 5e-10, 6) AS mean_z, round(sz + 5e-10, 6) AS std_z " +
        "FROM st JOIN za USING (dim) ORDER BY dim"),
    "s7_knn_graph" -> {
      // the d5 gated-bucket CTEs, directed candidates, row_number top-3
      // with the TopK aggregator's exact (cosine desc, dst) order
      val bucket = bucketSqlGated("embedding::DOUBLE[]",
        graft.ops.Similarity.randomPlanes(16, 64), "(SELECT p FROM np)")
      ("WITH np AS (SELECT greatest(4, least(16, CAST(ceil(log2(count(*) / 64.0)) AS INT))) AS p FROM embeddings), " +
        "b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, " + bucket + " AS bucket FROM embeddings), " +
        "pr AS (SELECT a.id AS src, c.id AS dst, list_cosine_similarity(a.v, c.v) AS cos, " +
        "row_number() OVER (PARTITION BY a.id " +
        "ORDER BY list_cosine_similarity(a.v, c.v) DESC, c.id) AS rn " +
        "FROM b a JOIN b c ON a.bucket = c.bucket AND a.id <> c.id) " +
        "SELECT src, rn::BIGINT AS rank, dst, ROUND(cos, 6) AS cosine " +
        "FROM pr WHERE rn <= 3 ORDER BY src, rank")
    },
    "s18_label_disagreement" -> {
      // the s7 kNN replay with labels riding along: per-(src, n_label)
      // counts, disagreement fraction, majority neighbor label by
      // (count, label-string) DESC — the c3b struct-max convention
      val bucket = bucketSqlGated("embedding::DOUBLE[]",
        graft.ops.Similarity.randomPlanes(16, 64), "(SELECT p FROM np)")
      ("WITH np AS (SELECT greatest(4, least(16, CAST(ceil(log2(count(*) / 64.0)) AS INT))) AS p FROM embeddings), " +
        "b AS (SELECT vec_id AS id, CAST(label AS VARCHAR) AS lbl, " +
        "embedding::DOUBLE[] AS v, " + bucket + " AS bucket " +
        "FROM embeddings WHERE label IS NOT NULL), " +
        "pr AS (SELECT a.id AS src, a.lbl AS label, c.id AS dst, c.lbl AS n_label, " +
        "row_number() OVER (PARTITION BY a.id " +
        "ORDER BY list_cosine_similarity(a.v, c.v) DESC, c.id) AS rn " +
        "FROM b a JOIN b c ON a.bucket = c.bucket AND a.id <> c.id), " +
        "t AS (SELECT src, label, n_label FROM pr WHERE rn <= 3), " +
        "pl AS (SELECT src, label, n_label, count(*)::BIGINT AS c FROM t GROUP BY 1, 2, 3), " +
        "tp AS (SELECT src, n_label, row_number() OVER (PARTITION BY src " +
        "ORDER BY c DESC, n_label DESC) AS rk FROM pl), " +
        "ag AS (SELECT src, label, CAST(sum(c) AS BIGINT) AS n_neighbors, " +
        "CAST(coalesce(sum(CASE WHEN n_label <> label THEN c END), 0) AS BIGINT) AS n_disagree " +
        "FROM pl GROUP BY 1, 2) " +
        "SELECT ag.src AS vec_id, CAST(ag.label AS BIGINT) AS label, " +
        "n_neighbors, n_disagree, " +
        "round(n_disagree::DOUBLE / n_neighbors + 5e-10, 6) AS disagreement, " +
        "CAST(tp.n_label AS BIGINT) AS top_neighbor_label " +
        "FROM ag JOIN (SELECT src, n_label FROM tp WHERE rk = 1) tp ON tp.src = ag.src " +
        "ORDER BY vec_id")
    },
    "s19_knn_margin" -> {
      // the s7 kNN replay, then the margin census: top-1 cosine minus
      // the mean of ranks 2..3 (<= 2 terms — summation-order-proof)
      val bucket = bucketSqlGated("embedding::DOUBLE[]",
        graft.ops.Similarity.randomPlanes(16, 64), "(SELECT p FROM np)")
      ("WITH np AS (SELECT greatest(4, least(16, CAST(ceil(log2(count(*) / 64.0)) AS INT))) AS p FROM embeddings), " +
        "b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, " + bucket + " AS bucket FROM embeddings), " +
        "pr AS (SELECT a.id AS src, list_cosine_similarity(a.v, c.v) AS cos, " +
        "row_number() OVER (PARTITION BY a.id " +
        "ORDER BY list_cosine_similarity(a.v, c.v) DESC, c.id) AS rn " +
        "FROM b a JOIN b c ON a.bucket = c.bucket AND a.id <> c.id), " +
        "t AS (SELECT src, rn, cos FROM pr WHERE rn <= 3) " +
        "SELECT src AS vec_id, count(*)::BIGINT AS n_neighbors, " +
        "round(max(CASE WHEN rn = 1 THEN cos END) + 5e-10, 6) AS cos_top1, " +
        "round(avg(CASE WHEN rn >= 2 THEN cos END) + 5e-10, 6) AS mean_rest, " +
        "round(max(CASE WHEN rn = 1 THEN cos END) - " +
        "avg(CASE WHEN rn >= 2 THEN cos END) + 5e-10, 6) AS margin " +
        "FROM t GROUP BY src ORDER BY vec_id")
    },
    "x30_k_anonymity" ->
      // the same QI census + 1-row fold, all exact longs
      ("WITH q AS (SELECT source, lang, n_chars // 200 AS len_bucket FROM documents), " +
        "c AS (SELECT source, lang, len_bucket, count(*)::BIGINT AS cnt " +
        "FROM q GROUP BY 1, 2, 3) " +
        "SELECT CAST(5 AS BIGINT) AS k_threshold, " +
        "CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_rows, " +
        "count(*)::BIGINT AS n_groups, " +
        "CAST(coalesce(sum(CASE WHEN cnt < 5 THEN 1 END), 0) AS BIGINT) AS n_violating_groups, " +
        "CAST(coalesce(sum(CASE WHEN cnt < 5 THEN cnt END), 0) AS BIGINT) AS n_rows_at_risk, " +
        "CAST(min(cnt) AS BIGINT) AS min_group_size FROM c"),
    "x32_l_diversity" ->
      // the same (QI, sensitive) census + 1-row fold; NULL lang becomes
      // the chr(0) sentinel exactly as the operator's coalesce does
      ("WITH q AS (SELECT source, n_chars // 200 AS len_bucket, " +
        "coalesce(CAST(lang AS VARCHAR), chr(0)) AS sv FROM documents), " +
        "c AS (SELECT source, len_bucket, count(*)::BIGINT AS cnt, " +
        "count(DISTINCT sv)::BIGINT AS l FROM q GROUP BY 1, 2) " +
        "SELECT CAST(3 AS BIGINT) AS l_threshold, " +
        "CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_rows, " +
        "count(*)::BIGINT AS n_groups, " +
        "CAST(coalesce(sum(CASE WHEN l < 3 THEN 1 END), 0) AS BIGINT) AS n_violating_groups, " +
        "CAST(coalesce(sum(CASE WHEN l < 3 THEN cnt END), 0) AS BIGINT) AS n_rows_at_risk, " +
        "CAST(min(l) AS BIGINT) AS min_l FROM c"),
    "e15_retention_cohorts" ->
      ("WITH ev AS (SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS d FROM events), " +
        "fs AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY user_id), " +
        "g AS (SELECT fs.cohort_day, ev.d - fs.cohort_day AS day_offset, " +
        "count(DISTINCT ev.user_id) AS n_active " +
        "FROM ev JOIN fs ON fs.user_id = ev.user_id " +
        "WHERE ev.d - fs.cohort_day <= 7 GROUP BY 1, 2), " +
        "w AS (SELECT *, max(CASE WHEN day_offset = 0 THEN n_active END) " +
        "OVER (PARTITION BY cohort_day) AS n_cohort FROM g) " +
        "SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, " +
        "day_offset::BIGINT AS day_offset, n_active::BIGINT AS n_active, " +
        "round(n_active::DOUBLE / n_cohort + 5e-10, 6) AS retention " +
        "FROM w ORDER BY cohort_day, day_offset"),
    "e13_session_window" ->
      // session_window boundary semantics: a gap of EXACTLY the duration
      // starts a new session (>=, vs e2's strict >), and the session end
      // is last event + gap; microsecond-exact epoch comparison so a
      // boundary-straddling gap cannot decide differently per engine
      ("WITH marked AS (SELECT user_id, ts, event_id, value, " +
        "CASE WHEN lag(ts) OVER w IS NULL " +
        "OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS new_s " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sess AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM marked) " +
        "SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start, " +
        "strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end, " +
        "count(*)::BIGINT AS n_events, ROUND(sum(value) + 5e-10, 6) AS sum_value " +
        "FROM sess GROUP BY user_id, sid ORDER BY user_id, s_start"),
    "c7_pq_adc" ->
      // the full PQ pipeline replayed per position: codebook = subvector
      // slices of vec_id 0..15, per-(vec, sub, cent) squared L2 via the
      // positional lambda, argmin with ties to the lowest centroid, the
      // query's (vec_id 7) distance table, and the m-term ADC sum
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings " +
        "WHERE vec_id IS NOT NULL AND embedding IS NOT NULL), " +
        "cb AS (SELECT s.i AS sub, e.vec_id AS cent, v[s.i*8+1 : s.i*8+8] AS cv " +
        "FROM e, range(8) s(i) WHERE e.vec_id < 16), " +
        "sv AS (SELECT e.vec_id, s.i AS sub, v[s.i*8+1 : s.i*8+8] AS svec " +
        "FROM e, range(8) s(i)), " +
        "d AS (SELECT sv.vec_id, sv.sub, cb.cent, " +
        "list_sum(list_transform(range(1, 9), j -> " +
        "(svec[j] - cv[j]) * (svec[j] - cv[j]))) AS dist " +
        "FROM sv JOIN cb ON sv.sub = cb.sub), " +
        "codes AS (SELECT vec_id, sub, cent FROM " +
        "(SELECT vec_id, sub, cent, row_number() OVER " +
        "(PARTITION BY vec_id, sub ORDER BY dist, cent) AS rn FROM d) WHERE rn = 1), " +
        "q AS (SELECT sub, cent, dist FROM d WHERE vec_id = 7), " +
        "adc AS (SELECT c.vec_id, sum(q.dist) AS adc FROM codes c " +
        "JOIN q ON c.sub = q.sub AND c.cent = q.cent GROUP BY 1) " +
        "SELECT vec_id, round(adc + 5e-10, 6) AS adc FROM adc " +
        "ORDER BY adc, vec_id LIMIT 10"),
    "c5_curation_v3" ->
      // the d13 cluster CTEs + x15's blocklist filter + the length gate,
      // reported per language
      ("WITH corpus AS (SELECT d.doc_id, " +
        "CASE WHEN d.doc_id % 5 = 3 AND c1.text IS NOT NULL THEN replace(c1.text, ' ', '  ') " +
        "WHEN d.doc_id % 5 = 4 AND c2.text IS NOT NULL THEN replace(c2.text, ' ', '   ') " +
        "ELSE d.text END AS text FROM documents d " +
        "LEFT JOIN documents c1 ON c1.doc_id = d.doc_id - 1 " +
        "LEFT JOIN documents c2 ON c2.doc_id = d.doc_id - 2), " +
        s"t AS (SELECT doc_id, text, ${toksOf("text")} AS tk FROM corpus), " +
        s"keyed AS (SELECT doc_id, text, tk, list_sort(${shingleSql(3, "tk")}) AS sk FROM t), " +
        "ranked AS (SELECT doc_id, tk, count(*) OVER (PARTITION BY sk) AS cluster_size, " +
        "row_number() OVER (PARTITION BY sk ORDER BY length(text) DESC, doc_id) AS rn FROM keyed), " +
        "surv AS (SELECT doc_id, tk, cluster_size FROM ranked WHERE rn = 1), " +
        "feat AS (SELECT doc_id, cluster_size, len(tk) AS n_tok, " +
        "len(list_filter(tk, x -> x = 'spark')) AS n_blocked FROM surv), " +
        "gated AS (SELECT * FROM feat WHERE n_blocked <= 1 AND n_tok >= 20) " +
        "SELECT d.lang, count(*)::BIGINT AS n_docs, sum(g.cluster_size)::BIGINT AS mass, " +
        "sum(g.n_tok)::BIGINT AS n_tokens, round(avg(g.n_blocked) + 5e-10, 6) AS mean_blocked " +
        "FROM gated g JOIN documents d ON d.doc_id = g.doc_id " +
        "GROUP BY d.lang ORDER BY d.lang"),
    "g13_harmonic_centrality" ->
      // closed-form chain distances within the 50-block, the same 1/d
      // census; d = 0 (a seed to itself) excluded by definition
      ("WITH n AS (SELECT doc_id AS i FROM documents WHERE doc_id % 50 <> 49), " +
        "nodes AS (SELECT i AS id FROM n UNION SELECT i + 1 FROM n), " +
        "seeds AS (SELECT id AS s FROM nodes WHERE id % 29 = 0), " +
        "d AS (SELECT nodes.id, abs(nodes.id - seeds.s) AS dist FROM nodes " +
        "JOIN seeds ON nodes.id // 50 = seeds.s // 50 " +
        "WHERE abs(nodes.id - seeds.s) BETWEEN 1 AND 6) " +
        "SELECT id AS node, count(*)::BIGINT AS n_seeds_reached, " +
        "round(sum(1.0::DOUBLE / dist) + 5e-10, 6) AS harmonic " +
        "FROM d GROUP BY id ORDER BY node"),
    "g4_shortest_paths" ->
      ("WITH n AS (SELECT doc_id AS i FROM documents WHERE doc_id % 50 <> 49), " +
        "nodes AS (SELECT i AS id FROM n UNION SELECT i + 1 FROM n), " +
        "seeds AS (SELECT id AS s FROM nodes WHERE id % 97 = 0), " +
        "d AS (SELECT nodes.id, min(abs(nodes.id - seeds.s)) AS dist FROM nodes " +
        "JOIN seeds ON nodes.id // 50 = seeds.s // 50 GROUP BY nodes.id) " +
        "SELECT id AS node, dist::BIGINT AS dist FROM d WHERE dist <= 6 ORDER BY node"),
    "s8_knn_reranked" -> {
      // replay: JL projection as the literal 8-component list (the s6
      // plane replay), gated bucket over dim-8 planes, full-dim cosine
      // rerank — both engines fold every inner product sequentially
      val scale = 1.0 / math.sqrt(8.0)
      val projList = graft.ops.Similarity.randomPlanes(8, 64).map(p =>
          s"list_inner_product(embedding::DOUBLE[], ${p.mkString("[", ", ", "]")}) * $scale")
        .mkString("[", ", ", "]")
      // bucket planes at seed 43 (= knnGraphReranked's seed + 1): drawn
      // from a stream distinct from the projection's, mirrored here
      val bucket = bucketSqlGated(projList,
        graft.ops.Similarity.randomPlanes(20, 8, 43L), "(SELECT p FROM np)")
      ("WITH np AS (SELECT greatest(4, least(20, CAST(ceil(log2(count(*) / 16.0)) AS INT))) AS p FROM embeddings), " +
        "b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, " + bucket + " AS bucket FROM embeddings), " +
        "pr AS (SELECT a.id AS src, c.id AS dst, list_cosine_similarity(a.v, c.v) AS cos, " +
        "row_number() OVER (PARTITION BY a.id " +
        "ORDER BY list_cosine_similarity(a.v, c.v) DESC, c.id) AS rn " +
        "FROM b a JOIN b c ON a.bucket = c.bucket AND a.id <> c.id) " +
        "SELECT src, rn::BIGINT AS rank, dst, ROUND(cos, 6) AS cosine " +
        "FROM pr WHERE rn <= 3 ORDER BY src, rank")
    },
    "g6_kcore" ->
      // three peel rounds replayed: degree census -> keep-set ->
      // endpoint filters, then the surviving-degree census by block
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "e0 AS (SELECT i AS a, i + 1 AS b FROM ids WHERE i % 50 <> 49 " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 50 < 48 " +
        "AND floor(i / 50)::BIGINT % 2 = 0), " +
        "d1 AS (SELECT id, count(*) AS dg FROM " +
        "(SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0) GROUP BY id), " +
        "k1 AS (SELECT id FROM d1 WHERE dg >= 2), " +
        "e1 AS (SELECT a, b FROM e0 WHERE a IN (SELECT id FROM k1) " +
        "AND b IN (SELECT id FROM k1)), " +
        "d2 AS (SELECT id, count(*) AS dg FROM " +
        "(SELECT a AS id FROM e1 UNION ALL SELECT b FROM e1) GROUP BY id), " +
        "k2 AS (SELECT id FROM d2 WHERE dg >= 2), " +
        "e2 AS (SELECT a, b FROM e1 WHERE a IN (SELECT id FROM k2) " +
        "AND b IN (SELECT id FROM k2)), " +
        "d3 AS (SELECT id, count(*) AS dg FROM " +
        "(SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2) GROUP BY id), " +
        "k3 AS (SELECT id FROM d3 WHERE dg >= 2), " +
        "e3 AS (SELECT a, b FROM e2 WHERE a IN (SELECT id FROM k3) " +
        "AND b IN (SELECT id FROM k3)), " +
        "df AS (SELECT id, count(*) AS dg FROM " +
        "(SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3) GROUP BY id) " +
        "SELECT floor(id / 50)::BIGINT AS block, count(*)::BIGINT AS n_nodes, " +
        "sum(dg)::BIGINT AS total_degree FROM df GROUP BY 1 ORDER BY 1"),
    "g7_adamic_adar" ->
      // wedge self-join on the shared neighbor, degree-capped, existing
      // edges anti-joined away
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "e AS (SELECT i AS a, i + 1 AS b FROM ids WHERE i % 50 <> 49 " +
        "UNION ALL SELECT i, i + 2 FROM ids WHERE i % 50 < 48), " +
        "und AS (SELECT a AS z, b AS n FROM e UNION ALL SELECT b, a FROM e), " +
        "deg AS (SELECT z, count(*) AS dg FROM und GROUP BY z HAVING count(*) <= 64), " +
        "hub AS (SELECT und.z, und.n, deg.dg FROM und JOIN deg USING (z)), " +
        "pr AS (SELECT l.n AS x, r.n AS y, l.dg FROM hub l JOIN hub r " +
        "ON l.z = r.z AND l.n < r.n), " +
        "sc AS (SELECT x, y, count(*)::BIGINT AS n_common, " +
        "sum(1.0 / ln(dg::DOUBLE)) AS aa FROM pr GROUP BY x, y) " +
        "SELECT x AS id_a, y AS id_b, n_common, round(aa + 5e-10, 6) AS aa_score " +
        "FROM sc WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = sc.x AND e.b = sc.y) " +
        "ORDER BY id_a, id_b"),
    "g8_hits" ->
      // both HITS rounds replayed join-for-join on raw integers (the
      // normalization factors out), then one division by the L1 totals
      ("WITH ids AS (SELECT doc_id AS i FROM documents), " +
        "e AS (SELECT i AS src, i + 1 AS dst FROM ids WHERE i % 50 <> 49 " +
        "UNION SELECT i, i - i % 50 FROM ids WHERE i % 50 <> 0), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "a1 AS (SELECT n.node, coalesce(t.c, 0)::DOUBLE AS a FROM nodes n LEFT JOIN " +
        "(SELECT dst AS node, count(*)::BIGINT AS c FROM e GROUP BY 1) t USING (node)), " +
        "h1 AS (SELECT n.node, coalesce(t.s, 0)::DOUBLE AS h FROM nodes n LEFT JOIN " +
        "(SELECT e.src AS node, sum(a1.a) AS s FROM e JOIN a1 ON e.dst = a1.node GROUP BY 1) t USING (node)), " +
        "a2 AS (SELECT n.node, coalesce(t.s, 0)::DOUBLE AS a FROM nodes n LEFT JOIN " +
        "(SELECT e.dst AS node, sum(h1.h) AS s FROM e JOIN h1 ON e.src = h1.node GROUP BY 1) t USING (node)), " +
        "h2 AS (SELECT n.node, coalesce(t.s, 0)::DOUBLE AS h FROM nodes n LEFT JOIN " +
        "(SELECT e.src AS node, sum(a2.a) AS s FROM e JOIN a2 ON e.dst = a2.node GROUP BY 1) t USING (node)), " +
        "fin AS (SELECT a2.node, a2.a / (SELECT sum(a) FROM a2) AS authority, " +
        "h2.h / (SELECT sum(h) FROM h2) AS hub FROM a2 JOIN h2 USING (node)), " +
        "blk AS (SELECT node - node % 50 AS block, node, authority, hub FROM fin), " +
        "top AS (SELECT block, node, row_number() OVER " +
        "(PARTITION BY block ORDER BY authority DESC, node) AS pr FROM blk) " +
        "SELECT b.block, count(*)::BIGINT AS n_nodes, min(t.node) AS top_auth_node, " +
        "round(max(b.authority) + 5e-10, 6) AS max_authority, " +
        "round(sum(b.authority) + 5e-10, 6) AS sum_authority, " +
        "round(sum(b.hub) + 5e-10, 6) AS sum_hub " +
        "FROM blk b JOIN (SELECT block, node FROM top WHERE pr = 1) t USING (block) " +
        "GROUP BY b.block ORDER BY b.block"),
    "g5_label_propagation" ->
      // both LPA rounds replayed: neighbor-label census, mode with
      // (count DESC, label) ranking, then the community census
      ("WITH ed AS (SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 50 <> 49), " +
        "und AS (SELECT a AS src, b AS dst FROM ed UNION ALL SELECT b, a FROM ed), " +
        "l0 AS (SELECT DISTINCT src AS id FROM und), " +
        "r1 AS (SELECT u.src, l.label, count(*) AS c FROM und u " +
        "JOIN (SELECT id, id AS label FROM l0) l ON u.dst = l.id GROUP BY 1, 2), " +
        "l1 AS (SELECT src AS id, label FROM (SELECT src, label, " +
        "row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn FROM r1) WHERE rn = 1), " +
        "r2 AS (SELECT u.src, l.label, count(*) AS c FROM und u " +
        "JOIN l1 l ON u.dst = l.id GROUP BY 1, 2), " +
        "l2 AS (SELECT src AS id, label FROM (SELECT src, label, " +
        "row_number() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn FROM r2) WHERE rn = 1) " +
        "SELECT label AS community, count(*)::BIGINT AS size, " +
        "min(id) AS min_id, max(id) AS max_id FROM l2 GROUP BY label ORDER BY label"),
    "g3_components" ->
      // the planted block-chain graph's components are derivable without
      // a graph walk: nodes = chain endpoints, component = 50-wide block
      // start (min-label semantics: the block start IS the minimum id)
      ("WITH n AS (SELECT doc_id AS i FROM documents WHERE doc_id % 50 <> 49), " +
        "nodes AS (SELECT i AS id FROM n UNION SELECT i + 1 FROM n), " +
        "c AS (SELECT id, (id // 50) * 50 AS component FROM nodes) " +
        "SELECT component, count(*)::BIGINT AS size, max(id) AS max_id " +
        "FROM c GROUP BY component ORDER BY component"),
    "x15_blocklist" ->
      (s"WITH t AS (SELECT doc_id, ${toksOf("text")} AS tk FROM documents) " +
        "SELECT doc_id, " +
        "len(list_filter(tk, x -> list_contains(['merge', 'vector', 'slow'], x)))::BIGINT AS n_blocked, " +
        "CASE WHEN len(list_filter(tk, x -> list_contains(['merge', 'vector', 'slow'], x))) = 0 " +
        "THEN 1 ELSE 0 END::BIGINT AS kept " +
        "FROM t ORDER BY doc_id"),
    "x14_bm25" -> {
      // identical operation order as Search.bm25: idf·tf·(k1+1) /
      // (tf + k1·((1-b) + b·dl/avgdl)); all inputs exact integers except
      // avgdl (exact integer sum / count — the same double in both
      // engines). Inner ORDER/LIMIT cuts on the raw score exactly as the
      // Spark TakeOrdered does; the outer SELECT rounds and re-orders.
      val terms = Seq("vector", "hash", "merge")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(", ")
      val dfCols = terms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
      val termScore = terms.indices.map(i =>
        s"ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0) * tf$i * 2.2 " +
          s"/ (tf$i + 1.2 * (0.25 + 0.75 * dl / avgdl))").mkString(" + ")
      s"WITH t AS (SELECT doc_id, ${toksOf("text")} AS tk FROM documents), " +
        s"f AS (SELECT doc_id, len(tk)::DOUBLE AS dl, $tfCols FROM t), " +
        s"st AS (SELECT count(*) AS n, avg(dl) AS avgdl, $dfCols FROM f), " +
        s"sc AS (SELECT doc_id, dl, ($termScore) AS score FROM f CROSS JOIN st), " +
        "top AS (SELECT doc_id, dl, score FROM sc WHERE score > 0.0 " +
        "ORDER BY score DESC, doc_id LIMIT 20) " +
        "SELECT doc_id, dl::BIGINT AS dl, round(score + 5e-10, 6) AS score " +
        "FROM top ORDER BY score DESC, doc_id"
    },
    "d13_cluster_canonical" ->
      // the d6 oracle's equal-shingle-set clusters, but the survivor is
      // arg-max (length(text), min doc_id) and cluster_size rides along
      ("WITH corpus AS (SELECT d.doc_id, " +
        "CASE WHEN d.doc_id % 5 = 3 AND c1.text IS NOT NULL THEN replace(c1.text, ' ', '  ') " +
        "WHEN d.doc_id % 5 = 4 AND c2.text IS NOT NULL THEN replace(c2.text, ' ', '   ') " +
        "ELSE d.text END AS text FROM documents d " +
        "LEFT JOIN documents c1 ON c1.doc_id = d.doc_id - 1 " +
        "LEFT JOIN documents c2 ON c2.doc_id = d.doc_id - 2), " +
        s"t AS (SELECT doc_id, text, ${toksOf("text")} AS tk FROM corpus), " +
        s"keyed AS (SELECT doc_id, text, list_sort(${shingleSql(3, "tk")}) AS sk FROM t), " +
        "ranked AS (SELECT doc_id, count(*) OVER (PARTITION BY sk) AS cluster_size, " +
        "row_number() OVER (PARTITION BY sk ORDER BY length(text) DESC, doc_id) AS rn " +
        "FROM keyed) " +
        "SELECT doc_id, cluster_size::BIGINT AS cluster_size FROM ranked " +
        "WHERE rn = 1 ORDER BY doc_id"),
    "e19_new_vs_returning" ->
      // the same presence census, first-seen mins, and day-frame windows
      ("WITH p AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "a AS (SELECT day, count(*)::BIGINT AS active_users FROM p GROUP BY 1), " +
        "f AS (SELECT day, count(*)::BIGINT AS new_users FROM " +
        "(SELECT user_id, min(day) AS day FROM p GROUP BY 1) GROUP BY day), " +
        "j AS (SELECT a.day, active_users, coalesce(new_users, 0)::BIGINT AS new_users " +
        "FROM a LEFT JOIN f ON a.day = f.day) " +
        "SELECT strftime(day, '%Y-%m-%d') AS day, active_users, new_users, " +
        "(active_users - new_users)::BIGINT AS returning_users, " +
        "sum(new_users) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW)::BIGINT AS cumulative_users " +
        "FROM j ORDER BY day"),
    "e12_gap_fill" ->
      // dense hourly grid from per-type min/max via generate_series, left
      // join of the observed hours, forward fill via IGNORE NULLS window
      ("WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, " +
        "count(*) AS n, avg(value) AS av FROM events " +
        "WHERE hour(ts) % 7 <> 3 GROUP BY 1, 2), " +
        "b AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1), " +
        "grid AS (SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b), " +
        "j AS (SELECT g.event_type, g.h, hourly.n, hourly.av FROM grid g " +
        "LEFT JOIN hourly ON hourly.event_type = g.event_type AND hourly.h = g.h) " +
        "SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS h, " +
        "coalesce(n, 0)::BIGINT AS n, round(av + 5e-10, 6) AS avg_value, " +
        "round(last_value(av IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 5e-10, 6) AS ff_value " +
        "FROM j ORDER BY event_type, h"),
    "o6_corrupt_records" ->
      ("SELECT count(*)::BIGINT AS n_rows, " +
        "sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_corrupt, " +
        "round(sum(CASE WHEN event_id % 7 <> 0 THEN value ELSE 0 END) + 5e-10, 6) AS sum_good_value " +
        "FROM events WHERE event_type = 'view'"),
    "o4_orc_roundtrip" ->
      // the aggregate straight from the parquet — a mismatch means the
      // ORC writer or reader changed a value in flight
      ("SELECT strftime(ts, '%Y-%m-%d') AS day, count(*)::BIGINT AS n, " +
        "round(sum(value) + 5e-10, 6) AS sum_value FROM events " +
        "WHERE event_type = 'purchase' GROUP BY day ORDER BY day"),
    "d16_containment" -> {
      // string-shingle replay (the d2 hash-vs-string precedent): set
      // sizes agree with the 8-byte-hash sets up to 2^-64 collisions
      val (sa, sb) = (shingleSql(3, "ta"), shingleSql(3, "tb"))
      "WITH corpus AS (SELECT d.doc_id, " +
        "CASE WHEN d.doc_id % 5 = 0 AND p.text IS NOT NULL " +
        "THEN d.text || ' ' || p.text ELSE d.text END AS text " +
        "FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1), " +
        s"toks AS (SELECT doc_id, ${toksOf("text")} AS tk FROM corpus) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        s"ROUND(len(list_intersect($sa, $sb))::DOUBLE / greatest(len($sa), 1), 6) AS containment_ab, " +
        s"ROUND(len(list_intersect($sa, $sb))::DOUBLE / greatest(len($sb), 1), 6) AS containment_ba " +
        "FROM (SELECT doc_id, tk AS ta FROM toks) a " +
        "JOIN (SELECT doc_id, tk AS tb FROM toks) b ON b.doc_id = a.doc_id + 1 " +
        "ORDER BY id_a"
    },
    "d15_cross_corpus_dedup" ->
      // survivors = new docs whose sorted distinct 3-shingle set key
      // matches no ref doc's (set equality <=> threshold-1.0 near-dup,
      // the d6 argument; byte-exact copies are a subset)
      ("WITH newc AS (SELECT doc_id + 1000000000000 AS id, " +
        "CASE WHEN doc_id % 4 = 0 THEN text " +
        "WHEN doc_id % 4 = 1 THEN replace(text, ' ', '  ') " +
        "ELSE text || ' zz' || doc_id::VARCHAR END AS text FROM documents), " +
        s"rt AS (SELECT ${toksOf("text")} AS tk FROM documents), " +
        s"rk AS (SELECT DISTINCT list_sort(${shingleSql(3, "tk")}) AS sk FROM rt), " +
        s"nt AS (SELECT id, ${toksOf("text")} AS tk FROM newc), " +
        s"nk AS (SELECT id, list_sort(${shingleSql(3, "tk")}) AS sk FROM nt) " +
        "SELECT nk.id AS doc_id FROM nk LEFT JOIN rk ON nk.sk = rk.sk " +
        "WHERE rk.sk IS NULL ORDER BY doc_id"),
    "o5_agg_pushdown" ->
      ("SELECT count(*)::BIGINT AS n_rows, " +
        "round(min(l_quantity) + 5e-10, 6) AS min_qty, " +
        "round(max(l_quantity) + 5e-10, 6) AS max_qty, " +
        "round(min(l_extendedprice) + 5e-10, 6) AS min_price, " +
        "round(max(l_extendedprice) + 5e-10, 6) AS max_price FROM lineitem"),
    "d14_url_dedup" ->
      // replay planting + the five canonicalization regex steps verbatim
      ("WITH u AS (SELECT doc_id, CASE " +
        "WHEN doc_id % 4 = 0 THEN 'HTTPS://Site-' || (doc_id % 5)::VARCHAR || '.Example.org:443/p/' || (doc_id % 7)::VARCHAR || '?utm_source=x' " +
        "WHEN doc_id % 4 = 1 THEN 'https://site-' || (doc_id % 5)::VARCHAR || '.example.org/p/' || (doc_id % 7)::VARCHAR || '/' " +
        "WHEN doc_id % 4 = 2 THEN 'https://site-' || (doc_id % 5)::VARCHAR || '.example.org/p/' || (doc_id % 7)::VARCHAR || '#section-' || (doc_id % 3)::VARCHAR " +
        "ELSE 'http://other-' || (doc_id % 11)::VARCHAR || '.example.net:80/q/' || (doc_id % 13)::VARCHAR END AS url " +
        "FROM documents), " +
        raw"nf AS (SELECT doc_id, regexp_replace(url, '#.*$$', '') AS nofrag FROM u), " +
        raw"pr AS (SELECT doc_id, nofrag, regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS prefix FROM nf), " +
        "c AS (SELECT doc_id, " +
        raw"regexp_replace(lower(prefix), ':(80|443)$$', '') || " +
        raw"regexp_replace(regexp_replace(substring(nofrag, length(prefix) + 1), '\?utm_[^#]*$$', ''), '/$$', '') AS canonical_url " +
        "FROM pr) " +
        "SELECT canonical_url, count(*)::BIGINT AS n_docs, min(doc_id) AS first_doc " +
        "FROM c GROUP BY canonical_url ORDER BY canonical_url"),
    "m6_phash_neardup" -> {
      // replay the aHash byte math from the raw text: gray(i) = sum of
      // the 3 bytes of pixel i (stride 24 = 3*8, no row padding, and
      // r+g+b is storage-order invariant), bit i set iff 64*gray > total
      // (exact integers), quarters packed 16 bits each; pairs are the
      // BRUTE-FORCE a<b join — equal to the banded Spark join by the
      // pigeonhole exactness at maxHamming 3 while every quarter bucket
      // has <= 256 rows (the Spark side's maxBucketSize cap)
      val quarter = (q: Int) =>
        s"sum(CASE WHEN gv.i // 16 = $q AND 64 * gv.g > tot.total " +
          s"THEN (1 << (gv.i % 16)::INT) ELSE 0 END)::INT AS q$q"
      val ham = (0 to 3).map(i => s"bit_count(xor(a.q$i, b.q$i))").mkString(" + ")
      "WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 5), " +
        "imgs AS (SELECT doc_id * 2 AS img_id, rpad(text, 192, 'x') AS t FROM base " +
        "UNION ALL SELECT doc_id * 2 + 1, " +
        "rpad('Z' || substring(text, 2, 191), 192, 'x') FROM base), " +
        "gv AS (SELECT img_id, i, " +
        "unicode(substring(t, (3*i+1)::INT, 1)) + unicode(substring(t, (3*i+2)::INT, 1)) " +
        "+ unicode(substring(t, (3*i+3)::INT, 1)) AS g FROM imgs, range(64) r(i)), " +
        "tot AS (SELECT img_id, sum(g) AS total FROM gv GROUP BY img_id), " +
        s"q AS (SELECT gv.img_id, ${(0 to 3).map(quarter).mkString(", ")} " +
        "FROM gv JOIN tot ON tot.img_id = gv.img_id GROUP BY gv.img_id) " +
        s"SELECT a.img_id AS id_a, b.img_id AS id_b, ($ham)::BIGINT AS hamming " +
        s"FROM q a JOIN q b ON a.img_id < b.img_id WHERE ($ham) <= 3 " +
        "ORDER BY id_a, id_b"
    },
    "m7_audio_fingerprint" -> {
      // LE16 decode (m5's byte replay) + delta bits + quarter packing
      // (m6's), brute-force pairs == banded pairs by pigeonhole while
      // every quarter bucket has <= 256 rows (the maxBucketSize cap)
      val quarter = (q: Int) =>
        s"sum(CASE WHEN (b.i - 1) // 16 = $q THEN b.bit * (1 << ((b.i - 1) % 16)::INT) ELSE 0 END)::INT AS q$q"
      val ham = (0 to 3).map(i => s"bit_count(xor(a.q$i, c.q$i))").mkString(" + ")
      "WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0), " +
        "clips AS (SELECT doc_id * 2 AS clip_id, rpad(text, 130, 'x') AS t FROM base " +
        "UNION ALL SELECT doc_id * 2 + 1, " +
        "rpad(substring(text, 1, 10) || 'Z' || substring(text, 12), 130, 'x') FROM base), " +
        "raw AS (SELECT clip_id, r.i, unicode(substring(t, (2*r.i+1)::INT, 1)) " +
        "+ 256 * unicode(substring(t, (2*r.i+2)::INT, 1)) AS vu FROM clips, range(65) r(i)), " +
        "s AS (SELECT clip_id, i, CASE WHEN vu >= 32768 THEN vu - 65536 ELSE vu END AS v FROM raw), " +
        "b AS (SELECT clip_id, i, CASE WHEN v > lag(v) OVER (PARTITION BY clip_id ORDER BY i) " +
        "THEN 1 ELSE 0 END AS bit FROM s), " +
        s"q AS (SELECT b.clip_id, ${(0 to 3).map(quarter).mkString(", ")} " +
        "FROM b WHERE b.i >= 1 GROUP BY b.clip_id) " +
        s"SELECT a.clip_id AS id_a, c.clip_id AS id_b, ($ham)::BIGINT AS hamming " +
        s"FROM q a JOIN q c ON a.clip_id < c.clip_id WHERE ($ham) <= 3 " +
        "ORDER BY id_a, id_b"
    },
    "m8_mp3_meta" ->
      // closed-form replay of the planting parameters (no byte math):
      // n_frames = 1 + id%4, bitrate = MPEG-1 L3 table[1 + id%14],
      // rate = [44100,48000,32000][id%3], 1152 samples per frame
      ("WITH m AS (SELECT doc_id, (1 + doc_id % 4)::BIGINT AS n_frames, " +
        "list_extract([44100,48000,32000], (doc_id % 3)::INT + 1)::BIGINT AS sample_rate, " +
        "list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320], (1 + doc_id % 14)::INT)::BIGINT AS kbps " +
        "FROM documents WHERE doc_id % 10 = 3) " +
        "SELECT doc_id, n_frames, sample_rate, kbps AS bitrate_min_kbps, " +
        "kbps AS bitrate_max_kbps, (n_frames * 1152)::BIGINT AS n_samples, " +
        "ROUND((n_frames * 1152)::DOUBLE / sample_rate + 5e-10, 6) AS duration_s " +
        "FROM m ORDER BY doc_id"),
    "m13_gif_meta" ->
      // closed-form replay of the planting parameters: dims from the
      // id residues, 2^(1 + id%3) global colors, one GCE per frame so
      // n_ext = n_frames and duration = n_frames * delay
      ("SELECT doc_id, 'GIF89a' AS version, " +
        "(doc_id % 64 + 16)::BIGINT AS width, " +
        "(doc_id % 48 + 8)::BIGINT AS height, " +
        "(1::BIGINT << ((doc_id % 3)::INT + 1))::BIGINT AS gct_colors, " +
        "(doc_id % 5 + 1)::BIGINT AS n_frames, " +
        "(doc_id % 5 + 1)::BIGINT AS n_ext, " +
        "((doc_id % 5 + 1) * (doc_id % 10 + 1))::BIGINT AS duration_cs " +
        "FROM documents WHERE doc_id % 10 = 4 ORDER BY doc_id"),
    "m14_gif_pixels" ->
      // closed-form replay of the planted rasters: frame f pixel k is
      // palette index (f + k) mod m over n = w*h pixels, so residue j
      // appears n//m (+1 inside the partial cycle) times and the
      // channel means are exact residue-count sums over palette entry
      // (j, 7j mod 256, 13j mod 256) — no LZW replay needed; the Scala
      // side earns the match by actually decompressing the bit stream
      ("WITH d AS (SELECT doc_id, (doc_id % 24 + 8) AS w, (doc_id % 12 + 4) AS h, " +
        "(doc_id % 4 + 1) AS nf, (1::BIGINT << ((doc_id % 3)::INT + 1))::BIGINT AS m " +
        "FROM documents WHERE doc_id % 10 = 4), " +
        "f AS (SELECT d.*, g.f FROM d JOIN (SELECT unnest(range(0, 4)) AS f) g ON g.f < d.nf), " +
        "j AS (SELECT f.*, r.j FROM f JOIN (SELECT unnest(range(0, 8)) AS j) r ON r.j < f.m), " +
        "c AS (SELECT doc_id, f, w * h AS n, j, " +
        "(w * h) // m + CASE WHEN ((j - f) % m + m) % m < (w * h) % m THEN 1 ELSE 0 END AS cnt " +
        "FROM j) " +
        "SELECT doc_id, f::BIGINT AS frame_id, CAST(max(n) AS BIGINT) AS n_pixels, " +
        "round(CAST(sum(cnt * j) AS DOUBLE) / max(n) + 5e-10, 6) AS mean_r, " +
        "round(CAST(sum(cnt * ((j * 7) % 256)) AS DOUBLE) / max(n) + 5e-10, 6) AS mean_g, " +
        "round(CAST(sum(cnt * ((j * 13) % 256)) AS DOUBLE) / max(n) + 5e-10, 6) AS mean_b " +
        "FROM c GROUP BY doc_id, f ORDER BY doc_id, frame_id"),
    "u6_incremental_agg" ->
      // full recompute over every order — the merged state must equal it
      ("SELECT o_custkey, count(*)::BIGINT AS n, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price, " +
        "round(CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS min_price, " +
        "round(CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS max_price, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) + 5e-10, 6) AS mean_price " +
        "FROM orders GROUP BY o_custkey ORDER BY o_custkey"),
    "u7b_incremental_distinct" ->
      // the exact distinct census by segment; within_bounds is the
      // merged-sketch accuracy contract the Spark side evaluates — a
      // literal TRUE here, so an out-of-bounds merged estimate (or a
      // broken register-max merge) hash-mismatches
      ("SELECT c.c_mktsegment, count(DISTINCT o.o_custkey)::BIGINT AS exact_customers, " +
        "true AS within_bounds FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
        "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"),
    "u8_incremental_histogram" ->
      // full recompute over ALL orders (merge is exact by u6's argument)
      // + the same cum-walk/in-bin interpolation arithmetic: bin floor
      // in identical op order, first bin with cum >= p*n via FILTERed
      // min_by, estimate lo + (bin + (p*n - cumBefore)/cnt) * width
      ("WITH h AS (SELECT o_orderpriority, " +
        "CAST(least(greatest(floor((o_totalprice - 0.0) / 600000.0 * 64), 0), 63) AS INT) AS bin, " +
        "count(*)::BIGINT AS cnt FROM orders GROUP BY 1, 2), " +
        "c AS (SELECT *, sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin) AS cum, " +
        "sum(cnt) OVER (PARTITION BY o_orderpriority) AS n FROM h), " +
        "g AS (SELECT o_orderpriority, max(n) AS n, " +
        Seq("25" -> "0.25", "50" -> "0.5", "90" -> "0.9").map { case (t, p) =>
          s"min_by(struct_pack(b := bin, cum := cum, cnt := cnt), bin) " +
            s"FILTER (WHERE cum >= $p * n) AS s$t" }.mkString(", ") +
        " FROM c GROUP BY o_orderpriority) " +
        "SELECT o_orderpriority, " +
        Seq("25" -> "0.25", "50" -> "0.5", "90" -> "0.9").map { case (t, p) =>
          s"round(0.0 + (CAST(s$t.b AS DOUBLE) + ($p * n - (s$t.cum - s$t.cnt)) / s$t.cnt) " +
            s"* 9375.0 + 5e-10, 6) AS q$t" }.mkString(", ") +
        " FROM g ORDER BY o_orderpriority"),
    "d17_sorted_neighborhood" ->
      // replay: same window (per-lang, ordered by n_chars then id), two
      // lead offsets, string-token-set Jaccard (= the hash-set version
      // up to 2^-64 collisions, the d2 precedent)
      (s"WITH t AS (SELECT doc_id, lang, n_chars, list_distinct(${toksOf("text")}) AS tk FROM documents), " +
        "w AS (SELECT doc_id, tk, " +
        "lead(doc_id, 1) OVER wnd AS id1, lead(tk, 1) OVER wnd AS tk1, " +
        "lead(doc_id, 2) OVER wnd AS id2, lead(tk, 2) OVER wnd AS tk2 " +
        "FROM t WINDOW wnd AS (PARTITION BY lang, n_chars // 256 ORDER BY n_chars, doc_id)), " +
        "p AS (SELECT doc_id AS id_a, id1 AS id_b, tk AS ta, tk1 AS tb FROM w WHERE id1 IS NOT NULL " +
        "UNION ALL SELECT doc_id, id2, tk, tk2 FROM w WHERE id2 IS NOT NULL) " +
        "SELECT id_a, id_b, " +
        "ROUND(len(list_intersect(ta, tb))::DOUBLE / " +
        "greatest(len(list_distinct(list_concat(ta, tb))), 1), 6) AS jaccard " +
        "FROM p ORDER BY id_a, id_b"),
    "d23_fs_weights" -> {
      // the d17 lead-window pairing replay + per-field u from the exact
      // pair-probability census; weights via native log2 of the same
      // doubles (ulp noise absorbed by the 6-dp rounding)
      def uSql(f: String) =
        s"(SELECT sum(c * (c - 1))::DOUBLE / (sum(c)::DOUBLE * (sum(c)::DOUBLE - 1.0)) " +
          s"FROM (SELECT count(*)::BIGINT AS c FROM t WHERE $f IS NOT NULL GROUP BY $f))"
      def wSql(a: String, b: String, m: Double, u: String) =
        s"CASE WHEN $a IS NULL OR $b IS NULL THEN 0.0 " +
          s"WHEN $a = $b THEN log2($m / $u) ELSE log2((1.0 - $m) / (1.0 - $u)) END"
      def agSql(a: String, b: String) =
        s"CASE WHEN $a IS NULL OR $b IS NULL THEN NULL WHEN $a = $b THEN 1 ELSE 0 END"
      ("WITH t AS (SELECT c_custkey AS id, c_nationkey AS f1, c_mktsegment AS f2, " +
        "(round(abs(c_acctbal) * 100)::BIGINT % 1000) AS f3, " +
        "c_mktsegment AS blk1, floor(c_acctbal / 1000.0) AS blk2, c_acctbal AS sk FROM customer), " +
        "u AS (SELECT " + uSql("f1") + " AS u1, " + uSql("f2") + " AS u2, " +
        uSql("f3") + " AS u3), " +
        "w AS (SELECT id, f1, f2, f3, " +
        "lead(id, 1) OVER wnd AS id1, lead(f1, 1) OVER wnd AS g1_1, " +
        "lead(f2, 1) OVER wnd AS g2_1, lead(f3, 1) OVER wnd AS g3_1, " +
        "lead(id, 2) OVER wnd AS id2, lead(f1, 2) OVER wnd AS g1_2, " +
        "lead(f2, 2) OVER wnd AS g2_2, lead(f3, 2) OVER wnd AS g3_2 " +
        "FROM t WINDOW wnd AS (PARTITION BY blk1, blk2 ORDER BY sk, id)), " +
        "p AS (SELECT id AS id_a, id1 AS id_b, f1 AS a1, f2 AS a2, f3 AS a3, " +
        "g1_1 AS b1, g2_1 AS b2, g3_1 AS b3 FROM w WHERE id1 IS NOT NULL " +
        "UNION ALL SELECT id, id2, f1, f2, f3, g1_2, g2_2, g3_2 FROM w WHERE id2 IS NOT NULL) " +
        "SELECT id_a, id_b, " +
        agSql("a1", "b1") + " AS agree_c_nationkey, " +
        agSql("a2", "b2") + " AS agree_c_mktsegment, " +
        agSql("a3", "b3") + " AS agree_cents3, " +
        "round(" + wSql("a1", "b1", 0.95, "u1") + " + " +
        wSql("a2", "b2", 0.9, "u2") + " + " + wSql("a3", "b3", 0.7, "u3") +
        " + 5e-10, 6) AS score " +
        "FROM p CROSS JOIN u ORDER BY id_a, id_b")
    },
    "d19_repeated_spans" ->
      // replay the positional anchor set: constant-bounded range + a
      // position-fits filter (DuckDB's range() cannot take a lateral
      // column bound); 512 * 8 covers any sf0.01 doc length
      ("WITH g AS (SELECT doc_id, substring(text, (8*t.i+1)::INT, 24) AS gram " +
        "FROM documents, range(512) t(i) " +
        "WHERE len(text) >= 24 AND 8*t.i + 24 <= len(text)), " +
        "d AS (SELECT gram, doc_id, count(*) AS c FROM g GROUP BY 1, 2) " +
        "SELECT gram, sum(c)::BIGINT AS n_occ, count(*)::BIGINT AS n_docs " +
        "FROM d GROUP BY gram HAVING sum(c) >= 2 " +
        "ORDER BY n_occ DESC, gram LIMIT 30"),
    "d20_span_mask" ->
      // replay detect->mask: same top-30 anchor selection as d19, then
      // exhaustive (stride-1) occurrence starts, the distinct covered
      // positions, and a per-char rebuild via ordered string_agg.
      // n_masked counts covered POSITIONS (join presence), immune to
      // '#' appearing in source text.
      ("WITH g AS (SELECT doc_id, substring(text, (8*t.i+1)::INT, 24) AS gram " +
        "FROM documents, range(512) t(i) " +
        "WHERE len(text) >= 24 AND 8*t.i + 24 <= len(text)), " +
        "dd AS (SELECT gram, doc_id, count(*) AS c FROM g GROUP BY 1, 2), " +
        "gsel AS (SELECT gram FROM (SELECT gram, sum(c) AS n_occ FROM dd " +
        "GROUP BY gram HAVING sum(c) >= 2 ORDER BY n_occ DESC, gram LIMIT 30)), " +
        "cov AS (SELECT d.doc_id, p.i AS s FROM documents d, range(600) p(i) " +
        "WHERE p.i + 24 <= len(d.text) " +
        "AND substring(d.text, (p.i+1)::INT, 24) IN (SELECT gram FROM gsel)), " +
        "mp AS (SELECT DISTINCT cov.doc_id, cov.s + o.i AS pos FROM cov, range(24) o(i)), " +
        "base AS (SELECT d.doc_id, c.i AS pos, substring(d.text, (c.i+1)::INT, 1) AS och " +
        "FROM documents d, range(600) c(i) WHERE c.i < len(d.text)), " +
        "ch AS (SELECT b.doc_id, b.pos, " +
        "CASE WHEN mp.pos IS NOT NULL THEN '#' ELSE b.och END AS cch, " +
        "CASE WHEN mp.pos IS NOT NULL THEN 1 ELSE 0 END AS cv " +
        "FROM base b LEFT JOIN mp ON mp.doc_id = b.doc_id AND mp.pos = b.pos) " +
        "SELECT doc_id, string_agg(cch, '' ORDER BY pos) AS masked, " +
        "sum(cv)::BIGINT AS n_masked " +
        "FROM ch GROUP BY doc_id HAVING sum(cv) > 0 ORDER BY doc_id"),
    "d21_jaro_winkler_pairs" ->
      // brute-force distinct-pair join scored by DuckDB's NATIVE
      // jaro_winkler_similarity — an independent implementation of the
      // same standard constants, so a PASS pins the JaroOps kernel's
      // window/transposition/boost semantics, not just its arithmetic
      ("WITH n AS (SELECT lower(p_name) AS name, count(*)::BIGINT AS c FROM part " +
        "WHERE p_name IS NOT NULL AND len(p_name) > 0 GROUP BY 1) " +
        "SELECT a.name AS name_a, b.name AS name_b, a.c AS n_a, b.c AS n_b, " +
        "round(jaro_winkler_similarity(a.name, b.name) + 5e-10, 6) AS jw " +
        "FROM n a JOIN n b ON a.name < b.name " +
        "WHERE jaro_winkler_similarity(a.name, b.name) >= 0.84 " +
        "ORDER BY name_a, name_b"),
    "d22_source_overlap" ->
      // the same distinct (source, trigram) census, pair intersections
      // from the gram self-join, set algebra on the pair frame
      (s"WITH g0 AS (SELECT source AS src, unnest(${shingleSql(3, toksOf("text"))}) AS gr " +
        "FROM documents WHERE source IS NOT NULL AND text IS NOT NULL), " +
        "g AS (SELECT DISTINCT src, gr FROM g0), " +
        "sz AS (SELECT src, count(*)::BIGINT AS n FROM g GROUP BY 1), " +
        "it AS (SELECT a.src AS src_a, b.src AS src_b, count(*)::BIGINT AS c " +
        "FROM g a JOIN g b ON a.gr = b.gr AND a.src < b.src GROUP BY 1, 2), " +
        "pr AS (SELECT a.src AS src_a, b.src AS src_b, a.n AS n_a, b.n AS n_b " +
        "FROM sz a JOIN sz b ON a.src < b.src) " +
        "SELECT src_a, src_b, n_a, n_b, coalesce(c, 0)::BIGINT AS n_common, " +
        "round(coalesce(c, 0)::DOUBLE / (n_a + n_b - coalesce(c, 0)) + 5e-10, 6) AS jaccard, " +
        "round(coalesce(c, 0)::DOUBLE / least(n_a, n_b) + 5e-10, 6) AS containment " +
        "FROM pr LEFT JOIN it USING (src_a, src_b) ORDER BY src_a, src_b"),
    "q16_embedding_drift" ->
      // both sides' (dim, n, sx, sxx) censuses via generate_subscripts
      // (the s13 construction), the same mean/variance algebra, and
      // the planted affine shift replayed per element
      ("WITH r0 AS (SELECT embedding AS v FROM embeddings " +
        "WHERE vec_id % 5 <> 0 AND embedding IS NOT NULL AND len(embedding) = 64), " +
        "c0 AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.1 + 0.05) AS v " +
        "FROM embeddings WHERE vec_id % 5 = 0 AND embedding IS NOT NULL AND len(embedding) = 64), " +
        "re AS (SELECT generate_subscripts(v, 1) AS d, CAST(unnest(v) AS DOUBLE) AS x FROM r0), " +
        "ce AS (SELECT generate_subscripts(v, 1) AS d, CAST(unnest(v) AS DOUBLE) AS x FROM c0), " +
        "rs AS (SELECT d, count(*)::BIGINT AS n, sum(x) AS sx, sum(x * x) AS sxx FROM re GROUP BY d), " +
        "cs AS (SELECT d, count(*)::BIGINT AS n, sum(x) AS sx, sum(x * x) AS sxx FROM ce GROUP BY d), " +
        "m AS (SELECT rs.d, rs.n AS nr, cs.n AS nc, rs.sx / rs.n AS mur, cs.sx / cs.n AS muc, " +
        "rs.sxx / rs.n - (rs.sx / rs.n) * (rs.sx / rs.n) AS vr, " +
        "cs.sxx / cs.n - (cs.sx / cs.n) * (cs.sx / cs.n) AS vc FROM rs JOIN cs USING (d)), " +
        "g AS (SELECT CAST(max(nr) AS BIGINT) AS n_ref, CAST(max(nc) AS BIGINT) AS n_cur, " +
        "sum(mur * muc) AS dot, sqrt(sum(mur * mur)) AS normr, sqrt(sum(muc * muc)) AS normc, " +
        "sum(vr) AS vtr, sum(vc) AS vtc FROM m) " +
        "SELECT n_ref, n_cur, " +
        "round(CASE WHEN normr > 0 AND normc > 0 THEN dot / (normr * normc) END + 5e-10, 6) AS mean_cosine, " +
        "round(normr + 5e-10, 6) AS norm_ref, round(normc + 5e-10, 6) AS norm_cur, " +
        "round(vtr + 5e-10, 6) AS var_trace_ref, round(vtc + 5e-10, 6) AS var_trace_cur FROM g"),
    "u10_incremental_join_view" ->
      // the full recomputed join: appending the three-term delta to
      // the materialized base view must equal it exactly
      ("SELECT c_mktsegment, count(*)::BIGINT AS n, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price, " +
        "max(o_orderkey) AS max_key " +
        "FROM orders JOIN customer ON c_custkey = o_custkey " +
        "GROUP BY 1 ORDER BY 1"),
    "x29_ngram_novelty" ->
      // both sides' distinct-trigram censuses off the shared shingle
      // helper; novelty = the left join's miss share per source
      (s"WITH t AS (SELECT source, doc_id, ${toksOf("text")} AS tk " +
        "FROM documents WHERE text IS NOT NULL), " +
        s"c0 AS (SELECT source, unnest(${shingleSql(3, "tk")}) AS gram FROM t " +
        "WHERE doc_id % 10 = 0 AND source IS NOT NULL AND len(tk) > 0), " +
        "c AS (SELECT DISTINCT source, gram FROM c0), " +
        s"r0 AS (SELECT unnest(${shingleSql(3, "tk")}) AS gram FROM t " +
        "WHERE doc_id % 10 <> 0 AND len(tk) > 0), " +
        "r AS (SELECT DISTINCT gram FROM r0) " +
        "SELECT c.source, count(*)::BIGINT AS n_grams, " +
        "CAST(sum(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "round(sum(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) " +
        "+ 5e-10, 6) AS novelty_rate " +
        "FROM c LEFT JOIN r ON c.gram = r.gram GROUP BY 1 ORDER BY 1"),
    "d18_fuzzy_join" ->
      // brute-force cross join, aggregated to the per-probe summary: the
      // engine's PassJoin blocking is SOUND (zero false negatives), so
      // its match set — and therefore every aggregate of it — must equal
      // this exactly; best-match tie by (dist, id) via struct min
      ("WITH pr AS (SELECT p_partkey AS probe_id, substring(lower(p_name), 2) AS pn " +
        "FROM part WHERE p_partkey % 199 = 0), " +
        "co AS (SELECT p_partkey AS part_id, lower(p_name) AS cn FROM part), " +
        "m AS (SELECT pr.probe_id, co.part_id, levenshtein(pn, cn) AS d " +
        "FROM pr CROSS JOIN co WHERE levenshtein(pn, cn) <= 2), " +
        "g AS (SELECT probe_id, count(*)::BIGINT AS n_matches, " +
        "min(struct_pack(d := d, id := part_id)) AS best FROM m GROUP BY probe_id) " +
        "SELECT pr.probe_id, g.n_matches, " +
        "(g.best).d::BIGINT AS best_dist, (g.best).id AS best_id " +
        "FROM pr LEFT JOIN g USING (probe_id) ORDER BY probe_id"),
    "x10_lm_score" ->
      // replay the add-0.1 bigram LM: same lowercased tokens, positional
      // bigrams via unnest(range), context counts as the sum of bigram
      // counts, vocabulary = distinct successor words; the same +5e-10
      // rounding nudge as the Spark side
      (s"WITH t AS (SELECT doc_id, ${toksOf("text")} AS tk FROM documents), " +
        "p AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM t WHERE len(tk) >= 2), " +
        "bg AS (SELECT doc_id, tk[(i)::INT] AS w1, tk[(i+1)::INT] AS w2 FROM p), " +
        "c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2), " +
        "c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1), " +
        "v AS (SELECT count(DISTINCT w2)::DOUBLE AS v FROM bg), " +
        "sc AS (SELECT bg.doc_id, ln((c2.c2 + 0.1) / (c1.c1 + 0.1 * v.v)) AS lp " +
        "FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v) " +
        "SELECT doc_id, count(*)::BIGINT AS n_bigrams, " +
        "round(avg(lp) + 5e-10, 6) AS avg_logp, " +
        "round(exp(-avg(lp)) + 5e-10, 4) AS ppl " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id"),
    "d12_dup_span_fraction" -> {
      // positional 5-grams as strings (multiplicity preserved), corpus
      // occurrence counts, per-doc fraction of positions whose gram
      // repeats — exact integer ratio, single double division
      val gram = (1 to 5).map(o => s"tk[(i+${o - 1})::INT]").mkString("concat_ws(' ', ", ", ", ")")
      s"WITH t AS (SELECT doc_id, ${toksOf("text")} AS tk FROM documents), " +
        "p AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i FROM t WHERE len(tk) >= 5), " +
        s"g AS (SELECT doc_id, $gram AS gram FROM p), " +
        "f AS (SELECT gram, count(*) AS c FROM g GROUP BY gram) " +
        "SELECT doc_id, count(*)::BIGINT AS n_grams, " +
        "sum(CASE WHEN f.c >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup, " +
        "round(sum(CASE WHEN f.c >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS dup_fraction " +
        "FROM g JOIN f USING (gram) GROUP BY doc_id ORDER BY doc_id"
    },
    "x7_normalize" ->
      (s"SELECT doc_id, trim(regexp_replace(lower(regexp_replace(text, " +
        s"'[${TextAnalysis.ControlClass}]', ' ', 'g')), " +
        s"'[${TextAnalysis.WhitespaceClass}]+', ' ', 'g')) AS text_norm, " +
        "length(text) AS n_chars_raw, " +
        s"length(trim(regexp_replace(lower(regexp_replace(text, " +
        s"'[${TextAnalysis.ControlClass}]', ' ', 'g')), " +
        s"'[${TextAnalysis.WhitespaceClass}]+', ' ', 'g'))) AS n_chars_norm " +
        "FROM documents ORDER BY doc_id"),
    "x4_tfidf" ->
      (s"WITH tk AS (SELECT doc_id, unnest(${toksOf("text")}) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term), " +
        "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
        "n AS (SELECT count(*)::DOUBLE AS n FROM documents), " +
        "scored AS (SELECT tf.doc_id, tf.term, tf.tf * ln(n.n / dfreq.df) AS score " +
        "FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n), " +
        "ranked AS (SELECT doc_id, term, score, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM scored) " +
        "SELECT doc_id, term, ROUND(score, 6) AS score FROM ranked WHERE rk <= 3 " +
        "ORDER BY doc_id, score DESC, term"),
    "e11_stream_anomaly" ->
      // hourly counts -> hour-of-day baseline moments -> z, in the
      // identical double operation order as the Spark expression
      ("WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "bl AS (SELECT event_type, extract(hour FROM h) AS hod, count(*) AS n_obs, " +
        "sum(n) AS s, sum(n*n) AS ssq FROM hc GROUP BY 1, 2), " +
        "sc AS (SELECT hc.event_type, hc.h, hc.n, bl.n_obs, bl.s, " +
        "(bl.ssq::DOUBLE - bl.s::DOUBLE * bl.s / bl.n_obs) / bl.n_obs AS vr " +
        "FROM hc JOIN bl ON hc.event_type = bl.event_type AND extract(hour FROM hc.h) = bl.hod " +
        "WHERE bl.n_obs >= 10), " +
        "z AS (SELECT event_type, h, n, (n::DOUBLE - s::DOUBLE / n_obs) / sqrt(vr) AS z " +
        "FROM sc WHERE vr > 0) " +
        "SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS w_start, n::BIGINT AS n, " +
        "round(z + 5e-10, 6) AS z FROM z WHERE abs(z) >= 2.0 " +
        "ORDER BY event_type, w_start"),
    "e1_windowed_counts" ->
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start, event_type, " +
        "count(*) AS n, ROUND(sum(value), 6) AS sum_value " +
        "FROM events GROUP BY 1, 2 ORDER BY w_start, event_type"),
    "e2_sessionize" ->
      ("WITH marked AS (SELECT user_id, ts, event_id, value, " +
        "CASE WHEN lag(ts) OVER w IS NULL " +
        "OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS new_s " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sess AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM marked) " +
        "SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start, " +
        "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS s_end, " +
        "count(*) AS n_events, ROUND(sum(value), 6) AS sum_value " +
        "FROM sess GROUP BY user_id, sid ORDER BY user_id, s_start"),
    "e3_asof_join" ->
      ("WITH clicks AS (SELECT user_id, ts, min(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY user_id, ts), " +
        "errors AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') " +
        "SELECT e.event_id, e.user_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts, " +
        "c.click_id, strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts " +
        "FROM errors e ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND c.ts <= e.ts " +
        "ORDER BY e.event_id"),
    "e4_range_join" ->
      ("WITH errors AS (SELECT event_id, ts FROM events WHERE event_type = 'error') " +
        "SELECT a.event_id AS id_a, b.event_id AS id_b, epoch_ms(a.ts) AS t_a, epoch_ms(b.ts) AS t_b " +
        "FROM errors a JOIN errors b ON a.event_id < b.event_id " +
        "AND abs(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 60000 " +
        "ORDER BY id_a, id_b"),
    "e5_interval_join" ->
      ("WITH views AS (SELECT user_id, event_id AS view_id, ts AS view_ts " +
        "FROM events WHERE event_type = 'view'), " +
        "clicks AS (SELECT user_id, event_id AS click_id, ts AS click_ts " +
        "FROM events WHERE event_type = 'click') " +
        "SELECT v.user_id, v.view_id, c.click_id, " +
        "strftime(v.view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts, " +
        "strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts " +
        "FROM views v JOIN clicks c ON v.user_id = c.user_id " +
        "AND c.click_ts >= v.view_ts AND c.click_ts <= v.view_ts + INTERVAL 30 MINUTE " +
        "ORDER BY view_id, click_id"),
    "e10_outer_interval_join" ->
      ("WITH views AS (SELECT user_id, event_id AS view_id, ts AS view_ts " +
        "FROM events WHERE event_type = 'view'), " +
        "clicks AS (SELECT user_id, event_id AS click_id, ts AS click_ts " +
        "FROM events WHERE event_type = 'click'), " +
        "j AS (SELECT v.user_id, v.view_id, " +
        "max(CASE WHEN c.click_id IS NOT NULL THEN 1 ELSE 0 END) AS hit " +
        "FROM views v LEFT JOIN clicks c ON v.user_id = c.user_id " +
        "AND c.click_ts >= v.view_ts AND c.click_ts <= v.view_ts + INTERVAL 30 MINUTE " +
        "GROUP BY v.user_id, v.view_id) " +
        "SELECT user_id, count(*)::BIGINT AS n_views, sum(hit)::BIGINT AS n_attributed, " +
        "ROUND(sum(hit)::DOUBLE / count(*)::DOUBLE, 6) AS attribution_rate " +
        "FROM j GROUP BY user_id HAVING count(*) >= 3 ORDER BY user_id"),
    // sum() over INT is HUGEINT in DuckDB -> float64 in pandas -> the
    // driver's strict cell hash diverges from Spark's long even when the
    // values are numerically identical; ::BIGINT restores the match (same
    // cast discipline as c1's sum(n_tok)::BIGINT).
    "e7_variant_extract" ->
      ("SELECT event_type, count(k) AS n, sum(k)::BIGINT AS k_sum, min(k) AS k_min, max(k) AS k_max, " +
        "0::BIGINT AS n_missing " + // $.absent never parses -> all null -> count 0
        "FROM (SELECT event_type, CAST(props->>'$.k' AS INT) AS k FROM events) " +
        "GROUP BY event_type ORDER BY event_type"),
    "e6_json_extract" ->
      ("SELECT event_type, count(k) AS n, sum(k)::BIGINT AS k_sum, min(k) AS k_min, max(k) AS k_max, " +
        "count(k) AS n_path_agree " + // typed and path extraction agree wherever k parses
        "FROM (SELECT event_type, CAST(props->>'$.k' AS INT) AS k FROM events) " +
        "GROUP BY event_type ORDER BY event_type"),
    // epoch_ms = Spark's unix_millis (both floor microseconds to ms);
    // the mean divides the same exact (sum_ms, n) integers in both
    // engines, so the rounded double matches bit-for-bit.
    "e8_funnel" ->
      ("WITH pu AS (SELECT user_id, " +
        "min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS v_ms, " +
        "min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS c_ms, " +
        "min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS p_ms " +
        "FROM events GROUP BY user_id) " +
        "SELECT count(*)::BIGINT AS n_users, count(v_ms)::BIGINT AS n_view, " +
        "count(CASE WHEN c_ms > v_ms THEN 1 END)::BIGINT AS n_view_click, " +
        "count(CASE WHEN c_ms > v_ms AND p_ms > c_ms THEN 1 END)::BIGINT AS n_full_funnel, " +
        "sum(CASE WHEN c_ms > v_ms THEN c_ms - v_ms END)::BIGINT AS sum_view_click_ms, " +
        "ROUND(sum(CASE WHEN c_ms > v_ms THEN c_ms - v_ms END)::DOUBLE " +
        "/ count(CASE WHEN c_ms > v_ms THEN 1 END)::DOUBLE / 1000.0, 6) AS mean_view_to_click_sec " +
        "FROM pu"),
    "d11_semantic_dedup" ->
      ("WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv " +
        "FROM embeddings WHERE vec_id < 8), " +
        "p AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cid, " +
        "list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS cos " +
        "FROM embeddings e CROSS JOIN c), " +
        "asg AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk FROM p) WHERE rk = 1), " +
        "sz AS (SELECT cid, count(*) AS n FROM asg GROUP BY cid), " +
        "rem AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b ON a.cid = b.cid " +
        "AND a.vec_id < b.vec_id AND list_cosine_similarity(a.v, b.v) >= 0.2 " +
        "JOIN sz ON sz.cid = a.cid AND sz.n <= 10000) " +
        "SELECT vec_id, cid::BIGINT AS centroid_id FROM asg " +
        "WHERE vec_id NOT IN (SELECT vec_id FROM rem) ORDER BY vec_id"),
    "c2_vector_quantize" ->
      ("WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv " +
        "FROM embeddings WHERE vec_id < 8), " +
        "p AS (SELECT e.vec_id, c.cid, " +
        "list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS cos " +
        "FROM embeddings e CROSS JOIN c), " +
        "r AS (SELECT vec_id, cid, cos, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk FROM p) " +
        "SELECT cid::BIGINT AS centroid_id, count(*)::BIGINT AS n, " +
        "ROUND(avg(cos), 6) AS mean_cos " +
        "FROM r WHERE rk = 1 GROUP BY cid ORDER BY centroid_id"),
    "c3b_cluster_profile" ->
      // the c2 cosine-argmax assignment against the vec_id<10 codebook,
      // then the profile census: per-(cluster,label) counts, majority
      // label by (count, label-string) struct max (ties -> LARGEST
      // label string, Spark's max_by over the struct), purity, and a
      // guaranteed row per centroid id 0..9
      ("WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv " +
        "FROM embeddings WHERE vec_id < 10), " +
        "p AS (SELECT e.vec_id, e.label, c.cid, " +
        "list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS cos " +
        "FROM embeddings e CROSS JOIN c), " +
        "r AS (SELECT vec_id, label, cid, cos, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk FROM p), " +
        "a AS (SELECT cid, label, cos FROM r WHERE rk = 1), " +
        "pl AS (SELECT cid, label, count(*)::BIGINT AS nl, sum(cos) AS sc " +
        "FROM a GROUP BY 1, 2), " +
        "tl AS (SELECT cid, label, row_number() OVER (PARTITION BY cid " +
        "ORDER BY nl DESC, CAST(label AS VARCHAR) DESC) AS rk FROM pl), " +
        "pc AS (SELECT cid, CAST(sum(nl) AS BIGINT) AS n, " +
        "sum(sc) / sum(nl) AS mean_cosine, " +
        "max(nl)::DOUBLE / sum(nl)::DOUBLE AS purity FROM pl GROUP BY cid) " +
        "SELECT g.range::BIGINT AS centroid_id, coalesce(pc.n, 0)::BIGINT AS n, " +
        "round(pc.mean_cosine + 5e-10, 6) AS mean_cosine, " +
        "t0.label::BIGINT AS top_label, round(pc.purity + 5e-10, 6) AS purity " +
        "FROM range(10) g LEFT JOIN pc ON pc.cid = g.range " +
        "LEFT JOIN (SELECT cid, label FROM tl WHERE rk = 1) t0 ON t0.cid = g.range " +
        "ORDER BY centroid_id"),
    "w6_ewma" -> {
      // identical weight literals (Scala double toString round-trips),
      // identical left-fold order for numerator and denominator, same
      // null-renormalization at series heads
      val lags = graft.streaming.EventPipeline.ewmaWeights(0.3, 8).zipWithIndex
      val num = lags.map { case (wt, j) =>
        s"(CASE WHEN lag(v, $j) OVER w IS NOT NULL THEN lag(v, $j) OVER w * $wt ELSE 0.0 END)"
      }.mkString(" + ")
      val den = lags.map { case (wt, j) =>
        s"(CASE WHEN lag(v, $j) OVER w IS NOT NULL THEN $wt ELSE 0.0 END)"
      }.mkString(" + ")
      "WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, sum(value) AS v " +
        "FROM events GROUP BY 1, 2), " +
        s"e AS (SELECT event_type, h, v, ($num) / ($den) AS ewma FROM hourly " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY h)) " +
        "SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS h, " +
        "round(v + 5e-10, 6) AS v, round(ewma + 5e-10, 6) AS ewma " +
        "FROM e ORDER BY event_type, h"
    },
    "e17_sliding_window" ->
      // each event's two window starts via epoch-grid floor arithmetic
      // (Spark's window() aligns to the epoch; 30-min grid): b and
      // b - 30 min; then the same aggregate
      ("WITH e AS (SELECT event_type, value, " +
        "make_timestamp((epoch_ms(ts) // 1800000) * 1800000 * 1000) AS b FROM events), " +
        "u AS (SELECT b AS ws, event_type, value FROM e " +
        "UNION ALL SELECT b - INTERVAL 30 MINUTE, event_type, value FROM e) " +
        "SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w_start, event_type, " +
        "count(*)::BIGINT AS n, round(sum(value) + 5e-10, 6) AS sum_value " +
        "FROM u GROUP BY ws, event_type ORDER BY w_start, event_type"),
    "e16_attribution" ->
      // same cumulative struct-max (latest click as (ms, id), ties by
      // id) over the same (ts, event_id) window order; epoch_ms =
      // unix_millis (both floor microseconds)
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms, ts FROM events), " +
        "w AS (SELECT *, max(CASE WHEN event_type = 'click' " +
        "THEN struct_pack(ms := ms, id := event_id) END) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS lt FROM e) " +
        "SELECT user_id, event_id AS conv_id, ms AS conv_ms, " +
        "CASE WHEN lt IS NOT NULL AND ms - lt.ms <= 3600000 THEN lt.id END AS touch_id, " +
        "CASE WHEN lt IS NOT NULL AND ms - lt.ms <= 3600000 THEN ms - lt.ms END AS gap_ms " +
        "FROM w WHERE event_type = 'purchase' ORDER BY conv_id"),
    "e9_funnel_ttl" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events), " +
        "l AS (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM e), " +
        "ep AS (SELECT *, sum(CASE WHEN prev IS NULL OR ms - prev > 3600000 THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS eid FROM l), " +
        "last AS (SELECT *, max(eid) OVER (PARTITION BY user_id) AS maxeid FROM ep), " +
        "pu AS (SELECT user_id, " +
        "min(CASE WHEN event_type = 'view' THEN ms END) AS v_ms, " +
        "min(CASE WHEN event_type = 'click' THEN ms END) AS c_ms, " +
        "min(CASE WHEN event_type = 'purchase' THEN ms END) AS p_ms " +
        "FROM last WHERE eid = maxeid GROUP BY user_id), " +
        "st AS (SELECT user_id, v_ms, c_ms, p_ms, " +
        "CASE WHEN v_ms IS NULL THEN 0 " +
        "WHEN c_ms > v_ms AND p_ms > c_ms THEN 3 " +
        "WHEN c_ms > v_ms THEN 2 ELSE 1 END AS stage FROM pu) " +
        "SELECT stage::BIGINT AS stage, count(*)::BIGINT AS n_users, " +
        "sum(CASE WHEN c_ms > v_ms THEN c_ms - v_ms END)::BIGINT AS sum_view_click_ms " +
        "FROM st GROUP BY stage ORDER BY stage"),
    "x8_vocab" ->
      (s"WITH tk AS (SELECT unnest(${toksOf("text")}) AS token FROM documents), " +
        "c AS (SELECT token, count(*)::BIGINT AS n FROM tk GROUP BY token), " +
        "tot AS (SELECT sum(n)::BIGINT AS total FROM c), " +
        "top AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 100), " +
        "r AS (SELECT token, n, " +
        "row_number() OVER (ORDER BY n DESC, token) AS rank, " +
        "sum(n) OVER (ORDER BY n DESC, token ROWS UNBOUNDED PRECEDING) AS cum FROM top) " +
        "SELECT rank::BIGINT AS rank, token, n, " +
        "ROUND(n::DOUBLE / total::DOUBLE, 6) AS share, " +
        "ROUND(cum::DOUBLE / total::DOUBLE, 6) AS cum_share " +
        "FROM r CROSS JOIN tot ORDER BY rank"),
    "j2_bucketed_join" ->
      ("SELECT c_mktsegment, count(*)::BIGINT AS n_orders, " +
        "ROUND(sum(o_totalprice), 2) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    // the Misra-Gries candidate set + exact re-count composes to exactly
    // "all tokens above the N/(k+1) frequency floor, with exact counts"
    // — sketch-independent, so the oracle derives the set directly
    "x9_heavy_hitters" ->
      (s"WITH tk AS (SELECT unnest(${toksOf("text")}) AS token FROM documents), " +
        "tot AS (SELECT count(*)::BIGINT AS total FROM tk), " +
        "c AS (SELECT token, count(*)::BIGINT AS n FROM tk GROUP BY token) " +
        "SELECT token, n, ROUND(n::DOUBLE / total::DOUBLE, 6) AS share " +
        "FROM c CROSS JOIN tot WHERE n * 51 > total ORDER BY n DESC, token"),
    // the merged-state path is output-equivalent to a one-shot summary:
    // exact counts of every token above the total/(k+1) floor, however
    // the stream was batched — so the oracle needs no batching at all
    "u9_incremental_topk" ->
      (s"WITH tk AS (SELECT unnest(${toksOf("text")}) AS token FROM documents), " +
        "tot AS (SELECT count(*)::BIGINT AS total FROM tk), " +
        "c AS (SELECT token, count(*)::BIGINT AS n FROM tk GROUP BY token) " +
        "SELECT token, n, ROUND(n::DOUBLE / total::DOUBLE, 6) AS share " +
        "FROM c CROSS JOIN tot WHERE n * 41 > total ORDER BY n DESC, token"),
    // l_quantity is integer-valued, so the double sum is exact in any
    // accumulation order
    "k2_salted_join" ->
      ("SELECT p_type, count(*)::BIGINT AS n_items, " +
        "ROUND(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_type ORDER BY p_type"),
    "k4_skew_report" ->
      // MG with 5 distinct keys <= 64 capacity surfaces every key, so
      // the report equals the exact per-key census; identical
      // cnt/total double division and ceil on both sides
      ("WITH t AS (SELECT count(*)::DOUBLE AS total FROM events), " +
        "c AS (SELECT event_type, count(*)::BIGINT AS cnt FROM events GROUP BY 1) " +
        "SELECT event_type, cnt, round(cnt / total + 5e-10, 6) AS share, " +
        "CAST(ceil(cnt / total * 32) AS BIGINT) AS suggested_salt " +
        "FROM c, t WHERE cnt / total >= 0.01 " +
        "ORDER BY cnt DESC, event_type"),
    "k3_bloom_join" ->
      ("SELECT l_returnflag, count(*)::BIGINT AS n_items, " +
        "ROUND(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // MERGE semantics spelled out relationally: latest change per key
    // (row_number desc = Spark's max_by over the same (ts, seq) order),
    // full join against the snapshot, deletes filtered, CASE picks the
    // surviving value. + 5e-10 is the shared roundDoubles nudge.
    "u2_upsert" ->
      ("WITH ch AS (SELECT CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 1000000 " +
        "ELSE o_custkey END AS k, " +
        "CASE WHEN o_orderkey % 10 = 0 THEN 'delete' ELSE 'upsert' END AS op, " +
        "o_orderdate, o_orderkey, o_totalprice FROM orders), " +
        "latest AS (SELECT k, op, o_totalprice FROM " +
        "(SELECT k, op, o_totalprice, row_number() OVER " +
        "(PARTITION BY k ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM ch) WHERE rn = 1) " +
        "SELECT COALESCE(s.c_custkey, l.k) AS c_custkey, " +
        "ROUND((CASE WHEN l.k IS NOT NULL THEN l.o_totalprice ELSE s.c_acctbal END) + 5e-10, 6) AS c_acctbal, " +
        "s.c_mktsegment AS c_mktsegment, " +
        "CASE WHEN l.k IS NULL THEN 'kept' WHEN s.c_custkey IS NULL THEN 'inserted' " +
        "ELSE 'updated' END AS src " +
        "FROM customer s FULL JOIN latest l ON s.c_custkey = l.k " +
        "WHERE l.op IS NULL OR l.op <> 'delete' ORDER BY c_custkey"),
    "w3_topk_per_group" ->
      ("SELECT o_orderpriority, rank, o_orderkey, ROUND(o_totalprice + 5e-10, 6) AS price " +
        "FROM (SELECT o_orderpriority, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_orderpriority " +
        "ORDER BY o_totalprice DESC, o_orderkey) AS rank FROM orders) " +
        "WHERE rank <= 5 ORDER BY o_orderpriority, rank"),
    "p9_bottomk_sample" ->
      ("WITH pr AS (SELECT o_orderpriority, o_orderkey, " +
        "((o_orderkey + 1) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS priority FROM orders), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority " +
        "ORDER BY priority, o_orderkey) AS rk FROM pr) " +
        "SELECT o_orderpriority, o_orderkey, priority FROM r WHERE rk <= 5 " +
        "ORDER BY o_orderpriority, priority, o_orderkey"),
    "q1_quality_suite" ->
      // every check recomputed as a scalar CTE; fractions divide the
      // same exact longs; CHECK is a reserved word -> quoted alias
      ("WITH t AS (SELECT count(*)::BIGINT AS n FROM orders), " +
        "c1 AS (SELECT 'not_null' AS c, 'o_custkey' AS target, " +
        "coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0)::BIGINT AS n_bad, 0.0 AS threshold FROM orders), " +
        "c2 AS (SELECT 'in_range', 'o_totalprice[0.0,400000.0]', " +
        "coalesce(sum(CASE WHEN o_totalprice IS NOT NULL AND (o_totalprice < 0.0 OR o_totalprice > 400000.0) THEN 1 ELSE 0 END), 0)::BIGINT, 0.05 FROM orders), " +
        "c3 AS (SELECT 'matches_regex', 'o_orderpriority~^[1-5]-', " +
        "coalesce(sum(CASE WHEN o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END), 0)::BIGINT, 0.0 FROM orders), " +
        "c4 AS (SELECT 'unique', 'o_orderkey', (count(*) - count(DISTINCT o_orderkey))::BIGINT, 0.0 FROM orders), " +
        "c5 AS (SELECT 'unique', 'o_custkey', (count(*) - count(DISTINCT o_custkey))::BIGINT, 0.5 FROM orders), " +
        "c6 AS (SELECT 'referential', 'o_custkey->c_custkey', " +
        "(SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS " +
        "(SELECT 1 FROM customer c WHERE c.c_custkey % 3 <> 0 AND c.c_custkey = o.o_custkey))::BIGINT, 0.1), " +
        "u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3 " +
        "UNION ALL SELECT * FROM c4 UNION ALL SELECT * FROM c5 UNION ALL SELECT * FROM c6) " +
        "SELECT u.c AS \"check\", u.target, t.n AS n_rows, u.n_bad, " +
        "round(u.n_bad::DOUBLE / t.n + 5e-10, 6) AS bad_frac, " +
        "round(u.threshold + 5e-10, 6) AS threshold, " +
        "((u.n_bad::DOUBLE / t.n) <= u.threshold)::BIGINT AS passed " +
        "FROM u CROSS JOIN t ORDER BY \"check\", u.target"),
    "q2_profile" ->
      // one CTE per column replaying the value-histogram profile; mode
      // tie-break is larger NATIVE value (cast to VARCHAR after)
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority").map { c =>
        s"SELECT '$c' AS \"column\", count(*)::BIGINT AS n_rows, " +
          s"(count(*) - count($c))::BIGINT AS n_null, " +
          s"count(DISTINCT $c)::BIGINT AS ndv, " +
          s"min($c)::VARCHAR AS min_v, max($c)::VARCHAR AS max_v, " +
          s"(SELECT $c::VARCHAR FROM orders WHERE $c IS NOT NULL " +
          s"GROUP BY $c ORDER BY count(*) DESC, $c DESC LIMIT 1) AS top_v, " +
          s"coalesce((SELECT count(*)::BIGINT FROM orders WHERE $c IS NOT NULL " +
          s"GROUP BY $c ORDER BY count(*) DESC LIMIT 1), 0) AS top_n FROM orders"
      }.mkString("", " UNION ALL ", " ORDER BY \"column\""),
    "q5_incremental_psi" ->
      // bin assignment replayed with Spark's operation order (divide,
      // then scale, then clamp); smoothing via e-notation doubles
      ("WITH e AS (SELECT event_type, ts, value FROM events WHERE value IS NOT NULL), " +
        "rb AS (SELECT event_type, least(greatest(floor(value / 5e2 * 10), 0), 9)::INT AS bin, " +
        "count(*)::BIGINT AS n FROM e WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1, 2), " +
        "cb AS (SELECT event_type, least(greatest(floor(value / 5e2 * 10), 0), 9)::INT AS bin, " +
        "count(*)::BIGINT AS n FROM e WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1, 2), " +
        "k AS (SELECT event_type FROM rb UNION SELECT event_type FROM cb), " +
        "g AS (SELECT k.event_type, b.range::INT AS bin FROM k CROSS JOIN range(10) b), " +
        "d AS (SELECT g.event_type, g.bin, coalesce(rb.n, 0)::BIGINT AS nr, coalesce(cb.n, 0)::BIGINT AS nc " +
        "FROM g LEFT JOIN rb ON g.event_type = rb.event_type AND g.bin = rb.bin " +
        "LEFT JOIN cb ON g.event_type = cb.event_type AND g.bin = cb.bin), " +
        "t AS (SELECT event_type, sum(nr)::BIGINT AS tr, sum(nc)::BIGINT AS tc FROM d GROUP BY 1), " +
        "p AS (SELECT d.event_type, tr, tc, (nr + 5e-1) / (tr + 5e0) AS pr, " +
        "(nc + 5e-1) / (tc + 5e0) AS pc FROM d JOIN t USING (event_type)) " +
        "SELECT event_type, max(tr)::BIGINT AS n_ref, max(tc)::BIGINT AS n_cur, " +
        "round(sum((pc - pr) * ln(pc / pr)) + 5e-10, 6) AS psi " +
        "FROM p GROUP BY 1 ORDER BY 1"),
    "p12_group_holdout" ->
      // the DSIR positional char hash of lower(source) mod P feeds the
      // Lehmer permutation; cut = floor(0.4 * (2^31 - 1)) = 858993458
      ("WITH k AS (SELECT doc_id, source, " +
        "list_sum(list_transform(list_transform(string_split(lower(source), ''), c -> unicode(c)), " +
        "(c, i) -> c * ((i * 2654435761) % 1048573))) % 1048573 AS key FROM documents) " +
        "SELECT doc_id, source FROM k " +
        "WHERE ((key + 1) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 < 858993458 " +
        "ORDER BY doc_id"),
    "v1_roc_auc" ->
      // per-distinct-score class counts, strictly-below negative cumsum,
      // the exact-integer Mann-Whitney numerator, ONE double division
      ("WITH s AS (SELECT embedding[1]::DOUBLE AS v, (label % 2)::BIGINT AS y FROM embeddings " +
        "WHERE embedding[1] IS NOT NULL AND label IS NOT NULL), " +
        "g AS (SELECT v, sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END)::BIGINT AS np, " +
        "sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::BIGINT AS nn FROM s GROUP BY v), " +
        "t AS (SELECT sum(np)::BIGINT AS p, sum(nn)::BIGINT AS n FROM g), " +
        "c AS (SELECT np, nn, coalesce(sum(nn) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS below FROM g) " +
        "SELECT round(sum((below * 2 + nn)::HUGEINT * np)::DOUBLE / (2e0 * p * n) + 5e-10, 6) AS auc, " +
        "p AS n_pos, n AS n_neg FROM c CROSS JOIN t GROUP BY p, n"),
    "v14_auc_delong" ->
      // the v1 census with BOTH strictly-below cumsums, the per-score
      // placements, count-weighted placement moments, and the identical
      // driver algebra (auc, S10/P + S01/N, normal CI)
      ("WITH s AS (SELECT embedding[1]::DOUBLE AS v, (label % 2)::BIGINT AS y FROM embeddings " +
        "WHERE embedding[1] IS NOT NULL AND label IS NOT NULL), " +
        "g AS (SELECT v, sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END)::BIGINT AS np, " +
        "sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::BIGINT AS nn FROM s GROUP BY v), " +
        "t AS (SELECT sum(np)::BIGINT AS p, sum(nn)::BIGINT AS n FROM g), " +
        "c AS (SELECT np, nn, " +
        "coalesce(sum(nn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS negb, " +
        "coalesce(sum(np) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS posb FROM g), " +
        "pl AS (SELECT np, nn, " +
        "(negb::DOUBLE + 0.5 * nn::DOUBLE) / n::DOUBLE AS v10, " +
        "((p - posb - np)::DOUBLE + 0.5 * np::DOUBLE) / p::DOUBLE AS v01 " +
        "FROM c CROSS JOIN t), " +
        "mo AS (SELECT sum(np::DOUBLE * v10) AS sw10, sum(np::DOUBLE * v10 * v10) AS sq10, " +
        "sum(nn::DOUBLE * v01) AS sw01, sum(nn::DOUBLE * v01 * v01) AS sq01 FROM pl), " +
        "fin AS (SELECT p, n, sw10 / p AS auc, " +
        "((sq10 - sw10 * sw10 / p) / (p - 1.0)) / p + ((sq01 - sw01 * sw01 / n) / (n - 1.0)) / n AS va " +
        "FROM mo CROSS JOIN t) " +
        "SELECT p AS n_pos, n AS n_neg, round(auc + 5e-10, 6) AS auc, " +
        "round(va + 5e-10, 6) AS var_auc, round(sqrt(va) + 5e-10, 6) AS se_auc, " +
        "round(auc - 1.96 * sqrt(va) + 5e-10, 6) AS ci_lo, " +
        "round(auc + 1.96 * sqrt(va) + 5e-10, 6) AS ci_hi FROM fin"),
    "v2_confusion" ->
      ("WITH s AS (SELECT (embedding[2] > 0e0) AS pred, ((label % 2) <> 0) AS y FROM embeddings " +
        "WHERE embedding[2] IS NOT NULL AND label IS NOT NULL), " +
        "a AS (SELECT sum(CASE WHEN pred AND y THEN 1 ELSE 0 END)::BIGINT AS tp, " +
        "sum(CASE WHEN pred AND NOT y THEN 1 ELSE 0 END)::BIGINT AS fp, " +
        "sum(CASE WHEN NOT pred AND y THEN 1 ELSE 0 END)::BIGINT AS fn, " +
        "sum(CASE WHEN NOT pred AND NOT y THEN 1 ELSE 0 END)::BIGINT AS tn FROM s) " +
        "SELECT tp, fp, fn, tn, " +
        "round(tp::DOUBLE / (tp + fp) + 5e-10, 6) AS precision, " +
        "round(tp::DOUBLE / (tp + fn) + 5e-10, 6) AS recall, " +
        "round((tp * 2)::DOUBLE / (tp * 2 + fp + fn) + 5e-10, 6) AS f1, " +
        "round((tp + tn)::DOUBLE / (tp + fp + fn + tn) + 5e-10, 6) AS accuracy FROM a"),
    "v3_ndcg" ->
      // the window formulation of the same metric: rank by score (ties ->
      // id), rank by relevance for the ideal, identical gain/discount
      // arithmetic (2^rel - 1) / log2(pos + 1), one-based positions
      ("WITH s AS (SELECT year(o_orderdate)::BIGINT AS yr, o_totalprice::DOUBLE AS score, " +
        "(o_custkey % 4)::DOUBLE AS rel, o_orderkey AS id FROM orders " +
        "WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL AND o_orderkey IS NOT NULL), " +
        "r AS (SELECT yr, rel, row_number() OVER (PARTITION BY yr ORDER BY score DESC, id) AS rn FROM s), " +
        "ri AS (SELECT yr, rel, row_number() OVER (PARTITION BY yr ORDER BY rel DESC, id) AS rn FROM s), " +
        "d AS (SELECT yr, sum((pow(2e0, rel) - 1) / log2(rn + 1)) AS dcg FROM r WHERE rn <= 10 GROUP BY yr), " +
        "i AS (SELECT yr, sum((pow(2e0, rel) - 1) / log2(rn + 1)) AS idcg FROM ri WHERE rn <= 10 GROUP BY yr), " +
        "n AS (SELECT yr, count(*)::BIGINT AS n_items FROM s GROUP BY yr) " +
        "SELECT n.yr, n_items, round(dcg + 5e-10, 6) AS dcg, round(idcg + 5e-10, 6) AS idcg, " +
        "round(CASE WHEN idcg > 0 THEN dcg / idcg END + 5e-10, 6) AS ndcg " +
        "FROM n JOIN d ON n.yr = d.yr JOIN i ON n.yr = i.yr ORDER BY n.yr"),
    "v7_mrr_precision" ->
      // the window formulation: rank by (score DESC, id), first relevant
      // rank within 10, relevant count within 10, exact divisions
      ("WITH s AS (SELECT year(o_orderdate)::BIGINT AS yr, o_totalprice::DOUBLE AS score, " +
        "(o_custkey % 4)::DOUBLE AS rel, o_orderkey AS id FROM orders " +
        "WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL AND o_orderkey IS NOT NULL), " +
        "r AS (SELECT yr, rel, row_number() OVER (PARTITION BY yr ORDER BY score DESC, id) AS rn FROM s), " +
        "a AS (SELECT yr, min(CASE WHEN rel > 0 THEN rn END) AS first_rel, " +
        "sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT AS n_rel FROM r WHERE rn <= 10 GROUP BY yr), " +
        "n AS (SELECT yr, count(*)::BIGINT AS n_items FROM s GROUP BY yr) " +
        "SELECT n.yr, n_items, " +
        "round(coalesce(1e0 / first_rel, 0e0) + 5e-10, 6) AS mrr, " +
        "round(n_rel::DOUBLE / 10 + 5e-10, 6) AS precision " +
        "FROM n JOIN a ON n.yr = a.yr ORDER BY n.yr"),
    "v8_brier_logloss" ->
      // identical clamp constants and per-row expressions; the means are
      // plain sums of bounded values so 6-dp rounding absorbs order
      ("WITH s AS (SELECT o_orderpriority AS g, (o_orderkey % 1000)::DOUBLE / 1000 AS p, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders " +
        "WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL " +
        "AND o_orderpriority IS NOT NULL), " +
        "c AS (SELECT g, p, y, least(greatest(p, 1e-15), 1.0 - 1e-15) AS pc FROM s) " +
        "SELECT g AS o_orderpriority, count(*)::BIGINT AS n, " +
        "round(avg(y::DOUBLE) + 5e-10, 6) AS base_rate, " +
        "round(avg((p - y) * (p - y)) + 5e-10, 6) AS brier, " +
        "round(avg(-(y * ln(pc) + (1 - y) * ln(1.0 - pc))) + 5e-10, 6) AS logloss " +
        "FROM c GROUP BY g ORDER BY 1"),
    "v9_avg_precision" ->
      // the window formulation: rank by (score DESC, id), integer
      // cumulative positives, the AP step sum, one division per group
      ("WITH s AS (SELECT (year(o_orderdate) * 100 + month(o_orderdate))::BIGINT AS ym, " +
        "o_totalprice::DOUBLE AS score, " +
        "CASE WHEN o_custkey % 10 = 0 THEN 1 ELSE 0 END AS y, o_orderkey AS id FROM orders " +
        "WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL AND o_orderkey IS NOT NULL), " +
        "r AS (SELECT ym, y, row_number() OVER w AS rn, " +
        "sum(y) OVER (PARTITION BY ym ORDER BY score DESC, id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp FROM s " +
        "WINDOW w AS (PARTITION BY ym ORDER BY score DESC, id)) " +
        "SELECT ym, count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos, " +
        "round(CASE WHEN sum(y) > 0 THEN " +
        "sum(CASE WHEN y = 1 THEN cp::DOUBLE / rn END) / sum(y) END + 5e-10, 6) AS ap " +
        "FROM r GROUP BY ym ORDER BY ym"),
    "v4_calibration" ->
      // bin arithmetic and the explicit sum_p / n confidence replayed with
      // identical operation order; ECE as the tiny-frame weighted walk
      ("WITH s AS (SELECT (o_orderkey % 1000)::DOUBLE / 1000 AS p, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders " +
        "WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL), " +
        "b AS (SELECT least(floor(p * 10)::BIGINT, 9) AS bin, count(*)::BIGINT AS n, " +
        "sum(p) AS sum_p, sum(y)::BIGINT AS sum_y FROM s GROUP BY 1), " +
        "c AS (SELECT bin, n, sum_p / n AS conf, sum_y::DOUBLE / n AS acc FROM b) " +
        "SELECT bin, n, round(conf + 5e-10, 6) AS conf, round(acc + 5e-10, 6) AS acc, " +
        "round(acc - conf + 5e-10, 6) AS gap, " +
        "round(sum(n * abs(acc - conf)) OVER () / sum(n) OVER () + 5e-10, 6) AS ece " +
        "FROM c ORDER BY bin"),
    "v5_cohen_kappa" ->
      // exact-integer confusion cells, diag/N observed agreement, the
      // marginal-product chance numerator, two divisions at the end
      ("WITH s AS (SELECT (l_suppkey % 3)::VARCHAR AS r1, " +
        "(CASE WHEN l_orderkey % 5 < 3 THEN l_suppkey % 3 ELSE (l_suppkey + 1) % 3 END)::VARCHAR AS r2 " +
        "FROM lineitem WHERE l_suppkey IS NOT NULL AND l_orderkey IS NOT NULL), " +
        "t AS (SELECT count(*)::BIGINT AS n, " +
        "sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END)::BIGINT AS diag FROM s), " +
        "rm AS (SELECT r1 AS l, count(*)::BIGINT AS rn FROM s GROUP BY 1), " +
        "cm AS (SELECT r2 AS l, count(*)::BIGINT AS cn FROM s GROUP BY 1), " +
        "pe AS (SELECT sum(coalesce(rn, 0) * coalesce(cn, 0))::BIGINT AS pe_num " +
        "FROM rm FULL OUTER JOIN cm USING (l)) " +
        "SELECT n, round(diag::DOUBLE / n + 5e-10, 6) AS p_o, " +
        "round(pe_num::DOUBLE / (n * n) + 5e-10, 6) AS p_e, " +
        "round((diag::DOUBLE / n - pe_num::DOUBLE / (n * n)) / " +
        "(1 - pe_num::DOUBLE / (n * n)) + 5e-10, 6) AS kappa " +
        "FROM t CROSS JOIN pe"),
    "v6_fleiss_kappa" ->
      // the three rater columns as a UNION ALL, per-item cell counts,
      // exact-integer sum-of-squares numerators, the standard Fleiss
      // algebra with the operator's exact operation order
      ("WITH v AS (" +
        (0 to 2).map(r =>
          s"SELECT o_orderkey AS item, CASE WHEN (o_orderkey + $r) % 5 = 0 " +
            "THEN (o_orderkey % 4 + 1) % 4 ELSE o_orderkey % 4 END AS label " +
            "FROM orders WHERE o_orderkey IS NOT NULL").mkString(" UNION ALL ") + "), " +
        "cells AS (SELECT item, label, count(*)::BIGINT AS c FROM v GROUP BY 1, 2), " +
        "pi AS (SELECT item, sum(c)::BIGINT AS nv, sum(c * c)::BIGINT AS sq FROM cells GROUP BY 1), " +
        "top AS (SELECT count(*)::BIGINT AS n_items, min(nv)::BIGINT AS n_raters, " +
        "sum(sq)::DOUBLE AS sq_sum FROM pi), " +
        "lj AS (SELECT sum(cj * cj)::DOUBLE AS cj_sq FROM " +
        "(SELECT sum(c)::BIGINT AS cj FROM cells GROUP BY label)) " +
        "SELECT n_items, n_raters, " +
        "round((sq_sum - n_items::DOUBLE * n_raters) / " +
        "(n_items::DOUBLE * n_raters * (n_raters - 1)) + 5e-10, 6) AS p_bar, " +
        "round(cj_sq / (n_items::DOUBLE * n_raters * n_items::DOUBLE * n_raters) + 5e-10, 6) AS p_e, " +
        "round(((sq_sum - n_items::DOUBLE * n_raters) / " +
        "(n_items::DOUBLE * n_raters * (n_raters - 1)) - " +
        "cj_sq / (n_items::DOUBLE * n_raters * n_items::DOUBLE * n_raters)) / " +
        "(1 - cj_sq / (n_items::DOUBLE * n_raters * n_items::DOUBLE * n_raters)) + 5e-10, 6) AS kappa " +
        "FROM top CROSS JOIN lj"),
    "q3_psi_drift" ->
      // bin arithmetic, add-alpha smoothing, and ln-ratio terms replayed
      // with identical operation order (alpha=0.5, 6 bins -> +3.0)
      ("WITH r AS (SELECT value AS v FROM events WHERE event_type = 'view' AND value IS NOT NULL), " +
        "c AS (SELECT value AS v FROM events WHERE event_type = 'purchase' AND value IS NOT NULL), " +
        "bins AS (SELECT range AS bin FROM range(6)), " +
        {
          val binExpr = Seq(10.0, 25.0, 50.0, 100.0, 200.0)
            .map(e => s"(CASE WHEN v >= $e THEN 1 ELSE 0 END)").mkString(" + ")
          s"rb AS (SELECT $binExpr AS bin, count(*)::BIGINT AS n FROM r GROUP BY 1), " +
          s"cb AS (SELECT $binExpr AS bin, count(*)::BIGINT AS n FROM c GROUP BY 1), "
        } +
        "d AS (SELECT bins.bin, coalesce(rb.n, 0)::BIGINT AS n_ref, coalesce(cb.n, 0)::BIGINT AS n_cur " +
        "FROM bins LEFT JOIN rb ON bins.bin = rb.bin LEFT JOIN cb ON bins.bin = cb.bin), " +
        "p AS (SELECT bin, n_ref, n_cur, " +
        "(n_ref + 5e-1) / ((SELECT count(*) FROM r) + 3e0) AS pr, " +
        "(n_cur + 5e-1) / ((SELECT count(*) FROM c) + 3e0) AS pc FROM d) " +
        "SELECT bin, n_ref, n_cur, " +
        "round((pc - pr) * ln(pc / pr) + 5e-10, 6) AS psi_term, " +
        "round(sum((pc - pr) * ln(pc / pr)) OVER () + 5e-10, 6) AS psi " +
        "FROM p ORDER BY bin"),
    "q4_ks_drift" ->
      // per-distinct-value count pairs, both CDFs, sup with smallest-value
      // tie-break; divisions use the identical exact-long operands
      ("WITH u AS (SELECT value AS v, 1 AS r, 0 AS c FROM events WHERE event_type = 'view' AND value IS NOT NULL " +
        "UNION ALL SELECT value, 0, 1 FROM events WHERE event_type = 'purchase' AND value IS NOT NULL), " +
        "g AS (SELECT v, sum(r)::BIGINT AS nr, sum(c)::BIGINT AS nc FROM u GROUP BY v), " +
        "t AS (SELECT sum(nr)::BIGINT AS tr, sum(nc)::BIGINT AS tc FROM g), " +
        "cdf AS (SELECT v, sum(nr) OVER (ORDER BY v) AS cr, sum(nc) OVER (ORDER BY v) AS cc FROM g) " +
        "SELECT round(abs(cr::DOUBLE / tr - cc::DOUBLE / tc) + 5e-10, 6) AS ks, " +
        "round(v + 5e-10, 6) AS at_value, tr AS n_ref, tc AS n_cur " +
        "FROM cdf CROSS JOIN t " +
        "ORDER BY abs(cr::DOUBLE / tr - cc::DOUBLE / tc) DESC, v LIMIT 1"),
    "q17_spc_rules" ->
      // hourly count census, exact-long moments, the identical rolling
      // indicator windows (frames of <= 8 rows, partitioned per type)
      ("WITH h AS (SELECT event_type AS k, date_trunc('hour', ts) AS t, " +
        "count(*)::BIGINT AS x FROM events GROUP BY 1, 2), " +
        "m AS (SELECT k, count(*)::BIGINT AS n, CAST(sum(x) AS BIGINT) AS sx, " +
        "sum(x::HUGEINT * x::HUGEINT) AS sxx FROM h GROUP BY k), " +
        "mm AS (SELECT k, n, sx::DOUBLE / n::DOUBLE AS mu, " +
        "CASE WHEN n >= 2 THEN (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0) END AS var FROM m), " +
        "ms AS (SELECT *, CASE WHEN var > 0 THEN sqrt(var) END AS sd FROM mm), " +
        "z AS (SELECT h.k, h.t, h.x, ms.n, ms.mu, ms.sd, " +
        "CASE WHEN sd IS NOT NULL THEN (x::DOUBLE - mu) / sd END AS zv " +
        "FROM h JOIN ms USING (k)), " +
        "f AS (SELECT *, abs(zv) > 3.0 AS r1, " +
        "(sum(CASE WHEN zv > 2.0 THEN 1 ELSE 0 END) OVER w3 >= 2 OR " +
        "sum(CASE WHEN zv < -2.0 THEN 1 ELSE 0 END) OVER w3 >= 2) AS r2, " +
        "(sum(CASE WHEN zv > 1.0 THEN 1 ELSE 0 END) OVER w5 >= 4 OR " +
        "sum(CASE WHEN zv < -1.0 THEN 1 ELSE 0 END) OVER w5 >= 4) AS r3, " +
        "(sum(CASE WHEN x::DOUBLE > mu THEN 1 ELSE 0 END) OVER w8 = 8 OR " +
        "sum(CASE WHEN x::DOUBLE < mu THEN 1 ELSE 0 END) OVER w8 = 8) AS r4 " +
        "FROM z WINDOW " +
        "w3 AS (PARTITION BY k ORDER BY t ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), " +
        "w5 AS (PARTITION BY k ORDER BY t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), " +
        "w8 AS (PARTITION BY k ORDER BY t ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) " +
        "SELECT k AS event_type, n AS n_points, " +
        "round(mu + 5e-10, 6) AS mean, round(sd + 5e-10, 6) AS std, " +
        "CAST(coalesce(sum(CASE WHEN r1 THEN 1 END), 0) AS BIGINT) AS r1_n, " +
        "CAST(coalesce(sum(CASE WHEN r2 THEN 1 END), 0) AS BIGINT) AS r2_n, " +
        "CAST(coalesce(sum(CASE WHEN r3 THEN 1 END), 0) AS BIGINT) AS r3_n, " +
        "CAST(coalesce(sum(CASE WHEN r4 THEN 1 END), 0) AS BIGINT) AS r4_n, " +
        "strftime(min(CASE WHEN r1 OR r2 OR r3 OR r4 THEN t END), '%Y-%m-%d %H:%M:%S') AS first_alarm_ts " +
        "FROM f GROUP BY k, n, mu, sd ORDER BY event_type"),
    "q18_monitoring_panel" ->
      // all three legs replayed over the SAME hourly CTE: q17's WE rule
      // windows, a10's self-excluding rolling z at threshold 0 folded
      // to count/max, and q5's smoothed PSI over Histograms.binned's
      // exact bin expression (lo 0, hi 60, 12 bins -> alpha*nBins = 6e0)
      ("WITH h AS (SELECT event_type AS k, date_trunc('hour', ts) AS t, " +
        "count(*)::BIGINT AS x FROM events GROUP BY 1, 2), " +
        // --- WE leg (the q17 oracle verbatim, folded to rule counts)
        "m AS (SELECT k, count(*)::BIGINT AS n, CAST(sum(x) AS BIGINT) AS sx, " +
        "sum(x::HUGEINT * x::HUGEINT) AS sxx FROM h GROUP BY k), " +
        "mm AS (SELECT k, n, sx::DOUBLE / n::DOUBLE AS mu, " +
        "CASE WHEN n >= 2 THEN (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0) END AS var FROM m), " +
        "ms AS (SELECT *, CASE WHEN var > 0 THEN sqrt(var) END AS sd FROM mm), " +
        "z AS (SELECT h.k, h.t, h.x, ms.mu, ms.sd, " +
        "CASE WHEN sd IS NOT NULL THEN (x::DOUBLE - mu) / sd END AS zv " +
        "FROM h JOIN ms USING (k)), " +
        "f AS (SELECT *, abs(zv) > 3.0 AS r1, " +
        "(sum(CASE WHEN zv > 2.0 THEN 1 ELSE 0 END) OVER w3 >= 2 OR " +
        "sum(CASE WHEN zv < -2.0 THEN 1 ELSE 0 END) OVER w3 >= 2) AS r2, " +
        "(sum(CASE WHEN zv > 1.0 THEN 1 ELSE 0 END) OVER w5 >= 4 OR " +
        "sum(CASE WHEN zv < -1.0 THEN 1 ELSE 0 END) OVER w5 >= 4) AS r3, " +
        "(sum(CASE WHEN x::DOUBLE > mu THEN 1 ELSE 0 END) OVER w8 = 8 OR " +
        "sum(CASE WHEN x::DOUBLE < mu THEN 1 ELSE 0 END) OVER w8 = 8) AS r4 " +
        "FROM z WINDOW " +
        "w3 AS (PARTITION BY k ORDER BY t ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), " +
        "w5 AS (PARTITION BY k ORDER BY t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), " +
        "w8 AS (PARTITION BY k ORDER BY t ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)), " +
        "wer AS (SELECT k, " +
        "coalesce(sum(CASE WHEN r1 THEN 1 END), 0)::DOUBLE AS r1n, " +
        "coalesce(sum(CASE WHEN r2 THEN 1 END), 0)::DOUBLE AS r2n, " +
        "coalesce(sum(CASE WHEN r3 THEN 1 END), 0)::DOUBLE AS r3n, " +
        "coalesce(sum(CASE WHEN r4 THEN 1 END), 0)::DOUBLE AS r4n FROM f GROUP BY k), " +
        // --- rolling-z leg (the a10 windows at threshold 0)
        "zw AS (SELECT k, t, x, count(*) OVER win AS cnt, sum(x) OVER win AS s, " +
        "sum(x*x) OVER win AS ssq FROM h WINDOW win AS (PARTITION BY k ORDER BY t " +
        "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)), " +
        "zs AS (SELECT k, (x::DOUBLE - s::DOUBLE / cnt) / " +
        "sqrt((ssq::DOUBLE - s::DOUBLE * s / cnt) / cnt) AS zr FROM zw " +
        "WHERE cnt >= 12 AND (ssq::DOUBLE - s::DOUBLE * s / cnt) / cnt > 0), " +
        "zr AS (SELECT k, coalesce(sum(CASE WHEN abs(zr) >= 3.0 THEN 1 END), 0)::DOUBLE AS zn, " +
        "max(abs(zr)) AS zm FROM zs GROUP BY k), " +
        // --- PSI leg (q5's smoothing over Histograms.binned's bins)
        "rb AS (SELECT k, least(greatest(floor((x::DOUBLE - 0e0) / 6e1 * 12), 0), 11)::INT AS bin, " +
        "count(*)::BIGINT AS n FROM h WHERE t < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1, 2), " +
        "cb AS (SELECT k, least(greatest(floor((x::DOUBLE - 0e0) / 6e1 * 12), 0), 11)::INT AS bin, " +
        "count(*)::BIGINT AS n FROM h WHERE t >= TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1, 2), " +
        "kk AS (SELECT k FROM rb UNION SELECT k FROM cb), " +
        "g AS (SELECT kk.k, b.range::INT AS bin FROM kk CROSS JOIN range(12) b), " +
        "d AS (SELECT g.k, g.bin, coalesce(rb.n, 0)::BIGINT AS nr, coalesce(cb.n, 0)::BIGINT AS nc " +
        "FROM g LEFT JOIN rb ON g.k = rb.k AND g.bin = rb.bin " +
        "LEFT JOIN cb ON g.k = cb.k AND g.bin = cb.bin), " +
        "tt AS (SELECT k, sum(nr)::BIGINT AS tr, sum(nc)::BIGINT AS tc FROM d GROUP BY 1), " +
        "pp AS (SELECT d.k, (nr + 5e-1) / (tr + 6e0) AS pr, (nc + 5e-1) / (tc + 6e0) AS pc " +
        "FROM d JOIN tt USING (k)), " +
        "psi AS (SELECT k, sum((pc - pr) * ln(pc / pr)) AS v FROM pp GROUP BY k) " +
        // --- assemble the long report
        "SELECT event_type, check_name, round(value + 5e-10, 6) AS value FROM (" +
        "SELECT k AS event_type, 'we_r1' AS check_name, r1n AS value FROM wer " +
        "UNION ALL SELECT k, 'we_r2', r2n FROM wer " +
        "UNION ALL SELECT k, 'we_r3', r3n FROM wer " +
        "UNION ALL SELECT k, 'we_r4', r4n FROM wer " +
        "UNION ALL SELECT wer.k, 'z_anomalies', coalesce(zr.zn, 0e0) FROM wer LEFT JOIN zr USING (k) " +
        "UNION ALL SELECT wer.k, 'z_max_abs', zr.zm FROM wer LEFT JOIN zr USING (k) " +
        "UNION ALL SELECT wer.k, 'psi_hourly_counts', psi.v FROM wer LEFT JOIN psi USING (k)) " +
        "ORDER BY event_type, check_name"),
    "q7_acf" ->
      // hourly census, partition mean, six lag offsets, per-lag
      // conditional sums — unpivoted as a 6-way UNION ALL
      ("WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, " +
        "sum(value) AS x FROM events GROUP BY 1, 2), " +
        "b AS (SELECT event_type, h, x, " +
        "avg(x) OVER (PARTITION BY event_type) AS m FROM hourly), " +
        "l AS (SELECT event_type, x, m, " +
        (1 to 6).map(k => s"lag(x, $k) OVER w AS x$k").mkString(", ") +
        " FROM b WINDOW w AS (PARTITION BY event_type ORDER BY h)), " +
        "a AS (SELECT event_type, sum((x - m) * (x - m)) AS den, " +
        (1 to 6).map(k =>
          s"sum(CASE WHEN x$k IS NOT NULL THEN (x - m) * (x$k - m) ELSE 0.0 END) AS n$k, " +
            s"sum(CASE WHEN x$k IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS c$k")
          .mkString(", ") +
        " FROM l GROUP BY 1) " +
        (1 to 6).map(k =>
          s"SELECT event_type, $k AS lag, c$k AS n_pairs, " +
            s"round(CASE WHEN den > 0 THEN n$k / den END + 5e-10, 6) AS acf FROM a")
          .mkString(" UNION ALL ") +
        " ORDER BY event_type, lag"),
    "x20_benford" ->
      // same string-digit extraction, census, and Benford expectation
      ("WITH d AS (SELECT substr((round(l_extendedprice * 100)::BIGINT)::VARCHAR, 1, 1)::INTEGER AS digit " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL " +
        "AND round(l_extendedprice * 100)::BIGINT > 0), " +
        "c AS (SELECT digit, count(*)::BIGINT AS cnt FROM d GROUP BY digit), " +
        "t AS (SELECT digit, cnt, cnt::DOUBLE / (SELECT sum(cnt) FROM c) AS obs, " +
        "log10(1.0 + 1.0 / digit::DOUBLE) AS expf FROM c) " +
        "SELECT digit, cnt, round(obs + 5e-10, 6) AS obs_freq, " +
        "round(expf + 5e-10, 6) AS exp_freq, " +
        "round(obs - expf + 5e-10, 6) AS dev FROM t ORDER BY digit"),
    "x21_oov_rate" ->
      // same top-20 vocabulary (count DESC, token ASC) and the per-source
      // miss census over the exploded tokens
      (s"WITH tk AS (SELECT source, unnest(${toksOf("text")}) AS token FROM documents " +
        "WHERE source IS NOT NULL AND text IS NOT NULL), " +
        "v AS (SELECT token FROM (SELECT token, count(*)::BIGINT AS n FROM tk GROUP BY 1) " +
        "ORDER BY n DESC, token LIMIT 20) " +
        "SELECT source, count(*)::BIGINT AS n_tokens, " +
        "sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov, " +
        "round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) " +
        "+ 5e-10, 6) AS oov_rate " +
        "FROM tk LEFT JOIN v ON tk.token = v.token GROUP BY source ORDER BY source"),
    "x22_boilerplate" ->
      // leading-trigram census, (count DESC, prefix) argmax per source
      (s"WITH p AS (SELECT source, array_to_string(list_slice(${toksOf("text")}, 1, 3), ' ') " +
        "AS prefix FROM documents WHERE source IS NOT NULL AND text IS NOT NULL), " +
        "c AS (SELECT source, prefix, count(*)::BIGINT AS n FROM p GROUP BY 1, 2), " +
        "r AS (SELECT source, prefix, n, sum(n) OVER (PARTITION BY source) AS tot, " +
        "row_number() OVER (PARTITION BY source ORDER BY n DESC, prefix) AS rn FROM c) " +
        "SELECT source, tot::BIGINT AS n_docs, prefix AS top_prefix, n AS n_top, " +
        "round(n::DOUBLE / tot + 5e-10, 6) AS share FROM r WHERE rn = 1 ORDER BY source"),
    "x19_zipf" ->
      // vocab census -> (cnt desc, token) rank -> the OLS sums and the
      // operator's exact cov/vx/vy formulas
      (s"WITH tok AS (SELECT unnest($Toks) AS t FROM documents), " +
        "cen AS (SELECT t, count(*)::BIGINT AS cnt FROM tok GROUP BY t), " +
        "rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, t) AS rn FROM cen), " +
        "xy AS (SELECT ln(rn::DOUBLE) AS x, ln(cnt::DOUBLE) AS y FROM rk WHERE rn <= 1000), " +
        "s AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy, " +
        "sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy FROM xy), " +
        "f AS (SELECT n, sx, sy, n::DOUBLE * sxy - sx * sy AS cov, " +
        "n::DOUBLE * sxx - sx * sx AS vx, n::DOUBLE * syy - sy * sy AS vy FROM s) " +
        "SELECT n AS n_tokens, " +
        "round(CASE WHEN vx > 0 THEN cov / vx END + 5e-10, 6) AS slope, " +
        "round(CASE WHEN vx > 0 THEN (sy - cov / vx * sx) / n::DOUBLE END + 5e-10, 6) AS intercept, " +
        "round(CASE WHEN vx > 0 AND vy > 0 THEN cov * cov / (vx * vy) END + 5e-10, 6) AS r2 " +
        "FROM f"),
    "e18_markov_transitions" ->
      // the lag window with the same (ts, event_id) order, bigram
      // census, marginal-window normalization
      ("WITH s AS (SELECT user_id, ts, event_id, event_type FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL), " +
        "l AS (SELECT event_type AS t, lag(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS f FROM s), " +
        "c AS (SELECT f AS from_state, t AS to_state, count(*)::BIGINT AS cnt " +
        "FROM l WHERE f IS NOT NULL GROUP BY 1, 2) " +
        "SELECT from_state, to_state, cnt, round(cnt::DOUBLE / " +
        "sum(cnt) OVER (PARTITION BY from_state) + 5e-10, 6) AS prob " +
        "FROM c ORDER BY from_state, to_state"),
    "q10_cusum" ->
      // the same hourly census, cumulative-sum windows, integer-exact
      // argmax criterion, and first-index tiebreak
      ("WITH hourly AS (SELECT event_type AS k, date_trunc('hour', ts) AS t, " +
        "count(*)::DOUBLE AS x FROM events " +
        "WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "w AS (SELECT k, t, x, row_number() OVER o AS rn, " +
        "sum(x) OVER (PARTITION BY k ORDER BY t " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs, " +
        "count(*) OVER (PARTITION BY k) AS n, " +
        "sum(x) OVER (PARTITION BY k) AS tot, " +
        "stddev_pop(x) OVER (PARTITION BY k) AS sd FROM hourly " +
        "WINDOW o AS (PARTITION BY k ORDER BY t)), " +
        "c AS (SELECT *, abs(n::DOUBLE * cs - rn * tot) AS crit FROM w), " +
        "m AS (SELECT *, max(crit) OVER (PARTITION BY k) AS mx FROM c), " +
        "p AS (SELECT k, n, sd, mx, rn, t, " +
        "row_number() OVER (PARTITION BY k ORDER BY rn) AS pr FROM m WHERE crit = mx) " +
        "SELECT k AS event_type, n::BIGINT AS n, rn::BIGINT AS cp_index, " +
        "strftime(t, '%Y-%m-%d %H:%M:%S') AS cp_hour, " +
        "round(mx / n + 5e-10, 6) AS s_max, " +
        "round(CASE WHEN sd > 0 THEN mx / (n * sd * sqrt(n::DOUBLE)) END + 5e-10, 6) AS stat " +
        "FROM p WHERE pr = 1 ORDER BY event_type"),
    "q11_trend" ->
      // same hourly census, position regressor, six integer-exact sums,
      // identical closed-form operation order
      ("WITH hourly AS (SELECT event_type AS k, date_trunc('hour', ts) AS t, " +
        "count(*)::DOUBLE AS x FROM events " +
        "WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "w AS (SELECT k, x, row_number() OVER (PARTITION BY k ORDER BY t)::DOUBLE AS rn " +
        "FROM hourly), " +
        "s AS (SELECT k, count(*)::BIGINT AS n, sum(rn) AS sx, sum(x) AS sy, " +
        "sum(rn * x) AS sxy, sum(rn * rn) AS sxx, sum(x * x) AS syy FROM w GROUP BY k), " +
        "f AS (SELECT k, n, sx, sy, n::DOUBLE * sxy - sx * sy AS covn, " +
        "n::DOUBLE * sxx - sx * sx AS varxn, n::DOUBLE * syy - sy * sy AS varyn FROM s) " +
        "SELECT k AS event_type, n, " +
        "round(CASE WHEN n >= 2 THEN covn / varxn END + 5e-10, 6) AS slope, " +
        "round(CASE WHEN n >= 2 THEN (sy - covn / varxn * sx) / n END + 5e-10, 6) AS intercept, " +
        "round(CASE WHEN n >= 2 AND varyn > 0 THEN covn * covn / (varxn * varyn) END " +
        "+ 5e-10, 6) AS r2 FROM f ORDER BY 1"),
    "q12_interarrival" ->
      // same (type, user)-stream lag at exact microseconds, same census
      ("WITH e AS (SELECT event_type AS k, user_id AS u, epoch_us(ts) AS us, " +
        "event_id AS tie FROM events WHERE event_type IS NOT NULL " +
        "AND user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL), " +
        "g AS (SELECT k, us - lag(us) OVER (PARTITION BY k, u ORDER BY us, tie) AS gap " +
        "FROM e) " +
        "SELECT k AS event_type, count(*)::BIGINT AS n_pairs, " +
        "round(sum(gap)::DOUBLE / count(*) / 1000000.0 + 5e-10, 6) AS mean_gap_s, " +
        "round(min(gap)::DOUBLE / 1000000.0 + 5e-10, 6) AS min_gap_s, " +
        "round(max(gap)::DOUBLE / 1000000.0 + 5e-10, 6) AS max_gap_s " +
        "FROM g WHERE gap IS NOT NULL GROUP BY k ORDER BY k"),
    "q9_cross_correlation" -> {
      def nm(k: Int) = if (k < 0) s"m${-k}" else s"p$k"
      val lagCols = (1 to 4).map(k =>
        s"lag(y, $k) OVER w AS y${nm(k)}, lead(y, $k) OVER w AS y${nm(-k)}")
        .mkString(", ")
      val aggCols = (-4 to 4).map { k =>
        val yk = if (k == 0) "y" else s"y${nm(k)}"
        s"sum(CASE WHEN $yk IS NOT NULL THEN (x - mx) * ($yk - my) ELSE 0.0 END) AS num${nm(k)}, " +
          s"sum(CASE WHEN $yk IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS c${nm(k)}"
      }.mkString(", ")
      val sel = (-4 to 4).map { k =>
        s"SELECT 'click_purchase' AS k, $k AS lag, c${nm(k)} AS n_pairs, " +
          s"round(CASE WHEN dx2 > 0 AND dy2 > 0 THEN num${nm(k)} / sqrt(dx2 * dy2) END " +
          "+ 5e-10, 6) AS ccf FROM a"
      }.mkString(" UNION ALL ")
      "WITH hourly AS (SELECT date_trunc('hour', ts) AS h, " +
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::DOUBLE AS x, " +
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE AS y " +
        "FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1), " +
        "b AS (SELECT h, x, y, avg(x) OVER () AS mx, avg(y) OVER () AS my FROM hourly), " +
        s"l AS (SELECT x, y, mx, my, $lagCols FROM b WINDOW w AS (ORDER BY h)), " +
        "a AS (SELECT sum((x - mx) * (x - mx)) AS dx2, " +
        s"sum((y - my) * (y - my)) AS dy2, $aggCols FROM l) " +
        sel + " ORDER BY lag"
    },
    "q8_seasonal_decompose" ->
      // the same windows: row-number phase, 25-row centered sum with
      // half-weight endpoints, phase-mean census, centering, remainder
      ("WITH hourly AS (SELECT event_type AS k, date_trunc('hour', ts) AS h, " +
        "count(*)::DOUBLE AS x FROM events GROUP BY 1, 2), " +
        "b AS (SELECT k, h, x, (row_number() OVER w - 1) % 24 AS phase, " +
        "count(*) OVER wf AS cnt, sum(x) OVER wf AS sm, " +
        "lag(x, 12) OVER w AS xl, lead(x, 12) OVER w AS xr FROM hourly " +
        "WINDOW w AS (PARTITION BY k ORDER BY h), " +
        "wf AS (PARTITION BY k ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)), " +
        "t AS (SELECT k, h, x, phase, " +
        "CASE WHEN cnt = 25 THEN (sm - (xl + xr) / 2.0) / 24.0 END AS trend FROM b), " +
        "d AS (SELECT k, h, x, phase, trend, x - trend AS dd FROM t), " +
        "pm AS (SELECT k, phase, avg(dd) AS pm FROM d GROUP BY 1, 2), " +
        "sea AS (SELECT k, phase, pm - avg(pm) OVER (PARTITION BY k) AS seasonal FROM pm) " +
        "SELECT d.k AS event_type, d.h, d.x, d.phase::BIGINT AS phase, " +
        "round(d.trend + 5e-10, 6) AS trend, " +
        "round(sea.seasonal + 5e-10, 6) AS seasonal, " +
        "round(d.x - d.trend - sea.seasonal + 5e-10, 6) AS residual " +
        "FROM d JOIN sea ON d.k = sea.k AND d.phase = sea.phase " +
        "ORDER BY event_type, h"),
    "q6_jsd_drift" ->
      //q3's bin/smoothing CTEs with the JSD term algebra: m = (p+q)/2,
      // 0.5*p*ln(p/m) + 0.5*q*ln(q/m), identical operation order
      ("WITH r AS (SELECT value AS v FROM events WHERE event_type = 'view' AND value IS NOT NULL), " +
        "c AS (SELECT value AS v FROM events WHERE event_type = 'purchase' AND value IS NOT NULL), " +
        "bins AS (SELECT range AS bin FROM range(6)), " +
        {
          val binExpr = Seq(10.0, 25.0, 50.0, 100.0, 200.0)
            .map(e => s"(CASE WHEN v >= $e THEN 1 ELSE 0 END)").mkString(" + ")
          s"rb AS (SELECT $binExpr AS bin, count(*)::BIGINT AS n FROM r GROUP BY 1), " +
          s"cb AS (SELECT $binExpr AS bin, count(*)::BIGINT AS n FROM c GROUP BY 1), "
        } +
        "d AS (SELECT bins.bin, coalesce(rb.n, 0)::BIGINT AS n_ref, coalesce(cb.n, 0)::BIGINT AS n_cur " +
        "FROM bins LEFT JOIN rb ON bins.bin = rb.bin LEFT JOIN cb ON bins.bin = cb.bin), " +
        "p AS (SELECT bin, n_ref, n_cur, " +
        "(n_ref + 5e-1) / ((SELECT count(*) FROM r) + 3e0) AS pr, " +
        "(n_cur + 5e-1) / ((SELECT count(*) FROM c) + 3e0) AS pc FROM d), " +
        "t AS (SELECT bin, n_ref, n_cur, " +
        "5e-1 * pr * ln(pr / ((pr + pc) / 2e0)) + 5e-1 * pc * ln(pc / ((pr + pc) / 2e0)) AS jsd_term FROM p) " +
        "SELECT bin, n_ref, n_cur, round(jsd_term + 5e-10, 6) AS jsd_term, " +
        "round(sum(jsd_term) OVER () + 5e-10, 6) AS jsd FROM t ORDER BY bin"),
    "p11_negative_samples" ->
      // pool lists rebuilt in SQL (ordered by vec_id, the same sort the
      // operator collects under), then the identical Lehmer-probe walk
      ("WITH pool AS (SELECT list(vec_id ORDER BY vec_id) AS ids, " +
        "list(label ORDER BY vec_id) AS labs, count(*)::BIGINT AS n FROM " +
        "(SELECT DISTINCT vec_id::BIGINT AS vec_id, label::BIGINT AS label FROM embeddings " +
        "WHERE vec_id IS NOT NULL AND label IS NOT NULL AND vec_id % 101 = 0)), " +
        "a AS (SELECT vec_id::BIGINT AS vec_id, label::BIGINT AS label FROM embeddings), " +
        "s AS (SELECT a.vec_id, a.label, r.s AS slot FROM a, range(3) r(s)), " +
        "b AS (SELECT s.vec_id, s.label, s.slot, pool.ids, pool.labs, pool.n, " +
        "(((s.vec_id * 3 + s.slot + 1) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647) % pool.n AS base " +
        "FROM s CROSS JOIN pool) " +
        "SELECT vec_id, label, slot::BIGINT AS slot, COALESCE(" +
        (0 until 8).map(r =>
          s"CASE WHEN list_extract(labs, ((base + $r) % n + 1)::INT) <> label " +
          s"AND list_extract(ids, ((base + $r) % n + 1)::INT) <> vec_id " +
          s"THEN list_extract(ids, ((base + $r) % n + 1)::INT) END").mkString(", ") +
        ") AS neg_id FROM b ORDER BY vec_id, slot"),
    "p10_dsir_weights" ->
      // full model replay: normalize tokens to [a-z0-9], bucket with the
      // positional char hash (1-based list_transform index == Spark's
      // 0-based i + 1), rebuild both smoothed count profiles, rescore
      (s"WITH tkn AS (SELECT doc_id, lang, ${toksOf("text")} AS tk FROM documents), " +
        "occ AS (SELECT doc_id, lang, unnest(tk) AS t FROM tkn), " +
        "nrm AS (SELECT doc_id, lang, regexp_replace(t, '[^a-z0-9]', '', 'g') AS t FROM occ), " +
        "hb AS (SELECT doc_id, lang, " +
        "list_sum(list_transform(list_transform(string_split(t, ''), c -> unicode(c)), " +
        "(c, i) -> c * ((i * 2654435761) % 1048573))) % 1048573 % 4096 AS b " +
        "FROM nrm WHERE length(t) > 0), " +
        "cnt AS (SELECT b, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS tc, " +
        "count(*)::BIGINT AS sc FROM hb GROUP BY b), " +
        "tot AS (SELECT sum(tc)::BIGINT AS tt, sum(sc)::BIGINT AS ts FROM cnt), " +
        "llr AS (SELECT b, ln((tc + 0.5) / (tt + 0.5 * 4096)) - ln((sc + 0.5) / (ts + 0.5 * 4096)) AS llr " +
        "FROM cnt CROSS JOIN tot), " +
        "sc2 AS (SELECT hb.doc_id, l.llr FROM hb JOIN llr l USING (b)) " +
        "SELECT doc_id, count(*)::BIGINT AS n_grams, " +
        "round(sum(llr) + 5e-10, 6) AS logw_sum, " +
        "round(avg(llr) + 5e-10, 6) AS logw_avg " +
        "FROM sc2 GROUP BY doc_id ORDER BY doc_id"),
    "p15_bootstrap_ci" -> {
      // the resample replayed weight-for-weight: Lehmer integer
      // arithmetic + the SAME threshold literals the operator embeds,
      // then the order-statistic picks
      val m = "2147483647"
      val wcase = "CASE " + Sampling.poissonThresholds.zipWithIndex
        .map { case (t, k) => s"WHEN pr < $t THEN $k" }.mkString(" ") +
        " ELSE 8 END"
      ("WITH d AS (SELECT doc_id AS id, strlen(text)::DOUBLE AS x " +
        "FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL), " +
        s"pw AS (SELECT r.b, d.x, ((d.id + 11 + r.b) % $m) * 48271 % $m " +
        s"* 48271 % $m AS pr FROM d CROSS JOIN " +
        "(SELECT unnest(range(1, 25)) AS b) r), " +
        s"wv AS (SELECT b, x, $wcase AS w FROM pw), " +
        "mm AS (SELECT b, sum(w::DOUBLE * x) / sum(w)::DOUBLE AS mean FROM wv GROUP BY b), " +
        "pt AS (SELECT sum(1)::BIGINT AS n, sum(1.0 * x) / sum(1)::DOUBLE AS pm FROM d), " +
        "rk AS (SELECT mean, row_number() OVER (ORDER BY mean, b) AS rn FROM mm) " +
        "SELECT 24 AS b, n, round(pm + 5e-10, 6) AS point_mean, " +
        "round((SELECT mean FROM rk WHERE rn = 2) + 5e-10, 6) AS ci_lo, " +
        "round((SELECT mean FROM rk WHERE rn = 23) + 5e-10, 6) AS ci_hi FROM pt")
    },
    "p14_kfold" ->
      // the Lehmer fold arithmetic replayed verbatim, then the same
      // exact-decimal census per fold
      ("WITH f AS (SELECT o_orderkey, o_totalprice, " +
        "((o_orderkey + 7) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 % 5 AS fold " +
        "FROM orders WHERE o_orderkey IS NOT NULL) " +
        "SELECT fold, count(*)::BIGINT AS n, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price, " +
        "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key " +
        "FROM f GROUP BY fold ORDER BY fold"),
    "p17_stratified_kfold" ->
      // the same Lehmer priority, per-stratum rank, round-robin deal
      ("WITH pr AS (SELECT o_orderkey, o_orderpriority, " +
        "((o_orderkey + 3) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS priority " +
        "FROM orders WHERE o_orderkey IS NOT NULL AND o_orderpriority IS NOT NULL), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority " +
        "ORDER BY priority, o_orderkey) AS rk FROM pr) " +
        "SELECT o_orderpriority, ((rk - 1) % 5)::BIGINT AS fold, count(*)::BIGINT AS n, " +
        "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key " +
        "FROM r GROUP BY 1, 2 ORDER BY 1, 2"),
    "o11_schema_merge" ->
      // straight from the source table: batch 0 rows carry no discount
      // (the column postdates them), batch 1 rows carry theirs
      ("WITH s AS (SELECT o_orderkey % 3 AS batch, " +
        "CASE WHEN o_orderkey % 3 = 1 THEN o_totalprice END AS price " +
        "FROM orders WHERE o_orderkey % 3 IN (0, 1)) " +
        "SELECT batch::BIGINT AS batch, count(*)::BIGINT AS n, " +
        "sum(CASE WHEN price IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_price, " +
        "round(sum(price)::DOUBLE + 5e-10, 6) AS sum_price " +
        "FROM s GROUP BY 1 ORDER BY 1"),
    "p1_hash_split" ->
      // Lehmer membership replay: holdout iff priority < floor(0.2 * (2^31-1))
      ("SELECT doc_id, lang FROM documents " +
        "WHERE ((doc_id + 1) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 " +
        "< 429496729 ORDER BY doc_id"),
    "p2_stratified_take" ->
      ("WITH pr AS (SELECT doc_id, lang, " +
        "((doc_id + 1) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS priority FROM documents), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY lang " +
        "ORDER BY priority, doc_id) AS rk FROM pr) " +
        "SELECT doc_id, lang FROM r WHERE rk <= 5 ORDER BY lang, doc_id"),
    "p5_weighted_mixture" ->
      // the full mixture derivation replayed: per-source counts ->
      // bottleneck (min count/weight) -> rates (bottleneck pinned 1.0)
      // -> Lehmer membership below floor(rate * M). Same float op order
      // as the Scala driver ((w * total) / n), so cuts match bitwise.
      ("WITH c AS (SELECT source, count(*)::BIGINT AS n FROM documents " +
        "WHERE source IN ('src0', 'src1', 'src2') GROUP BY source), " +
        "w AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)) AS t(source, wt)), " +
        "b AS (SELECT c.source, c.n / w.wt AS tot FROM c JOIN w USING (source) " +
        "ORDER BY c.n / w.wt LIMIT 1), " +
        "r AS (SELECT c.source, CASE WHEN c.source = (SELECT source FROM b) THEN 1.0 " +
        "ELSE least(1.0, w.wt * (SELECT tot FROM b) / c.n) END AS rate " +
        "FROM c JOIN w USING (source)), " +
        "k AS (SELECT d.source FROM documents d JOIN r ON d.source = r.source " +
        "WHERE ((d.doc_id + 42) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 " +
        "< CAST(floor(r.rate * 2147483647.0) AS BIGINT)) " +
        "SELECT source, count(*)::BIGINT AS n_kept FROM k GROUP BY source ORDER BY source"),
    "p6_epoch_shuffle" ->
      // epoch 1's first 100 docs by (priority, id); the priority column
      // pins the permutation order inside the hash check
      ("SELECT doc_id, ((doc_id + 1) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS priority " +
        "FROM documents ORDER BY priority, doc_id LIMIT 100"),
    "p7_mixture_upsample" ->
      // totalOut = max(1, round(2.0 * weighted rows)) [round = floor(x+.5),
      // matching Scala math.round]; rate = (w * totalOut) / n; every row
      // fans out floor(rate)+1 times and the last copy keeps iff
      // priority/M < rate - floor(rate) — all replayed verbatim
      ("WITH c AS (SELECT source, count(*)::BIGINT AS n FROM documents " +
        "WHERE source IN ('src0', 'src1', 'src2') GROUP BY source), " +
        "t AS (SELECT greatest(1, CAST(floor(2.0 * CAST(sum(n) AS BIGINT) + 0.5) AS BIGINT)) AS total FROM c), " +
        "w AS (SELECT * FROM (VALUES ('src0', 0.6), ('src1', 0.3), ('src2', 0.1)) AS ww(source, wt)), " +
        "r AS (SELECT c.source, w.wt * (SELECT total FROM t) / c.n AS rate " +
        "FROM c JOIN w USING (source)), " +
        "g AS (SELECT unnest(range(0, 64)) AS epoch), " +
        "e AS (SELECT d.source, d.doc_id, r.rate, g.epoch " +
        "FROM documents d JOIN r ON d.source = r.source " +
        "JOIN g ON g.epoch <= CAST(floor(r.rate) AS BIGINT)), " +
        "k AS (SELECT source, epoch FROM e WHERE epoch < floor(rate) OR (epoch = floor(rate) " +
        "AND (((doc_id + 42) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647) / 2147483647.0 " +
        "< rate - floor(rate))) " +
        "SELECT source, epoch::BIGINT AS epoch, count(*)::BIGINT AS n_kept " +
        "FROM k GROUP BY 1, 2 ORDER BY 1, 2"),
    "p20_mixture_anneal" ->
      // the identical interpolation/apportionment algebra: weight =
      // (1-a)/k + a*t with a = epoch/3, floor + largest-remainder with
      // (frac DESC, source) ties, supply from the lang census
      ("WITH t(source, tw) AS (VALUES ('de', 0.15), ('en', 0.4), " +
        "('es', 0.15), ('fr', 0.1), ('zh', 0.2)), " +
        "av AS (SELECT lang AS source, count(*)::BIGINT AS available " +
        "FROM documents WHERE lang IS NOT NULL GROUP BY 1), " +
        "ep AS (SELECT unnest(range(0, 4))::BIGINT AS epoch), " +
        "w AS (SELECT epoch, source, " +
        "(1.0 - epoch::DOUBLE / 3.0) / 5 + epoch::DOUBLE / 3.0 * tw AS wt " +
        "FROM ep CROSS JOIN t), " +
        "q AS (SELECT *, floor(100000 * wt)::BIGINT AS base, " +
        "100000 * wt - floor(100000 * wt) AS frac FROM w), " +
        "s AS (SELECT *, 100000 - sum(base) OVER (PARTITION BY epoch) AS short, " +
        "row_number() OVER (PARTITION BY epoch ORDER BY frac DESC, source) AS rk FROM q), " +
        "f AS (SELECT epoch, source, wt, " +
        "(base + CASE WHEN rk <= short THEN 1 ELSE 0 END)::BIGINT AS quota FROM s) " +
        "SELECT f.epoch, f.source, round(wt + 5e-10, 6) AS weight, quota, " +
        "coalesce(available, 0)::BIGINT AS available, " +
        "round(CASE WHEN coalesce(available, 0) > 0 " +
        "THEN quota::DOUBLE / available END + 5e-10, 6) AS repeat_factor " +
        "FROM f LEFT JOIN av USING (source) ORDER BY epoch, source"),
    "p19_length_batching" ->
      // both global ranks as plain windows (DuckDB replays the total
      // orders directly), batch stats, and the same waste division
      (s"WITH t AS (SELECT doc_id, len($Toks)::BIGINT AS n_tok " +
        "FROM documents WHERE text IS NOT NULL), " +
        "a AS (SELECT (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS b, n_tok FROM t), " +
        "ab AS (SELECT b, count(*)::BIGINT AS bn, max(n_tok) AS bmax, " +
        "CAST(sum(n_tok) AS BIGINT) AS bsum FROM a GROUP BY b), " +
        "ar AS (SELECT 'arrival_order' AS strategy, CAST(sum(bn) AS BIGINT) AS n_docs, " +
        "count(*)::BIGINT AS n_batches, CAST(sum(bsum) AS BIGINT) AS sum_tokens, " +
        "CAST(sum(bmax * bn) AS BIGINT) AS padded_tokens FROM ab), " +
        "l AS (SELECT (row_number() OVER (ORDER BY n_tok, doc_id) - 1) // 32 AS b, n_tok FROM t), " +
        "lb AS (SELECT b, count(*)::BIGINT AS bn, max(n_tok) AS bmax, " +
        "CAST(sum(n_tok) AS BIGINT) AS bsum FROM l GROUP BY b), " +
        "lr AS (SELECT 'length_sorted' AS strategy, CAST(sum(bn) AS BIGINT) AS n_docs, " +
        "count(*)::BIGINT AS n_batches, CAST(sum(bsum) AS BIGINT) AS sum_tokens, " +
        "CAST(sum(bmax * bn) AS BIGINT) AS padded_tokens FROM lb) " +
        "SELECT strategy, n_docs, n_batches, sum_tokens, padded_tokens, " +
        "round(1 - sum_tokens::DOUBLE / padded_tokens + 5e-10, 6) AS pad_waste " +
        "FROM (SELECT * FROM ar UNION ALL SELECT * FROM lr) ORDER BY strategy"),
    "p8_token_budget" ->
      // the NAIVE whole-group running-sum window (spec-pinned identical
      // to the bucketed fast path): keep while the per-source token sum
      // BEFORE the row (in Lehmer order, id tiebreak) is under budget
      (s"WITH t AS (SELECT source, doc_id, len($Toks)::BIGINT AS n_tok, " +
        "((doc_id + 42) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS pr " +
        "FROM documents), " +
        "w AS (SELECT source, n_tok, coalesce(sum(n_tok) OVER (PARTITION BY source " +
        "ORDER BY pr, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev FROM t) " +
        "SELECT source, count(*)::BIGINT AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens " +
        "FROM w WHERE prev < 5000 GROUP BY source ORDER BY source"),
    "p3b_sequence_pack_lehmer" ->
      // full greedy replay: Lehmer spread key, 8 explicit groups, each
      // group's next-fit scan stepped by a recursive CTE (the working
      // table holds one row per group per iteration), oversized docs
      // overflowing their own fresh pack exactly like the operator
      (s"WITH RECURSIVE d AS (SELECT doc_id, len($Toks)::BIGINT AS n_tok, " +
        "(doc_id * 48271) % 2147483647 AS k FROM documents), " +
        "o AS (SELECT doc_id, n_tok, greatest(n_tok, 0) AS tok, k % 8 AS grp, " +
        "row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) AS rn FROM d), " +
        "s AS (SELECT grp, rn, doc_id, tok, CAST(0 AS BIGINT) AS pack, tok AS used " +
        "FROM o WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT o.grp, o.rn, o.doc_id, o.tok, " +
        "CASE WHEN s.used + o.tok > 512 THEN s.pack + 1 ELSE s.pack END AS pack, " +
        "CASE WHEN s.used + o.tok > 512 THEN o.tok ELSE s.used + o.tok END AS used " +
        "FROM s JOIN o ON o.grp = s.grp AND o.rn = s.rn + 1) " +
        "SELECT doc_id, tok AS n_tokens, " +
        "CAST(grp * 4294967296 + pack AS BIGINT) AS pack_id FROM s ORDER BY doc_id"),
    "o3_text_formats" ->
      // same daily aggregate straight from the parquet, emitted once per
      // text format — identical rows pin both writers AND readers
      ("WITH d AS (SELECT strftime(ts, '%Y-%m-%d') AS day, count(*)::BIGINT AS n, " +
        "round(sum(value) + 5e-10, 6) AS sum_value " +
        "FROM events WHERE event_type = 'click' GROUP BY day) " +
        "SELECT 'csv' AS fmt, day, n, sum_value FROM d " +
        "UNION ALL SELECT 'json' AS fmt, day, n, sum_value FROM d " +
        "ORDER BY fmt, day"),
    "o2_zorder_cells" -> {
      // Morton key replay: bit b of x lands at position 2b, of y at
      // 2b+1; the terms touch disjoint bits so + substitutes for | in
      // any engine
      val terms = (0 until 8).flatMap(b => Seq(
        s"(((x >> $b) & 1) << ${2 * b})", s"(((y >> $b) & 1) << ${2 * b + 1})"))
      "WITH g AS (SELECT o_custkey % 256 AS x, o_orderkey % 256 AS y FROM orders), " +
        s"z AS (SELECT x, y, ${terms.mkString(" + ")} AS zkey FROM g) " +
        "SELECT zkey >> 8 AS zcell, count(*)::BIGINT AS n, " +
        "min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y " +
        "FROM z GROUP BY zcell ORDER BY zcell"
    },
    "o1_partition_prune" ->
      ("SELECT strftime(ts, '%Y-%m-%d') AS day, count(*)::BIGINT AS n, " +
        "ROUND(sum(value) + 5e-10, 6) AS sum_value " +
        "FROM events WHERE event_type = 'error' GROUP BY day ORDER BY day"),
    "o7_compaction" ->
      // content preservation: the compacted read-back must aggregate to
      // the source table exactly (decimal sums, the u6 precedent)
      ("SELECT o_orderpriority, count(*)::BIGINT AS n, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price, " +
        "max(o_orderkey) AS max_key " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "o14_table_history" ->
      // each version's slice algebra replayed: evens, evens+odds
      // (append accumulation), then the overwrite's fifth slice
      ("WITH v1 AS (SELECT 1::BIGINT AS version, 'append' AS mode, count(*)::BIGINT AS n_rows, " +
        "round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE + 5e-10, 6) AS sum_price " +
        "FROM orders WHERE o_orderkey % 2 = 0), " +
        "v2 AS (SELECT 2::BIGINT, 'append', count(*)::BIGINT, " +
        "round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE + 5e-10, 6) " +
        "FROM orders WHERE o_orderkey IS NOT NULL), " +
        "v3 AS (SELECT 3::BIGINT, 'overwrite', count(*)::BIGINT, " +
        "round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE + 5e-10, 6) " +
        "FROM orders WHERE o_orderkey % 5 = 0) " +
        "SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3 " +
        "ORDER BY version"),
    "o15_jsonl_export" ->
      // shard assignment replayed: running token total BEFORE each doc
      // (doc_id order) integer-divided by the derived budget
      // max(2000, total div 64); the booleans pin the one-file-per-shard
      // layout and the manifest round-trip, which only Spark can see
      (s"WITH t AS (SELECT doc_id, len($Toks)::BIGINT AS n_tok " +
        "FROM documents WHERE text IS NOT NULL), " +
        "b AS (SELECT greatest(2000, CAST(sum(n_tok) AS BIGINT) // 64) AS budget FROM t), " +
        "w AS (SELECT doc_id, n_tok, coalesce(CAST(sum(n_tok) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prev FROM t) " +
        "SELECT CAST(prev // (SELECT budget FROM b) AS BIGINT) AS shard, " +
        "count(*)::BIGINT AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
        "true AS one_file_per_shard, true AS manifest_match " +
        "FROM w GROUP BY 1 ORDER BY 1"),
    "o13_zero_copy_clone" ->
      // the two-slice source vs the full three-slice clone, straight
      // off the orders slices the commits planted
      ("WITH s2 AS (SELECT count(*)::BIGINT AS src_rows, " +
        "round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE + 5e-10, 6) AS src_sum " +
        "FROM orders WHERE o_orderkey % 3 = 0 OR o_orderkey % 3 = 1), " +
        "c2 AS (SELECT count(*)::BIGINT AS clone_rows, " +
        "round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE + 5e-10, 6) AS clone_sum " +
        "FROM orders WHERE o_orderkey IS NOT NULL) " +
        "SELECT src_rows, src_sum, clone_rows, clone_sum FROM s2, c2"),
    "o8_versioned_table" ->
      // v2 = even-keys commit + odd-keys append = the whole table; the
      // overwrite that followed must be invisible to the v2 read
      ("SELECT o_orderpriority, count(*)::BIGINT AS n, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price, " +
        "max(o_orderkey) AS max_key " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "o16_bloom_pruned_read" ->
      // the bloom-pruned point lookup must equal the plain filter — the
      // bloom decides which files to OPEN, the residual decides rows
      ("SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders " +
        "WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders) " +
        "ORDER BY o_orderkey"),
    "o9_stats_pruned_read" ->
      // the pruned read must equal the plain full-scan filter — file
      // skipping decides which files to OPEN, never which rows qualify
      ("SELECT o_orderpriority, count(*)::BIGINT AS n, " +
        "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price " +
        "FROM orders WHERE o_orderkey BETWEEN 1000 AND 2500 " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "o10_zorder_pruned_read" ->
      // the 2-D pruned read must equal the plain conjunctive filter
      ("SELECT count(*)::BIGINT AS n, " +
        "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price " +
        "FROM orders WHERE (o_orderkey % 64) BETWEEN 3 AND 5 " +
        "AND (o_custkey % 64) BETWEEN 10 AND 20"),
    "o12_compact_pruned_read" ->
      // the post-compaction pruned read over the bottom key decile must
      // equal the plain source filter; the booleans pin that the loop's
      // file-count and pruning effects actually happened (Spark emits
      // them from the real counts, the oracle demands true)
      ("SELECT o_orderpriority, count(*)::BIGINT AS n, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price, " +
        "max(o_orderkey) AS max_key, true AS compacted, true AS files_pruned " +
        "FROM orders WHERE o_orderkey <= (SELECT max(o_orderkey) FROM orders) // 10 " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "u3_scd2" ->
      ("SELECT o_custkey AS c_custkey, row_number() OVER w AS version, " +
        "ROUND(o_totalprice + 5e-10, 6) AS bal, " +
        "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from, " +
        "strftime(lead(o_orderdate) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) " +
        "ORDER BY c_custkey, version"),
  )
}
