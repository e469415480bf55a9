package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Query
import graft.Util.table
import graft.ops.{Clustering, Dedup, TextAnalysis}
import Shared.{docs, plantedNearDupDocs, toksOf, shingleSql, bucketSqlGated}

/** Deduplication (`d*`): exact, MinHash, embedding, span and fuzzy
  * record-linkage dedup over `documents` (and `embeddings`, `customer`,
  * `part`). MinHash signatures are xxhash64-based, so d3, d4 and d7 are
  * rows-only; their exact semantics are asserted in DedupSpec. */
object DedupQueries {

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

  private def jaccardSql(n: Int): String = {
    val (sa, sb) = (shingleSql(n, "ta"), shingleSql(n, "tb"))
    s"ROUND(len(list_intersect($sa, $sb))::DOUBLE / " +
      s"greatest(len(list_distinct(list_concat($sa, $sb))), 1), 6) AS jaccard$n"
  }

  // d13 and d13c: d13c is d13 with the pair-stage cap DISABLED
  // (maxBucketSize = 0, the uncapped contrast twin) — the default cap (50)
  // is far above every gate-scale cluster (planted cliques are 3 docs),
  // so capped == uncapped there by the cap's own contract and the oracle
  // is shared; the cap's skip semantics are pinned quantitatively in
  // DedupSpec/ClusteringSpec.
  private val ClusterCanonicalSql: String =
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
      "WHERE rn = 1 ORDER BY doc_id")

  // d15 and d15c: d15c is d15 uncapped, sharing the oracle as d13c does.
  private val CrossCorpusDedupSql: String =
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
      "WHERE rk.sk IS NULL ORDER BY doc_id")

  def all: Seq[Query] = Seq(
    // ---- deduplication -------------------------------------------------
    Query("d1_exact_dedup", Some(
      ("SELECT doc_id FROM (SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn " +
        "FROM documents) WHERE rn = 1 ORDER BY doc_id")))((s, dir) =>
      Dedup.exact(docs(s, dir), "doc_id", "text")
        .select(col("doc_id")).orderBy("doc_id")),
    Query("d2_jaccard_pairs", Some(
      (s"WITH toks AS (SELECT doc_id, ${toksOf("text")} AS tk FROM documents) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        Seq(1, 2, 3).map(n => jaccardSql(n)).mkString(", ") +
        " FROM (SELECT doc_id, tk AS ta FROM toks) a " +
        "JOIN (SELECT doc_id, tk AS tb FROM toks) b ON b.doc_id = a.doc_id + 1 " +
        "ORDER BY id_a")))((s, dir) => {
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
    Query("d3_minhash_dedup", None)((s, dir) =>
      Dedup.minHashDedup(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .select(col("doc_id")).orderBy("doc_id")),
    // Survivors of the threshold-1.0 clustered near-dedup over the planted
    // corpus = min doc_id per distinct (lowercased, whitespace-split)
    // trigram-shingle SET: equal sets <=> jaccard 1.0 <=> identical
    // MinHash signatures (every band collides, recall exactly 1), up to
    // the same 2^-64 hash-collision bound the d2 oracle rides on.
    Query("d6_minhash_dedup_cc", Some(
      ("WITH corpus AS (SELECT d.doc_id, " +
        "CASE WHEN d.doc_id % 5 = 3 AND c1.text IS NOT NULL THEN replace(c1.text, ' ', '  ') " +
        "WHEN d.doc_id % 5 = 4 AND c2.text IS NOT NULL THEN replace(c2.text, ' ', '   ') " +
        "ELSE d.text END AS text FROM documents d " +
        "LEFT JOIN documents c1 ON c1.doc_id = d.doc_id - 1 " +
        "LEFT JOIN documents c2 ON c2.doc_id = d.doc_id - 2), " +
        s"t AS (SELECT doc_id, ${toksOf("text")} AS tk FROM corpus), " +
        s"keyed AS (SELECT doc_id, list_sort(${shingleSql(3, "tk")}) AS sk FROM t) " +
        "SELECT doc_id FROM keyed QUALIFY doc_id = min(doc_id) OVER (PARTITION BY sk) " +
        "ORDER BY doc_id")))((s, dir) => {
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
    Query("d4_fingerprints", None)((s, dir) =>
      // fingerprint is array<long>; joined to a string so the driver's
      // pandas-side rows-only canonicalization can sort/hash the column
      docs(s, dir).select(col("doc_id"),
          Dedup.simHash(col("text")).as("simhash"),
          TextAnalysis.contentHash(col("text")).as("content_hash"),
          concat_ws(",", TextAnalysis.fingerprint(col("text"))).as("fingerprint"))
        .orderBy("doc_id")),

    Query("d10_doc_line_dedup", Some(
      ("WITH src AS (SELECT doc_id, concat_ws(chr(10), text, 'DISCLAIMER', text, '', " +
        "'DISCLAIMER', 'footer: ' || lang) AS text FROM documents), " +
        "l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS ln, " +
        "generate_subscripts(string_split(text, chr(10)), 1) AS idx FROM src), " +
        "k AS (SELECT doc_id, idx, ln FROM l QUALIFY ln = '' OR " +
        "idx = min(idx) OVER (PARTITION BY doc_id, ln)) " +
        "SELECT doc_id, string_agg(ln, chr(10) ORDER BY idx) AS text_dedup, " +
        "count(*) AS n_lines_kept FROM k GROUP BY doc_id ORDER BY doc_id")))((s, dir) => {
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
    Query("d9_line_dedup", Some(
      ("WITH src AS (SELECT doc_id, concat_ws(chr(10), '== SITE NAV ==', text, 'contact us: ' || lang) AS text FROM documents), " +
        "t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM src), " +
        "l AS (SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1), i -> {'idx': i, 'ln': ls[i]})) AS e FROM t), " +
        "x AS (SELECT doc_id, e.idx AS idx, e.ln AS ln FROM l), " +
        "k AS (SELECT doc_id, idx, ln, (length(ln) = 0 OR " +
        "row_number() OVER (PARTITION BY ln ORDER BY doc_id, idx) = 1) AS keep FROM x) " +
        "SELECT doc_id, string_agg(ln, chr(10) ORDER BY idx) AS text_dedup " +
        "FROM k WHERE keep GROUP BY doc_id ORDER BY doc_id")))((s, dir) => {
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
    Query("d8_decontamination", Some({
      val tri = "list_transform(range(1, len(tk) - 1), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"
      val gs = s"list_filter(list_distinct(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] ELSE $tri END), x -> length(x) > 0)"
      (s"WITH t AS (SELECT doc_id, ${toksOf("text")} AS tk FROM documents), " +
        s"g AS (SELECT doc_id, $gs AS gs FROM t), " +
        "bench AS (SELECT DISTINCT unnest(gs) AS gr FROM g WHERE doc_id < 10), " +
        "corpus AS (SELECT doc_id, len(gs) AS ng, unnest(gs) AS gr FROM g WHERE doc_id >= 10) " +
        "SELECT doc_id, count(*) AS n_overlap, " +
        "ROUND(count(*)::DOUBLE / any_value(ng), 6) AS overlap_ratio " +
        "FROM corpus JOIN bench USING (gr) GROUP BY doc_id ORDER BY doc_id")
    }))((s, dir) => {
      // benchmark set = doc_id < 10, training corpus = the rest; flag
      // training docs sharing any word trigram with the benchmark
      val d = docs(s, dir)
      Dedup.ngramOverlap(d.filter(col("doc_id") >= 10),
          d.filter(col("doc_id") < 10), "doc_id", "text", "text", n = 3)
        .select(col("doc_id"), col("n_overlap"),
          round(col("overlap_ratio"), 6).as("overlap_ratio"))
        .orderBy("doc_id")
    }),
    Query("d7_corpus_similarity", None)((s, dir) => { // minhash-based -> rows-only
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
    Query("d5_embedding_neardup", Some({
      val bucket = bucketSqlGated("embedding::DOUBLE[]",
        graft.ops.Similarity.randomPlanes(16, 64), "(SELECT p FROM np)")
      ("WITH np AS (SELECT greatest(4, least(16, CAST(ceil(log2(count(*) / 64.0)) AS INT))) AS p FROM embeddings), " +
        "b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, " + bucket + " AS bucket FROM embeddings) " +
        "SELECT a.id AS id_a, c.id AS id_b, ROUND(list_cosine_similarity(a.v, c.v), 6) AS cosine " +
        "FROM b a JOIN b c ON a.bucket = c.bucket AND a.id < c.id " +
        "WHERE list_cosine_similarity(a.v, c.v) >= 0.2 ORDER BY id_a, id_b")
    }))((s, dir) => { // oracle embeds the deterministic plane literals
      val emb = table(s, dir, "embeddings")
      // adaptive plane count (clamp(ceil(log2(n/64)), 4, 16), folded into
      // the plan) keeps bucket population ~constant as the corpus grows;
      // the oracle mirrors the same formula in a count(*) CTE
      Dedup.embeddingNearDupPairsAdaptive(emb, "vec_id", "embedding", 0.2)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),
    Query("d12_dup_span_fraction", Some({
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
    }))((s, dir) =>
      // Lee-et-al duplicated-span fraction at 5-gram granularity: the
      // marked fraction is a ratio of exact longs, so the oracle compare
      // needs no nudge; gram identity is the 8-byte positional hash on
      // the Spark side vs the gram string in DuckDB (the d2 precedent —
      // equal up to 2^-64 collisions).
      Dedup.dupNgramFraction(docs(s, dir), "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_grams"), col("n_dup"),
          round(col("dup_fraction"), 6).as("dup_fraction"))
        .orderBy("doc_id")),
    Query("d11_semantic_dedup", Some(
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
        "WHERE vec_id NOT IN (SELECT vec_id FROM rem) ORDER BY vec_id")))((s, dir) => {
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

    // ---- quality-aware canonical dedup ---------------------------------
    Query("d13_cluster_canonical", Some(ClusterCanonicalSql))((s, dir) => {
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
    Query("d13c_cluster_canonical_uncapped", Some(ClusterCanonicalSql))((s, dir) => {
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

    Query("d16_containment", Some({
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
    }))((s, dir) => {
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
    Query("d15_cross_corpus_dedup", Some(CrossCorpusDedupSql))((s, dir) => {
      // dedup the [[newCrawl]] against the existing corpus: only its
      // fresh half survives. Threshold 1.0 => a new doc is dropped
      // iff its distinct shingle set EQUALS some ref doc's (the d6
      // equality argument), which the oracle derives with a set-key
      // anti-join — no LSH replay needed.
      val ref = docs(s, dir)
      Dedup.crossCorpusDedup(newCrawl(ref), ref, "doc_id", "text", threshold = 1.0)
        .select(col("doc_id")).orderBy("doc_id")
    }),
    Query("d15c_cross_corpus_uncapped", Some(CrossCorpusDedupSql))((s, dir) => {
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
    Query("d14_url_dedup", Some(
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
        "FROM c GROUP BY canonical_url ORDER BY canonical_url")))((s, dir) => {
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

    Query("d23_fs_weights", Some({
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
    }))((s, dir) => {
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
    Query("d17_sorted_neighborhood", Some(
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
        "FROM p ORDER BY id_a, id_b")))((s, dir) => {
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

    Query("d19_repeated_spans", Some(
      // replay the positional anchor set: constant-bounded range + a
      // position-fits filter (DuckDB's range() cannot take a lateral
      // column bound); 512 * 8 covers any sf0.01 doc length
      ("WITH g AS (SELECT doc_id, substring(text, (8*t.i+1)::INT, 24) AS gram " +
        "FROM documents, range(512) t(i) " +
        "WHERE len(text) >= 24 AND 8*t.i + 24 <= len(text)), " +
        "d AS (SELECT gram, doc_id, count(*) AS c FROM g GROUP BY 1, 2) " +
        "SELECT gram, sum(c)::BIGINT AS n_occ, count(*)::BIGINT AS n_docs " +
        "FROM d GROUP BY gram HAVING sum(c) >= 2 " +
        "ORDER BY n_occ DESC, gram LIMIT 30")))((s, dir) =>
      // cross-document repeated-span anchors (the Lee-et-al substring
      // dedup signal, sampled): every 8th 24-gram of every doc, exact
      // two-level aggregation, survivors = fingerprints of spans
      // occurring more than once corpus-wide. Positional sampling so
      // DuckDB replays the anchor set verbatim; the alignment-robust
      // hashMod mode is spec-pinned (DedupSpec).
      Dedup.repeatedSpans(docs(s, dir), "doc_id", "text", k = 24, stride = 8)
        .orderBy(col("n_occ").desc, col("gram")).limit(30)),
    Query("d20_span_mask", Some(
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
        "FROM ch GROUP BY doc_id HAVING sum(cv) > 0 ORDER BY doc_id")))((s, dir) => {
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
    Query("d21_jaro_winkler_pairs", Some(
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
        "ORDER BY name_a, name_b")))((s, dir) =>
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
    Query("d22_source_overlap", Some(
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
        "FROM pr LEFT JOIN it USING (src_a, src_b) ORDER BY src_a, src_b")))((s, dir) =>
      // can these crawls be mixed? pairwise Jaccard/containment of each
      // source pair's distinct word-trigram sets; the gram self-join
      // fans out at most |sources|^2 per gram, never rows^2
      Dedup.sourceOverlapMatrix(table(s, dir, "documents"), "source", "text", n = 3)
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("n_common"),
          round(col("jaccard") + lit(5e-10), 6).as("jaccard"),
          round(col("containment") + lit(5e-10), 6).as("containment"))
        .orderBy("src_a", "src_b")),
    Query("d18_fuzzy_join", Some(
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
        "FROM pr LEFT JOIN g USING (probe_id) ORDER BY probe_id")))((s, dir) => {
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
  )
}
