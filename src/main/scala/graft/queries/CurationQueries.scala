package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.Util.table
import graft.ops.{Clustering, Curation, Dedup, Pq, Sampling, TextAnalysis}
import Shared.{docs, plantedNearDupDocs, jsonlExportCensus, toksOf, shingleSql, enrichSql, QualityScoreSql, LangPickSql}

/** Curation (`c*`): dedup → quality gate → per-language report and
  * export pipelines, and quantization and clustering profiles, over
  * `documents` and `embeddings`. */
object CurationQueries {

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

  // c4 and c6: c6 is c4's pipeline under a different STORAGE decision
  // (materialize-once); the results — and therefore the oracle — are
  // identical by contract.
  private val CurationV2Sql: String = {
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
  }

  def all: Seq[Query] = Seq(
    Query("c1_curation", Some(
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
        "GROUP BY lang_pred ORDER BY lang_pred")))((s, dir) => {
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

    Query("c4_curation_v2", Some(CurationV2Sql))((s, dir) =>
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

    Query("c7_pq_adc", Some(
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
        "ORDER BY adc, vec_id LIMIT 10")))((s, dir) => {
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
    Query("c6_curation_mat", Some(CurationV2Sql))((s, dir) =>
      // c4's pipeline with the PRODUCTION storage decision: the deduped
      // corpus is materialized ONCE (call-scoped MEMORY_AND_DISK persist,
      // released before return) and the three signal stages scan the
      // cache instead of re-running the dedup each — cost goes from
      // Σ(dedup + stage) to dedup + Σ(stage). Same oracle as c4: a
      // storage decision must never change results.
      Curation.withMaterialized(dedupedCorpus(s, dir), curationV2Report(_))),
    Query("c2_vector_quantize", Some(
      ("WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv " +
        "FROM embeddings WHERE vec_id < 8), " +
        "p AS (SELECT e.vec_id, c.cid, " +
        "list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS cos " +
        "FROM embeddings e CROSS JOIN c), " +
        "r AS (SELECT vec_id, cid, cos, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk FROM p) " +
        "SELECT cid::BIGINT AS centroid_id, count(*)::BIGINT AS n, " +
        "ROUND(avg(cos), 6) AS mean_cos " +
        "FROM r WHERE rk = 1 GROUP BY cid ORDER BY centroid_id")))((s, dir) => {
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
    Query("c3_kmeans_profile", None)((s, dir) => {
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
    Query("c3b_cluster_profile", Some(
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
        "ORDER BY centroid_id")))((s, dir) => {
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
    Query("c9_curated_export", Some({
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
    }))((s, dir) => {
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
    Query("c8_mix_report", Some(
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
        "FROM y ORDER BY source")))((s, dir) => {
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

    Query("c5_curation_v3", Some(
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
        "GROUP BY d.lang ORDER BY d.lang")))((s, dir) => {
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
  )
}
