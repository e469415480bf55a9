package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Query
import graft.Util.table
import graft.ops.{Pca, Pq, Similarity}
import Shared.bucketSqlGated

/** Similarity search (`s*`) over `embeddings`: exact and approximate
  * top-k (LSH, IVF, product quantization), kNN graphs, projections,
  * normalization and outlier screens. */
object SimilarityQueries {

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

  def all: Seq[Query] = Seq(

    // ---- similarity search over embeddings -----------------------------
    Query("s12_centroid_outliers", Some(
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
        "FROM z ORDER BY vec_id")))((s, dir) =>
      // per-label embedding outlier screen: k-row centroid exchange,
      // broadcast back, one group-keyed window for the z-scores; all
      // rows emitted so no engine sits on the threshold knife edge
      Similarity.centroidOutliers(table(s, dir, "embeddings"),
          "vec_id", "label", "embedding", dim = 64)
        .select(col("vec_id"), col("label"),
          round(col("dist") + lit(5e-10), 6).as("dist"),
          round(col("z") + lit(5e-10), 6).as("z"))
        .orderBy("vec_id")),
    Query("s5_embedding_by_lang", Some(
      ("WITH e AS (SELECT vec_id, label, " +
        "sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')) AS l2 " +
        "FROM embeddings) " +
        "SELECT d.lang, e.label, count(*)::BIGINT AS n, ROUND(avg(e.l2) + 5e-10, 6) AS mean_l2 " +
        "FROM e JOIN documents d ON e.vec_id = d.doc_id " +
        "GROUP BY d.lang, e.label ORDER BY d.lang, e.label")))((s, dir) => {
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
    // list_aggregate('sum') folds in list order, same as Spark's
    // aggregate() — identical doubles, identical order, identical sum
    Query("s6_random_projection", Some({
      // plane literals + 1/sqrt(8) as round-tripped double strings; both
      // engines run the same sequential double inner product (the d5
      // precedent), so each component is the identical double
      val planes = graft.ops.Similarity.randomPlanes(8, 64)
      val scale = 1.0 / math.sqrt(8.0)
      val cols = planes.zipWithIndex.map { case (p, i) =>
        s"round(list_inner_product(embedding::DOUBLE[], ${p.mkString("[", ", ", "]")}) " +
          s"* $scale + 5e-10, 6) AS p$i" }
      s"SELECT vec_id, ${cols.mkString(", ")} FROM embeddings ORDER BY vec_id"
    }))((s, dir) =>
      // JL dimensionality reduction 64 -> 8 over the seeded plane set
      // LSH shares; the projection array is materialized ONCE (the __p
      // CollapseProject sharing pattern) and unpacked into one column
      // per component for the hash compare
      table(s, dir, "embeddings")
        .withColumn("__pr", Similarity.randomProjection(col("embedding"), 8, 64))
        .select(col("vec_id") +: (0 until 8).map(i =>
          round(element_at(col("__pr"), i + 1) + lit(5e-10), 6).as(s"p$i")): _*)
        .orderBy("vec_id")),
    Query("s4_vector_norms", Some(
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "s AS (SELECT vec_id, v, list_aggregate(list_transform(v, x -> x * x), 'sum') AS sq FROM e) " +
        "SELECT vec_id, len(v)::BIGINT AS dim, " +
        "ROUND(sqrt(sq) + 5e-10, 6) AS l2, " +
        "ROUND(list_max(list_transform(v, x -> abs(x))) + 5e-10, 6) AS max_abs, " +
        "ROUND(v[1] / sqrt(sq) + 5e-10, 6) AS unit_first " +
        "FROM s ORDER BY vec_id")))((s, dir) => {
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
    Query("s1_cosine_topk", Some(
      ("WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3) " +
        "SELECT query_id, id, cosine FROM (" +
        "SELECT q.qid AS query_id, e.vec_id AS id, " +
        "ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cosine, " +
        "row_number() OVER (PARTITION BY q.qid " +
        "ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC, e.vec_id) AS rn " +
        "FROM embeddings e CROSS JOIN q) WHERE rn <= 10 " +
        "ORDER BY query_id, cosine DESC, id")))((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.topKForQueries(emb, "vec_id", "embedding", q, "qid", "qv", k = 10)
        .select(col("query_id"), col("id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("cosine").desc, col("id"))
    }),
    Query("s16_binary_hamming", Some({
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
    }))((s, dir) => {
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
    Query("s17_ann_recall", Some({
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
    }))((s, dir) => {
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
    Query("s2_ann_lsh", Some({
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
    }))((s, dir) => { // oracle embeds the deterministic plane literals
      val emb = table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.topKLsh(emb, "vec_id", "embedding", q, "qid", "qv", k = 10, numPlanes = 8)
        .select(col("query_id"), col("id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("cosine").desc, col("id"))
    }),

    Query("s3_ann_ivf", None)((s, dir) => { // centroid codebook not SQL-expressible -> rows-only
      val emb = table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.topKIvf(emb, "vec_id", "embedding", q, "qid", "qv", k = 10)
        .select(col("query_id"), col("id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("cosine").desc, col("id"))
    }),
    Query("s13_embed_cov", Some(
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
        "ORDER BY i, j")))((s, dir) =>
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
    Query("s14b_pca_trace", Some(
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
        "true AS eig_sum_ok, true AS orthonormal_ok FROM v, nn GROUP BY n")))((s, dir) => {
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
    Query("s15_sq8_topk", Some(
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
        "ORDER BY score DESC, vec_id LIMIT 10")))((s, dir) => {
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

    Query("s7_knn_graph", Some({
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
    }))((s, dir) =>
      // kNN-graph over the embedding corpus: top-3 bucket-mates per
      // vector via the bounded TopK aggregator (shuffle carries <= 3
      // rows per (partition, src)); bucket + cosine math shared with
      // the oracle-green d5 path
      Similarity.knnGraph(table(s, dir, "embeddings"), "vec_id", "embedding", k = 3)
        .select(col("src"), col("rank"), col("dst"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("src", "rank")),

    Query("s18_label_disagreement", Some({
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
    }))((s, dir) =>
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
    Query("s19_knn_margin", Some({
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
    }))((s, dir) =>
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

    Query("s11_ivf_pq_rerank", Some(
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
        "FROM ex ORDER BY exact_dist, vec_id LIMIT 10")))((s, dir) => {
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
    Query("s10_ivf_pq", Some(
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
        "ORDER BY adc.adc, adc.vec_id LIMIT 10")))((s, dir) => {
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
    Query("s9_standardize", Some(
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
        "FROM st JOIN za USING (dim) ORDER BY dim")))((s, dir) => {
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

    Query("s8_knn_reranked", Some({
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
    }))((s, dir) =>
      // shrink-then-rerank: candidates bucketed on the 8-dim JL
      // projection (s6's seeded planes), ranked by FULL 64-dim cosine —
      // the production two-stage; recall is projection-bucket-local,
      // precision is exact
      Similarity.knnGraphReranked(table(s, dir, "embeddings"),
          "vec_id", "embedding", k = 3)
        .select(col("src"), col("rank"), col("dst"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("src", "rank")),
  )
}
