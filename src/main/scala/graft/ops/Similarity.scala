package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`/`array<double>`).
  *
  * Baseline: brute-force cosine top-k — one codegen'd projection + a
  * TakeOrderedAndProject (no full sort, no shuffle of the corpus).
  * Scale path: random-hyperplane LSH bucketing so candidate generation is
  * an equi-join on bucket signature instead of a cartesian product; at
  * 1000 executors the corpus stays partitioned, only the (tiny) query set
  * is broadcast.
  */
object Similarity {

  /** Dot product of two numeric arrays — custom one-pass expression
    * (the HOF `aggregate(zip_with(...))` form is interpreted per element
    * with boxing and gets no common-subexpression elimination). */
  def dot(a: Column, b: Column): Column =
    graft.functions.HashFunctions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.HashFunctions.cosineSim(a, b)

  private def litVec(q: Seq[Double]): Column = array(q.map(lit): _*)

  /** Top-k for a whole (small) query table: broadcast the queries, score
    * every (corpus row, query) pair in one pass over the corpus, keep
    * top-k per query with a window. Corpus is never shuffled — only the
    * k-per-query survivors move. */
  def topKForQueries(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int): DataFrame = {
    val scored = corpus.crossJoin(
        broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))))
      .select(col("query_id"), col(corpusId).as("id"),
        cosine(col(corpusVec).cast("array<double>"), col("__qv").cast("array<double>")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k).drop("__rank")
  }

  /** Sign-bit binary quantization: the vector's `dims` sign bits packed
    * into ceil(dims/32) 32-bit words — 32× compression of a float
    * vector, the cheapest tier below PQ ([[graft.ops.Pq]]) and SQ8.
    * Words stay in [0, 2³²) inside longs, so XOR/popcount never touch
    * the sign bit and an external engine replays them exactly. Packing
    * is dims codegen'd CASE terms (disjoint bits, OR-folded), not a
    * higher-order array fold — the PCA lesson: HOFs run interpreted in
    * hot loops. Hamming distance between two codes is monotone in the
    * angle between the vectors in expectation (Charikar 2002, the
    * [[lshBucket]] construction used as a REPRESENTATION, not a
    * bucketing key). */
  def binarySignWords(vec: Column, dims: Int): Column = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val nWords = (dims + 31) / 32
    array((0 until nWords).map { w =>
      (w * 32 until math.min(dims, w * 32 + 32)).map { i =>
        when(element_at(vec, i + 1) > lit(0.0), lit(1L << (i - w * 32)))
          .otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    }: _*)
  }

  /** Hamming distance between two [[binarySignWords]] codes: nWords
    * codegen'd bit_count(xor) terms over pinned word positions — no
    * per-pair array allocation, no HOF. */
  def hammingWords(a: Column, b: Column, nWords: Int): Column =
    (0 until nWords).map(i =>
      bit_count(element_at(a, i + 1).bitwiseXOR(element_at(b, i + 1)))
        .cast("long"))
      .reduce(_ + _)

  /** Binary-quantized top-k: Hamming shortlist over the packed sign
    * codes, then exact-cosine rerank of the survivors. The corpus scan
    * that feeds the shortlist carries (id, ceil(d/32) longs) per row —
    * at 100 TB that is the whole point: the 256-byte float vector never
    * shuffles; only the ≤`shortlist` candidates per query re-join their
    * full vectors (two broadcast-candidate joins), and the final top-k
    * ranks ≤shortlist rows per query. Ties break (hamming, id) and
    * (cosine desc, id), so the cut is deterministic end to end.
    * Returns (query_id, id, hamming, cosine). */
  def topKBinary(corpus: DataFrame, corpusId: String, corpusVec: String,
                 queries: DataFrame, queryId: String, queryVec: String,
                 k: Int, dims: Int, shortlist: Int = 50): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"need shortlist >= k >= 1, got k=$k shortlist=$shortlist")
    val nWords = (dims + 31) / 32
    val coded = corpus.select(col(corpusId).as("id"),
      binarySignWords(col(corpusVec), dims).as("__w"))
    val qCoded = queries.select(col(queryId).as("query_id"),
      binarySignWords(col(queryVec), dims).as("__qw"))
    val w1 = Window.partitionBy("query_id").orderBy(col("hamming"), col("id"))
    val cand = coded.crossJoin(broadcast(qCoded))
      .select(col("query_id"), col("id"),
        hammingWords(col("__w"), col("__qw"), nWords).as("hamming"))
      .withColumn("__r", row_number().over(w1))
      .filter(col("__r") <= shortlist).drop("__r")
    val rejoined = corpus
      .select(col(corpusId).as("id"), col(corpusVec).as("__v"))
      .join(broadcast(cand), Seq("id"))
      .join(broadcast(queries.select(col(queryId).as("query_id"),
        col(queryVec).as("__qv"))), Seq("query_id"))
      .select(col("query_id"), col("id"), col("hamming"),
        cosine(col("__v"), col("__qv")).as("cosine"))
    val w2 = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id"))
    rejoined.withColumn("__r", row_number().over(w2))
      .filter(col("__r") <= k).drop("__r")
  }

  /** Deterministic random hyperplanes (xorshift-free simple LCG seeded by
    * `seed`) for sign-bit LSH. Public-knowledge construction: cosine-LSH
    * via random projections (Charikar 2002). */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Johnson-Lindenstrauss random projection: `outDim` seeded Gaussian
    * planes (the [[randomPlanes]] generator LSH already uses — same
    * seed, same planes), each output component `dot(v, plane_j) /
    * sqrt(outDim)` so expected squared distances are preserved. The
    * standard dimensionality-reduction step before ANN indexing /
    * clustering at scale: a 100 TB embedding column shrinks by
    * `inDim/outDim` with JL-bounded distance distortion, and every
    * downstream operator (LSH, IVF, k-means) runs on the short vectors.
    * Pure projection — `outDim` compiled dot products per row, no
    * shuffle; both the planes and the scale are plan literals an
    * external engine replays bit-for-bit (sequential double dot, the d5
    * oracle precedent). */
  def randomProjection(vec: Column, outDim: Int, inDim: Int, seed: Long = 42L): Column = {
    val planes = randomPlanes(outDim, inDim, seed)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    array(planes.map(p => dot(vec.cast("array<double>"), litVec(p)) * scale): _*)
  }

  /** LSH bucket id: one sign bit per hyperplane, packed into a long. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec.cast("array<double>"), litVec(p)) >= 0.0, shiftleft(lit(1L), i))
        .otherwise(lit(0L))
    }.reduce[Column]((a, b) => a.bitwiseOR(b))

  /** LSH bucket id using only the first `pCol` of `planes` — the plane
    * count can then be a runtime value (e.g. derived from a corpus count
    * folded into the plan) while the plane literals stay static. With the
    * same seed, `randomPlanes(k)` is a prefix of `randomPlanes(max)`, so
    * `pCol = k` reproduces the fixed-k bucket bit-for-bit. */
  def lshBucketGated(vec: Column, planes: Seq[Seq[Double]], pCol: Column): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(lit(i) < pCol && dot(vec.cast("array<double>"), litVec(p)) >= 0.0,
        shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce[Column]((a, b) => a.bitwiseOR(b))

  /** `cols` of `df` plus `bucket`: the [[lshBucketGated]] bucket of
    * `bucketVec` under the first P of `randomPlanes(maxPlanes, bucketDim,
    * seed)`, with P = clamp(ceil(log2(n / targetBucket)), minPlanes,
    * maxPlanes) for n = `df`'s row count, so the expected bucket
    * population stays ~targetBucket at any corpus size. The count is
    * folded into the plan as a broadcast one-row aggregate (no
    * driver-side count action) and the plane literals stay static. */
  private[ops] def adaptiveBuckets(df: DataFrame, cols: Seq[Column], bucketVec: Column,
                                   bucketDim: Int, minPlanes: Int, maxPlanes: Int,
                                   targetBucket: Int, seed: Long): DataFrame = {
    val planes = randomPlanes(maxPlanes, bucketDim, seed)
    val n = df.agg(count(lit(1)).as("__n"))
    val p = greatest(lit(minPlanes), least(lit(maxPlanes),
      ceil(log2(col("__n") / lit(targetBucket.toDouble))).cast("int")))
    df.crossJoin(broadcast(n))
      .select(cols :+ lshBucketGated(bucketVec, planes, p).as("bucket"): _*)
  }

  /** Vector width of `vecCol`, read from the first row with a usable
    * vector (one tiny job — a LocalLimit(1) scan, not a full pass).
    * Null/empty vectors are skipped; an empty corpus fails with a clear
    * message instead of a bare NoSuchElementException. */
  private[ops] def inferDim(df: DataFrame, vecCol: String): Int = {
    val d = df.select(size(col(vecCol)).as("__d"))
      .filter(col("__d").isNotNull && col("__d") > 0)
      .head(1)
    require(d.nonEmpty,
      s"cannot infer vector dim: column '$vecCol' has no non-null, non-empty vectors")
    d.head.getInt(0)
  }

  /** Spherical k-means codebook trained on a bounded, deterministic
    * sample: the `sampleSize` corpus rows with the smallest
    * `xxhash64(id)` (a TakeOrdered — per-partition top-k then driver
    * merge, no shuffle of the corpus, and stable under reprocessing),
    * then Lloyd iterations on the driver (sampleSize x nlist x dim
    * flops per iteration — microseconds at the default sizes). Sample
    * size is fixed no matter the corpus size, so the collect stays
    * bounded at 100 TB. Vectors are L2-normalized and means
    * renormalized each round (cosine geometry); an emptied cluster
    * keeps its previous centroid. */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     nlist: Int, sampleSize: Int = 4096,
                     iters: Int = 8): Seq[Seq[Double]] = {
    val sample: Array[Array[Double]] = corpus
      .select(col(vecCol).cast("array<double>").as("__v"))
      .orderBy(xxhash64(col(idCol)))
      .limit(sampleSize)
      .collect()
      .map(_.getAs[scala.collection.Seq[Double]](0).toArray)
    require(sample.nonEmpty, "cannot train centroids on an empty corpus")
    val dim = sample.head.length
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val pts = sample.map(normalize)
    val k = math.min(nlist, pts.length)
    // init from the hash-ordered sample head: effectively random draws,
    // deterministic given the data
    var cents = pts.take(k).map(_.clone)
    var iter = 0
    while (iter < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        var best = 0
        var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var d = 0.0
          var i = 0
          while (i < dim) { d += p(i) * cents(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c => if (counts(c) == 0) cents(c) else normalize(sums(c)))
      iter += 1
    }
    cents.map(_.toSeq).toSeq
  }

  /** Index of the highest-cosine centroid (ties -> lowest index).
    * The codebook rides inside ONE [[graft.functions.NearestCentroids]]
    * expression node — the per-centroid `array(struct(cosine, -i))`
    * formulation grew the plan (and codegen) linearly with nlist, which
    * stops being free around a few hundred centroids. */
  private[ops] def assignCentroid(vec: Column, cents: Seq[Seq[Double]]): Column =
    element_at(graft.functions.HashFunctions.nearestCentroids(vec, cents, 1), 1)

  /** Indices of the `nprobe` highest-cosine centroids (score desc, index
    * asc) — same single-node plan shape as [[assignCentroid]]. */
  private[ops] def probeCentroids(vec: Column, cents: Seq[Seq[Double]], nprobe: Int): Column =
    graft.functions.HashFunctions.nearestCentroids(vec, cents, nprobe)

  /** The documented IVF sizing rule (the `nlist = 0` adaptive default):
    * nlist = clamp(ceil(sqrt(n)), 16, 4096) — the standard IVF-flat
    * heuristic balancing list length (n/nlist) against coarse-assignment
    * cost (nlist dot products per row). The fraction of the corpus scored
    * per query is nprobe/nlist ~ nprobe/sqrt(n), FALLING as the corpus
    * grows — a fixed nlist is quadratic in disguise (16 lists meant a
    * quarter of the corpus scored per query at any scale). The 4096 cap
    * bounds the per-row assignment cost (and the driver-side k-means);
    * beyond ~16M vectors a hierarchical coarse quantizer is the right
    * tool, which is outside this operator's scope. */
  def ivfNlist(n: Long): Int =
    math.max(16, math.min(4096, math.ceil(math.sqrt(math.max(n, 0L).toDouble)).toInt))

  /** Adaptive probe count (the `nprobe = 0` default): ceil(sqrt(nlist))
    * clamped to >= 4 — recall stays roughly flat as nlist grows while the
    * scored fraction sqrt(nlist)/nlist still shrinks with scale. */
  def ivfNprobe(nlist: Int): Int =
    math.max(4, math.ceil(math.sqrt(nlist.toDouble)).toInt)

  /** ANN top-k via an IVF (inverted-file) index: corpus vectors are
    * partitioned into `nlist` lists by nearest coarse centroid; each
    * query probes its `nprobe` nearest lists and reranks by exact cosine.
    * Coarse centroids default to a [[trainCentroids]] spherical-k-means
    * codebook fitted on a bounded hash-deterministic sample (pass
    * `centroids` to reuse a codebook across calls or supply your own).
    * The probe join is an equi-join on the list id, so the corpus stays
    * partitioned and only ~(nprobe/nlist) of it is scored per query.
    *
    * `nlist = 0` (default) sizes the index by [[ivfNlist]] from a corpus
    * count (metadata-cheap on a parquet-backed frame; pass an explicit
    * nlist to skip the count job), and `nprobe = 0` by [[ivfNprobe]].
    * The training sample scales at 32 points per centroid (bounded), so
    * large codebooks are not starved. */
  def topKIvf(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, nlist: Int = 0, nprobe: Int = 0,
              centroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val nl = if (nlist > 0) nlist else ivfNlist(corpus.count())
    val np = if (nprobe > 0) nprobe else ivfNprobe(nl)
    val cents: Seq[Seq[Double]] =
      centroids.getOrElse(trainCentroids(corpus, corpusId, corpusVec, nl,
        sampleSize = math.min(math.max(4096, 32 * nl), 131072)))
    val c = corpus.select(col(corpusId).as("id"), col(corpusVec).as("__cv"),
      assignCentroid(col(corpusVec), cents).as("__list"))
    val q = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"),
      explode(probeCentroids(col(queryVec), cents, np)).as("__list")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id"))
    c.join(q, Seq("__list"))
      .select(col("query_id"), col("id"),
        cosine(col("__cv").cast("array<double>"), col("__qv").cast("array<double>")).as("cosine"))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k).drop("__rank")
  }

  /** ANN top-k: LSH-bucketed variant of [[topKForQueries]]. Candidates are
    * corpus rows sharing one of the query's PROBED buckets (equi-join on
    * the packed sign bits); rerank by exact cosine within the bucket.
    * Recall < 1 by construction — `numPlanes` trades recall for bucket
    * size, and `multiProbe` (standard multi-probe LSH: also probe every
    * 1-bit-flip neighbor bucket, the most likely homes of a near
    * neighbor whose one borderline hyperplane sign flipped) buys back
    * recall at the same plane count for numPlanes+1 probe joins per
    * query. Probed buckets are distinct values of the corpus row's single
    * bucket key, so a (corpus, query) pair still joins at most once — no
    * dedup step. The corpus side is untouched: still one scan, one
    * bucket per row, only the tiny broadcast query side fans out. */
  def topKLsh(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, numPlanes: Int = 8, seed: Long = 42L,
              dim: Int = -1, multiProbe: Boolean = true): DataFrame = {
    // Hyperplanes must span the full embedding width: a wrong dim would
    // silently bucket on a prefix (DotProduct stops at the shorter
    // array). Infer from the data unless the caller pins it.
    val d = if (dim > 0) dim else inferDim(corpus, corpusVec)
    val planes = randomPlanes(numPlanes, d, seed)
    val c = corpus.select(col(corpusId).as("id"), col(corpusVec).as("__cv"),
      lshBucket(col(corpusVec), planes).as("__bucket"))
    val qb = lshBucket(col(queryVec), planes)
    val probes =
      if (multiProbe) array(qb +: (0 until numPlanes).map(i => qb.bitwiseXOR(lit(1L << i))): _*)
      else array(qb)
    val q = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"),
      explode(probes).as("__bucket")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id"))
    c.join(q, Seq("__bucket"))
      .select(col("query_id"), col("id"),
        cosine(col("__cv").cast("array<double>"), col("__qv").cast("array<double>")).as("cosine"))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k).drop("__rank")
  }

  /** kNN-graph construction: every vector's top-k nearest bucket-mates
    * by cosine — the index-building step for graph-based ANN (NN-descent
    * seeds, HNSW base layers) and for similarity-graph clustering.
    *
    * Shape: the [[adaptiveBuckets]] candidate join of
    * [[Dedup.embeddingNearDupPairsAdaptive]] (population-stable buckets:
    * P = clamp(ceil(log2(n/targetBucket)), min, max) folded into the
    * plan as a broadcast 1-row count): each unordered bucket pair is
    * scored once and emitted in both directions, then top-k per source
    * via the bounded [[graft.functions.TopK]] aggregator — the shuffle
    * carries at most k rows per (partition, src), never the full
    * candidate list (a window would sort every candidate of every
    * source). Recall is bucket-local by construction — the documented
    * trade; raise targetBucket or use [[topKLsh]]'s multi-probe for
    * recall-critical lookups.
    *
    * Output: (src, rank 1..k, dst, cosine), rank by (cosine desc, dst)
    * — deterministic under any partitioning. */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int = 3,
               minPlanes: Int = 4, maxPlanes: Int = 16,
               targetBucket: Int = 64, seed: Long = 42L): DataFrame = {
    val dim = inferDim(df, vecCol)
    knnGraphCore(df, idCol, vecCol, col(vecCol), dim,
      k, minPlanes, maxPlanes, targetBucket, seed)
  }

  /** Shrink-then-rerank kNN graph — the two-stage every production ANN
    * system runs at scale: candidate generation buckets on a
    * Johnson-Lindenstrauss PROJECTION of the vectors ([[randomProjection]],
    * same seeded planes as s6) so the per-candidate hash cost scales
    * with `projDim`, while the final ranking scores candidates with the
    * FULL-dimension cosine — projection distortion can only move which
    * candidates are considered (recall), never mis-rank the ones that
    * are (precision). Same output contract as [[knnGraph]]. */
  def knnGraphReranked(df: DataFrame, idCol: String, vecCol: String, k: Int = 3,
                       projDim: Int = 8, minPlanes: Int = 4, maxPlanes: Int = 20,
                       targetBucket: Int = 16, seed: Long = 42L): DataFrame = {
    // targetBucket defaults 4x finer than knnGraph's: sign bits of many
    // planes in a LOW-dimensional projected space are strongly
    // DEPENDENT, so each nominal plane splits fewer cells than in the
    // full space — measured at 500k replicated vectors, projected
    // bucketing at the full-space target produced ~4x the candidate
    // pairs (97 s vs 25 s at sf10); two extra effective planes recover
    // the full-space bucket population at the price the two-stage is
    // meant to pay (recall via coarser GEOMETRY, not bigger buckets).
    // Bucket planes draw from seed + 1, NOT seed: with a shared seed the
    // bucket hyperplanes' first coefficients would be exactly the
    // projection matrix's first coefficients (same Gaussian stream), a
    // correlation that further skews the already-dependent sign bits.
    val dim = inferDim(df, vecCol)
    knnGraphCore(df, idCol, vecCol,
      randomProjection(col(vecCol), projDim, dim, seed), projDim,
      k, minPlanes, maxPlanes, targetBucket, seed + 1)
  }

  private def knnGraphCore(df: DataFrame, idCol: String, vecCol: String,
                           bucketVec: Column, bucketDim: Int, k: Int,
                           minPlanes: Int, maxPlanes: Int,
                           targetBucket: Int, seed: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val withB = adaptiveBuckets(df, Seq(col(idCol).as("id"), col(vecCol).as("v")),
      bucketVec, bucketDim, minPlanes, maxPlanes, targetBucket, seed)
    val tk = org.apache.spark.sql.functions.udaf(new graft.functions.TopK(k),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    BandedPairs(withB, Seq("bucket"), Seq("v"))
      // same uncast cosine as embeddingNearDupPairsAdaptive — the d5
      // oracle precedent pins the double-for-double agreement; it is
      // symmetric bit for bit, so each unordered pair is scored once
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cosine"))
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst"), col("cosine")),
        struct(col("id_b").as("src"), col("id_a").as("dst"), col("cosine")))).as("e"))
      .groupBy(col("e.src").as("src"))
      .agg(tk(col("e.cosine"), col("e.dst")).as("__top"))
      .select(col("src"), posexplode(col("__top")))
      .select(col("src"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("dst"), col("col.score").as("cosine"))
  }

  /** kNN label-disagreement — the standard mislabel screen over an
    * embedded, labeled corpus: a point whose nearest neighbors mostly
    * carry a DIFFERENT label is a labeling-error suspect (or sits on a
    * genuine class boundary — the reviewer's call; this ranks the
    * queue). For each point: its [[knnGraph]] neighbors' labels, the
    * disagreeing fraction, and the majority neighbor label (ties by the
    * (count, label-string) struct max — the clusterProfile convention).
    *
    * Scale shape: the bucket-local kNN graph (shuffle bounded at k rows
    * per (partition, src)), two id equi-joins to attach labels (never
    * the vectors), and a census-sized per-(src,label) aggregate.
    * Returns (idCol, label, n_neighbors, n_disagree, disagreement,
    * top_neighbor_label); rows with a null label are excluded (they
    * can neither agree nor disagree). */
  def labelDisagreement(df: DataFrame, idCol: String, vecCol: String,
                        labelCol: String, k: Int = 3,
                        minPlanes: Int = 4, maxPlanes: Int = 16,
                        targetBucket: Int = 64, seed: Long = 42L): DataFrame = {
    val pts = df.filter(col(labelCol).isNotNull)
    val labels = pts.select(col(idCol).as("__lid"),
      col(labelCol).cast("string").as("__lbl"))
    val g = knnGraph(pts, idCol, vecCol, k, minPlanes, maxPlanes,
      targetBucket, seed)
    g.join(labels.select(col("__lid").as("src"), col("__lbl").as("label")), Seq("src"))
      .join(labels.select(col("__lid").as("dst"), col("__lbl").as("n_label")), Seq("dst"))
      .groupBy(col("src"), col("label"), col("n_label"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("src"), col("label"))
      .agg(sum("__c").as("n_neighbors"),
        sum(when(col("n_label") =!= col("label"), col("__c"))
          .otherwise(lit(0L))).as("n_disagree"),
        max_by(col("n_label"), struct(col("__c"), col("n_label")))
          .as("top_neighbor_label"))
      .select(col("src").as(idCol), col("label"), col("n_neighbors"),
        col("n_disagree"),
        (col("n_disagree").cast("double") / col("n_neighbors"))
          .as("disagreement"),
        col("top_neighbor_label"))
  }

  /** kNN margin score — the mined-pair confidence filter (the
    * Artetxe–Schwenk margin criterion, re-read as a corpus screen): a
    * point whose top-1 cosine towers over its OTHER neighbors has one
    * near-twin (a near-duplicate or a true mined pair); a point whose
    * top-1 barely beats the rest sits in a dense clique where the
    * nearest neighbor carries no signal. margin = cos(top1) − mean
    * cosine of ranks 2..k, so thresholds transfer across corpora the
    * way a raw cosine cutoff does not (the hubness correction).
    *
    * Scale shape: exactly [[knnGraph]] (bucket-local candidates, TopK
    * bound — shuffle carries ≤ k rows per (partition, src)) plus ONE
    * census-sized aggregate over the ≤ k·n edge list. Returns (idCol,
    * n_neighbors, cos_top1, mean_rest, margin); mean_rest and margin
    * are NULL for a point with a single neighbor (no "rest" to
    * compare against). */
  def knnMargin(df: DataFrame, idCol: String, vecCol: String, k: Int = 3,
                minPlanes: Int = 4, maxPlanes: Int = 16,
                targetBucket: Int = 64, seed: Long = 42L): DataFrame = {
    val g = knnGraph(df, idCol, vecCol, k, minPlanes, maxPlanes,
      targetBucket, seed)
    g.groupBy(col("src"))
      .agg(count(lit(1)).as("n_neighbors"),
        max(when(col("rank") === 1, col("cosine"))).as("cos_top1"),
        avg(when(col("rank") >= 2, col("cosine"))).as("mean_rest"))
      .select(col("src").as(idCol), col("n_neighbors"), col("cos_top1"),
        col("mean_rest"),
        (col("cos_top1") - col("mean_rest")).as("margin"))
  }

  /** Per-dimension feature STANDARDIZATION of an embedding column:
    * z = (v_d − mean_d) / std_d (sample std; a zero-variance dimension
    * maps to 0 rather than NaN) — the scaling step before any
    * distance-based downstream (k-means, LSH, kNN all assume comparable
    * dimension scales).
    *
    * Fully in-plan, no driver collect: dimension moments come from ONE
    * melt aggregate (posexplode →
    * hash agg on `dim` — map-side combined, the shuffle carries
    * dim × partitions rows, never corpus rows), packed into a 1-row
    * frame of (means[], stds[]) ordered by dimension and broadcast back
    * onto the corpus via crossJoin; the transform itself is a codegen'd
    * zip_with chain, zero additional shuffle. Appends `outCol`,
    * everything else unchanged. */
  def standardize(df: DataFrame, vecCol: String,
                  outCol: String = "standardized"): DataFrame = {
    val stats = df
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(avg(col("v")).as("mean_d"), stddev_samp(col("v")).as("std_d"))
    val packed = stats.agg(
      transform(array_sort(collect_list(struct(col("dim"), col("mean_d")))),
        s => s.getField("mean_d")).as("__means"),
      transform(array_sort(collect_list(struct(col("dim"), col("std_d")))),
        s => s.getField("std_d")).as("__stds"))
    df.crossJoin(broadcast(packed))
      .withColumn(outCol,
        zip_with(
          zip_with(col(vecCol).cast("array<double>"), col("__means"), (v, m) => v - m),
          col("__stds"),
          (c, s) => when(s.isNull || s === 0.0, lit(0.0)).otherwise(c / s)))
      .drop("__means", "__stds")
  }
  /** Per-group embedding outlier scores: distance of every vector to
    * its group centroid, z-scored within the group — the cheap "these
    * embeddings do not belong to their cluster/label" screen that runs
    * before any expensive relabeling. Returns every row (id, group,
    * dist, z, is_outlier) rather than only the flagged tail, so
    * thresholds can be tuned without recomputation (and an external
    * check never sits on the z = threshold knife edge).
    *
    * Scale shape: pass 1 is a map-side-combined [[graft.functions.VectorSum]]
    * per group (the k-row centroid exchange); pass 2 broadcasts the
    * centroid frame into the corpus scan and z-scores through ONE
    * group-keyed window (mean + stddev share the shuffle). */
  def centroidOutliers(df: DataFrame, idCol: String, groupCol: String,
                       vecCol: String, dim: Int,
                       zThreshold: Double = 2.0): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(zThreshold > 0, s"zThreshold must be > 0, got $zThreshold")
    val vsum = udaf(new graft.functions.VectorSum(dim), VectorSumEncoders.seqDouble)
    val v = transform(col(vecCol), x => x.cast("double"))
    val base = df
      .filter(col(idCol).isNotNull && col(groupCol).isNotNull &&
        col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(idCol).as("__id"), col(groupCol).as("__g"), v.as("__v"))
    val centroids = base.groupBy(col("__g"))
      .agg(vsum(col("__v")).as("__s"), count(lit(1)).as("__n"))
      .select(col("__g"),
        transform(col("__s"), x => x / col("__n")).as("__c"))
    val byG = Window.partitionBy(col("__g"))
    base.join(broadcast(centroids), Seq("__g"))
      .withColumn("dist", sqrt(aggregate(
        zip_with(col("__v"), col("__c"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)))
      .withColumn("__mu", avg(col("dist")).over(byG))
      .withColumn("__sd", stddev_samp(col("dist")).over(byG))
      .select(col("__id").as(idCol), col("__g").as(groupCol), col("dist"),
        when(col("__sd") > 0, (col("dist") - col("__mu")) / col("__sd")).as("z"))
      .withColumn("is_outlier", col("z") > zThreshold)
  }
}
