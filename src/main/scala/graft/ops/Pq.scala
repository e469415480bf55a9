package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) — the memory-compression half of
  * billion-scale ANN: a D-dim vector becomes m small-int codes (one per
  * D/m-wide subspace), shrinking a 64-dim float corpus ~32× while
  * keeping distances approximable from the codes alone. Composes with
  * the IVF coarse stage in [[Similarity]] the way IVF-PQ systems do:
  * IVF prunes WHICH rows to score, PQ makes each scoring O(m) lookups.
  *
  * Scale shape:
  *   - TRAINING is m simultaneous Lloyd loops sharing ONE corpus scan
  *     per round: assignment for every subspace happens inside a single
  *     [[graft.functions.PqEncode]] expression pass, and the per-
  *     (subspace, code) mean update is one map-side-combined aggregate
  *     of m·ksub cells — never a per-subspace job, never a collect of
  *     anything bigger than the m × ksub × dsub codebook.
  *   - ENCODE is a pure projection (one expression node); codes shuffle
  *     as m ints, the vectors never move again.
  *   - SEARCH precomputes the query's m × ksub distance table on the
  *     driver (codebook-sized) and scans CODES only — per row m array
  *     lookups and adds ([[graft.functions.PqAdcDistance]]), then a
  *     TakeOrdered top-k (per-partition heads merged, no global sort).
  *
  * Distances are squared L2 with sequential IEEE accumulation in every
  * kernel, so an external engine replaying the arithmetic per position
  * (the c7 oracle) derives identical doubles.
  */
object Pq {

  /** Deterministic farthest-point seeding under squared L2 (the metric
    * this quantizer trains): start from the first sample point, then
    * greedily add the point farthest from its nearest chosen seed
    * (ties to the lowest index). */
  private def farthestInitL2(pts: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    val n = pts.length
    val kk = math.min(k, n)
    val chosen = new Array[Array[Double]](kk)
    chosen(0) = pts(0)
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 0
    while (c + 1 < kk) {
      var best = -1
      var bestD = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        val last = chosen(c)
        var d = 0.0
        var j = 0
        val m = math.min(pts(i).length, last.length)
        while (j < m) { val t = pts(i)(j) - last(j); d += t * t; j += 1 }
        if (d < minD(i)) minD(i) = d
        if (minD(i) > bestD) { bestD = minD(i); best = i }
        i += 1
      }
      chosen(c + 1) = pts(best)
      c += 1
    }
    chosen
  }

  private def sliceOf(v: Array[Double], sub: Int, dsub: Int): Array[Double] =
    java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub)

  /** Train PQ codebooks: `m` subspaces × up to `ksub` centroids each
    * (fewer when the corpus has fewer distinct points than ksub).
    * Deterministic: hash-ordered init sample, farthest-point seeding,
    * and ties in assignment to the lowest code. The vector dimension
    * must divide evenly by `m`. Eager (returns the codebook), with the
    * [[Clustering.fit]] persist-and-release scan discipline. */
  def fit(corpus: DataFrame, idCol: String, vecCol: String, m: Int, ksub: Int,
          iters: Int = 8, sampleSize: Int = 2048,
          tol: Double = 1e-9): Seq[Seq[Seq[Double]]] = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(ksub >= 1, s"ksub must be >= 1, got $ksub")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val vecs = corpus
      .select(col(vecCol).cast("array<double>").as("__v"), col(idCol).as("__id"))
      .filter(col("__v").isNotNull)
    val cached = vecs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sample = cached.orderBy(xxhash64(col("__id")), col("__id"))
        .limit(math.max(sampleSize, ksub))
        .select(col("__v")).collect().map(_.getSeq[Double](0).toArray)
      require(sample.nonEmpty, "cannot fit PQ on an empty corpus")
      val dim = sample(0).length
      require(dim % m == 0, s"vector dim $dim not divisible by m=$m")
      val dsub = dim / m
      var cents: Seq[Seq[Seq[Double]]] = (0 until m).map { sub =>
        farthestInitL2(sample.map(sliceOf(_, sub, dsub)), ksub).map(_.toSeq).toSeq
      }
      val vsum = udaf(new graft.functions.VectorSum(dsub), VectorSumEncoders.seqDouble)
      var iter = 0
      var moved = Double.MaxValue
      while (iter < iters && moved > tol) {
        val agg = cached
          .select(col("__v"), posexplode(HashFunctions.pqEncode(col("__v"), cents)))
          .select(col("pos").as("__sub"), col("col").as("__code"),
            slice(col("__v"), col("pos") * dsub + 1, lit(dsub)).as("__sv"))
          .groupBy("__sub", "__code")
          .agg(vsum(col("__sv")).as("__s"), count(lit(1)).as("__n"))
          .collect()
        val next = cents.map(_.map(_.toArray).toArray).toArray
        agg.foreach { r =>
          val sub = r.getInt(0)
          val code = r.getInt(1)
          val s = r.getSeq[Double](2)
          val n = r.getLong(3)
          // an empty cell (no rows assigned) keeps its old centroid
          if (n > 0) next(sub)(code) = s.map(_ / n).toArray
        }
        moved = cents.zipWithIndex.map { case (subCents, sub) =>
          subCents.zipWithIndex.map { case (c, i) =>
            math.sqrt(c.zip(next(sub)(i)).map { case (x, y) => (x - y) * (x - y) }.sum)
          }.max
        }.max
        cents = next.map(_.map(_.toSeq).toSeq).toSeq
        iter += 1
      }
      cents
    } finally { cached.unpersist(blocking = false); () }
  }

  /** Encode every corpus vector to its m-code array — one projection
    * pass, the compressed representation downstream search scans. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol),
        HashFunctions.pqEncode(col(vecCol).cast("array<double>"), codebooks).as("codes"))

  /** The query's per-subspace squared-L2 distance table
    * (`table(sub)(cent)`), computed once on the driver — codebook-sized,
    * the only thing ADC search ships to executors besides the plan. */
  def distanceTable(query: Seq[Double], codebooks: Seq[Seq[Seq[Double]]]): Seq[Seq[Double]] = {
    val dsub = codebooks.head.head.length
    require(query.length == codebooks.length * dsub,
      s"query dim ${query.length} != ${codebooks.length} x $dsub")
    val q = query.toArray
    codebooks.zipWithIndex.map { case (subCents, sub) =>
      val off = sub * dsub
      subCents.map { cent =>
        var d = 0.0
        var j = 0
        while (j < dsub) { val t = q(off + j) - cent(j); d += t * t; j += 1 }
        d
      }
    }
  }

  /** Asymmetric-distance top-k over an encoded corpus: per row, m table
    * lookups; then TakeOrdered (adc ASC, id ASC — deterministic under
    * ties). Returns (idCol, adc). */
  def search(encoded: DataFrame, idCol: String, codesCol: String,
             query: Seq[Double], codebooks: Seq[Seq[Seq[Double]]], k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    encoded
      .withColumn("adc", HashFunctions.pqAdcDistance(col(codesCol),
        distanceTable(query, codebooks)))
      .orderBy(col("adc"), col(idCol))
      .limit(k)
      .select(col(idCol), col("adc"))
  }

  /** IVF-PQ encode: inverted-list assignment (nearest coarse centroid by
    * squared L2, ties to the lowest index — [[graft.functions.PqEncode]]
    * with ONE subspace spanning the full dimension) plus the PQ code
    * array, in one projection pass. This is the billion-scale ANN
    * layout: `list` partitions the corpus for probe pruning, `codes`
    * compresses it for in-list scoring; the vectors are never read
    * again after this pass. */
  def encodeIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                  coarse: Seq[Seq[Double]],
                  codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    require(coarse.nonEmpty, "coarse codebook must not be empty")
    val v = col(vecCol).cast("array<double>")
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol),
        element_at(HashFunctions.pqEncode(v, Seq(coarse)), 1).as("list"),
        HashFunctions.pqEncode(v, codebooks).as("codes"))
  }

  /** IVF-PQ search over an [[encodeIvfPq]] layout: the driver ranks the
    * nprobe nearest coarse lists for the query (ties to the lowest
    * index — a coarse-codebook-sized computation), the scan keeps ONLY
    * rows in those lists (at 100 TB this is the partition-pruning step:
    * `list` is the natural partition/bucket column, so unprobed lists
    * are never read), and ADC scores the survivors from the query's
    * distance table. Returns (idCol, list, adc), top-k by (adc, id). */
  def searchIvfPq(encoded: DataFrame, idCol: String, query: Seq[Double],
                  coarse: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
                  k: Int, nprobe: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1 && nprobe <= coarse.size,
      s"nprobe must be in [1, ${coarse.size}], got $nprobe")
    val coarseDists = distanceTable(query, Seq(coarse)).head
    val probed = coarseDists.zipWithIndex
      .sortBy { case (d, i) => (d, i) }.take(nprobe).map(_._2)
    encoded
      .filter(col("list").isin(probed: _*))
      .withColumn("adc", HashFunctions.pqAdcDistance(col("codes"),
        distanceTable(query, codebooks)))
      .orderBy(col("adc"), col(idCol))
      .limit(k)
      .select(col(idCol), col("list"), col("adc"))
  }

  /** The full production ANN stack: IVF-PQ shortlist, then EXACT
    * squared-L2 rerank of the shortlist's ORIGINAL vectors — the
    * standard recall-repair step (ADC error only reorders within the
    * shortlist; reranking makes the top-k exact over it). The rerank
    * reads vectors for the ≤ kShortlist ids via a broadcast semi-join
    * (one corpus scan, vector payloads for survivors only ride the
    * distance projection); the shortlist itself never touched a
    * vector. Returns (idCol, exact_dist), top-k by (exact_dist, id). */
  def searchIvfPqReranked(corpus: DataFrame, idCol: String, vecCol: String,
                          query: Seq[Double], coarse: Seq[Seq[Double]],
                          codebooks: Seq[Seq[Seq[Double]]],
                          k: Int, kShortlist: Int, nprobe: Int): DataFrame = {
    require(kShortlist >= k, s"kShortlist ($kShortlist) must be >= k ($k)")
    val enc = encodeIvfPq(corpus, idCol, vecCol, coarse, codebooks)
    val short = searchIvfPq(enc, idCol, query, coarse, codebooks, kShortlist, nprobe)
      .select(col(idCol))
    val qlit = lit(query.toArray)
    val exact = aggregate(
      transform(col("__v"), (x, i) => {
        val d = x - element_at(qlit, i + lit(1))
        d * d
      }),
      lit(0.0), (acc, v) => acc + v)
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .join(broadcast(short), Seq(idCol))
      .withColumn("exact_dist", exact)
      .orderBy(col("exact_dist"), col(idCol))
      .limit(k)
      .select(col(idCol), col("exact_dist"))
  }

  // ---- scalar quantization (SQ8) -------------------------------------

  /** Per-dimension quantization range for [[sqEncode]]. */
  final case class SqModel(lo: Seq[Double], hi: Seq[Double])

  /** Train SQ8: the per-dimension [min, max] census — PQ's cheap
    * sibling (4× compression at dim doubles → dim bytes, no codebook
    * training, no Lloyd rounds) and the first thing to try before
    * paying for PQ: at 100 TB the difference is one min/max scan vs
    * m×iters Lloyd scans. Unlike [[fit]] there is nothing iterative
    * here, so the trained ranges are externally re-derivable — the
    * s15 oracle recomputes model AND codes AND scores from scratch.
    *
    * Scale shape: one posexplode feeding a map-side-combined 64-key
    * aggregate (the shuffle carries dim rows per mapper), then a
    * dim-row collect — codebook-sized, the [[distanceTable]] license. */
  def sqTrain(corpus: DataFrame, vecCol: String, dim: Int): SqModel = {
    require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    val vd = col(vecCol).cast("array<double>")
    val perDim = corpus.filter(vd.isNotNull && size(vd) === dim)
      .select(posexplode(vd).as(Seq("__i", "__x")))
      .groupBy("__i").agg(min("__x").as("__lo"), max("__x").as("__hi"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(perDim.length == dim,
      s"sqTrain saw ${perDim.length} dimensions, expected $dim (empty corpus?)")
    SqModel(perDim.map(_._2).toSeq, perDim.map(_._3).toSeq)
  }

  /** SQ8 encode: code_i = max(0, min(255, ⌊(x_i − lo_i)·256/(hi_i − lo_i)⌋)),
    * 0 on a degenerate (constant) dimension. Floor-of-256 rather than
    * round-of-255 deliberately: floor has no half-point tie for two
    * engines to disagree on, so every code is an exact integer fact of
    * the data. Clamped BOTH sides: the train-once-encode-later flow
    * hands this model fresh vectors that can fall outside the trained
    * per-dimension range, and a negative code would make [[sqSearch]]'s
    * mid-rise reconstruction extrapolate instead of saturating at the
    * range edge. One zero-shuffle projection pass against literal range
    * arrays (the clampToBounds literal-attach gate). */
  def sqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               model: SqModel): DataFrame = {
    val dim = model.lo.size
    val loLit = lit(model.lo.toArray)
    val spanLit = lit(model.lo.indices.map(i => model.hi(i) - model.lo(i)).toArray)
    val vd = col(vecCol).cast("array<double>")
    corpus
      .filter(vd.isNotNull && size(vd) === dim)
      .select(col(idCol),
        transform(vd, (x, i) => {
          val lo = element_at(loLit, i + 1)
          val span = element_at(spanLit, i + 1)
          when(span > 0,
            greatest(lit(0.0),
              least(lit(255.0), floor((x - lo) * lit(256.0) / span))))
            .otherwise(lit(0.0)).cast("int")
        }).as("codes"))
  }

  /** SQ8 asymmetric search: score every encoded row against one query
    * by the mid-rise reconstruction dot product
    * Σ q_i·(lo_i + (code_i + 0.5)·span_i/256), then TakeOrdered
    * (score DESC, id ASC — deterministic under ties). The per-row work
    * is a dim-length compiled array fold against literal arrays; the
    * top-k never sorts the corpus. Returns (idCol, score). */
  def sqSearch(encoded: DataFrame, idCol: String, codesCol: String,
               query: Seq[Double], model: SqModel, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dim = model.lo.size
    require(query.size == dim, s"query dim ${query.size} != $dim")
    val loLit = lit(model.lo.toArray)
    val spanLit = lit(model.lo.indices.map(i => model.hi(i) - model.lo(i)).toArray)
    val qLit = lit(query.toArray)
    val xhat = transform(col(codesCol), (c, i) =>
      element_at(qLit, i + 1) *
        (element_at(loLit, i + 1) + (c.cast("double") + lit(0.5)) *
          element_at(spanLit, i + 1) / lit(256.0)))
    encoded
      .withColumn("score", aggregate(xhat, lit(0.0), (s, x) => s + x))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }
}
