package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Principal component analysis over an embedding column — the
  * dimensionality-reduction step in front of ANN indexing ([[Pq]]'s
  * natural companion: PQ quantizes, PCA first rotates the mass into
  * the leading coordinates so the quantizer's budget is spent where
  * the variance is) and the whitening/variance-profiling screen for
  * embedding-quality monitoring (a collapsed encoder shows up as a
  * cliff in the eigen spectrum long before downstream metrics move).
  *
  * Split the same way [[Clustering.fit]] is: the corpus-sized work is
  * ONE moment-census scan (n, Σx — `dim` doubles — and the
  * upper-triangle Gram Σx·xᵀ — dim·(dim+1)/2 doubles, accumulated in a
  * primitive per-partition kernel; each partition ships one ~17 KB
  * triple to the driver), and the eigen-decomposition runs on the
  * driver over the dim×dim covariance — O(dim³) on a census, never on
  * rows. The
  * reference scale contract: dim ≤ 512 keeps the Gram vector ≤ 131k
  * doubles per partition combine, far under any executor budget; the
  * 100 TB cost is exactly one corpus scan.
  *
  * Determinism, documented not hidden: the Gram sums merge in
  * partition order, so low bits wobble at ~1e-15 like every
  * floating-point aggregate here ([[Clustering.fit]]'s caveat); the
  * Jacobi solver itself is deterministic given the matrix, and each
  * eigenvector's sign is pinned (largest-|coordinate| entry positive,
  * earliest index on ties) so two fits of the same data agree.
  */
object Pca {

  /** Fitted model: sample-covariance eigenstructure, eigenvalues
    * descending, components row-major (components(c) is the c-th unit
    * eigenvector of length dim). */
  final case class PcaModel(n: Long, mean: Seq[Double],
                            eigenvalues: Seq[Double],
                            components: Seq[Seq[Double]],
                            totalVariance: Double)

  /** One-pass moment census: (n, Σx, upper-triangle Σ x_i·x_j).
    *
    * This is a genuine per-partition imperative kernel (the documented
    * mapPartitions last resort, taken on measurement): the declarative
    * form — an in-array Gram via nested `transform`/`slice` feeding a
    * [[VectorSum]] UDAF — runs INTERPRETED (higher-order functions
    * don't codegen) and boxes every one of the d(d+1)/2 products per
    * row, measured at ~11 s for 5000×64 vectors at sf0.1; this
    * primitive-array kernel does the identical arithmetic in one tight
    * loop. Each partition emits ONE (n, Σx, Gram) triple; the driver
    * folds ≤ #partitions of them (≤ 32 × ~17 KB — the ksStatistic
    * offsets license). Exactly one corpus scan either way. */
  private def momentSums(df: DataFrame, vecCol: String,
                         dim: Int): (Long, Array[Double], Array[Double]) = {
    val nUpper = dim * (dim + 1) / 2
    val spark = df.sparkSession
    import spark.implicits._
    val vd = col(vecCol).cast("array<double>")
    val partials = df
      .filter(vd.isNotNull && size(vd) === dim)
      .select(vd)
      .as[Array[Double]]
      .mapPartitions { it =>
        val s = new Array[Double](dim)
        val g = new Array[Double](nUpper)
        var n = 0L
        while (it.hasNext) {
          val v = it.next()
          var i = 0
          var k = 0
          while (i < dim) {
            val xi = v(i)
            s(i) += xi
            var j = i
            while (j < dim) { g(k) += xi * v(j); k += 1; j += 1 }
            i += 1
          }
          n += 1
        }
        if (n == 0L) Iterator.empty else Iterator.single((n, s, g))
      }
      .collect()
    val s = new Array[Double](dim)
    val g = new Array[Double](nUpper)
    var n = 0L
    partials.foreach { case (pn, ps, pg) =>
      n += pn
      var i = 0
      while (i < dim) { s(i) += ps(i); i += 1 }
      var k = 0
      while (k < nUpper) { g(k) += pg(k); k += 1 }
    }
    (n, s, g)
  }

  private def upperIndex(i: Int, j: Int, dim: Int): Int =
    i * dim - i * (i - 1) / 2 + (j - i)

  /** Sample covariance matrix from the moment census. */
  private def covarianceOf(n: Long, s: Array[Double], g: Array[Double],
                           dim: Int): Array[Array[Double]] = {
    require(n >= 2, s"covariance needs n >= 2 rows of dim $dim, got $n")
    val nd = n.toDouble
    val c = Array.ofDim[Double](dim, dim)
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val v = (g(upperIndex(i, j, dim)) - s(i) * s(j) / nd) / (nd - 1.0)
        c(i)(j) = v; c(j)(i) = v
        j += 1
      }
      i += 1
    }
    c
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix — deterministic,
    * O(dim³) per sweep, converges quadratically; plenty for the
    * census-sized matrices this module is contracted to (dim ≤ 512).
    * Returns (eigenvalues, eigenvectors as COLUMNS index-aligned),
    * unsorted. */
  private[ops] def jacobiEigen(m: Array[Array[Double]], maxSweeps: Int = 30,
                               tol: Double = 1e-14): (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm: Double = {
      var s = 0.0; var i = 0
      while (i < n) { var j = i + 1; while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      math.sqrt(s)
    }
    val scale = {
      var s = 0.0; var i = 0
      while (i < n) { s = math.max(s, math.abs(a(i)(i))); i += 1 }
      math.max(s, 1e-300)
    }
    var sweep = 0
    while (sweep < maxSweeps && offNorm > tol * scale) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else -1.0 / (-theta + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < n) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Fit PCA on `vecCol` (fixed `dim`; rows with a null vector or the
    * wrong length are excluded). One corpus scan; everything after is
    * driver arithmetic on the dim×dim census. */
  def fit(df: DataFrame, vecCol: String, dim: Int, k: Int): PcaModel = {
    require(dim >= 1 && dim <= 512, s"dim must be in [1, 512], got $dim")
    require(k >= 1 && k <= dim, s"k must be in [1, dim], got $k")
    val (n, s, g) = momentSums(df, vecCol, dim)
    val cov = covarianceOf(n, s, g, dim)
    val (vals, vecs) = jacobiEigen(cov)
    val order = vals.indices.sortBy(i => -vals(i)).take(k)
    val mean = s.map(_ / n.toDouble)
    val comps = order.map { c =>
      val col0 = Array.tabulate(dim)(r => vecs(r)(c))
      // sign pin: the largest-|coordinate| entry is positive (earliest
      // index on exact ties), so repeated fits agree
      var best = 0
      var i = 1
      while (i < dim) {
        if (math.abs(col0(i)) > math.abs(col0(best))) best = i
        i += 1
      }
      val flip = if (col0(best) < 0) -1.0 else 1.0
      col0.map(_ * flip).toSeq
    }
    // the FULL spectrum's sum is the covariance trace: the variance-ratio
    // denominator comes free with the fit, no second scan
    PcaModel(n, mean.toSeq, order.map(vals).toSeq, comps.toSeq, vals.sum)
  }

  /** Project each row onto the model's top `k` components:
    * score_c = W_c · (x − mean), computed as the literal-vector dot
    * product minus a literal centering constant — a pure row-local
    * projection (zero shuffle), the [[TextAnalysis]] compiled-
    * expression discipline. Adds `score_0..score_{k-1}`. */
  def project(df: DataFrame, vecCol: String, model: PcaModel,
              k: Int): DataFrame = {
    require(k >= 1 && k <= model.components.size,
      s"k must be in [1, ${model.components.size}], got $k")
    val dim = model.mean.size
    val vd = col(vecCol).cast("array<double>")
    val scored = (0 until k).foldLeft(
      df.filter(vd.isNotNull && size(vd) === dim)) { (acc, c) =>
      val w = model.components(c)
      val center = w.zip(model.mean).map { case (wi, mi) => wi * mi }.sum
      val dot = aggregate(
        zip_with(vd, lit(w.toArray), (x, ww) => x * ww),
        lit(0.0), (s, x) => s + x)
      acc.withColumn(s"score_$c", dot - lit(center))
    }
    scored
  }

  /** The distributed half of [[fit]] as an oracle-checkable census
    * frame: the upper-triangle SAMPLE covariance, one row per (i, j)
    * with i <= j (0-based). The eigen step is driver arithmetic pinned
    * by PcaSpec; THIS is the part whose correctness depends on the
    * cluster-side pass. */
  def covFrame(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 512, s"dim must be in [1, 512], got $dim")
    val spark = df.sparkSession
    import spark.implicits._
    val (n, s, g) = momentSums(df, vecCol, dim)
    val nd = n.toDouble
    require(n >= 2, s"covFrame needs n >= 2, got $n")
    (for (i <- 0 until dim; j <- i until dim) yield
      (i.toLong, j.toLong, n,
        (g(upperIndex(i, j, dim)) - s(i) * s(j) / nd) / (nd - 1.0)))
      .toDF("i", "j", "n", "cov")
  }
}
