package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Distribution-drift measures between a REFERENCE corpus (what the
  * model was trained/validated on) and a CURRENT corpus (what the
  * pipeline is about to feed it) — the monitoring step that decides
  * whether a retrain/requalification gate fires.
  *
  * Two complementary measures:
  *  - [[psiDrift]]: Population Stability Index over caller-fixed bins —
  *    the standard scorecard-monitoring statistic
  *    (Σ (p_cur − p_ref)·ln(p_cur/p_ref)); bins make it cheap (two
  *    map-side-combined bin-count scans, everything after is
  *    bins-sized) and the fixed edges make runs comparable over time.
  *  - [[ksStatistic]]: the exact two-sample Kolmogorov–Smirnov
  *    statistic sup|F_ref − F_cur| — bin-free, sensitive anywhere on
  *    the axis, for when the PSI's binning is the thing in question.
  *
  * Both use exact long counts so an external engine re-derives every
  * fraction (and the KS tie-break) bit-for-bit.
  */
object Drift {

  /** PSI over the bins cut by `edges` (k edges → k+1 bins; bin i holds
    * `edges(i-1) <= v < edges(i)`, bin 0 is (−∞, edges(0)), bin k is
    * [edges(k−1), ∞)). Nulls are excluded — null-rate drift is
    * [[Quality.checkSuite]]'s business. Empty-bin zeros are smoothed
    * with add-`alpha` (p = (n + α)/(N + α·(k+1))) so the log ratio is
    * always finite and BOTH sides use the identical smoothing.
    *
    * Output: one row per bin — (bin, lo, hi, n_ref, n_cur, psi_term)
    * plus the constant `psi` total column — ordered by bin. Scale
    * shape: one map-side-combined bin-count aggregate per side (the
    * shuffle carries ≤ k+1 rows per mapper), a full outer join of two
    * (k+1)-row frames, then a driver-side fold over those k+1 AGGREGATE
    * rows (never raw data) — nothing proportional to corpus size. */
  /** Shared binning for the binned divergence measures: edge-count bin
    * assignment, per-side counts, and densification so every bin
    * appears even when both sides are empty there. */
  private def binnedDense(ref: DataFrame, cur: DataFrame, valueCol: String,
                          edges: Seq[Double], opName: String): DataFrame = {
    require(edges.nonEmpty, s"$opName needs at least one bin edge")
    require(edges == edges.sorted && edges.distinct.size == edges.size,
      s"edges must be strictly increasing, got $edges")
    val nBins = edges.size + 1
    // bin index = how many edges are <= v: branch-free, same arithmetic
    // an external engine writes as a sum of CASEs
    def binOf(v: Column): Column =
      edges.map(e => when(v >= lit(e), 1L).otherwise(0L)).reduce(_ + _)
    def counts(df: DataFrame, name: String): DataFrame =
      df.select(col(valueCol).cast(DoubleType).as("__v"))
        .filter(col("__v").isNotNull)
        .groupBy(binOf(col("__v")).as("bin"))
        .agg(count(lit(1)).as(name))
    val joined = counts(ref, "n_ref")
      .join(counts(cur, "n_cur"), Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val allBins = joined.sparkSession.range(nBins).select(col("id").as("bin"))
    allBins.join(joined, Seq("bin"), "left_outer")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
  }

  def psiDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
               edges: Seq[Double], alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0, s"alpha must be > 0 (finite log ratios), got $alpha")
    val nBins = edges.size + 1
    val dense = binnedDense(ref, cur, valueCol, edges, "psiDrift")
    // Report-sized literal attach (the brierDecomposition/D1
    // aggregates-only contract): the bin frame is exactly k+1 AGGREGATE
    // rows, so the totals and the psi sum fold driver-side off one
    // collect. The previous Window.partitionBy(lit(1)) was both a
    // single-task plan at any scale and the replanning hazard v13
    // measured (per-row re-planning silently zeroing terms); nothing
    // collected here is proportional to corpus size.
    val lo = Double.NegativeInfinity +: edges
    val hi = edges :+ Double.PositiveInfinity
    val rows = dense.orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val totRef = rows.iterator.map(_._2).sum
    val totCur = rows.iterator.map(_._3).sum
    val out = rows.map { case (b, nr, nc) =>
      val pRef = (nr + alpha) / (totRef + alpha * nBins)
      val pCur = (nc + alpha) / (totCur + alpha * nBins)
      (b, lo(b.toInt), hi(b.toInt), nr, nc,
        (pCur - pRef) * math.log(pCur / pRef))
    }
    val psi = out.iterator.map(_._6).sum
    val spark = ref.sparkSession
    import spark.implicits._
    out.toSeq.toDF("bin", "lo", "hi", "n_ref", "n_cur", "psi_term")
      .withColumn("psi", lit(psi))
  }

  /** Jensen-Shannon divergence over the same binned, add-alpha-smoothed
    * distributions as [[psiDrift]] — the SYMMETRIC, bounded companion
    * (0 ≤ JSD ≤ ln 2 in nats): PSI explodes when a bin empties on one
    * side, JSD saturates, which is what an alerting threshold wants.
    * jsd_term = 0.5·p·ln(p/m) + 0.5·q·ln(q/m) with m = (p + q)/2,
    * operation order preserved for external replay. Same scale shape as
    * PSI: two count aggregates, a ≤ nBins-row frame, driver-side fold
    * over aggregate rows only. */
  def jsdDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
               edges: Seq[Double], alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0, s"alpha must be > 0 (finite log ratios), got $alpha")
    val nBins = edges.size + 1
    val dense = binnedDense(ref, cur, valueCol, edges, "jsdDrift")
    // same driver-side fold over the k+1-row aggregate frame as
    // [[psiDrift]] — no unpartitioned window
    val rows = dense.orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val totRef = rows.iterator.map(_._2).sum
    val totCur = rows.iterator.map(_._3).sum
    val out = rows.map { case (b, nr, nc) =>
      val pRef = (nr + alpha) / (totRef + alpha * nBins)
      val pCur = (nc + alpha) / (totCur + alpha * nBins)
      val pM = (pRef + pCur) / 2.0
      (b, nr, nc,
        0.5 * pRef * math.log(pRef / pM) + 0.5 * pCur * math.log(pCur / pM))
    }
    val jsd = out.iterator.map(_._4).sum
    val spark = ref.sparkSession
    import spark.implicits._
    out.toSeq.toDF("bin", "n_ref", "n_cur", "jsd_term")
      .withColumn("jsd", lit(jsd))
  }

  /** PSI read directly off two [[Histograms]] long-format states
    * (keys ++ bin, cnt) — the INCREMENTAL drift gate: maintain a
    * histogram state per corpus snapshot (constant-time refresh via
    * `Histograms.mergeState`) and
    * read the drift between any two states without ever rescanning a
    * corpus. Same add-`alpha` smoothing as [[psiDrift]]; bins densify
    * over 0..nBins−1 per key so empty bins smooth identically on both
    * sides. Returns one row per key: keys ++ (n_ref, n_cur, psi).
    *
    * Scale shape: every frame here is STATE-sized (|keys|·nBins rows) —
    * the distinct-keys × bin-range grid, the two outer joins, the
    * per-key totals join and the final per-key sum are all orders of
    * magnitude below corpus size by construction. */
  def psiFromHistograms(refState: DataFrame, curState: DataFrame,
                        keys: Seq[String], nBins: Int,
                        alpha: Double = 0.5): DataFrame = {
    require(keys.nonEmpty, "psiFromHistograms needs at least one key column")
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    require(alpha > 0.0, s"alpha must be > 0 (finite log ratios), got $alpha")
    val keyCols = keys.map(col)
    // every key join here is NULL-SAFE: a null key is a legitimate
    // monitored group (a null language, an unattributed source) and an
    // equi-join would silently drop its state rows
    def nsJoin(left: DataFrame, right: DataFrame, rightKeys: Seq[String],
               how: String): DataFrame = {
      val cond = keys.zip(rightKeys).map { case (k, rk) => left(k) <=> right(rk) }
        .reduce(_ && _) && left("bin") === right("__rbin")
      (rightKeys :+ "__rbin").foldLeft(left.join(right, cond, how)) {
        (d, c) => d.drop(right(c))
      }
    }
    def one(st: DataFrame, name: String): DataFrame =
      st.groupBy(keyCols :+ col("bin"): _*).agg(sum("cnt").as(name))
        .select(keys.map(k => col(k).as(s"__rk_$k")) ++
          Seq(col("bin").as("__rbin"), col(name)): _*)
    val allKeys = refState.select(keyCols: _*)
      .unionByName(curState.select(keyCols: _*)).distinct()
    val grid = allKeys.crossJoin(
      refState.sparkSession.range(nBins).select(col("id").cast("int").as("bin")))
    val rkNames = keys.map(k => s"__rk_$k")
    val dense = nsJoin(nsJoin(grid, one(refState, "n_ref"), rkNames, "left_outer"),
        one(curState, "n_cur"), rkNames, "left_outer")
      .select(keyCols ++ Seq(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur")): _*)
    val totals = dense.groupBy(keyCols: _*)
      .agg(sum("n_ref").as("__tr"), sum("n_cur").as("__tc"))
      .select(keys.map(k => col(k).as(s"__tk_$k")) ++
        Seq(col("__tr"), col("__tc")): _*)
    val pRef = (col("n_ref") + lit(alpha)) / (col("__tr") + lit(alpha * nBins))
    val pCur = (col("n_cur") + lit(alpha)) / (col("__tc") + lit(alpha * nBins))
    val totCond = keys.map(k => col(k) <=> col(s"__tk_$k")).reduce(_ && _)
    dense.join(totals, totCond)
      .withColumn("__term", (pCur - pRef) * log(pCur / pRef))
      .groupBy(keyCols: _*)
      .agg(max(col("__tr")).as("n_ref"), max(col("__tc")).as("n_cur"),
        sum(col("__term")).as("psi"))
  }

  /** Exact 1-D Wasserstein-1 distance (earth-mover's) between the two
    * samples' empirical distributions: W₁ = ∫|F_ref(v) − F_cur(v)| dv —
    * the drift measure that weights HOW FAR mass moved, where KS only
    * sees the single worst gap and PSI only sees its own bins. Over the
    * pooled distinct values v₁<…<v_m this is
    * Σᵢ |F_ref(vᵢ) − F_cur(vᵢ)| · (vᵢ₊₁ − vᵢ).
    *
    * Scale shape: the [[ksStatistic]] construction exactly — one
    * map-side-combined (value, n_ref, n_cur) census, range-partitioned
    * cumulative counts plus [[OrderStatistics.prefixOffsets]]. With
    * D(v) = F_ref(v)·n_ref·n_cur − F_cur(v)·n_ref·n_cur (D = 0 below the
    * first value and at the last), summation by parts turns
    * Σ |D(vᵢ)|·(vᵢ₊₁ − vᵢ) into Σ vᵢ·(|D(vᵢ₋₁)| − |D(vᵢ)|), and
    * D(vᵢ₋₁) is D(vᵢ) minus row i's own counts — every term is
    * row-local, so no successor value is ever needed across a partition
    * edge. Every term folds as DECIMAL(38,6) off exact long counts and
    * 6-dp-quantized values, so the sum is exact and order-independent
    * and an external engine replays it bit-for-bit; the single double
    * division by n_ref·n_cur happens once on the final row.
    * Returns one row: (w1, n_ref, n_cur). */
  def wasserstein1(ref: DataFrame, cur: DataFrame, valueCol: String): DataFrame = {
    val spark = ref.sparkSession
    def side(df: DataFrame, r: Long, c: Long): DataFrame =
      df.select(col(valueCol).cast("decimal(18,6)").as("v"))
        .filter(col("v").isNotNull)
        .select(col("v"), lit(r).as("r"), lit(c).as("c"))
    val counts = side(ref, 1L, 0L).unionByName(side(cur, 0L, 1L))
      .groupBy("v").agg(sum("r").as("n_ref"), sum("c").as("n_cur"))
    OrderStatistics.prefixOffsets(counts, Seq(col("v")),
        Seq(col("n_ref"), col("n_cur"))) { (parts, off) =>
      val (nRef, nCur) = (off.grand(0), off.grand(1))
      require(nRef > 0 && nCur > 0,
        s"wasserstein1 needs non-null values on both sides (ref=$nRef, cur=$nCur)")
      val w = OrderStatistics.cumulative(col("v"))
      // D at a cumulative (ref, cur) count pair — decimal cross-products:
      // long·long would overflow past ~3e9 rows per side, and the decimal
      // fold keeps the sum exact
      def d(cr: Column, cc: Column): Column =
        cr.cast("decimal(19,0)") * lit(nCur) - cc.cast("decimal(19,0)") * lit(nRef)
      val total = parts
        .withColumn("cr", sum("n_ref").over(w) + off.startCol(0))
        .withColumn("cc", sum("n_cur").over(w) + off.startCol(1))
        .withColumn("__term", col("v") *
          (abs(d(col("cr") - col("n_ref"), col("cc") - col("n_cur"))) -
            abs(d(col("cr"), col("cc")))))
        .agg(sum("__term").as("__mass"))
        .select((col("__mass").cast("double") /
          lit(nRef.toDouble * nCur.toDouble)).as("w1"))
        .head()
      import spark.implicits._
      Seq((total.getDouble(0), nRef, nCur)).toDF("w1", "n_ref", "n_cur")
    }
  }

  /** Categorical drift: the chi-square homogeneity test of the 2×g
    * (side × category) table plus its Cramér's V effect size — PSI's
    * sibling for label/enum columns where "bins" are the categories
    * themselves. With row totals N_ref/N_cur and category totals t_j,
    * e_side,j = N_side·t_j/N and χ² = Σ (o−e)²/e over all 2g cells;
    * dof = g−1; V = √(χ²/N) (min(r−1, c−1) = 1 for a 2-row table).
    * The statistic and dof are exact census facts; the p-value lives
    * with the scipy-constant discipline in the stats specs, not here.
    *
    * Scale shape: one map-side-combinable category census per side,
    * a full outer join of two ≤g-row frames (so a category absent on
    * one side still contributes its expected-count mass), and tiny
    * aggregates over that census — nothing proportional to corpus
    * size. Returns one row:
    * (n_ref, n_cur, n_categories, chi2, dof, cramers_v). */
  def categoricalDrift(ref: DataFrame, cur: DataFrame,
                       catCol: String): DataFrame = {
    def side(df: DataFrame, name: String): DataFrame =
      df.filter(col(catCol).isNotNull)
        .groupBy(col(catCol).cast("string").as("cat"))
        .agg(count(lit(1)).as(name))
    val census = side(ref, "n_ref").join(side(cur, "n_cur"), Seq("cat"), "full_outer")
      .select(col("cat"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    // row totals via a broadcast 1-row aggregate of the same census
    // (exchange reuse plans the census once), not an unpartitioned
    // window — the v13-measured constant-key-window hazard class
    val withTot = census
      .crossJoin(broadcast(census.agg(
        sum("n_ref").as("__NR"), sum("n_cur").as("__NC"))))
    val nAll = (col("__NR") + col("__NC")).cast("double")
    val tj = (col("n_ref") + col("n_cur")).cast("double")
    def cellTerm(o: Column, rowTot: Column): Column = {
      val e = rowTot.cast("double") * tj / nAll
      when(e > 0, (o.cast("double") - e) * (o.cast("double") - e) / e)
        .otherwise(lit(0.0))
    }
    withTot
      .agg(
        min(col("__NR")).as("n_ref"),
        min(col("__NC")).as("n_cur"),
        count(lit(1)).as("n_categories"),
        sum(cellTerm(col("n_ref"), col("__NR")) +
          cellTerm(col("n_cur"), col("__NC"))).as("chi2"))
      .select(col("n_ref"), col("n_cur"), col("n_categories"),
        when(col("n_categories") > 1, col("chi2")).as("chi2"),
        (col("n_categories") - 1).cast("long").as("dof"),
        when(col("n_categories") > 1,
          sqrt(col("chi2") / (col("n_ref") + col("n_cur")).cast("double")))
          .as("cramers_v"))
  }

  /** Embedding-space drift between two vector corpora — the q3/q13
    * scalar machinery says nothing about a 64-dim embedding column;
    * this is the retrain-gate check for it: cosine between the two
    * MEAN vectors (has the centroid direction moved?), both centroid
    * norms (has magnitude collapsed — the degenerate-encoder smell),
    * and each side's total per-dimension variance (has the cloud
    * tightened or exploded?). Population variance (the /n form), so
    * every number derives from the census alone.
    *
    * Scale shape: both corpora fold to ONE (side, dim) moment census —
    * posexplode into a map-side-combined hash aggregate of 2·dims
    * cells, the [[graft.ops.Pca]] moment discipline without the d²
    * Gram — and the ≤2·dims census rows are collected (aggregates-only
    * contract) with the seven metrics literal-lifted. Returns one row
    * (n_ref, n_cur, mean_cosine, norm_ref, norm_cur, var_trace_ref,
    * var_trace_cur); cosine NULL when either centroid is the zero
    * vector. */
  def embeddingDrift(ref: DataFrame, cur: DataFrame, vecCol: String,
                     dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    def side(df: DataFrame, r: Long) = df
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(lit(r).as("__r"), posexplode(col(vecCol)).as(Seq("__d", "__x0")))
      .select(col("__r"), col("__d"),
        col("__x0").cast(DoubleType).as("__x"))
    val census = side(ref, 1L).unionByName(side(cur, 0L))
      .groupBy("__r", "__d")
      .agg(count(lit(1)).as("n"), sum("__x").as("sx"),
        sum(col("__x") * col("__x")).as("sxx"))
      .collect()
      .map(row => (row.getLong(0), row.getInt(1),
        (row.getLong(2), row.getDouble(3), row.getDouble(4))))
    def metrics(r: Long) = {
      val cells = census.filter(_._1 == r).sortBy(_._2).map(_._3)
      val n = if (cells.isEmpty) 0L else cells.head._1
      val mu = cells.map(c => c._2 / c._1)
      val vt = cells.map(c => c._3 / c._1).zip(mu).map { case (m2, m) => m2 - m * m }.sum
      (n, mu, vt)
    }
    val (nRef, muR, vtR) = metrics(1L)
    val (nCur, muC, vtC) = metrics(0L)
    require(nRef > 0 && nCur > 0,
      s"embeddingDrift needs $dims-dim vectors on both sides (ref=$nRef, cur=$nCur)")
    val dot = muR.zip(muC).map { case (a, b) => a * b }.sum
    val normR = math.sqrt(muR.map(a => a * a).sum)
    val normC = math.sqrt(muC.map(a => a * a).sum)
    val cosine = if (normR > 0 && normC > 0) Some(dot / (normR * normC)) else None
    val spark = ref.sparkSession
    import spark.implicits._
    Seq((nRef, nCur, cosine, normR, normC, vtR, vtC))
      .toDF("n_ref", "n_cur", "mean_cosine", "norm_ref", "norm_cur",
        "var_trace_ref", "var_trace_cur")
  }

  /** Exact two-sample KS statistic: `sup_v |F_ref(v) − F_cur(v)|`,
    * evaluated at every distinct value of either sample (where the sup
    * of two step functions lives). Returns ONE row:
    * (ks, at_value, n_ref, n_cur) — `at_value` the SMALLEST value
    * attaining the sup, so ties have a total order.
    *
    * Scale shape: the corpus reduces to a per-distinct-value count
    * pair (one map-side-combined aggregate over the tagged union —
    * the shuffle carries distinct values, not rows); the cumulative
    * sums that form both CDFs run INSIDE range partitions, plus the
    * [[OrderStatistics.prefixOffsets]] of ≤ #partitions rows, so no
    * single-partition global window ever materializes. The final sup
    * is a top-1 TakeOrderedAndProject. */
  def ksStatistic(ref: DataFrame, cur: DataFrame, valueCol: String): DataFrame = {
    val spark = ref.sparkSession
    def side(df: DataFrame, r: Long, c: Long): DataFrame =
      df.select(col(valueCol).cast(DoubleType).as("v"))
        .filter(col("v").isNotNull)
        .select(col("v"), lit(r).as("r"), lit(c).as("c"))
    val counts = side(ref, 1L, 0L).unionByName(side(cur, 0L, 1L))
      .groupBy("v").agg(sum("r").as("n_ref"), sum("c").as("n_cur"))
    OrderStatistics.prefixOffsets(counts, Seq(col("v")),
        Seq(col("n_ref"), col("n_cur"))) { (parts, off) =>
      val (nRef, nCur) = (off.grand(0), off.grand(1))
      require(nRef > 0 && nCur > 0,
        s"ksStatistic needs non-null values on both sides (ref=$nRef, cur=$nCur)")
      val w = OrderStatistics.cumulative(col("v"))
      // the sup is ONE row — materialize it inside the cache scope so
      // the persist is released here, not by the caller
      val top = parts
        .withColumn("cr", sum("n_ref").over(w) + off.startCol(0))
        .withColumn("cc", sum("n_cur").over(w) + off.startCol(1))
        .withColumn("diff",
          abs(col("cr").cast(DoubleType) / lit(nRef.toDouble) -
            col("cc").cast(DoubleType) / lit(nCur.toDouble)))
        .orderBy(col("diff").desc, col("v").asc)
        .limit(1)
        .select(col("diff"), col("v"))
        .head()
      import spark.implicits._
      Seq((top.getDouble(0), top.getDouble(1), nRef, nCur))
        .toDF("ks", "at_value", "n_ref", "n_cur")
    }
  }
}
