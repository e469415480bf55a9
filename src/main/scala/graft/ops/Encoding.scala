package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Categorical-feature encodings against a target — the tabular
  * feature-prep steps every training pipeline runs between profiling
  * ([[Quality]]) and model fitting: replace a high-cardinality category
  * with a target-derived statistic instead of a one-hot blowup.
  *
  * Scale shape: both encoders are ONE map-side-combinable aggregate
  * over the corpus (per-category sums) plus a 1-row broadcast of the
  * global totals — the clampToBounds literal-attach class; no window,
  * no collect of row data, nothing keyed wider than the category.
  * Exact DECIMAL/long accumulation keeps the arithmetic replayable by
  * an external engine (the a27/a28 oracles re-derive every encoded
  * value).
  */
object Encoding {

  /** Smoothed mean-target encoding (the standard leave-nothing-out
    * variant): category c maps to
    * (sum_c + k·globalMean) / (n_c + k) — shrinkage toward the global
    * mean with pseudo-count weight `k`, so rare categories don't
    * memorize their few targets (k = 0 is the raw per-category mean).
    * Target sums accumulate as DECIMAL(18,6) so partition order cannot
    * drift the result. Returns one row per category:
    * (category, n, mean_raw, mean_encoded). */
  def targetEncode(df: DataFrame, catCol: String, targetCol: String,
                   k: Double = 10.0): DataFrame = {
    require(k >= 0, s"smoothing k must be >= 0, got $k")
    val t = col(targetCol).cast("decimal(18,6)")
    val perCat = df
      .filter(col(catCol).isNotNull && col(targetCol).isNotNull)
      .groupBy(col(catCol).cast("string").as("category"))
      .agg(count(lit(1)).as("n"), sum(t).as("__sum"))
    val totals = perCat.agg(sum("n").as("__tn"), sum("__sum").as("__ts"))
    val globalMean = col("__ts").cast("double") / col("__tn")
    perCat.crossJoin(broadcast(totals))
      .select(col("category"), col("n"),
        (col("__sum").cast("double") / col("n")).as("mean_raw"),
        ((col("__sum").cast("double") + lit(k) * globalMean) /
          (col("n").cast("double") + lit(k))).as("mean_encoded"))
  }

  /** Weight-of-evidence encoding + information value for a BINARY
    * target (the credit-scoring standard, equally the "which metadata
    * slice predicts my quality label" profiler): category c maps to
    * WOE = ln( ((good_c + α)/(goodTot + 2α)) / ((bad_c + α)/(badTot + 2α)) )
    * with add-α smoothing so empty cells stay finite, and its IV
    * contribution (p_good − p_bad)·WOE — Σ IV over categories is the
    * classic predictive-power screen. `targetCol` is 0/1 (castable).
    * Returns one row per category:
    * (category, n, n_good, n_bad, woe, iv_term). */
  def woeEncode(df: DataFrame, catCol: String, targetCol: String,
                alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be > 0 (finite WOE), got $alpha")
    val y = col(targetCol).cast("long")
    val perCat = df
      .filter(col(catCol).isNotNull && col(targetCol).isNotNull)
      .groupBy(col(catCol).cast("string").as("category"))
      .agg(count(lit(1)).as("n"),
        sum(when(y =!= 0L, 1L).otherwise(0L)).as("n_good"),
        sum(when(y === 0L, 1L).otherwise(0L)).as("n_bad"))
    val totals = perCat.agg(sum("n_good").as("__tg"), sum("n_bad").as("__tb"))
    val pGood = (col("n_good") + lit(alpha)) / (col("__tg") + lit(2 * alpha))
    val pBad = (col("n_bad") + lit(alpha)) / (col("__tb") + lit(2 * alpha))
    perCat.crossJoin(broadcast(totals))
      .select(col("category"), col("n"), col("n_good"), col("n_bad"),
        log(pGood / pBad).as("woe"),
        ((pGood - pBad) * log(pGood / pBad)).as("iv_term"))
  }

  /** Equal-frequency discretizer: cut `valueCol` at its own k-quantiles
    * (percentile_cont semantics, interior edges p = 1/k … (k−1)/k) and
    * report the per-bin census — the binning step in front of WOE/IV
    * for continuous features, and the robust-histogram profiler for
    * skewed columns where equal-WIDTH bins put everything in one bar.
    * Bin i holds edge(i−1) ≤ v < edge(i) (bin 0 open below, bin k−1
    * open above); a heavily-tied column can leave interior bins empty
    * (duplicate edges) — those simply don't appear in the census.
    *
    * Scale shape: edges come straight from the exact order-statistics
    * pass ([[Quantiles.groupedQuantiles]] over one global group, on
    * [[OrderStatistics.pick]]), collected as k−1 doubles and attached
    * as LITERALS (the clampToBounds gate: a k-row broadcast join costs
    * ~10× a literal when-chain — measured, SURVEY §6.4); the census is
    * then ONE map-side-combined aggregate with branch-free bin
    * arithmetic an external engine replays. DECIMAL value sums keep
    * the per-bin means exact. Returns (bin, lo, hi, n, mean_value),
    * ordered by bin. */
  def quantileBin(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 256, s"k must be in [2, 256], got $k")
    val ps = (1 until k).map(i => (s"__e$i", i.toDouble / k))
    val edgeRow = Quantiles.groupedQuantiles(
      df.filter(col(valueCol).isNotNull)
        .select(lit(1).as("__g"), col(valueCol).cast("double").as("__v")),
      "__g", "__v", ps).head()
    val es = (1 until k).map(i => edgeRow.getAs[Double](s"__e$i"))
    val bin = es.map(e => when(col("__v") >= lit(e), 1L).otherwise(0L))
      .reduce(_ + _)
    val lo = es.zipWithIndex.foldLeft(lit(Double.NegativeInfinity)) {
      case (acc, (e, i)) => when(col("bin") === (i + 1).toLong, lit(e)).otherwise(acc)
    }
    val hi = es.zipWithIndex.foldLeft(lit(Double.PositiveInfinity)) {
      case (acc, (e, i)) => when(col("bin") === i.toLong, lit(e)).otherwise(acc)
    }
    df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("__v"))
      .withColumn("bin", bin)
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast("decimal(18,6)")).as("__s"))
      .select(col("bin"), lo.as("lo"), hi.as("hi"), col("n"),
        (col("__s").cast("double") / col("n")).as("mean_value"))
      .orderBy("bin")
  }
}
