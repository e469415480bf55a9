package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Fixed-bin histogram STATE: the mergeable distribution summary for
  * incremental maintenance. Bin counts are decomposable (they sum), so
  * histogram state rides [[Merge.mergeAggState]] exactly like counts and
  * sums — `merge(hist(A), hist(B)) == hist(A ∪ B)` with no
  * approximation — and any distribution-shaped readout (quantile
  * estimates, PDFs, drift checks) derives from the merged state without
  * ever rescanning history. This is the u6/u7 incremental family's
  * missing member: u6 maintains point aggregates, u7 distinct sketches,
  * this maintains a distribution.
  *
  * State lives in LONG format — one row per (keys, bin) — precisely so
  * the merge IS mergeAggState over `keys :+ binCol` with `cnt -> sum`:
  * no new merge code, no array zip, and empty bins cost nothing.
  */
object Histograms {

  /** Per-key fixed-bin histogram over `[lo, hi)`: bin width
    * (hi − lo)/nBins, values clamped into the edge bins (bin 0 and
    * nBins − 1 absorb under/overflow — the bounds come from a prior
    * min/max state in production; clamping keeps the state total equal
    * to the row count so quantile reads stay rank-correct). Nulls are
    * ignored. One map-side-combinable groupBy — the same shuffle as any
    * keyed count.
    *
    * @return keys ++ (`bin` int, `cnt` long), only non-empty bins */
  def binned(df: DataFrame, keys: Seq[String], valueCol: String,
             lo: Double, hi: Double, nBins: Int): DataFrame = {
    val v = col(valueCol).cast("double")
    df.filter(v.isNotNull)
      .groupBy(keys.map(col) :+ binColumn(v, lo, hi, nBins).as("bin"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** The bin-assignment expression [[binned]] groups by. */
  private def binColumn(v: Column, lo: Double, hi: Double, nBins: Int): Column = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val raw = floor((v.cast("double") - lit(lo)) / lit(hi - lo) * nBins).cast("int")
    least(greatest(raw, lit(0)), lit(nBins - 1))
  }

  /** Merge two histogram states — sugar for the mergeAggState call the
    * long format was designed for. */
  def mergeState(state: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame =
    Merge.mergeAggState(state, delta, keys :+ "bin", Map("cnt" -> "sum"))

  /** Quantile ESTIMATES from histogram state: for each key and each
    * `(name, p)`, walk the cumulative bin counts to the first bin whose
    * cumulative count reaches p·n, then interpolate linearly inside the
    * bin (uniform-within-bin assumption — error bounded by bin width).
    * The histogram-read counterpart of the EXACT paths (a3/a11/a13):
    * O(nBins) state per key, constant-time incremental refresh via
    * [[mergeState]], bin-width accuracy.
    *
    * Plan: one window cumsum per key (partition width <= nBins rows — a
    * bounded sort, nothing like a value-sorted group) and one aggregate
    * back to a row per key. */
  def quantileFromBins(state: DataFrame, keys: Seq[String],
                       lo: Double, hi: Double, nBins: Int,
                       ps: Seq[(String, Double)]): DataFrame = {
    require(ps.nonEmpty, "need at least one (name, p)")
    ps.foreach { case (n, p) =>
      require(p > 0.0 && p <= 1.0, s"p for `$n` must be in (0, 1], got $p") }
    val width = (hi - lo) / nBins
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("bin"))
    val cum = state
      .withColumn("__cum", sum(col("cnt")).over(w))
      .withColumn("__n", sum(col("cnt")).over(
        Window.partitionBy(keys.map(col): _*)))
    val qCols = ps.map { case (name, p) =>
      // first bin with cum >= p*n: min(bin) over qualifying rows; the
      // estimate interpolates (target − cumBefore)/cnt into the bin
      val target = lit(p) * col("__n")
      min(when(col("__cum") >= target, struct(col("bin"),
          col("__cum"), col("cnt")))).as(s"__q_$name")
    }
    val withN = cum.groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("__n"), qCols: _*)
    withN.select(keys.map(col) ++ ps.map { case (name, p) =>
      val q = col(s"__q_$name")
      val target = lit(p) * col("__n")
      val cumBefore = q.getField("__cum") - q.getField("cnt")
      (lit(lo) + (q.getField("bin").cast("double") +
        (target - cumBefore) / q.getField("cnt")) * lit(width)).as(name)
    }: _*)
  }
}
