package graft.tableone

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[TableOne.exactQuartiles]] on both order-statistics routes, keyed
  * as `summarize` keys them: the driver-side cross, at the bound
  * `summarize` passes (Σ non-null n over `cols`), and the range shuffle
  * (no bound). Strata are `s`'s sanitized values in sorted order. */
object QuartileRoutes {
  type Quartiles = Map[(String, Option[String]), Seq[Double]]

  def apply(df: DataFrame, s: String, cols: Seq[String]): (Quartiles, Quartiles) = {
    val names = df.select(Sanitize.stratColumn(col(s))).distinct().collect().map(_.getString(0)).sorted.toSeq
    val si = coalesce(element_at(typedLit(names.zipWithIndex.toMap), Sanitize.stratColumn(col(s))), lit(-1))
    val sumN = cols.map(c => df.filter(col(c).isNotNull).count()).sum
    require(sumN <= graft.ops.OrderStatistics.LocalMaxRows, s"Σn = $sumN takes the range shuffle")
    def run(bound: Long): Quartiles =
      TableOne.exactQuartiles(df, Some(si), names, cols, bound).view.mapValues(_.toSeq).toMap
    (run(sumN), run(Long.MaxValue))
  }
}
