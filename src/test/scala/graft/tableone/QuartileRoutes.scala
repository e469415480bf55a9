package graft.tableone

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.Assertions._

/** [[TableOne.summarize]] on both of its routes: the driver computes
  * every cell from the collected census (the default bound), or the
  * census stays distributed (bound 0) and its continuous tallies are
  * range-partitioned through the order-statistics engine. */
object QuartileRoutes {

  /** Cells that merge per-partition sums on the distributed route. */
  private val Folded = Set("mean", "stddev")

  /** Runs both routes and asserts they agree: every cell bit-identical
    * (counts, n, min, max, quartiles, percents, labels), except mean,
    * stddev, p_value and test_value, which agree within 1e-12 relative.
    * Returns the driver route's rows. */
  def apply(df: DataFrame, cfg: TableOneConfig): Array[Row] = {
    val local = TableOne.summarize(df, cfg)
    val distributed = TableOne.summarize(df, cfg, localMaxRows = 0L)
    assert(local.schema == distributed.schema)
    val cols = local.columns
    val (a, b) = (local.collect(), distributed.collect())
    assert(a.length == b.length, s"${a.length} rows on the driver route, ${b.length} distributed")
    a.zip(b).foreach { case (x, y) =>
      cols.indices.foreach { i =>
        val what = s"${x.getAs[String]("Values")} ${cols(i)}: ${x.get(i)} vs ${y.get(i)}"
        (x.get(i), y.get(i)) match {
          case (p: Double, q: Double) if Folded(x.getAs[String]("Values")) || cols(i) == "p_value" ||
              cols(i) == "test_value" =>
            assert((p.isNaN && q.isNaN) || p == q || math.abs(p - q) <= 1e-12 * math.max(p.abs, q.abs), what)
          case (p: Double, q: Double) =>
            assert(java.lang.Double.doubleToLongBits(p) == java.lang.Double.doubleToLongBits(q), what)
          case (p, q) => assert(p == q, what)
        }
      }
    }
    a
  }
}
