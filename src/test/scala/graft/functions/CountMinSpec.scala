package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class CountMinSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sketchOf(items: Seq[String], depth: Int, width: Int): Array[Long] = {
    val agg = new CountMin(depth, width)
    items.foldLeft(agg.zero)((b, it) => agg.reduce(b, it))
  }

  test("estimates never undercount; a roomy grid estimates exactly") {
    val items = (1 to 40).flatMap(i => Seq.fill(i % 7 + 1)(s"tok$i"))
    val grid = sketchOf(items, depth = 4, width = 1024)
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong)
    exact.foreach { case (k, n) =>
      CountMin.estimate(grid, 4, 1024, k) shouldBe n // 40 keys in 1024 cells: no row collides everywhere
    }
  }

  test("a crowded grid still never undercounts (overestimate-only, the MG mirror)") {
    val items = (1 to 500).flatMap(i => Seq.fill(3)(s"k$i"))
    val grid = sketchOf(items, depth = 4, width = 8) // 500 keys into 8 cells: heavy collisions
    (1 to 500).foreach { i =>
      CountMin.estimate(grid, 4, 8, s"k$i") should be >= 3L
    }
  }

  test("merge is EXACT: sketch(A) + sketch(B) == sketch(A ++ B), bit for bit") {
    val a = (1 to 100).map(i => s"w${i % 13}")
    val b = (1 to 77).map(i => s"w${i % 31}")
    val merged = new CountMin(4, 64).merge(sketchOf(a, 4, 64), sketchOf(b, 4, 64))
    merged shouldBe sketchOf(a ++ b, 4, 64)
  }

  test("the udaf is partition-count independent (decomposable merge)") {
    val items = (1 to 3000).map(i => s"t${i % 97}")
    val cms = udaf(new CountMin(4, 256), org.apache.spark.sql.Encoders.STRING)
    def run(parts: Int): Array[Long] =
      items.toDF("w").repartition(parts)
        .agg(cms(col("w")).as("sk")).head().getAs[scala.collection.Seq[Long]]("sk").toArray
    run(1) shouldBe run(7)
    // and in-plan estimates match the local fold
    val grid = run(4)
    grid shouldBe sketchOf(items, 4, 256)
    CountMin.estimate(grid, 4, 256, "t5") should be >= items.count(_ == "t5").toLong
  }

  test("nulls are ignored; mismatched grids are rejected loudly") {
    val agg = new CountMin(2, 16)
    val g = agg.reduce(agg.reduce(agg.zero, null), "x")
    CountMin.estimate(g, 2, 16, "x") shouldBe 1L
    an[IllegalArgumentException] should be thrownBy
      CountMin.estimate(new Array[Long](32), 4, 16, "x")
  }

  test("hash rows are decorrelated: per-row cells of one key differ across rows") {
    // if the row seeds collapsed, depth would buy nothing — every row
    // would see identical collisions
    val cells = (0 until 4).map(r => CountMin.cellIdx("the", 42, r, 8192))
    cells.distinct.size should be > 1
    val cells2 = (0 until 4).map(r => CountMin.cellIdx("and", 42, r, 8192))
    cells should not equal cells2
  }
}
