package graft.tableone

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class RankTestsSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("mannWhitney matches the hand-traced tie-free fixture") {
    // a = {1,2,3}, b = {4,5,6}: ranks 1..6, R_a = 6, U_a = 0
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(4.0, 5.0, 6.0).map(("b", _))).toDF("g", "x")
    val r = RankTests.mannWhitney(df.repartition(4), "g", "x").head()
    r.getAs[String]("group_lo") shouldBe "a"
    r.getAs[String]("group_hi") shouldBe "b"
    r.getAs[Long]("n_lo") shouldBe 3L
    r.getAs[Long]("n_hi") shouldBe 3L
    r.getAs[Double]("u_lo") shouldBe 0.0 +- 1e-12
    // mu = 4.5, sigma^2 = 3*3*7/12 = 5.25 (no ties)
    r.getAs[Double]("z") shouldBe (-4.5 / math.sqrt(5.25)) +- 1e-12
    r.getAs[Double]("rank_biserial") shouldBe 1.0 +- 1e-12
  }

  test("mannWhitney applies average ranks and the tie correction") {
    // a = {1,2,2}, b = {2,3}: value 2 ties 3-deep (avg rank 3)
    // R_a = 1 + 3 + 3 = 7, U_a = 7 - 6 = 1, mu = 3
    // sigma^2 = (3*2/12) * ((5+1) - 24/(5*4)) = 2.4
    val df = (Seq(1.0, 2.0, 2.0).map(("a", _)) ++
      Seq(2.0, 3.0).map(("b", _))).toDF("g", "x")
    val r = RankTests.mannWhitney(df, "g", "x").head()
    r.getAs[Double]("u_lo") shouldBe 1.0 +- 1e-12
    r.getAs[Double]("z") shouldBe ((1.0 - 3.0) / math.sqrt(2.4)) +- 1e-12
    r.getAs[Double]("rank_biserial") shouldBe (1.0 - 2.0 / 6.0) +- 1e-12
  }

  test("mannWhitney rejects non-two-group inputs and nulls z on degenerate variance") {
    val three = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("g", "x")
    an[IllegalArgumentException] should be thrownBy
      RankTests.mannWhitney(three, "g", "x")
    // every value tied: sigma^2 = (mn/12)((N+1) - (N^3-N)/(N(N-1))) = 0
    val allTied = Seq(("a", 5.0), ("a", 5.0), ("b", 5.0), ("b", 5.0)).toDF("g", "x")
    val r = RankTests.mannWhitney(allTied, "g", "x").head()
    r.isNullAt(r.fieldIndex("z")) shouldBe true
    r.getAs[Double]("u_lo") shouldBe 2.0 +- 1e-12 // R_a = 5, minus 3
  }

  test("kruskalWallis matches the hand-traced tie-free fixture") {
    // a={1,2} b={3,4} c={5,6}: R = 3,7,11; H = 12/42 * 89.5 - 21
    val df = (Seq(1.0, 2.0).map(("a", _)) ++ Seq(3.0, 4.0).map(("b", _)) ++
      Seq(5.0, 6.0).map(("c", _))).toDF("g", "x")
    val r = RankTests.kruskalWallis(df.repartition(3), "g", "x").head()
    r.getAs[Long]("n_groups") shouldBe 3L
    r.getAs[Long]("n") shouldBe 6L
    val h = 12.0 / 42.0 * (4.5 + 24.5 + 60.5) - 21.0
    r.getAs[Double]("h") shouldBe h +- 1e-12
    r.getAs[Double]("epsilon_sq") shouldBe ((h - 2.0) / 3.0) +- 1e-12
  }

  test("kruskalWallis tie correction matches the hand trace") {
    // a={1,1} b={1,2}: value 1 ties 3-deep (avg rank 2), value 2 rank 4
    // R_a = 4, R_b = 6; H0 = 0.6*26 - 15 = 0.6; corr = 1 - 24/60 = 0.6
    val df = (Seq(1.0, 1.0).map(("a", _)) ++ Seq(1.0, 2.0).map(("b", _)))
      .toDF("g", "x")
    val r = RankTests.kruskalWallis(df, "g", "x").head()
    r.getAs[Double]("h") shouldBe 1.0 +- 1e-12
    r.getAs[Double]("epsilon_sq") shouldBe 0.0 +- 1e-12
    // fully degenerate (one value everywhere): corr = 0 -> h NULL
    val flat = Seq(("a", 1.0), ("b", 1.0)).toDF("g", "x")
    RankTests.kruskalWallis(flat, "g", "x").head()
      .isNullAt(2) shouldBe true
  }

  test("rank statistics are partitioning-independent") {
    val df = (1 to 200).map(i => (if (i % 3 == 0) "a" else "b", (i % 7).toDouble))
      .toDF("g", "x")
    val one = RankTests.mannWhitney(df.repartition(1), "g", "x").head()
    val many = RankTests.mannWhitney(df.repartition(13), "g", "x").head()
    one.getAs[Double]("u_lo") shouldBe many.getAs[Double]("u_lo")
    one.getAs[Double]("z") shouldBe many.getAs[Double]("z")
  }

  test("high-NDV path: no unpartitioned window, exact vs direct ranking") {
    // ~1600 distinct doubles with planted tie blocks — the continuous-
    // column shape where the old ORDER-BY-only window serialized every
    // distinct value into one task. Parity is pinned against a direct
    // driver-side average-rank computation, and the plan is pinned to
    // carry NO Window without a partition spec (the bucketed
    // cumBeforeFromCensus path keys its windows by (feature, bucket)).
    val data = (1 to 2000).map { i =>
      val v = ((i * 2654435761L) % 1600).toDouble / 7.0
      (if (i % 2 == 0) "a" else "b", v)
    }
    val df = data.toDF("g", "x").repartition(8)
    // FORCE the distributed bucketed-cumsum path (gate 0 — every NDV is
    // "high"); results must equal both the direct driver ranking below
    // and the gated tiny-window path, and the census persist must
    // release (zero residual storage)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val mw = RankTests.mannWhitney(df, "g", "x", ndvGate = 0L)
    val gated = RankTests.mannWhitney(df, "g", "x")
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
    // path parity: the bucketed and tiny-window plans fold the same
    // exact integer counts, so every column agrees bit-for-bit
    mw.collect().map(_.toSeq) shouldBe gated.collect().map(_.toSeq)
    // direct ranking: sort, assign average ranks over tie blocks,
    // U_lo = R_lo - n_lo(n_lo+1)/2
    val sorted = data.sortBy(_._2)
    val ranks = scala.collection.mutable.Map.empty[Double, Double]
    var i0 = 0
    while (i0 < sorted.size) {
      var j = i0
      while (j < sorted.size && sorted(j)._2 == sorted(i0)._2) j += 1
      ranks(sorted(i0)._2) = (i0 + 1 + j) / 2.0
      i0 = j
    }
    val nLo = data.count(_._1 == "a")
    val rLo = data.filter(_._1 == "a").map(d => ranks(d._2)).sum
    val uLo = rLo - nLo * (nLo + 1) / 2.0
    val r = mw.head()
    r.getAs[Long]("n_lo") shouldBe nLo.toLong
    r.getAs[Double]("u_lo") shouldBe uLo +- 1e-9
  }
}
