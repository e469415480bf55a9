package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class QuantilesSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ps = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95)

  /** Driver-side percentile_cont reference: position p·(n−1), linear
    * interpolation — the definition both engine paths must reproduce. */
  private def refQuantile(sorted: Vector[Double], p: Double): Double = {
    val r = p * (sorted.length - 1).toDouble
    val lo = math.floor(r).toInt
    val frac = r - math.floor(r)
    if (frac == 0.0) sorted(lo)
    else sorted(lo) + (sorted(lo + 1) - sorted(lo)) * frac
  }

  private def collectWide(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Double]] =
    df.collect().map(r => r.getString(0) ->
      (1 to ps.length).map(r.getDouble)).toMap

  test("exact path matches a driver-side percentile_cont model on random data") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 5000).map(_ =>
      (s"g${rnd.nextInt(4)}", math.rint(rnd.nextDouble() * 1e6) / 100.0))
    val out = collectWide(Quantiles.groupedQuantilesExact(
      rows.toDF("g", "v"), "g", "v", ps))
    val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    out.keySet shouldBe byG.keySet
    for ((g, vs) <- byG; ((_, p), i) <- ps.zipWithIndex)
      out(g)(i) shouldBe refQuantile(vs, p) +- 1e-9
  }

  test("exact path equals the native percentile sort-agg path exactly") {
    val rnd = new scala.util.Random(11)
    // duplicate-heavy values so the histogram genuinely collapses counts
    val rows = (1 to 4000).map(_ =>
      (s"k${rnd.nextInt(3)}", rnd.nextInt(50).toDouble))
    val df = rows.toDF("g", "v")
    val exact = collectWide(Quantiles.groupedQuantilesExact(df, "g", "v", ps))
    val gated = collectWide(Quantiles.groupedQuantiles(df, "g", "v", ps))
    gated.keySet shouldBe exact.keySet
    for (g <- exact.keys; i <- ps.indices)
      gated(g)(i) shouldBe exact(g)(i) +- 1e-12
  }

  test("gate routes a too-big group to the distributed path, same values") {
    val rows = (1 to 2000).map(i => ("only", i.toDouble))
    val df = rows.toDF("g", "v")
    val forced = collectWide(
      Quantiles.groupedQuantiles(df, "g", "v", ps, maxBufferedPerGroup = 100))
    val native = collectWide(Quantiles.groupedQuantiles(df, "g", "v", ps))
    for (i <- ps.indices) forced("only")(i) shouldBe native("only")(i) +- 1e-12
  }

  test("nulls are ignored; an all-null group is absent; null GROUP is kept") {
    val rows = Seq(
      (Option("a"), Option(1.0)), (Option("a"), Option(3.0)), (Option("a"), None),
      (Option("dead"), None),
      (None: Option[String], Option(10.0)), (None: Option[String], Option(20.0)))
    val df = rows.toDF("g", "v")
    for (out <- Seq(Quantiles.groupedQuantilesExact(df, "g", "v", Seq("p50" -> 0.5)),
                    Quantiles.groupedQuantiles(df, "g", "v", Seq("p50" -> 0.5)))) {
      val m = out.collect().map(r =>
        Option(r.getString(0)) -> r.getDouble(1)).toMap
      m.keySet shouldBe Set(Option("a"), None)
      m(Option("a")) shouldBe 2.0 +- 1e-12
      m(None) shouldBe 15.0 +- 1e-12
    }
  }

  test("single-element group and p in {0, 1} hit the boundary order stats") {
    val df = Seq(("s", 42.0), ("t", 1.0), ("t", 9.0)).toDF("g", "v")
    val qs = Seq("pmin" -> 0.0, "pmid" -> 0.5, "pmax" -> 1.0)
    val out = Quantiles.groupedQuantilesExact(df, "g", "v", qs)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    out("s") shouldBe ((42.0, 42.0, 42.0))
    out("t")._1 shouldBe 1.0
    out("t")._2 shouldBe 5.0 +- 1e-12
    out("t")._3 shouldBe 9.0
  }

  test("exact path is partition-count independent") {
    val rnd = new scala.util.Random(23)
    val rows = (1 to 3000).map(_ => (s"g${rnd.nextInt(2)}", rnd.nextGaussian()))
    // the range-partition count is spark.sql.shuffle.partitions, so vary
    // it along with the input's partitioning
    def run(inputParts: Int, rangeParts: Int) = {
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", rangeParts.toString)
      try collectWide(Quantiles.groupedQuantilesExact(
        rows.toDF("g", "v").repartition(inputParts), "g", "v", ps))
      finally spark.conf.set("spark.sql.shuffle.partitions", before)
    }
    val a = run(1, 1)
    val b = run(17, 7)
    a.keySet shouldBe b.keySet
    for (g <- a.keys; i <- ps.indices) a(g)(i) shouldBe b(g)(i) +- 1e-12
  }

  test("winsorize clamps into per-group quantile bounds; literal and join attach agree") {
    val df = (1 to 200).map(i => (s"g${i % 3}", Some(i.toDouble)))
      .:+(("gnull", None: Option[Double])).toDF("g", "v")
    // per-group exact [p10, p90] bounds attached onto the rows, as a14 does
    val bf = Quantiles.groupedQuantiles(df, "g", "v", Seq("lo" -> 0.1, "hi" -> 0.9))
    val w = Quantiles.clampToBounds(df, "g", "v", bf).collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    w.length shouldBe 201
    // every clamped value sits inside its group's exact [p10, p90]
    val bounds = bf.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    w.filter(_._1 != "gnull").foreach { case (g, Some(v)) =>
      v should be >= bounds(g)._1
      v should be <= bounds(g)._2
    case _ => fail("unexpected null in a non-null group")
    }
    // the all-null group passes through unclamped (its value stays null)
    w.filter(_._1 == "gnull").head._2 shouldBe None
    // join path (maxLiteralGroups = 0 forces it) equals the literal path
    val lit0 = Quantiles.clampToBounds(df, "g", "v", bf, maxLiteralGroups = 0)
      .select("g", "v").collect().map(r =>
        (r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).sortBy(_.toString)
    lit0.toSeq shouldBe w.sortBy(_.toString).toSeq
  }

  test("groupedMad equals the driver median/MAD on both attach paths; outlier-immune") {
    // group a: median 5, residuals {4,2,0,2,4} -> MAD 2 (odd sizes: exact)
    // group b has one wild outlier that must not move median or MAD much
    val df = (Seq(("a", 1.0), ("a", 3.0), ("a", 5.0), ("a", 7.0), ("a", 9.0)) ++
      Seq(("b", 10.0), ("b", 20.0), ("b", 30.0), ("b", 40.0), ("b", 1e9))).toDF("g", "v")
    val out = Quantiles.groupedMad(df, "g", "v").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    out("a") shouldBe ((5.0, 2.0))
    out("b")._1 shouldBe 30.0 // the 1e9 row moved the median one slot, not 1e8
    out("b")._2 shouldBe 10.0 // residuals {20,10,0,10,1e9-30} -> median 10
    // forcing the broadcast-join attach path gives identical results
    val joined = Quantiles.groupedMad(df, "g", "v", maxLiteralGroups = 0).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    joined shouldBe out
    // driver replay on a pseudo-random group, interpolation included
    val vals = (1 to 101).map(i => (i * 48271 % 997).toDouble)
    val one = vals.map(("z", _)).toDF("g", "v")
    val med = vals.sorted.apply(50)
    val mad = vals.map(x => math.abs(x - med)).sorted.apply(50)
    val got = Quantiles.groupedMad(one, "g", "v").head()
    got.getDouble(1) shouldBe med
    got.getDouble(2) shouldBe mad
  }

  test("rejects bad probabilities and duplicate names") {
    val df = Seq(("a", 1.0)).toDF("g", "v")
    an[IllegalArgumentException] should be thrownBy
      Quantiles.groupedQuantiles(df, "g", "v", Seq("q" -> 1.5))
    an[IllegalArgumentException] should be thrownBy
      Quantiles.groupedQuantiles(df, "g", "v", Seq("q" -> 0.2, "q" -> 0.4))
    an[IllegalArgumentException] should be thrownBy
      Quantiles.groupedQuantiles(df, "g", "v", Nil)
  }

  test("groupedMode: exact census, deterministic smallest-value tie-break, any partitioning") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      ("g1", "b"), ("g1", "b"), ("g1", "a"), // clear winner b
      ("g2", "z"), ("g2", "y"), // tie at 1: smallest value y wins
      ("g3", "only"))
    def run(parts: Int) =
      Quantiles.groupedMode(rows.toDF("g", "v").repartition(parts), "g", "v")
        .orderBy("g").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = Array(("g1", "b", 2L, 3L), ("g2", "y", 1L, 2L), ("g3", "only", 1L, 1L))
    run(1) shouldBe want
    run(7) shouldBe want
  }

  test("groupedEntropy: hand-computed entropy, evenness bounds, single-value null") {
    val rows = Seq(
      ("u", "a"), ("u", "a"), ("u", "b"), ("u", "b"), // uniform over 2: H = ln 2
      ("s", "a"), ("s", "a"), ("s", "a"), ("s", "b"), // skewed 3:1
      ("one", "x"), ("one", "x")) // single value: H = 0, evenness null
    val got = Quantiles.groupedEntropy(rows.toDF("g", "v"), "g", "v")
      .orderBy("g").collect()
    val one = got(0); val s = got(1); val u = got(2)
    one.getString(0) shouldBe "one"
    one.getDouble(3) shouldBe 0.0 +- 1e-12
    one.isNullAt(4) shouldBe true
    u.getDouble(3) shouldBe math.log(2) +- 1e-12
    u.getDouble(4) shouldBe 1.0 +- 1e-12 // uniform = maximal evenness
    val hs = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    s.getDouble(3) shouldBe hs +- 1e-12
    s.getDouble(4) shouldBe (hs / math.log(2)) +- 1e-12
    s.getLong(1) shouldBe 4L
    s.getLong(2) shouldBe 2L
  }

  test("groupedWeightedMedian: exact lower weighted median, unit-weight degeneration") {
    // g: values (1 w=1), (2 w=1), (3 w=4): total 6, half 3 -> cum at 2 is
    // 2 < 3, cum at 3 is 6 >= 3... lower pick must be 3? No: cum(1)=1,
    // cum(2)=2 < 3, cum(3)=6 -> median 3
    val df = Seq(("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 4.0),
      ("h", 5.0, 2.0), ("h", 7.0, 1.0)).toDF("s", "v", "w")
    val out = Quantiles.groupedWeightedMedian(df.repartition(3), "s", "v", "w")
      .orderBy("s").collect()
    out(0).getAs[Double]("median") shouldBe 3.0
    out(0).getDecimal(1).doubleValue() shouldBe 6.0
    // h: cum(5)=2, 2*2 >= 3 -> lower median 5
    out(1).getAs[Double]("median") shouldBe 5.0
    // unit weights degenerate to the lower median
    val units = (1 to 9).map(i => ("u", i.toDouble, 1.0)).toDF("s", "v", "w")
    Quantiles.groupedWeightedMedian(units, "s", "v", "w")
      .head().getAs[Double]("median") shouldBe 5.0
    val even = (1 to 10).map(i => ("u", i.toDouble, 1.0)).toDF("s", "v", "w")
    Quantiles.groupedWeightedMedian(even, "s", "v", "w")
      .head().getAs[Double]("median") shouldBe 5.0 // LOWER median convention
    // duplicate values pool their weight before the walk; zero/negative
    // and null weights are excluded rows
    val dups = Seq(("d", 1.0, 1.0), ("d", 1.0, 1.0), ("d", 2.0, 1.0),
      ("d", 9.0, 0.0), ("d", 9.0, -3.0)).toDF("s", "v", "w")
    val r = Quantiles.groupedWeightedMedian(dups, "s", "v", "w").head()
    r.getAs[Double]("median") shouldBe 1.0 // cum(1)=2, 2*2 >= 3
    r.getDecimal(1).doubleValue() shouldBe 3.0
  }
}
