package graft.tableone

import graft.TestSpark
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

case class Rec(strat: Option[String], cat: Option[String], cont: Option[Double])

/** Property tests: generated small tables -> TableOne output vs a naive
  * in-memory Scala computation of the same statistics, plus structural
  * invariants (SURVEY.md §5.2.4). Deterministic: ScalaCheck generators
  * driven from a fixed seed. */
class TableOnePropertySpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val recGen: Gen[Rec] = for {
    s <- Gen.option(Gen.oneOf("A", "B", "C"))
    c <- Gen.option(Gen.oneOf("Yes", "No", "x y", "other"))
    v <- Gen.option(Gen.chooseNum(-100.0, 100.0).map(d => math.rint(d * 100) / 100))
  } yield Rec(s, c, v)

  private val tableGen: Gen[List[Rec]] = for {
    n <- Gen.chooseNum(1, 60)
    rows <- Gen.listOfN(n, recGen)
  } yield rows

  private def cases(n: Int): Seq[List[Rec]] =
    (0 until n).flatMap(i => tableGen.apply(Gen.Parameters.default, Seed(42L + i)))

  test("stratified summary matches a naive in-memory computation") {
    // summarize crosses these tiny tables' quartile census on the driver;
    // the range-shuffled route must pick the same quartiles on every case
    for (rows <- cases(8)) {
      val df = rows.toDF("strat", "cat", "cont")
      val (local, distributed) = QuartileRoutes(df, "strat", Seq("cont"))
      local shouldBe distributed
      val out = TableOne.summarize(df,
        TableOneConfig(Some("strat"), Seq("cat", "cont"))).collect()
      val byKey = out.map(r => (r.getAs[Double]("Index"), r.getAs[String]("Values")) -> r).toMap

      // Totals row
      val totals = byKey((0.0, "ALL"))
      totals.getAs[Double]("All_Patients") shouldBe rows.size.toDouble
      val strata = rows.groupBy(_.strat.map(_.replace(" ", "_")).getOrElse("MISSING"))
      strata.foreach { case (sv, srows) =>
        totals.getAs[Double](sv) shouldBe srows.size.toDouble
      }

      // categorical counts + percents
      val catRows = out.filter(_.getAs[String]("Variable_type") == "category")
      val naiveCat = rows.groupBy(_.cat.getOrElse("MISSING")).map { case (k, v) => k -> v.size }
      catRows.foreach { r =>
        val v = r.getAs[String]("Values")
        r.getAs[Double]("All_Patients") shouldBe naiveCat(v).toDouble
        r.getAs[Double]("All_Patients_%") shouldBe naiveCat(v).toDouble / rows.size +- 1e-9
        strata.foreach { case (sv, srows) =>
          val cnt = srows.count(_.cat.getOrElse("MISSING") == v)
          Option(r.getAs[java.lang.Double](sv)).map(_.doubleValue).getOrElse(0.0) shouldBe cnt.toDouble
        }
      }
      // percents sum to ~1 per stratum across the categorical variable
      if (catRows.nonEmpty) {
        val pctSum = catRows.flatMap(r => Option(r.getAs[java.lang.Double]("All_Patients_%"))).map(_.doubleValue).sum
        pctSum shouldBe 1.0 +- 1e-9
      }

      // continuous stats vs naive
      val cont = rows.flatMap(_.cont)
      def contStat(slot: String): Option[Double] = {
        val idx = out.find(r => r.getAs[String]("Values") == slot &&
          r.getAs[String]("Characteristics") == "cont")
        idx.flatMap(r => Option(r.getAs[java.lang.Double]("All_Patients")).map(_.doubleValue))
      }
      contStat("n") shouldBe Some(cont.size.toDouble)
      if (cont.nonEmpty) {
        contStat("min").get shouldBe cont.min +- 1e-9
        contStat("max").get shouldBe cont.max +- 1e-9
        contStat("mean").get shouldBe (cont.sum / cont.size) +- 1e-9
        // exact lower-nearest-rank quantiles (disc semantics)
        val sorted = cont.sorted
        def disc(q: Double) = sorted(math.ceil(q * cont.size).toInt.max(1) - 1)
        contStat("25th percentile").get shouldBe disc(0.25) +- 1e-9
        contStat("50th percentile").get shouldBe disc(0.5) +- 1e-9
        contStat("75th percentile").get shouldBe disc(0.75) +- 1e-9
        val Seq(q25, q50, q75) =
          Seq("25th percentile", "50th percentile", "75th percentile").map(contStat(_).get)
        q25 should be <= q50
        q50 should be <= q75
      }
      // per-stratum quartiles vs the naive rank pick — the case where the
      // order-statistics pass must seed running counts across range
      // partitions correctly for every (column, stratum) group
      val slotQ = Seq("25th percentile" -> 0.25, "50th percentile" -> 0.5,
        "75th percentile" -> 0.75)
      strata.foreach { case (sv, srows) =>
        val sc = srows.flatMap(_.cont).sorted
        slotQ.foreach { case (slot, q) =>
          val cell = out.find(r => r.getAs[String]("Values") == slot &&
              r.getAs[String]("Characteristics") == "cont")
            .flatMap(r => Option(r.getAs[java.lang.Double](sv)).map(_.doubleValue))
          if (sc.isEmpty) cell shouldBe None
          else cell.get shouldBe sc(math.ceil(q * sc.size).toInt.max(1) - 1) +- 1e-9
        }
      }

      // Index strictly increasing in output order
      val indices = out.map(_.getAs[Double]("Index")).toSeq
      indices shouldBe indices.sorted
      indices.distinct.size shouldBe indices.size
    }
  }

  test("decimal and byte columns are analyzed as continuous (beyond reference parity)") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  ('A', CAST(1.50 AS DECIMAL(10,2)), CAST(1 AS TINYINT)),
        |  ('A', CAST(2.50 AS DECIMAL(10,2)), CAST(3 AS TINYINT)),
        |  ('B', CAST(4.00 AS DECIMAL(10,2)), CAST(5 AS TINYINT))
        |AS t(g, d, b)""".stripMargin)
    val out = TableOne.summarize(df, TableOneConfig(Some("g"), Seq("d", "b"))).collect()
    val mean = out.find(r => r.getAs[String]("Characteristics") == "d" &&
      r.getAs[String]("Values") == "mean").get
    // decimal avg keeps decimal semantics (scale+4) before the double cast
    mean.getAs[Double]("All_Patients") shouldBe (8.0 / 3) +- 1e-5
    val bMax = out.find(r => r.getAs[String]("Characteristics") == "b" &&
      r.getAs[String]("Values") == "max").get
    bMax.getAs[Double]("All_Patients") shouldBe 5.0
  }

  test("boolean columns summarize as two-category variables; timestamps skip") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  ('A', true,  TIMESTAMP '2024-01-01 00:00:00'),
        |  ('A', false, TIMESTAMP '2024-01-02 00:00:00'),
        |  ('B', true,  TIMESTAMP '2024-01-03 00:00:00')
        |AS t(g, flag, ts)""".stripMargin)
    val out = TableOne.summarize(df, TableOneConfig(Some("g"), Seq("flag", "ts"))).collect()
    val flagRows = out.filter(_.getAs[String]("Characteristics") == "flag")
    flagRows.map(_.getAs[String]("Values")).toSet shouldBe Set("true", "false")
    flagRows.find(_.getAs[String]("Values") == "true").get
      .getAs[Double]("All_Patients") shouldBe 2.0
    // timestamp column is skipped entirely — no output rows
    out.filter(_.getAs[String]("Characteristics") == "ts") shouldBe empty
  }

  test("maxStrata guard fails fast on high-cardinality stratification") {
    val df = (1 to 50).map(i => (s"s$i", i.toDouble)).toDF("strat", "cont")
    val e = intercept[IllegalArgumentException] {
      TableOne.summarize(df, TableOneConfig(Some("strat"), Seq("cont"), maxStrata = 10))
    }
    e.getMessage should include ("distinct values")
    // at or under the cap it works
    TableOne.summarize(df, TableOneConfig(Some("strat"), Seq("cont"), maxStrata = 50))
      .collect().length should be > 0
  }

  test("unstratified summary: schema is fixed and rows/percent invariants hold") {
    cases(4).foreach { rows =>
      val df = rows.toDF("strat", "cat", "cont")
      val out = TableOne.summarize(df, TableOneConfig(None, Seq("cat", "cont")))
      out.columns.toSeq shouldBe Seq("Pivoted_column", "Index", "Characteristics",
        "Variable_type", "Values", "All_Patients", "All_Patients_%")
      val rowsOut = out.collect()
      rowsOut.head.getAs[String]("Values") shouldBe "ALL"
      // n <= rowcount for every statistic row
      rowsOut.filter(_.getAs[String]("Values") == "n").foreach { r =>
        r.getAs[Double]("All_Patients") should be <= rows.size.toDouble
      }
    }
  }
}
