package graft.tableone

import graft.TestSpark
import org.apache.spark.sql.Row
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

  /** `expected` within 1e-9, or NaN where `expected` is NaN. */
  private def approx(actual: Double, expected: Double): Unit =
    if (expected.isNaN) assert(actual.isNaN, s"want NaN, got $actual")
    else actual shouldBe expected +- 1e-9

  /** Asserts `out` — summarize over `rows` stratified by `strat`,
    * analyzing `cat` then `cont` — equals a naive in-memory computation
    * of the same statistics. Values order as Spark orders them: NaN
    * greatest. */
  private def assertMatchesNaive(rows: Seq[Rec], out: Array[Row]): Unit = {
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

    // continuous stats vs naive, for the total and every stratum: exact
    // lower-nearest-rank quantiles (disc semantics)
    def cell(slot: String, group: String): Option[Double] =
      out.find(r => r.getAs[String]("Values") == slot && r.getAs[String]("Characteristics") == "cont")
        .flatMap(r => Option(r.getAs[java.lang.Double](group)).map(_.doubleValue))
    val slotQ = Seq("25th percentile" -> 0.25, "50th percentile" -> 0.5, "75th percentile" -> 0.75)
    (("All_Patients" -> rows) +: strata.toSeq).foreach { case (group, grows) =>
      withClue(s"group $group: ") {
        val sorted = grows.flatMap(_.cont).sorted(Ordering.Double.TotalOrdering)
        cell("n", group) shouldBe Some(sorted.size.toDouble)
        if (sorted.isEmpty) (Seq("min", "max", "mean", "stddev") ++ slotQ.map(_._1)).foreach { slot =>
          cell(slot, group) shouldBe None
        }
        else {
          approx(cell("min", group).get, sorted.head)
          approx(cell("max", group).get, sorted.last)
          val mean = sorted.sum / sorted.size
          approx(cell("mean", group).get, mean)
          if (sorted.size == 1) cell("stddev", group) shouldBe None
          else approx(cell("stddev", group).get,
            math.sqrt(sorted.map(x => (x - mean) * (x - mean)).sum / (sorted.size - 1)))
          val qs = slotQ.map { case (slot, q) =>
            val got = cell(slot, group).get
            approx(got, sorted(math.ceil(q * sorted.size).toInt.max(1) - 1))
            got
          }
          if (!qs.exists(_.isNaN)) qs shouldBe qs.sorted
        }
      }
    }

    // Index strictly increasing in output order
    val indices = out.map(_.getAs[Double]("Index")).toSeq
    indices shouldBe indices.sorted
    indices.distinct.size shouldBe indices.size
  }

  test("stratified summary matches a naive in-memory computation") {
    // summarize computes these tiny tables on the driver; the
    // distributed route must give the same table on every case
    for (rows <- cases(8)) {
      val df = rows.toDF("strat", "cat", "cont")
      assertMatchesNaive(rows, QuartileRoutes(df, TableOneConfig(Some("strat"), Seq("cat", "cont"))))
    }
  }

  test("a census above LocalMaxRows stays distributed, matches the naive computation, caches nothing") {
    // two strata of 250k distinct doubles each (interleaved), so the
    // census outgrows the driver route by size alone; plus NaN, -0.0 and
    // 0.0 (one census value), null values, a null stratum and a stratum
    // with a single row
    val cats = Vector(Some("Yes"), Some("No"), Some("x y"), Some("other"), None)
    val big = (0 until 250000).flatMap { i =>
      Seq(Rec(Some("A"), cats(i % 5), Some(i / 1024.0 - 100)),
        Rec(Some("B"), cats(i % 3), Some((i + 0.5) / 1024.0 - 100)))
    } ++ Seq(
      Rec(Some("A"), None, Some(Double.NaN)), Rec(Some("A"), Some("Yes"), Some(Double.NaN)),
      Rec(Some("B"), None, Some(-0.0)), Rec(Some("B"), Some("No"), Some(0.0)),
      Rec(Some("B"), Some("No"), None), Rec(None, Some("x y"), Some(3.5)), Rec(None, None, None),
      Rec(Some("C"), Some("other"), Some(42.0)))
    val census = big.flatMap(r => r.cont.map(v => (r.strat, if (v == 0.0) 0.0 else v))).distinct.size
    census.toLong should be > graft.ops.OrderStatistics.LocalMaxRows
    val df = spark.sparkContext.parallelize(big, 4).toDF()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = TableOne.summarize(df, TableOneConfig(Some("strat"), Seq("cat", "cont"))).collect()
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
    assertMatchesNaive(big, out)
  }

  test("a zero-row input gives zero counts, null statistics and NOT DONE tests on both routes") {
    // three empty partitions: the census tallies nothing anywhere
    val empty = spark.sparkContext.parallelize(Seq.empty[Rec], 3).toDF()
    val configs = Seq(TableOneConfig(Some("strat"), Seq("cat", "cont"), pValues = true),
      TableOneConfig(Some("strat"), Seq("cat", "cont")), TableOneConfig(None, Seq("cat", "cont")))
    for (cfg <- configs) withClue(s"$cfg: ") {
      val out = QuartileRoutes(empty, cfg)
      // no rows means no strata and no categories: Totals, then the
      // eight continuous statistics
      out.map(_.getAs[String]("Values")).toSeq shouldBe
        Seq("ALL", "n", "min", "max", "mean", "stddev", "25th percentile", "50th percentile", "75th percentile")
      out.head.getAs[Double]("All_Patients") shouldBe 0.0
      out.tail.foreach { r =>
        if (r.getAs[String]("Values") == "n") r.getAs[Double]("All_Patients") shouldBe 0.0
        else r.isNullAt(r.fieldIndex("All_Patients")) shouldBe true
      }
      if (cfg.pValues) out.tail.head.getAs[String]("test_name") shouldBe StatTests.NotDone.testName
      else out.head.schema.fieldNames should not contain "test_name"
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
    // at or under the cap it works, on both routes
    TableOne.summarize(df, TableOneConfig(Some("strat"), Seq("cont"), maxStrata = 50))
      .collect().length should be > 0
    intercept[IllegalArgumentException] {
      TableOne.summarize(df, TableOneConfig(Some("strat"), Seq("cont"), maxStrata = 10), localMaxRows = 0L)
    }.getMessage should include ("distinct values")
    TableOne.summarize(df, TableOneConfig(Some("strat"), Seq("cont"), maxStrata = Int.MaxValue),
      localMaxRows = 0L).collect().length should be > 0
    // a cap below 1 is rejected outright: on the distributed route it
    // would collect no row counter, even for an unstratified summary
    for (m <- Seq(0, -1); strat <- Seq(Some("strat"), None); local <- Seq(None, Some(0L))) {
      withClue(s"maxStrata $m, stratify $strat, localMaxRows $local: ") {
        intercept[IllegalArgumentException] {
          val cfg = TableOneConfig(strat, Seq("cont"), maxStrata = m)
          local.fold(TableOne.summarize(df, cfg))(TableOne.summarize(df, cfg, _))
        }.getMessage should include ("maxStrata must be >= 1")
      }
    }
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
