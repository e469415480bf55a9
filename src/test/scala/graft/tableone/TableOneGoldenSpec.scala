package graft.tableone

import graft.TestSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, current_date, lit, lower, row_number, when}
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** End-to-end golden test reproducing the reference's only test input
  * (/root/reference/testing.py:18-29): 10 patients, stratify by `plan`,
  * analyze `name` (categorical, with nulls) + `age` (continuous),
  * beautify + p-values. Expected cells derived by hand from the reference
  * semantics; test statistics from independent numpy closed forms.
  */
class TableOneGoldenSpec extends AnyFunSuite {
  private val eps = 1e-9
  private lazy val spark = TestSpark.spark

  private lazy val fixture = {
    import spark.implicits._
    Seq(
      (1L, Option("John"), "East", Option("PPO"), 18L, Option(10.0)),
      (2L, Option("John"), "East", Option("HMO"), 25L, Option(20.0)),
      (3L, Option("John"), "East", Option("PPO"), 21L, Option(15.0)),
      (4L, Option("Sally"), "West", Option("FFS"), 55L, Option(29.0)),
      (5L, Option("Sally"), "West", Option.empty[String], 65L, Option(55.0)),
      (6L, Option("Sally"), "West", Option("PPO"), 70L, Option.empty[Double]),
      (7L, Option("Sally"), "South", Option("PPO"), 85L, Option.empty[Double]),
      (8L, Option("Susi"), "South", Option("HMO"), 19L, Option(20.0)),
      (9L, Option.empty[String], "South", Option.empty[String], 34L, Option(16.0)),
      (10L, Option.empty[String], "Arctic", Option("FFS"), 28L, Option(18.0))
    ).toDF("PID", "name", "region", "plan", "age", "number_of_claims")
  }

  private def near(a: Any, b: Option[Double]): Boolean = (a, b) match {
    case (null, None)         => true
    case (x: Double, Some(v)) => (x.isNaN && v.isNaN) || math.abs(x - v) < eps
    case _                    => false
  }

  test("golden: stratified + beautify + p-values matches reference semantics") {
    val out = TableOne.summarize(fixture,
      TableOneConfig(stratify = Some("plan"), cols = Seq("name", "age"),
        beautify = true, pValues = true))

    assert(out.columns.toSeq == Seq(
      "Index", "Characteristics", "Values",
      "All_Patients", "All_Patients_%", "FFS", "FFS_%", "HMO", "HMO_%",
      "PPO", "PPO_%", "MISSING", "MISSING_%", "p_value", "test_value", "test_name"))

    val rows = out.collect()
    assert(rows.length == 13)

    // (Index, label, Values, AP, AP%, FFS, FFS%, HMO, HMO%, PPO, PPO%, MI, MI%)
    val expected: Seq[(Double, Option[String], String, Seq[Option[Double]])] = Seq(
      (0.0, Some("Total"), "ALL",
        Seq(Some(10.0), Some(1.0), Some(2.0), Some(1.0), Some(2.0), Some(1.0), Some(4.0), Some(1.0), Some(2.0), Some(1.0))),
      (1.01, Some("name"), "John",
        Seq(Some(3.0), Some(0.3), Some(0.0), Some(0.0), Some(1.0), Some(0.5), Some(2.0), Some(0.5), Some(0.0), Some(0.0))),
      (1.02, None, "Sally",
        Seq(Some(4.0), Some(0.4), Some(1.0), Some(0.5), Some(0.0), Some(0.0), Some(2.0), Some(0.5), Some(1.0), Some(0.5))),
      (1.03, None, "Susi",
        Seq(Some(1.0), Some(0.1), Some(0.0), Some(0.0), Some(1.0), Some(0.5), Some(0.0), Some(0.0), Some(0.0), Some(0.0))),
      (1.04, None, "MISSING",
        Seq(Some(2.0), Some(0.2), Some(1.0), Some(0.5), Some(0.0), Some(0.0), Some(0.0), Some(0.0), Some(1.0), Some(0.5))),
      (2.1, Some("age"), "n",
        Seq(Some(10.0), None, Some(2.0), None, Some(2.0), None, Some(4.0), None, Some(2.0), None)),
      (2.2, None, "min",
        Seq(Some(18.0), None, Some(28.0), None, Some(19.0), None, Some(18.0), None, Some(34.0), None)),
      (2.3, None, "max",
        Seq(Some(85.0), None, Some(55.0), None, Some(25.0), None, Some(85.0), None, Some(65.0), None)),
      (2.4, None, "mean",
        Seq(Some(42.0), None, Some(41.5), None, Some(22.0), None, Some(48.5), None, Some(49.5), None)),
      (2.5, None, "stddev",
        Seq(Some(24.55379581427053), None, Some(19.091883092036785), None, Some(4.242640687119285), None,
          Some(34.06366588218792), None, Some(21.920310216782973), None)),
      (2.6, None, "25th percentile",
        Seq(Some(21.0), None, Some(28.0), None, Some(19.0), None, Some(18.0), None, Some(34.0), None)),
      (2.7, None, "50th percentile",
        Seq(Some(28.0), None, Some(28.0), None, Some(19.0), None, Some(21.0), None, Some(34.0), None)),
      (2.8, None, "75th percentile",
        Seq(Some(65.0), None, Some(55.0), None, Some(25.0), None, Some(70.0), None, Some(65.0), None)))

    rows.sortBy(_.getAs[Double]("Index")).zip(expected).foreach {
      case (r: Row, (idx, label, values, cells)) =>
        assert(math.abs(r.getAs[Double]("Index") - idx) < eps, s"Index of $values")
        assert(Option(r.getAs[String]("Characteristics")) == label, s"label at $idx")
        assert(r.getAs[String]("Values") == values, s"Values at $idx")
        val actual = (3 to 12).map(r.get)
        actual.zip(cells).zipWithIndex.foreach { case ((a, e), i) =>
          assert(near(a, e), s"cell $i of row $idx/$values: got $a want $e")
        }
    }

    val byIdx = rows.map(r => r.getAs[Double]("Index") -> r).toMap
    // chi-square on name attaches to its first category row
    val nameRow = byIdx(1.01)
    assert(nameRow.getAs[String]("test_name") == "Chi-Square")
    assert(math.abs(nameRow.getAs[Double]("test_value") - 6.0) < eps)
    assert(math.abs(nameRow.getAs[Double]("p_value") - 0.4231900811268434) < eps)
    // ANOVA (4 strata) on age attaches to its "n" row
    val ageRow = byIdx(2.1)
    assert(ageRow.getAs[String]("test_name") == "ANOVA")
    assert(math.abs(ageRow.getAs[Double]("test_value") - 0.498158379373849) < eps)
    assert(math.abs(ageRow.getAs[Double]("p_value") - 0.6970024854827013) < eps)
    // all other rows carry no test
    rows.filter(r => !Set(1.01, 2.1).contains(r.getAs[Double]("Index")))
      .foreach(r => assert(r.getAs[String]("test_name") == null))
  }

  test("unstratified summary: totals + percents, p-values forced off") {
    val out = TableOne.summarize(fixture,
      TableOneConfig(cols = Seq("name", "age"), pValues = true))
    assert(out.columns.toSeq == Seq(
      "Pivoted_column", "Index", "Characteristics", "Variable_type", "Values",
      "All_Patients", "All_Patients_%"))
    val rows = out.collect().sortBy(_.getAs[Double]("Index"))
    assert(rows.length == 13)
    val total = rows.head
    assert(total.getAs[String]("Characteristics") == "Total" &&
      total.getAs[Double]("All_Patients") == 10.0 &&
      total.getAs[String]("Pivoted_column") == "")
    val john = rows(1)
    assert(john.getAs[String]("Values") == "John" &&
      john.getAs[Double]("All_Patients") == 3.0 &&
      math.abs(john.getAs[Double]("All_Patients_%") - 0.3) < eps)
    val mean = rows.find(_.getAs[String]("Values") == "mean").get
    assert(mean.getAs[Double]("All_Patients") == 42.0)
  }

  test("forced-off p-values and skipped columns are logged as warnings, not printed") {
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("tableone-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN) warnings.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger(TableOne.getClass.getName.stripSuffix("$")).asInstanceOf[Logger]
    val err = new java.io.ByteArrayOutputStream
    capture.start()
    logger.addAppender(capture)
    try Console.withErr(err) {
      TableOne.summarize(fixture.withColumn("seen", current_date()),
        TableOneConfig(cols = Seq("name", "seen"), pValues = true)).collect()
    } finally {
      logger.removeAppender(capture)
      capture.stop()
    }
    assert(warnings.asScala.toSeq === Seq(
      "p_values forced off: no stratification column", "unsupported column type seen:DateType — skipped"))
    assert(err.size === 0)
  }

  test("two strata selects the t-test; booleans summarize as categories") {
    import spark.implicits._
    // strat East/West only; analyze a boolean (two-category variable) and
    // age (t-test); a timestamp column is the one that gets skipped
    val df = fixture.filter($"region".isin("East", "West"))
      .withColumn("flag", $"age" > org.apache.spark.sql.functions.lit(30))
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
    val out = TableOne.summarize(df,
      TableOneConfig(stratify = Some("region"), cols = Seq("flag", "age", "ts"), pValues = true))
    val rows = out.collect()
    // flag is variable 1 with categories false/true; ts produced no rows
    val flagVals = rows.filter(_.getAs[String]("Characteristics") == "flag")
      .map(_.getAs[String]("Values")).toSet
    assert(flagVals == Set("true", "false"))
    assert(!rows.exists(_.getAs[String]("Characteristics") == "ts"))
    // age is variable 2; its n row carries the t-test
    val nRow = rows.find(r => r.getAs[String]("Values") == "n").get
    assert(math.abs(nRow.getAs[Double]("Index") - 2.1) < eps)
    assert(nRow.getAs[String]("test_name") == "t-test")
    // East ages: 18,25,21; West: 55,65,70 -> pooled t
    val east = GroupMoments(3, 64.0 / 3, Seq(18.0, 25, 21).map(x => math.pow(x - 64.0 / 3, 2)).sum / 2)
    val west = GroupMoments(3, 190.0 / 3, Seq(55.0, 65, 70).map(x => math.pow(x - 190.0 / 3, 2)).sum / 2)
    val want = StatTests.pooledTTest(east, west)
    assert(math.abs(nRow.getAs[Double]("test_value") - want.testValue) < eps)
    assert(math.abs(nRow.getAs[Double]("p_value") - want.pValue) < eps)
  }

  test("strat-value sanitization merges, renames, and orders columns") {
    import spark.implicits._
    val df = Seq(
      ("a b", 1.0), ("a_b", 2.0), ("Yes", 3.0), ("No", 4.0), ("café", 5.0)
    ).toDF("s", "x")
      .union(Seq((null.asInstanceOf[String], 6.0)).toDF("s", "x"))
    val out = TableOne.summarize(df, TableOneConfig(stratify = Some("s"), cols = Seq("x")))
    // "a b" and "a_b" merge; café -> caf?; Yes, No first; MISSING last
    val strata = out.columns.toSeq
      .dropWhile(_ != "All_Patients_%").drop(1).filterNot(_.endsWith("_%"))
    assert(strata == Seq("Yes", "No", "a_b", "caf?", "MISSING"))
    val totals = out.collect().find(_.getAs[String]("Values") == "ALL").get
    assert(totals.getAs[Double]("a_b") == 2.0)

    // Strata are grouped by RAW value and merged on the driver; that must
    // equal grouping by the pre-sanitized value cell for cell: counts,
    // extrema and quartiles exactly, means, stddevs and test statistics
    // (merged moments) to 1e-12 relative. Both summarize routes merge the
    // raw values the same way.
    // Colliding raw values: "a b"/"a_b", "café"/"caf€", null/"MISSING",
    // and "Ω"/"Ж" whose merged stratum has a single non-null x.
    val rich = ((1 to 160).map { i =>
      val s = Seq("a b", "a_b", "café", "caf€", null, "MISSING", "Yes", "No")(i % 8)
      val x: java.lang.Double = if (i % 9 == 0) null else ((i * 37) % 23) / 4.0
      val k: java.lang.Integer = if (i % 10 == 0) null else i % 4
      (s, k, x, i * 1.1, s"c${i % 3}")
    } ++ Seq(("Ω", null, java.lang.Double.valueOf(2.0), 0.5, "c0"),
      ("Ж", Int.box(1), null, 0.25, "c1"))).toDF("s", "k", "x", "y", "c")
    val relCells = Set("mean", "stddev")
    def rows(df: org.apache.spark.sql.DataFrame, s: String) =
      TableOne.summarize(df, TableOneConfig(stratify = Some(s), cols = Seq("x", "y", "c"),
        pValues = true))
    for (s <- Seq("s", "k")) {
      QuartileRoutes(rich, TableOneConfig(stratify = Some(s), cols = Seq("x", "y", "c"), pValues = true))
      val got = rows(rich, s)
      val want = rows(rich.withColumn(s, Sanitize.stratColumn(col(s))), s)
      assert(got.columns.toSeq == want.columns.toSeq)
      val cols = got.columns.toSeq
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.collect().sortBy(r => (r.getAs[Double]("Index"), r.getAs[String]("Values")))
      val (g, w) = (sorted(got), sorted(want))
      assert(g.length == w.length)
      g.zip(w).foreach { case (a, b) =>
        cols.indices.foreach { i =>
          val what = s"stratify=$s ${a.getAs[String]("Characteristics")}/" +
            s"${a.getAs[String]("Values")} ${cols(i)}: ${a.get(i)} vs ${b.get(i)}"
          (a.get(i), b.get(i)) match {
            case (x: Double, y: Double)
                if relCells(a.getAs[String]("Values")) || cols(i) == "p_value" ||
                  cols(i) == "test_value" =>
              assert((x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-12 * math.max(x.abs, y.abs), what)
            case (x, y) => assert(x == y, what)
          }
        }
      }
    }
  }

  test("summarize leaves zero residual cached RDDs (exact-quartile persists released)") {
    import spark.implicits._
    val df = Seq(("A", 1.0, "x"), ("B", 2.0, "y"), ("A", 3.0, "x"), ("B", 4.0, "z"))
      .toDF("s", "num", "cat")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the driver route persists nothing; the distributed route persists
    // its census and the range shuffle for the call only
    QuartileRoutes(df, TableOneConfig(stratify = Some("s"), cols = Seq("num", "cat"), pValues = true))
    val residual = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(residual.isEmpty, s"summarize leaked cached RDDs: $residual")
  }

  test("all-null continuous columns yield null quartile cells without a quartile job") {
    import spark.implicits._
    val df = Seq(("A", Option.empty[Double]), ("B", Option.empty[Double]))
      .toDF("s", "x")
    val out = TableOne.summarize(df,
      TableOneConfig(stratify = Some("s"), cols = Seq("x"))).collect()
    val q = out.filter(_.getAs[String]("Values").endsWith("percentile"))
    assert(q.length == 3)
    q.foreach { r =>
      assert(r.getAs[Any]("All_Patients") == null)
      assert(r.getAs[Any]("A") == null && r.getAs[Any]("B") == null)
    }
    val n = out.find(_.getAs[String]("Values") == "n").get
    assert(n.getAs[Double]("All_Patients") == 0.0)
  }

  test("driver-side and range-shuffled quartile routes match summarize") {
    import spark.implicits._
    // ties, skew, a null stratum and null measures: both summarize routes
    // must give the same table, and its quartile cells must be the
    // rank-ceil(k*n/4) elements of every (column, stratum) and the total
    val data = (1 to 400).map { i =>
      val s = if (i % 7 == 0) null else s"g${i % 3}"
      val v: java.lang.Double = if (i % 11 == 0) null else (i % 17).toDouble
      val c = if (i % 13 == 0) null else s"cat${i % 4}"
      (s, v, i.toDouble, c)
    }
    val df = data.toDF("s", "a", "b", "c")
    val out = QuartileRoutes(df,
      TableOneConfig(stratify = Some("s"), cols = Seq("a", "b", "c"), pValues = true))
    val slots = Seq("25th percentile" -> 1L, "50th percentile" -> 2L, "75th percentile" -> 3L)
    for (c <- Seq("a", "b"); key <- None +: Seq("g0", "g1", "g2", "MISSING").map(Some(_))) {
      val values = data.filter(r => key.forall(_ == Option(r._1).getOrElse("MISSING")))
        .flatMap(r => Option(if (c == "a") r._2 else Double.box(r._3))).map(_.doubleValue).sorted
      slots.foreach { case (slot, k) =>
        val cell = out.find(r => r.getAs[String]("Characteristics") == c && r.getAs[String]("Values") == slot)
          .get.getAs[Double](key.getOrElse("All_Patients"))
        assert(cell == values(((k * values.length + 3) / 4 - 1).toInt), s"$c $key $slot")
      }
    }
  }

  test("driver-side row order is Spark's orderBy(Index, Values), UTF-8 string order included") {
    import spark.implicits._
    // Spark orders strings by UTF-8 bytes (code points): "ﬁ" (U+FB01)
    // before "😀" (U+1F600), the reverse of Java's UTF-16 String order.
    // v1 has 104 categories, so its ranks 101-102 land on the same Index
    // doubles as v2's ranks 1-2 (1 + 101 * 0.01 == 2 + 1 * 0.01): there
    // "😀" of v1 and "ﬁ" of v2 tie on Index and the string order decides.
    val v1 = Seq("Yes", "No", "😀", "Unknown", "other", null) ++ (0 until 98).map(i => f"c$i%02d")
    // "UN\u212ANOWN" (Kelvin sign) lower-cases to "unknown" under full
    // Unicode case mapping only
    val v2 = Seq("😀", "ﬁ", "Unknown", "UN\u212ANOWN")
    val df = (0 until 208).map(i => (if (i % 2 == 0) "a" else "b", v1(i % v1.size), v2(i % v2.size)))
      .toDF("g", "v1", "v2")
    for (beautify <- Seq(false, true)) withClue(s"beautify=$beautify: ") {
      val out = TableOne.summarize(df, TableOneConfig(Some("g"), Seq("v1", "v2"), beautify = beautify))
      val rows = out.collect().toSeq
      val viaSpark = spark.createDataFrame(rows.asJava, out.schema).repartition(3)
        .orderBy("Index", "Values").collect().toSeq
      assert(rows.map(_.getAs[String]("Values")) == viaSpark.map(_.getAs[String]("Values")))
      assert(rows == viaSpark)
      val tie = rows.filter(_.getAs[Double]("Index") == 2.0 + 1 * 0.01).map(_.getAs[String]("Values"))
      assert(tie == Seq("ﬁ", "😀"))
    }
    // category ranks follow Spark's (order key, Values) window order, the
    // order key being the reference's own Spark expression
    val v = col("Values")
    val orderKey = when(v === "Yes", 1).when(v === "No", 2).when(v === "MISSING", 6)
      .when(lower(v).rlike("missing|unknown|other"), 5).otherwise(3)
    val out = TableOne.summarize(df, TableOneConfig(Some("g"), Seq("v1", "v2")))
    val ranked = out.filter(col("Variable_type") === "category")
      .withColumn("rn", row_number().over(Window.partitionBy("Characteristics")
        .orderBy(orderKey, v)))
      .withColumn("want", when(col("Characteristics") === "v1", lit(1.0)).otherwise(lit(2.0)) + col("rn") * 0.01)
    assert(ranked.filter(col("Index") =!= col("want")).count() == 0L)
    assert(ranked.count() == 108L)
    assert(ranked.filter(v === "UN\u212ANOWN").select("rn").as[Int].collect().toSeq == Seq(3))
  }
}
