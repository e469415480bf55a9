package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class QualitySpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 10 rows with planted violations of every class
  private def fixture = Seq(
    (1L, Some(5.0), "1-URGENT"),
    (2L, Some(15.0), "2-HIGH"),     // out of [0,10]
    (3L, None, "3-MEDIUM"),         // null value
    (4L, Some(7.0), "garbage"),     // regex violation
    (5L, Some(-1.0), "4-LOW"),      // out of range (below)
    (5L, Some(3.0), "5-LOW"),       // duplicate id
    (6L, Some(2.0), "1-URGENT"),
    (7L, Some(0.0), "2-HIGH"),      // boundary: inclusive, NOT a violation
    (8L, Some(10.0), "3-MEDIUM"),   // boundary: inclusive
    (9L, None, "4-LOW")             // second null
  ).toDF("id", "v", "prio")

  private def report(checks: Seq[Quality.Check]) =
    Quality.checkSuite(fixture, checks)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getBoolean(6))).toSeq

  test("scalar checks count exact violations in one shared pass") {
    val rows = report(Seq(
      Quality.NotNull("v"),
      Quality.InRange("v", 0.0, 10.0),
      Quality.MatchesRegex("prio", "^[1-5]-")))
    rows(0) shouldBe ("not_null", "v", 10L, 2L, 0.2, false)
    // nulls are NOT range violations (NotNull's business); boundaries inclusive
    rows(1) shouldBe ("in_range", "v[0.0,10.0]", 10L, 2L, 0.2, false)
    rows(2) shouldBe ("matches_regex", "prio~^[1-5]-", 10L, 1L, 0.1, false)
  }

  test("thresholds gate pass/fail; report preserves declaration order") {
    val rows = report(Seq(
      Quality.MatchesRegex("prio", "^[1-5]-", maxBadFrac = 0.1), // frac == thr -> pass
      Quality.NotNull("v", maxBadFrac = 0.1)))                   // 0.2 > 0.1 -> fail
    rows(0)._6 shouldBe true
    rows(1)._6 shouldBe false
    rows.map(_._1) shouldBe Seq("matches_regex", "not_null")
  }

  test("uniqueness counts rows beyond the first of each duplicated tuple") {
    val rows = report(Seq(
      Quality.Unique(Seq("id")),
      Quality.Unique(Seq("id", "prio")))) // (5, 4-LOW) vs (5, 5-LOW): distinct pairs
    rows(0) shouldBe ("unique", "id", 10L, 1L, 0.1, false)
    rows(1) shouldBe ("unique", "id,prio", 10L, 0L, 0.0, true)
  }

  test("referential counts orphans, excluding null keys") {
    val withNullKey = fixture.withColumn("fk",
      org.apache.spark.sql.functions.when($"id" <= 7, $"id"))
    val ref = Seq(1L, 2L, 3L, 4L).toDF("k")
    val out = Quality.checkSuite(withNullKey,
        Seq(Quality.Referential("fk", ref, "k", maxBadFrac = 0.5)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3), r.getBoolean(6)))
    // fk non-null for ids 1..7 (8 rows incl. the duplicate 5); orphans: 5, 5, 6, 7
    out.head shouldBe ("referential", "fk->k", 4L, true)
  }

  test("empty table passes every check vacuously") {
    val empty = fixture.filter($"id" < 0)
    val rows = Quality.checkSuite(empty, Seq(
        Quality.NotNull("v"), Quality.Unique(Seq("id")),
        Quality.Referential("id", Seq(1L).toDF("k"), "k")))
      .collect()
    all(rows.map(_.getLong(2))) shouldBe 0L
    all(rows.map(_.getDouble(4))) shouldBe 0.0
    all(rows.map(_.getBoolean(6))) shouldBe true
  }

  test("argument validation") {
    an[IllegalArgumentException] should be thrownBy
      Quality.checkSuite(fixture, Nil)
    an[IllegalArgumentException] should be thrownBy
      Quality.checkSuite(fixture, Seq(Quality.Unique(Nil)))
  }

  test("profileExact: exact ndv/nulls/min/max and a total-order mode") {
    val out = Quality.profileExact(fixture, Seq("id", "v", "prio"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5), r.getString(6), r.getLong(7))).toSeq
    // id: 10 rows, no nulls, 9 distinct (5 twice); mode 5 with count 2
    out(0) shouldBe ("id", 10L, 0L, 9L, "1", "9", "5", 2L)
    // v: 2 nulls, 8 distinct non-null; every count 1 -> mode ties broken
    // toward the LARGER native value: 15.0
    out(1) shouldBe ("v", 10L, 2L, 8L, "-1.0", "15.0", "15.0", 1L)
    // prio: 6 distinct; four values tie at count 2 -> larger string wins
    out(2)._1 shouldBe "prio"
    out(2)._4 shouldBe 6L
    out(2)._7 shouldBe "4-LOW"
    out(2)._8 shouldBe 2L
  }

  test("profileExact: numeric min/max compare natively, not lexicographically") {
    val df = Seq(9L, 10L, 100L).toDF("n")
    val r = Quality.profileExact(df, Seq("n")).head()
    r.getString(4) shouldBe "9"
    r.getString(5) shouldBe "100"
  }

  test("profileApprox: one-scan sketch agrees with exact on nulls/min/max, ndv within rsd") {
    val df = (1L to 2000L).map(i => (i, if (i % 10 == 0) None else Some(i % 97)))
      .toDF("id", "m")
    val exact = Quality.profileExact(df, Seq("id", "m")).collect()
    val approx = Quality.profileApprox(df, Seq("id", "m"), rsd = 0.02).collect()
    approx.zip(exact).foreach { case (a, e) =>
      a.getString(0) shouldBe e.getString(0)
      a.getLong(1) shouldBe e.getLong(1)                 // n_rows exact
      a.getLong(2) shouldBe e.getLong(2)                 // n_null exact
      a.getString(4) shouldBe e.getString(4)             // min exact
      a.getString(5) shouldBe e.getString(5)             // max exact
      a.getLong(3).toDouble shouldBe e.getLong(3).toDouble +- e.getLong(3) * 0.1
      a.isNullAt(6) shouldBe true                        // no mode from a sketch
    }
  }

  test("auditedCommit publishes only data that passes its gate") {
    val t = java.nio.file.Files.createTempDirectory("graft_wap").resolve("t").toString
    val good = Seq((1L, 5.0), (2L, 7.0)).toDF("k", "x")
    val bad = Seq((3L, 5.0), (3L, 99.0)).toDF("k", "x") // dup key + out of range
    val gate = Seq(Quality.NotNull("k"), Quality.Unique(Seq("k")),
      Quality.InRange("x", 0.0, 10.0))
    Quality.auditedCommit(good, t, gate) shouldBe 1L
    val ex = intercept[Quality.QualityGateFailed] {
      Quality.auditedCommit(bad, t, gate)
    }
    ex.getMessage should include("unique")
    ex.getMessage should include("in_range")
    // nothing was published: the table still reads as version 1
    graft.sources.VersionedTable.latestVersion(spark, t) shouldBe 1L
    graft.sources.VersionedTable.read(spark, t).count() shouldBe 2L
  }

  test("profileExact on an all-null column") {
    val df = Seq[Option[Long]](None, None).toDF("x")
    val r = Quality.profileExact(df, Seq("x")).head()
    (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(7)) shouldBe ((2L, 2L, 0L, 0L))
    r.isNullAt(4) shouldBe true
    r.isNullAt(6) shouldBe true
  }

  test("correlationMatrix: exact pairs, listwise nulls, constant column -> NULL") {
    val df = Seq(
      (1.0, 2.0, 5.0), (2.0, 4.0, 3.0), (3.0, 6.0, 8.0),
      (4.0, 8.0, 1.0), (5.0, 10.0, 9.0)).toDF("x", "y", "z")
    val out = Quality.correlationMatrix(df.repartition(3), Seq("x", "y", "z"))
      .orderBy("col_x", "col_y").collect()
    out.map(r => (r.getString(0), r.getString(1))).toSeq shouldBe
      Seq(("x", "y"), ("x", "z"), ("y", "z"))
    all(out.map(_.getAs[Long]("n"))) shouldBe 5L
    out(0).getAs[Double]("corr") shouldBe 1.0 +- 1e-12      // y = 2x exactly
    out(1).getAs[Double]("corr") shouldBe 0.2834733547569204 +- 1e-12
    out(2).getAs[Double]("corr") shouldBe 0.2834733547569204 +- 1e-12
    // a null in ANY column drops the row for EVERY pair (listwise)
    val withNull = (Seq(
      (1.0, 2.0, Option(5.0)), (2.0, 4.0, Option(3.0)), (3.0, 6.0, Option(8.0)),
      (4.0, 8.0, Option(1.0)), (5.0, 10.0, Option(9.0)),
      (10.0, -100.0, None: Option[Double]))).toDF("x", "y", "z")
    val ln = Quality.correlationMatrix(withNull, Seq("x", "y", "z")).collect()
    all(ln.map(_.getAs[Long]("n"))) shouldBe 5L
    ln(0).getAs[Double]("corr") shouldBe 1.0 +- 1e-12
    // constant column: zero variance is NULL, never NaN
    val const = Seq((1.0, 7.0), (2.0, 7.0), (3.0, 7.0)).toDF("a", "b")
    val c = Quality.correlationMatrix(const, Seq("a", "b")).head()
    c.isNullAt(3) shouldBe true
  }

  test("kAnonymity: census counts, null QI values, exact budget identities") {
    val df = Seq(
      ("a", Some("en")), ("a", Some("en")), ("a", Some("en")),
      ("a", Some("de")), ("b", Some("en")), ("b", Some("en")),
      ("b", None), ("b", None)).toDF("src", "lang")
    val r = Quality.kAnonymity(df, Seq("src", "lang"), k = 3L).head()
    r.getAs[Long]("k_threshold") shouldBe 3L
    r.getAs[Long]("n_rows") shouldBe 8L
    // groups: (a,en)=3 ok, (a,de)=1, (b,en)=2, (b,null)=2 -> 3 violating
    r.getAs[Long]("n_groups") shouldBe 4L
    r.getAs[Long]("n_violating_groups") shouldBe 3L
    r.getAs[Long]("n_rows_at_risk") shouldBe 5L
    r.getAs[Long]("min_group_size") shouldBe 1L
    // k = 1: nothing can violate
    val ok = Quality.kAnonymity(df, Seq("src", "lang"), k = 1L).head()
    ok.getAs[Long]("n_violating_groups") shouldBe 0L
    ok.getAs[Long]("n_rows_at_risk") shouldBe 0L
  }

  test("lDiversity: distinct sensitive values per QI group, NULL is a value") {
    val df = Seq(
      // group a: 4 rows, sensitive {en, de, fr} -> l = 3
      ("a", Some("en")), ("a", Some("de")), ("a", Some("fr")), ("a", Some("en")),
      // group b: 3 rows, sensitive {en, NULL} -> l = 2 (NULL counts)
      ("b", Some("en")), ("b", None), ("b", Some("en")),
      // group c: 2 rows, all en -> l = 1 (homogeneous: the attack case)
      ("c", Some("en")), ("c", Some("en"))).toDF("src", "lang")
    val r = Quality.lDiversity(df, Seq("src"), "lang", l = 2L).head()
    r.getAs[Long]("l_threshold") shouldBe 2L
    r.getAs[Long]("n_rows") shouldBe 9L
    r.getAs[Long]("n_groups") shouldBe 3L
    r.getAs[Long]("n_violating_groups") shouldBe 1L
    r.getAs[Long]("n_rows_at_risk") shouldBe 2L
    r.getAs[Long]("min_l") shouldBe 1L
    // l = 3: b (l=2) and c (l=1) both violate
    val r3 = Quality.lDiversity(df, Seq("src"), "lang", l = 3L).head()
    r3.getAs[Long]("n_violating_groups") shouldBe 2L
    r3.getAs[Long]("n_rows_at_risk") shouldBe 5L
    // a k-anonymous homogeneous group passes k but fails l: the reason
    // the companion gate exists
    val ka = Quality.kAnonymity(df.filter($"src" === "c"), Seq("src"), k = 2L).head()
    ka.getAs[Long]("n_violating_groups") shouldBe 0L
    val ld = Quality.lDiversity(df.filter($"src" === "c"), Seq("src"), "lang", l = 2L).head()
    ld.getAs[Long]("n_violating_groups") shouldBe 1L
  }
}
