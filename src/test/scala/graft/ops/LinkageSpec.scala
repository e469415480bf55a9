package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._

class LinkageSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // --- sorted-neighborhood ---------------------------------------------

  test("sortedNeighborhoodPairs: each row pairs with its next window-1 in-block successors") {
    val rows = Seq(
      (1L, "x", 10L), (2L, "x", 30L), (3L, "x", 20L), (4L, "x", 40L),
      (5L, "y", 5L), (6L, "y", 6L))
    val out = Dedup.sortedNeighborhoodPairs(rows.toDF("id", "blk", "k"),
        "id", col("blk"), col("k"), window = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // block x sorted by k: 1(10), 3(20), 2(30), 4(40)
    out shouldBe Set((1L, 3L), (1L, 2L), (3L, 2L), (3L, 4L), (2L, 4L), (5L, 6L))
  }

  test("sortedNeighborhoodPairs: no cross-block pairs; window=2 is adjacency") {
    val rows = (1L to 20L).map(i => (i, (i % 4).toString, i))
    val out = Dedup.sortedNeighborhoodPairs(rows.toDF("id", "blk", "k"),
        "id", col("blk"), col("k"), window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    out.foreach { case (a, b) => (a % 4) shouldBe (b % 4) }
    out.length shouldBe 4 * 4 // 5 rows per block -> 4 adjacent pairs
  }

  test("sortedNeighborhoodPairs carries columns as _a/_b") {
    val rows = Seq((1L, "x", 1L, "p"), (2L, "x", 2L, "q"))
    val out = Dedup.sortedNeighborhoodPairs(rows.toDF("id", "blk", "k", "t"),
        "id", col("blk"), col("k"), window = 2, carryCols = Seq("t"))
      .collect()
    out.length shouldBe 1
    out.head.getAs[String]("t_a") shouldBe "p"
    out.head.getAs[String]("t_b") shouldBe "q"
  }

  test("sortedNeighborhoodPairs: sort-key ties break by id deterministically") {
    val rows = Seq((7L, "x", 1L), (3L, "x", 1L), (5L, "x", 1L))
    val out = Dedup.sortedNeighborhoodPairs(rows.toDF("id", "blk", "k"),
        "id", col("blk"), col("k"), window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    out shouldBe Set((3L, 5L), (5L, 7L))
  }

  // --- fuzzy join -------------------------------------------------------

  private def lev(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0 }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  private def bruteForce(probes: Seq[(Long, String)], corpus: Seq[(Long, String)],
                         d: Int): Set[(Long, Long, Long)] =
    (for ((pid, ps) <- probes; (cid, cs) <- corpus; dist = lev(ps, cs)
          if dist <= d) yield (pid, cid, dist.toLong)).toSet

  test("fuzzyJoinLevenshtein equals brute force on random strings with planted edits") {
    val rnd = new scala.util.Random(42)
    def word() = Seq.fill(6 + rnd.nextInt(10))(('a' + rnd.nextInt(6)).toChar).mkString
    val corpus = (1L to 300L).map(i => (i, word()))
    // probes: 30 corpus strings with 0-2 planted edits (sub/ins/del)
    val probes = (1 to 30).map { k =>
      val (_, s0) = corpus(rnd.nextInt(corpus.length))
      var s = s0
      (0 until rnd.nextInt(3)).foreach { _ =>
        val p = rnd.nextInt(math.max(s.length, 1))
        s = rnd.nextInt(3) match {
          case 0 => s.updated(p, ('a' + rnd.nextInt(6)).toChar).mkString
          case 1 => s.substring(0, p) + ('a' + rnd.nextInt(6)).toChar + s.substring(p)
          case _ if s.length > 1 => s.substring(0, p) + s.substring(math.min(p + 1, s.length))
          case _ => s
        }
      }
      (1000L + k, s)
    }
    for (d <- Seq(1, 2)) {
      val got = Dedup.fuzzyJoinLevenshtein(
          probes.toDF("pid", "ps"), corpus.toDF("cid", "cs"),
          "pid", "ps", "cid", "cs", maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      got shouldBe bruteForce(probes, corpus, d)
    }
  }

  test("fuzzyJoinLevenshtein expands duplicate strings to the full id cross product") {
    // normalize-then-link must not lose id multiplicity: 2 probe rows x
    // 3 corpus rows of the same matched string pair -> 6 id pairs
    val probes = Seq((1L, "abcdef"), (2L, "abcdef"), (3L, "zzzzzz"))
    val corpus = Seq((10L, "abcdxf"), (11L, "abcdxf"), (12L, "abcdxf"), (13L, "qqqqqq"))
    val got = Dedup.fuzzyJoinLevenshtein(
        probes.toDF("pid", "ps"), corpus.toDF("cid", "cs"),
        "pid", "ps", "cid", "cs", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    got shouldBe bruteForce(probes, corpus, 2)
    got.size shouldBe 6
  }

  test("fuzzyJoinBest reports match count and deterministic (dist, id) best match") {
    val probes = Seq((1L, "abcdef"), (2L, "nomatchxx"))
    val corpus = Seq(
      (30L, "abcdxf"), (10L, "abcdxf"), // dist 1, best id 10
      (5L, "abcdxy"),                   // dist 2 — worse dist, smaller id loses
      (40L, "zzzzzz"))
    val got = Dedup.fuzzyJoinBest(
        probes.toDF("pid", "ps"), corpus.toDF("cid", "cs"),
        "pid", "ps", "cid", "cs", maxDist = 2)
      .orderBy("pid").collect()
      .map(r => (r.getLong(0),
        Option(r.getAs[Any]("n_matches")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("best_dist")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("best_id")).map(_.asInstanceOf[Long])))
    got shouldBe Array(
      (1L, Some(3L), Some(1L), Some(10L)),
      (2L, None, None, None))
  }

  test("fuzzyJoinBest equals the aggregated brute force on random data") {
    val rnd = new scala.util.Random(77)
    def word() = Seq.fill(6 + rnd.nextInt(8))(('a' + rnd.nextInt(5)).toChar).mkString
    // duplicate-heavy corpus: few distinct names, many ids per name
    val names = (1 to 40).map(_ => word())
    val corpus = (1L to 400L).map(i => (i, names(rnd.nextInt(names.length))))
    val probes = (1 to 25).map { k =>
      val s0 = names(rnd.nextInt(names.length))
      val s = if (k % 2 == 0) s0.drop(1) else s0
      (1000L + k, s)
    }
    val brute = bruteForce(probes, corpus, 2)
    val expect = probes.map { case (pid, _) =>
      val ms = brute.filter(_._1 == pid)
      if (ms.isEmpty) (pid, None, None, None)
      else {
        val best = ms.map { case (_, cid, dd) => (dd, cid) }.min
        (pid, Some(ms.size.toLong), Some(best._1), Some(best._2))
      }
    }.sortBy(_._1)
    val got = Dedup.fuzzyJoinBest(
        probes.toDF("pid", "ps"), corpus.toDF("cid", "cs"),
        "pid", "ps", "cid", "cs", maxDist = 2)
      .orderBy("pid").collect()
      .map(r => (r.getLong(0),
        Option(r.getAs[Any]("n_matches")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("best_dist")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("best_id")).map(_.asInstanceOf[Long]))).toSeq
    got shouldBe expect
  }

  test("fuzzyJoinBest key generation compiles under whole-stage codegen (no fallback)") {
    // with the fallback off, a generated class Janino rejects (a method
    // past 64 KB) throws instead of silently running interpreted
    val key = "spark.sql.codegen.fallback"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val probes = Seq((1L, "abcdefgh"), (2L, "abcxefgh"), (3L, "zz"))
      val corpus = Seq((10L, "abcdefgh"), (11L, "abcdefg"), (12L, "qqqqqqqq"), (13L, "z"))
      val got = Dedup.fuzzyJoinBest(
          probes.toDF("pid", "ps"), corpus.toDF("cid", "cs"),
          "pid", "ps", "cid", "cs", maxDist = 2)
        .orderBy("pid").collect()
        .map(r => (r.getLong(0), r.getAs[Any]("n_matches"), r.getAs[Any]("best_id")))
      got shouldBe Array((1L, 2L, 10L), (2L, 2L, 10L), (3L, 1L, 13L))
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("fuzzyJoinLevenshtein handles degenerate short strings soundly") {
    val probes = Seq((1L, "ab"), (2L, "a"), (3L, ""), (4L, "abcdef"))
    val corpus = Seq((10L, "ab"), (11L, "b"), (12L, ""), (13L, "abcd"),
      (14L, "xyzjklm"))
    val got = Dedup.fuzzyJoinLevenshtein(
        probes.toDF("pid", "ps"), corpus.toDF("cid", "cs"),
        "pid", "ps", "cid", "cs", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    got shouldBe bruteForce(probes, corpus, 2)
  }

  test("fuzzyJoinLevenshtein: null strings drop, maxDist bounds enforced") {
    val probes = Seq((1L, Option("abc")), (2L, None: Option[String]))
    val corpus = Seq((10L, Option("abc")), (11L, None: Option[String]))
    val got = Dedup.fuzzyJoinLevenshtein(
        probes.toDF("pid", "ps"), corpus.toDF("cid", "cs"),
        "pid", "ps", "cid", "cs", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe Set((1L, 10L))
    an[IllegalArgumentException] should be thrownBy
      Dedup.fuzzyJoinLevenshtein(probes.toDF("pid", "ps"),
        corpus.toDF("cid", "cs"), "pid", "ps", "cid", "cs", maxDist = 0)
    an[IllegalArgumentException] should be thrownBy
      Dedup.fuzzyJoinLevenshtein(probes.toDF("pid", "ps"),
        corpus.toDF("cid", "cs"), "pid", "ps", "cid", "cs", maxDist = 9)
  }

  test("jaroWinkler expression matches the published fixtures and edge cases") {
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),   // classic: 1 transposition + boost
      ("dixon", "dicksonx", 0.8133333333333332),  // prefix 2 boost
      ("jellyfish", "smellyfish", 0.8962962962962964), // no prefix -> jaro only
      ("shackleford", "shackelford", 0.9818181818181818), // prefix capped at 4
      ("abcdefgh", "abcdzzzz", 0.6666666666666666), // jaro <= 0.7 -> NO boost
      ("abc", "abc", 1.0),
      ("ab", "ba", 0.0),                           // window 0: no matches
      ("", "abc", 0.0), ("", "", 0.0))             // empty -> 0, even both-empty
    val df = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .withColumn("jw", graft.functions.HashFunctions.jaroWinkler(col("a"), col("b")))
    val got = df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    cases.foreach { case (a, b, want) =>
      got((a, b)) shouldBe want +- 1e-12
    }
    // null propagates
    Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .withColumn("jw", graft.functions.HashFunctions.jaroWinkler(col("a"), col("b")))
      .head().isNullAt(2) shouldBe true
  }

  test("jaroWinklerPairs equals brute force at a band-biting threshold and counts multiplicity") {
    // t = 0.9 -> jaro floor 5/6 -> length ratio floor 0.5: the band
    // genuinely prunes (e.g. len 4 never pairs with len 12)
    val names = Seq(
      "cold widget", "old widget", "bold widget", "cold widgets",
      "ring", "rings", "sprocketsprings", "cold gear", "old gear")
    val corpus = names.zipWithIndex.flatMap { case (n, i) =>
      Seq.fill(i + 1)(n) } // multiplicity i+1
    val df = corpus.toDF("name")
    val got = Dedup.jaroWinklerPairs(df.repartition(5), "name", 0.9)
      .orderBy("name_a", "name_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val brute = (for {
      a <- names; b <- names if a < b
      jw = {
        // reference JW via the same public column function on a 1-row frame
        Seq((a, b)).toDF("x", "y")
          .withColumn("jw", graft.functions.HashFunctions.jaroWinkler(col("x"), col("y")))
          .head().getDouble(2)
      } if jw >= 0.9
    } yield (a, b, names.indexOf(a).toLong + 1, names.indexOf(b).toLong + 1, jw))
      .sortBy(t => (t._1, t._2))
    got.toSeq shouldBe brute
    got.nonEmpty shouldBe true // the fixture must actually exercise pairs
    // thresholds at or below the boost knee are rejected loudly
    an[IllegalArgumentException] should be thrownBy
      Dedup.jaroWinklerPairs(df, "name", 0.7)
  }

  test("jaroWinklerPairs: no surviving names yields an empty frame, not an NPE") {
    // all-null and empty-string inputs are filtered out before the
    // max-length probe; the null aggregate cell must not be getInt'd
    val df = Seq(Option.empty[String], Some(""), None).toDF("name")
    val out = Dedup.jaroWinklerPairs(df, "name", 0.9)
    out.columns.toSeq shouldBe Seq("name_a", "name_b", "n_a", "n_b", "jw")
    out.count() shouldBe 0L
    // fully empty input too
    Dedup.jaroWinklerPairs(spark.emptyDataset[String].toDF("name"), "name", 0.9)
      .count() shouldBe 0L
  }

  test("fellegiSunterScores: hand-computed u, agree/disagree weights, null fields score 0") {
    // city census {a,a,a,b,b,c}: agreeing unordered pairs 3*2 + 2*1 = 8
    // of n(n-1) = 30 ordered pairs -> u = 8/30
    val base = Seq((1L, Some("a")), (2L, Some("a")), (3L, Some("a")),
      (4L, Some("b")), (5L, Some("b")), (6L, Some("c"))).toDF("id", "city")
    val pairs = Seq(
      (1L, 2L, Some("a"), Some("a")),   // agree
      (1L, 4L, Some("a"), Some("b")),   // disagree
      (1L, 6L, Some("a"), None: Option[String])) // null side
      .toDF("id_a", "id_b", "city_a", "city_b")
    val out = Dedup.fellegiSunterScores(base, pairs, Seq(("city", 0.9)))
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r).toMap
    val u = 8.0 / 30.0
    val wAgree = math.log(0.9 / u) / math.log(2.0)
    val wDis = math.log(0.1 / (1.0 - u)) / math.log(2.0)
    out((1L, 2L)).getAs[Int]("agree_city") shouldBe 1
    out((1L, 2L)).getAs[Double]("score") shouldBe wAgree +- 1e-12
    out((1L, 4L)).getAs[Int]("agree_city") shouldBe 0
    out((1L, 4L)).getAs[Double]("score") shouldBe wDis +- 1e-12
    out((1L, 6L)).isNullAt(4) shouldBe true
    out((1L, 6L)).getAs[Double]("score") shouldBe 0.0 +- 1e-15
    // rare agreement must outweigh common agreement (the FS point):
    // a 6-distinct-value field agreeing beats a 2-value field agreeing
    wAgree should be > (math.log(0.9 / 0.5) / math.log(2.0))
  }

  test("fellegiSunterScores: multi-field scores sum; degenerate u refuses") {
    val base = Seq((1L, "x", 10L), (2L, "x", 10L), (3L, "y", 20L), (4L, "y", 30L))
      .toDF("id", "s", "k")
    val pairs = Seq((1L, 2L, "x", "x", 10L, 10L), (3L, 4L, "y", "y", 20L, 30L))
      .toDF("id_a", "id_b", "s_a", "s_b", "k_a", "k_b")
    val out = Dedup.fellegiSunterScores(base, pairs,
        Seq(("s", 0.9), ("k", 0.8)))
      .collect().map(r => r.getAs[Long]("id_a") -> r).toMap
    // u_s: pairs 2*1 + 2*1 = 4 of 12 -> 1/3; u_k: {10,10,20,30} -> 2 of 12 -> 1/6
    val (us, uk) = (4.0 / 12.0, 2.0 / 12.0)
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    out(1L).getAs[Double]("score") shouldBe (lg2(0.9 / us) + lg2(0.8 / uk)) +- 1e-12
    out(3L).getAs[Double]("score") shouldBe (lg2(0.9 / us) + lg2(0.2 / (1 - uk))) +- 1e-12
    // an all-distinct field has u = 0: no evidence calibration possible
    val distinctBase = Seq((1L, "p"), (2L, "q")).toDF("id", "s")
    an[IllegalArgumentException] should be thrownBy
      Dedup.fellegiSunterScores(distinctBase,
        Seq((1L, 2L, "p", "q")).toDF("id_a", "id_b", "s_a", "s_b"),
        Seq(("s", 0.9)))
  }

  test("fellegiSunterScores: rejects field names a stack() melt cannot carry") {
    // the melt interpolates field names into a SQL string — a quote or
    // backtick would break (or escape) the parse, so the call refuses
    // up front with a clear message instead of a parser error
    val base = Seq((1L, "x"), (2L, "x")).toDF("id", "we`ird")
    val pairs = Seq((1L, 2L, "x", "x")).toDF("id_a", "id_b", "we`ird_a", "we`ird_b")
    an[IllegalArgumentException] should be thrownBy
      Dedup.fellegiSunterScores(base, pairs, Seq(("we`ird", 0.9)))
    val base2 = Seq((1L, "x")).toDF("id", "o'brien")
    an[IllegalArgumentException] should be thrownBy
      Dedup.fellegiSunterScores(base2, pairs, Seq(("o'brien", 0.9)))
  }
}
