package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class HashExpressionsSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def toks(c: org.apache.spark.sql.Column) =
    filter(split(c, "\\s+"), t => F.length(t) > 0)

  test("shingleHash: deterministic, distinct, correct count") {
    val df = Seq("a b c d e", "a b c d e", "x y").toDF("t")
      .select(HashFunctions.shingleHash(toks(col("t")), 3).as("sh"))
    val rows = df.collect().map(_.getAs[scala.collection.Seq[Long]]("sh"))
    rows(0) shouldBe rows(1) // deterministic
    rows(0).length shouldBe 3 // 5 tokens -> 3 trigrams
    rows(0).distinct.length shouldBe 3
    rows(2).length shouldBe 1 // short text -> single fallback shingle
  }

  test("shingleHash: repeated shingles dedup; different texts differ") {
    val df = Seq(("a b a b a b", "c d c d c d")).toDF("x", "y")
    val r = df.select(
      HashFunctions.shingleHash(toks(col("x")), 2).as("sx"),
      HashFunctions.shingleHash(toks(col("y")), 2).as("sy")).head()
    val sx = r.getAs[scala.collection.Seq[Long]]("sx")
    val sy = r.getAs[scala.collection.Seq[Long]]("sy")
    sx.length shouldBe 2 // "a b" and "b a" only
    sx.toSet.intersect(sy.toSet) shouldBe Set.empty
  }

  test("multiShingleHash: each field bit-identical to the matching shingleHash") {
    val texts = Seq("", "one", "one two", "a b c d e", "  padded   text here ",
      "ünïcode tökens splitting fine", "x\ty\nz", "repeat repeat repeat repeat")
    val ns = Seq(1, 2, 3, 5)
    val rows = texts.toDF("t").select(
        HashFunctions.multiShingleHash(toks(col("t")), ns).as("ms") +:
        ns.map(n => HashFunctions.shingleHash(toks(col("t")), n).as(s"sh$n")): _*)
      .collect()
    rows.foreach { r =>
      val ms = r.getStruct(r.fieldIndex("ms"))
      ns.zipWithIndex.foreach { case (n, i) =>
        ms.getAs[scala.collection.Seq[Long]](i) shouldBe
          r.getAs[scala.collection.Seq[Long]](s"sh$n")
      }
    }
    // null tokens -> null struct, matching shingleHash null propagation
    Seq[Option[String]](None).toDF("t")
      .select(HashFunctions.multiShingleHash(toks(col("t")), Seq(2)).as("ms"))
      .head().isNullAt(0) shouldBe true
  }

  test("minHashSignature: identical sets -> identical sigs; sig length = numHashes") {
    val df = Seq(("a b c d e f g h", "a b c d e f g h", "p q r s t u v w")).toDF("x", "y", "z")
    def sig(c: String) = HashFunctions.minHashSignature(
      HashFunctions.shingleHash(toks(col(c)), 3), 32).as(s"s$c")
    val r = df.select(sig("x"), sig("y"), sig("z")).head()
    val sx = r.getAs[scala.collection.Seq[Long]]("sx")
    sx.length shouldBe 32
    sx shouldBe r.getAs[scala.collection.Seq[Long]]("sy")
    sx should not be r.getAs[scala.collection.Seq[Long]]("sz")
  }

  test("minHash estimate converges to exact jaccard (hash-set ground truth)") {
    // two 200-token docs overlapping in half their trigrams
    val common = (0 until 100).map(i => s"w$i").mkString(" ")
    val a = common + " " + (0 until 100).map(i => s"a$i").mkString(" ")
    val b = common + " " + (0 until 100).map(i => s"b$i").mkString(" ")
    val df = Seq((a, b)).toDF("a", "b")
    def sh(c: String) = HashFunctions.shingleHash(toks(col(c)), 3)
    val r = df.select(
      (F.size(array_intersect(sh("a"), sh("b"))).cast("double") /
        F.size(array_union(sh("a"), sh("b"))).cast("double")).as("exact"),
      graft.ops.Dedup.minHashJaccard(
        HashFunctions.minHashSignature(sh("a"), 256),
        HashFunctions.minHashSignature(sh("b"), 256)).as("est")).head()
    r.getAs[Double]("est") shouldBe r.getAs[Double]("exact") +- 0.08
  }

  test("sanitizeStrat: spaces to underscores, non-ASCII runs collapse to one '?'") {
    // "𝄞" is a surrogate pair: one '?' from every formulation
    val in = Seq("a b  c", "héllo wörld", "日本語テスト x", "plain", "", "naïve café",
      "𝄞 x", "MISSING")
    val out = in.toDF("t").select(HashFunctions.sanitizeStrat(col("t")).as("s"))
      .as[String].collect()
    out shouldBe Array(
      "a_b__c", "h?llo_w?rld", "?_x", "plain", "", "na?ve_caf?", "?_x", "MISSING")
    // parity with the two-regex reference formulation
    val viaRegex = in.toDF("t").select(regexp_replace(regexp_replace(col("t"), " ", "_"),
      "[^\\x00-\\x7F]+", "?").as("s")).as[String].collect()
    out shouldBe viaRegex
    // TableOne names strata with the driver-side form: it must agree
    out shouldBe in.map(graft.tableone.Sanitize.stratValue).toArray
  }

  test("simHash64: equal token multisets equal; null text -> null") {
    val df = Seq(Some("a b c"), Some("a b c"), Some("q r s"), None).toDF("t")
      .select(HashFunctions.simHash64(toks(col("t"))).as("h"))
    val rows = df.collect()
    rows(0).getAs[Long]("h") shouldBe rows(1).getAs[Long]("h")
    rows(0).getAs[Long]("h") should not be rows(2).getAs[Long]("h")
    rows(3).isNullAt(0) shouldBe true
  }

  test("SQL registration: functions callable from spark.sql") {
    val r = spark.sql(
      """SELECT
        |  simhash64(split('a b c', ' ')) AS sh,
        |  cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cs,
        |  dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        |  size(minhash_signature(shingle_hash(split('a b c d e', ' '), 3), 16)) AS k,
        |  string_shingles(split('a b c', ' '), 2) AS ss,
        |  array_freq_stats(array('x', 'y', 'x')).max_count AS mc,
        |  array_freq_stats(array('x', 'y', 'x')).n_once AS hapax,
        |  size(char_shingle_fingerprint('the quick brown fox', 4, 8)) AS fp,
        |  sanitize_strat('a b é') AS st,
        |  size(positional_shingle_hash(split('a b a b', ' '), 2)) AS ps,
        |  char_entropy('aabb').entropy AS ce
        |""".stripMargin).head()
    r.getAs[Double]("cs") shouldBe 1.0
    r.getAs[Double]("dp") shouldBe 11.0
    r.getAs[Int]("k") shouldBe 16
    r.getAs[Seq[String]]("ss") shouldBe Seq("a b", "b c")
    r.getAs[Int]("mc") shouldBe 2
    r.getAs[Int]("hapax") shouldBe 1 // 'y' occurs once
    r.getAs[Int]("fp") shouldBe 8
    r.getAs[String]("st") shouldBe "a_b_?"
    r.getAs[Int]("ps") shouldBe 3 // 4 tokens -> 3 positional bigrams
    r.getAs[Double]("ce") shouldBe 1.0 +- 1e-12
    // matches the Column-API path
    val viaCol = Seq("a b c").toDF("t")
      .select(HashFunctions.simHash64(split(col("t"), " ")).as("sh")).head().getAs[Long]("sh")
    r.getAs[Long]("sh") shouldBe viaCol
  }

  test("extension class injects the same functions at session-bootstrap time") {
    GraftExtensions.functions.map(_._1.funcName).toSet shouldBe
      Set("shingle_hash", "multi_shingle_hash", "minhash_signature", "simhash64",
        "dot_product", "cosine_sim", "string_shingles", "array_freq_stats",
        "char_shingle_fingerprint", "sanitize_strat", "dedup_lines",
        "positional_shingle_hash", "char_entropy")
  }

  test("MinHashUnion aggregator: corpus signature = element-wise min of doc signatures") {
    val mh = udaf(new MinHashUnion(16), implicitly[org.apache.spark.sql.Encoder[Seq[Long]]])
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog"),
      ("a", "a completely different second document here"),
      ("b", "the quick brown fox jumps over the lazy dog"))
      .toDF("grp", "text")
      .select(col("grp"), HashFunctions.minHashSignature(
        HashFunctions.shingleHash(toks(col("text")), 3), 16).as("sig"))
    val merged = df.groupBy("grp").agg(mh(col("sig")).as("corpus_sig"))
      .orderBy("grp").collect()
      .map(_.getAs[scala.collection.Seq[Long]]("corpus_sig"))
    val docSigs = df.collect().map(r =>
      (r.getAs[String]("grp"), r.getAs[scala.collection.Seq[Long]]("sig")))
    // group b has one doc: corpus sig == doc sig
    merged(1) shouldBe docSigs.find(_._1 == "b").get._2
    // group a: element-wise min of its two doc sigs
    val aSigs = docSigs.filter(_._1 == "a").map(_._2)
    merged(0) shouldBe aSigs(0).zip(aSigs(1)).map { case (x, y) => math.min(x, y) }
    // partial-aggregation path: same result under repartition
    val repart = df.repartition(5).groupBy("grp").agg(mh(col("sig")).as("cs"))
      .orderBy("grp").collect().map(_.getAs[scala.collection.Seq[Long]]("cs"))
    repart.toSeq shouldBe merged.toSeq
  }

  test("nearestCentroids ranks by cosine with index tie-break, any nlist") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 0.0), Seq(-1.0, 0.0))
    val df = Seq(Tuple1(Seq(2.0, 0.1))).toDF("v")
    // cosines: c0=c2 (tie -> 0 before 2) > c1 > c3
    df.select(HashFunctions.nearestCentroids(col("v"), cents, 3).as("p"))
      .head().getAs[scala.collection.Seq[Int]]("p") shouldBe Seq(0, 2, 1)
    // nprobe beyond the codebook returns all, ranked
    df.select(HashFunctions.nearestCentroids(col("v"), cents, 10).as("p"))
      .head().getAs[scala.collection.Seq[Int]]("p") shouldBe Seq(0, 2, 1, 3)
    // a 256-entry codebook stays a single plan node (the old per-centroid
    // struct-array formulation would be ~256 cosine sub-expressions)
    val big = (0 until 256).map(i => Seq(math.cos(i * 0.1), math.sin(i * 0.1)))
    val one = df.select(HashFunctions.nearestCentroids(col("v"), big, 1).as("p"))
    one.head().getAs[scala.collection.Seq[Int]]("p").length shouldBe 1
    one.queryExecution.analyzed.toString should include ("nearest_centroids")
  }

  test("expressions survive serialization (executor round-trip via repartition)") {
    val df = (0 until 100).map(i => s"doc $i has words $i ${i * 2} ${i * 3}").toDF("t")
      .repartition(4)
      .select(HashFunctions.minHashSignature(
        HashFunctions.shingleHash(toks(col("t")), 3), 16).as("sig"))
    df.collect().length shouldBe 100
  }

  test("arrayFreqStats-backed repetition signals match the HOF formulations") {
    // The interpreted HOF reference implementations x5 originally shipped
    // with — any divergence breaks DuckDB-oracle parity for x5_repetition.
    import graft.ops.{Dedup, TextAnalysis}
    def hofDupLineRatio(t: org.apache.spark.sql.Column) = {
      val ls = TextAnalysis.docLines(t)
      (F.size(ls) - F.size(array_distinct(ls))).cast("double") /
        greatest(F.size(ls), lit(1)).cast("double")
    }
    def hofDupLineCharRatio(t: org.apache.spark.sql.Column) = {
      val ls = TextAnalysis.docLines(t)
      val totalChars = F.aggregate(ls, lit(0L), (a, l) => a + F.length(l))
      val dupChars = F.aggregate(array_distinct(ls), lit(0L),
        (a, l) => a + (F.size(filter(ls, x => x === l)) - 1).cast("long") * F.length(l))
      dupChars.cast("double") / greatest(totalChars, lit(1)).cast("double")
    }
    def hofTopNgramRatio(t: org.apache.spark.sql.Column, n: Int) = {
      val gs = Dedup.shingles(t, n)
      val top = F.aggregate(array_distinct(gs), lit(0),
        (a, g) => greatest(a, F.size(filter(gs, x => x === g))))
      top.cast("double") / greatest(F.size(gs), lit(1)).cast("double")
    }
    val lines = TextAnalysis.lineFreqStats(col("t"))
    val texts = Seq(
      "", "one line", "single",
      "nav\nnav\nnav", "nav\nbody text\nnav\n\nx\nnav",
      "a\n\n\na\nb", "\n\n\n",
      "日本語のテスト\n日本語のテスト\nascii line",
      "héllo wörld\nhéllo wörld",
      "buy now buy now buy now",
      "the quick brown fox\nthe quick brown fox\njumped over")
    val df = texts.toDF("t")
    for (n <- Seq(1, 2, 3)) {
      df.select(
          TextAnalysis.duplicateLineRatioS(lines).as("g1"), hofDupLineRatio(col("t")).as("h1"),
          TextAnalysis.duplicateLineCharRatioS(lines).as("g2"), hofDupLineCharRatio(col("t")).as("h2"),
          TextAnalysis.topNgramRatio(col("t"), n).as("g3"), hofTopNgramRatio(col("t"), n).as("h3"))
        .collect().foreach { r =>
          r.getAs[Double]("g1") shouldBe r.getAs[Double]("h1") +- 1e-12
          r.getAs[Double]("g2") shouldBe r.getAs[Double]("h2") +- 1e-12
          r.getAs[Double]("g3") shouldBe r.getAs[Double]("h3") +- 1e-12
        }
    }
    // null text -> null signals, matching HOF null propagation
    val nr = Seq[Option[String]](None).toDF("t").select(
      TextAnalysis.duplicateLineRatioS(lines).as("a"),
      TextAnalysis.duplicateLineCharRatioS(lines).as("b"),
      TextAnalysis.topNgramRatio(col("t"), 2).as("c")).head()
    (0 until 3).foreach(nr.isNullAt(_) shouldBe true)
  }

  test("charShingleFingerprint matches the HOF winnowing formulation bit-for-bit") {
    // The interpreted formulation d4's fingerprint originally shipped with.
    def hofFingerprint(t: org.apache.spark.sql.Column, k: Int, keep: Int) = {
      val n = greatest(F.length(t) - lit(k - 1), lit(1))
      val hashes = transform(sequence(lit(1), n), i => xxhash64(t.substr(i, lit(k))))
      slice(array_sort(array_distinct(hashes)), 1, keep)
    }
    val texts = Seq(
      "", "x", "short", "exactly8", // below / at the window size
      "the quick brown fox jumps over the lazy dog near the river bank",
      "aaaaaaaaaaaaaaaaaaaa", // every window identical -> 1 distinct hash
      "héllo wörld with ünïcode çhars",
      "日本語のテストです、もう少し長くします",
      "emoji 😀😀 pairs 🎉 inside text", // astral code points (4-byte UTF-8)
      "line one\nline two\ttabbed")
    val df = texts.toDF("t")
    for ((k, keep) <- Seq((8, 16), (4, 4), (3, 100))) {
      df.select(
          graft.ops.TextAnalysis.fingerprint(col("t"), k, keep).as("g"),
          hofFingerprint(col("t"), k, keep).as("h"))
        .collect().foreach { r =>
          r.getAs[Seq[Long]]("g") shouldBe r.getAs[Seq[Long]]("h")
        }
    }
    // null text -> null fingerprint
    Seq[Option[String]](None).toDF("t")
      .select(graft.ops.TextAnalysis.fingerprint(col("t")).as("f"))
      .head().isNullAt(0) shouldBe true
  }

  test("stringShingles matches the HOF formulation string-for-string") {
    // the HOF reference implementation StringShingles replaced — any
    // divergence here breaks DuckDB-oracle parity for d2/d8/x5
    def hofShingles(text: org.apache.spark.sql.Column, n: Int) = {
      import org.apache.spark.sql.{functions => F}
      val t = graft.ops.TextAnalysis.tokens(lower(text))
      when(F.size(t) < n, array(concat_ws(" ", t)))
        .otherwise(transform(sequence(lit(1), F.size(t) - (n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n)))))
    }
    val texts = Seq("", "one", "one two", "a b c d e", "  padded   text here ",
      "ünïcode tökens splitting fine", "x\ty\nz", "repeat repeat repeat repeat")
    val df = texts.toDF("t")
    for (n <- Seq(1, 2, 3, 5)) {
      val got = df.select(
          graft.functions.HashFunctions.stringShingles(
            graft.ops.TextAnalysis.tokens(lower(col("t"))), n).as("g"),
          hofShingles(col("t"), n).as("h"))
        .collect()
      got.foreach { r =>
        r.getAs[Seq[String]]("g") shouldBe r.getAs[Seq[String]]("h")
      }
    }
    // null text -> null shingles, matching the HOF's null propagation
    Seq[Option[String]](None).toDF("t")
      .select(graft.ops.Dedup.shingles(col("t"), 3).as("g"))
      .head().isNullAt(0) shouldBe true
  }

  test("charEntropy: known distributions, codepoint units, empty and null") {
    def ent(t: String): (Int, Double) = {
      val r = Seq(t).toDF("t")
        .select(HashFunctions.charEntropy(col("t")).as("e")).head().getStruct(0)
      (r.getInt(0), r.getDouble(1))
    }
    ent("aaaa") shouldBe ((4, 0.0))
    ent("aabb")._2 shouldBe 1.0 +- 1e-12           // two equiprobable symbols
    ent("abcd")._2 shouldBe 2.0 +- 1e-12           // four equiprobable symbols
    val (n3, e3) = ent("aab")                       // 2/3,1/3 distribution
    n3 shouldBe 3
    e3 shouldBe -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3)) / math.log(2) +- 1e-12
    // an astral-plane codepoint (surrogate pair in UTF-16) counts ONCE —
    // the unit the character-based oracle counts
    ent("a😀")._1 shouldBe 2
    ent("") shouldBe ((0, 0.0))
    Seq[Option[String]](None).toDF("t")
      .select(HashFunctions.charEntropy(col("t")).as("e"))
      .head().isNullAt(0) shouldBe true
  }

  test("positional shingle hash preserves order/multiplicity; distinct-set equals ShingleHash") {
    import graft.functions.HashFunctions.{positionalShingleHash, shingleHash}
    val toks = graft.ops.TextAnalysis.tokens(lower(col("t")))
    val df = Seq(
      "a b c a b c a b",    // repeated trigrams -> multiplicity matters
      "x y",                // fewer than n -> whole-text fallback
      "one two three four").toDF("t")
    val got = df.select(
        positionalShingleHash(toks, 3).as("p"),
        shingleHash(toks, 3).as("s"),
        org.apache.spark.sql.functions.size(toks).as("n")).collect()
    got.foreach { r =>
      val p = r.getSeq[Long](0)
      val s = r.getSeq[Long](1)
      val n = r.getAs[Int]("n")
      // one element per POSITION (or the single fallback below n tokens)
      p.size shouldBe (if (n < 3) 1 else n - 2)
      // the distinct sorted positional hashes ARE the ShingleHash set
      p.distinct.sorted shouldBe s
    }
    // repeated gram hashes are equal at equal positions-mod-pattern
    val p0 = got(0).getSeq[Long](0)
    p0(0) shouldBe p0(3) // (a b c) at positions 1 and 4
    p0(1) shouldBe p0(4) // (b c a)
  }
}
