package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class TextAnalysisSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("t").select(c.as("r")).head().getAs[T]("r")
  private val p = TextAnalysis.profile(col("t"))
  private val lines = TextAnalysis.lineFreqStats(col("t"))

  test("tokens drops empty strings from leading/trailing/multiple whitespace") {
    one[Seq[String]](TextAnalysis.tokens(col("t")), "  a  b\tc \n") shouldBe Seq("a", "b", "c")
    one[Int](TextAnalysis.tokenCount(col("t")), "one two  three") shouldBe 3
  }

  test("bpeish token count splits words, digits, and punctuation runs") {
    // "don't stop, 42!" -> don ' t stop , 42 !
    one[Int](TextAnalysis.bpeishTokenCount(col("t")), "don't stop, 42!") shouldBe 7
  }

  test("ratios on a crafted string") {
    val t = "AB c, 12!" // len 9: 2 upper, 2 digits, 2 punct
    one[Double](TextAnalysis.punctRatioP(p), t) shouldBe (2.0 / 9) +- 1e-12
    one[Double](TextAnalysis.digitRatioP(p), t) shouldBe (2.0 / 9) +- 1e-12
    one[Double](TextAnalysis.upperRatioP(p), t) shouldBe (2.0 / 9) +- 1e-12
  }

  test("stopword ratio and mean token length") {
    val t = "the cat sat on the mat" // stopwords: the, on, the = 3/6
    one[Double](TextAnalysis.stopwordRatioP(p), t) shouldBe 0.5 +- 1e-12
    one[Double](TextAnalysis.meanTokenLengthP(p), t) shouldBe (17.0 / 6) +- 1e-12
  }

  test("duplicate-line signals on a crafted boilerplate document") {
    // 5 non-empty lines: "nav" x3 (3 chars each), "body text" (9), "x" (1)
    val t = "nav\nbody text\nnav\n\nx\nnav"
    one[Double](TextAnalysis.duplicateLineRatioS(lines), t) shouldBe (2.0 / 5) +- 1e-12
    // dup chars = (3-1)*3 = 6 of total 3+9+3+1+3 = 19 line chars
    one[Double](TextAnalysis.duplicateLineCharRatioS(lines), t) shouldBe (6.0 / 19) +- 1e-12
    // no lines / single lines degrade to 0
    one[Double](TextAnalysis.duplicateLineRatioS(lines), "") shouldBe 0.0
    one[Double](TextAnalysis.duplicateLineCharRatioS(lines), "only line") shouldBe 0.0
  }

  test("top n-gram ratio flags a repeated phrase") {
    // bigrams of "buy now buy now buy now": [buy now, now buy, buy now,
    // now buy, buy now] -> top = 3/5
    val t = "buy now buy now buy now"
    one[Double](TextAnalysis.topNgramRatio(col("t"), 2), t) shouldBe (3.0 / 5) +- 1e-12
    // all-distinct bigrams -> 1/n
    one[Double](TextAnalysis.topNgramRatio(col("t"), 2), "a b c d") shouldBe (1.0 / 3) +- 1e-12
    // fewer tokens than n: the whole doc is one shingle -> ratio 1
    one[Double](TextAnalysis.topNgramRatio(col("t"), 2), "single") shouldBe 1.0
  }

  test("bullet and ellipsis line ratios") {
    val t = "- first item\n  * second\nplain line\nto be continued...\nx"
    one[Double](TextAnalysis.bulletLineRatio(col("t")), t) shouldBe (2.0 / 5) +- 1e-12
    one[Double](TextAnalysis.ellipsisLineRatio(col("t")), t) shouldBe (1.0 / 5) +- 1e-12
  }

  test("PII counts and redaction on a crafted document") {
    val t = "mail a.b+c@example.org or visit https://ex.com/a?q=1 " +
      "from 10.0.0.1 and call +1 (555) 123-4567 now"
    one[Int](TextAnalysis.emailCount(col("t")), t) shouldBe 1
    one[Int](TextAnalysis.urlCount(col("t")), t) shouldBe 1
    one[Int](TextAnalysis.ipv4Count(col("t")), t) shouldBe 1
    one[Int](TextAnalysis.phoneCount(col("t")), t) shouldBe 1
    val red = one[String](TextAnalysis.redactPii(col("t")), t)
    red should include("<EMAIL>")
    red should include("<URL>")
    red should include("<IP>")
    red should include("<PHONE>")
    red should not include "example.org"
    red should not include "10.0.0.1"
    red should not include "555"
    // clean text untouched
    one[String](TextAnalysis.redactPii(col("t")), "no pii here") shouldBe "no pii here"
  }

  test("quality score: clean English prose scores high, garbage scores low") {
    val good = "the quick brown fox jumps over the lazy dog and runs to the old barn"
    val bad = "!!! ??? ### 111 222 333 !!!"
    val g = one[Double](TextAnalysis.qualityScoreP(p), good)
    val b = one[Double](TextAnalysis.qualityScoreP(p), bad)
    g should be >= 5.0 / 6
    b should be <= 0.5
  }

  test("language id picks the dominant function-word language") {
    one[String](TextAnalysis.languageId(col("t")),
      "the cat is on the mat and it is not from here") shouldBe "en"
    one[String](TextAnalysis.languageId(col("t")),
      "der Hund ist nicht in der Stadt und das ist gut") shouldBe "de"
    one[String](TextAnalysis.languageId(col("t")),
      "el perro es grande y la casa es blanca en la calle") shouldBe "es"
    one[String](TextAnalysis.languageId(col("t")), "你好世界") shouldBe "zh"
    one[String](TextAnalysis.languageId(col("t")), "zzz qqq xxx www") shouldBe "und"
  }

  test("fingerprint: identical texts share the sketch; edits shift few hashes") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val df = Seq((a, a, a + " extra")).toDF("x", "y", "z")
    val r = df.select(
      TextAnalysis.fingerprint(col("x")).as("fx"),
      TextAnalysis.fingerprint(col("y")).as("fy"),
      TextAnalysis.fingerprint(col("z")).as("fz")).head()
    val fx = r.getAs[scala.collection.Seq[Long]]("fx"); val fy = r.getAs[scala.collection.Seq[Long]]("fy")
    val fz = r.getAs[scala.collection.Seq[Long]]("fz")
    fx shouldBe fy
    fx.toSet.intersect(fz.toSet).size should be >= (fx.size * 3 / 4)
  }

  test("tfidf: corpus-wide terms score zero, rare terms rank first") {
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"),
        r.getAs[Double]("score"))).toSet
    // df(a)=2 -> idf ln(1)=0; df(b)=df(c)=1 -> idf ln(2)
    out shouldBe Set(
      (1L, "b", math.log(2.0)), (1L, "a", 0.0),
      (2L, "c", math.log(2.0)), (2L, "a", 0.0))
  }

  test("vertical tab counts as whitespace (explicit class, Java/RE2 parity)") {
    val df = Seq(Tuple1("a\u000Bb c")).toDF("t")
    val r = df.select(
      TextAnalysis.tokenCount(col("t")).as("n"),
      TextAnalysis.bpeishTokenCount(col("t")).as("b")).head()
    r.getAs[Int]("n") shouldBe 3   // VT splits tokens
    r.getAs[Int]("b") shouldBe 3   // and is not a countable symbol
  }

  test("normalizeText: control chars, case, whitespace runs, trim, null") {
    val cases = Seq(
      "  Hello\t\tWORLD  "          -> "hello world",
      "a\u0000b\u0007c"             -> "a b c",   // control chars -> spaces
      "Mixed\r\nLine\nBreaks"       -> "mixed line breaks",
      "\u000Bleading VT"            -> "leading vt",
      "ÜNÏCODE Stays"               -> "ünïcode stays", // lowercased, not stripped
      ""                            -> "",
      "   "                         -> "",
      "\u007F"                      -> "")        // DEL alone -> empty
    val got = cases.map(_._1).toDF("t")
      .select(TextAnalysis.normalizeText(col("t")).as("n"))
      .collect().map(_.getString(0))
    got shouldBe cases.map(_._2).toArray
    // null propagates
    Seq[Option[String]](None).toDF("t")
      .select(TextAnalysis.normalizeText(col("t")).as("n"))
      .head().isNullAt(0) shouldBe true
  }

  test("withQuality adds all columns and keeps row count") {
    val df = Seq((1L, "the cat sat"), (2L, "xyz")).toDF("doc_id", "text")
    val out = TextAnalysis.withQuality(df, "text")
    out.count() shouldBe 2
    out.columns should contain allOf ("n_tokens", "quality_score", "stopword_ratio")
  }

  test("urlHosts extracts lowercased hosts, stopping at port/path boundaries") {
    val t = "see https://Example.COM/path and http://cdn-1.site.net:8080/x plus " +
      "https://a.b.c no-scheme.example.org ftp://skipped.example"
    one[Seq[String]](TextAnalysis.urlHosts(col("t")), t) shouldBe
      Seq("example.com", "cdn-1.site.net", "a.b.c")
  }

  test("bigram LM scoring matches a hand-rolled reference model") {
    // corpus: bigrams with repeats, mixed case (the operator lowercases),
    // and a 1-token doc (excluded: no bigram exists)
    val corpus = Seq(
      (1L, "The cat sat on the mat"),
      (2L, "the cat ran"),
      (3L, "a dog sat"),
      (4L, "cat"))
    val alpha = 0.5
    // reference model in plain Scala maps
    val toks = corpus.map { case (id, t) => id -> t.toLowerCase.split("\\s+").toSeq }
    val allBigrams = toks.flatMap { case (id, tk) => tk.sliding(2).filter(_.size == 2).map(p => (id, (p(0), p(1)))) }
    val c2 = allBigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val c1 = allBigrams.groupBy(_._2._1).view.mapValues(_.size.toLong).toMap
    val v = allBigrams.map(_._2._2).distinct.size.toDouble
    val expected = allBigrams.groupBy(_._1).view.mapValues { bgs =>
      val lps = bgs.map { case (_, bg) => math.log((c2(bg) + alpha) / (c1(bg._1) + alpha * v)) }
      (bgs.size.toLong, lps.sum / lps.size)
    }.toMap

    val out = TextAnalysis.lmScore(corpus.toDF("doc_id", "text"), "doc_id", "text", alpha)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_logp"), r.getAs[Double]("ppl")))).toMap
    out.keySet shouldBe Set(1L, 2L, 3L) // doc 4 has no bigram
    expected.foreach { case (id, (n, avgLp)) =>
      val (gotN, gotLp, gotPpl) = out(id)
      gotN shouldBe n
      gotLp shouldBe avgLp +- 1e-12
      gotPpl shouldBe math.exp(-avgLp) +- 1e-9
    }
    // every doc's score is negative (log-probabilities), ppl > 1
    out.values.foreach { case (_, lp, ppl) => lp should be < 0.0; ppl should be > 1.0 }
  }

  test("bigram LM scoring is partition-count independent") {
    val docs = (1L to 40L).map(i => (i, s"w${i % 5} w${i % 3} w${i % 7} w${i % 5} w${i % 3}"))
    val df1 = docs.toDF("doc_id", "text").repartition(1)
    val df7 = docs.toDF("doc_id", "text").repartition(7)
    val a = TextAnalysis.lmScore(df1, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val b = TextAnalysis.lmScore(df7, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    a.map(t => (t._1, t._2)) shouldBe b.map(t => (t._1, t._2))
    a.zip(b).foreach { case (x, y) => x._3 shouldBe y._3 +- 1e-12 }
  }

  test("blocklistHits: token-exact, case-insensitive, counts occurrences") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "Bad BAD bad thing"),   // 3 hits, case-folded
      (2L, "badge embedded notbad"), // substrings must NOT match
      (3L, "clean text here")).toDF("id", "t")
    val out = df.select(col("id"),
        TextAnalysis.blocklistHits(col("t"), Seq("bad", "thing")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out shouldBe Map(1L -> 4, 2L -> 0, 3L -> 0)
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.blocklistHits(col("t"), Nil)
  }

  test("canonicalizeUrl collapses equivalent URLs and keeps distinctions") {
    import org.apache.spark.sql.functions.col
    val urls = Seq(
      "HTTPS://Example.ORG:443/Path/Page?utm_source=feed#top",
      "https://example.org/Path/Page",
      "https://example.org/Path/Page/",
      "http://example.org:80/Path/Page",
      "http://example.org:8080/Path/Page", // non-default port KEPT
      "https://example.org/path/page",     // path case KEPT distinct
      "https://example.org/a?id=7&utm_source=x", // real params kept (not tracking-only)
      "no url at all")
    val out = urls.toDF("u")
      .select(TextAnalysis.canonicalizeUrl(col("u")).as("c"))
      .collect().map(_.getString(0))
    out(0) shouldBe "https://example.org/Path/Page"
    out(1) shouldBe "https://example.org/Path/Page"
    out(2) shouldBe "https://example.org/Path/Page"
    out(3) shouldBe "http://example.org/Path/Page"
    out(4) shouldBe "http://example.org:8080/Path/Page"
    out(5) shouldBe "https://example.org/path/page"
    out(6) shouldBe "https://example.org/a?id=7&utm_source=x"
    out(7) shouldBe "no url at all"
  }

  test("importanceWeights: target-looking docs outscore source-only vocabulary") {
    import org.apache.spark.sql.functions.{col, lit}
    // target corpus speaks one vocabulary, the rest another; a held-out
    // doc in target vocabulary must outweigh one in source vocabulary
    val docs = (
      (1L to 20L).map(i => (i, "alpha beta gamma delta epsilon", true)) ++
      (21L to 40L).map(i => (i, "uno dos tres cuatro cinco", false)) ++
      Seq((100L, "alpha beta gamma", false),   // target-like held-out
          (101L, "uno dos tres", false))       // source-like held-out
    ).toDF("id", "text", "is_t")
    val w = TextAnalysis.importanceWeights(docs, "id", "text", col("is_t"),
        buckets = 512, alpha = 0.5)
      .select("id", "logw_avg").as[(Long, Double)].collect().toMap
    w(100L) should be > w(101L)
    // n_grams counts occurrences WITH multiplicity
    val rep = Seq((1L, "word word word", true)).toDF("id", "text", "is_t")
    TextAnalysis.importanceWeights(rep, "id", "text", col("is_t"))
      .select("n_grams").as[Long].head() shouldBe 3L
    // hashedGramBucket is stable, in range, and spreads distinct tokens
    val toks = Seq("alpha", "beta", "gamma", "delta", "epsilon").toDF("t")
    val bs = toks.select(TextAnalysis.hashedGramBucket(col("t"), 4096).as("b"))
      .as[Long].collect()
    all(bs) should (be >= 0L and be < 4096L)
    bs.distinct.length should be > 1
  }

  test("sentenceStats: segmentation, counts, and the ARI algebra on crafted docs") {
    val df = Seq(
      (1L, "One two three. Four five! Six seven eight?  Nine."),
      (2L, "no terminal punctuation here"),
      (3L, "Trailing period stays attached."),
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.sentenceStats(df.repartition(2), "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1: splits -> "One two three", "Four five", "Six seven eight", "Nine."
    out(0).getAs[Long]("n_sentences") shouldBe 4L
    out(0).getAs[Long]("n_words") shouldBe 9L
    val c1 = "Onetwothree.Fourfive!Sixseveneight?Nine.".length.toLong
    out(0).getAs[Long]("n_chars") shouldBe c1
    out(0).getAs[Double]("ari") shouldBe
      (4.71 * (c1.toDouble / 9) + 0.5 * (9.0 / 4) - 21.43) +- 1e-12
    // doc 2: one sentence (no delimiter), 4 words
    out(1).getAs[Long]("n_sentences") shouldBe 1L
    out(1).getAs[Long]("n_words") shouldBe 4L
    // doc 3: trailing "." with no following whitespace does not split
    out(2).getAs[Long]("n_sentences") shouldBe 1L
    // doc 4: empty -> zero everything, NULL ratios
    out(3).getAs[Long]("n_sentences") shouldBe 0L
    out(3).isNullAt(4) shouldBe true
    out(3).isNullAt(5) shouldBe true
  }

  test("zipfFit recovers a perfect power law exactly") {
    // cnt = 12/rank for ranks 1..4: ln(cnt) = ln 12 - 1 * ln(rank)
    val census = Seq(("a", 12L), ("b", 6L), ("c", 4L), ("d", 3L))
      .toDF("token", "cnt")
    val r = TextAnalysis.zipfFit(census.repartition(3), "token", "cnt", topN = 10).head()
    r.getAs[Long]("n_tokens") shouldBe 4L
    r.getAs[Double]("slope") shouldBe -1.0 +- 1e-12
    r.getAs[Double]("intercept") shouldBe math.log(12.0) +- 1e-12
    r.getAs[Double]("r2") shouldBe 1.0 +- 1e-12
  }

  test("zipfFit ranks ties by token, honors topN, and nulls a 1-row census") {
    // tie on cnt=6: 'b' outranks 'x'; topN=2 uses ranks 1..2 only
    val census = Seq(("a", 12L), ("x", 6L), ("b", 6L)).toDF("token", "cnt")
    val r = TextAnalysis.zipfFit(census, "token", "cnt", topN = 2).head()
    r.getAs[Long]("n_tokens") shouldBe 2L
    // points (0, ln 12), (ln 2, ln 6): slope = (ln 6 - ln 12)/ln 2 = -1
    r.getAs[Double]("slope") shouldBe -1.0 +- 1e-12
    val one = TextAnalysis.zipfFit(Seq(("a", 5L)).toDF("token", "cnt"),
      "token", "cnt", topN = 5).head()
    one.getAs[Long]("n_tokens") shouldBe 1L
    one.isNullAt(one.fieldIndex("slope")) shouldBe true
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.zipfFit(census, "token", "cnt", 1)
  }

  test("fleschStats: vowel-group syllables and the Flesch/FK algebra on crafted docs") {
    // "the cat sat. it ran fast." -> 2 sentences, 6 words,
    // vowel groups: e,a,a,i,a,a -> 6 syllables
    val df = Seq((1L, "the cat sat. it ran fast."),
      (2L, "queueing"), // one vowel GROUP (ueuei), one word, one sentence
      (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.fleschStats(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    got(0).getLong(1) shouldBe 2L
    got(0).getLong(2) shouldBe 6L
    got(0).getLong(3) shouldBe 6L
    val wps = 6.0 / 2.0; val spw = 6.0 / 6.0
    got(0).getDouble(4) shouldBe (206.835 - 1.015 * wps - 84.6 * spw) +- 1e-9
    got(0).getDouble(5) shouldBe (0.39 * wps + 11.8 * spw - 15.59) +- 1e-9
    // "queueing" = q + "ueuei" (one contiguous vowel run) + "ng": the
    // crude heuristic counts 1 syllable — a known undercount the doc
    // advertises; the point is the count is deterministic and replayable
    got(1).getLong(3) shouldBe 1L
    // empty doc: zero everything, NULL scores
    got(2).getLong(2) shouldBe 0L
    got(2).isNullAt(4) shouldBe true
    got(2).isNullAt(5) shouldBe true
  }

  test("featureHash equals the driver-side hash model exactly, any partitioning") {
    // same formula, computed driver-side: positional char hash mod p,
    // bucket = key mod B, sign from the remixed parity bit
    val p = 1048573L
    def key(t: String): Long =
      t.zipWithIndex.map { case (c, i) => c.toLong * (((i + 1) * 2654435761L) % p) }.sum % p
    def bucket(t: String): Long = key(t) % 16
    def sign(t: String): Long = 1L - 2L * (((key(t) * 2654435761L) >> 12) % 2)
    val docs = Seq((1L, "alpha beta alpha Gamma!"), (2L, "alpha"), (3L, ""))
    val want = docs.flatMap { case (id, text) =>
      text.toLowerCase.split("\\s+").map(_.replaceAll("[^a-z0-9]", ""))
        .filter(_.nonEmpty).map(t => (id, bucket(t), sign(t)))
    }.groupBy { case (id, b, _) => (id, b) }
      .map { case ((id, b), ts) => (id, b, ts.map(_._3).sum, ts.size.toLong) }
      .toSeq.sorted
    val got = TextAnalysis.featureHash(
        docs.toDF("doc_id", "text").repartition(5), "doc_id", "text", buckets = 16)
      .orderBy("doc_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    got shouldBe want
    // doc 3 (no surviving tokens) emits nothing; repeated 'alpha'
    // accumulated into one row per its bucket
    got.map(_._1).distinct shouldBe Seq(1L, 2L)
    got.map(_._4).sum shouldBe 5L
  }

  test("pmiCollocations: census-exact PMI, minCount prune, deterministic cut") {
    // five "a b" docs push (a,b) past minCount; the lone "a c" stays out
    val docs = (Seq.fill(5)("a b") :+ "a c").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rows = TextAnalysis.pmiCollocations(docs, "text", minCount = 5L, topK = 20)
      .collect()
    rows.length shouldBe 1
    val r = rows.head
    r.getAs[String]("w1") shouldBe "a"
    r.getAs[String]("w2") shouldBe "b"
    r.getAs[Long]("c_xy") shouldBe 5L
    r.getAs[Long]("c_x") shouldBe 6L
    r.getAs[Long]("c_y") shouldBe 5L
    // PMI = ln(c_xy * Nu^2 / (Nb * c_x * c_y)) = ln(5*144 / (6*30)) = ln 4
    r.getAs[Double]("pmi") shouldBe math.log(4.0) +- 1e-12
  }

  test("pmiCollocations topK cuts on PMI desc with lexicographic ties") {
    // two bigrams with identical counts and symmetric marginals tie on
    // PMI; topK = 1 must keep the lexicographically smaller pair
    val docs = (Seq.fill(5)("x y") ++ Seq.fill(5)("p q")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rows = TextAnalysis.pmiCollocations(docs, "text", minCount = 5L, topK = 1)
      .collect()
    rows.length shouldBe 1
    rows.head.getAs[String]("w1") shouldBe "p"
  }

  test("ngramNovelty: distinct-gram novelty per slice, case-folded, short docs included") {
    // ref corpus knows the trigram "a b c" (and "b c d"); cur has one
    // doc repeating a known gram (novelty 0) and one all-new doc
    val ref = Seq((1L, "zz", "A b c d")).toDF("doc_id", "source", "text")
    val cur = Seq(
      (10L, "s1", "a B c"),          // 1 gram, seen (case-folded)
      (11L, "s1", "a b c"),          // duplicate gram -> distinct census
      (12L, "s2", "x y z w"),        // 2 grams, both novel
      (13L, "s2", "a b c x y z")     // 4 grams: 1 seen, 3 novel
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.ngramNovelty(cur, ref, "source", "text", n = 3)
      .orderBy("source").collect()
    val s1 = got(0)
    s1.getAs[Long]("n_grams") shouldBe 1L
    s1.getAs[Long]("n_novel") shouldBe 0L
    s1.getAs[Double]("novelty_rate") shouldBe 0.0 +- 1e-12
    val s2 = got(1)
    // s2 distinct grams: "x y z","y z w","a b c","b c x","c x y" -> 5,
    // novel = all but "a b c" -> 4
    s2.getAs[Long]("n_grams") shouldBe 5L
    s2.getAs[Long]("n_novel") shouldBe 4L
    s2.getAs[Double]("novelty_rate") shouldBe 0.8 +- 1e-12
  }

  test("ngramNovelty: empty-token docs drop; an empty reference makes everything novel") {
    val cur = Seq((1L, "s", "p q r"), (2L, "s", "   ")).toDF("doc_id", "source", "text")
    val ref = Seq((9L, "z", "   ")).toDF("doc_id", "source", "text")
    val got = TextAnalysis.ngramNovelty(cur, ref, "source", "text", n = 3).head()
    got.getAs[Long]("n_grams") shouldBe 1L
    got.getAs[Long]("n_novel") shouldBe 1L
    got.getAs[Double]("novelty_rate") shouldBe 1.0 +- 1e-12
  }

  test("kneserNeyBigrams: hand-computed KN probabilities, continuation counts, doc boundaries") {
    // bigram census: (san,francisco)x2, (san,jose), (new,york),
    // (new,jersey), (york,city) -> 5 types; the single-token doc
    // contributes nothing (no cross-doc bigrams)
    val docs = Seq("san francisco", "san francisco", "san jose",
      "new york", "new jersey", "york city", "york").toDF("text")
    val out = TextAnalysis.kneserNeyBigrams(docs, "text", discount = 0.75, topK = 10)
      .collect().map(r => (r.getAs[String]("w1"), r.getAs[String]("w2")) -> r).toMap
    out.size shouldBe 5
    val sf = out(("san", "francisco"))
    sf.getAs[Long]("c_xy") shouldBe 2L
    sf.getAs[Long]("c_left") shouldBe 3L
    sf.getAs[Long]("n_follow") shouldBe 2L
    sf.getAs[Long]("n_precede") shouldBe 1L
    // francisco: frequent but ONE left context -> p_cont = 1/5
    sf.getAs[Double]("p_cont") shouldBe 0.2 +- 1e-12
    // max(2 - .75, 0)/3 + .75 * 2/3 * .2
    sf.getAs[Double]("p_kn") shouldBe (1.25 / 3 + 0.1) +- 1e-12
    val sj = out(("san", "jose"))
    sj.getAs[Double]("p_kn") shouldBe (0.25 / 3 + 0.1) +- 1e-12
    val ny = out(("new", "york"))
    ny.getAs[Double]("p_kn") shouldBe (0.125 + 0.15) +- 1e-12
    // full-vocab normalization: for each w1, discounted seen mass plus
    // lambda * (total continuation mass = 1) must equal 1
    Seq("san", "new", "york").foreach { w1 =>
      val rows = out.collect { case ((a, _), r) if a == w1 => r }
      val cl = rows.head.getAs[Long]("c_left").toDouble
      val nf = rows.head.getAs[Long]("n_follow").toDouble
      val seen = rows.map { r =>
        math.max(r.getAs[Long]("c_xy") - 0.75, 0.0) / cl }.sum
      (seen + 0.75 * nf / cl * 1.0) shouldBe 1.0 +- 1e-12
    }
  }

  test("pmiCollocations / kneserNeyBigrams release their census persists") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val docs = Seq("a b a b", "a b c", "b c d").toDF("text")
    TextAnalysis.pmiCollocations(docs, "text", minCount = 1L, topK = 5).collect()
    TextAnalysis.kneserNeyBigrams(docs, "text", topK = 5).collect()
    spark.sparkContext.getPersistentRDDs.size shouldBe before
  }
}
