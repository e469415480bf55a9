package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class DedupSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Library calls must leave ZERO residual executor storage: a persist
    * that outlives the call accumulates across a long-lived session. */
  private def assertNoResidualCache(): Unit =
    spark.sparkContext.getPersistentRDDs shouldBe empty

  private val base = "the quick brown fox jumps over the lazy dog while the " +
    "cat sleeps on the warm mat near the old wooden door of the barn"

  test("exact dedup keeps the minimum id per distinct text") {
    val df = Seq(1L -> "aaa", 2L -> "bbb", 3L -> "aaa", 4L -> "aaa", 5L -> "ccc")
      .toDF("id", "text")
    Dedup.exact(df, "id", "text").select("id").as[Long].collect().sorted shouldBe
      Array(1L, 2L, 5L)
  }

  test("exactOn dedups on a composite key") {
    val df = Seq((1L, "u1", "a"), (2L, "u1", "a"), (3L, "u1", "b"), (4L, "u2", "a"))
      .toDF("id", "url", "text")
    Dedup.exactOn(df, "id", Seq("url", "text")).select("id").as[Long]
      .collect().sorted shouldBe Array(1L, 3L, 4L)
  }

  test("exactOn carries non-key columns from the representative row") {
    val df = Seq((3L, "a", "meta3"), (1L, "a", "meta1"), (2L, "b", "meta2"))
      .toDF("id", "text", "meta")
    val out = Dedup.exactOn(df, "id", Seq("text"))
    out.columns.toSeq shouldBe Seq("id", "text", "meta") // schema preserved
    out.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1) shouldBe Array((1L, "a", "meta1"), (2L, "b", "meta2"))
  }

  test("exact dedup: a mass-duplicated key map-side combines (no Window straggler)") {
    // 100k copies of ONE text — crawl-error boilerplate, the exact corpus
    // shape exact dedup exists to clean. The old row_number-over-Window
    // formulation serialized all 100k occurrences into one window task;
    // the groupBy(min(struct)) shape partial-aggregates per input
    // partition before the shuffle.
    val df = spark.range(100000).toDF("id").select(col("id"),
      when(col("id") === 42L, lit("unique doc forty two"))
        .when(col("id") === 77L, lit("unique doc seventy seven"))
        .otherwise(lit(base)).as("text"))
    val dd = Dedup.exact(df, "id", "text")
    val plan = dd.queryExecution.executedPlan.toString
    plan should not include "Window"
    plan.toLowerCase should include ("partial")
    dd.select("id").as[Long].collect().sorted shouldBe Array(0L, 42L, 77L)
  }

  test("adjacentPairs rejects duplicate and negative ids loudly") {
    def allMessages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    // a duplicated id silently emitted different pairs than the naive
    // equi-join before the in-plan guard; now it must fail the action
    val dup = Seq((1L, "a"), (2L, "b"), (2L, "b2"), (3L, "c")).toDF("id", "p")
    val eDup = intercept[Throwable] { Dedup.adjacentPairs(dup, "id").collect() }
    allMessages(eDup) should include ("unique")
    // a negative id lands in block 0 via truncating div AND matches the
    // pmod edge filter -> double emission; must fail instead
    val neg = Seq((-1L, "a"), (0L, "b")).toDF("id", "p")
    val eNeg = intercept[Throwable] { Dedup.adjacentPairs(neg, "id").collect() }
    allMessages(eNeg) should include ("non-negative")
  }

  test("adjacentPairs equals the naive id+1 self-join, including across block edges") {
    // sparse non-consecutive ids, with runs crossing blockSize=4 edges:
    // pairs exist only where id+1 is present (2,3) (3,4) (7,8) (8,9)
    // (11,12) — (4,5) and (9,10)... 5 and 10 absent; (15,16) absent too
    val rows = Seq(2L, 3L, 4L, 7L, 8L, 9L, 11L, 12L, 15L, 20L)
      .map(i => (i, s"payload$i", i * 10))
    val df = rows.toDF("id", "txt", "v")
    val got = Dedup.adjacentPairs(df, "id", blockSize = 4L)
      .select("id_a", "id_b", "txt_a", "txt_b", "v_a", "v_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
    val naive = {
      val a = df.select(col("id").as("id_a"), col("txt").as("txt_a"), col("v").as("v_a"))
      val b = df.select(col("id").as("id_b"), col("txt").as("txt_b"), col("v").as("v_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select("id_a", "id_b", "txt_a", "txt_b", "v_a", "v_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
    }
    got shouldBe naive
    // (3,4) and (7,8) and (11,12) cross block edges at blockSize=4
    got.map(p => (p._1, p._2)) shouldBe
      Array((2L, 3L), (3L, 4L), (7L, 8L), (8L, 9L), (11L, 12L))
  }

  test("adjacentPairs property: equals the naive self-join on random sparse id sets") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // random id sets spanning several blockSize=8 blocks, with dense runs
    // and gaps, plus a payload column to carry
    val idsGen = for {
      n <- Gen.chooseNum(0, 60)
      ids <- Gen.listOfN(n, Gen.chooseNum(0L, 120L))
    } yield ids.distinct
    val cases = (0 until 12).flatMap(i =>
      idsGen.apply(Gen.Parameters.default, Seed(7L + i)))
    for (ids <- cases) {
      val df = ids.map(i => (i, s"p$i")).toDF("id", "p")
      val got = Dedup.adjacentPairs(df, "id", blockSize = 8L)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[String]("p_a"), r.getAs[String]("p_b"))).sorted.toSeq
      val expect = ids.sorted.sliding(2).collect {
        case Seq(a, b) if b == a + 1 => (a, b, s"p$a", s"p$b")
      }.toSeq.sorted
      got shouldBe expect
    }
  }

  test("shingles builds word n-grams; short texts collapse to one shingle") {
    val r = Seq("a b c d").toDF("t")
      .select(Dedup.shingles(col("t"), 3).as("s")).head().getAs[scala.collection.Seq[String]]("s")
    r shouldBe Seq("a b c", "b c d")
    val short = Seq("a b").toDF("t")
      .select(Dedup.shingles(col("t"), 3).as("s")).head().getAs[scala.collection.Seq[String]]("s")
    short shouldBe Seq("a b")
  }

  // exact word-3-gram Jaccard of two text columns (lowercased shingle sets)
  private def exactJaccard(a: String, b: String) =
    Dedup.hashJaccard(Dedup.shingleHashes(col(a), 3), Dedup.shingleHashes(col(b), 3))

  test("ngram jaccard: identical 1.0, disjoint 0.0, case-insensitive") {
    val df = Seq((base, base.toUpperCase, "completely different words entirely here now"))
      .toDF("a", "b", "c")
    val r = df.select(exactJaccard("a", "b").as("same"), exactJaccard("a", "c").as("diff")).head()
    r.getAs[Double]("same") shouldBe 1.0
    r.getAs[Double]("diff") shouldBe 0.0
  }

  test("minhash estimates jaccard within tolerance for near-dup texts") {
    val near = base.replace("lazy", "sleepy")
    val df = Seq((base, near)).toDF("a", "b")
    val r = df.select(
      Dedup.minHashJaccard(
        Dedup.minHashSignature(col("a"), 128), Dedup.minHashSignature(col("b"), 128)).as("est"),
      exactJaccard("a", "b").as("exact")).head()
    r.getAs[Double]("est") shouldBe r.getAs[Double]("exact") +- 0.15
    r.getAs[Double]("exact") should be > 0.5
  }

  test("minhash LSH finds planted near-duplicates and dedups them") {
    val docs = (0L until 20L).map(i => i -> s"unique document number $i with filler words ${i * 7} and ${i * 13} making it long enough")
    val planted = Seq(100L -> base, 101L -> base.replace("lazy", "sleepy"), 102L -> base)
    val df = (docs ++ planted).toDF("id", "text")
    val pairs = Dedup.minHashLshPairs(df, "id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs should contain (100L -> 101L)
    pairs should contain (100L -> 102L)
    val survivors = Dedup.minHashDedup(df, "id", "text", threshold = 0.5)
      .select("id").as[Long].collect().toSet
    survivors should contain (100L)
    survivors should contain noneOf (101L, 102L)
    survivors.intersect(docs.map(_._1).toSet) shouldBe docs.map(_._1).toSet
    assertNoResidualCache()
  }

  test("minHashLshPairs bucket cap skips a planted mega-cluster, keeps small pairs") {
    // 40 identical boilerplate docs (every band bucket size 40 — under
    // the DefaultMaxBucketSize=50 default, so the DEFAULT call still
    // emits the full clique) + one near-dup pair of distinct docs
    // (bucket size 2)
    val boiler = (0L until 40L).map(i => (i, base))
    val other = "completely different subject matter about spark catalyst " +
      "optimizer rules and tungsten memory management internals at scale"
    val pairDocs = Seq(100L -> other, 101L -> (other + " today"))
    val df = (boiler ++ pairDocs).toDF("id", "text")
    val defaulted = Dedup.minHashLshPairs(df, "id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    defaulted.size shouldBe (40 * 39 / 2 + 1) // full clique + the small pair
    // explicit opt-out (<= 0) must agree where no bucket exceeds any cap
    val optOut = Dedup.minHashLshPairs(df, "id", "text", maxBucketSize = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    optOut shouldBe defaulted
    val capped = Dedup.minHashLshPairs(df, "id", "text", maxBucketSize = 10)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    capped shouldBe Set((100L, 101L)) // clique buckets skipped, small bucket kept
    assertNoResidualCache()
  }

  test("minHashLshPairs cap BOUNDS candidate pairs per bucket at cap*(cap-1)/2") {
    // the Σ size² contract under the cap, pinned quantitatively (r14
    // verdict #6): with cap c, a bucket contributes AT MOST c(c-1)/2
    // pairs — under-cap cliques emit in full, at-cap cliques emit
    // exactly the bound, over-cap cliques emit ZERO. Three disjoint
    // near-identical clusters of sizes 8, 10, 12 against cap 10: the
    // total pair count is the closed form C(8,2) + C(10,2) + 0, and no
    // emitted pair touches the over-cap cluster.
    def cluster(tag: String, idBase: Long, n: Int): Seq[(Long, String)] =
      (0 until n).map(i => (idBase + i,
        s"$tag $base")) // same text within a cluster -> one clique per cluster
    val df = (cluster("alpha", 0L, 8) ++ cluster("beta", 100L, 10) ++
      cluster("gamma", 200L, 12)).toDF("id", "text")
    val cap = 10
    val pairs = Dedup.minHashLshPairs(df, "id", "text", maxBucketSize = cap)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.length shouldBe (8 * 7 / 2 + 10 * 9 / 2)
    // no pair may come from the over-cap cluster, and per-cluster counts
    // respect the c(c-1)/2 bound exactly
    def clusterOf(id: Long): Long = id / 100
    pairs.foreach { case (a, b) =>
      clusterOf(a) shouldBe clusterOf(b)
      clusterOf(a) should not be 2L
    }
    pairs.count(p => clusterOf(p._1) == 0L) shouldBe 28
    pairs.count(p => clusterOf(p._1) == 1L) shouldBe cap * (cap - 1) / 2
    assertNoResidualCache()
  }

  test("minHashLshPairs DEFAULT cap skips an over-cap mass-duplicate bucket") {
    // 1050 verbatim copies put every band bucket at 1050, far over the
    // DefaultMaxBucketSize=50 default (sized from the 1,225 pairs/bucket
    // budget — see Dedup.DefaultMaxBucketSize): the n(n-1)/2 clique
    // (550k pairs) is skipped without being asked — the quadratic path
    // is opt-in (maxBucketSize <= 0), no longer the silent default. The
    // unrelated small pair still pairs.
    val boiler = (0L until 1050L).map(i => (i, base))
    val other = "completely different subject matter about spark catalyst " +
      "optimizer rules and tungsten memory management internals at scale"
    val df = (boiler ++ Seq(5000L -> other, 5001L -> (other + " today"))).toDF("id", "text")
    val got = Dedup.minHashLshPairs(df, "id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe Set((5000L, 5001L))
    assertNoResidualCache()
  }

  test("connected components merges chains across edges (both paths)") {
    // components: {1,2,3,4} via chain, {10,11}, isolated nodes never appear
    val edges = Seq((2L, 3L), (1L, 2L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
    // driver union-find path
    Dedup.connectedComponents(edges)
      .select("id", "component").as[(Long, Long)].collect().toMap shouldBe expected
    // distributed label-propagation path (forced)
    Dedup.connectedComponents(edges, localThreshold = 0L)
      .select("id", "component").as[(Long, Long)].collect().toMap shouldBe expected
    assertNoResidualCache()
  }

  test("clustered dedup keeps one representative per transitive near-dup chain") {
    val distinct = (0L until 10L).map(i =>
      i -> s"standalone text ${i} covering subject ${i * 31} terms ${i * 17} ${i * 23} ${i * 29}")
    // chain: 100 ~ 101 ~ 102 (100 and 102 are both edits of 101)
    val planted = Seq(100L -> base,
      101L -> base.replace("lazy", "sleepy"),
      102L -> base.replace("lazy", "sleepy").replace("cat", "kitten"))
    val df = (distinct ++ planted).toDF("id", "text")
    val survivors = Dedup.minHashDedupClustered(df, "id", "text", threshold = 0.5)
      .select("id").as[Long].collect().toSet
    survivors.intersect(Set(100L, 101L, 102L)) shouldBe Set(100L)
    survivors.intersect(distinct.map(_._1).toSet) shouldBe distinct.map(_._1).toSet
    assertNoResidualCache()
  }

  test("simhash: identical texts identical hash; near-dups within hamming 3") {
    val near = base.replace("dog", "dig")
    val df = Seq((base, base, near)).toDF("a", "b", "c")
    val r = df.select(
      bit_count(Dedup.simHash(col("a")).bitwiseXOR(Dedup.simHash(col("b")))).as("same"),
      bit_count(Dedup.simHash(col("a")).bitwiseXOR(Dedup.simHash(col("c")))).as("near")).head()
    r.getAs[Int]("same") shouldBe 0
    r.getAs[Int]("near") should be <= 10
  }

  test("embedding near-dup pairs via hyperplane LSH") {
    val v = Seq(1.0, 0.5, -0.3, 0.8)
    val nearV = v.map(_ * 1.01)
    val farV = Seq(-1.0, 0.4, 0.9, -0.2)
    val df = Seq((1L, v), (2L, nearV), (3L, farV)).toDF("id", "vec")
    val planes = Similarity.randomPlanes(4, 4)
    val pairs = Dedup.embeddingNearDupPairs(df, "id", "vec", 0.99, planes)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs shouldBe Set(1L -> 2L)
  }

  test("adaptive embedding near-dup: small corpus == fixed minPlanes; big corpus prunes candidates") {
    // small corpus (n << targetBucket): P clamps to minPlanes=4, and since
    // randomPlanes(4) is a prefix of randomPlanes(16) under the same seed,
    // the result must equal the fixed-4-plane call exactly
    val rnd = new scala.util.Random(7)
    def vec(): Seq[Double] = Seq.fill(8)(rnd.nextGaussian())
    val small = Seq.tabulate(40)(i => (i.toLong, vec())).toDF("id", "vec")
    val fixed = Dedup.embeddingNearDupPairs(small, "id", "vec", 0.5,
      Similarity.randomPlanes(4, 8)).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val adaptive = Dedup.embeddingNearDupPairsAdaptive(small, "id", "vec", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    adaptive shouldBe fixed

    // big corpus (n = 2048, targetBucket 64): P = 5 -> 32 buckets, so the
    // adaptive candidate set must SHRINK vs fixed 4 planes (16 buckets),
    // and every surviving pair must still clear the cosine threshold
    val big = Seq.tabulate(2048)(i => (i.toLong, vec())).toDF("id", "vec").repartition(8)
    def candidates(pairs: org.apache.spark.sql.DataFrame): Long = pairs.count()
    val fixedBig = Dedup.embeddingNearDupPairs(big, "id", "vec", -1.0,
      Similarity.randomPlanes(4, 8))
    val adaptiveBig = Dedup.embeddingNearDupPairsAdaptive(big, "id", "vec", -1.0)
    val (nf, na) = (candidates(fixedBig), candidates(adaptiveBig))
    assert(na < nf, s"adaptive planes should prune candidates: adaptive=$na fixed=$nf")
  }

  test("dedupLinesWithinDoc: first occurrences kept, empties preserved, order stable") {
    val cases = Seq(
      "a\nb\na\n\nb\nc" -> "a\nb\n\nc",   // repeats dropped, empty kept
      "x"                -> "x",          // single line untouched
      ""                 -> "",           // empty doc untouched
      "\n\n"             -> "\n\n",       // only empties: all kept
      "dup\ndup\ndup"    -> "dup",
      "a\na \n a"        -> "a\na \n a")  // whitespace variants are distinct lines
    val got = cases.map(_._1).toDF("t")
      .select(Dedup.dedupLinesWithinDoc(col("t")).as("d"))
      .collect().map(_.getString(0))
    got shouldBe cases.map(_._2).toArray
    // null propagates; SQL registration works
    Seq[Option[String]](None).toDF("t")
      .select(Dedup.dedupLinesWithinDoc(col("t")).as("d"))
      .head().isNullAt(0) shouldBe true
    spark.sql("SELECT dedup_lines('a\nb\na') AS d").head().getString(0) shouldBe "a\nb"
  }

  test("globalLineDedup keeps first occurrences, empty lines, and drops emptied docs") {
    val docs = Seq(
      (1L, "header\nalpha\nfooter"),
      (2L, "header\nbeta\nfooter"), // header/footer already seen in doc 1
      (3L, "gamma"),
      (4L, "header\nfooter"), // every line a repeat -> doc disappears
      (5L, "x\n\ny") // the empty middle line is structure, always kept
    ).toDF("doc_id", "text")
    val out = Dedup.globalLineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    out shouldBe Map(
      1L -> "header\nalpha\nfooter",
      2L -> "beta",
      3L -> "gamma",
      5L -> "x\n\ny")
  }

  test("globalLineDedup: hot-line corpus dedups without a per-line window") {
    // a boilerplate line shared by EVERY doc (the skew case: all its
    // occurrences must map-side combine, not serialize into one task)
    val docs = (1L to 200L).map(i => (i, s"== NAV ==\nbody $i\n\n== NAV =="))
      .toDF("doc_id", "text")
    val dd = Dedup.globalLineDedup(docs, "doc_id", "text")
    // the nav line survives only in doc 1 (both its occurrences there:
    // first at idx 0; the idx-3 repeat dies like any other), every body
    // line is unique, empty lines always survive
    val out = dd.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    out(1L) shouldBe "== NAV ==\nbody 1\n"
    (2L to 200L).foreach { i => out(i) shouldBe s"body $i\n" }
    // skew posture: first-occurrence selection is a partial-aggregable
    // groupBy, not a Window partitioned by the line value
    val plan = dd.queryExecution.executedPlan.toString
    plan should not include "Window"
    plan.toLowerCase should include ("partial")
  }

  test("ngramOverlap flags planted contamination with exact counts") {
    val bench = Seq((1L, "the secret benchmark answer is forty two"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "nothing in common here at all"),
      // shares "the secret benchmark" and "secret benchmark answer"
      // out of its 5 trigrams
      (11L, "he knew the secret benchmark answer already"),
      (12L, "the secret benchmark answer is forty two"), // verbatim copy
      (13L, "")).toDF("doc_id", "text")
    val out = Dedup.ngramOverlap(corpus, bench, "doc_id", "text", "text", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_overlap"), r.getAs[Double]("overlap_ratio"))).toMap
    out.keySet shouldBe Set(11L, 12L)
    out(11L)._1 shouldBe 2L
    out(11L)._2 shouldBe (2.0 / 5) +- 1e-12
    out(12L)._1 shouldBe 5L
    out(12L)._2 shouldBe 1.0 +- 1e-12
    // broadcast guard: over the gram cap the join falls back to a plain
    // shuffle join (no broadcast hint in the plan) with identical results
    val guarded = Dedup.ngramOverlap(corpus, bench, "doc_id", "text", "text",
      n = 3, maxBroadcastGrams = 1L)
    guarded.queryExecution.logical.toString should not include "broadcast"
    val gOut = guarded.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_overlap"), r.getAs[Double]("overlap_ratio"))).toMap
    gOut shouldBe out
  }

  test("dup-ngram fraction counts positional occurrences against corpus frequency") {
    // n=3 grams. doc 1: "a b c d" -> grams (a b c), (b c d).
    // doc 2: "a b c x" -> (a b c), (b c x).
    // doc 3: "p q r p q r p q" -> 6 grams: (p q r) x2, (q r p) x2,
    //        (r p q) x2 — every position duplicated WITHIN the doc.
    // doc 4: "u v" -> fewer than 3 tokens, excluded.
    // corpus frequencies: (a b c)=2 dup; others in docs 1-2 unique.
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "A B C x"), // lowercased by the operator -> shares (a b c)
      (3L, "p q r p q r p q"),
      (4L, "u v")).toDF("doc_id", "text")
    val out = Dedup.dupNgramFraction(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup"), r.getAs[Double]("dup_fraction")))).toMap
    out.keySet shouldBe Set(1L, 2L, 3L)
    out(1L) shouldBe ((2L, 1L, 0.5))
    out(2L) shouldBe ((2L, 1L, 0.5))
    out(3L) shouldBe ((6L, 6L, 1.0))
  }

  test("dup-ngram fraction is partition-count independent") {
    val docs = (1L to 30L).map(i => (i, s"t${i % 4} t${i % 4} t${i % 4} u$i v w"))
    val a = Dedup.dupNgramFraction(docs.toDF("doc_id", "text").repartition(1), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val b = Dedup.dupNgramFraction(docs.toDF("doc_id", "text").repartition(5), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    a shouldBe b
  }

  test("crossCorpusDedup drops exact and near matches to ref, keeps fresh and new-vs-new dups") {
    val base = "the quick brown fox jumps over the lazy dog near the old barn door today"
    val ref = Seq((1L, base),
      (2L, "reference corpus second document with its own distinct words inside here"))
      .toDF("doc_id", "text")
    val newc = Seq(
      (101L, base),                       // exact dup of ref 1 -> dropped
      (102L, base.replace(" ", "  ")),    // equal-token near dup -> dropped
      (103L, "a genuinely fresh crawl document nothing like the reference set"),
      (104L, "a genuinely fresh crawl document nothing like the reference set"))
      .toDF("doc_id", "text") // 103/104 duplicate EACH OTHER -> both kept
    val out = Dedup.crossCorpusDedup(newc, ref, "doc_id", "text", threshold = 1.0)
      .select("doc_id").as[Long].collect().sorted
    out shouldBe Array(103L, 104L)
  }

  test("crossCorpusDedup raises on an id shared between the corpora") {
    val textA = "some reference text with enough words to shingle properly here"
    val textB = "a second reference body whose words differ from the first entirely"
    val ref = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
    // id 1 reused by the new corpus as a NEAR dup (double spaces) so it
    // survives the exact prefix and reaches the LSH union; the (2, 50)
    // near-dup pair forces the side-lookup aggregate (where the guard
    // lives) to evaluate
    val newc = Seq((1L, textA.replace(" ", "  ")), (50L, textB)).toDF("doc_id", "text")
    def allMessages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val e = intercept[Throwable] {
      Dedup.crossCorpusDedup(newc, ref, "doc_id", "text", threshold = 1.0).collect()
    }
    allMessages(e) should include ("not unique")
  }

  test("canonicalPerCluster keeps the highest-prefer member, min id on ties") {
    import org.apache.spark.sql.functions.col
    // cluster {1,2,3}: identical token streams, different spacing —
    // doc 3 (triple spaces) is LONGEST and must win. docs 10, 11 are
    // unrelated singletons.
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base),
      (2L, base.replace(" ", "  ")),
      (3L, base.replace(" ", "   ")),
      (10L, "completely different content lives in this standalone document here"),
      (11L, "another unrelated singleton text body with its own unique words"))
      .toDF("doc_id", "text")
    val out = Dedup.canonicalPerCluster(docs, "doc_id", "text",
        prefer = org.apache.spark.sql.functions.length(col("text")), threshold = 1.0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_size")).toMap
    out shouldBe Map(3L -> 3L, 10L -> 1L, 11L -> 1L)
  }

  test("canonicalPerCluster tie on prefer falls back to the minimum id") {
    import org.apache.spark.sql.functions.lit
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (5L, base), (6L, base.replace(" ", "  ")),
      (9L, "some other loner document with enough distinct words inside"))
      .toDF("doc_id", "text")
    // constant prefer -> every member ties -> min id survives (the d6
    // min-id policy recovered as a special case)
    val out = Dedup.canonicalPerCluster(docs, "doc_id", "text",
        prefer = lit(0), threshold = 1.0)
      .collect().map(_.getAs[Long]("doc_id")).sorted
    out shouldBe Array(5L, 9L)
  }

  test("canonicalPerCluster preserves the input row of the survivor") {
    import org.apache.spark.sql.functions.col
    val base = "one two three four five six seven eight nine ten eleven"
    val docs = Seq((1L, base, "keepme"), (2L, base.replace(" ", "  "), "other"))
      .toDF("doc_id", "text", "tag")
    val rows = Dedup.canonicalPerCluster(docs, "doc_id", "text",
        prefer = org.apache.spark.sql.functions.length(col("text")), threshold = 1.0).collect()
    rows.length shouldBe 1
    rows.head.getAs[Long]("doc_id") shouldBe 2L
    rows.head.getAs[String]("tag") shouldBe "other"
    rows.head.getAs[Long]("cluster_size") shouldBe 2L
  }

  test("canonicalPerCluster: a (50,1000] clique survives UNCLUSTERED under the " +
      "default cap and collapses under the uncapped opt-in (the d13/d13c contract)") {
    // 60 verbatim copies sit in the exact range the r16 default change
    // (1000 -> 50) altered: every band bucket holds 60 > 50, so the
    // DEFAULT path emits no pairs for the clique — each member survives
    // as its own singleton (cluster_size 1), the documented recall
    // trade. The uncapped twin (maxBucketSize = 0) pays the C(60,2)
    // pair stage and collapses the clique to ONE survivor carrying the
    // full mass. An under-cap pair is found by BOTH paths — the cap
    // skips buckets, it never perturbs small ones.
    val clique = (0L until 60L).map(i => (i, base))
    val other = "completely different subject matter about catalyst " +
      "optimizer rules and tungsten memory management internals at scale"
    val docs = (clique ++ Seq(500L -> other, 501L -> (other + " "))).toDF("doc_id", "text")
    val prefer = org.apache.spark.sql.functions.length(col("text"))
    val capped = Dedup.canonicalPerCluster(docs, "doc_id", "text",
        prefer = prefer, threshold = 1.0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_size")).toMap
    capped.size shouldBe 61 // all 60 clique members + the pair's survivor
    (0L until 60L).foreach(i => capped(i) shouldBe 1L)
    capped(501L) shouldBe 2L // trailing space makes 501 longer -> it wins
    val uncapped = Dedup.canonicalPerCluster(docs, "doc_id", "text",
        prefer = prefer, threshold = 1.0, maxBucketSize = 0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_size")).toMap
    uncapped shouldBe Map(0L -> 60L, 501L -> 2L)
    assertNoResidualCache()
  }

  // ---- cross-document repeated spans (sampled k-gram anchors) ----

  test("repeatedSpans: an aligned repeated span >= k+stride-1 is guaranteed an anchor hit") {
    val span = "the quick brown fox jumps over the lazy dog again" // 50 chars
    val docs = Seq(
      (1L, "XXXXXXXX" + span + "YYYYYYYYYYYY"), // span at offset 8 (aligned mod 8)
      (2L, span + "ZZZZZZZZZZZZZZZZZZZZ"), // span at offset 0
      (3L, "completely unrelated text with no repeats at all here"))
      .toDF("doc_id", "text")
    val hits = Dedup.repeatedSpans(docs, "doc_id", "text", k = 24, stride = 8).collect()
    hits should not be empty
    // every surviving gram is a substring of the planted span
    hits.foreach(h => span should include(h.getString(0)))
    val top = hits.maxBy(_.getAs[Long]("n_occ"))
    top.getAs[Long]("n_docs") shouldBe 2L
  }

  test("repeatedSpans: hash-mod sampling detects MISALIGNED copies positional sampling can miss") {
    val span = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGH" // 45 chars
    val docs = Seq(
      (1L, span + "@@@@@@@@@@@"),
      (2L, "###" + span + "%%%%%%%%")) // offset 3: copies disagree mod 8; tails differ
      .toDF("doc_id", "text")
    val robust = Dedup.repeatedSpans(docs, "doc_id", "text", k = 12, stride = 1, hashMod = 4)
      .collect()
    robust should not be empty // content-defined: same grams selected in both copies
    robust.foreach { h =>
      h.getAs[Long]("n_docs") shouldBe 2L
      span should include(h.getString(0))
    }
  }

  test("repeatedSpans: intra-doc repetition counts occurrences, not docs; minOcc filters") {
    val docs = Seq((1L, "samechunkhere...padding...samechunkhere...padding...samechunkhere"))
      .toDF("doc_id", "text")
    val hits = Dedup.repeatedSpans(docs, "doc_id", "text", k = 8, stride = 1).collect()
    val best = hits.maxBy(_.getAs[Long]("n_occ"))
    best.getAs[Long]("n_occ") should be >= 3L
    best.getAs[Long]("n_docs") shouldBe 1L
    Dedup.repeatedSpans(docs, "doc_id", "text", k = 8, stride = 1, minOcc = 100L)
      .count() shouldBe 0L
  }

  test("maskSpans: coverage semantics — overlapping hits compose, offsets stay stable") {
    val docs = Seq(
      (1L, "xxABCDyyABCDzz"), // two disjoint hits
      (2L, "AABCDX"), // no hit of 'ABCD'? yes at pos 1 -> covers 1..4
      (3L, "clean text"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.maskSpans(docs, "text", Seq("ABCD"), k = 4, maskChar = '_')
      .select(col("doc_id"), col("masked"), col("n_masked")).orderBy("doc_id").collect()
    out(0).getString(1) shouldBe "xx____yy____zz"
    out(0).getInt(2) shouldBe 8
    out(1).getString(1) shouldBe "A____X"
    out(1).getInt(2) shouldBe 4
    out(2).getString(1) shouldBe "clean text"
    out(2).getInt(2) shouldBe 0
    out(3).isNullAt(1) shouldBe true
    out(3).getInt(2) shouldBe 0
    // overlapping grams: 'AAA' in 'AAAA' covers everything once, not twice
    val ov = Dedup.maskSpans(Seq((1L, "zAAAAz")).toDF("doc_id", "text"),
      "text", Seq("AAA"), k = 3).collect()(0)
    ov.getString(2) shouldBe "z####z"
    ov.getInt(3) shouldBe 4
    // contract: gram length must equal k
    an[IllegalArgumentException] should be thrownBy
      Dedup.maskSpans(docs, "text", Seq("AB"), k = 4)
  }

  test("sourceOverlapMatrix computes pairwise Jaccard over distinct grams") {
    // unigrams: a = {x, y}, b = {y, z}, c = {q} (disjoint from both)
    val df = Seq(("a", "x y"), ("a", "y x"), ("b", "y z"), ("c", "q"))
      .toDF("src", "text")
    val m = Dedup.sourceOverlapMatrix(df.repartition(3), "src", "text", n = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    m.size shouldBe 3 // all pairs present, including zero-overlap ones
    val ab = m(("a", "b"))
    ab.getAs[Long]("n_a") shouldBe 2L
    ab.getAs[Long]("n_b") shouldBe 2L
    ab.getAs[Long]("n_common") shouldBe 1L
    ab.getAs[Double]("jaccard") shouldBe (1.0 / 3.0) +- 1e-12
    ab.getAs[Double]("containment") shouldBe 0.5 +- 1e-12
    m(("a", "c")).getAs[Long]("n_common") shouldBe 0L
    m(("a", "c")).getAs[Double]("jaccard") shouldBe 0.0 +- 1e-12
    // trigram path: identical docs across sources -> full overlap
    val tri = Seq(("a", "p q r s"), ("b", "p q r s")).toDF("src", "text")
    val full = Dedup.sourceOverlapMatrix(tri, "src", "text", n = 3).head()
    full.getAs[Double]("jaccard") shouldBe 1.0 +- 1e-12
  }
}
