package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class SamplingSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ids = (1L to 10000L).toDF("id")

  test("hashSplit: disjoint, exhaustive, near the requested fraction, deterministic") {
    val (train, holdout) = Sampling.hashSplit(ids, "id", 0.2)
    val t = train.as[Long].collect().toSet
    val h = holdout.as[Long].collect().toSet
    t.intersect(h) shouldBe Set.empty
    t.size + h.size shouldBe 10000
    h.size.toDouble / 10000 shouldBe 0.2 +- 0.02
    // determinism + stability: membership unchanged on a subset
    val (_, h2) = Sampling.hashSplit(ids.filter($"id" <= 5000), "id", 0.2)
    h2.as[Long].collect().toSet shouldBe h.filter(_ <= 5000L)
  }

  test("stratifiedTake returns exactly n per stratum, deterministically") {
    val df = (1L to 300L).map(i => (i, s"s${i % 3}")).toDF("id", "g")
    val s1 = Sampling.stratifiedTake(df, "g", "id", 10)
    s1.groupBy("g").count().as[(String, Long)].collect().toMap shouldBe
      Map("s0" -> 10L, "s1" -> 10L, "s2" -> 10L)
    val s2 = Sampling.stratifiedTake(df, "g", "id", 10)
    s2.select("id").as[Long].collect().sorted shouldBe
      s1.select("id").as[Long].collect().sorted
    // a stratum smaller than n is returned whole
    val small = Sampling.stratifiedTake(df.filter($"id" <= 5), "g", "id", 10)
    small.count() shouldBe 5
  }

  test("stratifiedSample keeps ~fraction per stratum and drops unlisted strata") {
    val df = (1L to 9000L).map(i => (i, s"s${i % 3}")).toDF("id", "g")
    val out = Sampling.stratifiedSample(df, "g", "id",
      Map("s0" -> 0.5, "s1" -> 0.1))
    val counts = out.groupBy("g").count().as[(String, Long)].collect().toMap
    counts.keySet shouldBe Set("s0", "s1")
    counts("s0").toDouble / 3000 shouldBe 0.5 +- 0.05
    counts("s1").toDouble / 3000 shouldBe 0.1 +- 0.04
  }

  test("weightedMixture hits target proportions, keeps the bottleneck whole") {
    import spark.implicits._
    // sizes 4000/2000/6000; targets 50/30/20. total = min(4000/.5,
    // 2000/.3, 6000/.2) = 6667 (s1 is the bottleneck): rates s0 ~0.83,
    // s1 = 1.0 (kept whole), s2 ~0.22
    val df = (Seq.fill(4000)("s0") ++ Seq.fill(2000)("s1") ++ Seq.fill(6000)("s2"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "source")
    val mix = Sampling.weightedMixture(df, "source", "id",
      Map("s0" -> 0.5, "s1" -> 0.3, "s2" -> 0.2))
    val counts = mix.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    counts("s1") shouldBe 2000L // bottleneck source: every row survives
    val total = counts.values.sum.toDouble
    counts("s0") / total shouldBe 0.5 +- 0.03
    counts("s1") / total shouldBe 0.3 +- 0.03
    counts("s2") / total shouldBe 0.2 +- 0.03
    // deterministic: a second invocation selects the identical rows
    val again = Sampling.weightedMixture(df, "source", "id",
      Map("s0" -> 0.5, "s1" -> 0.3, "s2" -> 0.2))
    again.select("id").as[Long].collect().sorted shouldBe
      mix.select("id").as[Long].collect().sorted
    // sources missing from the weights are dropped entirely
    val withExtra = df.union(Seq((99999L, "junk")).toDF("id", "source"))
    Sampling.weightedMixture(withExtra, "source", "id",
        Map("s0" -> 0.5, "s1" -> 0.3, "s2" -> 0.2))
      .filter($"source" === "junk").count() shouldBe 0L
    // malformed weights rejected
    an[IllegalArgumentException] should be thrownBy
      Sampling.weightedMixture(df, "source", "id", Map("s0" -> 0.5))
    // a weighted source with no data makes the proportions unachievable
    an[IllegalArgumentException] should be thrownBy
      Sampling.weightedMixture(df, "source", "id",
        Map("s0" -> 0.5, "nope" -> 0.5))
  }

  test("epochShuffle: reproducible permutation, seed-independent epochs") {
    val df = (1L to 5000L).toDF("id")
    val e1 = Sampling.epochShuffle(df, "id", seed = 1L).as[Long].collect()
    val e1b = Sampling.epochShuffle(df, "id", seed = 1L).as[Long].collect()
    val e2 = Sampling.epochShuffle(df, "id", seed = 2L).as[Long].collect()
    e1 shouldBe e1b // same seed -> byte-identical order
    e1.sorted shouldBe (1L to 5000L).toArray // a true permutation
    e2.sorted shouldBe (1L to 5000L).toArray
    e1 should not be e2 // a new seed is a new epoch
    // not accidentally the identity order
    e1 should not be (1L to 5000L).toArray
  }

  test("weightedMixtureRepeat: full epochs exact, proportions met, deterministic") {
    // src a: 100 rows, b: 300, c: 100; weights 0.6/0.3/0.1, totalOut 1000
    // -> rates a=6.0, b=1.0, c=1.0: a repeats 6 full epochs, b/c pass whole
    val df = ((1L to 100L).map(i => (i, "a")) ++ (101L to 400L).map(i => (i, "b")) ++
      (401L to 500L).map(i => (i, "c"))).toDF("id", "src")
    val m = Sampling.weightedMixtureRepeat(df, "src", "id",
      Map("a" -> 0.6, "b" -> 0.3, "c" -> 0.1), totalOut = 1000L)
    val bySrc = m.groupBy("src").count().as[(String, Long)].collect().toMap
    bySrc("a") shouldBe 600L // exact: integer rate -> 6 full epochs
    bySrc("b") shouldBe 300L
    bySrc("c") shouldBe 100L
    // fractional rate: a=3.5 -> every id 3 times + ~50% a 4th time
    val m2 = Sampling.weightedMixtureRepeat(df, "src", "id",
      Map("a" -> 0.35, "b" -> 0.55, "c" -> 0.1), totalOut = 1000L)
    val aCounts = m2.filter($"src" === "a").groupBy("id").count()
      .as[(Long, Long)].collect().toMap
    all(aCounts.values) should (be >= 3L and be <= 4L)
    aCounts.values.sum.toDouble shouldBe 350.0 +- 40.0
    // determinism: same seed -> identical multiset
    val m2b = Sampling.weightedMixtureRepeat(df, "src", "id",
      Map("a" -> 0.35, "b" -> 0.55, "c" -> 0.1), totalOut = 1000L)
    m2b.groupBy("id").count().as[(Long, Long)].collect().toMap shouldBe
      m2.groupBy("id").count().as[(Long, Long)].collect().toMap
    // sources outside the weight map are dropped
    val m3 = Sampling.weightedMixtureRepeat(df, "src", "id",
      Map("a" -> 1.0), totalOut = 100L)
    m3.select("src").distinct().as[String].collect() shouldBe Array("a")
  }

  test("weightedMixtureUpsample(k) equals weightedMixtureRepeat(k * weighted rows)") {
    // 500 weighted rows, multiplier 2.0 -> totalOut 1000: identical mix to
    // the explicit-totalOut call, without the call-site driver count
    val df = ((1L to 100L).map(i => (i, "a")) ++ (101L to 400L).map(i => (i, "b")) ++
      (401L to 500L).map(i => (i, "c")) ++ (501L to 600L).map(i => (i, "zz_unweighted")))
      .toDF("id", "src")
    val w = Map("a" -> 0.6, "b" -> 0.3, "c" -> 0.1)
    val viaMultiplier = Sampling.weightedMixtureUpsample(df, "src", "id", w, 2.0)
      .groupBy("id", "epoch").count().as[(Long, Long, Long)].collect().toSet
    val viaTotal = Sampling.weightedMixtureRepeat(df, "src", "id", w, totalOut = 1000L)
      .groupBy("id", "epoch").count().as[(Long, Long, Long)].collect().toSet
    viaMultiplier shouldBe viaTotal
  }

  test("tokenBudgetSample equals the naive whole-group window formulation") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // skewed groups + varied token counts, several partitions
    val df = (1L to 400L).map { i =>
      (i, if (i % 5 == 0) "big" else s"s${i % 3}", 1L + (i * 7) % 40)
    }.toDF("id", "src", "n_tok").repartition(7)
    for (budget <- Seq(0L, 1L, 100L, 700L, 100000L)) {
      val fast = Sampling.tokenBudgetSample(df, "src", "id", "n_tok", budget)
        .select("id").as[Long].collect().toSet
      val w = Window.partitionBy(col("src"))
        .orderBy(Sampling.lehmerPriority(col("id"), 42L), col("id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val naive = df
        .withColumn("__prev", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .filter(col("__prev") < budget)
        .select("id").as[Long].collect().toSet
      withClue(s"budget $budget: ") { fast shouldBe naive }
    }
  }

  test("tokenBudgetSample: prefix stability and per-group budget accounting") {
    import org.apache.spark.sql.functions._
    val df = (1L to 300L).map(i => (i, s"g${i % 4}", 10L)).toDF("id", "src", "n_tok")
    val kept = Sampling.tokenBudgetSample(df, "src", "id", "n_tok", 200L)
    // exactly ceil(200/10) = 20 docs per group (budget-crossing row kept)
    kept.groupBy("src").count().collect().map(_.getLong(1)).toSeq shouldBe Seq.fill(4)(20L)
    // determinism + prefix property: a smaller budget's kept set is a
    // subset of a larger budget's
    val small = Sampling.tokenBudgetSample(df, "src", "id", "n_tok", 100L)
      .select("id").as[Long].collect().toSet
    val large = Sampling.tokenBudgetSample(df, "src", "id", "n_tok", 200L)
      .select("id").as[Long].collect().toSet
    small.subsetOf(large) shouldBe true
    small should have size 40
  }

  test("bottomKSample equals the window formulation and is partition-independent") {
    val rows = (1L to 500L).map(i => (s"g${i % 4}", i))
    val df = rows.toDF("g", "id")
    // reference: full window sort on the SAME priority
    import org.apache.spark.sql.functions.{col, row_number}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(Sampling.lehmerPriority(col("id")), col("id"))
    val ref = df.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= 7)
      .select(col("g"), col("id")).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def got(parts: Int): Set[(String, Long)] =
      Sampling.bottomKSample(df.repartition(parts), "g", "id", n = 7)
        .select(col("g"), col("id")).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    got(1) shouldBe ref
    got(13) shouldBe ref
    // k larger than a stratum: whole stratum survives, no padding
    val tiny = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "id")
    Sampling.bottomKSample(tiny, "g", "id", n = 10).count() shouldBe 3
    // different seeds pick different samples (permutation actually varies)
    val s1 = Sampling.bottomKSample(df, "g", "id", n = 7, seed = 1L)
      .select("id").as[Long].collect().toSet
    val s2 = Sampling.bottomKSample(df, "g", "id", n = 7, seed = 2L)
      .select("id").as[Long].collect().toSet
    s1 should not equal s2
  }

  test("groupHoldout keeps every group on one side and splits GROUPS by the fraction") {
    import org.apache.spark.sql.functions.col
    val df = (1 to 2000).map(i => (i.toLong, s"dom${i % 97}")).toDF("id", "grp")
    val (rest, hold) = Sampling.groupHoldout(df, "grp", 0.3)
    val restG = rest.select("grp").distinct().collect().map(_.getString(0)).toSet
    val holdG = hold.select("grp").distinct().collect().map(_.getString(0)).toSet
    restG.intersect(holdG) shouldBe empty // leakage-safe: no group straddles
    (rest.count() + hold.count()) shouldBe 2000L
    // realized fraction concentrates on GROUPS (97 of them), not rows
    holdG.size.toDouble / 97 shouldBe 0.3 +- 0.12
    // deterministic; a different seed moves different groups
    val (_, hold2) = Sampling.groupHoldout(df, "grp", 0.3)
    hold2.select("grp").distinct().collect().map(_.getString(0)).toSet shouldBe holdG
    val (_, hold3) = Sampling.groupHoldout(df, "grp", 0.3, seed = 99L)
    hold3.select("grp").distinct().collect().map(_.getString(0)).toSet should not be holdG
    // zero-shuffle contract: membership is a pure filter on the corpus
    hold.queryExecution.executedPlan.toString should not include "Exchange"
    an[IllegalArgumentException] should be thrownBy
      Sampling.groupHoldout(df, "grp", 0.0)
  }

  test("negativeSamples equals the driver probe model; never label-collides") {
    import org.apache.spark.sql.functions.col
    val items = (1L to 300L).map(i => (i, i % 7)).toDF("id", "lab")
    val pool = items.filter(col("id") % 5 === 0) // 60 candidates
    val out = Sampling.negativeSamples(items, pool, "id", "lab", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    out.length shouldBe 900 // 300 anchors x 3 slots
    // driver replay of the exact operator arithmetic
    val poolSorted = (1L to 300L).filter(_ % 5 == 0).map(i => (i, i % 7)).sortBy(_._1)
    val (pids, plabs) = (poolSorted.map(_._1).toArray, poolSorted.map(_._2).toArray)
    def lehmer(x: Long): Long = {
      val m = 2147483647L
      ((x + 1L) % m) * 48271L % m * 48271L % m
    }
    def model(anchor: Long, lab: Long, slot: Long): Option[Long] = {
      val base = lehmer(anchor * 3 + slot) % pids.length
      (0 until 8).iterator.map { r =>
        val i = ((base + r) % pids.length).toInt
        if (plabs(i) != lab && pids(i) != anchor) Some(pids(i)) else None
      }.collectFirst { case Some(x) => x }
    }
    out.foreach { case (a, lab, s, neg) =>
      neg shouldBe model(a, lab, s)
      neg.foreach { n => n % 7 should not be lab; n should not be a }
    }
    // deterministic under repartitioning
    val re = Sampling.negativeSamples(items.repartition(13), pool, "id", "lab", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    re shouldBe out.map(t => (t._1, t._3, t._4)).toSet
    // a pool of one label: anchors of that label get null slots (flagged)
    val mono = Seq((1L, 0L), (2L, 0L), (3L, 1L)).toDF("id", "lab")
    val monoOut = Sampling.negativeSamples(mono, mono.filter(col("lab") === 0), "id", "lab", k = 2)
      .collect().map(r => (r.getLong(0), r.isNullAt(3)))
    monoOut.filter(_._1 == 3L).map(_._2) shouldBe Seq(false, false) // label 1 finds 0s
    // oversized pool is rejected loudly, not silently truncated
    an[IllegalArgumentException] should be thrownBy
      Sampling.negativeSamples(items, items, "id", "lab", k = 1, maxPool = 10)
  }

  test("temperatureWeights: T=1 is natural proportions, large T approaches uniform") {
    import org.apache.spark.sql.functions.col
    val df = (Seq.fill(900)("big") ++ Seq.fill(100)("small"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "src")
    def shares(t: Double): Map[String, Double] =
      Sampling.temperatureWeights(df, "src", t).collect()
        .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val nat = shares(1.0)
    nat("big") shouldBe 0.9 +- 1e-12
    nat("small") shouldBe 0.1 +- 1e-12
    val t2 = shares(2.0) // sqrt smoothing: 30 / (30 + 10) = 0.75
    t2("big") shouldBe 0.75 +- 1e-12
    t2("small") shouldBe 0.25 +- 1e-12
    val flat = shares(1000.0)
    flat("big") shouldBe 0.5 +- 0.01
    flat("small") shouldBe 0.5 +- 0.01
    // shares always normalize
    shares(3.7).values.sum shouldBe 1.0 +- 1e-9
    an[IllegalArgumentException] should be thrownBy
      Sampling.temperatureWeights(df, "src", 0.0)
  }

  test("temperatureMixture: deterministic, honors the derived proportions, keeps the bottleneck whole") {
    val df = (Seq.fill(900)("big") ++ Seq.fill(100)("small"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "src")
    val out = Sampling.temperatureMixture(df, "src", "id", temperature = 2.0)
    val counts = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // T=2 shares: big 0.75, small 0.25 -> small (100 rows / 0.25 = 400) is
    // the bottleneck and is kept whole; big samples down toward 300
    counts("small") shouldBe 100L
    counts("big").toDouble shouldBe 300.0 +- 40.0 // hash-Bernoulli concentration
    // deterministic in (id, seed)
    val again = Sampling.temperatureMixture(df, "src", "id", temperature = 2.0)
    again.orderBy("id").collect() shouldBe out.orderBy("id").collect()
  }

  test("assignFolds partitions rows deterministically with balanced folds") {
    val df = (0L until 10000L).toDF("id")
    val folds = Sampling.assignFolds(df.repartition(13), "id", k = 5, seed = 7L)
    val sizes = folds.groupBy("fold").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sizes.keySet shouldBe Set(0L, 1L, 2L, 3L, 4L)
    sizes.values.sum shouldBe 10000L               // every row exactly one fold
    all(sizes.values) should (be >= 1800L and be <= 2200L) // uniformity
    // partitioning-independent: the assignment is a pure function of id
    val again = Sampling.assignFolds(df.repartition(1), "id", k = 5, seed = 7L)
    again.orderBy("id").collect() shouldBe folds.orderBy("id").collect()
    // a different seed permutes the assignment
    val other = Sampling.assignFolds(df, "id", k = 5, seed = 8L)
    other.orderBy("id").collect() should not be folds.orderBy("id").collect()
  }

  test("foldSplit is a disjoint, complete train/test partition consistent with assignFolds") {
    val df = (0L until 2000L).toDF("id")
    val (train, test) = Sampling.foldSplit(df, "id", k = 4, fold = 2, seed = 1L)
    val nTrain = train.count()
    val nTest = test.count()
    nTrain + nTest shouldBe 2000L
    train.join(test, "id").count() shouldBe 0L
    val byFilter = Sampling.assignFolds(df, "id", k = 4, seed = 1L)
      .filter($"fold" === 2L).count()
    nTest shouldBe byFilter
    an[IllegalArgumentException] should be thrownBy Sampling.foldSplit(df, "id", 4, 4)
    an[IllegalArgumentException] should be thrownBy Sampling.assignFolds(df, "id", 1)
  }

  test("stratifiedFolds balances every stratum to within one row") {
    // 103 'a' rows and 7 'b' rows into 4 folds: a -> 26/26/26/25 in
    // some order, b -> 2/2/2/1 — no fold ever misses a stratum
    val df = ((1 to 103).map(i => (i.toLong, "a")) ++
      (200 to 206).map(i => (i.toLong, "b"))).toDF("id", "s")
    val folds = Sampling.stratifiedFolds(df.repartition(5), "s", "id", k = 4)
    val census = folds.groupBy("s", "fold").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    census.size shouldBe 8
    census.filterKeys(_._1 == "a").values.toSeq.sorted shouldBe Seq(25L, 26L, 26L, 26L)
    census.filterKeys(_._1 == "b").values.toSeq.sorted shouldBe Seq(1L, 2L, 2L, 2L)
    // deterministic under repartitioning
    val again = Sampling.stratifiedFolds(df.repartition(1), "s", "id", k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val first = folds.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    again shouldBe first
    // the bucket-stitched rank equals the naive global-window rank
    import org.apache.spark.sql.functions.{lit, pmod, row_number}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"s").orderBy(Sampling.lehmerPriority($"id"), $"id")
    val naive = df
      .withColumn("fold", pmod(row_number().over(w) - 1, lit(4)).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    first shouldBe naive
    an[IllegalArgumentException] should be thrownBy
      Sampling.stratifiedFolds(df, "s", "id", 1)
  }

  test("neymanAllocation: budget follows N_h*S_h; constant strata get nothing") {
    val a = Seq.fill(3)(Seq(0.0, 10.0)).flatten.map(("A", _))
    val b = Seq.fill(4)(("B", 5.0))
    val got = Sampling.neymanAllocation((a ++ b).toDF("s", "x"), "s", "x", budget = 10L)
      .orderBy("stratum").collect()
    got.map(_.getString(0)).toSeq shouldBe Seq("A", "B")
    got(0).getAs[Double]("sd") shouldBe math.sqrt(30.0) +- 1e-9
    got(1).getAs[Double]("sd") shouldBe 0.0 +- 1e-12
    got(0).getAs[Long]("n_alloc") shouldBe 10L
    got(1).getAs[Long]("n_alloc") shouldBe 0L
  }

  test("neymanAllocation: all-constant falls back to proportional; remainder is deterministic") {
    val df = (Seq.fill(6)(("A", 1.0)) ++ Seq.fill(4)(("B", 1.0))).toDF("s", "x")
    val got = Sampling.neymanAllocation(df, "s", "x", budget = 5L)
      .orderBy("stratum").collect()
    got.map(_.getAs[Long]("n_alloc")).toSeq shouldBe Seq(3L, 2L)
    // three equal strata, budget 10: 3.33 each, the +1 goes to the
    // lexicographically smallest stratum
    val eq = Seq(("a", 1.0), ("b", 1.0), ("c", 1.0)).toDF("s", "x")
    val alloc = Sampling.neymanAllocation(eq, "s", "x", budget = 10L)
      .orderBy("stratum").collect().map(r => r.getString(0) -> r.getAs[Long]("n_alloc"))
    alloc.toSeq shouldBe Seq("a" -> 4L, "b" -> 3L, "c" -> 3L)
    alloc.map(_._2).sum shouldBe 10L
  }

  test("paddingEfficiency: length sorting shrinks the padded mass, hand trace") {
    // lens 1,10,1,10,1,10 in id order; batches of 2:
    // arrival (1,10)x3 -> padded 60; sorted (1,1),(1,10),(10,10) -> 42
    val docs = (1L to 6L).map(i => (i, if (i % 2 == 0) 10L else 1L))
      .toDF("doc_id", "n_tok").repartition(3)
    val got = Sampling.paddingEfficiency(docs, "doc_id", "n_tok", batchSize = 2)
      .orderBy("strategy").collect()
    val arrival = got(0); val sorted = got(1)
    arrival.getString(0) shouldBe "arrival_order"
    arrival.getAs[Long]("n_docs") shouldBe 6L
    arrival.getAs[Long]("n_batches") shouldBe 3L
    arrival.getAs[Long]("sum_tokens") shouldBe 33L
    arrival.getAs[Long]("padded_tokens") shouldBe 60L
    arrival.getAs[Double]("pad_waste") shouldBe (1.0 - 33.0 / 60.0) +- 1e-12
    sorted.getAs[Long]("padded_tokens") shouldBe 42L
    sorted.getAs[Double]("pad_waste") shouldBe (1.0 - 33.0 / 42.0) +- 1e-12
    // a ragged last batch pads to its own max only
    val seven = ((1L to 6L).map(i => (i, 4L)) :+ ((7L, 9L)))
      .toDF("doc_id", "n_tok")
    val s7 = Sampling.paddingEfficiency(seven, "doc_id", "n_tok", batchSize = 3)
      .filter($"strategy" === "length_sorted").head()
    s7.getAs[Long]("n_batches") shouldBe 3L
    s7.getAs[Long]("padded_tokens") shouldBe (12L + 12L + 9L)
    // empty input: zero rows report, no NPE
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "n_tok")
    Sampling.paddingEfficiency(empty, "doc_id", "n_tok", batchSize = 2)
      .collect().foreach { r => r.getAs[Long]("n_docs") shouldBe 0L }
  }

  test("mixtureAnnealSchedule: uniform at epoch 0, target at the last, budget exact") {
    val df = (Seq.fill(60)("en") ++ Seq.fill(30)("de") ++ Seq.fill(10)("fr"))
      .toDF("lang")
    val targets = Seq(("de", 0.2), ("en", 0.7), ("fr", 0.1))
    val out = Sampling.mixtureAnnealSchedule(df, "lang", targets,
        epochs = 3, budgetPerEpoch = 1000L)
      .collect().map(r => (r.getAs[Long]("epoch"), r.getAs[String]("source")) -> r).toMap
    out.size shouldBe 9
    // epoch 0: uniform thirds; epoch 2: exact target
    targets.foreach { case (src, t) =>
      out((0L, src)).getAs[Double]("weight") shouldBe (1.0 / 3) +- 1e-12
      out((2L, src)).getAs[Double]("weight") shouldBe t +- 1e-12
    }
    // mid epoch: the linear blend
    out((1L, "en")).getAs[Double]("weight") shouldBe (0.5 / 3 + 0.5 * 0.7) +- 1e-12
    // quotas apportion the budget EXACTLY per epoch
    (0L to 2L).foreach { e =>
      targets.map { case (src, _) => out((e, src)).getAs[Long]("quota") }.sum shouldBe 1000L
    }
    // supply join + repeat factor
    out((2L, "en")).getAs[Long]("available") shouldBe 60L
    out((2L, "en")).getAs[Double]("repeat_factor") shouldBe (700.0 / 60) +- 1e-12
    // a target absent from the corpus: available 0, repeat null
    val out2 = Sampling.mixtureAnnealSchedule(df, "lang",
        Seq(("en", 0.5), ("zz", 0.5)), epochs = 2, budgetPerEpoch = 10L)
      .collect().map(r => (r.getAs[Long]("epoch"), r.getAs[String]("source")) -> r).toMap
    out2((1L, "zz")).getAs[Long]("available") shouldBe 0L
    out2((1L, "zz")).isNullAt(5) shouldBe true
    // bad weights refuse
    an[IllegalArgumentException] should be thrownBy
      Sampling.mixtureAnnealSchedule(df, "lang", Seq(("en", 0.5)), 2, 10L)
  }
}
