package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class DriftSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("psiDrift matches the driver model on a planted shift") {
    val ref = Seq(1.0, 2.0, 3.0, 12.0, 15.0, 30.0, 30.0, 55.0).toDF("x")
    val cur = Seq(2.0, 14.0, 33.0, 52.0, 56.0, 58.0).toDF("x")
    val edges = Seq(10.0, 25.0, 50.0)
    val out = Drift.psiDrift(ref, cur, "x", edges).collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(0L, 1L, 2L, 3L)
    out.map(_.getLong(3)).toSeq shouldBe Seq(3L, 2L, 2L, 1L) // n_ref
    out.map(_.getLong(4)).toSeq shouldBe Seq(1L, 1L, 1L, 3L) // n_cur
    // lo/hi bin bounds: (-inf,10),[10,25),[25,50),[50,inf)
    out.head.getDouble(1) shouldBe Double.NegativeInfinity
    out.head.getDouble(2) shouldBe 10.0
    out.last.getDouble(1) shouldBe 50.0
    out.last.getDouble(2) shouldBe Double.PositiveInfinity
    // driver replay of the smoothed terms
    val nr = Seq(3L, 2L, 2L, 1L); val nc = Seq(1L, 1L, 1L, 3L)
    val terms = (0 until 4).map { i =>
      val pr = (nr(i) + 0.5) / (8 + 0.5 * 4)
      val pc = (nc(i) + 0.5) / (6 + 0.5 * 4)
      (pc - pr) * math.log(pc / pr)
    }
    // Math.log's JIT intrinsic may differ from the driver's call by 1 ulp,
    // so terms compare with a tolerance, not bitwise
    out.map(_.getDouble(5)).zip(terms).foreach { case (got, want) =>
      got shouldBe want +- 1e-12
    }
    all(out.map(_.getDouble(6))) shouldBe terms.sum +- 1e-12
  }

  test("psiDrift is exactly zero for identical samples; nulls excluded; empty bins stay finite") {
    val s = Seq(Some(1.0), Some(20.0), Some(90.0), None).toDF("x")
    val out = Drift.psiDrift(s, s, "x", Seq(10.0, 25.0, 50.0)).collect()
    out.map(_.getLong(3)).sum shouldBe 3L // null dropped
    all(out.map(_.getDouble(6))) shouldBe 0.0 // identical -> every term 0
    // bin 2 ([25,50)) is empty on BOTH sides and still reports a finite term
    out(2).getLong(3) shouldBe 0L
    out(2).getDouble(5).isNaN shouldBe false
  }

  test("psiDrift argument validation") {
    val s = Seq(1.0).toDF("x")
    an[IllegalArgumentException] should be thrownBy
      Drift.psiDrift(s, s, "x", Seq(5.0, 3.0))
    an[IllegalArgumentException] should be thrownBy
      Drift.psiDrift(s, s, "x", Nil)
    an[IllegalArgumentException] should be thrownBy
      Drift.psiDrift(s, s, "x", Seq(1.0), alpha = 0.0)
  }

  test("psiFromHistograms equals psiDrift on aligned bins and is state-merge invariant") {
    import org.apache.spark.sql.functions.{col, lit}
    val refV = Seq(1.0, 5.0, 12.0, 15.0, 22.0, 31.0, 35.0, 38.0)
    val curV = Seq(2.0, 14.0, 24.0, 25.0, 26.0, 33.0)
    val ref = refV.map(("k", _)).toDF("k", "x")
    val cur = curV.map(("k", _)).toDF("k", "x")
    // uniform [0,40)/4 bins == edge bins {10,20,30} for in-range values
    val refH = Histograms.binned(ref, Seq("k"), "x", 0.0, 40.0, 4)
    val curH = Histograms.binned(cur, Seq("k"), "x", 0.0, 40.0, 4)
    val viaState = Drift.psiFromHistograms(refH, curH, Seq("k"), 4).head()
    val direct = Drift.psiDrift(ref.select("x"), cur.select("x"), "x",
      Seq(10.0, 20.0, 30.0)).head().getDouble(6)
    viaState.getDouble(3) shouldBe direct +- 1e-12
    viaState.getLong(1) shouldBe 8L
    viaState.getLong(2) shouldBe 6L
    // merging two half-states first changes nothing (the incremental claim)
    val refA = Histograms.binned(ref.limit(4), Seq("k"), "x", 0.0, 40.0, 4)
    val refB = Histograms.binned(ref.orderBy(col("x").desc).limit(4), Seq("k"), "x", 0.0, 40.0, 4)
    val merged = Histograms.mergeState(refA, refB, Seq("k"))
    Drift.psiFromHistograms(merged, curH, Seq("k"), 4).head().getDouble(3) shouldBe
      direct +- 1e-12
    // a key present in only one state stays finite and keyed
    val lop = Drift.psiFromHistograms(
      refH.withColumn("k", lit("only_ref")), curH, Seq("k"), 4)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    lop.keySet shouldBe Set("only_ref", "k")
    lop.values.foreach { v => v.isNaN shouldBe false; v.isInfinite shouldBe false }
    // a NULL key is a legitimate monitored group, not silently dropped
    val nullKeyed = Drift.psiFromHistograms(
      refH.withColumn("k", lit(null).cast("string")),
      curH.withColumn("k", lit(null).cast("string")), Seq("k"), 4).collect()
    nullKeyed.length shouldBe 1
    nullKeyed.head.isNullAt(0) shouldBe true
    nullKeyed.head.getDouble(3) shouldBe direct +- 1e-12
  }

  test("ksStatistic equals the brute-force sup over a pseudo-random pair, any partitioning") {
    // deterministic LCG so the spec needs no RNG object
    def seq(seed: Long, n: Int, shift: Double): Seq[Double] = {
      var x = seed
      (1 to n).map { _ =>
        x = (x * 48271) % 2147483647
        (x % 1000).toDouble / 10.0 + shift
      }
    }
    val a = seq(7L, 400, 0.0); val b = seq(13L, 300, 8.0)
    val out = Drift.ksStatistic(
      a.toDF("x").repartition(7), b.toDF("x").repartition(3), "x").head()
    // brute force: evaluate both ECDFs at every distinct value
    val pts = (a ++ b).distinct.sorted
    val sups = pts.map(v => (math.abs(
      a.count(_ <= v).toDouble / a.size - b.count(_ <= v).toDouble / b.size), v))
    val best = sups.maxBy { case (d, v) => (d, -v) }
    out.getDouble(0) shouldBe best._1
    out.getDouble(1) shouldBe best._2
    out.getLong(2) shouldBe 400L
    out.getLong(3) shouldBe 300L
  }

  test("ksStatistic detects a disjoint shift exactly and breaks sup ties at the smallest value") {
    val ref = (1 to 100).map(_.toDouble).toDF("x")
    val cur = (51 to 150).map(_.toDouble).toDF("x")
    val r = Drift.ksStatistic(ref, cur, "x").head()
    r.getDouble(0) shouldBe 0.5
    // diff is 0.5 on the whole plateau 50..100; smallest value wins
    r.getDouble(1) shouldBe 50.0
    // one side all-null is a loud error, not a NaN
    val nulls = Seq.empty[Double].toDF("x")
    an[IllegalArgumentException] should be thrownBy
      Drift.ksStatistic(ref, nulls, "x")
  }

  test("jsdDrift: zero on identical data, symmetric, bounded by ln 2") {
    val edges = Seq(10.0, 20.0, 30.0)
    val a = (1 to 100).map(i => (i % 40).toDouble).toDF("x")
    val b = (1 to 100).map(i => ((i * 7) % 35).toDouble + 5.0).toDF("x")
    val same = Drift.jsdDrift(a, a, "x", edges).head()
    same.getAs[Double]("jsd") shouldBe 0.0 +- 1e-12
    // symmetry: JSD(a, b) = JSD(b, a); PSI shares this but JSD is the
    // bounded one
    val ab = Drift.jsdDrift(a, b, "x", edges).head().getAs[Double]("jsd")
    val ba = Drift.jsdDrift(b, a, "x", edges).head().getAs[Double]("jsd")
    ab shouldBe ba +- 1e-12
    ab should be > 0.0
    // maximal separation: disjoint supports saturate BELOW ln 2 (the
    // smoothing keeps it finite where PSI would blow up the ratio)
    val lo = (1 to 50).map(_ => 1.0).toDF("x")
    val hi = (1 to 50).map(_ => 100.0).toDF("x")
    val sep = Drift.jsdDrift(lo, hi, "x", edges).head().getAs[Double]("jsd")
    sep should be <= math.log(2.0)
    sep should be > 0.5
    // per-bin terms sum to the total
    val rows = Drift.jsdDrift(a, b, "x", edges).collect()
    rows.map(_.getAs[Double]("jsd_term")).sum shouldBe ab +- 1e-12
  }

  test("lakehouse drift monitor end to end: exactly-once sink -> snapshotDiff -> incremental PSI") {
    import graft.sources.{FileSkipping, VersionedTable}
    // the full composition the per-operator queries cover separately:
    // batches append to a versioned table with pruning stats; the
    // version pair is diffed; per-snapshot histogram STATES (maintained
    // incrementally, never a corpus rescan) feed the PSI gate that flags
    // the drifted append.
    val t = java.nio.file.Files.createTempDirectory("graft_driftmon")
      .resolve("t").toString
    val b0 = (1 to 1000).map(i => (i.toLong, (i % 100).toDouble, "src0"))
      .toDF("k", "x", "src")
    val b1 = (1001 to 1600).map(i => (i.toLong, (i % 100 + 60).toDouble, "src0"))
      .toDF("k", "x", "src")
    FileSkipping.commitWithStats(b0, t, Seq("k")) shouldBe 1L
    FileSkipping.commitWithStats(b1, t, Seq("k")) shouldBe 2L
    VersionedTable.latestVersion(spark, t) shouldBe 2L
    val v1 = VersionedTable.read(spark, t, Some(1L))
    val v2 = VersionedTable.read(spark, t, Some(2L))
    // 1) snapshot diff: exactly the appended keys are `added`
    val byClass = Merge.snapshotDiff(v1, v2, "k", Seq("x"))
      .groupBy("diff_class").count().as[(String, Long)].collect().toMap
    byClass shouldBe Map("added" -> 600L, "unchanged" -> 1000L)
    // 2) histogram states per snapshot; the v2 state maintained
    //    INCREMENTALLY from v1's state + the micro-batch equals the
    //    full-recompute state (merge exactness), so the drift read
    //    never needs the corpus
    val h1 = Histograms.binned(v1, Seq("src"), "x", 0.0, 200.0, 20)
    val h2full = Histograms.binned(v2, Seq("src"), "x", 0.0, 200.0, 20)
    val h2inc = Histograms.mergeState(h1,
      Histograms.binned(b1, Seq("src"), "x", 0.0, 200.0, 20), Seq("src"))
    h2inc.orderBy("bin").as[(String, Int, Long)].collect() shouldBe
      h2full.orderBy("bin").as[(String, Int, Long)].collect()
    // 3) the PSI gate: drifted append flags, self-comparison is zero
    val psi = Drift.psiFromHistograms(h1, h2inc, Seq("src"), nBins = 20)
      .select("src", "psi").as[(String, Double)].collect()
    psi.length shouldBe 1
    psi.head._2 should be > 0.1 // the +60 shift is well past the 0.1 alert line
    val self = Drift.psiFromHistograms(h1, h1, Seq("src"), nBins = 20)
      .select("psi").as[Double].head()
    self shouldBe 0.0 +- 1e-12
  }

  test("wasserstein1 equals the closed-form integral on small samples, any partitioning") {
    // ref mass at {0, 1}, cur at {1, 2}: W1 = 0.5*1 + 0.5*1 = 1.0
    val ref = Seq(0.0, 1.0).toDF("x")
    val cur = Seq(1.0, 2.0).toDF("x")
    Drift.wasserstein1(ref, cur, "x").head().getDouble(0) shouldBe 1.0 +- 1e-9
    // a constant shift moves W1 by exactly the shift
    val base = Seq(1.0, 3.0, 7.0, 12.0, 20.0)
    val shifted = base.map(_ + 2.5)
    val w = Drift.wasserstein1(
      base.toDF("x").repartition(7), shifted.toDF("x").repartition(3), "x")
      .head()
    w.getDouble(0) shouldBe 2.5 +- 1e-9
    w.getAs[Long]("n_ref") shouldBe 5L
    w.getAs[Long]("n_cur") shouldBe 5L
    // identical samples: zero distance
    Drift.wasserstein1(base.toDF("x"), base.toDF("x"), "x")
      .head().getDouble(0) shouldBe 0.0 +- 1e-12
  }

  test("wasserstein1 handles unequal sizes and duplicated values exactly") {
    // ref: 0 (x3); cur: 0, 3 — F_ref jumps to 1 at 0, F_cur = 1/2 on [0,3)
    val ref = Seq(0.0, 0.0, 0.0).toDF("x")
    val cur = Seq(0.0, 3.0).toDF("x")
    Drift.wasserstein1(ref, cur, "x").head().getDouble(0) shouldBe 1.5 +- 1e-9
    // brute check against the equal-size sorted-pairing formula
    val a = Seq(1.0, 5.0, 9.0, 2.0)
    val b = Seq(4.0, 0.0, 8.0, 8.0)
    val brute = a.sorted.zip(b.sorted).map { case (u, v) => math.abs(u - v) }.sum / 4.0
    Drift.wasserstein1(a.toDF("x"), b.toDF("x"), "x")
      .head().getDouble(0) shouldBe brute +- 1e-9
  }

  test("categoricalDrift reproduces the hand chi-square and zeroes on identical mixes") {
    val ref = (Seq.fill(10)("A") ++ Seq.fill(10)("B")).toDF("c")
    val cur = Seq.fill(20)("A").toDF("c")
    val r = Drift.categoricalDrift(ref, cur, "c").head()
    r.getAs[Long]("n_ref") shouldBe 20L
    r.getAs[Long]("n_cur") shouldBe 20L
    r.getAs[Long]("n_categories") shouldBe 2L
    r.getAs[Long]("dof") shouldBe 1L
    // cells (10,10)/(20,0): e = 15,5,15,5 -> chi2 = 25/15+25/5+25/15+25/5
    val chi2 = 25.0 / 15 + 25.0 / 5 + 25.0 / 15 + 25.0 / 5
    r.getAs[Double]("chi2") shouldBe chi2 +- 1e-9
    r.getAs[Double]("cramers_v") shouldBe math.sqrt(chi2 / 40.0) +- 1e-9
    val same = Drift.categoricalDrift(ref, ref, "c").head()
    same.getAs[Double]("chi2") shouldBe 0.0 +- 1e-12
    // one-sided category still contributes its expected-count mass
    val rd = Drift.categoricalDrift(ref,
      (Seq.fill(10)("A") ++ Seq.fill(10)("C")).toDF("c"), "c").head()
    rd.getAs[Long]("n_categories") shouldBe 3L
    rd.getAs[Double]("chi2") shouldBe (10.0 + 10.0) +- 1e-9
  }

  test("embeddingDrift: identical clouds are cosine 1; a planted shift moves every signal") {
    val base = Seq(
      Seq(1.0, 0.0, 1.0), Seq(1.0, 2.0, 1.0), Seq(1.0, 4.0, 1.0))
    val ref = base.map(Tuple1(_)).toDF("v")
    val same = Drift.embeddingDrift(ref, ref, "v", dims = 3).head()
    same.getAs[Long]("n_ref") shouldBe 3L
    same.getAs[Double]("mean_cosine") shouldBe 1.0 +- 1e-12
    // mu = (1, 2, 1); population var trace = 0 + 8/3 + 0
    same.getAs[Double]("norm_ref") shouldBe math.sqrt(6.0) +- 1e-12
    same.getAs[Double]("var_trace_ref") shouldBe (8.0 / 3.0) +- 1e-12
    // scale*2: direction unchanged (cos 1), norm and trace scale
    val cur = base.map(v => Tuple1(v.map(_ * 2.0))).toDF("v")
    val sc = Drift.embeddingDrift(ref, cur, "v", dims = 3).head()
    sc.getAs[Double]("mean_cosine") shouldBe 1.0 +- 1e-12
    sc.getAs[Double]("norm_cur") shouldBe (2.0 * math.sqrt(6.0)) +- 1e-12
    sc.getAs[Double]("var_trace_cur") shouldBe (4.0 * 8.0 / 3.0) +- 1e-12
    // orthogonal-ish shift: cosine drops below 1
    val shifted = base.map(v => Tuple1(Seq(v(0), v(1), v(2) + 10.0))).toDF("v")
    Drift.embeddingDrift(ref, shifted, "v", dims = 3).head()
      .getAs[Double]("mean_cosine") should be < 0.9
    // wrong-length vectors are excluded by the dims guard
    val ragged = (base :+ Seq(9.0)).map(Tuple1(_)).toDF("v")
    Drift.embeddingDrift(ragged, ref, "v", dims = 3).head()
      .getAs[Long]("n_ref") shouldBe 3L
  }
}
