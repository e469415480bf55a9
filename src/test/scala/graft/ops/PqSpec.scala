package graft.ops

import graft.TestSpark
import graft.functions.HashFunctions
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._

class PqSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 2 subspaces x 2 dims; per subspace 4 well-separated anchors at
  // (0,0) (10,0) (0,10) (10,10) plus a tiny deterministic jitter
  private def planted(n: Int): Seq[(Long, Seq[Double])] =
    (0 until n).map { i =>
      val a1 = i % 4
      val a2 = (i / 4) % 4
      def anchor(a: Int): Seq[Double] = Seq((a % 2) * 10.0, (a / 2) * 10.0)
      val jit = (i % 7) * 0.01
      (i.toLong, anchor(a1).map(_ + jit) ++ anchor(a2).map(_ - jit))
    }

  test("encode matches the brute-force argmin with lowest-index ties") {
    val cb = Seq(
      Seq(Seq(0.0, 0.0), Seq(10.0, 0.0)),
      Seq(Seq(0.0, 10.0), Seq(0.0, 10.0))) // duplicate centroids: tie -> 0
    val df = Seq((1L, Seq(1.0, 1.0, 0.0, 9.0)), (2L, Seq(9.0, 0.5, 1.0, 11.0)))
      .toDF("id", "v")
    val got = Pq.encode(df.repartition(2), "id", "v", cb)
      .orderBy("id").collect().map(_.getSeq[Int](1).toSeq)
    got(0) shouldBe Seq(0, 0)
    got(1) shouldBe Seq(1, 0) // second subspace ties exactly -> lowest index
  }

  test("fit recovers planted subspace anchors and mse improves with ksub") {
    val df = planted(256).toDF("id", "v")
    val cb4 = Pq.fit(df.repartition(9), "id", "v", m = 2, ksub = 4, iters = 6)
    cb4.length shouldBe 2
    all(cb4.map(_.length)) shouldBe 4
    // every planted anchor has a learned centroid within the jitter radius
    val anchors = Seq(Seq(0.0, 0.0), Seq(10.0, 0.0), Seq(0.0, 10.0), Seq(10.0, 10.0))
    cb4.foreach { sub =>
      anchors.foreach { a =>
        val best = sub.map(c =>
          math.sqrt(c.zip(a).map { case (x, y) => (x - y) * (x - y) }.sum)).min
        best should be < 0.1
      }
    }
    // corpus-mean squared quantization error: per subspace, the squared
    // L2 to the nearest centroid, summed over subspaces
    def mse(cb: Seq[Seq[Seq[Double]]]): Double = {
      val errs = planted(256).map { case (_, v) =>
        cb.zipWithIndex.map { case (cents, sub) =>
          val w = v.slice(sub * 2, sub * 2 + 2)
          cents.map(c => c.zip(w).map { case (a, b) => (a - b) * (a - b) }.sum).min
        }.sum
      }
      errs.sum / errs.size
    }
    val mse4 = mse(cb4)
    val cb1 = Pq.fit(df, "id", "v", m = 2, ksub = 1, iters = 6)
    val mse1 = mse(cb1)
    mse4 should be < 0.01   // within-anchor jitter only
    mse1 should be > (10.0 * mse4) // one centroid per subspace cannot fit 4 anchors
    // stable across partitioning up to float-summation dust (the mean
    // update's aggregation order is the only partition-dependent bit)
    val again = Pq.fit(df.repartition(3), "id", "v", m = 2, ksub = 4, iters = 6)
    again.flatten.flatten.zip(cb4.flatten.flatten).foreach { case (a, b) =>
      a shouldBe b +- 1e-9
    }
  }

  test("search returns the exact ADC top-k, ties broken by id") {
    val df = planted(64).toDF("id", "v")
    val cb = Pq.fit(df, "id", "v", m = 2, ksub = 4, iters = 6)
    val enc = Pq.encode(df, "id", "v", cb)
    val query = planted(64).head._2 // anchor (0,0)x(0,0), jitter 0
    val got = Pq.search(enc.repartition(5), "id", "codes", query, cb, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // brute force over collected codes with the same table
    val table = Pq.distanceTable(query, cb)
    val brute = enc.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).zipWithIndex
        .map { case (c, s) => table(s)(c) }.sum))
      .sortBy { case (id, adc) => (adc, id) }.take(5).toSeq
    got.toSeq shouldBe brute
    // the query's own anchor cell must rank first with near-zero distance
    got.head._2 should be < 0.01
  }

  test("searchIvfPq prunes to probed lists and converges to full search at nprobe = nlist") {
    val data = planted(128)
    val df = data.toDF("id", "v")
    val cb = Pq.fit(df, "id", "v", m = 2, ksub = 4, iters = 6)
    // coarse centroids: 4 planted full-dim anchor combinations
    val coarse = Seq(
      Seq(0.0, 0.0, 0.0, 0.0), Seq(10.0, 0.0, 0.0, 0.0),
      Seq(0.0, 10.0, 10.0, 10.0), Seq(10.0, 10.0, 10.0, 0.0))
    val enc = Pq.encodeIvfPq(df.repartition(7), "id", "v", coarse, cb)
    enc.columns.toSeq shouldBe Seq("id", "list", "codes")
    val query = data(5)._2
    // nprobe = nlist must equal unpartitioned PQ search exactly
    val full = Pq.searchIvfPq(enc, "id", query, coarse, cb, k = 8, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val plain = Pq.search(enc.select(col("id"), col("codes")), "id", "codes", query, cb, 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    full.toSeq shouldBe plain.toSeq
    // nprobe = 1 returns ONLY rows from the query's own nearest list
    val one = Pq.searchIvfPq(enc, "id", query, coarse, cb, k = 8, nprobe = 1)
      .collect()
    one.map(_.getInt(1)).distinct.length shouldBe 1
    // and the top hit still reconstructs the query's own cell
    one.head.getDouble(2) should be < 0.01
    an[IllegalArgumentException] should be thrownBy
      Pq.searchIvfPq(enc, "id", query, coarse, cb, k = 1, nprobe = 5)
  }

  test("searchIvfPqReranked: exact distances on the shortlist, ordered and validated") {
    val data = planted(96)
    val df = data.toDF("id", "v")
    val cb = Pq.fit(df, "id", "v", m = 2, ksub = 4, iters = 6)
    val coarse = Seq(
      Seq(0.0, 0.0, 0.0, 0.0), Seq(10.0, 0.0, 0.0, 0.0),
      Seq(0.0, 10.0, 10.0, 10.0), Seq(10.0, 10.0, 10.0, 0.0))
    val query = data(3)._2
    val got = Pq.searchIvfPqReranked(df.repartition(5), "id", "v", query, coarse, cb,
        k = 5, kShortlist = 96, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // full-coverage shortlist + full probes -> EXACT brute-force top-5
    val brute = data.map { case (id, v) =>
      (id, v.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy { case (id, d) => (d, id) }.take(5)
    got.map(_._1).toSeq shouldBe brute.map(_._1)
    got.zip(brute).foreach { case ((_, g), (_, b)) => g shouldBe b +- 1e-9 }
    // the query vector itself ranks first at distance ~0
    got.head._1 shouldBe data(3)._1
    got.head._2 shouldBe 0.0 +- 1e-18
    an[IllegalArgumentException] should be thrownBy
      Pq.searchIvfPqReranked(df, "id", "v", query, coarse, cb, k = 10, kShortlist = 5, nprobe = 1)
  }

  test("dimension and argument validation fail loudly") {
    val df = Seq((1L, Seq(1.0, 2.0, 3.0))).toDF("id", "v")
    an[IllegalArgumentException] should be thrownBy
      Pq.fit(df, "id", "v", m = 2, ksub = 2) // 3 dims not divisible by 2
    val cb = Seq(Seq(Seq(0.0, 0.0)), Seq(Seq(0.0, 0.0)))
    // vector dim 3 != 2x2 -> the expression rejects instead of truncating
    an[Exception] should be thrownBy
      Pq.encode(df, "id", "v", cb).collect()
    an[IllegalArgumentException] should be thrownBy
      Pq.distanceTable(Seq(1.0), cb)
  }

  test("SQ8: min/max model, floor-256 codes with clamp, degenerate dims code 0") {
    val df = Seq((0L, Seq(0.0f, 0.0f, 7.0f)), (1L, Seq(1.0f, 10.0f, 7.0f)),
      (2L, Seq(2.0f, 20.0f, 7.0f))).toDF("id", "v")
    val m = Pq.sqTrain(df, "v", dim = 3)
    m.lo shouldBe Seq(0.0, 0.0, 7.0)
    m.hi shouldBe Seq(2.0, 20.0, 7.0)
    val codes = Pq.sqEncode(df, "id", "v", m).orderBy("id")
      .collect().map(_.getAs[scala.collection.Seq[Int]]("codes"))
    codes(0).toSeq shouldBe Seq(0, 0, 0)
    codes(1).toSeq shouldBe Seq(128, 128, 0)  // midpoints land on 128
    codes(2).toSeq shouldBe Seq(255, 255, 0)  // x = hi clamps from 256
  }

  test("SQ8 search scores by the mid-rise reconstruction, deterministic ties") {
    val df = Seq((0L, Seq(0.0f, 0.0f)), (1L, Seq(1.0f, 10.0f)),
      (2L, Seq(2.0f, 20.0f))).toDF("id", "v")
    val m = Pq.sqTrain(df, "v", dim = 2)
    val got = Pq.sqSearch(Pq.sqEncode(df, "id", "v", m), "id", "codes",
      Seq(1.0, 1.0), m, k = 3).collect()
    // xhat(id) = ((c0+.5)*2/256, (c1+.5)*20/256); score = sum of both
    def score(c0: Int, c1: Int): Double =
      1.0 * (0.0 + (c0 + 0.5) * 2.0 / 256.0) + 1.0 * (0.0 + (c1 + 0.5) * 20.0 / 256.0)
    got.map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe Seq(
      (2L, score(255, 255)), (1L, score(128, 128)), (0L, score(0, 0)))
    got.head.getDouble(1) should be > got.last.getDouble(1)
  }
}
