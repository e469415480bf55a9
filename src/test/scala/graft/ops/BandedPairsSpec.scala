package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class BandedPairsSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Library calls must leave ZERO residual executor storage. */
  private def assertNoResidualCache(): Unit =
    spark.sparkContext.getPersistentRDDs shouldBe empty

  /** One (id, bucket) membership: (id, band, key, c, w); `c` and `w`
    * are carried and name their id, so a misaligned carry shows. */
  private type Member = (Option[Long], Int, Long, String, Long)
  private type Pair = (Long, Long, String, String, Long, Long)

  /** Driver-side model: for every (band, key) bucket of at most `cap`
    * rows (any size when cap <= 0), one row per pair of its rows with
    * id_a < id_b. Null ids count toward the bucket size but never pair. */
  private def model(rows: Seq[Member], cap: Int): Seq[Pair] =
    rows.groupBy(r => (r._2, r._3)).values.toSeq
      .filter(b => cap <= 0 || b.size <= cap)
      .flatMap(b => for {
        x <- b; y <- b
        a <- x._1; bid <- y._1 if a < bid
      } yield (a, bid, x._4, y._4, x._5, y._5))
      .sorted

  test("BandedPairs matches a driver-side model of capped bucket pairs") {
    // 20 seeded relations on disjoint id and band ranges, unioned, so no
    // bucket spans two of them. Each id sits in one bucket per band, key
    // values repeat across bands (the band is part of the bucket key),
    // and a few memberships have a null id.
    val rows: Seq[Member] = (0 until 20).flatMap { g =>
      val rnd = new scala.util.Random(g)
      val nIds = 2 + rnd.nextInt(12)
      val bands = 1 + rnd.nextInt(4)
      val keys = 1 + rnd.nextInt(4)
      for (i <- 0 until nIds; b <- 0 until bands) yield {
        val id = if (rnd.nextInt(25) == 0) None else Some(1000L * g + i)
        (id, 10 * g + b, rnd.nextInt(keys).toLong, s"c${id.getOrElse("-")}", id.fold(-1L)(_ * 2))
      }
    }
    val buckets = rows.groupBy(r => (r._2, r._3)).values.map(_.size).toSeq
    rows.exists(_._1.isEmpty) shouldBe true
    rows.groupBy(_._3).values.exists(_.map(_._2).distinct.size > 1) shouldBe true
    rows.groupBy(_._1).values.exists(_.size > 1) shouldBe true
    model(rows, 0).distinct.size should be < model(rows, 0).size
    for (cap <- Seq(2, 5)) {
      buckets.exists(_ > cap) shouldBe true
      buckets.exists(n => n > 1 && n <= cap) shouldBe true
    }

    val df = rows.toDF("id", "band", "key", "c", "w").repartition(3)
    for (cap <- Seq(0, 2, 5)) withClue(s"maxBucketSize=$cap: ") {
      val got = BandedPairs(df, Seq("band", "key"), Seq("c", "w"), cap)
      got.columns.toSeq shouldBe Seq("id_a", "id_b", "c_a", "c_b", "w_a", "w_b")
      got.as[Pair].collect().toSeq.sorted shouldBe model(rows, cap)
    }
    assertNoResidualCache()
  }
}
