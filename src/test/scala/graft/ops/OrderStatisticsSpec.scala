package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import OrderStatistics.{Pick, Tally}

class OrderStatisticsSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** TableOne's discrete rule: ranks ceil(k·n/4), k = 1..3. */
  private def disc(n: Long): Seq[Long] = Seq(1L, 2L, 3L).map(k => (k * n + 3) / 4)

  /** percentile_cont's rule: the order statistics bracketing p·(n−1). */
  private val ps = Seq(0.0, 0.25, 0.5, 0.95, 1.0)
  private def cont(n: Long): Seq[Long] = ps.flatMap { p =>
    val r = p * (n - 1).toDouble
    val lo = math.floor(r).toLong + 1
    if (r == math.floor(r)) Seq(lo) else Seq(lo, lo + 1)
  }

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  /** Runs the engine over (g, v) rows under `rule` and checks every pick
    * against the sorted array of each group's non-null values. */
  private def checkAgainstModel(rows: Seq[(String, Option[Double])], rule: Long => Seq[Long]): Unit = {
    val census = rows.toDF("g", "v").filter(col("v").isNotNull)
      .groupBy("g", "v").agg(count(lit(1)).as("w"))
    val (n, at) = OrderStatistics.pick[String](census, col("g"), Seq(col("g"), col("v")), rule)
    val model = rows.collect { case (g, Some(v)) => g -> v }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    n shouldBe model.view.mapValues(_.length.toLong).toMap
    for ((g, sorted) <- model; r <- rule(sorted.length.toLong))
      withClue(s"group $g rank $r: ") { at((g, r)) shouldBe sorted((r - 1).toInt) }
  }

  private val rnd = new scala.util.Random(31)
  private val mixed: Seq[(String, Option[Double])] =
    // heavy ties: 3000 rows over 5 values
    (1 to 3000).map(_ => ("ties", Some(rnd.nextInt(5).toDouble))) ++
      // spans every range partition: thousands of distinct values
      (1 to 4000).map(i => ("wide", Some(i * 0.5))) ++
      // nulls mixed in, and a group that is only nulls
      (1 to 40).map(i => ("nulls", if (i % 3 == 0) None else Some(i.toDouble))) ++
      Seq(("dead", None), ("dead", None)) ++
      // a single-row group: every rank is rank 1
      Seq(("one", Some(-7.0)))

  for (parts <- Seq(1, 7)) {
    test(s"disc and cont ranks match a sorted-array model at $parts shuffle partitions") {
      withShufflePartitions(parts) {
        checkAgainstModel(mixed, disc)
        checkAgainstModel(mixed, cont)
        // more range partitions than distinct keys: some are empty
        val tiny = Seq(("a", Some(2.0)), ("a", Some(1.0)), ("b", Some(5.0)))
        checkAgainstModel(tiny, disc)
        checkAgainstModel(tiny, cont)
      }
    }
  }

  test("the wide group really spans every range partition") {
    withShufflePartitions(7) {
      val wide = mixed.collect { case ("wide", Some(v)) => v }.toDF("v")
        .groupBy("v").agg(count(lit(1)).as("w"))
      OrderStatistics.prefixOffsets(wide, Seq(col("v")), Seq(col("w"))) { (_, off) =>
        off.start.keySet.map(_._1) shouldBe (0 until 7).toSet
        off.grand(0) shouldBe 4000L
      }
    }
  }

  test("levels: one row counts toward its own group and a parent group") {
    // two strata of column 0 interleaved in value order; the parent
    // (0, -1) ranks the union, as TableOne's grand total does
    val rows = Seq((0, 0, 1.0), (0, 1, 2.0), (0, 0, 3.0), (0, 1, 4.0), (0, 1, 4.0))
    val census = rows.toDF("c", "si", "v").groupBy("c", "si", "v").agg(count(lit(1)).as("w"))
    val (n, at) = OrderStatistics.pick[(Int, Int)](census,
      struct(col("c").as("_1"), col("si").as("_2")), Seq(col("c"), col("v")), disc,
      (k: (Int, Int)) => Seq(k, (k._1, -1)))
    n shouldBe Map((0, 0) -> 2L, (0, 1) -> 3L, (0, -1) -> 5L)
    disc(5).map(r => at(((0, -1), r))) shouldBe Seq(2.0, 3.0, 4.0)
    disc(3).map(r => at(((0, 1), r))) shouldBe Seq(2.0, 4.0, 4.0)
  }

  test("offsets that leave a rank uncovered fail naming the group and rank") {
    val ranks = Map("g" -> Array(1L, 2L))
    val partition0 = Iterator(Tally("g", 1.0, 1L, 0))
    val partition1 = Iterator(Tally("g", 2.0, 1L, 1))
    // partition 1 should start at offset 1; starting it at 5 skips rank 2
    val start = Map((0, "g") -> 0L, (1, "g") -> 5L)
    val picks = Seq(partition0, partition1)
      .flatMap(OrderStatistics.cross(_, start, ranks, (k: String) => Seq(k)))
    picks shouldBe Seq(Pick("g", 1L, 1.0))
    val e = intercept[IllegalStateException](OrderStatistics.resolve(picks, ranks))
    e.getMessage should include("group 'g'")
    e.getMessage should include("rank 2")
    // the correct offset covers both ranks
    val good = Seq(Iterator(Tally("g", 1.0, 1L, 0)), Iterator(Tally("g", 2.0, 1L, 1)))
      .flatMap(OrderStatistics.cross(_, start.updated((1, "g"), 1L), ranks, (k: String) => Seq(k)))
    OrderStatistics.resolve(good, ranks) shouldBe Map(("g", 1L) -> 1.0, ("g", 2L) -> 2.0)
  }
}
