package graft.ops

import graft.TestSpark
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.util.concurrent.atomic.AtomicInteger
import scala.reflect.runtime.universe.TypeTag

import OrderStatistics.{Moments, Pick, Tally}

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

  /** Picks compared by bit pattern, so NaN equals NaN. */
  private def bits[K](at: Map[(K, Long), Double]): Map[(K, Long), Long] =
    at.view.mapValues(java.lang.Double.doubleToLongBits).toMap

  /** Equal within 1e-12 relative, or both NaN. */
  private def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b || math.abs(a - b) <= 1e-12 * math.max(a.abs, b.abs)

  /** `pick` on both routes: the driver-side cross (bounded by the
    * census's own row count) and the range shuffle (no bound). Asserts
    * they return the identical n and picks, and moments within 1e-12
    * relative (the range shuffle merges per-partition folds), and
    * returns each group's n and the picks. */
  private def bothRoutes[K: TypeTag](census: DataFrame, key: Column, order: Seq[Column],
                                     rule: Long => Seq[Long], levels: K => Seq[K] = (k: K) => Seq(k))
      : (Map[K, Long], Map[(K, Long), Double]) = {
    def run(bound: Long) = OrderStatistics.pick[K](census, key, order, rule, levels, bound)
    val (local, distributed) = (run(census.count()), run(Long.MaxValue))
    val n = distributed._1.view.mapValues(_.n).toMap
    local._1.view.mapValues(_.n).toMap shouldBe n
    for ((k, m) <- distributed._1) withClue(s"group $k moments: ${local._1(k)} vs $m") {
      close(local._1(k).sum, m.sum) shouldBe true
      close(local._1(k).m2, m.m2) shouldBe true
    }
    bits(local._2) shouldBe bits(distributed._2)
    (n, distributed._2)
  }

  /** Runs the engine over (g, v) rows under `rule` on both routes and
    * checks every pick against the sorted array of each group's non-null
    * values (NaN sorts greatest, as in Spark). */
  private def checkAgainstModel(rows: Seq[(String, Option[Double])], rule: Long => Seq[Long]): Unit = {
    val census = rows.toDF("g", "v").filter(col("v").isNotNull)
      .groupBy("g", "v").agg(count(lit(1)).as("w"))
    val (n, at) = bothRoutes[String](census, col("g"), Seq(col("g"), col("v")), rule)
    val model = rows.collect { case (g, Some(v)) => g -> v }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted(Ordering.Double.TotalOrdering).toVector).toMap
    n shouldBe model.view.mapValues(_.length.toLong).toMap
    // the moments of each group against the same model
    val moments = OrderStatistics.pick[String](census, col("g"), Seq(col("g"), col("v")), rule)._1
    for ((g, sorted) <- model) withClue(s"group $g moments: ") {
      val mean = sorted.sum / sorted.length
      close(moments(g).mean, mean) shouldBe true
      if (sorted.length > 1)
        close(moments(g).variance, sorted.map(x => (x - mean) * (x - mean)).sum / (sorted.length - 1)) shouldBe true
      else moments(g).variance.isNaN shouldBe true
    }
    for ((g, sorted) <- model; r <- rule(sorted.length.toLong))
      withClue(s"group $g rank $r: ") {
        java.lang.Double.doubleToLongBits(at((g, r))) shouldBe
          java.lang.Double.doubleToLongBits(sorted((r - 1).toInt))
      }
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
      Seq(("one", Some(-7.0))) ++
      // NaN, which Spark sorts above every other value
      Seq(1.0, Double.NaN, 3.0, Double.NaN, -2.0).map(v => ("nan", Some(v)))

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
    val (n, at) = bothRoutes[(Int, Int)](census,
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
      .flatMap(OrderStatistics.cross(_, start, ranks, (k: String) => Seq(k)).picks)
    picks shouldBe Seq(Pick("g", 1L, 1.0))
    val e = intercept[IllegalStateException](OrderStatistics.resolve(picks, ranks))
    e.getMessage should include("group 'g'")
    e.getMessage should include("rank 2")
    // the correct offset covers both ranks
    val good = Seq(Iterator(Tally("g", 1.0, 1L, 0)), Iterator(Tally("g", 2.0, 1L, 1)))
      .flatMap(OrderStatistics.cross(_, start.updated((1, "g"), 1L), ranks, (k: String) => Seq(k)).picks)
    OrderStatistics.resolve(good, ranks) shouldBe Map(("g", 1L) -> 1.0, ("g", 2L) -> 2.0)
  }

  test("moments: merged partition folds match one fold; NaN and infinities spread as NaN") {
    val values = (1 to 1000).map(i => (i * 7919 % 1013) / 8.0 - 40.0)
    val one = values.map(Moments.of(_, 1L)).reduce(_ + _)
    val merged = values.grouped(97).map(_.map(Moments.of(_, 1L)).reduce(_ + _)).reduce(_ + _)
    val mean = values.sum / values.length
    val m2 = values.map(x => (x - mean) * (x - mean)).sum
    one.n shouldBe 1000L
    merged.n shouldBe 1000L
    for (m <- Seq(one, merged)) {
      close(m.mean, mean) shouldBe true
      close(m.m2, m2) shouldBe true
    }
    // w copies of one value: no spread; a tally equals its copies
    Moments.of(2.5, 4L) shouldBe Moments(4L, 10.0, 0.0)
    (Moments.of(2.5, 1L) + Moments.of(2.5, 3L)) shouldBe Moments.of(2.5, 4L)
    Moments.of(1.0, 1L).variance.isNaN shouldBe true
    // Spark's var_samp is NaN over a NaN or an infinity, even repeated
    for (v <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      Moments.of(v, 2L).variance.isNaN shouldBe true
      (Moments.of(1.0, 1L) + Moments.of(v, 1L)).variance.isNaN shouldBe true
    }
    val sparkVarSamp = Seq(Double.NaN, Double.PositiveInfinity).map { v =>
      Seq(v, v, 1.0).toDF("x").agg(var_samp("x")).head().getDouble(0)
    }
    sparkVarSamp.foreach(_.isNaN shouldBe true)
  }

  test("the driver-side route still fails on a rank no row covers") {
    val census = Seq(("g", 1.0, 1L), ("g", 2.0, 1L)).toDF("g", "v", "w")
    val e = intercept[IllegalStateException] {
      OrderStatistics.pick[String](census, col("g"), Seq(col("g"), col("v")),
        n => Seq(n + 1), censusRowsAtMost = 2L)
    }
    e.getMessage should include("group 'g'")
    e.getMessage should include("rank 3")
  }

  test("the driver-side route starts fewer jobs and persists nothing") {
    val census = mixed.toDF("g", "v").filter(col("v").isNotNull)
      .groupBy("g", "v").agg(count(lit(1)).as("w"))
    val sc = spark.sparkContext
    /** (jobs started, RDDs of this call unpersisted) while `pick` runs
      * under `bound`. RDDs persisted earlier are left out: the context
      * cleaner unpersists them again whenever a GC collects them. */
    def events(bound: Long): (Int, Int) = {
      val (jobs, unpersists) = (new AtomicInteger, new AtomicInteger)
      val firstRdd = sc.emptyRDD[Int].id
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
        override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
          if (e.rddId > firstRdd) unpersists.incrementAndGet()
      }
      TestListenerBus.drain(sc)
      sc.addSparkListener(listener)
      try {
        OrderStatistics.pick[String](census, col("g"), Seq(col("g"), col("v")), disc,
          censusRowsAtMost = bound)
        TestListenerBus.drain(sc)
      } finally sc.removeSparkListener(listener)
      (jobs.get, unpersists.get)
    }
    val (localJobs, localUnpersists) = events(OrderStatistics.LocalMaxRows)
    val (distJobs, distUnpersists) = events(Long.MaxValue)
    localJobs should be < distJobs
    localUnpersists shouldBe 0
    distUnpersists should be > 0
  }
}
