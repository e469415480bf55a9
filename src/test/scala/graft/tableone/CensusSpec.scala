package graft.tableone

import graft.TestSpark
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** [[Census]] against the census it replaced — every row exploded into
  * one struct entry per analyzed column, counted by `groupBy(c, r, v,
  * s).count` — kept here as the reference model, and the one-scan
  * contract of [[TableOne.summarize]] over it. */
class CensusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** (c, r, raw bits of v, s): raw bits, so -0.0 and 0.0 differ. */
  private type Key = (Int, String, Option[Long], Option[String])

  private def key(c: Int, r: String, v: Option[Double], s: Option[String]): Key =
    (c, r, v.map(java.lang.Double.doubleToRawLongBits), s)

  private def keyed(rows: Seq[Row]): Map[Key, Long] =
    rows.map(r => key(r.getInt(0), r.getString(1), Option(r.getAs[java.lang.Double](2)).map(_.doubleValue),
      Option(r.getString(3))) -> r.getLong(4)).toMap

  /** The reference model: explode + generic aggregate. */
  private def reference(df: DataFrame, stratify: Option[String], cont: Seq[(String, Int)],
                        cat: Seq[(String, Int)]): Map[Key, Long] = {
    def entry(c: Int, v: Column, s: Column) =
      struct(lit(c).as("c"), v.cast(DoubleType).as("v"), s.cast(StringType).as("s"))
    val entries = entry(0, lit(null), lit(null)) +:
      (cont.map { case (c, i) => entry(i, col(c), lit(null)) } ++
        cat.map { case (c, i) => entry(i, lit(null), coalesce(col(c).cast(StringType), lit(Sanitize.Missing))) })
    keyed(df
      .select(stratify.fold(lit(""))(s => Sanitize.rawKey(col(s))).as("r"), explode(array(entries: _*)).as("e"))
      .groupBy(col("e.c").as("c"), col("r"), col("e.v").as("v"), col("e.s").as("s"))
      .agg(count(lit(1)).as("w"))
      .collect().toSeq)
  }

  private val schema = StructType(Seq(
    StructField("strat", StringType), StructField("cat", StringType), StructField("d", DoubleType),
    StructField("flag", BooleanType), StructField("dec", DecimalType(10, 2)), StructField("b", ByteType),
    StructField("i", IntegerType)))

  /** Small value domains so keys repeat; every column has nulls, the
    * doubles hold NaN, -0.0 and 0.0, and "a b" / "a_b" are two raw strata
    * that sanitize to one name. */
  private lazy val rows: Seq[Row] = {
    val rnd = new scala.util.Random(7L)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    def orNull[T](x: => T): Any = if (rnd.nextInt(6) == 0) null else x
    (0 until 600).map { _ =>
      Row(orNull(pick("A", "B", "a b", "a_b", "é")), orNull(pick("Yes", "No", "other", "", "MISSING")),
        orNull(pick(Double.NaN, -0.0, 0.0, 1.5, -2.25, 1e300, Double.NegativeInfinity)),
        orNull(rnd.nextBoolean()), orNull(BigDecimal(rnd.nextInt(40) - 20, 1).bigDecimal.setScale(2)),
        orNull((rnd.nextInt(7) - 3).toByte), orNull(rnd.nextInt(9) * 1000))
    }
  }
  private lazy val df = spark.createDataFrame(rows.asJava, schema)

  // variable positions as TableOne assigns them for cols =
  // cat, d, flag, dec, b, i
  private val cont = Seq("d" -> 2, "dec" -> 4, "b" -> 5, "i" -> 6)
  private val cat = Seq("cat" -> 1, "flag" -> 3)
  private val stratifications = Seq(Some("strat"), None, Some("i"))

  test("tally partials merge to the reference census: flushes, empty partitions, reused row buffers") {
    for (stratify <- stratifications) {
      val projected = Census.project(df, stratify, cont.map(_._1), cat.map(_._1))
      val input = projected.queryExecution.executedPlan.executeCollect().toSeq
      // an UnsafeProjection writes every row into the same buffer, as a
      // scan does: a key kept without a copy would change under the tally
      val reuse = UnsafeProjection.create(projected.schema)
      val parts = Seq(Seq.empty[InternalRow], input.take(217), Seq.empty, input.drop(217))
      val want = reference(df, stratify, cont, cat)
      for (flushAt <- Seq(1, 5, 64, Census.FlushAt)) withClue(s"stratify $stratify, flushAt $flushAt: ") {
        val partials = parts.flatMap { part =>
          Census.tally(part.iterator.map(reuse(_)), cont.map(_._2).toArray, cat.map(_._2).toArray, flushAt)
            .map { p =>
              key(p.getInt(0), p.getUTF8String(1).toString, if (p.isNullAt(2)) None else Some(p.getDouble(2)),
                if (p.isNullAt(3)) None else Some(p.getUTF8String(3).toString)) -> p.getLong(4)
            }.toSeq
        }
        assert(partials.groupMapReduce(_._1)(_._2)(_ + _) === want)
        // a bound of one entry flushes after every row: a counter plus
        // one tally per analyzed column
        if (flushAt == 1) assert(partials.size === input.size * (1 + cont.size + cat.size))
      }
      assert(Census.tally(Iterator.empty, Array(2), Array(1), 1).isEmpty)
    }
  }

  test("the distributed census equals the reference census, empty partitions included") {
    for (stratify <- stratifications) withClue(s"stratify $stratify: ") {
      // hash-partitioned on five strata over 16 partitions: most are empty
      val spread = df.repartition(16, col("strat"))
      val got = Census.of(spread, stratify, cont, cat)
      assert(got.columns.toSeq === Seq("c", "r", "v", "s", "w"))
      assert(keyed(got.collect().toSeq) === reference(df, stratify, cont, cat))
    }
  }

  test("summarize scans a parquet input once, in two jobs, with no Generate in any plan") {
    val dir = java.nio.file.Files.createTempDirectory("census_scan_").resolve("t").toString
    df.repartition(3).write.parquet(dir)
    val input = spark.read.parquet(dir)
    val sc = spark.sparkContext
    val (records, jobs) = (new AtomicLong, new AtomicInteger)
    val nodes = new ConcurrentLinkedQueue[String]
    def names(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(names)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => records.addAndGet(m.inputMetrics.recordsRead))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart          => nodes.addAll(names(s.sparkPlanInfo).asJava)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => nodes.addAll(names(u.sparkPlanInfo).asJava)
        case _                                          => ()
      }
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = TableOne.summarize(input,
        TableOneConfig(Some("strat"), Seq("cat", "d", "flag", "dec", "b", "i"), pValues = true))
      TestListenerBus.drain(sc)
      assert(jobs.get === 2, "jobs of the driver route")
      assert(out.collect().nonEmpty)
      TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get === 2, "jobs to consume the LocalRelation")
    assert(records.get === rows.size.toLong, "input records read")
    assert(!nodes.isEmpty)
    assert(!nodes.asScala.exists(_.contains("Generate")), nodes.asScala.toSeq.distinct)
  }
}
