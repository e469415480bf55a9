package graft.tableone

import graft.TestSpark
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.vectorized.{Dictionary, OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** [[Census]] against the census it replaced — every row exploded into
  * one struct entry per analyzed column, counted by `groupBy(c, r, v,
  * s).count` — kept here as the reference model, over column batches of
  * every kind the tally reads (dictionary-encoded or plain, on or off
  * heap, straight from a scan or re-batched from rows), and the one-scan
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

  /** A dictionary over fixed strings, as a parquet dictionary page. */
  private final class Strings(values: IndexedSeq[String]) extends Dictionary {
    def decodeToBinary(id: Int): Array[Byte] = values(id).getBytes("UTF-8")
    def decodeToInt(id: Int): Int = throw new UnsupportedOperationException
    def decodeToLong(id: Int): Long = throw new UnsupportedOperationException
    def decodeToFloat(id: Int): Float = throw new UnsupportedOperationException
    def decodeToDouble(id: Int): Double = throw new UnsupportedOperationException
  }

  /** `input` (rows of `schema`) as batches of `size` rows, all written
    * into ONE set of vectors, as a scan reuses them: a string kept without
    * a copy would change under the tally. The string columns of every
    * even batch are dictionary-encoded (ids into all of the column's
    * values, reversed, so most ids go unused in a batch), those of every
    * odd batch plain, as when a dictionary overflows mid-column. */
  private def batched(input: Seq[Row], schema: StructType, size: Int): Iterator[ColumnarBatch] = {
    val vectors = OnHeapColumnVector.allocateColumns(size, schema)
    val batch = new ColumnarBatch(vectors.toArray[ColumnVector])
    val dicts = schema.indices.map(j => input.flatMap(r => Option(r.get(j)).collect { case s: String => s })
      .distinct.sorted.reverse.toIndexedSeq)
    input.grouped(size).zipWithIndex.map { case (chunk, k) =>
      for ((v, j) <- vectors.zipWithIndex) {
        v.reset()
        v.setDictionary(null)
        if (k % 2 == 0 && schema(j).dataType == StringType) {
          val ids = v.reserveDictionaryIds(size)
          for ((r, i) <- chunk.zipWithIndex if !r.isNullAt(j)) ids.putInt(i, dicts(j).indexOf(r.getString(j)))
          v.setDictionary(new Strings(dicts(j)))
        }
      }
      for ((r, i) <- chunk.zipWithIndex; (v, j) <- vectors.zipWithIndex) r.get(j) match {
        case null                    => v.putNull(i)
        case x: String               => if (!v.hasDictionary) v.putByteArray(i, x.getBytes("UTF-8"))
        case x: Double               => v.putDouble(i, x)
        case x: Boolean              => v.putBoolean(i, x)
        case x: Byte                 => v.putByte(i, x)
        case x: Int                  => v.putInt(i, x)
        case x: java.math.BigDecimal =>
          v.putDecimal(i, org.apache.spark.sql.types.Decimal(x), schema(j).dataType.asInstanceOf[DecimalType].precision)
      }
      batch.setNumRows(chunk.size)
      batch
    }
  }

  test("tally partials merge to the reference census: flushes, empty partitions, reused row buffers") {
    for (stratify <- stratifications) {
      val (read, layout) = Census.layout(df, stratify, cont, cat)
      val input = read.collect().toSeq
      val parts = Seq(Seq.empty[Row], input.take(217), Seq.empty, input.drop(217))
      val want = reference(df, stratify, cont, cat)
      // a batch of 1 or 7 rows is too small for a dense (id, stratum)
      // array over the five categories: those hash the dictionary's strings
      for ((flushAt, size) <- Seq(1 -> 1, 5 -> 7, 64 -> 64, Census.FlushAt -> 100))
        withClue(s"stratify $stratify, flushAt $flushAt, batches of $size: ") {
          val partials = parts.flatMap { part =>
            Census.tally(batched(part, read.schema, size), layout, flushAt).map { p =>
              key(p.getInt(0), p.getUTF8String(1).toString, if (p.isNullAt(2)) None else Some(p.getDouble(2)),
                if (p.isNullAt(3)) None else Some(p.getUTF8String(3).toString)) -> p.getLong(4)
            }.toSeq
          }
          assert(partials.groupMapReduce(_._1)(_._2)(_ + _) === want)
          // a bound of one entry flushes after every one-row batch: a
          // counter plus one tally per analyzed column
          if (flushAt == 1) assert(partials.size === input.size * (1 + cont.size + cat.size))
        }
      assert(Census.tally(Iterator.empty, layout, 1).isEmpty)
    }
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `df` plus `code`, a string column of about 300 values, written to
    * parquet (one file) with the writer options `opts`. */
  private def parquet(opts: (String, String)*): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("census_batches_").resolve("t").toString
    df.withColumn("code", concat(lit("code-"), (abs(hash(col("strat"), col("d"), col("i"))) % 300).cast(StringType)))
      .coalesce(1).write.options(opts.toMap).parquet(dir)
    spark.read.parquet(dir)
  }

  /** Per batch: does its `column` vector carry a dictionary? */
  private def dictionaryBatches(input: DataFrame, column: String): Seq[Boolean] = {
    val o = input.columns.indexOf(column)
    ColumnBridge.mapBatches(input, StructType(Seq(StructField("dict", BooleanType))))(_.map { b =>
      InternalRow(b.column(o) match {
        case w: WritableColumnVector => w.hasDictionary
        case _                       => false
      })
    }).collect().map(_.getBoolean(0)).toSeq
  }

  test("the census read from column batches equals the reference census on every input route") {
    val withCode = cat :+ ("code" -> 7)
    val layouts = Seq(
      "dictionary pages" -> parquet(),
      "plain pages" -> parquet("parquet.enable.dictionary" -> "false"),
      // ~100-row pages and a dictionary that overflows in the second one
      "overflowing dictionary" -> parquet("parquet.page.size" -> "64", "parquet.dictionary.page.size" -> "1200"),
      "several row groups" -> parquet("parquet.block.size" -> "1024"))
    val reads = Seq(
      Seq("spark.sql.parquet.columnarReaderBatchSize" -> "50"),
      Seq("spark.sql.parquet.columnarReaderBatchSize" -> "50", "spark.sql.columnVector.offheap.enabled" -> "true"),
      Seq("spark.sql.parquet.enableVectorizedReader" -> "false"))
    for ((name, input) <- layouts; conf <- reads) withConf(conf: _*) {
      val inputs = Seq(
        name -> input,
        s"$name, filtered" -> input.filter(col("b").isNull || col("b") =!= 0),
        s"$name, reordered" -> input.select(input.columns.reverse.toSeq.map(col): _*))
      for ((what, in) <- inputs; stratify <- stratifications) withClue(s"$what, $conf, stratify $stratify: ") {
        assert(keyed(Census.of(in, stratify, cont, withCode).collect().toSeq) === reference(in, stratify, cont, withCode))
      }
    }
    // the layouts are what they say: at the default reader batch size a
    // batch ends at its row group
    assert(!dictionaryBatches(layouts(1)._2, "cat").exists(identity), "plain pages")
    assert(dictionaryBatches(layouts(3)._2, "cat").size > 1, "several row groups")
    withConf("spark.sql.parquet.columnarReaderBatchSize" -> "50") {
      val mixed = dictionaryBatches(layouts(2)._2, "code")
      assert(mixed.contains(true) && mixed.contains(false), "the overflowing dictionary drops out mid-column")
    }
    for (stratify <- stratifications) withClue(s"in memory, stratify $stratify: ") {
      assert(keyed(Census.of(df, stratify, cont, cat).collect().toSeq) === reference(df, stratify, cont, cat))
    }
  }

  test("a bare parquet scan hands its dictionary batches over; a filter above it is re-batched from rows") {
    val input = parquet()
    withConf("spark.sql.parquet.columnarReaderBatchSize" -> "50") {
      val (bare, filtered) = (dictionaryBatches(input, "cat"), dictionaryBatches(input.filter(col("i") > 0), "cat"))
      assert(bare.size === 12 && bare.forall(identity), bare)
      assert(filtered.nonEmpty && !filtered.exists(identity), filtered)
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
