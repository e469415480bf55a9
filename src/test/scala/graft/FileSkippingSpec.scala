package graft.sources

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.TestSpark
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class FileSkippingSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft_fs").resolve("t").toString

  // range-partitioned so each parquet file covers a disjoint key range —
  // the layout the pruning is FOR (z-order / sorted writes produce it)
  private def rangedCommit(t: String, lo: Int, hi: Int, cols: Seq[String]): Long =
    FileSkipping.commitWithStats(
      (lo to hi).map(i => (i.toLong, i.toDouble / 4.0, f"s$i%04d")).toDF("k", "d", "s")
        .repartitionByRange(4, col("k")),
      t, cols)

  test("long-column pruning: narrow between opens a strict file subset, result exact") {
    val t = tmp()
    rangedCommit(t, 1, 400, Seq("k", "d", "s"))
    val (df, rep) = FileSkipping.readBetween(spark, t, "k", 10L, 20L)
    rep.filesTotal shouldBe 4
    rep.filesKept should be < rep.filesTotal
    rep.dirsWithoutStats shouldBe 0
    df.select("k").collect().map(_.getLong(0)).sorted shouldBe (10L to 20L).toArray
  }

  test("double and string families prune too; residual filter still applies inside kept files") {
    val t = tmp()
    rangedCommit(t, 1, 400, Seq("k", "d", "s"))
    val (dd, drep) = FileSkipping.readBetween(spark, t, "d", 2.0, 3.0)
    drep.filesKept should be < drep.filesTotal
    dd.count() shouldBe (8L to 12L).size // d = k/4 in [2,3] -> k in [8,12]
    val (ds, srep) = FileSkipping.readBetween(spark, t, "s", "s0005", "s0007")
    srep.filesKept should be < srep.filesTotal
    ds.select("s").collect().map(_.getString(0)).sorted shouldBe
      Array("s0005", "s0006", "s0007")
  }

  test("a between outside every file range prunes everything; schema survives") {
    val t = tmp()
    rangedCommit(t, 1, 100, Seq("k"))
    val (df, rep) = FileSkipping.readBetween(spark, t, "k", 5000L, 6000L)
    rep.filesKept shouldBe 0
    df.count() shouldBe 0L
    df.schema.fieldNames.toSeq shouldBe Seq("k", "d", "s")
  }

  test("append commits carry per-directory stats; both directories prune independently") {
    val t = tmp()
    rangedCommit(t, 1, 100, Seq("k"))
    rangedCommit(t, 101, 200, Seq("k")) // append: only the new dir gets new stats
    val (df, rep) = FileSkipping.readBetween(spark, t, "k", 150L, 160L)
    rep.filesTotal shouldBe 8
    rep.filesKept should be < 4 // all of dir 1 pruned + most of dir 2
    df.count() shouldBe 11L
  }

  test("a directory without stats degrades to keep-everything; backfillStats repairs it") {
    val t = tmp()
    val df = (1 to 100).map(i => (i.toLong, "x")).toDF("k", "s")
      .repartitionByRange(4, col("k"))
    VersionedTable.commit(df, t) // plain commit: no stats
    val (r1, rep1) = FileSkipping.readBetween(spark, t, "k", 10L, 12L)
    rep1.dirsWithoutStats shouldBe 1
    rep1.filesKept shouldBe rep1.filesTotal // conservative: nothing pruned
    r1.count() shouldBe 3L
    FileSkipping.backfillStats(spark, t, Seq("k")) should have size 1
    val (r2, rep2) = FileSkipping.readBetween(spark, t, "k", 10L, 12L)
    rep2.dirsWithoutStats shouldBe 0
    rep2.filesKept should be < rep2.filesTotal
    r2.count() shouldBe 3L
    FileSkipping.backfillStats(spark, t, Seq("k")) shouldBe empty // idempotent
  }

  test("all-null files are pruned for between; mixed-null files are kept") {
    val t = tmp()
    val allNull = Seq[(java.lang.Long, String)]((null, "a"), (null, "b")).toDF("k", "s")
    val mixed = Seq[(java.lang.Long, String)]((5L, "c"), (null, "d")).toDF("k", "s")
    FileSkipping.commitWithStats(allNull.coalesce(1), t, Seq("k"))
    FileSkipping.commitWithStats(mixed.coalesce(1), t, Seq("k"))
    val (df, rep) = FileSkipping.readBetween(spark, t, "k", 1L, 10L)
    rep.filesTotal shouldBe 2
    rep.filesKept shouldBe 1
    df.collect().map(_.getLong(0)).toSeq shouldBe Seq(5L)
  }

  test("stats lines round-trip through the JSON emit/parse, escapes included") {
    val s = FileSkipping.ColStats("part-0.parquet", "s", "string",
      Some("a\"b\\c"), Some("zend"), 3L, 10L)
    val line = {
      // emit via the private path: go through a real file write instead
      val t = tmp()
      FileSkipping.commitWithStats(
        Seq(("a\"b\\c", 1L), ("zend", 2L)).toDF("s", "k").coalesce(1), t, Seq("s", "k"))
      val statsFile = new org.apache.hadoop.fs.Path(t, "_stats")
      val f = statsFile.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val p = f.listStatus(statsFile).head.getPath
      val in = f.open(p)
      val bytes = new Array[Byte](4096)
      val n = in.read(bytes); in.close()
      new String(bytes, 0, n, "UTF-8")
    }
    val parsed = FileSkipping.parseStatsLines(line)
    val sCol = parsed.find(_.column == "s").get
    sCol.family shouldBe "string"
    sCol.min shouldBe Some("a\"b\\c")
    sCol.max shouldBe Some("zend")
    val kCol = parsed.find(_.column == "k").get
    kCol.family shouldBe "long"
    kCol.min shouldBe Some("1")
    kCol.max shouldBe Some("2")
    s.rows shouldBe 10L // silence unused warning for the hand-built sample
  }

  test("readWhere: conjunctive 2-D pruning over a z-ordered layout beats either single dim") {
    val t = tmp()
    val rows = (0 until 4096).map { i =>
      val d1 = (i * 7) % 64L; val d2 = (i * 13) % 64L
      (i.toLong, d1, d2)
    }
    val df = rows.toDF("id", "d1", "d2")
    val arranged = df
      .withColumn("__z", Sinks.zorderKey(Seq(col("d1"), col("d2")), 6))
      .repartitionByRange(16, col("__z"))
      .sortWithinPartitions("__z").drop("__z")
    FileSkipping.commitWithStats(arranged, t, Seq("d1", "d2"))
    val (both, repBoth) = FileSkipping.readWhere(spark, t,
      Seq(("d1", 0L, 7L), ("d2", 0L, 7L)))
    val (one, repOne) = FileSkipping.readBetween(spark, t, "d1", 0L, 7L)
    repBoth.filesKept should be < repOne.filesKept // the second dim prunes further
    repOne.filesKept should be < repOne.filesTotal
    // and the rows are exactly the conjunctive filter
    val want = rows.filter(r => r._2 <= 7 && r._3 <= 7).map(_._1).sorted
    both.select("id").collect().map(_.getLong(0)).sorted shouldBe want.toArray
    one.count() shouldBe rows.count(_._2 <= 7).toLong
  }

  test("chunks without usable statistics poison their column: file force-kept, others still prune") {
    // Writers legitimately omit chunk statistics (disabled, or dropped
    // for oversized binary values). A bound folded from the row groups
    // that DO have stats would let readWhere prune a file whose
    // uncovered rows match — the completeness contract instead emits NO
    // stats line for that column, so the reader keeps the file.
    val t = tmp()
    val dir = new org.apache.hadoop.fs.Path(t, "data/c1-nostats")
    (1 to 100).map(i => (i.toLong, f"s$i%04d")).toDF("k", "s")
      .repartitionByRange(4, col("k"))
      .write
      // per-column disable: k has no chunk stats, s keeps them
      .option("parquet.column.statistics.enabled#k", "false")
      .parquet(dir.toString)
    VersionedTable.publishManifest(spark, t, 1L,
      """{"version":1,"mode":"append","dirs":["data/c1-nostats"]}""")
    FileSkipping.backfillStats(spark, t, Seq("k", "s")) should have size 1
    // stats file: s lines present, k lines absent (poisoned)
    val sp = new org.apache.hadoop.fs.Path(t, "_stats")
    val f = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = f.listStatus(sp).head.getPath
    val in = f.open(p); val buf = new Array[Byte](65536)
    val n = in.read(buf); in.close()
    val stats = FileSkipping.parseStatsLines(new String(buf, 0, n, "UTF-8"))
    stats.exists(_.column == "s") shouldBe true
    stats.exists(_.column == "k") shouldBe false
    // k predicate: conservative keep-everything, result exact
    val (dk, repK) = FileSkipping.readBetween(spark, t, "k", 10L, 12L)
    repK.filesKept shouldBe repK.filesTotal
    dk.select("k").collect().map(_.getLong(0)).sorted shouldBe Array(10L, 11L, 12L)
    // s predicate on the SAME files still prunes
    val (ds, repS) = FileSkipping.readBetween(spark, t, "s", "s0010", "s0012")
    repS.filesKept should be < repS.filesTotal
    ds.count() shouldBe 3L
  }

  test("compactTable: overwrite commit with fresh stats; clustered layout prunes, history survives") {
    val t = tmp()
    // fragmented audited ingest: 16 shards, each spanning the whole key
    // range -> stats exist but prune nothing
    val df = (1 to 800).map(i => (i.toLong, s"v$i")).toDF("k", "s").repartition(16)
    graft.ops.Quality.auditedCommitWithStats(df, t,
      Seq(graft.ops.Quality.NotNull("k")), statsCols = Seq("k"))
    val (_, repFrag) = FileSkipping.readBetween(spark, t, "k", 10L, 60L)
    repFrag.filesKept shouldBe repFrag.filesTotal // unclustered: no pruning
    // compaction transaction: 4 range-clustered files, stats republished
    val (v2, nBefore, nAfter) = FileSkipping.compactTable(spark, t, Seq("k"),
      clusterBy = Seq("k"), targetFiles = Some(4))
    v2 shouldBe 2L
    nBefore shouldBe 16
    nAfter shouldBe 4
    val (got, rep) = FileSkipping.readBetween(spark, t, "k", 10L, 60L)
    rep.filesTotal shouldBe 4
    rep.filesKept should be < rep.filesTotal // clustered: pruning bites
    got.select("k").collect().map(_.getLong(0)).sorted shouldBe (10L to 60L).toArray
    // content preserved row-for-row across the rewrite
    VersionedTable.read(spark, t).count() shouldBe 800L
    // the pre-compaction snapshot is still readable (time travel)
    VersionedTable.read(spark, t, Some(1L)).count() shouldBe 800L
    // a failing gate commits nothing
    a[graft.ops.Quality.QualityGateFailed] should be thrownBy
      graft.ops.Quality.auditedCommitWithStats(
        Seq((Option.empty[java.lang.Long], "x")).toDF("k", "s"), t,
        Seq(graft.ops.Quality.NotNull("k")), statsCols = Seq("k"))
    VersionedTable.latestVersion(spark, t) shouldBe 2L
  }

  test("footer stats are metadata-exact: min/max/nulls match the data") {
    val t = tmp()
    FileSkipping.commitWithStats(
      Seq[(java.lang.Long, java.lang.Double)]((3L, 0.5), (9L, null), (1L, 2.25))
        .toDF("k", "d").coalesce(1), t, Seq("k", "d"))
    val f = new org.apache.hadoop.fs.Path(t, "_stats")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = f.listStatus(new org.apache.hadoop.fs.Path(t, "_stats")).head.getPath
    val in = f.open(p); val buf = new Array[Byte](8192)
    val n = in.read(buf); in.close()
    val stats = FileSkipping.parseStatsLines(new String(buf, 0, n, "UTF-8"))
    val k = stats.find(_.column == "k").get
    (k.min, k.max, k.nulls, k.rows) shouldBe ((Some("1"), Some("9"), 0L, 3L))
    val d = stats.find(_.column == "d").get
    (d.min, d.max, d.nulls) shouldBe ((Some("0.5"), Some("2.25"), 1L))
  }

  // ---- Bloom file index -----------------------------------------------

  private def bloomCommit(t: String, lo: Int, hi: Int): Long =
    // clustered by d, NOT by k: min/max on k spans everything, so any
    // pruning on k is the bloom's doing alone
    FileSkipping.commitWithBloom(
      (lo to hi).map(i => (i.toLong, (i % 7).toDouble, f"s$i%04d")).toDF("k", "d", "s")
        .repartitionByRange(4, col("d")),
      t, Seq("k", "s"), fpp = 0.01)

  test("bloom point lookup opens a file subset on an unclustered key; result exact") {
    val t = tmp()
    bloomCommit(t, 1, 4000)
    val (df, rep) = FileSkipping.readEquals(spark, t, "k", 1234L)
    rep.filesTotal shouldBe 4
    rep.filesKept should be < rep.filesTotal
    rep.dirsWithoutStats shouldBe 0
    df.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("s"))) shouldBe
      Array((1234L, "s1234"))
    // string key path
    val (ds, srep) = FileSkipping.readEquals(spark, t, "s", "s0042")
    srep.filesKept should be < srep.filesTotal
    ds.collect().map(_.getAs[Long]("k")) shouldBe Array(42L)
  }

  test("a bloom build above the bits cap still carries the caller's runtime SQL confs") {
    val maxBits = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val probe = "spark.sql.files.maxPartitionBytes"
    // a cap far below the build's sizing moves the build to its own
    // session; every SQL execution reports its session's modified confs
    val builds = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if s.modifiedConfigs.get(maxBits).exists(_ != "4096") => builds.add(s.modifiedConfigs)
        case _ =>
      }
    }
    // the build-session decision is logged through log4j, never printed
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("bloom-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = logged.add(e.getMessage.getFormattedMessage)
    }
    val loggerName = FileSkipping.getClass.getName.stripSuffix("$")
    val logger = LogManager.getLogger(loggerName).asInstanceOf[Logger]
    val level = logger.getLevel
    val err = new java.io.ByteArrayOutputStream
    val stderr = System.err
    val sc = spark.sparkContext
    val callerConfs = Seq(maxBits, probe).map(k => k -> spark.conf.getOption(k))
    spark.conf.set(maxBits, "4096")
    spark.conf.set(probe, "12345678")
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    capture.start()
    logger.addAppender(capture)
    Configurator.setLevel(loggerName, Level.INFO)
    System.setErr(new java.io.PrintStream(err, true))
    try {
      Console.withErr(err)(bloomCommit(tmp(), 1, 1000))
      org.apache.spark.TestListenerBus.drain(sc)
    } finally {
      System.setErr(stderr)
      Configurator.setLevel(loggerName, level)
      logger.removeAppender(capture)
      capture.stop()
      sc.removeSparkListener(listener)
      callerConfs.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    builds should not be empty
    builds.forEach(conf => conf.get(probe) shouldBe Some("12345678"))
    logged.asScala.filter(_.contains(s"bloom build session with $maxBits=")) should not be empty
    err.size shouldBe 0
  }

  test("bloom lookup of an absent key returns empty (files may false-positive, rows never)") {
    val t = tmp()
    bloomCommit(t, 1, 1000)
    val (df, rep) = FileSkipping.readEquals(spark, t, "k", 999999L)
    df.count() shouldBe 0L
    // at fpp = 1% over 4 files, all four surviving would be ~1e-8
    rep.filesKept should be < rep.filesTotal
  }

  test("a directory without a bloom sidecar degrades to keep-everything") {
    val t = tmp()
    VersionedTable.commit(
      (1 to 100).map(i => (i.toLong, i.toDouble, s"s$i")).toDF("k", "d", "s")
        .repartition(3), t)
    val (df, rep) = FileSkipping.readEquals(spark, t, "k", 50L)
    rep.dirsWithoutStats shouldBe 1
    rep.filesKept shouldBe rep.filesTotal
    df.collect().map(_.getAs[Long]("k")) shouldBe Array(50L)
  }

  test("bloom probe is typed by the COLUMN: cross-family mismatch fails fast, " +
      "integral widths coerce") {
    val t = tmp()
    bloomCommit(t, 1, 1000)
    // an Int probe of the long column hashes identically after coercion —
    // same files pruned, same row found
    val (di, repI) = FileSkipping.readEquals(spark, t, "k", 123)
    repI.filesKept should be < repI.filesTotal
    di.collect().map(_.getAs[Long]("k")) shouldBe Array(123L)
    // probing the STRING column with an Int would hash the long encoding
    // against a UTF-8-built bloom and silently prune matching files —
    // the call must refuse instead
    an[IllegalArgumentException] should be thrownBy
      FileSkipping.readEquals(spark, t, "s", 42)
    // and the integral column refuses a string probe symmetrically
    an[IllegalArgumentException] should be thrownBy
      FileSkipping.readEquals(spark, t, "k", "123")
    // unknown column names fail with the schema in the message
    an[IllegalArgumentException] should be thrownBy
      FileSkipping.readEquals(spark, t, "nope", 1L)
  }

  test("bloom sidecar lines round-trip; append commits prune per directory") {
    val t = tmp()
    bloomCommit(t, 1, 500)
    FileSkipping.commitWithBloom(
      (501 to 1000).map(i => (i.toLong, (i % 7).toDouble, f"s$i%04d")).toDF("k", "d", "s")
        .repartitionByRange(4, col("d")),
      t, Seq("k", "s"))
    val (df, rep) = FileSkipping.readEquals(spark, t, "k", 750L)
    rep.filesTotal shouldBe 8
    rep.filesKept should be < rep.filesTotal
    df.collect().map(_.getAs[Long]("k")) shouldBe Array(750L)
  }
}
