package graft

import graft.sources.Sinks
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import java.nio.file.Files

class SinksSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_sinks").resolve("t").toString

  private def data = (1 to 3000)
    .map(i => (i.toLong, s"g${i % 3}", i * 1.5)).toDF("id", "g", "v")

  test("partitioned write: round-trip equality, one file per partition value") {
    val path = tmp()
    Sinks.writePartitioned(data, path, Seq("g"))
    val back = spark.read.parquet(path)
    back.count() shouldBe 3000
    back.select("id", "g", "v").as[(Long, String, Double)].collect().toSet shouldBe
      data.as[(Long, String, Double)].collect().toSet
    // one owning task per value -> exactly one parquet file per directory
    for (g <- Seq("g0", "g1", "g2")) {
      val files = new java.io.File(s"$path/g=$g")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      files should have length 1
    }
  }

  test("compact: fewer files, content preserved row-for-row") {
    val frag = tmp(); val packed = tmp()
    data.repartition(24).write.parquet(frag)
    def files(p: String) = new java.io.File(p)
      .listFiles().count(_.getName.endsWith(".parquet"))
    files(frag) shouldBe 24
    val (before, after) = Sinks.compact(spark, frag, packed,
      targetFileBytes = 1L << 20)
    before shouldBe 24
    // 24 tiny shards total well under 1 MiB -> one output file
    after shouldBe 1
    files(packed) shouldBe 1
    spark.read.parquet(packed).as[(Long, String, Double)].collect().toSet shouldBe
      data.as[(Long, String, Double)].collect().toSet
  }

  test("compact honors the target size (multiple output files when needed)") {
    val frag = tmp(); val packed = tmp()
    // ~3 MiB of rows so a 1 MiB target needs several files
    val big = (1 to 120000).map(i => (i.toLong, s"payload_$i" * 3, i * 1.1))
      .toDF("id", "s", "v")
    big.repartition(32).write.parquet(frag)
    val (_, after) = Sinks.compact(spark, frag, packed,
      targetFileBytes = 1L << 20)
    after should be > 1
    after should be < 32
    spark.read.parquet(packed).count() shouldBe 120000
    an[IllegalArgumentException] should be thrownBy
      Sinks.compact(spark, frag, tmp(), targetFileBytes = 1000L)
  }

  test("filesPerPartition widens a value across that many files") {
    val path = tmp()
    // AQE rightly re-merges KB-sized salted partitions; pin it off to
    // observe the salt's splitting behavior at toy scale
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try Sinks.writePartitioned(data, path, Seq("g"), filesPerPartition = 4)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val files = new java.io.File(s"$path/g=g0")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    files.length should be > 1
    files.length should be <= 4
    spark.read.parquet(path).count() shouldBe 3000
  }

  test("reader prunes partitions: PartitionFilters set, only matching files read") {
    val path = tmp()
    Sinks.writePartitioned(data, path, Seq("g"))
    val q = spark.read.parquet(path).filter($"g" === "g1")
    val scan = q.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    scan.partitionFilters.map(_.sql).mkString(" ") should include("g1")
    // the scan's selected partitions cover ONLY the g=g1 directory
    scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files).map(_.getPath.toString)
      .foreach(p => p should include("g=g1"))
    q.count() shouldBe 1000
  }

  test("zorderKey interleaves bits exactly (reference implementation parity)") {
    def refMorton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, b) =>
        acc | (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1)) }
    val pts = for (x <- 0L to 16L; y <- Seq(0L, 1L, 7L, 255L)) yield (x, y)
    val got = pts.toDF("x", "y")
      .select($"x", $"y", Sinks.zorderKey(Seq($"x", $"y"), 8).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) => got((x, y)) shouldBe refMorton(x, y, 8) }
    // the curve is a bijection on the grid: all keys distinct
    got.values.toSeq.distinct.size shouldBe pts.size
  }

  test("jsonl export: budget-exact shards, one file each, manifest census matches re-read") {
    val path = tmp(); val manifest = tmp()
    // 200 docs x 10 tokens = 2000 tokens; budget 300 -> shard boundaries
    // every ceil(300/10)=30 docs: shards 0..6 (6 x 300 + 1 x 200)
    val docs = (1L to 200L)
      .map(i => (i, s"s${i % 4}", Seq.fill(10)(s"w$i").mkString(" "), 10L))
      .toDF("doc_id", "source", "text", "n_tok")
    val rep = Sinks.exportJsonlSharded(docs, path, "doc_id", "n_tok",
      manifestTable = manifest, tokensPerShard = 300L)
    rep.tokensPerShard shouldBe 300L
    rep.nShards shouldBe 7L
    rep.nFiles shouldBe 7L // exactly one data file per shard
    val back = spark.read
      .schema("doc_id LONG, source STRING, text STRING, n_tok LONG")
      .json(path)
    back.count() shouldBe 200
    // deterministic assignment: doc i (1-based) has prev = (i-1)*10
    back.select($"doc_id", $"shard".cast("long")).as[(Long, Long)]
      .collect().foreach { case (id, sh) => sh shouldBe (id - 1) * 10 / 300 }
    // text round-trips byte-exact through the JSON escape
    back.filter($"doc_id" === 7L).select("text").head().getString(0) shouldBe
      Seq.fill(10)("w7").mkString(" ")
    // the registered manifest census equals the re-read census
    val census = back.groupBy($"shard".cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val reg = graft.sources.VersionedTable.read(spark, manifest)
    reg.as[(Long, Long, Long)].collect().toSet shouldBe
      census.as[(Long, Long, Long)].collect().toSet
    reg.as[(Long, Long, Long)].collect().map(_._3).sum shouldBe 2000L
  }

  test("jsonl export fails loudly on null/uncastable token counts") {
    val path = tmp(); val manifest = tmp()
    // one null n_tok: it must not flow into a shard with zero budget
    // weight (manifest n_tokens would go null, budget would undercount)
    val docs = (Seq((1L, "s", "a b", Some(2L)), (2L, "s", "c d", None)) ++
      (3L to 10L).map(i => (i, "s", "e f", Some(2L))))
      .toDF("doc_id", "source", "text", "n_tok")
    val e = intercept[IllegalArgumentException] {
      Sinks.exportJsonlSharded(docs, path, "doc_id", "n_tok",
        manifestTable = manifest, tokensPerShard = 4L)
    }
    e.getMessage should include("null/uncastable")
  }

  test("jsonl export derives the budget from the corpus when unset") {
    val path = tmp(); val manifest = tmp()
    val docs = (1L to 50L).map(i => (i, "s", "a b c", 3L))
      .toDF("doc_id", "source", "text", "n_tok")
    // 150 total tokens, targetShards 8 -> derived budget max(60, 150/8)=60
    val rep = Sinks.exportJsonlSharded(docs, path, "doc_id", "n_tok",
      manifestTable = manifest, minShardTokens = 60L, targetShards = 8)
    rep.tokensPerShard shouldBe 60L
    rep.nShards shouldBe 3L // 150 tokens / 60 = shards 0,1,2
  }
}
