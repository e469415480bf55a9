package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source/sink format breadth: the engine reads the driver's parquet, and
  * round-trips through CSV and JSON with schema preservation — the
  * formats a real deployment ingests beside parquet. */
class SourcesSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def sample = Util.table(spark, "/root/testdata/sf0.001", "customer")
    .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal").orderBy("c_custkey").limit(100)

  test("CSV round-trip preserves data under an explicit schema") {
    val dir = Files.createTempDirectory("graft_csv").toString
    sample.write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_mktsegment", StringType), StructField("c_acctbal", DoubleType)))
    val back = spark.read.option("header", "true").schema(schema).csv(dir)
      .orderBy("c_custkey")
    back.collect().map(_.toSeq) shouldBe sample.collect().map(_.toSeq)
  }

  test("JSON round-trip preserves data with schema inference") {
    val dir = Files.createTempDirectory("graft_json").toString
    sample.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
      .orderBy("c_custkey")
    back.collect().map(_.toSeq) shouldBe sample.collect().map(_.toSeq)
  }

  test("JSON column extraction: typed parse strict, path+cast lenient, malformed -> null") {
    import spark.implicits._
    val df = Seq(
      """{"k": 7}""",          // well-formed: both paths agree
      """{"k": "12"}""",       // string number: from_json("k INT") REJECTS
                               // (type-strict -> null); path extract + cast
                               // coerces — the documented divergence
      """{"other": 1}""",      // key absent
      """not json at all""",   // malformed
      null                     // null input
    ).toDF("props")
    val got = df.select(
        from_json(col("props"), "k INT", Map.empty[String, String]).getField("k").as("k"),
        get_json_object(col("props"), "$.k").cast("int").as("k_path"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    got shouldBe Array(
      (Some(7), Some(7)),
      (None, Some(12)),
      (None, None),
      (None, None),
      (None, None))
  }

  test("parquet write preserves nested/array columns (fingerprint arrays)") {
    val dir = Files.createTempDirectory("graft_pq").toString
    val docs = Util.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id").limit(50)
    docs.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).orderBy("doc_id")
    // parquet restores list elements as nullable — the values round-trip
    back.schema("fp").dataType shouldBe ArrayType(LongType, containsNull = true)
    back.collect().map(_.toSeq) shouldBe docs.collect().map(_.toSeq)
  }

  // Testdata-drift guard: the driver regenerates /root/testdata between
  // rounds and has ALREADY changed a physical type once (events.ts went
  // TIMESTAMP(NANOS) -> timestamp[us], which silently killed 9 queries for
  // a round — every reader resolved lazily, so nothing failed until each
  // query ran). This opens EVERY table through the repo's own readers and
  // forces both schema resolution and one row of real IO, so the next
  // drift fails HERE, loudly, with the table's name.
  test("testdata drift guard: every table opens, resolves, and reads through the repo readers") {
    val dir = "/root/testdata/sf0.001"
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    tables.foreach { t =>
      withClue(s"table $t: ") {
        val df = Util.table(spark, dir, t)
        df.schema.fields.length should be > 0
        df.limit(1).count() shouldBe 1L
      }
    }
    withClue("table events (via Util.events): ") {
      val ev = Util.events(spark, dir)
      // whatever the parquet's physical type, the reader must normalize
      // ts to session-zone TimestampType — the contract every downstream
      // window/watermark/interval-join operator assumes
      ev.schema("ts").dataType shouldBe TimestampType
      ev.limit(1).count() shouldBe 1L
    }
  }

  test("schema evolution: mergeSchema unions v1/v2 files, old rows null-fill") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_evo").toString
    // v1 writer has no `score`; v2 adds it — the additive-column upgrade
    // every long-lived ingest directory goes through
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$dir/v=1")
    Seq((3L, "c", 0.5), (4L, "d", 0.9)).toDF("id", "name", "score")
      .write.parquet(s"$dir/v=2")
    val back = spark.read.option("mergeSchema", "true").parquet(dir)
    back.columns.toSet shouldBe Set("id", "name", "score", "v")
    back.orderBy("id").as[(Long, String, Option[Double], Int)].collect() shouldBe
      Seq((1L, "a", None, 1), (2L, "b", None, 1),
        (3L, "c", Some(0.5), 2), (4L, "d", Some(0.9), 2))
    // without mergeSchema a single footer wins — the score column may
    // vanish; pinning the contrast documents why the option matters
    val naive = spark.read.parquet(dir)
    naive.count() shouldBe 4
  }

  test("parquet aggregate pushdown answers COUNT/MIN/MAX from footer statistics") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_pushdown").toString
    (1L to 1000L).map(i => (i, i.toDouble * 1.5)).toDF("id", "v")
      .repartition(4).write.mode("overwrite").parquet(dir)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    val agg = s2.read.parquet(dir).agg(
      count(lit(1)).as("n"), min(col("v")).as("mn"), max(col("v")).as("mx"))
    // the o5 load-bearing assertion: statistics answered the query — a
    // silent fallback to a data-page scan would still be CORRECT, so
    // only the plan can prove the metadata-only path was taken
    agg.queryExecution.executedPlan.toString should include ("PushedAggregation")
    val r = agg.head()
    r.getLong(0) shouldBe 1000L
    r.getDouble(1) shouldBe 1.5
    r.getDouble(2) shouldBe 1500.0
  }
}
