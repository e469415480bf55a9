package graft.sources

import java.nio.file.Files
import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class VersionedTableSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft_vt").resolve("t").toString

  test("append commits accumulate; every version stays readable (time travel)") {
    val t = tmp()
    val v1 = VersionedTable.commit((1 to 5).map(i => (i.toLong, s"a$i")).toDF("k", "s"), t)
    val v2 = VersionedTable.commit((6 to 9).map(i => (i.toLong, s"a$i")).toDF("k", "s"), t)
    (v1, v2) shouldBe ((1L, 2L))
    VersionedTable.read(spark, t).select("k").collect().map(_.getLong(0)).sorted shouldBe
      (1L to 9L).toArray
    VersionedTable.read(spark, t, Some(1L)).count() shouldBe 5L
    VersionedTable.versions(spark, t) shouldBe Seq(1L -> "append", 2L -> "append")
  }

  test("overwrite starts a fresh file list but history remains") {
    val t = tmp()
    VersionedTable.commit(Seq((1L, "x")).toDF("k", "s"), t)
    VersionedTable.commit(Seq((2L, "y")).toDF("k", "s"), t)
    VersionedTable.commit(Seq((99L, "z")).toDF("k", "s"), t, mode = "overwrite")
    VersionedTable.read(spark, t).collect().map(_.getLong(0)).toSeq shouldBe Seq(99L)
    VersionedTable.read(spark, t, Some(2L)).count() shouldBe 2L
    VersionedTable.versions(spark, t).last shouldBe (3L -> "overwrite")
  }

  test("two writers racing on one version number: one wins, one gets the typed conflict") {
    val t = tmp()
    VersionedTable.commit(Seq((1L, "x")).toDF("k", "s"), t)
    // both writers resolved next = 2; the publish step decides the race
    VersionedTable.publishManifest(spark, t, 2L,
      """{"version":2,"mode":"append","dirs":["data/c2-aaaa"]}""")
    a[VersionedTable.ConcurrentCommitException] should be thrownBy
      VersionedTable.publishManifest(spark, t, 2L,
        """{"version":2,"mode":"append","dirs":["data/c2-bbbb"]}""")
    // a fresh commit simply lands on the NEXT number — no clobber
    VersionedTable.commit(Seq((2L, "y")).toDF("k", "s"), t) shouldBe 3L
  }

  test("vacuum drops pre-horizon versions and unreferenced data, keeps the rest") {
    val t = tmp()
    VersionedTable.commit(Seq((1L, "x")).toDF("k", "s"), t)
    VersionedTable.commit(Seq((2L, "y")).toDF("k", "s"), t)
    VersionedTable.commit(Seq((3L, "z")).toDF("k", "s"), t, mode = "overwrite")
    VersionedTable.vacuum(spark, t, keepFrom = 3L)
    // v3 intact; v1/v2 gone at resolve time
    VersionedTable.read(spark, t).collect().map(_.getLong(0)).toSeq shouldBe Seq(3L)
    an[IllegalArgumentException] should be thrownBy
      VersionedTable.read(spark, t, Some(1L))
    // the overwritten versions' data directories are physically gone
    val fs = new org.apache.hadoop.fs.Path(t).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(t, "data")).length shouldBe 1
    // versions() lists SURVIVORS after vacuum — it must not assume a
    // contiguous 1..latest manifest chain and throw on the deleted ones
    VersionedTable.versions(spark, t) shouldBe Seq(3L -> "overwrite")
  }

  test("transactional MERGE: applyChangelog over the latest version commits as a new one") {
    import org.apache.spark.sql.functions.col
    val t = tmp()
    VersionedTable.commit(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "s", "v"), t)
    val changes = Seq(
      (2L, "u", 1L, "B", 21.0),  // update
      (4L, "u", 1L, "d", 40.0),  // insert
      (3L, "d", 1L, "", 0.0))    // delete
      .toDF("k", "op", "seq", "s", "v")
    val merged = graft.ops.Merge.applyChangelog(
      VersionedTable.read(spark, t), changes, "k", "op", Seq("seq"), Seq("s", "v"))
    val v2 = VersionedTable.commit(merged.select("k", "s", "v"), t, mode = "overwrite")
    v2 shouldBe 2L
    VersionedTable.read(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq shouldBe
      Seq((1L, "a", 10.0), (2L, "B", 21.0), (4L, "d", 40.0))
    // the pre-merge snapshot is still there: audit/rollback for free
    VersionedTable.read(spark, t, Some(1L)).orderBy("k").collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L)
    // rollback = re-commit an old snapshot as the new head
    VersionedTable.commit(VersionedTable.read(spark, t, Some(1L)), t, mode = "overwrite")
    VersionedTable.read(spark, t).select(col("k")).collect()
      .map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 2L, 3L)
  }

  test("manifests that carry a batchId field still read, list and take appends") {
    // the layout an earlier release's micro-batch sink left behind: two
    // append versions whose manifests also record the stream's batchId
    val t = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.parquet(s"$t/data/c1-0000aaaa")
    Seq((3L, "c")).toDF("k", "s").write.parquet(s"$t/data/c2-0000bbbb")
    val vdir = Files.createDirectories(java.nio.file.Paths.get(t, "_versions"))
    Files.writeString(vdir.resolve("v00000001.json"),
      """{"version":1,"mode":"append","batchId":0,"dirs":["data/c1-0000aaaa"]}""")
    Files.writeString(vdir.resolve("v00000002.json"),
      """{"version":2,"mode":"append","batchId":1,""" +
        """"dirs":["data/c1-0000aaaa","data/c2-0000bbbb"]}""")
    VersionedTable.versions(spark, t) shouldBe Seq(1L -> "append", 2L -> "append")
    VersionedTable.read(spark, t).select("k").collect().map(_.getLong(0)).sorted shouldBe
      Array(1L, 2L, 3L)
    VersionedTable.read(spark, t, Some(1L)).count() shouldBe 2L
    // an append on top lists both earlier directories plus its own
    VersionedTable.commit(Seq((4L, "d")).toDF("k", "s"), t) shouldBe 3L
    VersionedTable.versions(spark, t).last shouldBe (3L -> "append")
    VersionedTable.read(spark, t).select("k").collect().map(_.getLong(0)).sorted shouldBe
      Array(1L, 2L, 3L, 4L)
    VersionedTable.read(spark, t, Some(2L)).count() shouldBe 3L
  }

  test("reads of an empty or missing table fail loudly") {
    an[IllegalArgumentException] should be thrownBy
      VersionedTable.read(spark, tmp())
    an[IllegalArgumentException] should be thrownBy
      VersionedTable.commit(Seq((1L, "x")).toDF("k", "s"), tmp(), mode = "merge")
  }

  test("cloneTable: zero-copy snapshot shares files, diverges privately, vacuums safely") {
    val src = tmp(); val tgt = tmp()
    VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), src)
    VersionedTable.commit(Seq((3L, "c")).toDF("k", "s"), src)
    VersionedTable.cloneTable(spark, src, tgt) shouldBe 1L
    // the clone reads the source snapshot without copying a byte
    VersionedTable.read(spark, tgt).orderBy("k").collect().map(_.getLong(0)).toSeq shouldBe
      Seq(1L, 2L, 3L)
    // divergence: appends to the clone never reach the source
    VersionedTable.commit(Seq((9L, "z")).toDF("k", "s"), tgt)
    VersionedTable.read(spark, tgt).count() shouldBe 4L
    VersionedTable.read(spark, src).count() shouldBe 3L
    // the clone's vacuum must not delete SHARED source files
    VersionedTable.vacuum(spark, tgt, keepFrom = 2L)
    VersionedTable.read(spark, src).count() shouldBe 3L
    VersionedTable.read(spark, tgt, version = Some(2L)).count() shouldBe 4L
    // contract errors: empty source, occupied target
    an[Exception] should be thrownBy VersionedTable.cloneTable(spark, tmp(), tmp())
    an[Exception] should be thrownBy VersionedTable.cloneTable(spark, src, tgt)
  }
}
