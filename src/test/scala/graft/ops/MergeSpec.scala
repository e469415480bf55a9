package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class MergeSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def snapshot =
    Seq((1L, Option(10.0), "a"), (2L, Option(20.0), "b"),
        (3L, Option(30.0), "c"), (4L, None, "d"))
      .toDF("k", "v", "tag0")

  // (key, op, ts, seq, value)
  private def changes =
    Seq((2L, "upsert", 5L, 1L, Option(21.0)), // update
        (2L, "upsert", 3L, 2L, Option(99.0)), // older ts loses despite larger seq
        (3L, "delete", 9L, 3L, None),         // delete
        (3L, "upsert", 9L, 1L, Option(31.0)), // same ts, lower seq -> delete wins
        (5L, "upsert", 1L, 4L, Option(50.0)), // insert
        (6L, "delete", 1L, 5L, None))         // delete of an absent key -> no row
      .toDF("k", "op", "ts", "seq", "v")

  test("applyChangelog: latest-wins upsert / delete / insert / kept") {
    val out = Merge.applyChangelog(snapshot, changes, "k", "op",
        Seq("ts", "seq"), Seq("v"), tagCol = Some("src"))
      .orderBy("k")
      .as[(Long, Option[Double], String, String)].collect()
    out shouldBe Array(
      (1L, Some(10.0), "a", "kept"),
      (2L, Some(21.0), "b", "updated"),
      (4L, None, "d", "kept"),
      (5L, Some(50.0), null, "inserted"))
  }

  test("applyChangelog tags a null-valued existing row as updated, not inserted") {
    val ch = Seq((4L, "upsert", 1L, 1L, Option(44.0))).toDF("k", "op", "ts", "seq", "v")
    val out = Merge.applyChangelog(snapshot, ch, "k", "op", Seq("ts", "seq"), Seq("v"),
        tagCol = Some("src"))
      .filter($"k" === 4L)
      .as[(Long, Option[Double], String, String)].collect()
    out shouldBe Array((4L, Some(44.0), "d", "updated"))
  }

  test("applyChangelog treats a null op as an upsert, never a silent delete") {
    // r6 bug: !isDelete(null) is NULL, so the filter dropped the row and a
    // null-op change silently deleted its key
    val ch = Seq((2L, Option.empty[String], 5L, 1L, Option(22.0)),
                 (7L, Option.empty[String], 5L, 2L, Option(70.0)))
      .toDF("k", "op", "ts", "seq", "v")
    val out = Merge.applyChangelog(snapshot, ch, "k", "op", Seq("ts", "seq"), Seq("v"),
        tagCol = Some("src"))
      .orderBy("k")
      .as[(Long, Option[Double], String, String)].collect()
    out shouldBe Array(
      (1L, Some(10.0), "a", "kept"),
      (2L, Some(22.0), "b", "updated"),  // null op upserts the existing key
      (3L, Some(30.0), "c", "kept"),
      (4L, None, "d", "kept"),
      (7L, Some(70.0), null, "inserted")) // null op inserts the absent key
  }

  test("applyChangelog without tagCol keeps the snapshot schema exactly") {
    val out = Merge.applyChangelog(snapshot, changes, "k", "op", Seq("ts", "seq"), Seq("v"))
    out.columns.toSeq shouldBe snapshot.columns.toSeq
  }

  test("applyChangelog equals a MERGE spelled out as window + full join") {
    // independent relational derivation of the same semantics
    changes.createOrReplaceTempView("mg_ch")
    snapshot.createOrReplaceTempView("mg_s")
    val expect = spark.sql(
      """WITH latest AS (
        |  SELECT k, op, v FROM (
        |    SELECT k, op, v,
        |           row_number() OVER (PARTITION BY k ORDER BY ts DESC, seq DESC) rn
        |    FROM mg_ch) WHERE rn = 1)
        |SELECT COALESCE(s.k, l.k) AS k,
        |       CASE WHEN l.k IS NOT NULL THEN l.v ELSE s.v END AS v,
        |       s.tag0 AS tag0
        |FROM mg_s s FULL OUTER JOIN latest l ON s.k = l.k
        |WHERE l.op IS NULL OR l.op <> 'delete'
        |ORDER BY k""".stripMargin)
      .as[(Long, Option[Double], String)].collect()
    val got = Merge.applyChangelog(snapshot, changes, "k", "op", Seq("ts", "seq"), Seq("v"))
      .orderBy("k").as[(Long, Option[Double], String)].collect()
    got shouldBe expect
  }

  test("applyChangelog property: equals a driver-side reference model on random changelogs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // snapshot keys 0..19; changelog hits keys 0..29 (10..29 exercise the
    // insert branch), ts collides on purpose so the seq tiebreak decides
    val caseGen = for {
      nSnap <- Gen.chooseNum(0, 20)
      snapKeys <- Gen.listOfN(nSnap, Gen.chooseNum(0L, 19L)).map(_.distinct)
      snapVals <- Gen.listOfN(snapKeys.size, Gen.option(Gen.chooseNum(0.0, 9.0)))
      nCh <- Gen.chooseNum(0, 40)
      chKeys <- Gen.listOfN(nCh, Gen.chooseNum(0L, 29L))
      chOps <- Gen.listOfN(nCh, Gen.oneOf("upsert", "delete"))
      chTs <- Gen.listOfN(nCh, Gen.chooseNum(0L, 5L))
      chVals <- Gen.listOfN(nCh, Gen.chooseNum(10.0, 99.0))
    } yield (snapKeys.zip(snapVals),
      chKeys.lazyZip(chOps).lazyZip(chTs).lazyZip(chVals).toList.zipWithIndex
        .map { case ((k, op, ts, v), seq) => (k, op, ts, seq.toLong, Option(v)) })
    val cases = (0 until 10).flatMap(i =>
      caseGen.apply(Gen.Parameters.default, Seed(11L + i)))
    for ((snap, ch) <- cases) {
      val snapDf = snap.map { case (k, v) => (k, v, s"t$k") }.toDF("k", "v", "tag0")
      val chDf = ch.toDF("k", "op", "ts", "seq", "v")
      val got = Merge.applyChangelog(snapDf, chDf, "k", "op", Seq("ts", "seq"), Seq("v"))
        .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getString(2)))
        .sortBy(_._1).toSeq
      // reference model: latest change per key by (ts, seq), applied
      val latest = ch.groupBy(_._1).view.mapValues(_.maxBy(c => (c._3, c._4))).toMap
      val snapMap = snap.toMap
      val keys = (snapMap.keySet ++ latest.keySet).toSeq.sorted
      val expect = keys.flatMap { k =>
        latest.get(k) match {
          case Some((_, "delete", _, _, _)) => None
          case Some((_, _, _, _, v)) =>
            Some((k, v.map(_.asInstanceOf[Any]),
              snapMap.get(k).map(_ => s"t$k").orNull))
          case None => snapMap.get(k).map(v =>
            (k, v.map(_.asInstanceOf[Any]), s"t$k"))
        }
      }
      got shouldBe expect
    }
  }

  test("scd2: versions ordered per key, half-open intervals chain, current is open") {
    val ch = Seq((1L, 100L, 1L, "v1"), (1L, 200L, 2L, "v2"), (1L, 200L, 3L, "v2b"),
                 (2L, 150L, 4L, "w1"))
      .toDF("k", "ts", "seq", "payload")
    val out = Merge.scd2(ch, "k", "ts", Seq("ts", "seq"), Seq("payload"))
      .orderBy("k", "version")
      .as[(Long, Long, String, Long, Option[Long])].collect()
    out shouldBe Array(
      (1L, 1L, "v1", 100L, Some(200L)),
      (1L, 2L, "v2", 200L, Some(200L)), // tie on ts: seq orders versions
      (1L, 3L, "v2b", 200L, None),
      (2L, 1L, "w1", 150L, None))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged, null-safe") {
    val before = Seq(
      (1L, Some("a"), Some(1.0)),  // unchanged
      (2L, Some("b"), Some(2.0)),  // changed (value)
      (3L, None, Some(3.0)),       // changed (null -> value)
      (4L, Some("d"), None),       // unchanged (null == null is not a change)
      (5L, Some("e"), Some(5.0))   // removed
    ).toDF("k", "s", "v")
    val after = Seq(
      (1L, Some("a"), Some(1.0)),
      (2L, Some("B"), Some(2.0)),
      (3L, Some("c"), Some(3.0)),
      (4L, Some("d"), None),
      (6L, Some("f"), Some(6.0))   // added
    ).toDF("k", "s", "v")
    val out = Merge.snapshotDiff(before, after, "k", Seq("s", "v"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("diff_class")).toMap
    out shouldBe Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
      4L -> "unchanged", 5L -> "removed", 6L -> "added")
    // both sides' values ride along, null where absent
    val row6 = Merge.snapshotDiff(before, after, "k", Seq("s", "v"))
      .filter($"k" === 6L).head()
    row6.isNullAt(row6.fieldIndex("before_s")) shouldBe true
    row6.getAs[String]("after_s") shouldBe "f"
  }

  // --- incremental aggregate maintenance -------------------------------

  test("mergeAggState(agg(A), agg(B)) equals agg(A union B) exactly") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{count, lit, max, min, sum}
    val rows = (1L to 200L).map(i => (i % 13, i.toDouble * 1.5, i))
    val all = rows.toDF("k", "v", "seq")
    def aggOf(df: DataFrame): DataFrame = df.groupBy("k").agg(
      count(lit(1)).as("n"), sum($"v").as("s"), min($"v").as("mn"), max($"v").as("mx"))
    val a = all.filter($"seq" % 3 =!= 0)
    val b = all.filter($"seq" % 3 === 0)
    val merged = Merge.mergeAggState(aggOf(a), aggOf(b), Seq("k"),
        Map("n" -> "sum", "s" -> "sum", "mn" -> "min", "mx" -> "max"))
      .select($"k", $"n", $"s", $"mn", $"mx")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    val direct = aggOf(all).select($"k", $"n", $"s", $"mn", $"mx")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    merged shouldBe direct
  }

  test("mergeAggState keeps state-only and delta-only keys intact") {
    val state = Seq((1L, 5L, 50.0), (2L, 3L, 30.0)).toDF("k", "n", "s")
    val delta = Seq((2L, 2L, 20.0), (9L, 1L, 9.0)).toDF("k", "n", "s")
    val out = Merge.mergeAggState(state, delta, Seq("k"),
        Map("n" -> "sum", "s" -> "sum"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    out shouldBe Map(1L -> ((5L, 50.0)), 2L -> ((5L, 50.0)), 9L -> ((1L, 9.0)))
  }

  test("mergeSketchState: merged HLL equals the whole-input sketch estimate exactly") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, hll_sketch_agg, hll_sketch_estimate}
    val rows = (1L to 500L).map(i => (i % 7, i % 113))
    val all = rows.toDF("k", "u")
    def sk(df: DataFrame): DataFrame =
      df.groupBy("k").agg(hll_sketch_agg(col("u")).as("s"))
    val a = all.filter($"u" % 3 =!= 0)
    val b = all.filter($"u" % 3 === 0)
    def est(df: DataFrame): Map[Long, Long] =
      df.select(col("k"), hll_sketch_estimate(col("s")).as("e"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // register-wise max is associative and order-free: union of the two
    // batch sketches must equal the one-shot sketch REGISTER FOR
    // REGISTER, hence estimate for estimate
    est(Merge.mergeSketchState(sk(a), sk(b), Seq("k"), Seq("s"))) shouldBe est(sk(all))
  }

  test("mergeSketchState keeps one-sided keys' sketches") {
    import org.apache.spark.sql.functions.{col, hll_sketch_agg, hll_sketch_estimate}
    val a = Seq((1L, 10L), (1L, 11L)).toDF("k", "u")
      .groupBy("k").agg(hll_sketch_agg(col("u")).as("s"))
    val b = Seq((9L, 20L)).toDF("k", "u")
      .groupBy("k").agg(hll_sketch_agg(col("u")).as("s"))
    val out = Merge.mergeSketchState(a, b, Seq("k"), Seq("s"))
      .select(col("k"), hll_sketch_estimate(col("s")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe Map(1L -> 2L, 9L -> 1L)
  }

  test("mergeAggState merges NULL-keyed groups (null-safe key join)") {
    // groupBy over a nullable column yields a NULL-keyed group on both
    // sides; the merge must combine them into ONE row, not carry two
    val state = Seq((Option(1L), 5L, 50.0), (None: Option[Long], 3L, 30.0))
      .toDF("k", "n", "s")
    val delta = Seq((Option(1L), 1L, 10.0), (None: Option[Long], 2L, 20.0))
      .toDF("k", "n", "s")
    val out = Merge.mergeAggState(state, delta, Seq("k"),
        Map("n" -> "sum", "s" -> "sum"))
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
          ((r.getLong(1), r.getDouble(2)))).toMap
    out shouldBe Map(Some(1L) -> ((6L, 60.0)), None -> ((5L, 50.0)))
  }

  test("mergeSketchState merges NULL-keyed groups (null-safe key join)") {
    import org.apache.spark.sql.functions.{col, hll_sketch_agg, hll_sketch_estimate}
    val a = Seq((Option(1L), 10L), (None: Option[Long], 20L))
      .toDF("k", "u").groupBy("k").agg(hll_sketch_agg(col("u")).as("s"))
    val b = Seq((None: Option[Long], 21L), (None: Option[Long], 22L))
      .toDF("k", "u").groupBy("k").agg(hll_sketch_agg(col("u")).as("s"))
    val out = Merge.mergeSketchState(a, b, Seq("k"), Seq("s"))
      .select(col("k"), hll_sketch_estimate(col("s")).as("e"))
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getLong(1)).toMap
    out shouldBe Map(Some(1L) -> 1L, None -> 3L)
  }

  test("mergeAggState rejects unknown combiners and empty keys") {
    val df = Seq((1L, 1L)).toDF("k", "n")
    an[IllegalArgumentException] should be thrownBy
      Merge.mergeAggState(df, df, Seq("k"), Map("n" -> "avg"))
    an[IllegalArgumentException] should be thrownBy
      Merge.mergeAggState(df, df, Nil, Map("n" -> "sum"))
  }

  test("incrementalJoinDelta: base view + delta equals the full recomputed join") {
    val a = Seq((1L, "a1"), (2L, "a2"), (3L, "a3")).toDF("k", "av")
    val da = Seq((2L, "a2b"), (4L, "a4")).toDF("k", "av")
    val b = Seq((1L, "b1"), (2L, "b2")).toDF("k", "bv")
    val db = Seq((2L, "b2b"), (3L, "b3"), (9L, "b9")).toDF("k", "bv")
    val view = a.join(b, Seq("k"))
      .unionByName(Merge.incrementalJoinDelta(a, da, b, db, Seq("k")))
    val full = a.unionByName(da).join(b.unionByName(db), Seq("k"))
    view.as[(Long, String, String)].collect().sorted shouldBe
      full.as[(Long, String, String)].collect().sorted
    // duplicate keys multiply exactly as the recompute does: k=2 has
    // 2 left x 2 right = 4 rows
    view.filter($"k" === 2L).count() shouldBe 4L
    an[IllegalArgumentException] should be thrownBy
      Merge.incrementalJoinDelta(a, da, b, db, Nil)
  }
}
