package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import graft.ops.{Drift, Histograms, Merge, TimeSeries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, date_trunc, lit, to_date, to_timestamp}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class EventPipelineSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  private def batchEvents = Seq(
    Event(1L, ts("10:05"), 1L, "click", 1.0),
    Event(2L, ts("10:50"), 1L, "click", 2.0),
    Event(3L, ts("10:20"), 2L, "view", 5.0),
    Event(4L, ts("11:10"), 1L, "click", 3.0),
    Event(5L, ts("13:00"), 1L, "view", 4.0)).toDF()

  test("windowedCounts buckets into epoch-aligned tumbling windows") {
    val r = EventPipeline.windowedCounts(batchEvents)
      .orderBy("w_start", "event_type")
      .collect()
      .map(x => (x.getAs[Timestamp]("w_start").toString, x.getAs[String]("event_type"),
        x.getAs[Long]("n"), x.getAs[Double]("sum_value")))
    r shouldBe Array(
      ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 10:00:00.0", "view", 1L, 5.0),
      ("2024-01-01 11:00:00.0", "click", 1L, 3.0),
      ("2024-01-01 13:00:00.0", "view", 1L, 4.0))
  }

  test("ewmaSmoothed matches a driver model; head renormalizes; converges on constants") {
    val series = Seq(
      ("a", 1L, 10.0), ("a", 2L, 20.0), ("a", 3L, 10.0), ("a", 4L, 40.0),
      ("b", 1L, 5.0), ("b", 2L, 5.0), ("b", 3L, 5.0))
      .toDF("k", "t", "v")
    val out = EventPipeline.ewmaSmoothed(series, "k", "t", "v",
        alpha = 0.5, k = 3)
      .orderBy("k", "t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    val ws = EventPipeline.ewmaWeights(0.5, 3) // 0.5, 0.25, 0.125
    def model(vs: Seq[Double]): Double = {
      val pairs = ws.zipWithIndex.flatMap { case (w, j) =>
        vs.lift(vs.length - 1 - j).map(v => (w, v)) }
      pairs.map { case (w, v) => w * v }.sum / pairs.map(_._1).sum
    }
    val byKey = Seq(("a", Seq(10.0, 20.0, 10.0, 40.0)), ("b", Seq(5.0, 5.0, 5.0)))
    for ((k, vs) <- byKey; t <- 1 to vs.length) {
      val got = out.find(x => x._1 == k && x._2 == t).get._3
      got shouldBe model(vs.take(t)) +- 1e-12
    }
    // a constant series smooths to itself at every position (head incl.)
    out.filter(_._1 == "b").map(_._3).foreach(_ shouldBe 5.0 +- 1e-12)
    // the first point of any series is the raw value (weights renormalize)
    out.find(x => x._1 == "a" && x._2 == 1L).get._3 shouldBe 10.0 +- 1e-12
  }

  test("slidingWindowedCounts: every event lands in length/slide overlapping windows") {
    val r = EventPipeline.slidingWindowedCounts(batchEvents, "1 hour", "30 minutes")
      .orderBy("w_start", "event_type").collect()
      .map(x => (x.getAs[java.sql.Timestamp]("w_start").toString,
        x.getAs[String]("event_type"), x.getAs[Long]("n")))
    // total window-memberships = 2x the event count
    r.map(_._3).sum shouldBe batchEvents.count() * 2
    // the 10:05 click is in windows starting 09:30 and 10:00
    r.filter(_._2 == "click").map(_._1) should contain allOf(
      "2024-01-01 09:30:00.0", "2024-01-01 10:00:00.0")
    // window [10:00, 11:00) holds clicks at 10:05 and 10:50
    r.find(x => x._1 == "2024-01-01 10:00:00.0" && x._2 == "click").get._3 shouldBe 2
  }

  test("lastTouchAttribution credits the latest in-window touch, null when organic") {
    val events = Seq(
      Event(1L, ts("10:00"), 1L, "click", 1.0),
      Event(2L, ts("10:20"), 1L, "click", 1.0),    // latest click before conv
      Event(3L, ts("10:30"), 1L, "purchase", 9.0), // -> touch 2, gap 10 min
      Event(4L, ts("12:30"), 1L, "purchase", 9.0), // gap 130 min > 60 -> organic
      Event(5L, ts("09:00"), 2L, "purchase", 9.0), // no touch ever -> organic
      Event(6L, ts("11:00"), 3L, "view", 1.0),
      Event(7L, ts("11:05"), 3L, "purchase", 9.0)  // view is not a touch
    ).toDF()
    val r = EventPipeline.lastTouchAttribution(events, "click", "purchase",
        lookbackMs = 3600 * 1000L)
      .orderBy("conv_id").collect()
      .map(x => (x.getAs[Long]("conv_id"),
        Option(x.getAs[Any]("touch_id")).map(_.asInstanceOf[Long]),
        Option(x.getAs[Any]("gap_ms")).map(_.asInstanceOf[Long])))
    r shouldBe Array(
      (3L, Some(2L), Some(10L * 60 * 1000)),
      (4L, None, None),
      (5L, None, None),
      (7L, None, None))
  }

  test("lastTouchAttribution: same-timestamp ties resolve by event id") {
    val events = Seq(
      Event(10L, ts("10:00"), 1L, "click", 1.0),
      Event(11L, ts("10:00"), 1L, "purchase", 9.0), // click id 10 < 11: counts
      Event(13L, ts("10:30"), 1L, "click", 1.0),    // id AFTER the purchase row
      Event(12L, ts("10:30"), 1L, "purchase", 9.0)  // only sees clicks <= (ts, 12)
    ).toDF()
    val r = EventPipeline.lastTouchAttribution(events, "click", "purchase",
        lookbackMs = 3600 * 1000L)
      .orderBy("conv_id").collect()
      .map(x => (x.getAs[Long]("conv_id"),
        Option(x.getAs[Any]("touch_id")).map(_.asInstanceOf[Long])))
    // conv 11 at 10:00 credits click 10 (same ts, lower id); conv 12 at
    // 10:30 does NOT see click 13 (same ts, higher id) -> falls back to 10
    r shouldBe Array((11L, Some(10L)), (12L, Some(10L)))
  }

  test("sessionizeBatch closes sessions after the inactivity gap") {
    val r = EventPipeline.sessionizeBatch(batchEvents) // 30-min gap
      .orderBy("user_id", "s_start")
      .collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[Timestamp]("s_start").toString,
        x.getAs[Timestamp]("s_end").toString, x.getAs[Long]("n_events"),
        x.getAs[Double]("sum_value")))
    // user 1: 10:05 | gap 45m | 10:50,11:10 | gap 110m | 13:00 -> 3 sessions
    r shouldBe Array(
      (1L, "2024-01-01 10:05:00.0", "2024-01-01 10:05:00.0", 1L, 1.0),
      (1L, "2024-01-01 10:50:00.0", "2024-01-01 11:10:00.0", 2L, 5.0),
      (1L, "2024-01-01 13:00:00.0", "2024-01-01 13:00:00.0", 1L, 4.0),
      (2L, "2024-01-01 10:20:00.0", "2024-01-01 10:20:00.0", 1L, 5.0))
  }

  test("intervalJoin: inclusive bounds, per-key scoping, batch/stream parity") {
    implicit val sql = spark.sqlContext
    def views(df: org.apache.spark.sql.DataFrame) = df
      .filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
    def clicks(df: org.apache.spark.sql.DataFrame) = df
      .filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), $"ts".as("click_ts"))
    val data = Seq(
      Event(1L, ts("10:00"), 1L, "view", 0.0),
      Event(2L, ts("10:00"), 1L, "click", 0.0), // at lower bound (0) -> in
      Event(3L, ts("10:30"), 1L, "click", 0.0), // at upper bound -> in
      Event(4L, ts("10:31"), 1L, "click", 0.0), // past upper -> out
      Event(5L, ts("10:10"), 2L, "click", 0.0), // other user -> out
      Event(6L, ts("12:00"), 2L, "view", 0.0),  // no matching click
      Event(7L, ts("14:00"), 9L, "view", 0.0))  // watermark pusher
    val expect = Set((1L, 1L, 2L), (1L, 1L, 3L))

    val batch = EventPipeline.intervalJoin(
      views(data.toDF()), clicks(data.toDF()), "user_id", "view_ts", "click_ts")
      .select("user_id", "view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    batch shouldBe expect

    // same definition as a watermarked stream-stream join: results match
    // and the planner accepts the interval as the state-eviction range
    val lIn = MemoryStream[Event]; val rIn = MemoryStream[Event]
    val q = EventPipeline.intervalJoin(
      views(lIn.toDF()).withWatermark("view_ts", "10 minutes"),
      clicks(rIn.toDF()).withWatermark("click_ts", "10 minutes"),
      "user_id", "view_ts", "click_ts")
      .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    try {
      // two batches with the matching click arriving after its view
      lIn.addData(data.filter(_.event_type == "view").take(1): _*)
      rIn.addData(data.filter(_.event_type == "click"): _*)
      q.processAllAvailable()
      lIn.addData(data.filter(_.event_type == "view").drop(1): _*)
      q.processAllAvailable()
      val streamed = spark.table("ivj").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"),
          r.getAs[Long]("click_id"))).toSet
      streamed shouldBe expect
    } finally q.stop()
  }

  test("left-outer intervalJoin: unmatched views surface null-padded after the watermark") {
    implicit val sql = spark.sqlContext
    def views(df: org.apache.spark.sql.DataFrame) = df
      .filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
    def clicks(df: org.apache.spark.sql.DataFrame) = df
      .filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), $"ts".as("click_ts"))
    val data = Seq(
      Event(1L, ts("10:00"), 1L, "view", 0.0),   // matched by event 2
      Event(2L, ts("10:10"), 1L, "click", 0.0),
      Event(3L, ts("10:00"), 2L, "view", 0.0))   // never matched
    // batch: both views kept, the unmatched one null-padded
    val batch = EventPipeline.intervalJoin(
      views(data.toDF()), clicks(data.toDF()), "user_id", "view_ts", "click_ts",
      joinType = "left_outer")
      .select($"user_id", $"view_id", $"click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
    batch shouldBe Set((1L, 1L, Some(2L)), (2L, 3L, None))

    // streaming: the null-padded row for view 3 may only be emitted once
    // the click watermark passes view_ts + upper (10:30) — no earlier
    // batch can rule a future match out
    val lIn = MemoryStream[Event]; val rIn = MemoryStream[Event]
    val q = EventPipeline.intervalJoin(
      views(lIn.toDF()).withWatermark("view_ts", "10 minutes"),
      clicks(rIn.toDF()).withWatermark("click_ts", "10 minutes"),
      "user_id", "view_ts", "click_ts", joinType = "left_outer")
      .writeStream.format("memory").queryName("ivjlo").outputMode("append").start()
    try {
      lIn.addData(data.filter(_.event_type == "view"): _*)
      rIn.addData(data.filter(_.event_type == "click"): _*)
      q.processAllAvailable()
      def rows() = spark.table("ivjlo").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"),
          Option(r.get(r.fieldIndex("click_id"))))).toSet
      // watermark still at 10:10 - 10 min: the unmatched view is NOT final
      rows() should not contain ((2L, 3L, None))
      // push both watermarks far past 10:30 + lateness -> null row emits
      lIn.addData(Event(8L, ts("12:00"), 9L, "view", 0.0))
      rIn.addData(Event(9L, ts("12:00"), 9L, "click", 0.0))
      q.processAllAvailable()
      // one more cycle so the new watermark is applied to stored state
      lIn.addData(Event(10L, ts("12:30"), 9L, "view", 0.0))
      rIn.addData(Event(11L, ts("12:30"), 9L, "click", 0.0))
      q.processAllAvailable()
      rows() should contain ((1L, 1L, Some(2L)))
      rows() should contain ((2L, 3L, None))
    } finally q.stop()
  }

  test("funnelLastEpisode: funnel over each user's last activity episode only") {
    // user 1: episode A (10:00 view -> 10:10 click -> 10:20 purchase, full
    // funnel) then a >1h gap, episode B (12:00 view -> 12:05 click, no
    // purchase) — TTL semantics must FORGET episode A: stage 2, not 3.
    // user 2: one episode, click before view -> stage 1.
    // user 3: purchases only -> stage 0 (no view).
    // "other" event types count as activity: user 4's 11:00 'other' event
    // bridges what would otherwise be a >1h gap between 10:30 and 11:55,
    // so the view at 10:30 and click at 11:55 are ONE episode -> stage 2.
    val events = Seq(
      Event(1L, ts("10:00"), 1L, "view", 1.0), Event(2L, ts("10:10"), 1L, "click", 1.0),
      Event(3L, ts("10:20"), 1L, "purchase", 1.0),
      Event(4L, ts("12:00"), 1L, "view", 1.0), Event(5L, ts("12:05"), 1L, "click", 1.0),
      Event(6L, ts("09:50"), 2L, "click", 1.0), Event(7L, ts("10:00"), 2L, "view", 1.0),
      Event(8L, ts("10:00"), 3L, "purchase", 1.0),
      Event(9L, ts("10:30"), 4L, "view", 1.0), Event(10L, ts("11:00"), 4L, "other", 1.0),
      Event(11L, ts("11:55"), 4L, "click", 1.0)).toDF()
    val got = EventPipeline.funnelLastEpisode(events, ttlMs = 3600000L)
      .orderBy("stage").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSeq
    got shouldBe Seq(
      (0L, 1L, None),                                    // user 3
      (1L, 1L, None),                                    // user 2
      (2L, 2L, Some(5 * 60 * 1000L + 85 * 60 * 1000L))) // users 1 (5 min) + 4 (85 min)
  }

  test("anomalyAgainstBaseline: thin and flat slots are skipped, the spike alone scores") {
    def at(day: Int, hhmm: String): Timestamp =
      Timestamp.valueOf(f"2024-01-$day%02d $hhmm:00")
    var id = 0L
    // `k` events of type `t` in hour 10 of `day`
    def hour10(day: Int, t: String, k: Int): Seq[Event] =
      (1 to k).map { m => id += 1; Event(id, at(day, f"10:$m%02d"), id, t, 1.0) }
    // history, per (type, 10 o'clock) slot:
    //   click: 1, 2, 1, 2 events on four days -> mean 1.5, var 0.25
    //   view:  3 events on each of four days  -> zero variance
    //   buy:   1, 3 events on two days        -> fewer than minObs = 3 days
    val clickDays = Seq(1, 2, 1, 2)
    val history = clickDays.zipWithIndex.flatMap { case (k, d) => hour10(d + 1, "click", k) } ++
      (1 to 4).flatMap(d => hour10(d, "view", 3)) ++
      hour10(1, "buy", 1) ++ hour10(2, "buy", 3)
    val baseline = EventPipeline.hourOfDayBaseline(history.toDF())
    // scored: a 5-click spike, a 2-click ordinary hour (|z| = 1), and
    // hours that would score huge |z| in the flat and thin slots
    val scored = (hour10(20, "click", 5) ++ hour10(21, "click", 2) ++
      hour10(20, "view", 9) ++ hour10(20, "buy", 10)).toDF()
    def run(minObs: Int) =
      EventPipeline.anomalyAgainstBaseline(scored, baseline, minZ = 2.0, minObs = minObs)
        .orderBy("event_type").collect()
        .map(r => (r.getString(0), r.getAs[Timestamp]("w_start"), r.getLong(2), r.getDouble(3)))
        .toSeq
    val nObs = clickDays.size.toDouble
    val s = clickDays.sum.toDouble
    val ssq = clickDays.map(k => k * k).sum.toDouble
    val z = (5 - s / nObs) / math.sqrt((ssq - s * s / nObs) / nObs)
    z shouldBe 7.0
    run(minObs = 3) shouldBe Seq(("click", at(20, "10:00"), 5L, z))
    // the buy slot is skipped for its two baseline days alone: admitted
    // at minObs = 2 it scores (10 - 2) / 1 = 8
    run(minObs = 2) shouldBe Seq(("buy", at(20, "10:00"), 10L, 8.0), ("click", at(20, "10:00"), 5L, z))
  }

  // The read-outs below take a rollup, so they read state kept
  // incrementally — each batch aggregated to the rollup's grain and
  // folded in with `Merge.mergeAggState` — exactly as a one-shot
  // groupBy over every batch's events. Each batch list is split so the
  // fold merges keys that more than one batch touches.

  /** Per-batch counts `n` at the grain `keys` (added by `keyed`), folded
    * into one state with `Merge.mergeAggState`. */
  private def mergedCounts(batches: Seq[Seq[Event]], keys: Seq[String])
                          (keyed: DataFrame => DataFrame): DataFrame =
    batches
      .map(b => keyed(b.toDF()).groupBy(keys.map(col): _*).agg(count(lit(1)).as("n")))
      .reduce(Merge.mergeAggState(_, _, keys, Map("n" -> "sum")))

  private def hourly(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))

  private def mergedHourly(batches: Seq[Seq[Event]]): DataFrame =
    mergedCounts(batches, Seq("event_type", "h"))(_.withColumn("h", date_trunc("hour", col("ts"))))

  test("streaming drift monitor: psiFromHistograms over maintained state equals the batch path") {
    // the reference profile the batches drift against
    val refEvents = Seq(Event(100L, ts("09:00"), 1L, "click", 2.0),
      Event(101L, ts("09:01"), 2L, "click", 4.0),
      Event(102L, ts("09:02"), 3L, "click", 6.0))
    def hist(es: Seq[Event]) =
      Histograms.binned(es.toDF(), Seq("event_type"), "value", 0.0, 10.0, 5)
    val refH = hist(refEvents)
    val batches = Seq(
      Seq(Event(1L, ts("10:00"), 1L, "click", 8.0),
        Event(2L, ts("10:01"), 2L, "click", 9.0)),
      Seq(Event(3L, ts("10:02"), 3L, "click", 8.5),
        Event(4L, ts("10:03"), 4L, "click", 1.0)))
    val state = batches.map(hist).reduce(Histograms.mergeState(_, _, Seq("event_type")))
    // drift read off the MERGED state == drift off the one-shot histogram
    val live = Drift.psiFromHistograms(refH, state, Seq("event_type"), 5).head()
    val direct = Drift.psiFromHistograms(refH, hist(batches.flatten),
      Seq("event_type"), 5).head()
    live.getDouble(3) shouldBe direct.getDouble(3)
    live.getLong(2) shouldBe 4L
    live.getDouble(3) should be > 0.1 // the planted shift is visible
  }

  test("rollingZAnomalies over maintained hourly state equals the batch path (a10 twin)") {
    // alternating 1/2-per-hour baseline for 9 hours (nonzero variance,
    // |z| <= 1 everywhere), then a 6-event spike in hour 9; split
    // mid-hour across batches so state merging is exercised
    var id = 0L
    def ev(hhmm: String): Event = { id += 1; Event(id, ts(hhmm), id % 3, "click", 1.0) }
    val batches = Seq(
      (0 to 8).flatMap(i => ev(f"$i%02d:15") +: (if (i % 2 == 0) Seq(ev(f"$i%02d:45")) else Nil)),
      Seq(ev("09:01"), ev("09:10"), ev("09:20")),
      Seq(ev("09:30"), ev("09:40"), ev("09:50")))
    val params = (6, 4, 1.5) // window, minHistory, zThresh — spec-sized
    def score(hourly: DataFrame): Seq[Seq[Any]] =
      EventPipeline.rollingZAnomalies(hourly, params._1, params._2, params._3)
        .orderBy("event_type", "h").collect().map(_.toSeq).toSeq
    val got = score(mergedHourly(batches))
    val direct = score(hourly(batches.flatten.toDF()))
    got shouldBe direct
    got should not be empty // the spike actually scores
  }

  test("retentionGrid over maintained (user, day) state equals the batch path (e15 twin)") {
    var id = 0L
    def at(day: Int, hhmm: String, user: Long): Event = {
      id += 1
      Event(id, Timestamp.valueOf(f"2024-03-${10 + day}%02d $hhmm:00"), user, "click", 1.0)
    }
    // cohort A (users 1,2) starts day 0; user 2 churns after day 1;
    // cohort B (user 3) starts day 1; duplicate same-day activity
    // (user 1 twice on day 0) must not double-count
    val batches = Seq(
      Seq(at(0, "09:00", 1L), at(0, "17:30", 1L), at(0, "10:00", 2L)),
      Seq(at(1, "11:00", 1L), at(1, "12:00", 2L), at(1, "13:00", 3L)),
      Seq(at(2, "09:30", 1L), at(2, "10:30", 3L)))
    def grid(activity: DataFrame): Seq[Seq[Any]] =
      EventPipeline.retentionGrid(activity, maxOffset = 7)
        .orderBy("cohort_day", "day_offset").collect().map(_.toSeq).toSeq
    val got = grid(mergedCounts(batches, Seq("user_id", "d"))(_.withColumn("d", to_date(col("ts")))))
    val direct = grid(batches.flatten.toDF()
      .select(col("user_id"), to_date(col("ts")).as("d")))
    got shouldBe direct
    // spot-check the semantics: cohort 03-10 has 2 users, both active
    // at offset 1, one at offset 2
    val m = got.map(r => (r(0).toString, r(1)) -> (r(2), r(3))).toMap
    m(("2024-03-10", 0L)) shouldBe ((2L, 1.0))
    m(("2024-03-10", 1L)) shouldBe ((2L, 1.0))
    m(("2024-03-10", 2L)) shouldBe ((1L, 0.5))
    m(("2024-03-11", 1L))._1 shouldBe 1L
  }

  test("westernElectric over maintained hourly state equals the batch path (q17 twin)") {
    // 19 alternating 1/2-count baseline hours, then a 12-event spike
    // hour (one outlier among n = 10 caps |z| at (n-1)/sqrt(n) ~ 2.85,
    // so a shorter baseline could never trip the 3-sigma rule); the
    // spike hour is split across two batches so the SPC read exercises
    // merged state, not a single batch
    var id = 0L
    def ev(hhmm: String): Event = { id += 1; Event(id, ts(hhmm), id % 3, "click", 1.0) }
    val batches = Seq(
      (0 to 18).flatMap(i => ev(f"$i%02d:15") +: (if (i % 2 == 0) Seq(ev(f"$i%02d:45")) else Nil)),
      (1 to 6).map(m => ev(f"19:$m%02d")),
      (7 to 12).map(m => ev(f"19:$m%02d")))
    def rules(hourly: DataFrame): Seq[Seq[Any]] =
      TimeSeries.westernElectric(hourly, "event_type", "h", "n")
        .orderBy("event_type").collect().map(_.toSeq).toSeq
    val got = rules(mergedHourly(batches))
    val direct = rules(hourly(batches.flatten.toDF()))
    got shouldBe direct
    got.size shouldBe 1
    // the planted spike must trip the 3-sigma rule on the maintained state
    val r1n = got.head(4).asInstanceOf[Long]
    r1n should be >= 1L
  }

  test("monitoringPanel over maintained hourly state equals the batch path (q18 twin)") {
    // the q17 twin's fixture (19 baseline hours + a split-batch spike),
    // plus a second event type so the panel's per-type legs and the
    // PSI key grid exercise more than one series
    var id = 0L
    def ev(hhmm: String, t: String): Event = { id += 1; Event(id, ts(hhmm), id % 3, t, 1.0) }
    val batches = Seq(
      (0 to 18).flatMap(i =>
        ev(f"$i%02d:15", "click") +: (if (i % 2 == 0) Seq(ev(f"$i%02d:45", "click")) else Nil)),
      (0 to 18).map(i => ev(f"$i%02d:30", "view")),
      (1 to 6).map(m => ev(f"19:$m%02d", "click")),
      (7 to 12).map(m => ev(f"19:$m%02d", "click")))
    // PSI cut mid-series so ref/cur are both populated; tiny bins so
    // the count distribution actually spreads across them
    val cut = to_timestamp(lit("2024-01-01 10:00:00"))
    def panel(hourly: DataFrame): Seq[Seq[Any]] =
      EventPipeline.monitoringPanel(hourly, cut, psiLo = 0.0, psiHi = 15.0, psiBins = 5)
        .orderBy("event_type", "check_name").collect().map(_.toSeq).toSeq
    val got = panel(mergedHourly(batches))
    val direct = panel(hourly(batches.flatten.toDF()))
    got shouldBe direct
    // 2 types x 7 checks
    got.size shouldBe 14
    val byKey = got.map(r => (r(0), r(1)) -> r(2)).toMap
    // the spike hour trips the WE 3-sigma rule on the maintained state
    byKey(("click", "we_r1")).asInstanceOf[Double] should be >= 1.0
    // the steady view series alarms nothing
    byKey(("view", "we_r1")) shouldBe 0.0
    byKey(("view", "z_anomalies")) shouldBe 0.0
    // every check emits exactly once per type
    got.map(r => (r(0), r(1))).distinct.size shouldBe 14
  }
}

// top-level: Spark encoders cannot be generated for classes nested in a
// test suite instance
final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                       event_type: String, value: Double)
