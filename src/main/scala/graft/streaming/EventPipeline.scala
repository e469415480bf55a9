package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Transforms over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props): windowed counts,
  * smoothing, sessionization, attribution, funnels, anomaly scoring and
  * the read-outs over an hourly or daily rollup. All are plain batch
  * DataFrame plans. The read-outs take the rollup as their input, so a
  * one-shot `groupBy` and state kept incrementally with
  * [[graft.ops.Merge.mergeAggState]] read identically. [[intervalJoin]]
  * alone also states its stream-stream contract (watermarked inputs
  * bound its join state).
  */
object EventPipeline {

  /** Tumbling-window counts + value stats per event type. Works on batch
    * and streaming frames alike. */
  def windowedCounts(events: DataFrame, windowLength: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** SLIDING-window counts: each event lands in windowLength/slide
    * overlapping windows (Spark's `window(ts, length, slide)` generate —
    * a bounded per-row fan-out, then the same hash aggregate as the
    * tumbling form). The standard smoothed-rate readout; state and
    * output scale by the overlap factor, which the caller picks. Works
    * on batch and streaming frames alike (streaming adds a watermark
    * upstream, the e1 pattern). */
  def slidingWindowedCounts(events: DataFrame, windowLength: String = "1 hour",
                            slide: String = "30 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLength, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** Truncated exponential smoothing (EWMA) over a keyed time series:
    * smoothed_t = Σ_{j<k} w_j · v_{t−j} / Σ_{j<k, v_{t−j} exists} w_j
    * with w_j = α(1−α)^j — the finite-impulse-response form monitoring
    * systems run on rolling aggregates. Truncating at `k` lags (and
    * renormalizing over the lags that exist, so series heads are not
    * biased toward 0) is what makes the recursion DISTRIBUTABLE: the
    * exact infinite recursion needs a sequential scan per key, while k
    * lags are one window operator — all of them share the single key
    * exchange and per-key sort, exactly like w2's rolling frame. With
    * α = 0.3, lag k = 8 carries weight 0.3·0.7⁸ ≈ 1.7% — the truncation
    * error is bounded by (1−α)^k of the signal range.
    *
    * Duplicate timestamps within a key make the lag sequence — and thus
    * the smoothed value — depend on tie order, so pass `tieCol` (a
    * unique/stable id, the lastTouchAttribution (ts, event_id) pattern)
    * whenever `timeCol` is not unique per key; with `tieCol = None` the
    * caller asserts per-key-unique timestamps (true for the w6 hourly
    * rollup, whose key IS the rollup grain). */
  def ewmaSmoothed(series: DataFrame, keyCol: String, timeCol: String,
                   valCol: String, alpha: Double = 0.3, k: Int = 8,
                   outCol: String = "ewma", tieCol: Option[String] = None): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0, 1), got $alpha")
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    val ordering = col(timeCol) +: tieCol.map(col).toSeq
    val w = Window.partitionBy(keyCol).orderBy(ordering: _*)
    val terms = ewmaWeights(alpha, k).zipWithIndex.map { case (wt, j) =>
      val l = lag(col(valCol), j).over(w)
      (when(l.isNotNull, lit(wt)).otherwise(lit(0.0)),
        when(l.isNotNull, l * lit(wt)).otherwise(lit(0.0)))
    }
    series.withColumn(outCol,
      terms.map(_._2).reduce(_ + _) / terms.map(_._1).reduce(_ + _))
  }

  /** The literal weights `ewmaSmoothed` folds — public so an external
    * replay (the w6 oracle) embeds the IDENTICAL doubles. */
  def ewmaWeights(alpha: Double, k: Int): Seq[Double] =
    (0 until k).map(j => alpha * math.pow(1 - alpha, j))

  /** Per-(event_type, hour-of-day) baseline profile from historical
    * events: for each slot, the day-sample count / sum / sum-of-squares
    * of hourly event counts. EXACT integer moments — any engine derives
    * the identical mean/variance from them, which is what lets the
    * scoring threshold below never flake across engines (the a10
    * discipline). Two map-side-combinable aggregations; output
    * cardinality = |event types| × 24, broadcastable forever. */
  def hourOfDayBaseline(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("d"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type", "hod")
      .agg(count(lit(1)).as("n_obs"), sum("n").as("s"),
        sum(col("n") * col("n")).as("ssq"))

  /** Anomaly detection against a baseline profile: hourly windowed
    * counts per event type, joined to [[hourOfDayBaseline]]'s
    * (event_type, hour-of-day) moments, scored
    * `z = (n − mean) / sqrt(var)`, and filtered to `|z| ≥ minZ`. The
    * baseline joins broadcast after the aggregation, so scoring costs
    * one join against |event types| × 24 rows. Slots with fewer than
    * `minObs` baseline days are skipped (scoring against no history is
    * noise, not detection); zero-variance slots likewise. */
  def anomalyAgainstBaseline(events: DataFrame, baseline: DataFrame,
                             windowLength: String = "1 hour",
                             minZ: Double = 2.0, minObs: Int = 10): DataFrame =
    events
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"))
      .withColumn("hod", hour(col("w_start")))
      .join(broadcast(baseline), Seq("event_type", "hod"))
      .filter(col("n_obs") >= minObs)
      .withColumn("vr",
        (col("ssq").cast("double") - col("s").cast("double") * col("s") / col("n_obs")) / col("n_obs"))
      .filter(col("vr") > 0)
      .withColumn("z",
        (col("n").cast("double") - col("s").cast("double") / col("n_obs")) / sqrt(col("vr")))
      .filter(abs(col("z")) >= minZ)
      .select(col("event_type"), col("w_start"), col("n"), col("z"))

  /** Rolling z-score anomaly detection over an hourly rollup
    * (event_type, h, n) — the a10 batch query's scoring step, factored
    * out so the SAME derivation reads either a one-shot `groupBy`
    * rollup or hourly counts merged batch by batch with
    * [[graft.ops.Merge.mergeAggState]] (spec-pinned equal). The trailing
    * mean/var derive from window sums of exact longs, the frame
    * excludes the current row (a spike must not mask itself), and
    * short history (< `minHistory` prior hours) is skipped rather than
    * scored against noise. One window pass over rollup-sized rows —
    * |event types| × hours, never raw events. */
  def rollingZAnomalies(hourly: DataFrame, window: Int = 24,
                        minHistory: Int = 12, zThresh: Double = 2.0): DataFrame = {
    require(window >= minHistory, s"window $window < minHistory $minHistory")
    val w = Window.partitionBy("event_type").orderBy("h").rowsBetween(-window, -1)
    hourly
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("s", sum("n").over(w))
      .withColumn("ssq", sum(col("n") * col("n")).over(w))
      .filter(col("cnt") >= minHistory)
      .withColumn("vr",
        (col("ssq").cast("double") - col("s").cast("double") * col("s") / col("cnt")) / col("cnt"))
      .filter(col("vr") > 0)
      .withColumn("z",
        (col("n").cast("double") - col("s").cast("double") / col("cnt")) / sqrt(col("vr")))
      .filter(abs(col("z")) >= zThresh)
      .select(col("event_type"), col("h"), col("n"), col("z"))
  }

  /** One-call monitoring panel over MAINTAINED hourly count state — the
    * q15 drift-panel pattern applied to the operations dashboard (r14
    * verdict #8): every production health read on one (event_type, h, n)
    * rollup, which arrives either from a one-shot `groupBy` (the q18
    * query) or from hourly counts merged batch by batch with
    * [[graft.ops.Merge.mergeAggState]] (spec-pinned equal). Legs, each the
    * already-verified operator:
    *
    *   - `we_r1..we_r4`: [[graft.ops.TimeSeries.westernElectric]] rule
    *     hit counts per series (the q17 read),
    *   - `z_anomalies` / `z_max_abs`: [[rollingZAnomalies]] scored with
    *     zThresh 0 (every hour with enough history), folded to the
    *     count of |z| ≥ 3 hours and the max |z| (the a10 read as a
    *     report; a never-scored series reports 0 / null),
    *   - `psi_hourly_counts`: PSI of the hourly-count DISTRIBUTION,
    *     pre-`psiCut` hours as reference vs post-cut as current, over
    *     [[graft.ops.Histograms.binned]] fixed bins (the q5
    *     read-off-state discipline — this leg rescans only the rollup).
    *
    * Output: (event_type, check_name, value) — |types| × 7 report rows.
    * Scale shape: the WE and z legs are one partitioned window pass
    * each over rollup-sized rows; the PSI leg two census aggregates;
    * nothing touches raw events. */
  def monitoringPanel(hourly: DataFrame, psiCut: Column,
                      psiLo: Double = 0.0, psiHi: Double = 60.0,
                      psiBins: Int = 12): DataFrame = {
    val we = graft.ops.TimeSeries.westernElectric(hourly, "event_type", "h", "n")
    val weLong = we.select(col("event_type"),
        explode(map(
          lit("we_r1"), col("r1_n").cast("double"),
          lit("we_r2"), col("r2_n").cast("double"),
          lit("we_r3"), col("r3_n").cast("double"),
          lit("we_r4"), col("r4_n").cast("double"))).as(Seq("check_name", "value")))
    // zThresh 0: every hour with >= minHistory prior hours is scored, so
    // the panel's count/max read the full z series, not a pre-filtered one
    val z = rollingZAnomalies(hourly, zThresh = 0.0)
      .groupBy("event_type")
      .agg(sum(when(abs(col("z")) >= 3.0, 1L).otherwise(0L)).as("__zn"),
        max(abs(col("z"))).as("__zmax"))
    val zLong = we.select(col("event_type")).join(z, Seq("event_type"), "left")
      .select(col("event_type"),
        explode(map(
          lit("z_anomalies"), coalesce(col("__zn"), lit(0L)).cast("double"),
          lit("z_max_abs"), col("__zmax"))).as(Seq("check_name", "value")))
    val refH = graft.ops.Histograms.binned(
      hourly.filter(col("h") < psiCut), Seq("event_type"), "n", psiLo, psiHi, psiBins)
    val curH = graft.ops.Histograms.binned(
      hourly.filter(col("h") >= psiCut), Seq("event_type"), "n", psiLo, psiHi, psiBins)
    val psiLong = graft.ops.Drift.psiFromHistograms(refH, curH, Seq("event_type"), psiBins)
      .select(col("event_type"), lit("psi_hourly_counts").as("check_name"),
        col("psi").as("value"))
    weLong.unionByName(zLong).unionByName(psiLong)
  }

  /** Cohort retention grid over per-(user, day) activity — the e15
    * query's derivation, factored out so the SAME read-out runs over a
    * one-shot `distinct` or over (user_id, d) activity counts merged
    * batch by batch with [[graft.ops.Merge.mergeAggState]] (spec-pinned
    * equal). Cohort = each user's first-seen day (min —
    * mergeable, so maintained state converges to it); retention =
    * distinct active users at each day offset / cohort size. Input
    * needs (user_id, d) columns; extra state columns (counts) are
    * ignored via the leading distinct. Aggregate-grid output:
    * |cohort days| × (maxOffset + 1) rows. */
  def retentionGrid(activity: DataFrame, maxOffset: Int = 7): DataFrame = {
    val act = activity.select(col("user_id"), col("d")).distinct()
    val firstSeen = act.groupBy("user_id").agg(min("d").as("cohort_day"))
    act.join(firstSeen, Seq("user_id"))
      .withColumn("day_offset", datediff(col("d"), col("cohort_day")))
      .filter(col("day_offset") <= maxOffset)
      .groupBy("cohort_day", "day_offset")
      .agg(count_distinct(col("user_id")).as("n_active"))
      .withColumn("n_cohort",
        max(when(col("day_offset") === 0, col("n_active"))).over(
          Window.partitionBy("cohort_day")))
      .select(col("cohort_day"), col("day_offset").cast("long").as("day_offset"),
        col("n_active"),
        (col("n_active").cast("double") / col("n_cohort")).as("retention"))
  }

  /** Batch sessionization (gaps-and-islands), expressed with window
    * functions so it runs on any static DataFrame and is
    * oracle-verifiable in plain SQL. A session closes after `gapMs` of
    * inactivity. Shuffles once on `user_id`; both windows and the final
    * groupBy reuse that partitioning. */
  def sessionizeBatch(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__prev_ms", lag(unix_millis(col("ts")), 1).over(byUser))
      .withColumn("__new", when(col("__prev_ms").isNull ||
        unix_millis(col("ts")) - col("__prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(cum))
      .groupBy(col("user_id"), col("__sid"))
      .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"),
        count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("s_start"), col("s_end"), col("n_events"), col("sum_value"))
  }

  /** Last-touch attribution: every `convType` event is attributed to the
    * same user's most recent `touchType` event at-or-before it, provided
    * the touch is within `lookbackMs` — the standard marketing-funnel
    * credit assignment. Conversions with no in-window touch keep a null
    * `touch_id` (organic conversions stay visible — dropping them would
    * bias any conversion-rate readout).
    *
    * Scale shape: ONE window pass per user — a single hash exchange on
    * user_id and a per-user sort (the sessionizeBatch co-residency
    * contract); the running "latest touch" is a cumulative max of a
    * (millis, event_id) struct, so no self-join, no per-conversion
    * lookback scan, and nothing keyed wider than user_id. Ties at the
    * same timestamp resolve by event-id order on BOTH the window frame
    * and the struct max, so attribution is deterministic. */
  def lastTouchAttribution(events: DataFrame, touchType: String = "click",
                           convType: String = "purchase",
                           lookbackMs: Long = 24 * 3600 * 1000L): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastTouch = max(when(col("event_type") === touchType,
      struct(unix_millis(col("ts")).as("ms"), col("event_id").as("id")))).over(w)
    val inWindow = col("__lt").isNotNull &&
      unix_millis(col("ts")) - col("__lt.ms") <= lookbackMs
    events
      .withColumn("__lt", lastTouch)
      .filter(col("event_type") === convType)
      .select(col("user_id"), col("event_id").as("conv_id"),
        unix_millis(col("ts")).as("conv_ms"),
        when(inWindow, col("__lt.id")).as("touch_id"),
        when(inWindow, unix_millis(col("ts")) - col("__lt.ms")).as("gap_ms"))
  }

  /** Event-time interval join: every (l, r) pair sharing `key` where
    * `r[rightTs]` lands in `[l[leftTs] + lowerMs, l[leftTs] + upperMs]`
    * — the impressions-to-attributed-clicks shape. One definition serves
    * both engines:
    *
    *   - Batch: an equi-join on `key` (single hash shuffle per side;
    *     AQE-skew-splittable) with the interval as a join-time filter —
    *     never a cross join.
    *   - Streaming: with BOTH inputs watermarked, the interval bounds
    *     are exactly the event-time range condition Spark's
    *     stream-stream join requires to evict state — a left row is
    *     droppable once the right watermark passes `leftTs + upperMs`,
    *     so state stays bounded by (watermark delay + upperMs), not by
    *     stream length.
    *
    * The bounds are applied as `timestamp + INTERVAL` comparisons, NOT
    * via `unix_micros` arithmetic: the streaming state-cleanup analyzer
    * only recognizes range predicates expressed directly on the
    * watermarked event-time columns. `key` is taken from the left side
    * in the output; all other columns pass through, so the two inputs
    * must not share non-key column names (alias before joining).
    *
    * `joinType` extends the shape to `left_outer` — the attribution
    * report that KEEPS unmatched left rows (an impression with no click
    * in its window) null-padded. In streaming, Spark emits the
    * null-padded row exactly once the right watermark passes
    * `leftTs + upperMs` (only then is "no match" final), so outer
    * results trail the watermark rather than appearing immediately —
    * same state bound as the inner join. Batch evaluates the same plan
    * eagerly. `right_outer`/`full_outer` follow the same rules; the
    * output `key` coalesces both sides so it survives either direction.
    *
    * Both key columns are re-aliased (fresh expression ids) BEFORE the
    * join: when the two inputs are filters of the SAME source frame —
    * the views-vs-clicks self-join shape — dataframe-qualified
    * resolution (`left(key) === right(key)` + `drop(right(key))`) is
    * ambiguous, and under an outer join Spark resolved it into a
    * never-matching condition that kept the wrong key copy (every row
    * null-padded). The rename makes the plan self-join-proof instead of
    * leaning on the caller to alias. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   lowerMs: Long = 0L, upperMs: Long = 30 * 60 * 1000L,
                   joinType: String = "inner"): DataFrame = {
    require(lowerMs <= upperMs, s"empty interval: [$lowerMs, $upperMs]")
    val l = left.withColumnRenamed(key, "__ij_lkey")
    val r = right.withColumnRenamed(key, "__ij_rkey")
    val cond = col("__ij_lkey") === col("__ij_rkey") &&
      col(rightTs) >= col(leftTs) + expr(s"INTERVAL $lowerMs MILLISECOND") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $upperMs MILLISECOND")
    l.join(r, cond, joinType)
      .withColumn(key, coalesce(col("__ij_lkey"), col("__ij_rkey")))
      .drop("__ij_lkey", "__ij_rkey")
  }

  /** Strict first-occurrence funnel with an inactivity TTL: the funnel
    * over each user's LAST activity episode only (gaps-and-islands:
    * episodes split where the gap from the previous event exceeds
    * `ttlMs`, so an idle user's funnel re-opens from zero). ALL event
    * types count as activity, while the funnel mins only consider
    * view/click/purchase. Oracle-expressible in plain SQL.
    *
    * Scale shape: one shuffle on `user_id`; the lag/cumsum/max windows and
    * the final groupBy all reuse that single hash partitioning (no
    * re-exchange — the sessionizeBatch argument), and nothing is keyed
    * wider than user_id. Output is per (user) pre-aggregation collapsed to
    * per (stage), so result size is O(4) regardless of user cardinality. */
  def funnelLastEpisode(events: DataFrame, ttlMs: Long = 60 * 60 * 1000L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("__ms", "event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perUser = events
      .withColumn("__ms", unix_millis(col("ts")))
      .withColumn("__prev", lag(col("__ms"), 1).over(byUser))
      .withColumn("__new", when(col("__prev").isNull ||
        col("__ms") - col("__prev") > ttlMs, 1L).otherwise(0L))
      .withColumn("__eid", sum(col("__new")).over(cum))
      .withColumn("__last", max(col("__eid")).over(Window.partitionBy("user_id")))
      .filter(col("__eid") === col("__last"))
      .groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("__ms"))).as("v_ms"),
        min(when(col("event_type") === "click", col("__ms"))).as("c_ms"),
        min(when(col("event_type") === "purchase", col("__ms"))).as("p_ms"))
    // stage 3 needs the strict view < click < purchase chain, 2 the
    // view < click prefix; a NULL min propagates to a null comparison
    // and falls through
    val conv = col("c_ms") > col("v_ms")
    perUser
      .withColumn("stage",
        when(col("v_ms").isNull, 0L)
          .when(conv && col("p_ms") > col("c_ms"), 3L)
          .when(conv, 2L)
          .otherwise(1L))
      .groupBy("stage").agg(
        count(lit(1)).as("n_users"),
        sum(when(conv, col("c_ms") - col("v_ms"))).as("sum_view_click_ms"))
  }
}
