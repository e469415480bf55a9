package graft.queries

import org.apache.spark.sql.functions._
import graft.Query
import graft.Util
import graft.Util.table
import graft.ops.TimeSeries
import graft.streaming.EventPipeline

/** Event-table transforms (`e*`) over `events`: windows, sessions,
  * as-of, range and interval joins, JSON and VARIANT extraction, funnels,
  * attribution and retention. */
object EventQueries {

  def all: Seq[Query] = Seq(
    Query("e18_markov_transitions", Some(
      // the lag window with the same (ts, event_id) order, bigram
      // census, marginal-window normalization
      ("WITH s AS (SELECT user_id, ts, event_id, event_type FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL), " +
        "l AS (SELECT event_type AS t, lag(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS f FROM s), " +
        "c AS (SELECT f AS from_state, t AS to_state, count(*)::BIGINT AS cnt " +
        "FROM l WHERE f IS NOT NULL GROUP BY 1, 2) " +
        "SELECT from_state, to_state, cnt, round(cnt::DOUBLE / " +
        "sum(cnt) OVER (PARTITION BY from_state) + 5e-10, 6) AS prob " +
        "FROM c ORDER BY from_state, to_state")))((s, dir) =>
      // behavioral baseline: P(next event | current event) per user
      // stream, deterministic under equal timestamps via the event-id
      // tiebreak
      TimeSeries.transitionMatrix(
          table(s, dir, "events"), "user_id", "ts", "event_type", "event_id")
        .select(col("from_state"), col("to_state"), col("cnt"),
          round(col("prob") + lit(5e-10), 6).as("prob"))
        .orderBy("from_state", "to_state")),

    // ---- event-table transforms -----------------------------------------
    Query("e11_stream_anomaly", Some(
      // hourly counts -> hour-of-day baseline moments -> z, in the
      // identical double operation order as the Spark expression
      ("WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "bl AS (SELECT event_type, extract(hour FROM h) AS hod, count(*) AS n_obs, " +
        "sum(n) AS s, sum(n*n) AS ssq FROM hc GROUP BY 1, 2), " +
        "sc AS (SELECT hc.event_type, hc.h, hc.n, bl.n_obs, bl.s, " +
        "(bl.ssq::DOUBLE - bl.s::DOUBLE * bl.s / bl.n_obs) / bl.n_obs AS vr " +
        "FROM hc JOIN bl ON hc.event_type = bl.event_type AND extract(hour FROM hc.h) = bl.hod " +
        "WHERE bl.n_obs >= 10), " +
        "z AS (SELECT event_type, h, n, (n::DOUBLE - s::DOUBLE / n_obs) / sqrt(vr) AS z " +
        "FROM sc WHERE vr > 0) " +
        "SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS w_start, n::BIGINT AS n, " +
        "round(z + 5e-10, 6) AS z FROM z WHERE abs(z) >= 2.0 " +
        "ORDER BY event_type, w_start")))((s, dir) => {
      // anomaly scoring: hourly counts scored against the hour-of-day
      // baseline profile, broadcast after the aggregation; every
      // statistic is exact-integer moments so the |z| cut cannot flake
      val ev = Util.events(s, dir)
      EventPipeline.anomalyAgainstBaseline(ev, EventPipeline.hourOfDayBaseline(ev))
        .select(col("event_type"),
          date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("n"), round(col("z") + lit(5e-10), 6).as("z"))
        .orderBy("event_type", "w_start")
    }),
    Query("e1_windowed_counts", Some(
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start, event_type, " +
        "count(*) AS n, ROUND(sum(value), 6) AS sum_value " +
        "FROM events GROUP BY 1, 2 ORDER BY w_start, event_type")))((s, dir) =>
      EventPipeline.windowedCounts(Util.events(s, dir))
        .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("event_type"), col("n"), round(col("sum_value"), 6).as("sum_value"))
        .orderBy("w_start", "event_type")),
    Query("e2_sessionize", Some(
      ("WITH marked AS (SELECT user_id, ts, event_id, value, " +
        "CASE WHEN lag(ts) OVER w IS NULL " +
        "OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS new_s " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sess AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM marked) " +
        "SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start, " +
        "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS s_end, " +
        "count(*) AS n_events, ROUND(sum(value), 6) AS sum_value " +
        "FROM sess GROUP BY user_id, sid ORDER BY user_id, s_start")))((s, dir) =>
      EventPipeline.sessionizeBatch(Util.events(s, dir))
        .select(col("user_id"),
          date_format(col("s_start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
          date_format(col("s_end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
          col("n_events"), round(col("sum_value"), 6).as("sum_value"))
        .orderBy("user_id", "s_start")),
    Query("e3_asof_join", Some(
      ("WITH clicks AS (SELECT user_id, ts, min(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY user_id, ts), " +
        "errors AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') " +
        "SELECT e.event_id, e.user_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts, " +
        "c.click_id, strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts " +
        "FROM errors e ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND c.ts <= e.ts " +
        "ORDER BY e.event_id")))((s, dir) => {
      // for every error event, the latest click by the same user at or
      // before it (clicks deduped per (user, ts) for a well-defined match)
      val ev = Util.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(min(col("event_id")).as("click_id"))
        .withColumn("click_ts", col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      graft.ops.AsOf.joinAsOf(errors, clicks, "user_id", "ts", Seq("click_id", "click_ts"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("click_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))
        .orderBy("event_id")
    }),
    Query("e4_range_join", Some(
      ("WITH errors AS (SELECT event_id, ts FROM events WHERE event_type = 'error') " +
        "SELECT a.event_id AS id_a, b.event_id AS id_b, epoch_ms(a.ts) AS t_a, epoch_ms(b.ts) AS t_b " +
        "FROM errors a JOIN errors b ON a.event_id < b.event_id " +
        "AND abs(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 60000 " +
        "ORDER BY id_a, id_b")))((s, dir) => {
      // pairs of error events within 60s of each other (banded range
      // join: equi-join on tolerance-width time bands, no cross join)
      val errors = Util.events(s, dir).filter(col("event_type") === "error")
        .select("event_id", "ts")
      graft.ops.RangeJoin.selfPairsWithin(errors, "event_id", "ts", toleranceSec = 60)
        .select(col("id_a"), col("id_b"), col("t_a"), col("t_b"))
        .orderBy("id_a", "id_b")
    }),
    Query("e5_interval_join", Some(
      ("WITH views AS (SELECT user_id, event_id AS view_id, ts AS view_ts " +
        "FROM events WHERE event_type = 'view'), " +
        "clicks AS (SELECT user_id, event_id AS click_id, ts AS click_ts " +
        "FROM events WHERE event_type = 'click') " +
        "SELECT v.user_id, v.view_id, c.click_id, " +
        "strftime(v.view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts, " +
        "strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts " +
        "FROM views v JOIN clicks c ON v.user_id = c.user_id " +
        "AND c.click_ts >= v.view_ts AND c.click_ts <= v.view_ts + INTERVAL 30 MINUTE " +
        "ORDER BY view_id, click_id")))((s, dir) => {
      // clicks within 30 min AFTER a view by the same user — the
      // impression-attribution interval join (batch path of the
      // watermark-evicted stream-stream join)
      val ev = Util.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      EventPipeline.intervalJoin(views, clicks, "user_id", "view_ts", "click_ts")
        .select(col("user_id"), col("view_id"), col("click_id"),
          date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))
        .orderBy("view_id", "click_id")
    }),
    Query("e10_outer_interval_join", Some(
      ("WITH views AS (SELECT user_id, event_id AS view_id, ts AS view_ts " +
        "FROM events WHERE event_type = 'view'), " +
        "clicks AS (SELECT user_id, event_id AS click_id, ts AS click_ts " +
        "FROM events WHERE event_type = 'click'), " +
        "j AS (SELECT v.user_id, v.view_id, " +
        "max(CASE WHEN c.click_id IS NOT NULL THEN 1 ELSE 0 END) AS hit " +
        "FROM views v LEFT JOIN clicks c ON v.user_id = c.user_id " +
        "AND c.click_ts >= v.view_ts AND c.click_ts <= v.view_ts + INTERVAL 30 MINUTE " +
        "GROUP BY v.user_id, v.view_id) " +
        "SELECT user_id, count(*)::BIGINT AS n_views, sum(hit)::BIGINT AS n_attributed, " +
        "ROUND(sum(hit)::DOUBLE / count(*)::DOUBLE, 6) AS attribution_rate " +
        "FROM j GROUP BY user_id HAVING count(*) >= 3 ORDER BY user_id")))((s, dir) => {
      // LEFT-OUTER attribution: every view keeps a row; views with no
      // click in their 30-min window surface null-padded (streaming path
      // emits those exactly when the click watermark passes the window
      // end). Aggregated per user: views, attributed views, attribution
      // rate — the conversion-coverage report.
      val ev = Util.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      EventPipeline.intervalJoin(views, clicks, "user_id", "view_ts", "click_ts",
          joinType = "left_outer")
        .groupBy(col("user_id"), col("view_id"))
        .agg(max(col("click_id").isNotNull.cast("int")).as("__hit"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_views"),
          sum(col("__hit")).cast("long").as("n_attributed"))
        .withColumn("attribution_rate",
          round(col("n_attributed").cast("double") / col("n_views").cast("double"), 6))
        .filter(col("n_views") >= 3)
        .orderBy("user_id")
    }),
    // sum() over INT is HUGEINT in DuckDB -> float64 in pandas -> the
    // driver's strict cell hash diverges from Spark's long even when the
    // values are numerically identical; ::BIGINT restores the match (same
    // cast discipline as c1's sum(n_tok)::BIGINT).
    Query("e7_variant_extract", Some(
      ("SELECT event_type, count(k) AS n, sum(k)::BIGINT AS k_sum, min(k) AS k_min, max(k) AS k_max, " +
        "0::BIGINT AS n_missing " + // $.absent never parses -> all null -> count 0
        "FROM (SELECT event_type, CAST(props->>'$.k' AS INT) AS k FROM events) " +
        "GROUP BY event_type ORDER BY event_type")))((s, dir) => {
      // Spark 4 VARIANT path: parse the JSON ONCE into a variant column,
      // then extract typed fields from the binary-encoded value —
      // the parse-amortized shape for documents with MANY extracted
      // fields (e6 re-parses per extraction API). try_parse_json keeps
      // parity with e6's lenient nulls: a malformed props row becomes a
      // null variant instead of failing the query. try_variant_get on a
      // missing path yields null, counted to pin that semantic.
      val v = Util.events(s, dir)
        .select(col("event_type"), try_parse_json(col("props")).as("v"))
        .select(col("event_type"),
          try_variant_get(col("v"), "$.k", "int").as("k"),
          try_variant_get(col("v"), "$.absent", "int").as("missing"))
      v.groupBy("event_type").agg(
          count(col("k")).as("n"),
          sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"),
          max(col("k")).as("k_max"),
          count(col("missing")).as("n_missing"))
        .orderBy("event_type")
    }),
    Query("e6_json_extract", Some(
      ("SELECT event_type, count(k) AS n, sum(k)::BIGINT AS k_sum, min(k) AS k_min, max(k) AS k_max, " +
        "count(k) AS n_path_agree " + // typed and path extraction agree wherever k parses
        "FROM (SELECT event_type, CAST(props->>'$.k' AS INT) AS k FROM events) " +
        "GROUP BY event_type ORDER BY event_type")))((s, dir) => {
      // semi-structured metadata: typed parse (from_json against a
      // schema, codegen'd Jackson scan) and path extraction
      // (get_json_object) over the JSON props column. Both derivations
      // ride the same projection; n_path_agree = n under the oracle hash
      // proves they agree row-for-row. Scale posture: pure per-row
      // projection before a tiny groupBy — no shuffle of the JSON text.
      val parsed = Util.events(s, dir).select(col("event_type"),
        from_json(col("props"), "k INT", Map.empty[String, String])
          .getField("k").as("k"),
        get_json_object(col("props"), "$.k").cast("int").as("k_path"))
      parsed.groupBy("event_type").agg(
          count(col("k")).as("n"),
          sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"),
          max(col("k")).as("k_max"),
          count(when(col("k") === col("k_path"), 1)).as("n_path_agree"))
        .orderBy("event_type")
    }),

    Query("e17_sliding_window", Some(
      // each event's two window starts via epoch-grid floor arithmetic
      // (Spark's window() aligns to the epoch; 30-min grid): b and
      // b - 30 min; then the same aggregate
      ("WITH e AS (SELECT event_type, value, " +
        "make_timestamp((epoch_ms(ts) // 1800000) * 1800000 * 1000) AS b FROM events), " +
        "u AS (SELECT b AS ws, event_type, value FROM e " +
        "UNION ALL SELECT b - INTERVAL 30 MINUTE, event_type, value FROM e) " +
        "SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w_start, event_type, " +
        "count(*)::BIGINT AS n, round(sum(value) + 5e-10, 6) AS sum_value " +
        "FROM u GROUP BY ws, event_type ORDER BY w_start, event_type")))((s, dir) =>
      // sliding event-time windows (1 h length, 30 min slide): every
      // event lands in exactly 2 overlapping windows — the smoothed-rate
      // readout e1's tumbling form cannot give. One generate + one hash
      // aggregate.
      EventPipeline.slidingWindowedCounts(Util.events(s, dir), "1 hour",
          "30 minutes")
        .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("event_type"), col("n"),
          round(col("sum_value") + lit(5e-10), 6).as("sum_value"))
        .orderBy("w_start", "event_type")),

    Query("e16_attribution", Some(
      // same cumulative struct-max (latest click as (ms, id), ties by
      // id) over the same (ts, event_id) window order; epoch_ms =
      // unix_millis (both floor microseconds)
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms, ts FROM events), " +
        "w AS (SELECT *, max(CASE WHEN event_type = 'click' " +
        "THEN struct_pack(ms := ms, id := event_id) END) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS lt FROM e) " +
        "SELECT user_id, event_id AS conv_id, ms AS conv_ms, " +
        "CASE WHEN lt IS NOT NULL AND ms - lt.ms <= 3600000 THEN lt.id END AS touch_id, " +
        "CASE WHEN lt IS NOT NULL AND ms - lt.ms <= 3600000 THEN ms - lt.ms END AS gap_ms " +
        "FROM w WHERE event_type = 'purchase' ORDER BY conv_id")))((s, dir) =>
      // last-touch attribution, 1-hour lookback: each purchase credits
      // the user's latest click at-or-before it (ties by event id);
      // organic purchases keep null touch columns. One window pass.
      EventPipeline.lastTouchAttribution(Util.events(s, dir),
          "click", "purchase", 3600 * 1000L)
        .orderBy("conv_id")),

    // epoch_ms = Spark's unix_millis (both floor microseconds to ms);
    // the mean divides the same exact (sum_ms, n) integers in both
    // engines, so the rounded double matches bit-for-bit.
    Query("e8_funnel", Some(
      ("WITH pu AS (SELECT user_id, " +
        "min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS v_ms, " +
        "min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS c_ms, " +
        "min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS p_ms " +
        "FROM events GROUP BY user_id) " +
        "SELECT count(*)::BIGINT AS n_users, count(v_ms)::BIGINT AS n_view, " +
        "count(CASE WHEN c_ms > v_ms THEN 1 END)::BIGINT AS n_view_click, " +
        "count(CASE WHEN c_ms > v_ms AND p_ms > c_ms THEN 1 END)::BIGINT AS n_full_funnel, " +
        "sum(CASE WHEN c_ms > v_ms THEN c_ms - v_ms END)::BIGINT AS sum_view_click_ms, " +
        "ROUND(sum(CASE WHEN c_ms > v_ms THEN c_ms - v_ms END)::DOUBLE " +
        "/ count(CASE WHEN c_ms > v_ms THEN 1 END)::DOUBLE / 1000.0, 6) AS mean_view_to_click_sec " +
        "FROM pu")))((s, dir) => {
      // strict first-occurrence conversion funnel view -> click ->
      // purchase: ONE map-side-combinable aggregation per user
      // (conditional mins over the millisecond epoch), then a single-row
      // rollup — no self-join, no window, nothing keyed wider than
      // user_id, so the shape survives any user cardinality. The mean
      // latency is derived from the EXACT integer (sum_ms, n) pair both
      // engines agree on, so the double division is bit-identical.
      val ev = Util.events(s, dir)
      def firstMs(t: String) =
        min(when(col("event_type") === t, unix_millis(col("ts"))))
      val perUser = ev.groupBy("user_id").agg(
        firstMs("view").as("v_ms"),
        firstMs("click").as("c_ms"),
        firstMs("purchase").as("p_ms"))
      val conv = col("c_ms") > col("v_ms")
      perUser.agg(
          count(lit(1)).as("n_users"),
          count(col("v_ms")).as("n_view"),
          count(when(conv, 1)).as("n_view_click"),
          count(when(conv && col("p_ms") > col("c_ms"), 1)).as("n_full_funnel"),
          sum(when(conv, col("c_ms") - col("v_ms"))).as("sum_view_click_ms"),
          round(sum(when(conv, col("c_ms") - col("v_ms"))).cast("double") /
            count(when(conv, 1)).cast("double") / 1000.0, 6)
            .as("mean_view_to_click_sec"))
    }),
    Query("e9_funnel_ttl", Some(
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events), " +
        "l AS (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM e), " +
        "ep AS (SELECT *, sum(CASE WHEN prev IS NULL OR ms - prev > 3600000 THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS eid FROM l), " +
        "last AS (SELECT *, max(eid) OVER (PARTITION BY user_id) AS maxeid FROM ep), " +
        "pu AS (SELECT user_id, " +
        "min(CASE WHEN event_type = 'view' THEN ms END) AS v_ms, " +
        "min(CASE WHEN event_type = 'click' THEN ms END) AS c_ms, " +
        "min(CASE WHEN event_type = 'purchase' THEN ms END) AS p_ms " +
        "FROM last WHERE eid = maxeid GROUP BY user_id), " +
        "st AS (SELECT user_id, v_ms, c_ms, p_ms, " +
        "CASE WHEN v_ms IS NULL THEN 0 " +
        "WHEN c_ms > v_ms AND p_ms > c_ms THEN 3 " +
        "WHEN c_ms > v_ms THEN 2 ELSE 1 END AS stage FROM pu) " +
        "SELECT stage::BIGINT AS stage, count(*)::BIGINT AS n_users, " +
        "sum(CASE WHEN c_ms > v_ms THEN c_ms - v_ms END)::BIGINT AS sum_view_click_ms " +
        "FROM st GROUP BY stage ORDER BY stage")))((s, dir) =>
      // TTL funnel: the per-user funnel after inactivity gaps > 1h
      // re-open it (= funnel over each user's LAST activity episode),
      // collapsed to per-stage counts.
      EventPipeline.funnelLastEpisode(Util.events(s, dir), ttlMs = 3600000L)
        .select(col("stage"), col("n_users"), col("sum_view_click_ms"))
        .orderBy("stage")),

    Query("e15_retention_cohorts", Some(
      ("WITH ev AS (SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS d FROM events), " +
        "fs AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY user_id), " +
        "g AS (SELECT fs.cohort_day, ev.d - fs.cohort_day AS day_offset, " +
        "count(DISTINCT ev.user_id) AS n_active " +
        "FROM ev JOIN fs ON fs.user_id = ev.user_id " +
        "WHERE ev.d - fs.cohort_day <= 7 GROUP BY 1, 2), " +
        "w AS (SELECT *, max(CASE WHEN day_offset = 0 THEN n_active END) " +
        "OVER (PARTITION BY cohort_day) AS n_cohort FROM g) " +
        "SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, " +
        "day_offset::BIGINT AS day_offset, n_active::BIGINT AS n_active, " +
        "round(n_active::DOUBLE / n_cohort + 5e-10, 6) AS retention " +
        "FROM w ORDER BY cohort_day, day_offset")))((s, dir) => {
      // cohort retention grid — the shared retentionGrid read-out
      // (first-seen via mergeable min, activity via distinct
      // (user, day), one user-key join; exact-long rate), which reads
      // (user_id, d) counts merged batch by batch with mergeAggState
      // identically (spec-pinned in EventPipelineSpec).
      // Capped at offsets 0-7 to keep output cardinality fixed.
      val ev = Util.events(s, dir).select(col("user_id"), to_date(col("ts")).as("d"))
      EventPipeline.retentionGrid(ev, maxOffset = 7)
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"), col("n_active"),
          round(col("retention") + lit(5e-10), 6).as("retention"))
        .orderBy("cohort_day", "day_offset")
    }),

    Query("e13_session_window", Some(
      // session_window boundary semantics: a gap of EXACTLY the duration
      // starts a new session (>=, vs e2's strict >), and the session end
      // is last event + gap; microsecond-exact epoch comparison so a
      // boundary-straddling gap cannot decide differently per engine
      ("WITH marked AS (SELECT user_id, ts, event_id, value, " +
        "CASE WHEN lag(ts) OVER w IS NULL " +
        "OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS new_s " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sess AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM marked) " +
        "SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start, " +
        "strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end, " +
        "count(*)::BIGINT AS n_events, ROUND(sum(value) + 5e-10, 6) AS sum_value " +
        "FROM sess GROUP BY user_id, sid ORDER BY user_id, s_start")))((s, dir) =>
      // Spark's NATIVE session_window operator (dynamic-gap session
      // aggregation; e2 covers the gaps-and-islands formulation of the
      // same semantics): sessions merge while the gap is < 30 min, the
      // window end is last event + gap. One user_id+session exchange;
      // works identically on a stream (watermark attaches there).
      Util.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value") + lit(5e-10), 6).as("sum_value"))
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
          date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "s_start")),

    // ---- time-series regularization ------------------------------------
    Query("e19_new_vs_returning", Some(
      // the same presence census, first-seen mins, and day-frame windows
      ("WITH p AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "a AS (SELECT day, count(*)::BIGINT AS active_users FROM p GROUP BY 1), " +
        "f AS (SELECT day, count(*)::BIGINT AS new_users FROM " +
        "(SELECT user_id, min(day) AS day FROM p GROUP BY 1) GROUP BY day), " +
        "j AS (SELECT a.day, active_users, coalesce(new_users, 0)::BIGINT AS new_users " +
        "FROM a LEFT JOIN f ON a.day = f.day) " +
        "SELECT strftime(day, '%Y-%m-%d') AS day, active_users, new_users, " +
        "(active_users - new_users)::BIGINT AS returning_users, " +
        "sum(new_users) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW)::BIGINT AS cumulative_users " +
        "FROM j ORDER BY day")))((s, dir) => {
      // daily audience decomposition: each day's actives split into
      // first-ever-seen ("new") vs returning, plus the running total of
      // distinct users — the cumulative-distinct that has no direct
      // operator. Exact at any scale: first-seen day is ONE map-side-
      // combinable min per user; every window below runs on the
      // ~|days|-row census only, never on events
      val presence = Util.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val active = presence.groupBy("day").agg(count(lit(1)).as("active_users"))
      val firstSeen = presence.groupBy("user_id").agg(min("day").as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      active.join(firstSeen, Seq("day"), "left")
        .select(col("day"), col("active_users"),
          coalesce(col("new_users"), lit(0L)).as("new_users"))
        .withColumn("returning_users", col("active_users") - col("new_users"))
        .withColumn("cumulative_users", sum("new_users").over(w))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("active_users"), col("new_users"), col("returning_users"),
          col("cumulative_users"))
        .orderBy("day")
    }),
    Query("e12_gap_fill", Some(
      // dense hourly grid from per-type min/max via generate_series, left
      // join of the observed hours, forward fill via IGNORE NULLS window
      ("WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, " +
        "count(*) AS n, avg(value) AS av FROM events " +
        "WHERE hour(ts) % 7 <> 3 GROUP BY 1, 2), " +
        "b AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1), " +
        "grid AS (SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b), " +
        "j AS (SELECT g.event_type, g.h, hourly.n, hourly.av FROM grid g " +
        "LEFT JOIN hourly ON hourly.event_type = g.event_type AND hourly.h = g.h) " +
        "SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS h, " +
        "coalesce(n, 0)::BIGINT AS n, round(av + 5e-10, 6) AS avg_value, " +
        "round(last_value(av IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 5e-10, 6) AS ff_value " +
        "FROM j ORDER BY event_type, h")))((s, dir) => {
      // resample events to a dense per-type hourly grid: planted holes
      // (hours 3/10/17 dropped) plus the corpus's natural gaps become
      // explicit rows with n=0 and a forward-filled last-observed value —
      // the shape every downstream window/anomaly consumer needs. The
      // grid explodes from the per-type min/max AGGREGATE (5 rows -> one
      // row per type-hour), never from raw events; the forward-fill
      // window runs over those bounded hourly rows, not the raw scan.
      import org.apache.spark.sql.expressions.Window
      val hourly = Util.events(s, dir)
        .filter(hour(col("ts")) % 7 =!= 3)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
      val grid = hourly.groupBy("event_type")
        .agg(min("h").as("lo"), max("h").as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
      val w = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("event_type", "h"), "left")
        .withColumn("__ff", last(col("avg_value"), ignoreNulls = true).over(w))
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("h"),
          coalesce(col("n"), lit(0L)).as("n"),
          round(col("avg_value") + lit(5e-10), 6).as("avg_value"),
          round(col("__ff") + lit(5e-10), 6).as("ff_value"))
        .orderBy("event_type", "h")
    }),
  )
}
