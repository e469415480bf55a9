package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Query
import graft.Util
import graft.Util.{roundDoubles, table}
import graft.ops.{BloomJoin, Histograms, Merge, TextAnalysis, TimeSeries}
import graft.streaming.EventPipeline
import Shared.{docs, toksOf}

/** Relational operators: joins (`j*`), skew-aware joins and aggregation
  * (`k*`), set operations, upserts and incremental view maintenance
  * (`u*`), and window functions (`w*`), over the TPC-H tables and
  * `events`. */
object RelationalQueries {

  def all: Seq[Query] = Seq(

    // ---- joins / windows / set ops (SURVEY.md §2.5-2.7) ----
    Query("j1_outer_join", Some(
      ("SELECT c.c_mktsegment, count(o.o_custkey) AS n_orders, count(*) AS n_rows, " +
        "ROUND(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS revenue " +
        "FROM customer c FULL OUTER JOIN orders o ON o.o_custkey = c.c_custkey " +
        "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment")))((s, dir) => roundDoubles(
      table(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
        .join(table(s, dir, "orders").select(col("o_custkey"), col("o_totalprice")),
          col("o_custkey") === col("c_custkey"), "full_outer")
        .groupBy("c_mktsegment")
        .agg(count(col("o_custkey")).as("n_orders"),
          count(lit(1)).as("n_rows"),
          // decimal accumulation: a double sum at ~1e10 magnitude carries
          // partition-order-dependent error above the 6-decimal rounding
          // the oracle compare absorbs
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy("c_mktsegment"))),
    Query("w1_window_funcs", Some(
      ("SELECT o_custkey, o_orderkey, rk, ROUND(prev_price + 5e-10, 6) AS prev_price, ROUND(cume + 5e-10, 6) AS cume FROM (" +
        "SELECT o_custkey, o_orderkey, " +
        "rank() OVER w AS rk, lag(o_totalprice, 1) OVER w AS prev_price, " +
        "sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey " +
        "ROWS UNBOUNDED PRECEDING) AS cume " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)) " +
        "WHERE rk <= 3 ORDER BY o_custkey, rk, o_orderkey")))((s, dir) => roundDoubles(
      table(s, dir, "orders")
        .withColumn("rk", rank().over(
          Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(
          Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))))
        .withColumn("cume", sum(col("o_totalprice")).over(
          Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"), col("prev_price"), col("cume"))
        .orderBy("o_custkey", "rk", "o_orderkey"))),
    Query("w2_rolling_frame", Some(
      ("SELECT o_custkey, o_orderkey, ROUND(avg(o_totalprice) OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) + 5e-10, 6) AS roll_avg " +
        "FROM orders QUALIFY o_custkey < 200 ORDER BY o_custkey, o_orderkey")))((s, dir) => roundDoubles(
      // bounded sliding frame (rowsBetween) — complements w1's ranking
      // and running-total frames
      table(s, dir, "orders")
        .withColumn("roll_avg", avg(col("o_totalprice")).over(
          Window.partitionBy("o_custkey").orderBy("o_orderkey")
            .rowsBetween(-2, Window.currentRow)))
        .filter(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"), col("roll_avg"))
        .orderBy("o_custkey", "o_orderkey"))),
    // two-stage salted aggregation must equal the plain GROUP BY
    Query("k1_salted_agg", Some(
      ("SELECT l_returnflag, count(l_quantity) AS l_quantity_n, " +
        "ROUND(sum(l_quantity) + 5e-10, 6) AS l_quantity_sum, ROUND(min(l_quantity) + 5e-10, 6) AS l_quantity_min, " +
        "ROUND(max(l_quantity) + 5e-10, 6) AS l_quantity_max " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")))((s, dir) => roundDoubles(
      graft.ops.Skew.saltedAggregate(
          table(s, dir, "lineitem").select("l_returnflag", "l_quantity"),
          Seq("l_returnflag"), graft.ops.Skew.countSumMinMax("l_quantity"))
        .orderBy("l_returnflag"))),
    Query("w4_rank_family", Some(
      ("SELECT o_custkey, o_orderkey, " +
        "rank() OVER w AS rnk, dense_rank() OVER w AS drnk, " +
        "ROUND(percent_rank() OVER w + 5e-10, 6) AS prnk, " +
        "ROUND(cume_dist() OVER w + 5e-10, 6) AS cdist, " +
        "ntile(4) OVER w AS quartile " +
        "FROM orders WHERE o_custkey < 100 " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) " +
        "ORDER BY o_custkey, o_orderkey")))((s, dir) => {
      // the full SQL-standard rank family over one per-key window:
      // rank/dense_rank carry ties, percent_rank/cume_dist the relative
      // positions, ntile(4) the quartile bucket — all share ONE sort
      // within the single key exchange
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      table(s, dir, "orders").filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          round(percent_rank().over(w) + lit(5e-10), 6).as("prnk"),
          round(cume_dist().over(w) + lit(5e-10), 6).as("cdist"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("o_custkey", "o_orderkey")
    }),
    Query("w5_value_family", Some(
      ("SELECT o_custkey, o_orderkey, " +
        "round(lead(o_totalprice, 1) OVER wk + 5e-10, 6) AS next_price, " +
        "round(first_value(o_totalprice) OVER wk + 5e-10, 6) AS first_price, " +
        "round(nth_value(o_totalprice, 2) OVER wk + 5e-10, 6) AS second_price, " +
        "round(last_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) + 5e-10, 6) AS last_price, " +
        "count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice " +
        "RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)::BIGINT AS n_within_1000 " +
        "FROM orders WHERE o_custkey < 150 " +
        "WINDOW wk AS (PARTITION BY o_custkey ORDER BY o_orderkey) " +
        "ORDER BY o_custkey, o_orderkey")))((s, dir) => {
      // the VALUE window-function family over one shared key exchange:
      // lead, first_value, nth_value (default growing frame), last_value
      // (full frame), plus a RANGE frame (price +/- 1000 — the only
      // frame kind w1/w2/w4 don't cover). o_orderkey is unique per
      // partition, so every function is order-deterministic.
      val byKey = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      val full = byKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val byPrice = Window.partitionBy("o_custkey").orderBy("o_totalprice")
        .rangeBetween(-1000, 0)
      table(s, dir, "orders").filter(col("o_custkey") < 150)
        .select(col("o_custkey"), col("o_orderkey"),
          round(lead(col("o_totalprice"), 1).over(byKey) + lit(5e-10), 6).as("next_price"),
          round(first(col("o_totalprice")).over(byKey) + lit(5e-10), 6).as("first_price"),
          round(nth_value(col("o_totalprice"), 2).over(byKey) + lit(5e-10), 6).as("second_price"),
          round(last(col("o_totalprice")).over(full) + lit(5e-10), 6).as("last_price"),
          count(lit(1)).over(byPrice).as("n_within_1000"))
        .orderBy("o_custkey", "o_orderkey")
    }),
    Query("w7_unpivot", Some(
      // the melt written longhand: one stat row per flag per metric
      ("WITH s AS (SELECT l_returnflag, sum(l_quantity)::DOUBLE AS sum_qty, " +
        "sum(l_extendedprice)::DOUBLE AS sum_price, " +
        "sum(l_discount)::DOUBLE / count(*) AS avg_disc " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT l_returnflag, metric, round(value + 5e-10, 6) AS value FROM (" +
        "SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM s " +
        "UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM s " +
        "UNION ALL SELECT l_returnflag, 'avg_disc', avg_disc FROM s) " +
        "ORDER BY l_returnflag, metric")))((s, dir) =>
      // melt a wide per-flag stat frame to long form with the native
      // unpivot operator (Expand, zero shuffle beyond the aggregate)
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        // decimal sums stay exact through the shuffle; cast once after
        .agg(sum(col("l_quantity")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice")).cast("double").as("sum_price"),
          (sum(col("l_discount")).cast("double") / count(lit(1))).as("avg_disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("avg_disc")),
          "metric", "value")
        .select(col("l_returnflag"), col("metric"),
          round(col("value") + lit(5e-10), 6).as("value"))
        .orderBy("l_returnflag", "metric")),
    Query("w8_period_over_period", Some(
      ("WITH rev AS (SELECT c_mktsegment, year(o_orderdate)::BIGINT AS yr, " +
        "sum(o_totalprice) AS rev FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY 1, 2) " +
        "SELECT c_mktsegment, yr, round(rev::DOUBLE + 5e-10, 6) AS revenue, " +
        "round((rev::DOUBLE - prev::DOUBLE) / prev::DOUBLE + 5e-10, 6) AS yoy FROM (" +
        "SELECT c_mktsegment, yr, rev, lag(rev, 1) OVER " +
        "(PARTITION BY c_mktsegment ORDER BY yr) AS prev FROM rev) " +
        "ORDER BY c_mktsegment, yr")))((s, dir) => {
      // year-over-year revenue growth per market segment: exact decimal
      // yearly sums, one lag window over the tiny (segment, year) census
      val o = table(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).cast("long").as("yr"))
      val c = table(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val rev = o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"), col("yr"))
        .agg(sum(col("o_totalprice")).as("rev"))
      val w = Window.partitionBy("c_mktsegment").orderBy("yr")
      rev.withColumn("prev", lag(col("rev"), 1).over(w))
        .select(col("c_mktsegment"), col("yr"),
          round(col("rev").cast("double") + lit(5e-10), 6).as("revenue"),
          round((col("rev").cast("double") - col("prev").cast("double")) /
            col("prev").cast("double") + lit(5e-10), 6).as("yoy"))
        .orderBy("c_mktsegment", "yr")
    }),
    Query("u1_set_ops", Some(
      ("WITH hi AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 100000), " +
        "urgent AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') " +
        "SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM hi INTERSECT SELECT * FROM urgent) " +
        "UNION ALL SELECT o_custkey, 'hi_only' AS tag FROM (SELECT * FROM hi EXCEPT SELECT * FROM urgent) " +
        "ORDER BY tag, o_custkey")))((s, dir) => {
      val o = table(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 100000).select(col("o_custkey"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      hi.intersect(urgent).withColumn("tag", lit("both"))
        .unionByName(hi.except(urgent).withColumn("tag", lit("hi_only")))
        .orderBy("tag", "o_custkey")
    }),
    Query("u4_bag_set_ops", Some(
      ("WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 100000), " +
        "urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') " +
        "SELECT o_custkey, tag, count(*)::BIGINT AS n FROM (" +
        "SELECT o_custkey, 'both_all' AS tag FROM (SELECT * FROM hi INTERSECT ALL SELECT * FROM urgent) " +
        "UNION ALL " +
        "SELECT o_custkey, 'hi_only_all' AS tag FROM (SELECT * FROM hi EXCEPT ALL SELECT * FROM urgent)) " +
        "GROUP BY o_custkey, tag ORDER BY tag, o_custkey")))((s, dir) => {
      // BAG semantics (intersectAll/exceptAll keep multiplicities —
      // min(l,r) and l-r copies respectively, vs u1's set semantics);
      // the counted rollup makes the multiset deterministic output
      val o = table(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 100000).select(col("o_custkey"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      hi.intersectAll(urgent).withColumn("tag", lit("both_all"))
        .unionByName(hi.exceptAll(urgent).withColumn("tag", lit("hi_only_all")))
        .groupBy("o_custkey", "tag").agg(count(lit(1)).as("n"))
        .orderBy("tag", "o_custkey")
    }),
    Query("w13_changepoint", Some(
      // the daily census, both prefix windows, the identical score
      // expression, argmax via row_number with the earliest-day tie
      ("WITH d AS (SELECT event_type, " +
        "date_diff('day', DATE '1970-01-01', ts::DATE)::DOUBLE AS day, " +
        "count(*)::DOUBLE AS y FROM events " +
        "WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "w AS (SELECT event_type, day, y, " +
        "count(*) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl, " +
        "sum(y) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl, " +
        "count(*) OVER (PARTITION BY event_type) AS n, " +
        "sum(y) OVER (PARTITION BY event_type) AS s FROM d), " +
        "sc AS (SELECT event_type, day, n, sl / nl AS ml, (s - sl) / (n - nl) AS mr, " +
        "abs(sl / nl - (s - sl) / (n - nl)) * sqrt(nl::DOUBLE * (n - nl) / n) AS stat " +
        "FROM w WHERE nl < n), " +
        "b AS (SELECT *, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY stat DESC, day) AS rn FROM sc) " +
        "SELECT event_type, CAST(n AS BIGINT) AS n_points, CAST(day AS BIGINT) AS split_x, " +
        "round(ml + 5e-10, 6) AS mean_left, round(mr + 5e-10, 6) AS mean_right, " +
        "round(stat + 5e-10, 6) AS stat FROM b WHERE rn = 1 ORDER BY event_type")))((s, dir) => {
      // WHERE did the daily traffic shift: binary segmentation (depth
      // 1) over the w9 daily census — prefix windows over census rows,
      // the normalized mean-shift score, argmax with earliest-x ties
      val daily = table(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
        .agg(count(lit(1)).cast("double").as("n_events"))
      TimeSeries.changePoint(daily, "event_type", "day", "n_events")
        .select(col("event_type"), col("n_points"),
          col("split_x").cast("long").as("split_x"),
          round(col("mean_left") + lit(5e-10), 6).as("mean_left"),
          round(col("mean_right") + lit(5e-10), 6).as("mean_right"),
          round(col("stat") + lit(5e-10), 6).as("stat"))
        .orderBy("event_type")
    }),
    Query("w11_seasonal_strength", Some(
      // the q8 decomposition CTEs, then the six power sums and the
      // same variance-ratio algebra per key
      ("WITH hourly AS (SELECT event_type AS k, date_trunc('hour', ts) AS h, " +
        "count(*)::DOUBLE AS x FROM events GROUP BY 1, 2), " +
        "b AS (SELECT k, h, x, (row_number() OVER w - 1) % 24 AS phase, " +
        "count(*) OVER wf AS cnt, sum(x) OVER wf AS sm, " +
        "lag(x, 12) OVER w AS xl, lead(x, 12) OVER w AS xr FROM hourly " +
        "WINDOW w AS (PARTITION BY k ORDER BY h), " +
        "wf AS (PARTITION BY k ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)), " +
        "t AS (SELECT k, h, x, phase, " +
        "CASE WHEN cnt = 25 THEN (sm - (xl + xr) / 2.0) / 24.0 END AS trend FROM b), " +
        "d AS (SELECT k, h, x, phase, trend, x - trend AS dd FROM t), " +
        "pm AS (SELECT k, phase, avg(dd) AS pm FROM d GROUP BY 1, 2), " +
        "sea AS (SELECT k, phase, pm - avg(pm) OVER (PARTITION BY k) AS seasonal FROM pm), " +
        "j AS (SELECT d.k, d.x - d.trend - sea.seasonal AS r, sea.seasonal AS s, d.trend AS tr " +
        "FROM d JOIN sea ON d.k = sea.k AND d.phase = sea.phase WHERE d.trend IS NOT NULL), " +
        "g AS (SELECT k, count(*)::BIGINT AS n, sum(r) AS s1, sum(r * r) AS s2, " +
        "sum(s + r) AS s3, sum((s + r) * (s + r)) AS s4, " +
        "sum(tr + r) AS s5, sum((tr + r) * (tr + r)) AS s6 FROM j GROUP BY k) " +
        "SELECT k AS event_type, n, " +
        "round(CASE WHEN n >= 2 AND (s4 - s3 * s3 / n::DOUBLE) / (n::DOUBLE - 1.0) > 0 " +
        "THEN greatest(0.0, 1.0 - ((s2 - s1 * s1 / n::DOUBLE) / (n::DOUBLE - 1.0)) / " +
        "((s4 - s3 * s3 / n::DOUBLE) / (n::DOUBLE - 1.0))) END + 5e-10, 6) AS f_seasonal, " +
        "round(CASE WHEN n >= 2 AND (s6 - s5 * s5 / n::DOUBLE) / (n::DOUBLE - 1.0) > 0 " +
        "THEN greatest(0.0, 1.0 - ((s2 - s1 * s1 / n::DOUBLE) / (n::DOUBLE - 1.0)) / " +
        "((s6 - s5 * s5 / n::DOUBLE) / (n::DOUBLE - 1.0))) END + 5e-10, 6) AS f_trend " +
        "FROM g ORDER BY event_type")))((s, dir) => {
      // is hourly traffic genuinely seasonal? Hyndman F-statistics off
      // the q8 decomposition — six power sums per type, census algebra
      val hourly = table(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).cast("double").as("x"))
      TimeSeries.seasonalStrength(
          TimeSeries.decompose(hourly, "event_type", "h", "x", period = 24),
          "event_type")
        .select(col("event_type"), col("n"),
          round(col("f_seasonal") + lit(5e-10), 6).as("f_seasonal"),
          round(col("f_trend") + lit(5e-10), 6).as("f_trend"))
        .orderBy("event_type")
    }),
    Query("w10_rolling_median", Some(
      // the same daily census with a framed quantile_cont window
      ("WITH d AS (SELECT event_type, " +
        "date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS day, " +
        "count(*)::DOUBLE AS y FROM events " +
        "WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2) " +
        "SELECT event_type, day, y::BIGINT AS n_events, " +
        "round(quantile_cont(y, 0.5) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) + 5e-10, 6) AS med7 " +
        "FROM d ORDER BY event_type, day")))((s, dir) => {
      // 7-day rolling median of daily traffic per type: the robust
      // anomaly baseline; the window orders the 30-row daily CENSUS
      // per type, never events
      val daily = table(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
        .agg(count(lit(1)).cast("double").as("n_events"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
      daily.withColumn("med7", expr("percentile(n_events, 0.5)").over(w))
        .select(col("event_type"), col("day"),
          col("n_events").cast("long").as("n_events"),
          round(col("med7") + lit(5e-10), 6).as("med7"))
        .orderBy("event_type", "day")
    }),
    Query("w9_theil_sen", Some(
      // the daily census, the pairwise-slope join, and quantile_cont
      // (DuckDB's interpolated median == Spark's exact percentile)
      ("WITH d AS (SELECT event_type, " +
        "date_diff('day', DATE '1970-01-01', ts::DATE)::DOUBLE AS day, " +
        "count(*)::DOUBLE AS y FROM events " +
        "WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "p AS (SELECT a.event_type, (b.y - a.y) / (b.day - a.day) AS slope " +
        "FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day), " +
        "m AS (SELECT event_type, count(*)::BIGINT AS n_pairs, " +
        "quantile_cont(slope, 0.5) AS sen_slope FROM p GROUP BY 1), " +
        "c AS (SELECT event_type, count(*)::BIGINT AS n_points FROM d GROUP BY 1) " +
        "SELECT m.event_type, n_points, n_pairs, " +
        "round(sen_slope + 5e-10, 6) AS sen_slope " +
        "FROM m JOIN c USING (event_type) ORDER BY event_type")))((s, dir) => {
      // robust daily-traffic trend per event type: median of all
      // pairwise slopes over the 30-point daily census — quadratic in
      // CENSUS points (435 pairs/key), never in events
      val daily = table(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
        .agg(count(lit(1)).cast("double").as("n_events"))
      TimeSeries.theilSen(daily, "event_type", "day", "n_events")
        .select(col("event_type"), col("n_points"), col("n_pairs"),
          round(col("sen_slope") + lit(5e-10), 6).as("sen_slope"))
        .orderBy("event_type")
    }),
    Query("u10_incremental_join_view", Some(
      // the full recomputed join: appending the three-term delta to
      // the materialized base view must equal it exactly
      ("SELECT c_mktsegment, count(*)::BIGINT AS n, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price, " +
        "max(o_orderkey) AS max_key " +
        "FROM orders JOIN customer ON c_custkey = o_custkey " +
        "GROUP BY 1 ORDER BY 1")))((s, dir) => {
      // incremental JOIN view maintenance over a materialized table:
      // V = base orders x base customers lands as a VersionedTable,
      // the delta dAxB U AxdB U dAxdB APPENDS (V itself never
      // recomputed), and the re-read view must aggregate to the full
      // recomputed join — the IVM algebra, the append accumulation,
      // and the manifest round-trip all under one hash
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val t = new org.apache.hadoop.fs.Path(wh, "graft_ivm_view").toString
      val fs0 = new org.apache.hadoop.fs.Path(t).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs0.delete(new org.apache.hadoop.fs.Path(t), true)
      val o = table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      val c = table(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      val oBase = o.filter(col("o_orderkey") % 3 =!= 0)
      val oDelta = o.filter(col("o_orderkey") % 3 === 0)
      val cBase = c.filter(col("o_custkey") % 2 === 0)
      val cDelta = c.filter(col("o_custkey") % 2 =!= 0)
      graft.sources.VersionedTable.commit(oBase.join(cBase, Seq("o_custkey")), t)
      graft.sources.VersionedTable.commit(
        graft.ops.Merge.incrementalJoinDelta(oBase, oDelta, cBase, cDelta,
          Seq("o_custkey")), t)
      graft.sources.VersionedTable.read(s, t)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("sum_price"),
          max("o_orderkey").as("max_key"))
        .orderBy("c_mktsegment")
    }),
    Query("w12_mann_kendall", Some(
      // w9's daily census; S via the signed pair join (exact integer),
      // ties via the (key, y) census, Var and Z replayed as the same
      // single double expressions
      ("WITH d AS (SELECT event_type, " +
        "date_diff('day', DATE '1970-01-01', ts::DATE)::DOUBLE AS day, " +
        "count(*)::DOUBLE AS y FROM events " +
        "WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "s AS (SELECT a.event_type, CAST(sum(CASE WHEN b.y > a.y THEN 1 " +
        "WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat " +
        "FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day GROUP BY 1), " +
        "tg AS (SELECT event_type, y, count(*)::BIGINT AS t FROM d GROUP BY 1, 2), " +
        "ti AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n_points, " +
        "CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tiek FROM tg GROUP BY 1), " +
        "v AS (SELECT ti.event_type, n_points, coalesce(s.s_stat, 0) AS s_stat, " +
        "(n_points * (n_points - 1) * (2 * n_points + 5) - tiek) / 18.0 AS var_s " +
        "FROM ti LEFT JOIN s USING (event_type)) " +
        "SELECT event_type, n_points, s_stat, round(var_s + 5e-10, 6) AS var_s, " +
        "round(CASE WHEN n_points >= 2 AND var_s > 0 THEN " +
        "(s_stat - sign(s_stat)) / sqrt(var_s) END + 5e-10, 6) AS z " +
        "FROM v ORDER BY event_type")))((s, dir) => {
      // distribution-free monotone-trend test on w9's daily census —
      // S folds as an exact long over the 435-pair tiny cross, the tie
      // correction off a second census aggregate; only Var's /18 and
      // the continuity-corrected Z are doubles
      val daily = table(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
        .agg(count(lit(1)).cast("double").as("n_events"))
      TimeSeries.mannKendall(daily, "event_type", "day", "n_events")
        .select(col("event_type"), col("n_points"), col("s_stat"),
          round(col("var_s") + lit(5e-10), 6).as("var_s"),
          round(col("z") + lit(5e-10), 6).as("z"))
        .orderBy("event_type")
    }),
    Query("w6_ewma", Some({
      // identical weight literals (Scala double toString round-trips),
      // identical left-fold order for numerator and denominator, same
      // null-renormalization at series heads
      val lags = graft.streaming.EventPipeline.ewmaWeights(0.3, 8).zipWithIndex
      val num = lags.map { case (wt, j) =>
        s"(CASE WHEN lag(v, $j) OVER w IS NOT NULL THEN lag(v, $j) OVER w * $wt ELSE 0.0 END)"
      }.mkString(" + ")
      val den = lags.map { case (wt, j) =>
        s"(CASE WHEN lag(v, $j) OVER w IS NOT NULL THEN $wt ELSE 0.0 END)"
      }.mkString(" + ")
      "WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, sum(value) AS v " +
        "FROM events GROUP BY 1, 2), " +
        s"e AS (SELECT event_type, h, v, ($num) / ($den) AS ewma FROM hourly " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY h)) " +
        "SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS h, " +
        "round(v + 5e-10, 6) AS v, round(ewma + 5e-10, 6) AS ewma " +
        "FROM e ORDER BY event_type, h"
    }))((s, dir) => {
      // truncated EWMA (α = 0.3, 8 lags, head-renormalized) over each
      // event type's hourly value series — the smoothed-rate signal
      // monitoring reads; all 8 lags share one window operator on the
      // single event_type exchange
      val hourly = Util.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(col("value")).as("v"))
      EventPipeline.ewmaSmoothed(hourly, "event_type", "h", "v")
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("h"),
          round(col("v") + lit(5e-10), 6).as("v"),
          round(col("ewma") + lit(5e-10), 6).as("ewma"))
        .orderBy("event_type", "h")
    }),
    // l_quantity is integer-valued, so the double sum is exact in any
    // accumulation order
    Query("k2_salted_join", Some(
      ("SELECT p_type, count(*)::BIGINT AS n_items, " +
        "ROUND(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_type ORDER BY p_type")))((s, dir) => {
      // plan-level skew-resistant fact-dim join, hot-keys-only flavor:
      // a Misra-Gries sketch over l_partkey surfaces up to 64 heavy
      // candidates, only THOSE fact rows are salted x8 (and only those
      // dim keys replicated) while the skew-free remainder takes the
      // plain join — replication cost is saltFactor * |hotKeys|, not
      // saltFactor * |dim| (the full-replication version measured
      // 13.6 s at 100x bench scale; this one degrades to plain-join
      // cost on uniform keys). Result equals the plain join on any
      // input; SkewSpec pins equivalence, the planted-heavy-key path,
      // and the degrade-to-plain path.
      val li = table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"))
      val p = table(s, dir, "part").select(col("p_partkey"), col("p_type"))
      graft.ops.Skew.hotSaltedJoin(li, p, "l_partkey", "p_partkey", saltFactor = 8)
        .groupBy("p_type")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy("p_type")
    }),
    Query("k4_skew_report", Some(
      // MG with 5 distinct keys <= 64 capacity surfaces every key, so
      // the report equals the exact per-key census; identical
      // cnt/total double division and ceil on both sides
      ("WITH t AS (SELECT count(*)::DOUBLE AS total FROM events), " +
        "c AS (SELECT event_type, count(*)::BIGINT AS cnt FROM events GROUP BY 1) " +
        "SELECT event_type, cnt, round(cnt / total + 5e-10, 6) AS share, " +
        "CAST(ceil(cnt / total * 32) AS BIGINT) AS suggested_salt " +
        "FROM c, t WHERE cnt / total >= 0.01 " +
        "ORDER BY cnt DESC, event_type")))((s, dir) =>
      // skew diagnosis — the planning step before k1/k2's salted ops:
      // MG candidates, exact recount, share + suggested salt per heavy
      // key. event_type has 5 values, all within the 64-key sketch, so
      // the report is EXACT and the oracle replays it with plain SQL.
      graft.ops.Skew.skewReport(Util.events(s, dir), "event_type",
        partitions = 32)),

    Query("k3_bloom_join", Some(
      ("SELECT l_returnflag, count(*)::BIGINT AS n_items, " +
        "ROUND(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")))((s, dir) => {
      // bloom-prefiltered semi join: lineitems of the ~2% of parts with
      // p_size = 1. The distributed bloom build ships only a bitmap to
      // the driver; the codegen'd probe drops ~98% of the fact rows
      // BEFORE the join exchange — the explicit form of AQE's runtime
      // filter, exact because the semi join clears false positives.
      val li = table(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_returnflag"), col("l_quantity"))
      val dim = table(s, dir, "part").filter(col("p_size") === 1).select("p_partkey")
      BloomJoin.bloomSemiJoin(li, dim, "l_partkey", "p_partkey",
          expectedDimKeys = 1000000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    Query("j2_bucketed_join", Some(
      ("SELECT c_mktsegment, count(*)::BIGINT AS n_orders, " +
        "ROUND(sum(o_totalprice), 2) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")))((s, dir) => {
      // bucketed co-located join: both sides materialized bucketed (and
      // per-bucket sorted) by the join key into the session warehouse,
      // then joined — with matching bucket counts SortMergeJoin reads
      // co-located buckets with NO shuffle on either side
      // (BucketedJoinSpec pins the exchange-free plan). The write is part
      // of the query on purpose: at 100 TB the bucketed materialization
      // is the amortized one-time cost that removes the join shuffle
      // from every downstream run against the fact table.
      // a FRESH session's in-memory catalog does not own a leftover
      // warehouse directory from a previous run, and saveAsTable then
      // refuses the location — drop the table AND clear the location so
      // the query is self-healing across driver sessions
      def freshTable(name: String)(write: String => Unit): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $name")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), name)
        loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
        write(name)
      }
      val o = table(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
      val c = table(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      freshTable("graft_bkt_orders")(o.write.format("parquet")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(_))
      freshTable("graft_bkt_customer")(c.write.format("parquet")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(_))
      s.table("graft_bkt_orders")
        .join(s.table("graft_bkt_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("c_mktsegment")
    }),

    Query("w3_topk_per_group", Some(
      ("SELECT o_orderpriority, rank, o_orderkey, ROUND(o_totalprice + 5e-10, 6) AS price " +
        "FROM (SELECT o_orderpriority, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_orderpriority " +
        "ORDER BY o_totalprice DESC, o_orderkey) AS rank FROM orders) " +
        "WHERE rank <= 5 ORDER BY o_orderpriority, rank")))((s, dir) => {
      // top-5 orders by price per priority via the bounded-heap TopK
      // Aggregator: the partial aggregate carries AT MOST 5 rows per
      // (task, group) through the shuffle — the window formulation the
      // oracle uses must shuffle and per-group-sort EVERY row. O(n log k)
      // and memory-bounded vs the window's O(n log n); at 100 TB that is
      // a top-5 query vs a global sort. TopKSpec pins window equality
      // and partition-shape independence.
      val tk = udaf(new graft.functions.TopK(5),
        org.apache.spark.sql.Encoders.product[graft.functions.Scored])
      table(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(tk(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("o_orderkey"),
          round(col("col.score") + lit(5e-10), 6).as("price"))
        .orderBy("o_orderpriority", "rank")
    }),

    // ---- lakehouse mutation: CDC upsert + SCD2 history -----------------
    // MERGE semantics spelled out relationally: latest change per key
    // (row_number desc = Spark's max_by over the same (ts, seq) order),
    // full join against the snapshot, deletes filtered, CASE picks the
    // surviving value. + 5e-10 is the shared roundDoubles nudge.
    Query("u2_upsert", Some(
      ("WITH ch AS (SELECT CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 1000000 " +
        "ELSE o_custkey END AS k, " +
        "CASE WHEN o_orderkey % 10 = 0 THEN 'delete' ELSE 'upsert' END AS op, " +
        "o_orderdate, o_orderkey, o_totalprice FROM orders), " +
        "latest AS (SELECT k, op, o_totalprice FROM " +
        "(SELECT k, op, o_totalprice, row_number() OVER " +
        "(PARTITION BY k ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM ch) WHERE rn = 1) " +
        "SELECT COALESCE(s.c_custkey, l.k) AS c_custkey, " +
        "ROUND((CASE WHEN l.k IS NOT NULL THEN l.o_totalprice ELSE s.c_acctbal END) + 5e-10, 6) AS c_acctbal, " +
        "s.c_mktsegment AS c_mktsegment, " +
        "CASE WHEN l.k IS NULL THEN 'kept' WHEN s.c_custkey IS NULL THEN 'inserted' " +
        "ELSE 'updated' END AS src " +
        "FROM customer s FULL JOIN latest l ON s.c_custkey = l.k " +
        "WHERE l.op IS NULL OR l.op <> 'delete' ORDER BY c_custkey")))((s, dir) => {
      // MERGE INTO shape: orders replayed as a change stream against the
      // customer snapshot — every ~10th change is a delete, every ~97th
      // targets a brand-new key (exercising the insert branch), latest
      // change per key wins by (o_orderdate, o_orderkey). Latest-per-key
      // is one map-side-combinable max_by; one key-hash join applies it.
      val snap = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val ch = table(s, dir, "orders").select(
        when(col("o_orderkey") % 97 === 0, col("o_custkey") + lit(1000000L))
          .otherwise(col("o_custkey")).as("c_custkey"),
        when(col("o_orderkey") % 10 === 0, lit("delete"))
          .otherwise(lit("upsert")).as("op"),
        col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice").as("c_acctbal"))
      graft.Util.roundDoubles(
          Merge.applyChangelog(snap, ch, "c_custkey", "op",
            Seq("o_orderdate", "o_orderkey"), Seq("c_acctbal"), tagCol = Some("src")))
        .orderBy("c_custkey")
    }),
    Query("u3_scd2", Some(
      ("SELECT o_custkey AS c_custkey, row_number() OVER w AS version, " +
        "ROUND(o_totalprice + 5e-10, 6) AS bal, " +
        "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from, " +
        "strftime(lead(o_orderdate) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) " +
        "ORDER BY c_custkey, version")))((s, dir) => {
      // SCD type-2 dimension build from the same change stream: 1-based
      // version per key plus a [valid_from, valid_to) interval, open on
      // the current version. One window = one key-hash exchange.
      val ch = table(s, dir, "orders").select(
        col("o_custkey").as("c_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice").as("bal"))
      graft.Util.roundDoubles(
          Merge.scd2(ch, "c_custkey", "o_orderdate",
            Seq("o_orderdate", "o_orderkey"), Seq("bal")))
        .select(col("c_custkey"), col("version"), col("bal"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"))
        .orderBy("c_custkey", "version")
    }),
    Query("u5_snapshot_diff", Some(
      ("WITH src AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders), " +
        "bf AS (SELECT * FROM src WHERE o_orderkey % 7 <> 0), " +
        "af AS (SELECT o_orderkey, CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1 " +
        "ELSE o_totalprice END AS o_totalprice, o_orderstatus FROM src WHERE o_orderkey % 5 <> 0) " +
        "SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey, " +
        "CASE WHEN b.o_orderkey IS NULL THEN 'added' " +
        "WHEN a.o_orderkey IS NULL THEN 'removed' " +
        "WHEN (b.o_totalprice IS DISTINCT FROM a.o_totalprice) " +
        "OR (b.o_orderstatus IS DISTINCT FROM a.o_orderstatus) THEN 'changed' " +
        "ELSE 'unchanged' END AS diff_class, " +
        "round(b.o_totalprice + 5e-10, 6) AS before_price, " +
        "round(a.o_totalprice + 5e-10, 6) AS after_price, " +
        "b.o_orderstatus AS before_status, a.o_orderstatus AS after_status " +
        "FROM bf b FULL OUTER JOIN af a ON b.o_orderkey = a.o_orderkey " +
        "ORDER BY o_orderkey")))((s, dir) => {
      // migration-validation diff: two synthetic snapshots of orders
      // (key-filtered, every 3rd price bumped x1.1) through the one-join
      // full-outer classifier. Every arithmetic input is the identical
      // double in both engines, so added/removed/changed/unchanged
      // assignment is exact.
      val src = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val before = src.filter(col("o_orderkey") % 7 =!= 0)
      val after = src.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")))
      Merge.snapshotDiff(before, after, "o_orderkey",
          Seq("o_totalprice", "o_orderstatus"))
        .select(col("o_orderkey"), col("diff_class"),
          round(col("before_o_totalprice") + lit(5e-10), 6).as("before_price"),
          round(col("after_o_totalprice") + lit(5e-10), 6).as("after_price"),
          col("before_o_orderstatus").as("before_status"),
          col("after_o_orderstatus").as("after_status"))
        .orderBy("o_orderkey")
    }),

    Query("u7b_incremental_distinct", Some(
      // the exact distinct census by segment; within_bounds is the
      // merged-sketch accuracy contract the Spark side evaluates — a
      // literal TRUE here, so an out-of-bounds merged estimate (or a
      // broken register-max merge) hash-mismatches
      ("SELECT c.c_mktsegment, count(DISTINCT o.o_custkey)::BIGINT AS exact_customers, " +
        "true AS within_bounds FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
        "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment")))((s, dir) => {
      // incremental DISTINCT maintenance — the aggregate class u6's
      // sum/min/max combiners cannot express: per-segment HLL sketches
      // of the historical batch unioned with the delta batch's, exact
      // recompute riding alongside. DuckDB has no Spark-compatible HLL,
      // but the MERGED estimate's accuracy contract is SQL-derivable
      // (the a6b/m2b twin pattern): emit the exact census plus a
      // boolean "merged estimate within 5·rsd of exact" (lgConfigK=12
      // default → rsd ≈ 1.04/√4096 ≈ 1.6%); the oracle replays the
      // census and a literal TRUE. MergeSpec separately pins merged ==
      // whole-input sketch EXACTLY (register-wise max is associative).
      val o = table(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
        .join(table(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")), Seq("o_custkey"))
      def sk(df: DataFrame): DataFrame = df.groupBy("c_mktsegment")
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      Merge.mergeSketchState(
          sk(o.filter(col("o_orderkey") % 7 =!= 0)),
          sk(o.filter(col("o_orderkey") % 7 === 0)),
          Seq("c_mktsegment"), Seq("sk"))
        .select(col("c_mktsegment"), hll_sketch_estimate(col("sk")).as("__approx"))
        .join(o.groupBy("c_mktsegment")
          .agg(count_distinct(col("o_custkey")).as("exact_customers")), Seq("c_mktsegment"))
        .select(col("c_mktsegment"), col("exact_customers"),
          (abs(col("__approx") - col("exact_customers")).cast("double") <=
            lit(5 * 1.04 / math.sqrt(4096.0)) *
              col("exact_customers").cast("double")).as("within_bounds"))
        .orderBy("c_mktsegment")
    }),

    // the merged-state path is output-equivalent to a one-shot summary:
    // exact counts of every token above the total/(k+1) floor, however
    // the stream was batched — so the oracle needs no batching at all
    Query("u9_incremental_topk", Some(
      (s"WITH tk AS (SELECT unnest(${toksOf("text")}) AS token FROM documents), " +
        "tot AS (SELECT count(*)::BIGINT AS total FROM tk), " +
        "c AS (SELECT token, count(*)::BIGINT AS n FROM tk GROUP BY token) " +
        "SELECT token, n, ROUND(n::DOUBLE / total::DOUBLE, 6) AS share " +
        "FROM c CROSS JOIN tot WHERE n * 41 > total ORDER BY n DESC, token")))((s, dir) => {
      // heavy-hitter STATE maintenance: the historical batch's k-entry
      // Misra-Gries summary merges with the delta batch's driver-side
      // (MisraGries.mergeSummaries — Agarwal et al.'s rule, preserving
      // the N/(k+1) bound over the COMBINED stream), so the history is
      // never re-summarized. The merged candidates then take ONE exact
      // re-count + floor filter, which makes the output "exact counts
      // of all tokens above total/(k+1)" — deterministic and
      // SQL-derivable however the stream was batched (the x9 argument,
      // extended across batches; x9 uses k=50, this uses k=40 so the
      // two pin different floors).
      val k = 40
      val mg = udaf(new graft.functions.MisraGries(k),
        org.apache.spark.sql.Encoders.STRING)
      val tk = docs(s, dir).select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      def summary(df: DataFrame) =
        df.agg(mg(col("token")).as("sk"), count(lit(1)).as("n")).head()
      val hist = summary(tk.filter(col("doc_id") % 5 =!= 0))
      val delta = summary(tk.filter(col("doc_id") % 5 === 0))
      val merged = graft.functions.MisraGries.mergeSummaries(
        hist.getAs[scala.collection.Map[String, Long]]("sk").toMap,
        delta.getAs[scala.collection.Map[String, Long]]("sk").toMap, k)
      val total = hist.getAs[Long]("n") + delta.getAs[Long]("n")
      import s.implicits._
      val cand = merged.keys.toSeq.toDF("token")
      tk.join(broadcast(cand), Seq("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .filter(col("n") * (k + 1) > lit(total))
        .select(col("token"), col("n"),
          round(col("n").cast("double") / lit(total.toDouble), 6).as("share"))
        .orderBy(col("n").desc, col("token"))
    }),

    // ---- incremental aggregate maintenance -----------------------------
    Query("u6_incremental_agg", Some(
      // full recompute over every order — the merged state must equal it
      ("SELECT o_custkey, count(*)::BIGINT AS n, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price, " +
        "round(CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS min_price, " +
        "round(CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS max_price, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) + 5e-10, 6) AS mean_price " +
        "FROM orders GROUP BY o_custkey ORDER BY o_custkey")))((s, dir) => {
      // materialized-view update: per-customer aggregate state from the
      // historical batch (o_orderkey % 7 != 0) merged with the delta
      // batch's aggregate (% 7 == 0) — NO rescan of the history. The
      // oracle recomputes the aggregate over ALL orders, so the hash
      // gate pins merge(agg(A), agg(B)) == agg(A ∪ B) exactly (decimal
      // sums — the j1 precedent — so combination order cannot drift).
      val orders = table(s, dir, "orders").select(col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("p"), col("o_orderkey"))
      def aggState(df: DataFrame): DataFrame = df.groupBy("o_custkey").agg(
        count(lit(1)).as("n"), sum(col("p")).as("sum_price"),
        min(col("p")).as("min_price"), max(col("p")).as("max_price"))
      val state = aggState(orders.filter(col("o_orderkey") % 7 =!= 0))
      val delta = aggState(orders.filter(col("o_orderkey") % 7 === 0))
      Merge.mergeAggState(state, delta, Seq("o_custkey"),
          Map("n" -> "sum", "sum_price" -> "sum",
            "min_price" -> "min", "max_price" -> "max"))
        .select(col("o_custkey"), col("n"),
          round(col("sum_price").cast("double") + lit(5e-10), 6).as("sum_price"),
          round(col("min_price").cast("double") + lit(5e-10), 6).as("min_price"),
          round(col("max_price").cast("double") + lit(5e-10), 6).as("max_price"),
          round(col("sum_price").cast("double") / col("n") + lit(5e-10), 6).as("mean_price"))
        .orderBy("o_custkey")
    }),

    Query("u8_incremental_histogram", Some(
      // full recompute over ALL orders (merge is exact by u6's argument)
      // + the same cum-walk/in-bin interpolation arithmetic: bin floor
      // in identical op order, first bin with cum >= p*n via FILTERed
      // min_by, estimate lo + (bin + (p*n - cumBefore)/cnt) * width
      ("WITH h AS (SELECT o_orderpriority, " +
        "CAST(least(greatest(floor((o_totalprice - 0.0) / 600000.0 * 64), 0), 63) AS INT) AS bin, " +
        "count(*)::BIGINT AS cnt FROM orders GROUP BY 1, 2), " +
        "c AS (SELECT *, sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin) AS cum, " +
        "sum(cnt) OVER (PARTITION BY o_orderpriority) AS n FROM h), " +
        "g AS (SELECT o_orderpriority, max(n) AS n, " +
        Seq("25" -> "0.25", "50" -> "0.5", "90" -> "0.9").map { case (t, p) =>
          s"min_by(struct_pack(b := bin, cum := cum, cnt := cnt), bin) " +
            s"FILTER (WHERE cum >= $p * n) AS s$t" }.mkString(", ") +
        " FROM c GROUP BY o_orderpriority) " +
        "SELECT o_orderpriority, " +
        Seq("25" -> "0.25", "50" -> "0.5", "90" -> "0.9").map { case (t, p) =>
          s"round(0.0 + (CAST(s$t.b AS DOUBLE) + ($p * n - (s$t.cum - s$t.cnt)) / s$t.cnt) " +
            s"* 9375.0 + 5e-10, 6) AS q$t" }.mkString(", ") +
        " FROM g ORDER BY o_orderpriority")))((s, dir) => {
      // incremental DISTRIBUTION maintenance: per-priority fixed-bin
      // histogram state from the historical batch merged with the delta
      // batch's state (bin counts sum — mergeAggState over keys+bin),
      // then quantile ESTIMATES read from the merged state. The oracle
      // recomputes the histogram over ALL orders and replays the same
      // cum-walk + in-bin interpolation, pinning BOTH the exact merge
      // and the estimate arithmetic.
      val o = table(s, dir, "orders")
      val keys = Seq("o_orderpriority")
      def st(df: DataFrame) =
        Histograms.binned(df, keys, "o_totalprice", 0.0, 600000.0, 64)
      val merged = Histograms.mergeState(
        st(o.filter(col("o_orderkey") % 3 =!= 0)),
        st(o.filter(col("o_orderkey") % 3 === 0)), keys)
      Histograms.quantileFromBins(merged, keys, 0.0, 600000.0, 64,
          Seq("q25" -> 0.25, "q50" -> 0.5, "q90" -> 0.9))
        .select(col("o_orderpriority"),
          round(col("q25") + lit(5e-10), 6).as("q25"),
          round(col("q50") + lit(5e-10), 6).as("q50"),
          round(col("q90") + lit(5e-10), 6).as("q90"))
        .orderBy("o_orderpriority")
    }),
  )
}
