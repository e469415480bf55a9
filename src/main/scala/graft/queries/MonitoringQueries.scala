package graft.queries

import org.apache.spark.sql.functions._
import graft.Query
import graft.Util
import graft.Util.table
import graft.ops.{Drift, Histograms, Quality, TimeSeries}
import graft.streaming.EventPipeline

/** Monitoring (`q*`): data-quality suites, drift tests and time-series
  * diagnostics over `events`, `orders`, `customer`, `documents` and
  * `embeddings`. */
object MonitoringQueries {

  def all: Seq[Query] = Seq(
    Query("q1_quality_suite", Some(
      // every check recomputed as a scalar CTE; fractions divide the
      // same exact longs; CHECK is a reserved word -> quoted alias
      ("WITH t AS (SELECT count(*)::BIGINT AS n FROM orders), " +
        "c1 AS (SELECT 'not_null' AS c, 'o_custkey' AS target, " +
        "coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0)::BIGINT AS n_bad, 0.0 AS threshold FROM orders), " +
        "c2 AS (SELECT 'in_range', 'o_totalprice[0.0,400000.0]', " +
        "coalesce(sum(CASE WHEN o_totalprice IS NOT NULL AND (o_totalprice < 0.0 OR o_totalprice > 400000.0) THEN 1 ELSE 0 END), 0)::BIGINT, 0.05 FROM orders), " +
        "c3 AS (SELECT 'matches_regex', 'o_orderpriority~^[1-5]-', " +
        "coalesce(sum(CASE WHEN o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END), 0)::BIGINT, 0.0 FROM orders), " +
        "c4 AS (SELECT 'unique', 'o_orderkey', (count(*) - count(DISTINCT o_orderkey))::BIGINT, 0.0 FROM orders), " +
        "c5 AS (SELECT 'unique', 'o_custkey', (count(*) - count(DISTINCT o_custkey))::BIGINT, 0.5 FROM orders), " +
        "c6 AS (SELECT 'referential', 'o_custkey->c_custkey', " +
        "(SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS " +
        "(SELECT 1 FROM customer c WHERE c.c_custkey % 3 <> 0 AND c.c_custkey = o.o_custkey))::BIGINT, 0.1), " +
        "u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3 " +
        "UNION ALL SELECT * FROM c4 UNION ALL SELECT * FROM c5 UNION ALL SELECT * FROM c6) " +
        "SELECT u.c AS \"check\", u.target, t.n AS n_rows, u.n_bad, " +
        "round(u.n_bad::DOUBLE / t.n + 5e-10, 6) AS bad_frac, " +
        "round(u.threshold + 5e-10, 6) AS threshold, " +
        "((u.n_bad::DOUBLE / t.n) <= u.threshold)::BIGINT AS passed " +
        "FROM u CROSS JOIN t ORDER BY \"check\", u.target")))((s, dir) => {
      // declarative write-audit-publish gate over orders: scalar checks
      // share ONE aggregate pass; uniqueness is a (count, distinct)
      // pair; referential is one anti-join count against a planted
      // two-thirds reference (so the orphan branch actually exercises).
      // The mix is chosen to emit both passing and failing rows.
      val orders = table(s, dir, "orders")
      val customerRef = table(s, dir, "customer").filter(col("c_custkey") % 3 =!= 0)
      Quality.checkSuite(orders, Seq(
          Quality.NotNull("o_custkey"),
          Quality.InRange("o_totalprice", 0.0, 400000.0, maxBadFrac = 0.05),
          Quality.MatchesRegex("o_orderpriority", "^[1-5]-"),
          Quality.Unique(Seq("o_orderkey")),
          Quality.Unique(Seq("o_custkey"), maxBadFrac = 0.5),
          Quality.Referential("o_custkey", customerRef, "c_custkey", maxBadFrac = 0.1)))
        .select(col("check"), col("target"), col("n_rows"), col("n_bad"),
          round(col("bad_frac") + lit(5e-10), 6).as("bad_frac"),
          round(col("threshold") + lit(5e-10), 6).as("threshold"),
          col("passed").cast("long").as("passed"))
        .orderBy("check", "target")
    }),
    Query("q2_profile", Some(
      // one CTE per column replaying the value-histogram profile; mode
      // tie-break is larger NATIVE value (cast to VARCHAR after)
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority").map { c =>
        s"SELECT '$c' AS \"column\", count(*)::BIGINT AS n_rows, " +
          s"(count(*) - count($c))::BIGINT AS n_null, " +
          s"count(DISTINCT $c)::BIGINT AS ndv, " +
          s"min($c)::VARCHAR AS min_v, max($c)::VARCHAR AS max_v, " +
          s"(SELECT $c::VARCHAR FROM orders WHERE $c IS NOT NULL " +
          s"GROUP BY $c ORDER BY count(*) DESC, $c DESC LIMIT 1) AS top_v, " +
          s"coalesce((SELECT count(*)::BIGINT FROM orders WHERE $c IS NOT NULL " +
          s"GROUP BY $c ORDER BY count(*) DESC LIMIT 1), 0) AS top_n FROM orders"
      }.mkString("", " UNION ALL ", " ORDER BY \"column\"")))((s, dir) =>
      // discovery companion to q1: exact per-column profile of orders
      // (long + string columns only — double/timestamp renderings are
      // engine-specific and belong to typed checks, not the profile)
      Quality.profileExact(table(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("column")),
    Query("q5_incremental_psi", Some(
      // bin assignment replayed with Spark's operation order (divide,
      // then scale, then clamp); smoothing via e-notation doubles
      ("WITH e AS (SELECT event_type, ts, value FROM events WHERE value IS NOT NULL), " +
        "rb AS (SELECT event_type, least(greatest(floor(value / 5e2 * 10), 0), 9)::INT AS bin, " +
        "count(*)::BIGINT AS n FROM e WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1, 2), " +
        "cb AS (SELECT event_type, least(greatest(floor(value / 5e2 * 10), 0), 9)::INT AS bin, " +
        "count(*)::BIGINT AS n FROM e WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1, 2), " +
        "k AS (SELECT event_type FROM rb UNION SELECT event_type FROM cb), " +
        "g AS (SELECT k.event_type, b.range::INT AS bin FROM k CROSS JOIN range(10) b), " +
        "d AS (SELECT g.event_type, g.bin, coalesce(rb.n, 0)::BIGINT AS nr, coalesce(cb.n, 0)::BIGINT AS nc " +
        "FROM g LEFT JOIN rb ON g.event_type = rb.event_type AND g.bin = rb.bin " +
        "LEFT JOIN cb ON g.event_type = cb.event_type AND g.bin = cb.bin), " +
        "t AS (SELECT event_type, sum(nr)::BIGINT AS tr, sum(nc)::BIGINT AS tc FROM d GROUP BY 1), " +
        "p AS (SELECT d.event_type, tr, tc, (nr + 5e-1) / (tr + 5e0) AS pr, " +
        "(nc + 5e-1) / (tc + 5e0) AS pc FROM d JOIN t USING (event_type)) " +
        "SELECT event_type, max(tr)::BIGINT AS n_ref, max(tc)::BIGINT AS n_cur, " +
        "round(sum((pc - pr) * ln(pc / pr)) + 5e-10, 6) AS psi " +
        "FROM p GROUP BY 1 ORDER BY 1")))((s, dir) => {
      // drift read OFF HISTOGRAM STATE, not the corpora: first-half vs
      // second-half events per event_type, 10 bins over [0, 500) — in
      // production both states arrive via Histograms.mergeState and
      // this query never rescans a corpus
      val ev = table(s, dir, "events")
      val cut = to_timestamp(lit("2024-01-16 00:00:00"))
      val refH = Histograms.binned(ev.filter(col("ts") < cut),
        Seq("event_type"), "value", 0.0, 500.0, 10)
      val curH = Histograms.binned(ev.filter(col("ts") >= cut),
        Seq("event_type"), "value", 0.0, 500.0, 10)
      Drift.psiFromHistograms(refH, curH, Seq("event_type"), 10)
        .select(col("event_type"), col("n_ref"), col("n_cur"),
          round(col("psi") + lit(5e-10), 6).as("psi"))
        .orderBy("event_type")
    }),
    Query("q3_psi_drift", Some(
      // bin arithmetic, add-alpha smoothing, and ln-ratio terms replayed
      // with identical operation order (alpha=0.5, 6 bins -> +3.0)
      ("WITH r AS (SELECT value AS v FROM events WHERE event_type = 'view' AND value IS NOT NULL), " +
        "c AS (SELECT value AS v FROM events WHERE event_type = 'purchase' AND value IS NOT NULL), " +
        "bins AS (SELECT range AS bin FROM range(6)), " +
        {
          val binExpr = Seq(10.0, 25.0, 50.0, 100.0, 200.0)
            .map(e => s"(CASE WHEN v >= $e THEN 1 ELSE 0 END)").mkString(" + ")
          s"rb AS (SELECT $binExpr AS bin, count(*)::BIGINT AS n FROM r GROUP BY 1), " +
          s"cb AS (SELECT $binExpr AS bin, count(*)::BIGINT AS n FROM c GROUP BY 1), "
        } +
        "d AS (SELECT bins.bin, coalesce(rb.n, 0)::BIGINT AS n_ref, coalesce(cb.n, 0)::BIGINT AS n_cur " +
        "FROM bins LEFT JOIN rb ON bins.bin = rb.bin LEFT JOIN cb ON bins.bin = cb.bin), " +
        "p AS (SELECT bin, n_ref, n_cur, " +
        "(n_ref + 5e-1) / ((SELECT count(*) FROM r) + 3e0) AS pr, " +
        "(n_cur + 5e-1) / ((SELECT count(*) FROM c) + 3e0) AS pc FROM d) " +
        "SELECT bin, n_ref, n_cur, " +
        "round((pc - pr) * ln(pc / pr) + 5e-10, 6) AS psi_term, " +
        "round(sum((pc - pr) * ln(pc / pr)) OVER () + 5e-10, 6) AS psi " +
        "FROM p ORDER BY bin")))((s, dir) => {
      // monitoring gate: PSI of the value distribution, view-cohort as
      // reference vs purchase-cohort as current, fixed audit bins; the
      // ±inf lo/hi columns are specced, the driver row keeps the counts
      // and the (rounded) psi terms/total
      val ev = table(s, dir, "events")
      Drift.psiDrift(ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"),
          "value", Seq(10.0, 25.0, 50.0, 100.0, 200.0))
        .select(col("bin"), col("n_ref"), col("n_cur"),
          round(col("psi_term") + lit(5e-10), 6).as("psi_term"),
          round(col("psi") + lit(5e-10), 6).as("psi"))
        .orderBy("bin")
    }),
    Query("q4_ks_drift", Some(
      // per-distinct-value count pairs, both CDFs, sup with smallest-value
      // tie-break; divisions use the identical exact-long operands
      ("WITH u AS (SELECT value AS v, 1 AS r, 0 AS c FROM events WHERE event_type = 'view' AND value IS NOT NULL " +
        "UNION ALL SELECT value, 0, 1 FROM events WHERE event_type = 'purchase' AND value IS NOT NULL), " +
        "g AS (SELECT v, sum(r)::BIGINT AS nr, sum(c)::BIGINT AS nc FROM u GROUP BY v), " +
        "t AS (SELECT sum(nr)::BIGINT AS tr, sum(nc)::BIGINT AS tc FROM g), " +
        "cdf AS (SELECT v, sum(nr) OVER (ORDER BY v) AS cr, sum(nc) OVER (ORDER BY v) AS cc FROM g) " +
        "SELECT round(abs(cr::DOUBLE / tr - cc::DOUBLE / tc) + 5e-10, 6) AS ks, " +
        "round(v + 5e-10, 6) AS at_value, tr AS n_ref, tc AS n_cur " +
        "FROM cdf CROSS JOIN t " +
        "ORDER BY abs(cr::DOUBLE / tr - cc::DOUBLE / tc) DESC, v LIMIT 1")))((s, dir) => {
      // bin-free companion: exact two-sample KS over the same cohorts
      val ev = table(s, dir, "events")
      Drift.ksStatistic(ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"), "value")
        .select(round(col("ks") + lit(5e-10), 6).as("ks"),
          round(col("at_value") + lit(5e-10), 6).as("at_value"),
          col("n_ref"), col("n_cur"))
    }),
    Query("q17_spc_rules", Some(
      // hourly count census, exact-long moments, the identical rolling
      // indicator windows (frames of <= 8 rows, partitioned per type)
      ("WITH h AS (SELECT event_type AS k, date_trunc('hour', ts) AS t, " +
        "count(*)::BIGINT AS x FROM events GROUP BY 1, 2), " +
        "m AS (SELECT k, count(*)::BIGINT AS n, CAST(sum(x) AS BIGINT) AS sx, " +
        "sum(x::HUGEINT * x::HUGEINT) AS sxx FROM h GROUP BY k), " +
        "mm AS (SELECT k, n, sx::DOUBLE / n::DOUBLE AS mu, " +
        "CASE WHEN n >= 2 THEN (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0) END AS var FROM m), " +
        "ms AS (SELECT *, CASE WHEN var > 0 THEN sqrt(var) END AS sd FROM mm), " +
        "z AS (SELECT h.k, h.t, h.x, ms.n, ms.mu, ms.sd, " +
        "CASE WHEN sd IS NOT NULL THEN (x::DOUBLE - mu) / sd END AS zv " +
        "FROM h JOIN ms USING (k)), " +
        "f AS (SELECT *, abs(zv) > 3.0 AS r1, " +
        "(sum(CASE WHEN zv > 2.0 THEN 1 ELSE 0 END) OVER w3 >= 2 OR " +
        "sum(CASE WHEN zv < -2.0 THEN 1 ELSE 0 END) OVER w3 >= 2) AS r2, " +
        "(sum(CASE WHEN zv > 1.0 THEN 1 ELSE 0 END) OVER w5 >= 4 OR " +
        "sum(CASE WHEN zv < -1.0 THEN 1 ELSE 0 END) OVER w5 >= 4) AS r3, " +
        "(sum(CASE WHEN x::DOUBLE > mu THEN 1 ELSE 0 END) OVER w8 = 8 OR " +
        "sum(CASE WHEN x::DOUBLE < mu THEN 1 ELSE 0 END) OVER w8 = 8) AS r4 " +
        "FROM z WINDOW " +
        "w3 AS (PARTITION BY k ORDER BY t ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), " +
        "w5 AS (PARTITION BY k ORDER BY t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), " +
        "w8 AS (PARTITION BY k ORDER BY t ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) " +
        "SELECT k AS event_type, n AS n_points, " +
        "round(mu + 5e-10, 6) AS mean, round(sd + 5e-10, 6) AS std, " +
        "CAST(coalesce(sum(CASE WHEN r1 THEN 1 END), 0) AS BIGINT) AS r1_n, " +
        "CAST(coalesce(sum(CASE WHEN r2 THEN 1 END), 0) AS BIGINT) AS r2_n, " +
        "CAST(coalesce(sum(CASE WHEN r3 THEN 1 END), 0) AS BIGINT) AS r3_n, " +
        "CAST(coalesce(sum(CASE WHEN r4 THEN 1 END), 0) AS BIGINT) AS r4_n, " +
        "strftime(min(CASE WHEN r1 OR r2 OR r3 OR r4 THEN t END), '%Y-%m-%d %H:%M:%S') AS first_alarm_ts " +
        "FROM f GROUP BY k, n, mu, sd ORDER BY event_type")))((s, dir) => {
      // Western Electric SPC rules over hourly event-count series: one
      // exact-long moment census per type (the e11 discipline — z cuts
      // cannot flake), one partitioned window pass for all four rolling
      // rules, one report row per type
      val hourly = table(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      TimeSeries.westernElectric(hourly, "event_type", "h", "n")
        .select(col("event_type"), col("n_points"),
          round(col("mean") + lit(5e-10), 6).as("mean"),
          round(col("std") + lit(5e-10), 6).as("std"),
          col("r1_n"), col("r2_n"), col("r3_n"), col("r4_n"),
          date_format(col("first_alarm_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("first_alarm_ts"))
        .orderBy("event_type")
    }),
    Query("q18_monitoring_panel", Some(
      // all three legs replayed over the SAME hourly CTE: q17's WE rule
      // windows, a10's self-excluding rolling z at threshold 0 folded
      // to count/max, and q5's smoothed PSI over Histograms.binned's
      // exact bin expression (lo 0, hi 60, 12 bins -> alpha*nBins = 6e0)
      ("WITH h AS (SELECT event_type AS k, date_trunc('hour', ts) AS t, " +
        "count(*)::BIGINT AS x FROM events GROUP BY 1, 2), " +
        // --- WE leg (the q17 oracle verbatim, folded to rule counts)
        "m AS (SELECT k, count(*)::BIGINT AS n, CAST(sum(x) AS BIGINT) AS sx, " +
        "sum(x::HUGEINT * x::HUGEINT) AS sxx FROM h GROUP BY k), " +
        "mm AS (SELECT k, n, sx::DOUBLE / n::DOUBLE AS mu, " +
        "CASE WHEN n >= 2 THEN (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0) END AS var FROM m), " +
        "ms AS (SELECT *, CASE WHEN var > 0 THEN sqrt(var) END AS sd FROM mm), " +
        "z AS (SELECT h.k, h.t, h.x, ms.mu, ms.sd, " +
        "CASE WHEN sd IS NOT NULL THEN (x::DOUBLE - mu) / sd END AS zv " +
        "FROM h JOIN ms USING (k)), " +
        "f AS (SELECT *, abs(zv) > 3.0 AS r1, " +
        "(sum(CASE WHEN zv > 2.0 THEN 1 ELSE 0 END) OVER w3 >= 2 OR " +
        "sum(CASE WHEN zv < -2.0 THEN 1 ELSE 0 END) OVER w3 >= 2) AS r2, " +
        "(sum(CASE WHEN zv > 1.0 THEN 1 ELSE 0 END) OVER w5 >= 4 OR " +
        "sum(CASE WHEN zv < -1.0 THEN 1 ELSE 0 END) OVER w5 >= 4) AS r3, " +
        "(sum(CASE WHEN x::DOUBLE > mu THEN 1 ELSE 0 END) OVER w8 = 8 OR " +
        "sum(CASE WHEN x::DOUBLE < mu THEN 1 ELSE 0 END) OVER w8 = 8) AS r4 " +
        "FROM z WINDOW " +
        "w3 AS (PARTITION BY k ORDER BY t ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), " +
        "w5 AS (PARTITION BY k ORDER BY t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), " +
        "w8 AS (PARTITION BY k ORDER BY t ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)), " +
        "wer AS (SELECT k, " +
        "coalesce(sum(CASE WHEN r1 THEN 1 END), 0)::DOUBLE AS r1n, " +
        "coalesce(sum(CASE WHEN r2 THEN 1 END), 0)::DOUBLE AS r2n, " +
        "coalesce(sum(CASE WHEN r3 THEN 1 END), 0)::DOUBLE AS r3n, " +
        "coalesce(sum(CASE WHEN r4 THEN 1 END), 0)::DOUBLE AS r4n FROM f GROUP BY k), " +
        // --- rolling-z leg (the a10 windows at threshold 0)
        "zw AS (SELECT k, t, x, count(*) OVER win AS cnt, sum(x) OVER win AS s, " +
        "sum(x*x) OVER win AS ssq FROM h WINDOW win AS (PARTITION BY k ORDER BY t " +
        "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)), " +
        "zs AS (SELECT k, (x::DOUBLE - s::DOUBLE / cnt) / " +
        "sqrt((ssq::DOUBLE - s::DOUBLE * s / cnt) / cnt) AS zr FROM zw " +
        "WHERE cnt >= 12 AND (ssq::DOUBLE - s::DOUBLE * s / cnt) / cnt > 0), " +
        "zr AS (SELECT k, coalesce(sum(CASE WHEN abs(zr) >= 3.0 THEN 1 END), 0)::DOUBLE AS zn, " +
        "max(abs(zr)) AS zm FROM zs GROUP BY k), " +
        // --- PSI leg (q5's smoothing over Histograms.binned's bins)
        "rb AS (SELECT k, least(greatest(floor((x::DOUBLE - 0e0) / 6e1 * 12), 0), 11)::INT AS bin, " +
        "count(*)::BIGINT AS n FROM h WHERE t < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1, 2), " +
        "cb AS (SELECT k, least(greatest(floor((x::DOUBLE - 0e0) / 6e1 * 12), 0), 11)::INT AS bin, " +
        "count(*)::BIGINT AS n FROM h WHERE t >= TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1, 2), " +
        "kk AS (SELECT k FROM rb UNION SELECT k FROM cb), " +
        "g AS (SELECT kk.k, b.range::INT AS bin FROM kk CROSS JOIN range(12) b), " +
        "d AS (SELECT g.k, g.bin, coalesce(rb.n, 0)::BIGINT AS nr, coalesce(cb.n, 0)::BIGINT AS nc " +
        "FROM g LEFT JOIN rb ON g.k = rb.k AND g.bin = rb.bin " +
        "LEFT JOIN cb ON g.k = cb.k AND g.bin = cb.bin), " +
        "tt AS (SELECT k, sum(nr)::BIGINT AS tr, sum(nc)::BIGINT AS tc FROM d GROUP BY 1), " +
        "pp AS (SELECT d.k, (nr + 5e-1) / (tr + 6e0) AS pr, (nc + 5e-1) / (tc + 6e0) AS pc " +
        "FROM d JOIN tt USING (k)), " +
        "psi AS (SELECT k, sum((pc - pr) * ln(pc / pr)) AS v FROM pp GROUP BY k) " +
        // --- assemble the long report
        "SELECT event_type, check_name, round(value + 5e-10, 6) AS value FROM (" +
        "SELECT k AS event_type, 'we_r1' AS check_name, r1n AS value FROM wer " +
        "UNION ALL SELECT k, 'we_r2', r2n FROM wer " +
        "UNION ALL SELECT k, 'we_r3', r3n FROM wer " +
        "UNION ALL SELECT k, 'we_r4', r4n FROM wer " +
        "UNION ALL SELECT wer.k, 'z_anomalies', coalesce(zr.zn, 0e0) FROM wer LEFT JOIN zr USING (k) " +
        "UNION ALL SELECT wer.k, 'z_max_abs', zr.zm FROM wer LEFT JOIN zr USING (k) " +
        "UNION ALL SELECT wer.k, 'psi_hourly_counts', psi.v FROM wer LEFT JOIN psi USING (k)) " +
        "ORDER BY event_type, check_name")))((s, dir) => {
      // the operations dashboard in ONE call over ONE hourly rollup
      // (r14 verdict #8 stretch): Western Electric rule counts (q17),
      // rolling-z anomaly count + max |z| (a10), and PSI of the
      // hourly-count distribution first-half vs second-half (the q5
      // read-off-state discipline) — every leg the already-verified
      // operator, melted into the (event_type, check_name, value)
      // report the pager reads. The same panel reads hourly counts
      // merged batch by batch with mergeAggState (spec in
      // EventPipelineSpec).
      val hourly = table(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      EventPipeline.monitoringPanel(hourly,
          psiCut = to_timestamp(lit("2024-01-16 00:00:00")))
        .select(col("event_type"), col("check_name"),
          round(col("value") + lit(5e-10), 6).as("value"))
        .orderBy("event_type", "check_name")
    }),
    Query("q7_acf", Some(
      // hourly census, partition mean, six lag offsets, per-lag
      // conditional sums — unpivoted as a 6-way UNION ALL
      ("WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, " +
        "sum(value) AS x FROM events GROUP BY 1, 2), " +
        "b AS (SELECT event_type, h, x, " +
        "avg(x) OVER (PARTITION BY event_type) AS m FROM hourly), " +
        "l AS (SELECT event_type, x, m, " +
        (1 to 6).map(k => s"lag(x, $k) OVER w AS x$k").mkString(", ") +
        " FROM b WINDOW w AS (PARTITION BY event_type ORDER BY h)), " +
        "a AS (SELECT event_type, sum((x - m) * (x - m)) AS den, " +
        (1 to 6).map(k =>
          s"sum(CASE WHEN x$k IS NOT NULL THEN (x - m) * (x$k - m) ELSE 0.0 END) AS n$k, " +
            s"sum(CASE WHEN x$k IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS c$k")
          .mkString(", ") +
        " FROM l GROUP BY 1) " +
        (1 to 6).map(k =>
          s"SELECT event_type, $k AS lag, c$k AS n_pairs, " +
            s"round(CASE WHEN den > 0 THEN n$k / den END + 5e-10, 6) AS acf FROM a")
          .mkString(" UNION ALL ") +
        " ORDER BY event_type, lag")))((s, dir) => {
      // autocorrelation of hourly event-value series per type: one
      // shuffle keyed by event_type serves the mean window, all six lag
      // offsets, and the per-lag conditional sums
      val hourly = table(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum("value").as("x"))
      TimeSeries.acf(hourly, "event_type", "h", "x", maxLag = 6)
        .select(col("event_type"), col("lag"), col("n_pairs"),
          round(col("acf") + lit(5e-10), 6).as("acf"))
        .orderBy("event_type", "lag")
    }),
    Query("q9_cross_correlation", Some({
      def nm(k: Int) = if (k < 0) s"m${-k}" else s"p$k"
      val lagCols = (1 to 4).map(k =>
        s"lag(y, $k) OVER w AS y${nm(k)}, lead(y, $k) OVER w AS y${nm(-k)}")
        .mkString(", ")
      val aggCols = (-4 to 4).map { k =>
        val yk = if (k == 0) "y" else s"y${nm(k)}"
        s"sum(CASE WHEN $yk IS NOT NULL THEN (x - mx) * ($yk - my) ELSE 0.0 END) AS num${nm(k)}, " +
          s"sum(CASE WHEN $yk IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS c${nm(k)}"
      }.mkString(", ")
      val sel = (-4 to 4).map { k =>
        s"SELECT 'click_purchase' AS k, $k AS lag, c${nm(k)} AS n_pairs, " +
          s"round(CASE WHEN dx2 > 0 AND dy2 > 0 THEN num${nm(k)} / sqrt(dx2 * dy2) END " +
          "+ 5e-10, 6) AS ccf FROM a"
      }.mkString(" UNION ALL ")
      "WITH hourly AS (SELECT date_trunc('hour', ts) AS h, " +
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::DOUBLE AS x, " +
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE AS y " +
        "FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1), " +
        "b AS (SELECT h, x, y, avg(x) OVER () AS mx, avg(y) OVER () AS my FROM hourly), " +
        s"l AS (SELECT x, y, mx, my, $lagCols FROM b WINDOW w AS (ORDER BY h)), " +
        "a AS (SELECT sum((x - mx) * (x - mx)) AS dx2, " +
        s"sum((y - my) * (y - my)) AS dy2, $aggCols FROM l) " +
        sel + " ORDER BY lag"
    }))((s, dir) => {
      // does purchasing echo clicking? lead-lag correlation between the
      // two hourly series on one shared grid
      val hourly = table(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(sum(when(col("event_type") === "click", 1).otherwise(0))
          .cast("double").as("x"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0))
            .cast("double").as("y"))
        .withColumn("k", lit("click_purchase"))
      TimeSeries.crossCorrelation(hourly, "k", "h", "x", "y", maxLag = 4)
        .select(col("k"), col("lag"), col("n_pairs"),
          round(col("ccf") + lit(5e-10), 6).as("ccf"))
        .orderBy("lag")
    }),
    Query("q10_cusum", Some(
      // the same hourly census, cumulative-sum windows, integer-exact
      // argmax criterion, and first-index tiebreak
      ("WITH hourly AS (SELECT event_type AS k, date_trunc('hour', ts) AS t, " +
        "count(*)::DOUBLE AS x FROM events " +
        "WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "w AS (SELECT k, t, x, row_number() OVER o AS rn, " +
        "sum(x) OVER (PARTITION BY k ORDER BY t " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs, " +
        "count(*) OVER (PARTITION BY k) AS n, " +
        "sum(x) OVER (PARTITION BY k) AS tot, " +
        "stddev_pop(x) OVER (PARTITION BY k) AS sd FROM hourly " +
        "WINDOW o AS (PARTITION BY k ORDER BY t)), " +
        "c AS (SELECT *, abs(n::DOUBLE * cs - rn * tot) AS crit FROM w), " +
        "m AS (SELECT *, max(crit) OVER (PARTITION BY k) AS mx FROM c), " +
        "p AS (SELECT k, n, sd, mx, rn, t, " +
        "row_number() OVER (PARTITION BY k ORDER BY rn) AS pr FROM m WHERE crit = mx) " +
        "SELECT k AS event_type, n::BIGINT AS n, rn::BIGINT AS cp_index, " +
        "strftime(t, '%Y-%m-%d %H:%M:%S') AS cp_hour, " +
        "round(mx / n + 5e-10, 6) AS s_max, " +
        "round(CASE WHEN sd > 0 THEN mx / (n * sd * sqrt(n::DOUBLE)) END + 5e-10, 6) AS stat " +
        "FROM p WHERE pr = 1 ORDER BY event_type")))((s, dir) =>
      // did traffic shift? CUSUM changepoint over each type's hourly
      // count series; the argmax criterion is integer-exact so the
      // located index is engine-independent
      TimeSeries.cusum(
          table(s, dir, "events")
            .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
            .agg(count(lit(1)).cast("double").as("x")),
          "event_type", "h", "x")
        .select(col("event_type"), col("n"), col("cp_index"),
          date_format(col("cp_time"), "yyyy-MM-dd HH:mm:ss").as("cp_hour"),
          round(col("s_max") + lit(5e-10), 6).as("s_max"),
          round(col("stat") + lit(5e-10), 6).as("stat"))
        .orderBy("event_type")),
    Query("q11_trend", Some(
      // same hourly census, position regressor, six integer-exact sums,
      // identical closed-form operation order
      ("WITH hourly AS (SELECT event_type AS k, date_trunc('hour', ts) AS t, " +
        "count(*)::DOUBLE AS x FROM events " +
        "WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "w AS (SELECT k, x, row_number() OVER (PARTITION BY k ORDER BY t)::DOUBLE AS rn " +
        "FROM hourly), " +
        "s AS (SELECT k, count(*)::BIGINT AS n, sum(rn) AS sx, sum(x) AS sy, " +
        "sum(rn * x) AS sxy, sum(rn * rn) AS sxx, sum(x * x) AS syy FROM w GROUP BY k), " +
        "f AS (SELECT k, n, sx, sy, n::DOUBLE * sxy - sx * sy AS covn, " +
        "n::DOUBLE * sxx - sx * sx AS varxn, n::DOUBLE * syy - sy * sy AS varyn FROM s) " +
        "SELECT k AS event_type, n, " +
        "round(CASE WHEN n >= 2 THEN covn / varxn END + 5e-10, 6) AS slope, " +
        "round(CASE WHEN n >= 2 THEN (sy - covn / varxn * sx) / n END + 5e-10, 6) AS intercept, " +
        "round(CASE WHEN n >= 2 AND varyn > 0 THEN covn * covn / (varxn * varyn) END " +
        "+ 5e-10, 6) AS r2 FROM f ORDER BY 1")))((s, dir) =>
      // is traffic growing? grouped OLS over each type's hourly counts
      // with position as the regressor — all six sufficient sums are
      // exact integers, so the fit replays engine-independently
      TimeSeries.trend(
          table(s, dir, "events")
            .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
            .agg(count(lit(1)).cast("double").as("x")),
          "event_type", "h", "x")
        .select(col("event_type"), col("n"),
          round(col("slope") + lit(5e-10), 6).as("slope"),
          round(col("intercept") + lit(5e-10), 6).as("intercept"),
          round(col("r2") + lit(5e-10), 6).as("r2"))
        .orderBy("event_type")),
    Query("q12_interarrival", Some(
      // same (type, user)-stream lag at exact microseconds, same census
      ("WITH e AS (SELECT event_type AS k, user_id AS u, epoch_us(ts) AS us, " +
        "event_id AS tie FROM events WHERE event_type IS NOT NULL " +
        "AND user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL), " +
        "g AS (SELECT k, us - lag(us) OVER (PARTITION BY k, u ORDER BY us, tie) AS gap " +
        "FROM e) " +
        "SELECT k AS event_type, count(*)::BIGINT AS n_pairs, " +
        "round(sum(gap)::DOUBLE / count(*) / 1000000.0 + 5e-10, 6) AS mean_gap_s, " +
        "round(min(gap)::DOUBLE / 1000000.0 + 5e-10, 6) AS min_gap_s, " +
        "round(max(gap)::DOUBLE / 1000000.0 + 5e-10, 6) AS max_gap_s " +
        "FROM g WHERE gap IS NOT NULL GROUP BY k ORDER BY k")))((s, dir) =>
      // how bursty is each event type? per-(type, user) inter-arrival
      // gaps (microsecond-exact, ties by event_id) reduced to a per-type
      // census — the window keys on (type, user), never type alone
      TimeSeries.interArrival(Util.events(s, dir),
          "event_type", "user_id", "ts", "event_id")
        .select(col("event_type"), col("n_pairs"),
          round(col("mean_gap_s") + lit(5e-10), 6).as("mean_gap_s"),
          round(col("min_gap_s") + lit(5e-10), 6).as("min_gap_s"),
          round(col("max_gap_s") + lit(5e-10), 6).as("max_gap_s"))
        .orderBy("event_type")),
    Query("q8_seasonal_decompose", Some(
      // the same windows: row-number phase, 25-row centered sum with
      // half-weight endpoints, phase-mean census, centering, remainder
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
        "sea AS (SELECT k, phase, pm - avg(pm) OVER (PARTITION BY k) AS seasonal FROM pm) " +
        "SELECT d.k AS event_type, d.h, d.x, d.phase::BIGINT AS phase, " +
        "round(d.trend + 5e-10, 6) AS trend, " +
        "round(sea.seasonal + 5e-10, 6) AS seasonal, " +
        "round(d.x - d.trend - sea.seasonal + 5e-10, 6) AS residual " +
        "FROM d JOIN sea ON d.k = sea.k AND d.phase = sea.phase " +
        "ORDER BY event_type, h")))((s, dir) => {
      // hour-of-day seasonality of event traffic: classical additive
      // decomposition with the 2x24 centered MA; one shuffle per type
      // serves every window, the seasonal census is 24 rows per type
      val hourly = table(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).cast("double").as("x"))
      TimeSeries.decompose(hourly, "event_type", "h", "x", period = 24)
        .select(col("event_type"), col("h"), col("x"),
          col("phase").cast("long").as("phase"),
          round(col("trend") + lit(5e-10), 6).as("trend"),
          round(col("seasonal") + lit(5e-10), 6).as("seasonal"),
          round(col("residual") + lit(5e-10), 6).as("residual"))
        .orderBy("event_type", "h")
    }),
    Query("q6_jsd_drift", Some(
      //q3's bin/smoothing CTEs with the JSD term algebra: m = (p+q)/2,
      // 0.5*p*ln(p/m) + 0.5*q*ln(q/m), identical operation order
      ("WITH r AS (SELECT value AS v FROM events WHERE event_type = 'view' AND value IS NOT NULL), " +
        "c AS (SELECT value AS v FROM events WHERE event_type = 'purchase' AND value IS NOT NULL), " +
        "bins AS (SELECT range AS bin FROM range(6)), " +
        {
          val binExpr = Seq(10.0, 25.0, 50.0, 100.0, 200.0)
            .map(e => s"(CASE WHEN v >= $e THEN 1 ELSE 0 END)").mkString(" + ")
          s"rb AS (SELECT $binExpr AS bin, count(*)::BIGINT AS n FROM r GROUP BY 1), " +
          s"cb AS (SELECT $binExpr AS bin, count(*)::BIGINT AS n FROM c GROUP BY 1), "
        } +
        "d AS (SELECT bins.bin, coalesce(rb.n, 0)::BIGINT AS n_ref, coalesce(cb.n, 0)::BIGINT AS n_cur " +
        "FROM bins LEFT JOIN rb ON bins.bin = rb.bin LEFT JOIN cb ON bins.bin = cb.bin), " +
        "p AS (SELECT bin, n_ref, n_cur, " +
        "(n_ref + 5e-1) / ((SELECT count(*) FROM r) + 3e0) AS pr, " +
        "(n_cur + 5e-1) / ((SELECT count(*) FROM c) + 3e0) AS pc FROM d), " +
        "t AS (SELECT bin, n_ref, n_cur, " +
        "5e-1 * pr * ln(pr / ((pr + pc) / 2e0)) + 5e-1 * pc * ln(pc / ((pr + pc) / 2e0)) AS jsd_term FROM p) " +
        "SELECT bin, n_ref, n_cur, round(jsd_term + 5e-10, 6) AS jsd_term, " +
        "round(sum(jsd_term) OVER () + 5e-10, 6) AS jsd FROM t ORDER BY bin")))((s, dir) => {
      // symmetric bounded drift over the q3 cohorts and bins: JSD
      // saturates at ln 2 where PSI explodes on one-sided empty bins
      val ev = table(s, dir, "events")
      Drift.jsdDrift(ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"),
          "value", Seq(10.0, 25.0, 50.0, 100.0, 200.0))
        .select(col("bin"), col("n_ref"), col("n_cur"),
          round(col("jsd_term") + lit(5e-10), 6).as("jsd_term"),
          round(col("jsd") + lit(5e-10), 6).as("jsd"))
        .orderBy("bin")
    }),
    Query("q16_embedding_drift", Some(
      // both sides' (dim, n, sx, sxx) censuses via generate_subscripts
      // (the s13 construction), the same mean/variance algebra, and
      // the planted affine shift replayed per element
      ("WITH r0 AS (SELECT embedding AS v FROM embeddings " +
        "WHERE vec_id % 5 <> 0 AND embedding IS NOT NULL AND len(embedding) = 64), " +
        "c0 AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.1 + 0.05) AS v " +
        "FROM embeddings WHERE vec_id % 5 = 0 AND embedding IS NOT NULL AND len(embedding) = 64), " +
        "re AS (SELECT generate_subscripts(v, 1) AS d, CAST(unnest(v) AS DOUBLE) AS x FROM r0), " +
        "ce AS (SELECT generate_subscripts(v, 1) AS d, CAST(unnest(v) AS DOUBLE) AS x FROM c0), " +
        "rs AS (SELECT d, count(*)::BIGINT AS n, sum(x) AS sx, sum(x * x) AS sxx FROM re GROUP BY d), " +
        "cs AS (SELECT d, count(*)::BIGINT AS n, sum(x) AS sx, sum(x * x) AS sxx FROM ce GROUP BY d), " +
        "m AS (SELECT rs.d, rs.n AS nr, cs.n AS nc, rs.sx / rs.n AS mur, cs.sx / cs.n AS muc, " +
        "rs.sxx / rs.n - (rs.sx / rs.n) * (rs.sx / rs.n) AS vr, " +
        "cs.sxx / cs.n - (cs.sx / cs.n) * (cs.sx / cs.n) AS vc FROM rs JOIN cs USING (d)), " +
        "g AS (SELECT CAST(max(nr) AS BIGINT) AS n_ref, CAST(max(nc) AS BIGINT) AS n_cur, " +
        "sum(mur * muc) AS dot, sqrt(sum(mur * mur)) AS normr, sqrt(sum(muc * muc)) AS normc, " +
        "sum(vr) AS vtr, sum(vc) AS vtc FROM m) " +
        "SELECT n_ref, n_cur, " +
        "round(CASE WHEN normr > 0 AND normc > 0 THEN dot / (normr * normc) END + 5e-10, 6) AS mean_cosine, " +
        "round(normr + 5e-10, 6) AS norm_ref, round(normc + 5e-10, 6) AS norm_cur, " +
        "round(vtr + 5e-10, 6) AS var_trace_ref, round(vtc + 5e-10, 6) AS var_trace_cur FROM g")))((s, dir) => {
      // has the embedding cloud moved? every 5th vector plays the new
      // snapshot with a planted affine shift (x*1.1 + 0.05) so all
      // three signal families fire: centroid direction, centroid
      // norms, and the per-dim variance trace — 2x64 census cells off
      // one pass per side, metrics literal-lifted
      val emb = table(s, dir, "embeddings")
      val ref = emb.filter(col("vec_id") % 5 =!= 0)
      val cur = emb.filter(col("vec_id") % 5 === 0)
        .select(transform(col("embedding"),
          x => x.cast("double") * lit(1.1) + lit(0.05)).as("embedding"))
      Drift.embeddingDrift(ref, cur, "embedding", dims = 64)
        .select(col("n_ref"), col("n_cur"),
          round(col("mean_cosine") + lit(5e-10), 6).as("mean_cosine"),
          round(col("norm_ref") + lit(5e-10), 6).as("norm_ref"),
          round(col("norm_cur") + lit(5e-10), 6).as("norm_cur"),
          round(col("var_trace_ref") + lit(5e-10), 6).as("var_trace_ref"),
          round(col("var_trace_cur") + lit(5e-10), 6).as("var_trace_cur"))
    }),
    Query("q15_drift_panel", Some(
      // all four legs replayed with their own queries' idioms (q3 psi
      // smoothing, q4 KS sup, q13 decimal mass, q14 homogeneity) and
      // unioned into the same 5-row report
      ("WITH r AS (SELECT n_chars::DOUBLE AS v FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL), " +
        "c AS (SELECT n_chars::DOUBLE AS v FROM documents WHERE lang <> 'en' AND n_chars IS NOT NULL), " +
        "bins AS (SELECT range AS bin FROM range(5)), " +
        {
          val binExpr = Seq(200.0, 500.0, 1000.0, 2000.0)
            .map(e => s"(CASE WHEN v >= $e THEN 1 ELSE 0 END)").mkString(" + ")
          s"rb AS (SELECT $binExpr AS bin, count(*)::BIGINT AS n FROM r GROUP BY 1), " +
          s"cb AS (SELECT $binExpr AS bin, count(*)::BIGINT AS n FROM c GROUP BY 1), "
        } +
        "d0 AS (SELECT bins.bin, coalesce(rb.n, 0)::BIGINT AS nr, coalesce(cb.n, 0)::BIGINT AS nc " +
        "FROM bins LEFT JOIN rb ON bins.bin = rb.bin LEFT JOIN cb ON bins.bin = cb.bin), " +
        "p0 AS (SELECT (nr + 5e-1) / ((SELECT count(*) FROM r) + 25e-1) AS pr, " +
        "(nc + 5e-1) / ((SELECT count(*) FROM c) + 25e-1) AS pc FROM d0), " +
        "psiv AS (SELECT 'psi' AS check_name, sum((pc - pr) * ln(pc / pr)) AS value FROM p0), " +
        "u AS (SELECT v, 1 AS r1, 0 AS c1 FROM r UNION ALL SELECT v, 0, 1 FROM c), " +
        "g0 AS (SELECT v, sum(r1)::BIGINT AS nr, sum(c1)::BIGINT AS nc FROM u GROUP BY v), " +
        "t0 AS (SELECT sum(nr)::BIGINT AS tr, sum(nc)::BIGINT AS tc FROM g0), " +
        "cdf AS (SELECT v, sum(nr) OVER (ORDER BY v) AS cr, sum(nc) OVER (ORDER BY v) AS cc FROM g0), " +
        "ksv AS (SELECT 'ks' AS check_name, abs(cr::DOUBLE / tr - cc::DOUBLE / tc) AS value " +
        "FROM cdf CROSS JOIN t0 ORDER BY value DESC, v LIMIT 1), " +
        "w1g AS (SELECT CAST(n_chars AS DECIMAL(18,6)) AS v, " +
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS r1, " +
        "CASE WHEN lang <> 'en' THEN 1 ELSE 0 END AS c1 FROM documents " +
        "WHERE n_chars IS NOT NULL AND lang IS NOT NULL), " +
        "w1c AS (SELECT v, CAST(sum(r1) AS BIGINT) AS nr, CAST(sum(c1) AS BIGINT) AS nc FROM w1g GROUP BY v), " +
        "w1t AS (SELECT CAST(sum(nr) AS BIGINT) AS tr, CAST(sum(nc) AS BIGINT) AS tc FROM w1c), " +
        "w1w AS (SELECT v, sum(nr) OVER (ORDER BY v) AS cr, sum(nc) OVER (ORDER BY v) AS cc, " +
        "lead(v) OVER (ORDER BY v) AS nv FROM w1c), " +
        "w1m AS (SELECT sum(abs(cr * tc - cc * tr) * (nv - v)) AS mass FROM w1w, w1t WHERE nv IS NOT NULL), " +
        "w1v AS (SELECT 'w1' AS check_name, mass::DOUBLE / (tr::DOUBLE * tc::DOUBLE) AS value FROM w1m, w1t), " +
        "cr2 AS (SELECT source AS cat, count(*)::BIGINT AS nr FROM documents " +
        "WHERE lang = 'en' AND source IS NOT NULL GROUP BY 1), " +
        "cc2 AS (SELECT source AS cat, count(*)::BIGINT AS nc FROM documents " +
        "WHERE lang <> 'en' AND source IS NOT NULL GROUP BY 1), " +
        "cj AS (SELECT coalesce(cr2.cat, cc2.cat) AS cat, coalesce(nr, 0) AS nr, " +
        "coalesce(nc, 0) AS nc FROM cr2 FULL OUTER JOIN cc2 ON cr2.cat = cc2.cat), " +
        "ct AS (SELECT CAST(sum(nr) AS BIGINT) AS tr, CAST(sum(nc) AS BIGINT) AS tc, " +
        "count(*)::BIGINT AS g2 FROM cj), " +
        "cx AS (SELECT sum(" +
        "(CASE WHEN tr::DOUBLE * (nr + nc) / (tr + tc) > 0 " +
        "THEN (nr::DOUBLE - tr::DOUBLE * (nr + nc) / (tr + tc)) * (nr::DOUBLE - tr::DOUBLE * (nr + nc) / (tr + tc)) / (tr::DOUBLE * (nr + nc) / (tr + tc)) ELSE 0.0 END) + " +
        "(CASE WHEN tc::DOUBLE * (nr + nc) / (tr + tc) > 0 " +
        "THEN (nc::DOUBLE - tc::DOUBLE * (nr + nc) / (tr + tc)) * (nc::DOUBLE - tc::DOUBLE * (nr + nc) / (tr + tc)) / (tc::DOUBLE * (nr + nc) / (tr + tc)) ELSE 0.0 END)) AS chi2 " +
        "FROM cj, ct), " +
        "chiv AS (SELECT 'chi2_source' AS check_name, CASE WHEN g2 > 1 THEN chi2 END AS value FROM cx, ct), " +
        "cvv AS (SELECT 'cramers_v_source' AS check_name, " +
        "CASE WHEN g2 > 1 THEN sqrt(chi2 / (tr + tc)::DOUBLE) END AS value FROM cx, ct) " +
        "SELECT check_name, round(value + 5e-10, 6) AS value FROM " +
        "(SELECT * FROM psiv UNION ALL SELECT * FROM ksv UNION ALL SELECT * FROM w1v " +
        "UNION ALL SELECT * FROM chiv UNION ALL SELECT * FROM cvv) ORDER BY check_name")))((s, dir) => {
      // one-call drift dashboard: the four production measures on one
      // (ref, cur) pair — PSI over fixed bins, exact KS, exact
      // Wasserstein-1, categorical mix chi-square + Cramer's V — as a
      // (check_name, value) report; every leg is the already-verified
      // operator, unioned into the report the retrain gate reads
      val d = table(s, dir, "documents")
      val ref = d.filter(col("lang") === "en")
      val cur = d.filter(col("lang") =!= "en")
      val psi = Drift.psiDrift(ref, cur, "n_chars",
          Seq(200.0, 500.0, 1000.0, 2000.0))
        .select(lit("psi").as("check_name"), col("psi").as("value")).limit(1)
      val ks = Drift.ksStatistic(ref, cur, "n_chars")
        .select(lit("ks").as("check_name"), col("ks").as("value"))
      val w1 = Drift.wasserstein1(ref, cur, "n_chars")
        .select(lit("w1").as("check_name"), col("w1").as("value"))
      val cat = Drift.categoricalDrift(ref, cur, "source")
      val chi = cat.select(lit("chi2_source").as("check_name"),
        col("chi2").as("value"))
      val cv = cat.select(lit("cramers_v_source").as("check_name"),
        col("cramers_v").as("value"))
      psi.unionByName(ks).unionByName(w1).unionByName(chi).unionByName(cv)
        .select(col("check_name"), round(col("value") + lit(5e-10), 6).as("value"))
        .orderBy("check_name")
    }),
    Query("q13_wasserstein", Some(
      // the value census, one global cumulative, and the same decimal
      // cross-product mass with ONE final double division
      ("WITH v AS (SELECT CAST(l_extendedprice AS DECIMAL(18,6)) AS v, " +
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r, " +
        "CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS c " +
        "FROM lineitem WHERE l_returnflag IN ('R','A') AND l_extendedprice IS NOT NULL), " +
        "g AS (SELECT v, CAST(sum(r) AS BIGINT) AS nr, CAST(sum(c) AS BIGINT) AS nc FROM v GROUP BY v), " +
        "t AS (SELECT CAST(sum(nr) AS BIGINT) AS tr, CAST(sum(nc) AS BIGINT) AS tc FROM g), " +
        "w AS (SELECT v, sum(nr) OVER (ORDER BY v) AS cr, sum(nc) OVER (ORDER BY v) AS cc, " +
        "lead(v) OVER (ORDER BY v) AS nv FROM g), " +
        "m AS (SELECT sum(abs(cr * tc - cc * tr) * (nv - v)) AS mass FROM w, t WHERE nv IS NOT NULL) " +
        "SELECT round(mass::DOUBLE / (tr::DOUBLE * tc::DOUBLE) + 5e-10, 6) AS w1, " +
        "tr AS n_ref, tc AS n_cur FROM m, t")))((s, dir) => {
      // exact earth-mover drift between returned and accepted lines'
      // price distributions: decimal CDF cross-products over the value
      // census, range-partitioned cumulatives + driver prefix offsets
      // (the KS scaffold), ONE double division on the final row
      val li = table(s, dir, "lineitem")
      Drift.wasserstein1(
          li.filter(col("l_returnflag") === "R"),
          li.filter(col("l_returnflag") === "A"),
          "l_extendedprice")
        .select(round(col("w1") + lit(5e-10), 6).as("w1"),
          col("n_ref"), col("n_cur"))
    }),
    Query("q14_categorical_drift", Some(
      // two category censuses full-outer-joined, the homogeneity
      // quadratic with multiplication-before-division operand order
      ("WITH r AS (SELECT source AS cat, count(*)::BIGINT AS nr FROM documents " +
        "WHERE lang = 'en' AND source IS NOT NULL GROUP BY 1), " +
        "c AS (SELECT source AS cat, count(*)::BIGINT AS nc FROM documents " +
        "WHERE lang <> 'en' AND source IS NOT NULL GROUP BY 1), " +
        "j AS (SELECT coalesce(r.cat, c.cat) AS cat, coalesce(nr, 0) AS nr, " +
        "coalesce(nc, 0) AS nc FROM r FULL OUTER JOIN c ON r.cat = c.cat), " +
        "t AS (SELECT CAST(sum(nr) AS BIGINT) AS tr, CAST(sum(nc) AS BIGINT) AS tc, " +
        "count(*)::BIGINT AS g FROM j), " +
        "x AS (SELECT sum(" +
        "(CASE WHEN tr::DOUBLE * (nr + nc) / (tr + tc) > 0 " +
        "THEN (nr::DOUBLE - tr::DOUBLE * (nr + nc) / (tr + tc)) * (nr::DOUBLE - tr::DOUBLE * (nr + nc) / (tr + tc)) / (tr::DOUBLE * (nr + nc) / (tr + tc)) ELSE 0.0 END) + " +
        "(CASE WHEN tc::DOUBLE * (nr + nc) / (tr + tc) > 0 " +
        "THEN (nc::DOUBLE - tc::DOUBLE * (nr + nc) / (tr + tc)) * (nc::DOUBLE - tc::DOUBLE * (nr + nc) / (tr + tc)) / (tc::DOUBLE * (nr + nc) / (tr + tc)) ELSE 0.0 END)) AS chi2 " +
        "FROM j, t) " +
        "SELECT tr AS n_ref, tc AS n_cur, g AS n_categories, " +
        "round(CASE WHEN g > 1 THEN chi2 END + 5e-10, 6) AS chi2, " +
        "(g - 1)::BIGINT AS dof, " +
        "round(CASE WHEN g > 1 THEN sqrt(chi2 / (tr + tc)::DOUBLE) END + 5e-10, 6) AS cramers_v " +
        "FROM x, t")))((s, dir) => {
      // chi-square homogeneity of the source mix, English vs the rest:
      // two category censuses full-outer-joined, statistic + Cramer's V
      // off exact counts (p-value stays with the scipy-constant specs)
      val d = table(s, dir, "documents")
      Drift.categoricalDrift(
          d.filter(col("lang") === "en"),
          d.filter(col("lang") =!= "en"),
          "source")
        .select(col("n_ref"), col("n_cur"), col("n_categories"),
          round(col("chi2") + lit(5e-10), 6).as("chi2"), col("dof"),
          round(col("cramers_v") + lit(5e-10), 6).as("cramers_v"))
    }),
  )
}
