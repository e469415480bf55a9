package graft.queries

import org.apache.spark.sql.functions._
import graft.Query
import graft.Util.{roundDoubles, table}
import graft.oracle.TableOneSql
import graft.ops.{Association, Sampling}
import graft.tableone.{TableOne, TableOneConfig}

/** Table 1 and statistics (`t*`): `TableOne.summarize` end to end, its
  * weighted, SMD and IPTW variants, and the two-sample, rank, survival,
  * contingency and multiplicity tests, over the TPC-H `lineitem`,
  * `orders`, `customer` and `nation` tables. */
object TableOneQueries {

  // (name, isContinuous) in analysis order, per flagship target
  private val lineitemCols = Seq("l_linestatus" -> false, "l_quantity" -> true, "l_extendedprice" -> true)

  // every numeric lineitem column, in schema order (t9)
  private val t9Numeric = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  def all: Seq[Query] = Seq(
    // ---- TableOne end-to-end (SURVEY.md §3) ----
    Query("t1_tableone_lineitem", Some(TableOneSql.oracle(
      "lineitem", Some("l_returnflag"), Seq("A", "N", "R"), lineitemCols)
    ))((s, dir) => roundDoubles(TableOne.summarize(
      table(s, dir, "lineitem"),
      TableOneConfig(Some("l_returnflag"), Seq("l_linestatus", "l_quantity", "l_extendedprice"))))),
    Query("t2_tableone_customer", Some(TableOneSql.oracle(
      "customer", Some("c_mktsegment"),
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
      Seq("c_acctbal" -> true))))((s, dir) => roundDoubles(TableOne.summarize(
      table(s, dir, "customer"),
      TableOneConfig(Some("c_mktsegment"), Seq("c_acctbal"))))),
    Query("t3_tableone_unstrat", Some(TableOneSql.oracle(
      "lineitem", None, Nil, Seq("l_linestatus" -> false, "l_quantity" -> true))
    ))((s, dir) => roundDoubles(TableOne.summarize(
      table(s, dir, "lineitem"),
      TableOneConfig(None, Seq("l_linestatus", "l_quantity"))))),
    Query("t4_tableone_sanitize", Some(TableOneSql.oracle(
      "orders", Some("o_orderpriority"),
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT_SPECIFIED", "5-LOW"),
      Seq("o_orderstatus" -> false, "o_totalprice" -> true))))((s, dir) => roundDoubles(TableOne.summarize(
      table(s, dir, "orders"),
      TableOneConfig(Some("o_orderpriority"), Seq("o_orderstatus", "o_totalprice"))))),
    // p-values: not DuckDB-expressible (t/F/chi-square CDFs) -> rows-only
    // check; exact statistics are covered by the ScalaTest golden suite
    // AND by t5b below, which hash-checks the statistics themselves.
    Query("t5_tableone_pvalues", None)((s, dir) => TableOne.summarize(
      table(s, dir, "lineitem"),
      TableOneConfig(Some("l_linestatus"), Seq("l_returnflag", "l_quantity"), pValues = true))),
    // the statistic half of t5 made hash-green (r14 verdict #4): the
    // pooled-t and chi-square STATISTICS are closed-form over the same
    // moments/counts the hash-green t-queries already check, so DuckDB
    // replays them exactly — through the REAL t5 plumbing (summarize
    // with pValues=true), not a side computation. The p-values (CDF
    // evaluations DuckDB lacks) stay golden-spec'd against scipy
    // constants, matching the reference's test-selection rules
    // (tableone_pyspark.py:459-510). 2 strata (F/O) -> pooled t on
    // l_quantity; 3x2 contingency (dof 2, no Yates) -> chi-square on
    // l_returnflag.
    Query("t5b_tableone_statistics", Some(
      // pooled t from per-stratum (n, mean, var_samp) with strata in
      // TableOne's sorted order (F then O — the sign convention), and
      // Pearson chi-square from the 3x2 crosstab (dof 2 -> no Yates),
      // the same closed forms StatTests evaluates over the collected
      // moments
      ("WITH m AS (SELECT l_linestatus AS s, count(l_quantity)::BIGINT AS n, " +
        "avg(l_quantity) AS mean, var_samp(l_quantity) AS v " +
        "FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1), " +
        "tt AS (SELECT 't-test' AS test_name, " +
        "(a.mean - b.mean) / sqrt((((a.n - 1) * a.v + (b.n - 1) * b.v) / (a.n + b.n - 2)) " +
        "* (1.0 / a.n + 1.0 / b.n)) AS stat FROM m a, m b WHERE a.s = 'F' AND b.s = 'O'), " +
        "ct AS (SELECT l_returnflag AS r, l_linestatus AS s, count(*)::DOUBLE AS c " +
        "FROM lineitem GROUP BY 1, 2), " +
        "tots AS (SELECT c, sum(c) OVER (PARTITION BY r) AS rs, " +
        "sum(c) OVER (PARTITION BY s) AS cs, sum(c) OVER () AS g FROM ct), " +
        "chi AS (SELECT 'Chi-Square' AS test_name, " +
        "sum((c - rs * cs / g) ** 2 / (rs * cs / g)) AS stat FROM tots) " +
        "SELECT 'l_quantity' AS variable, test_name, round(stat + 5e-10, 6) AS test_value FROM tt " +
        "UNION ALL SELECT 'l_returnflag', test_name, round(stat + 5e-10, 6) FROM chi " +
        "ORDER BY variable")))((s, dir) => TableOne.summarize(
        table(s, dir, "lineitem"),
        TableOneConfig(Some("l_linestatus"), Seq("l_returnflag", "l_quantity"), pValues = true))
      .filter(col("test_name").isNotNull)
      .select(col("Characteristics").as("variable"), col("test_name"),
        round(col("test_value") + lit(5e-10), 6).as("test_value"))
      .orderBy("variable")),
    Query("t6_tableone_beautify", Some(TableOneSql.oracle(
      "customer", Some("c_mktsegment"),
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
      Seq("c_acctbal" -> true), beautify = true)))((s, dir) => roundDoubles(TableOne.summarize(
      table(s, dir, "customer"),
      TableOneConfig(Some("c_mktsegment"), Seq("c_acctbal"), beautify = true)))),
    // null semantics (tableone_pyspark.py:177-204): null strat values ->
    // MISSING stratum, null categorical values -> MISSING category, null
    // continuous values excluded from every statistic. TPC-H parquet is
    // null-free, so nulls are injected here to put the MISSING-fill and
    // null-exclusion paths under the DuckDB hash check.
    Query("t7_tableone_nulls", Some(TableOneSql.oracle(
      "(SELECT nullif(l_returnflag, 'N') AS l_returnflag, " +
        "nullif(l_linestatus, 'F') AS l_linestatus, " +
        "CASE WHEN l_quantity < 10 THEN NULL ELSE l_quantity END AS l_quantity " +
        "FROM lineitem) AS src",
      Some("l_returnflag"), Seq("A", "R", "MISSING"),
      Seq("l_linestatus" -> false, "l_quantity" -> true))))((s, dir) => roundDoubles(TableOne.summarize(
      table(s, dir, "lineitem")
        .withColumn("l_returnflag", expr("nullif(l_returnflag, 'N')"))
        .withColumn("l_linestatus", expr("nullif(l_linestatus, 'F')"))
        .withColumn("l_quantity", expr("CASE WHEN l_quantity < 10 THEN NULL ELSE l_quantity END")),
      TableOneConfig(Some("l_returnflag"), Seq("l_linestatus", "l_quantity"))))),
    // type dispatch beyond the reference's string/numeric warn-skip
    // (tableone_pyspark.py:215-217): boolean -> two-category variable,
    // decimal -> continuous, timestamp -> skipped with a warning (the
    // o_orderdate entry produces no output rows — the oracle omits it).
    // floor() before the decimal cast keeps the value set integral, so
    // decimal rounding modes cannot differ between engines.
    Query("t8_tableone_types", Some(TableOneSql.oracle(
      "(SELECT o_orderstatus, " +
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 'true' ELSE 'false' END AS o_is_urgent, " +
        "CAST(floor(o_totalprice) AS DECIMAL(18,2)) AS o_price_dec " +
        "FROM orders) AS src",
      Some("o_orderstatus"), Seq("F", "O", "P"),
      // o_orderdate is skipped by the engine (timestamp), so it does not
      // appear here — positions must match the ANALYZED column order
      Seq("o_is_urgent" -> false, "o_price_dec" -> true))))((s, dir) => roundDoubles(TableOne.summarize(
      table(s, dir, "orders")
        .withColumn("o_is_urgent", col("o_orderpriority") === "1-URGENT")
        .withColumn("o_price_dec", floor(col("o_totalprice")).cast("decimal(18,2)")),
      TableOneConfig(Some("o_orderstatus"), Seq("o_is_urgent", "o_price_dec", "o_orderdate"))))),
    // All 8 numeric lineitem columns: the widest census of the
    // t-queries (one row per distinct (column, value, stratum)). At
    // sf0.01 it fits OrderStatistics.LocalMaxRows, so the driver
    // computes it; a census above that bound stays distributed. The
    // distributed route is pinned at every size by the route-parity and
    // >LocalMaxRows-census specs (TableOneGoldenSpec,
    // TableOnePropertySpec). The categorical column puts the categorical
    // cells next to it under the same hash check.
    Query("t9_tableone_orderstat", Some(TableOneSql.oracle(
      "lineitem", Some("l_linestatus"), Seq("F", "O"),
      ("l_returnflag" -> false) +: t9Numeric.map(_ -> true))))((s, dir) => roundDoubles(TableOne.summarize(
      table(s, dir, "lineitem"),
      TableOneConfig(Some("l_linestatus"), "l_returnflag" +: t9Numeric)))),

    Query("t10_weighted_summary", Some(
      ("WITH src AS (SELECT l_returnflag AS stratum, l_linestatus, l_quantity, " +
        "1.0 + (l_orderkey % 5) * 0.5 AS w FROM lineitem), " +
        "tot AS (SELECT stratum, sum(w) AS wtot FROM src GROUP BY stratum), " +
        "catp AS (SELECT 'l_linestatus' AS variable, l_linestatus AS level, stratum, " +
        "sum(w) AS weighted_n FROM src GROUP BY stratum, l_linestatus), " +
        "cat2 AS (SELECT variable, level, catp.stratum, weighted_n, " +
        "weighted_n / tot.wtot * 100.0 AS weighted_pct, " +
        "NULL::DOUBLE AS weighted_mean, NULL::DOUBLE AS weighted_sd " +
        "FROM catp JOIN tot ON tot.stratum = catp.stratum), " +
        "conp AS (SELECT 'l_quantity' AS variable, NULL::VARCHAR AS level, stratum, " +
        "sum(w) AS sw, sum(w * l_quantity) AS swx, sum(w * l_quantity * l_quantity) AS swx2 " +
        "FROM src WHERE l_quantity IS NOT NULL GROUP BY stratum), " +
        "con2 AS (SELECT variable, level, stratum, sw AS weighted_n, " +
        "NULL::DOUBLE AS weighted_pct, " +
        "CASE WHEN sw > 0.0 THEN swx / sw END AS weighted_mean, " +
        "CASE WHEN sw > 1.0 THEN sqrt(greatest((swx2 - swx * swx / sw) / (sw - 1.0), 0.0)) END AS weighted_sd FROM conp), " +
        "allp AS (SELECT * FROM cat2 UNION ALL SELECT * FROM con2) " +
        "SELECT variable, level, stratum, round(weighted_n + 5e-10, 6) AS weighted_n, " +
        "round(weighted_pct + 5e-10, 6) AS weighted_pct, " +
        "round(weighted_mean + 5e-10, 6) AS weighted_mean, " +
        "round(weighted_sd + 5e-10, 6) AS weighted_sd " +
        "FROM allp ORDER BY variable, stratum, level")))((s, dir) => {
      // survey-weighted Table 1 (sampling-weight capability the
      // reference lacks): deterministic dyadic weights planted from
      // l_orderkey, weighted counts/percents for the categorical and
      // one-pass weighted moments for the continuous — frequency-weight
      // SD formula, spelled identically in the oracle
      val li = table(s, dir, "lineitem")
        .withColumn("w", lit(1.0) + (col("l_orderkey") % 5).cast("double") * lit(0.5))
      graft.tableone.WeightedSummary.summarize(li, Some("l_returnflag"),
          Seq("l_linestatus"), Seq("l_quantity"), "w")
        .select(col("variable"), col("level"), col("stratum"),
          round(col("weighted_n") + lit(5e-10), 6).as("weighted_n"),
          round(col("weighted_pct") + lit(5e-10), 6).as("weighted_pct"),
          round(col("weighted_mean") + lit(5e-10), 6).as("weighted_mean"),
          round(col("weighted_sd") + lit(5e-10), 6).as("weighted_sd"))
        .orderBy("variable", "stratum", "level")
    }),

    Query("t11_smd", Some(
      // the melted moment frame as a 3-way UNION ALL, the pair self-join
      // on strat_a < strat_b, and both variance formulas with the
      // operator's exact operation order
      ("WITH src AS (SELECT l_returnflag::VARCHAR AS s, l_quantity::DOUBLE AS q, " +
        "l_extendedprice::DOUBLE AS e, " +
        "(CASE WHEN l_discount > 0.05 THEN 1e0 ELSE 0e0 END) AS hd FROM lineitem " +
        "WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL " +
        "AND l_discount IS NOT NULL AND l_returnflag IS NOT NULL), " +
        "m AS (SELECT 'l_quantity' AS variable, 'cont' AS kind, s, " +
        "count(*)::BIGINT AS n, sum(q) AS s1, sum(q*q) AS s2 FROM src GROUP BY s " +
        "UNION ALL SELECT 'l_extendedprice', 'cont', s, count(*)::BIGINT, sum(e), sum(e*e) FROM src GROUP BY s " +
        "UNION ALL SELECT 'high_discount', 'bin', s, count(*)::BIGINT, sum(hd), sum(hd*hd) FROM src GROUP BY s), " +
        "p AS (SELECT a.variable, a.kind, a.s AS strat_a, b.s AS strat_b, " +
        "a.n AS n_a, b.n AS n_b, a.s1/a.n AS ma, b.s1/b.n AS mb, " +
        "CASE WHEN a.kind = 'cont' THEN " +
        "((a.s2 - a.s1*a.s1/a.n)/(a.n - 1) + (b.s2 - b.s1*b.s1/b.n)/(b.n - 1))/2e0 " +
        "ELSE ((a.s1/a.n)*(1e0 - a.s1/a.n) + (b.s1/b.n)*(1e0 - b.s1/b.n))/2e0 END AS pooled " +
        "FROM m a JOIN m b ON a.variable = b.variable AND a.kind = b.kind AND a.s < b.s) " +
        "SELECT variable, kind, strat_a, strat_b, n_a, n_b, " +
        "round(CASE WHEN pooled > 0 THEN (ma - mb)/sqrt(pooled) END + 5e-10, 6) AS smd " +
        "FROM p ORDER BY variable, strat_a, strat_b")))((s, dir) =>
      // standardized mean differences between return-flag strata — the
      // balance diagnostic p-values stop providing at corpus scale:
      // two continuous variables (sample-variance formula) and one
      // planted binary (proportion formula), all from ONE melted
      // aggregate + a moment-frame self-join
      graft.tableone.Smd.pairwise(
          table(s, dir, "lineitem")
            .filter(col("l_quantity").isNotNull && col("l_extendedprice").isNotNull &&
              col("l_discount").isNotNull)
            .withColumn("high_discount", (col("l_discount") > 0.05).cast("double")),
          "l_returnflag",
          contCols = Seq("l_quantity", "l_extendedprice"),
          binCols = Seq("high_discount"))
        .select(col("variable"), col("kind"), col("strat_a"), col("strat_b"),
          col("n_a"), col("n_b"),
          round(col("smd") + lit(5e-10), 6).as("smd"))
        .orderBy("variable", "strat_a", "strat_b")),

    Query("t12_mann_whitney", Some(
      // census → distinct-value avg ranks → exact half-integer rank
      // sums, every formula in the operator's operation order
      ("WITH cen AS (SELECT l_quantity::DOUBLE AS v, l_linestatus::VARCHAR AS g, " +
        "count(*)::BIGINT AS c FROM lineitem " +
        "WHERE l_linestatus IS NOT NULL AND l_quantity IS NOT NULL GROUP BY 1, 2), " +
        "bv AS (SELECT v, sum(c)::BIGINT AS cv FROM cen GROUP BY v), " +
        "rk AS (SELECT v, cv, coalesce(sum(cv) OVER " +
        "(ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "+ (cv + 1) / 2.0 AS r FROM bv), " +
        "j AS (SELECT cen.g, cen.c, rk.cv, rk.r FROM cen JOIN rk USING (v)), " +
        "s AS (SELECT sum((CASE WHEN g = 'F' THEN c ELSE 0 END)::DOUBLE * r) AS r1, " +
        "sum(CASE WHEN g = 'F' THEN c ELSE 0 END)::BIGINT AS n1, " +
        "sum(c)::BIGINT AS n, sum((cv::HUGEINT * cv - 1) * c)::DOUBLE AS tie FROM j), " +
        "u AS (SELECT n1, n, tie, r1 - n1::DOUBLE * (n1 + 1) / 2.0 AS u1 FROM s) " +
        "SELECT 'F' AS group_lo, 'O' AS group_hi, n1 AS n_lo, n - n1 AS n_hi, " +
        "round(u1 + 5e-10, 6) AS u_lo, " +
        "round((u1 - n1::DOUBLE * (n::DOUBLE - n1::DOUBLE) / 2.0) / " +
        "sqrt(n1::DOUBLE * (n::DOUBLE - n1::DOUBLE) / 12.0 * " +
        "((n::DOUBLE + 1.0) - tie / (n::DOUBLE * (n::DOUBLE - 1.0)))) + 5e-10, 6) AS z, " +
        "round(1.0 - 2.0 * u1 / (n1::DOUBLE * (n - n1)) + 5e-10, 6) AS rank_biserial " +
        "FROM u")))((s, dir) =>
      // nonparametric two-group test over the heavily-tied quantity
      // column (50 distinct values × 60k rows — the census discipline's
      // home turf): tie-corrected z without ranking a single row
      graft.tableone.RankTests.mannWhitney(
          table(s, dir, "lineitem"), "l_linestatus", "l_quantity")
        .select(col("group_lo"), col("group_hi"), col("n_lo"), col("n_hi"),
          round(col("u_lo") + lit(5e-10), 6).as("u_lo"),
          round(col("z") + lit(5e-10), 6).as("z"),
          round(col("rank_biserial") + lit(5e-10), 6).as("rank_biserial"))),

    Query("t13_kruskal_wallis", Some(
      // same census; per-group rank sums, tie-corrected H, epsilon^2
      ("WITH cen AS (SELECT l_quantity::DOUBLE AS v, l_returnflag::VARCHAR AS g, " +
        "count(*)::BIGINT AS c FROM lineitem " +
        "WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL GROUP BY 1, 2), " +
        "bv AS (SELECT v, sum(c)::BIGINT AS cv FROM cen GROUP BY v), " +
        "rk AS (SELECT v, cv, coalesce(sum(cv) OVER " +
        "(ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "+ (cv + 1) / 2.0 AS r FROM bv), " +
        "j AS (SELECT cen.g, cen.c, rk.cv, rk.r FROM cen JOIN rk USING (v)), " +
        "pg AS (SELECT g, sum(c::DOUBLE * r) AS rg, sum(c)::BIGINT AS ng, " +
        "sum((cv::HUGEINT * cv - 1) * c) AS tg FROM j GROUP BY g), " +
        "s AS (SELECT count(*)::BIGINT AS k, sum(ng)::BIGINT AS n, " +
        "sum(rg * rg / ng::DOUBLE) AS sq, sum(tg)::DOUBLE AS tie FROM pg), " +
        "hh AS (SELECT k, n, (12.0 / (n::DOUBLE * (n::DOUBLE + 1.0)) * sq " +
        "- 3.0 * (n::DOUBLE + 1.0)) / " +
        "(1.0 - tie / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)) AS h FROM s) " +
        "SELECT k AS n_groups, n, round(h + 5e-10, 6) AS h, " +
        "round((h - k::DOUBLE + 1.0) / (n::DOUBLE - k::DOUBLE) + 5e-10, 6) AS epsilon_sq " +
        "FROM hh")))((s, dir) =>
      // the 3-group nonparametric ANOVA companion, same census shape
      graft.tableone.RankTests.kruskalWallis(
          table(s, dir, "lineitem"), "l_returnflag", "l_quantity")
        .select(col("n_groups"), col("n"),
          round(col("h") + lit(5e-10), 6).as("h"),
          round(col("epsilon_sq") + lit(5e-10), 6).as("epsilon_sq"))),

    Query("t14_km_curve", Some(
      // census -> at-risk windows -> exp(running ln-sum) with the
      // absorbing-zero dead flag, replayed step-for-step
      ("WITH src AS (SELECT date_diff('day', o_orderdate::DATE, l_shipdate::DATE)::DOUBLE AS t, " +
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ev, l_linestatus AS g " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
        "cen AS (SELECT g, t, sum(ev)::BIGINT AS d, sum(1 - ev)::BIGINT AS c " +
        "FROM src GROUP BY 1, 2), " +
        "w AS (SELECT g, t, d, c, sum(d + c) OVER (PARTITION BY g)::BIGINT AS ng, " +
        "coalesce(sum(d + c) OVER (PARTITION BY g ORDER BY t " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cb FROM cen), " +
        "k AS (SELECT g, t, d, c, ng - cb AS n_risk, " +
        "CASE WHEN d > 0 AND d < ng - cb THEN ln(1.0 - d::DOUBLE / (ng - cb)::DOUBLE) " +
        "ELSE 0.0 END AS lnterm, " +
        "CASE WHEN d = ng - cb THEN 1 ELSE 0 END AS deadf FROM w), " +
        "s AS (SELECT g, t, n_risk, d, c, sum(deadf) OVER pw AS dead, " +
        "exp(sum(lnterm) OVER pw) AS sv FROM k " +
        "WINDOW pw AS (PARTITION BY g ORDER BY t " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT g, t, n_risk, d AS n_event, c AS n_censor, " +
        "round(CASE WHEN dead > 0 THEN 0.0 ELSE sv END + 5e-10, 6) AS survival " +
        "FROM s ORDER BY g, t")))((s, dir) =>
      // Kaplan-Meier over ship-delay days (order placed -> line shipped),
      // "return" as the event, censored otherwise; the subjects frame is
      // a genuine fact-fact shuffle join, the curve is census-sized
      graft.ops.Survival.kaplanMeier(
          table(s, dir, "lineitem")
            .join(table(s, dir, "orders"),
              col("l_orderkey") === col("o_orderkey"))
            .select(datediff(col("l_shipdate"), col("o_orderdate"))
              .cast("double").as("dur"),
              (col("l_returnflag") === "R").cast("int").as("ev"),
              col("l_linestatus").as("g")),
          "g", "dur", "ev")
        .select(col("g"), col("t"), col("n_risk"), col("n_event"),
          col("n_censor"),
          round(col("survival") + lit(5e-10), 6).as("survival"))
        .orderBy("g", "t")),

    Query("t26_nelson_aalen", Some(
      // the t14 census + at-risk windows with the d/n running sum
      ("WITH src AS (SELECT date_diff('day', o_orderdate::DATE, l_shipdate::DATE)::DOUBLE AS t, " +
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ev, l_linestatus AS g " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
        "cen AS (SELECT g, t, sum(ev)::BIGINT AS d, sum(1 - ev)::BIGINT AS c " +
        "FROM src GROUP BY 1, 2), " +
        "w AS (SELECT g, t, d, c, sum(d + c) OVER (PARTITION BY g)::BIGINT AS ng, " +
        "coalesce(sum(d + c) OVER (PARTITION BY g ORDER BY t " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cb FROM cen), " +
        "h AS (SELECT g, t, d, c, ng - cb AS n_risk, " +
        "sum(CASE WHEN d > 0 THEN d::DOUBLE / (ng - cb)::DOUBLE ELSE 0.0 END) " +
        "OVER (PARTITION BY g ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch " +
        "FROM w) " +
        "SELECT g, t, n_risk, d AS n_event, c AS n_censor, " +
        "round(ch + 5e-10, 6) AS cum_hazard FROM h ORDER BY g, t")))((s, dir) =>
      // cumulative hazard over the t14 subjects frame: the same census
      // + at-risk windows, a d/n running sum instead of the product
      // limit (no absorbing zero — a d = n terminal adds a finite step)
      graft.ops.Survival.nelsonAalen(
          table(s, dir, "lineitem")
            .join(table(s, dir, "orders"),
              col("l_orderkey") === col("o_orderkey"))
            .select(datediff(col("l_shipdate"), col("o_orderdate"))
              .cast("double").as("dur"),
              (col("l_returnflag") === "R").cast("int").as("ev"),
              col("l_linestatus").as("g")),
          "g", "dur", "ev")
        .select(col("g"), col("t"), col("n_risk"), col("n_event"),
          col("n_censor"),
          round(col("cum_hazard") + lit(5e-10), 6).as("cum_hazard"))
        .orderBy("g", "t")),

    Query("t15_logrank", Some(
      // completed (group x pooled time) grid, then the expectation walk
      ("WITH src AS (SELECT date_diff('day', o_orderdate::DATE, l_shipdate::DATE)::DOUBLE AS t, " +
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ev, l_linestatus AS g " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
        "cen AS (SELECT g, t, sum(ev)::BIGINT AS d, sum(1 - ev)::BIGINT AS c " +
        "FROM src GROUP BY 1, 2), " +
        "grid AS (SELECT gg.g, tt.t FROM (SELECT DISTINCT g FROM cen) gg " +
        "CROSS JOIN (SELECT DISTINCT t FROM cen) tt), " +
        "fl AS (SELECT grid.g, grid.t, coalesce(cen.d, 0) AS d, coalesce(cen.c, 0) AS c " +
        "FROM grid LEFT JOIN cen ON grid.g = cen.g AND grid.t = cen.t), " +
        "w AS (SELECT g, t, d, sum(d + c) OVER (PARTITION BY g)::BIGINT " +
        "- coalesce(sum(d + c) OVER (PARTITION BY g ORDER BY t " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS n_risk FROM fl), " +
        "pt AS (SELECT t, sum(d)::BIGINT AS d, " +
        "sum(CASE WHEN g = 'F' THEN d ELSE 0 END)::BIGINT AS d1, " +
        "sum(n_risk)::BIGINT AS n, " +
        "sum(CASE WHEN g = 'F' THEN n_risk ELSE 0 END)::BIGINT AS n1 " +
        "FROM w GROUP BY t HAVING sum(d) > 0), " +
        "s AS (SELECT sum(d1)::BIGINT AS o_lo, sum(d::DOUBLE * n1 / n) AS e_lo, " +
        "sum(CASE WHEN n > 1 THEN d::DOUBLE * (n1::DOUBLE / n) * " +
        "(1.0 - n1::DOUBLE / n) * (n - d)::DOUBLE / (n - 1)::DOUBLE " +
        "ELSE 0.0 END) AS v FROM pt) " +
        "SELECT 'F' AS group_lo, 'O' AS group_hi, o_lo, " +
        "round(e_lo + 5e-10, 6) AS e_lo, " +
        "round((o_lo::DOUBLE - e_lo) / sqrt(v) + 5e-10, 6) AS z, " +
        "round((o_lo::DOUBLE - e_lo) * (o_lo::DOUBLE - e_lo) / v + 5e-10, 6) AS chi2 " +
        "FROM s")))((s, dir) =>
      // two-group log-rank z over the same subjects frame
      graft.ops.Survival.logRank(
          table(s, dir, "lineitem")
            .join(table(s, dir, "orders"),
              col("l_orderkey") === col("o_orderkey"))
            .select(datediff(col("l_shipdate"), col("o_orderdate"))
              .cast("double").as("dur"),
              (col("l_returnflag") === "R").cast("int").as("ev"),
              col("l_linestatus").as("g")),
          "g", "dur", "ev")
        .select(col("group_lo"), col("group_hi"), col("o_lo"),
          round(col("e_lo") + lit(5e-10), 6).as("e_lo"),
          round(col("z") + lit(5e-10), 6).as("z"),
          round(col("chi2") + lit(5e-10), 6).as("chi2"))),

    Query("t16_iptw_balance", Some(
      // marginal rate, stabilized/clamped weights, melted conditional
      // weighted moments — every formula in the operator's order
      ("WITH src AS (SELECT CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS t, " +
        "1.0 / (1.0 + exp(-(-0.2 + 0.01 * l_quantity + 2.0 * l_tax))) AS ps, " +
        "l_quantity AS q, l_extendedprice AS e FROM lineitem), " +
        "p AS (SELECT avg(t::DOUBLE) AS p FROM src), " +
        "w AS (SELECT t, q, e, CASE WHEN ps > 0 AND ps < 1 THEN " +
        "least(greatest(CASE WHEN t = 1 THEN p.p / ps " +
        "ELSE (1.0 - p.p) / (1.0 - ps) END, 0.1), 10.0) END AS w " +
        "FROM src CROSS JOIN p), " +
        "m AS (SELECT 'l_quantity' AS variable, t, w, q AS x FROM w " +
        "UNION ALL SELECT 'l_extendedprice', t, w, e FROM w), " +
        "g AS (SELECT variable, " +
        "sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t, " +
        "sum(CASE WHEN t = 0 THEN 1 ELSE 0 END)::BIGINT AS n_c, " +
        "sum(CASE WHEN t = 1 THEN w ELSE 0.0 END) AS swt, " +
        "sum(CASE WHEN t = 0 THEN w ELSE 0.0 END) AS swc, " +
        "sum(CASE WHEN t = 1 THEN w * w ELSE 0.0 END) AS swwt, " +
        "sum(CASE WHEN t = 0 THEN w * w ELSE 0.0 END) AS swwc, " +
        "sum(CASE WHEN t = 1 THEN w * x ELSE 0.0 END) AS swxt, " +
        "sum(CASE WHEN t = 0 THEN w * x ELSE 0.0 END) AS swxc, " +
        "sum(CASE WHEN t = 1 THEN w * x * x ELSE 0.0 END) AS swxxt, " +
        "sum(CASE WHEN t = 0 THEN w * x * x ELSE 0.0 END) AS swxxc " +
        "FROM m WHERE w IS NOT NULL AND x IS NOT NULL GROUP BY variable), " +
        "f AS (SELECT variable, n_t, n_c, swt * swt / swwt AS ess_t, " +
        "swc * swc / swwc AS ess_c, swxt / swt AS mt, swxc / swc AS mc, " +
        "(swxxt / swt - swxt / swt * (swxt / swt) + " +
        "(swxxc / swc - swxc / swc * (swxc / swc))) / 2.0 AS pooled FROM g) " +
        "SELECT variable, n_t, n_c, round(ess_t + 5e-10, 6) AS ess_t, " +
        "round(ess_c + 5e-10, 6) AS ess_c, round(mt + 5e-10, 6) AS wmean_t, " +
        "round(mc + 5e-10, 6) AS wmean_c, " +
        "round(CASE WHEN pooled > 0 THEN (mt - mc) / sqrt(pooled) END + 5e-10, 6) AS wsmd " +
        "FROM f ORDER BY variable")))((s, dir) => {
      // IPTW balance check: fixed-coefficient logistic scores (fitting
      // is the caller's model; the weighting/diagnostic algebra is the
      // operator), stabilized + clamped weights, weighted SMDs + ESS
      val src = table(s, dir, "lineitem")
        .select(
          (col("l_discount") > 0.05).cast("int").as("treat"),
          (lit(1.0) / (lit(1.0) + exp(-(lit(-0.2) + lit(0.01) * col("l_quantity") +
            lit(2.0) * col("l_tax"))))).as("ps"),
          col("l_quantity"), col("l_extendedprice"))
      graft.tableone.Iptw.weightedBalance(
          graft.tableone.Iptw.stabilizedWeights(src, "treat", "ps", 0.1, 10.0),
          "treat", "iptw", Seq("l_quantity", "l_extendedprice"))
        .select(col("variable"), col("n_t"), col("n_c"),
          round(col("ess_t") + lit(5e-10), 6).as("ess_t"),
          round(col("ess_c") + lit(5e-10), 6).as("ess_c"),
          round(col("wmean_t") + lit(5e-10), 6).as("wmean_t"),
          round(col("wmean_c") + lit(5e-10), 6).as("wmean_c"),
          round(col("wsmd") + lit(5e-10), 6).as("wsmd"))
        .orderBy("variable")
    }),

    Query("t17_two_proportion", Some(
      // joined census, total window over the 5 census rows, pooled z
      ("WITH j AS (SELECT c_mktsegment AS g, " +
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS s " +
        "FROM orders JOIN customer ON o_custkey = c_custkey), " +
        "cen AS (SELECT g, count(*)::BIGINT AS n, sum(s)::BIGINT AS x " +
        "FROM j GROUP BY g), " +
        "t AS (SELECT g, n, x, sum(n) OVER ()::BIGINT AS nn, " +
        "sum(x) OVER ()::BIGINT AS xx FROM cen) " +
        "SELECT g AS c_mktsegment, n, x AS successes, " +
        "round(x::DOUBLE / n + 5e-10, 6) AS p_group, " +
        "round((xx - x)::DOUBLE / (nn - n) + 5e-10, 6) AS p_rest, " +
        "round(CASE WHEN nn > n AND xx::DOUBLE / nn > 0 AND xx::DOUBLE / nn < 1 THEN " +
        "(x::DOUBLE / n - (xx - x)::DOUBLE / (nn - n)) / " +
        "sqrt((xx::DOUBLE / nn) * (1 - xx::DOUBLE / nn) * (1.0 / n + 1.0 / (nn - n))) END " +
        "+ 5e-10, 6) AS z FROM t ORDER BY 1")))((s, dir) => {
      // does any market segment place urgent orders at a different
      // rate? group-vs-rest two-proportion z over the joined census
      val o = table(s, dir, "orders")
        .select(col("o_custkey"),
          (col("o_orderpriority") === "1-URGENT").cast("int").as("urgent"))
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.ops.Association.twoProportionZ(
          o.join(c, o("o_custkey") === c("c_custkey")), "c_mktsegment", "urgent")
        .select(col("c_mktsegment"), col("n"), col("successes"),
          round(col("p_group") + lit(5e-10), 6).as("p_group"),
          round(col("p_rest") + lit(5e-10), 6).as("p_rest"),
          round(col("z") + lit(5e-10), 6).as("z"))
        .orderBy("c_mktsegment")
    }),

    Query("t18_wilson_ci", Some(
      // same census, Wilson algebra with the operator's exact op order
      ("WITH j AS (SELECT c_mktsegment AS g, " +
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS s " +
        "FROM orders JOIN customer ON o_custkey = c_custkey), " +
        "cen AS (SELECT g, count(*)::BIGINT AS n, sum(s)::BIGINT AS x " +
        "FROM j GROUP BY g), " +
        "k AS (SELECT g, n, x, x::DOUBLE / n AS ph, 1.959963984540054 AS z, " +
        "1.959963984540054 * 1.959963984540054 AS z2 FROM cen), " +
        "c2 AS (SELECT g, n, x, ph, " +
        "(ph + z2 / (2.0 * n)) / (1.0 + z2 / n) AS center, " +
        "z * sqrt(ph * (1.0 - ph) / n + z2 / (4.0 * n * n)) / (1.0 + z2 / n) AS half " +
        "FROM k) " +
        "SELECT g AS c_mktsegment, n, x AS successes, " +
        "round(ph + 5e-10, 6) AS p_hat, " +
        "round(center - half + 5e-10, 6) AS ci_lo, " +
        "round(center + half + 5e-10, 6) AS ci_hi FROM c2 ORDER BY 1")))((s, dir) => {
      // interval companion to t17's z: Wilson 95% CI on each segment's
      // urgent-order rate — same joined census, row-local algebra
      val o = table(s, dir, "orders")
        .select(col("o_custkey"),
          (col("o_orderpriority") === "1-URGENT").cast("int").as("urgent"))
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.ops.Association.wilsonInterval(
          o.join(c, o("o_custkey") === c("c_custkey")), "c_mktsegment", "urgent")
        .select(col("c_mktsegment"), col("n"), col("successes"),
          round(col("p_hat") + lit(5e-10), 6).as("p_hat"),
          round(col("ci_lo") + lit(5e-10), 6).as("ci_lo"),
          round(col("ci_hi") + lit(5e-10), 6).as("ci_hi"))
        .orderBy("c_mktsegment")
    }),

    Query("t19_cochran_armitage", Some(
      // same census, exact-integer sums, identical T / Var(T) op order
      ("WITH cen AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w, " +
        "count(*)::BIGINT AS n, " +
        "sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS x " +
        "FROM orders WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL " +
        "GROUP BY 1), " +
        "t AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nn, sum(x)::BIGINT AS xx, " +
        "sum(n * w)::BIGINT AS snw, sum(n * w * w)::BIGINT AS snw2, " +
        "sum(w * x)::BIGINT AS swx FROM cen), " +
        "f AS (SELECT k, nn, xx, swx - (xx::DOUBLE / nn) * snw AS tst, " +
        "(xx::DOUBLE / nn) * (1.0 - xx::DOUBLE / nn) * " +
        "(snw2 - snw::DOUBLE * snw / nn) AS vart FROM t) " +
        "SELECT k AS n_groups, nn AS n, xx AS successes, " +
        "round(tst + 5e-10, 6) AS t_stat, " +
        "round(CASE WHEN vart > 0 THEN tst / sqrt(vart) END + 5e-10, 6) AS z FROM f")))((s, dir) =>
      // dose-response: does the fully-shipped rate TREND across the
      // ordered urgency levels (score = the priority's leading digit)?
      // one census aggregate; exact longs until p-bar's division
      graft.ops.Association.cochranArmitage(
          table(s, dir, "orders")
            .filter(col("o_orderpriority").isNotNull && col("o_orderstatus").isNotNull)
            .select(substring(col("o_orderpriority"), 1, 1).cast("long").as("w"),
              (col("o_orderstatus") === "F").cast("int").as("shipped")),
          "w", "shipped")
        .select(col("n_groups"), col("n"), col("successes"),
          round(col("t_stat") + lit(5e-10), 6).as("t_stat"),
          round(col("z") + lit(5e-10), 6).as("z"))),

    Query("t21_mcnemar", Some(
      // four exact-integer cells, the continuity-corrected ratio at the end
      ("WITH s AS (SELECT CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS a, " +
        "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS p " +
        "FROM orders WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL), " +
        "t AS (SELECT count(*)::BIGINT AS n, " +
        "sum(CASE WHEN a = p THEN 1 ELSE 0 END)::BIGINT AS n_agree, " +
        "sum(CASE WHEN a = 1 AND p = 0 THEN 1 ELSE 0 END)::BIGINT AS b, " +
        "sum(CASE WHEN a = 0 AND p = 1 THEN 1 ELSE 0 END)::BIGINT AS c FROM s) " +
        "SELECT n, n_agree, b, c, " +
        "round(CASE WHEN b + c > 0 THEN " +
        "(abs(b - c)::DOUBLE - 1.0) * (abs(b - c)::DOUBLE - 1.0) / (b + c) END " +
        "+ 5e-10, 6) AS chi2 FROM t")))((s, dir) =>
      // paired screens over the same orders: does the high-value flag
      // disagree with the high-urgency flag symmetrically? one aggregate
      graft.ops.Association.mcnemar(
          table(s, dir, "orders")
            .filter(col("o_totalprice").isNotNull && col("o_orderpriority").isNotNull)
            .select((col("o_totalprice") > 150000).cast("int").as("hi_value"),
              col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
                .as("hi_urgency")),
          "hi_value", "hi_urgency")
        .select(col("n"), col("n_agree"), col("b"), col("c"),
          round(col("chi2") + lit(5e-10), 6).as("chi2"))),

    Query("t20_levene", Some(
      // exact-integer group means make every |x - mean| bit-identical;
      // the census closed forms mirror the operator's op order
      ("WITH c AS (SELECT l_returnflag AS g, l_quantity::DOUBLE AS x FROM lineitem " +
        "WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL), " +
        "m AS (SELECT g, sum(x) / count(*) AS mu FROM c GROUP BY 1), " +
        "z AS (SELECT c.g, abs(c.x - m.mu) AS z FROM c JOIN m ON c.g = m.g), " +
        "s AS (SELECT g, count(*)::BIGINT AS n, sum(z) AS sz, sum(z * z) AS szz " +
        "FROM z GROUP BY 1), " +
        "t AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nn, " +
        "sum(sz * sz / n) AS sbn, sum(sz) AS szt, sum(szz) AS szzt FROM s), " +
        "f AS (SELECT k, nn, sbn - szt * szt / nn AS ssb, szzt - sbn AS ssw FROM t) " +
        "SELECT k AS n_groups, nn AS n, round(ssb + 5e-10, 2) AS ssb, " +
        "round(ssw + 5e-10, 2) AS ssw, " +
        "round(CASE WHEN k >= 2 AND ssw > 0 THEN " +
        "((nn::DOUBLE - k) / (k - 1.0)) * (ssb / ssw) END + 5e-10, 6) AS w FROM f")))((s, dir) =>
      // are the quantity spreads equal across return flags? Levene with
      // mean centers — the assumption check behind t5's pooled tests.
      // ssb/ssw round at 2 dp (each is a small difference of ~1e7-scale
      // sums, so float-order noise lives near 1e-5); W's ratio form
      // cancels that noise and holds 6 dp
      graft.ops.Association.leveneTest(
          table(s, dir, "lineitem"), "l_returnflag", "l_quantity")
        .select(col("n_groups"), col("n"),
          round(col("ssb") + lit(5e-10), 2).as("ssb"),
          round(col("ssw") + lit(5e-10), 2).as("ssw"),
          round(col("w") + lit(5e-10), 6).as("w"))),
    Query("t23_kendall_tau", Some(
      // census self-join with x1 < x2, HUGEINT pair sums, marginal tie
      // pairs, and the identical tau-b algebra
      ("WITH c AS (SELECT l_quantity::DOUBLE AS x, l_discount::DOUBLE AS y, count(*)::BIGINT AS c " +
        "FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL GROUP BY 1, 2), " +
        "cd AS (SELECT coalesce(sum(CASE WHEN a.y < b.y THEN a.c * b.c END), 0) AS C, " +
        "coalesce(sum(CASE WHEN a.y > b.y THEN a.c * b.c END), 0) AS D " +
        "FROM c a JOIN c b ON a.x < b.x), " +
        "tx AS (SELECT coalesce(sum(t * (t - 1) // 2), 0) AS n1 FROM (SELECT sum(c)::BIGINT AS t FROM c GROUP BY x)), " +
        "ty AS (SELECT coalesce(sum(t * (t - 1) // 2), 0) AS n2 FROM (SELECT sum(c)::BIGINT AS t FROM c GROUP BY y)), " +
        "nf AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*)::BIGINT AS n_cells FROM c) " +
        "SELECT n, n_cells, CAST(C AS BIGINT) AS concordant, CAST(D AS BIGINT) AS discordant, " +
        "round(CASE WHEN sqrt(((n * (n - 1) // 2)::DOUBLE - n1::DOUBLE) * ((n * (n - 1) // 2)::DOUBLE - n2::DOUBLE)) > 0 " +
        "THEN (C - D)::DOUBLE / sqrt(((n * (n - 1) // 2)::DOUBLE - n1::DOUBLE) * ((n * (n - 1) // 2)::DOUBLE - n2::DOUBLE)) END " +
        "+ 5e-10, 6) AS tau_b " +
        "FROM nf, cd, tx, ty")))((s, dir) =>
      // ordinal concordance between quantity and discount: C/D pair
      // counts off the bounded (x, y) cell census (50x11 cells), ties
      // from the marginals — rows touched once, pairs counted in cell
      // space (the documented tiny-cross class)
      Association.kendallTau(
          table(s, dir, "lineitem").select("l_quantity", "l_discount"),
          "l_quantity", "l_discount")
        .select(col("n"), col("n_cells"), col("concordant"), col("discordant"),
          round(col("tau_b") + lit(5e-10), 6).as("tau_b"))),
    Query("t24_mantel_haenszel", Some(
      // the stratum 2x2 census, the MH sums, and the uncorrected CMH
      // quadratic replayed with the identical operand order
      ("WITH c AS (SELECT l_returnflag AS s, " +
        "CAST(sum(CASE WHEN l_quantity > 25 AND l_discount >= 0.05::DOUBLE THEN 1 ELSE 0 END) AS BIGINT) AS a, " +
        "CAST(sum(CASE WHEN l_quantity > 25 AND NOT (l_discount >= 0.05::DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS b, " +
        "CAST(sum(CASE WHEN NOT (l_quantity > 25) AND l_discount >= 0.05::DOUBLE THEN 1 ELSE 0 END) AS BIGINT) AS c, " +
        "CAST(sum(CASE WHEN NOT (l_quantity > 25) AND NOT (l_discount >= 0.05::DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS d " +
        "FROM lineitem WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL " +
        "AND l_discount IS NOT NULL GROUP BY 1), " +
        "f AS (SELECT *, a + b + c + d AS nk FROM c WHERE a + b + c + d >= 2), " +
        "g AS (SELECT count(*)::BIGINT AS n_strata, CAST(sum(nk) AS BIGINT) AS n, " +
        "CAST(sum(a) AS BIGINT) AS sum_a, " +
        "sum(a::DOUBLE * d / nk) AS rn, sum(b::DOUBLE * c / nk) AS rd, " +
        "sum((a + b)::DOUBLE * (a + c) / nk) AS esum, " +
        "sum((a + b)::DOUBLE * (c + d) * (a + c) * (b + d) / (nk::DOUBLE * nk * (nk - 1.0))) AS vsum " +
        "FROM f) " +
        "SELECT n_strata, n, sum_a, " +
        "round(CASE WHEN rd > 0 THEN rn / rd END + 5e-10, 6) AS or_mh, " +
        "round(CASE WHEN vsum > 0 THEN (sum_a::DOUBLE - esum) * (sum_a::DOUBLE - esum) / vsum END + 5e-10, 6) AS cmh_stat " +
        "FROM g")))((s, dir) =>
      // confounder-adjusted 2x2: does a big order line (qty > 25) still
      // associate with a deep discount AFTER stratifying on return
      // flag? ONE stratum-census aggregate; every MH sum is row-local
      // over the 3 census rows
      Association.mantelHaenszel(
          table(s, dir, "lineitem").select(col("l_returnflag"),
            (col("l_quantity") > 25).cast("int").as("exposed"),
            (col("l_discount") >= 0.05).cast("int").as("outcome")),
          "l_returnflag", "exposed", "outcome")
        .select(col("n_strata"), col("n"), col("sum_a"),
          round(col("or_mh") + lit(5e-10), 6).as("or_mh"),
          round(col("cmh_stat") + lit(5e-10), 6).as("cmh_stat"))),
    Query("t25_risk_ratios", Some(
      // the 4-cell census and all three Wald intervals with the same
      // operand order (z pinned to the same 15-digit constant)
      ("WITH raw AS (SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS e, " +
        "CASE WHEN o_totalprice > 150000.0::DOUBLE THEN 1 ELSE 0 END AS o FROM orders " +
        "WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL), " +
        "c AS (SELECT CAST(sum(e * o) AS BIGINT) AS a, CAST(sum(e * (1 - o)) AS BIGINT) AS b, " +
        "CAST(sum((1 - e) * o) AS BIGINT) AS c, CAST(sum((1 - e) * (1 - o)) AS BIGINT) AS d FROM raw), " +
        "x AS (SELECT *, a::DOUBLE + b AS n1, c::DOUBLE + d AS n0, " +
        "a::DOUBLE / (a::DOUBLE + b) AS p1, c::DOUBLE / (c::DOUBLE + d) AS p0, " +
        "1.959963984540054 AS z, a > 0 AND b > 0 AND c > 0 AND d > 0 AS ok, " +
        "a::DOUBLE * d / (b::DOUBLE * c) AS orv, " +
        "sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d) AS seor FROM c), " +
        "y AS (SELECT *, p1 / p0 AS rrv, sqrt(b / (a::DOUBLE * n1) + d / (c::DOUBLE * n0)) AS serr, " +
        "sqrt(p1 * (1.0 - p1) / n1 + p0 * (1.0 - p0) / n0) AS serd FROM x) " +
        "SELECT a + b + c + d AS n, a, b, c, d, " +
        "round(CASE WHEN ok THEN orv END + 5e-10, 6) AS odds_ratio, " +
        "round(CASE WHEN ok THEN exp(ln(orv) - z * seor) END + 5e-10, 6) AS or_lo, " +
        "round(CASE WHEN ok THEN exp(ln(orv) + z * seor) END + 5e-10, 6) AS or_hi, " +
        "round(CASE WHEN a > 0 AND c > 0 THEN rrv END + 5e-10, 6) AS risk_ratio, " +
        "round(CASE WHEN a > 0 AND c > 0 THEN exp(ln(rrv) - z * serr) END + 5e-10, 6) AS rr_lo, " +
        "round(CASE WHEN a > 0 AND c > 0 THEN exp(ln(rrv) + z * serr) END + 5e-10, 6) AS rr_hi, " +
        "round(CASE WHEN n1 > 0 AND n0 > 0 THEN p1 - p0 END + 5e-10, 6) AS risk_diff, " +
        "round(CASE WHEN n1 > 0 AND n0 > 0 THEN p1 - p0 - z * serd END + 5e-10, 6) AS rd_lo, " +
        "round(CASE WHEN n1 > 0 AND n0 > 0 THEN p1 - p0 + z * serd END + 5e-10, 6) AS rd_hi " +
        "FROM y")))((s, dir) =>
      // crude 2x2 effect sizes with 95% CIs: urgent orders vs a
      // high-ticket outcome — one 4-cell census, row-local algebra
      Association.riskRatios(
          table(s, dir, "orders").select(
            (col("o_orderpriority") === "1-URGENT").cast("int").as("exposed"),
            (col("o_totalprice") > 150000.0).cast("int").as("outcome")),
          "exposed", "outcome")
        .select(col("n"), col("a"), col("b"), col("c"), col("d"),
          round(col("odds_ratio") + lit(5e-10), 6).as("odds_ratio"),
          round(col("or_lo") + lit(5e-10), 6).as("or_lo"),
          round(col("or_hi") + lit(5e-10), 6).as("or_hi"),
          round(col("risk_ratio") + lit(5e-10), 6).as("risk_ratio"),
          round(col("rr_lo") + lit(5e-10), 6).as("rr_lo"),
          round(col("rr_hi") + lit(5e-10), 6).as("rr_hi"),
          round(col("risk_diff") + lit(5e-10), 6).as("risk_diff"),
          round(col("rd_lo") + lit(5e-10), 6).as("rd_lo"),
          round(col("rd_hi") + lit(5e-10), 6).as("rd_hi"))),
    Query("t27_welch_t", Some(
      // the 2-row decimal census, then the same Welch algebra with
      // every operand double-cast in the same positions
      ("WITH c AS (SELECT o_orderstatus AS g, count(*)::BIGINT AS n, " +
        "sum(CAST(o_totalprice AS DECIMAL(18,6))) AS sx, " +
        "sum(CAST(o_totalprice AS DECIMAL(28,6)) * CAST(o_totalprice AS DECIMAL(28,6))) AS sxx " +
        "FROM orders WHERE o_orderstatus IN ('F','O') AND o_totalprice IS NOT NULL GROUP BY 1), " +
        "w AS (SELECT min(g) AS ga, max(g) AS gb, count(DISTINCT g)::BIGINT AS k FROM c), " +
        "p AS (SELECT w.ga AS group_a, w.gb AS group_b, k AS n_groups, " +
        "a.n AS n_a, b.n AS n_b, a.sx AS sxa, a.sxx AS sxxa, b.sx AS sxb, b.sxx AS sxxb " +
        "FROM w JOIN c a ON a.g = w.ga JOIN c b ON b.g = w.gb), " +
        "q AS (SELECT *, sxa::DOUBLE / n_a::DOUBLE AS ma, sxb::DOUBLE / n_b::DOUBLE AS mb, " +
        "(sxxa::DOUBLE - sxa::DOUBLE * sxa::DOUBLE / n_a::DOUBLE) / (n_a::DOUBLE - 1.0) AS va, " +
        "(sxxb::DOUBLE - sxb::DOUBLE * sxb::DOUBLE / n_b::DOUBLE) / (n_b::DOUBLE - 1.0) AS vb FROM p), " +
        "z AS (SELECT *, va / n_a::DOUBLE + vb / n_b::DOUBLE AS se2, " +
        "n_groups = 2 AND n_a >= 2 AND n_b >= 2 AS ok FROM q) " +
        "SELECT group_a, group_b, n_groups, n_a, n_b, " +
        "round(ma + 5e-10, 6) AS mean_a, round(mb + 5e-10, 6) AS mean_b, " +
        "round(CASE WHEN ok AND se2 > 0 THEN (ma - mb) / sqrt(se2) END + 5e-10, 6) AS t_stat, " +
        "round(CASE WHEN ok AND se2 > 0 THEN se2 * se2 / " +
        "((va / n_a::DOUBLE) * (va / n_a::DOUBLE) / (n_a::DOUBLE - 1.0) + " +
        "(vb / n_b::DOUBLE) * (vb / n_b::DOUBLE) / (n_b::DOUBLE - 1.0)) END + 5e-10, 6) AS dof " +
        "FROM z")))((s, dir) =>
      // unequal-variance mean comparison of order value between the two
      // order statuses that survive filtering: decimal census, Welch-
      // Satterthwaite dof in-plan, p-value left to the scipy specs
      Association.welchT(
          table(s, dir, "orders")
            .filter(col("o_orderstatus").isin("F", "O"))
            .select("o_orderstatus", "o_totalprice"),
          "o_orderstatus", "o_totalprice")
        .select(col("group_a"), col("group_b"), col("n_groups"),
          col("n_a"), col("n_b"),
          round(col("mean_a") + lit(5e-10), 6).as("mean_a"),
          round(col("mean_b") + lit(5e-10), 6).as("mean_b"),
          round(col("t_stat") + lit(5e-10), 6).as("t_stat"),
          round(col("dof") + lit(5e-10), 6).as("dof"))),
    Query("t28_paired_t", Some(
      // exact decimal difference sums, the same one-sample algebra
      ("WITH s AS (SELECT count(*)::BIGINT AS n, " +
        "sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) - " +
        "CAST(l_extendedprice AS DECIMAL(18,6))) AS sd, " +
        "sum((CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6)) - " +
        "CAST(l_extendedprice AS DECIMAL(28,6))) * " +
        "(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6)) - " +
        "CAST(l_extendedprice AS DECIMAL(28,6)))) AS sdd " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL), " +
        "q AS (SELECT n, sd::DOUBLE / n::DOUBLE AS md, " +
        "(sdd::DOUBLE - sd::DOUBLE * sd::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0) AS vd FROM s) " +
        "SELECT n, round(md + 5e-10, 6) AS mean_diff, " +
        "round(CASE WHEN n >= 2 AND vd >= 0 THEN sqrt(vd) END + 5e-10, 6) AS sd_diff, " +
        "round(CASE WHEN n >= 2 AND vd > 0 THEN md / (sqrt(vd) / sqrt(n::DOUBLE)) END + 5e-10, 6) AS t_stat, " +
        "CASE WHEN n >= 2 THEN (n - 1)::BIGINT END AS dof FROM q")))((s, dir) =>
      // before/after the discount, per line: the pairing removes the
      // between-line price variance; differences fold as decimals
      Association.pairedT(
          table(s, dir, "lineitem")
            .select(col("l_extendedprice").as("pre"),
              (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("post")),
          "pre", "post")
        .select(col("n"),
          round(col("mean_diff") + lit(5e-10), 6).as("mean_diff"),
          round(col("sd_diff") + lit(5e-10), 6).as("sd_diff"),
          round(col("t_stat") + lit(5e-10), 6).as("t_stat"), col("dof"))),
    Query("t29_cochran_q", Some(
      // the six exact longs and the single-division Q, replayed
      ("WITH b AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS t1, " +
        "CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS t2, " +
        "CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS t3 FROM orders " +
        "WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL " +
        "AND o_orderkey IS NOT NULL), " +
        "g AS (SELECT count(*)::BIGINT AS n, CAST(sum(t1 + t2 + t3) AS BIGINT) AS t, " +
        "CAST(sum((t1 + t2 + t3) * (t1 + t2 + t3)) AS BIGINT) AS r2, " +
        "CAST(sum(t1) AS BIGINT) AS c1, CAST(sum(t2) AS BIGINT) AS c2, " +
        "CAST(sum(t3) AS BIGINT) AS c3 FROM b) " +
        "SELECT n, 3::BIGINT AS k, t AS t_total, " +
        "round(CASE WHEN 3 * t - r2 > 0 THEN " +
        "CAST(2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - t * t) AS DOUBLE) / (3 * t - r2) END " +
        "+ 5e-10, 6) AS q_stat, 2::BIGINT AS dof FROM g")))((s, dir) =>
      // do three matched binary screens share one positive rate?
      // R_i/R_i² are row-local, so the whole corpus folds to 6 exact
      // longs in ONE aggregate and Q is a single division
      Association.cochranQ(
          table(s, dir, "orders")
            .filter(col("o_orderstatus").isNotNull &&
              col("o_totalprice").isNotNull && col("o_orderkey").isNotNull)
            .select((col("o_orderstatus") === "F").as("t1"),
              (col("o_totalprice") > 150000.0).as("t2"),
              (col("o_orderkey") % 2 === 0).as("t3")),
          Seq("t1", "t2", "t3"))
        .select(col("n"), col("k"), col("t_total"),
          round(col("q_stat") + lit(5e-10), 6).as("q_stat"), col("dof"))),
    Query("t22_bh_fdr", Some(
      // the Lehmer p spread, the rank, and the step-up tail min
      // replayed verbatim
      ("WITH p AS (SELECT n_nationkey, " +
        "(((n_nationkey::BIGINT + 5) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647) / 2147483647.0 AS p " +
        "FROM nation WHERE n_nationkey IS NOT NULL), " +
        "r AS (SELECT n_nationkey, p, count(*) OVER () AS m, " +
        "row_number() OVER (ORDER BY p, n_nationkey) AS p_rank FROM p), " +
        "a AS (SELECT *, least(1.0, min(p * m / p_rank) OVER (ORDER BY p_rank " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS p_adj FROM r) " +
        "SELECT n_nationkey, round(p + 5e-10, 6) AS p, p_rank::BIGINT AS p_rank, " +
        "round(p_adj + 5e-10, 6) AS p_adj, p_adj <= 0.1 AS reject " +
        "FROM a ORDER BY n_nationkey")))((s, dir) => {
      // Benjamini-Hochberg step-up over a deterministic p spread (the
      // Lehmer priority of the nation key normalized to (0,1)) — the
      // multiple-testing mechanics are the operator under test, and the
      // replayable spread lets the oracle re-derive rank, adjustment,
      // and rejection exactly; input is REPORT-sized by contract
      val p = table(s, dir, "nation").select(col("n_nationkey"),
        (Sampling.lehmerPriority(col("n_nationkey"), 5L).cast("double") /
          lit(2147483647.0)).as("p"))
      Association.bhAdjust(p, "n_nationkey", "p", alpha = 0.1)
        .select(col("n_nationkey"), round(col("p") + lit(5e-10), 6).as("p"),
          col("p_rank").cast("long").as("p_rank"),
          round(col("p_adj") + lit(5e-10), 6).as("p_adj"), col("reject"))
        .orderBy("n_nationkey")
    }),
  )
}
