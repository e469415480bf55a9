package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tableone.{TableOne, TableOneConfig}
import graft.oracle.TableOneSql
import graft.Util.{roundDoubles, table}
import graft.ops.Quantiles

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query takes (spark, sfDir) and reads the driver's parquet tables.
  * Queries with an `oracleSql` entry are hash-compared against DuckDB at
  * sf0.01; double columns are rounded to 6 decimals on BOTH sides
  * (Util.roundDoubles / ROUND in the SQL) so parallel-summation float
  * noise cannot flip the compare.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full stratified Table 1 over lineitem with p-values. */
  def entry(spark: SparkSession): DataFrame =
    TableOne.summarize(
      table(spark, "/root/testdata/sf0.001", "lineitem"),
      TableOneConfig(stratify = Some("l_returnflag"),
        cols = Seq("l_linestatus", "l_quantity", "l_extendedprice"),
        pValues = true))

  // (name, isContinuous) in analysis order, per flagship target
  private val lineitemCols = Seq("l_linestatus" -> false, "l_quantity" -> true, "l_extendedprice" -> true)
  // every numeric lineitem column, in schema order (t9)
  private val t9Numeric = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  def queries: Map[String, (SparkSession, String) => DataFrame] = base ++ OpsQueries.queries

  private def base: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- TableOne end-to-end (SURVEY.md §3) ----
    "t1_tableone_lineitem" -> ((s, dir) => roundDoubles(TableOne.summarize(
      table(s, dir, "lineitem"),
      TableOneConfig(Some("l_returnflag"), Seq("l_linestatus", "l_quantity", "l_extendedprice"))))),
    "t2_tableone_customer" -> ((s, dir) => roundDoubles(TableOne.summarize(
      table(s, dir, "customer"),
      TableOneConfig(Some("c_mktsegment"), Seq("c_acctbal"))))),
    "t3_tableone_unstrat" -> ((s, dir) => roundDoubles(TableOne.summarize(
      table(s, dir, "lineitem"),
      TableOneConfig(None, Seq("l_linestatus", "l_quantity"))))),
    "t4_tableone_sanitize" -> ((s, dir) => roundDoubles(TableOne.summarize(
      table(s, dir, "orders"),
      TableOneConfig(Some("o_orderpriority"), Seq("o_orderstatus", "o_totalprice"))))),
    // p-values: not DuckDB-expressible (t/F/chi-square CDFs) -> rows-only
    // check; exact statistics are covered by the ScalaTest golden suite
    // AND by t5b below, which hash-checks the statistics themselves.
    "t5_tableone_pvalues" -> ((s, dir) => TableOne.summarize(
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
    "t5b_tableone_statistics" -> ((s, dir) => TableOne.summarize(
        table(s, dir, "lineitem"),
        TableOneConfig(Some("l_linestatus"), Seq("l_returnflag", "l_quantity"), pValues = true))
      .filter(col("test_name").isNotNull)
      .select(col("Characteristics").as("variable"), col("test_name"),
        round(col("test_value") + lit(5e-10), 6).as("test_value"))
      .orderBy("variable")),
    "t6_tableone_beautify" -> ((s, dir) => roundDoubles(TableOne.summarize(
      table(s, dir, "customer"),
      TableOneConfig(Some("c_mktsegment"), Seq("c_acctbal"), beautify = true)))),
    // null semantics (tableone_pyspark.py:177-204): null strat values ->
    // MISSING stratum, null categorical values -> MISSING category, null
    // continuous values excluded from every statistic. TPC-H parquet is
    // null-free, so nulls are injected here to put the MISSING-fill and
    // null-exclusion paths under the DuckDB hash check.
    "t7_tableone_nulls" -> ((s, dir) => roundDoubles(TableOne.summarize(
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
    "t8_tableone_types" -> ((s, dir) => roundDoubles(TableOne.summarize(
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
    "t9_tableone_orderstat" -> ((s, dir) => roundDoubles(TableOne.summarize(
      table(s, dir, "lineitem"),
      TableOneConfig(Some("l_linestatus"), "l_returnflag" +: t9Numeric)))),

    "t10_weighted_summary" -> ((s, dir) => {
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

    "t11_smd" -> ((s, dir) =>
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

    "t12_mann_whitney" -> ((s, dir) =>
      // nonparametric two-group test over the heavily-tied quantity
      // column (50 distinct values × 60k rows — the census discipline's
      // home turf): tie-corrected z without ranking a single row
      graft.tableone.RankTests.mannWhitney(
          table(s, dir, "lineitem"), "l_linestatus", "l_quantity")
        .select(col("group_lo"), col("group_hi"), col("n_lo"), col("n_hi"),
          round(col("u_lo") + lit(5e-10), 6).as("u_lo"),
          round(col("z") + lit(5e-10), 6).as("z"),
          round(col("rank_biserial") + lit(5e-10), 6).as("rank_biserial"))),

    "t13_kruskal_wallis" -> ((s, dir) =>
      // the 3-group nonparametric ANOVA companion, same census shape
      graft.tableone.RankTests.kruskalWallis(
          table(s, dir, "lineitem"), "l_returnflag", "l_quantity")
        .select(col("n_groups"), col("n"),
          round(col("h") + lit(5e-10), 6).as("h"),
          round(col("epsilon_sq") + lit(5e-10), 6).as("epsilon_sq"))),

    "t14_km_curve" -> ((s, dir) =>
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

    "t26_nelson_aalen" -> ((s, dir) =>
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

    "t15_logrank" -> ((s, dir) =>
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

    "t16_iptw_balance" -> ((s, dir) => {
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

    "a21_association" -> ((s, dir) =>
      // categorical association report (leakage / redundancy check):
      // chi-square, Cramér's V, and mutual information from ONE
      // contingency census
      graft.ops.Association.associationStats(
          table(s, dir, "lineitem"), "l_returnflag", "l_linestatus")
        .select(col("n"), col("n_a"), col("n_b"),
          round(col("chi2") + lit(5e-10), 6).as("chi2"),
          round(col("cramers_v") + lit(5e-10), 6).as("cramers_v"),
          round(col("mutual_info") + lit(5e-10), 6).as("mutual_info"))),

    "a22_gini" -> ((s, dir) =>
      // exact concentration coefficient per stratum without a pairwise
      // join — the census cumulative walk
      graft.ops.Audit.groupedGini(
          table(s, dir, "lineitem"), "l_returnflag", "l_extendedprice")
        .select(col("l_returnflag"), col("n"),
          round(col("mean") + lit(5e-10), 6).as("mean"),
          round(col("gini") + lit(5e-10), 6).as("gini"))
        .orderBy("l_returnflag")),

    "a23_quantile_normalize" -> ((s, dir) =>
      // feature harmonization: both lineitem features forced onto the
      // shared rank-mean distribution; output thinned to a prime-stride
      // rank sample so the compare stays aggregate-sized
      Quantiles.quantileNormalize(
          table(s, dir, "lineitem")
            .select((col("l_orderkey") * 10 + col("l_linenumber")).as("lid"),
              col("l_quantity"), col("l_discount")),
          "lid", Seq("l_quantity", "l_discount"))
        .filter(col("rank") % 997 === 0)
        .select(col("lid"), col("feature"), col("rank").cast("long").as("rank"),
          col("value"),
          round(col("normalized") + lit(5e-10), 6).as("normalized"))
        .orderBy("feature", "rank")),

    "a24_theil" -> ((s, dir) =>
      // decomposable inequality companion to a22's Gini: one
      // map-side-combinable aggregate, no sorted walk
      graft.ops.Audit.groupedTheil(
          table(s, dir, "lineitem"), "l_returnflag", "l_extendedprice")
        .select(col("l_returnflag"), col("n"),
          round(col("mean") + lit(5e-10), 6).as("mean"),
          round(col("theil_t") + lit(5e-10), 6).as("theil_t"),
          round(col("theil_l") + lit(5e-10), 6).as("theil_l"))
        .orderBy("l_returnflag")),

    "t17_two_proportion" -> ((s, dir) => {
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

    "t18_wilson_ci" -> ((s, dir) => {
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

    "t19_cochran_armitage" -> ((s, dir) =>
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

    "t21_mcnemar" -> ((s, dir) =>
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

    "t20_levene" -> ((s, dir) =>
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

    // ---- core aggregation operators (SURVEY.md §2.4) ----
    "a1_group_count" -> ((s, dir) =>
      table(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt")).orderBy("l_returnflag")),
    "a2_pivot_counts" -> ((s, dir) =>
      table(s, dir, "lineitem").groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R")).count()
        .na.fill(0L).orderBy("l_linestatus")),
    // Moments in ONE agg pass; exact quartiles from the distinct-value
    // histogram (TableOne.quartilesFrame): its row count bounds the
    // order-statistics census, so l_quantity's 50 distinct values are
    // crossed on the driver in one collect, and a high-cardinality column
    // would take the range-partitioned route — never an unpartitioned
    // orderBy(v) window in one task. The previous registration forced
    // percentile_approx(accuracy=2e6), whose single-threaded giant-sketch
    // merge cost ~54 s at sf1; both routes are exact rank-ceil(k*n/4) =
    // quantile_disc at ANY scale.
    "a3_onepass_stats" -> ((s, dir) => roundDoubles {
      val t = table(s, dir, "lineitem")
      val stats = t.agg(
        count(col("l_quantity")).as("n"),
        round(avg(col("l_quantity")), 6).as("mean"),
        round(stddev(col("l_quantity")), 6).as("sd"),
        min(col("l_quantity")).as("mn"),
        max(col("l_quantity")).as("mx"))
      stats.crossJoin(broadcast(TableOne.quartilesFrame(t, "l_quantity")))
    }),
    "a4_stats_by_group" -> ((s, dir) => roundDoubles(
      table(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(col("l_extendedprice")).as("n"),
        avg(col("l_extendedprice")).as("mean"),
        stddev(col("l_extendedprice")).as("sd"),
        min(col("l_extendedprice")).as("mn"),
        max(col("l_extendedprice")).as("mx"))
        .orderBy("l_returnflag"))),
    "a5_count_distinct" -> ((s, dir) =>
      table(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(count_distinct(col("l_partkey")).as("parts"),
          count_distinct(col("l_suppkey")).as("supps"))
        .orderBy("l_returnflag")),
    // HLL++ sketch differs from DuckDB's algorithm, but its ACCURACY
    // CONTRACT is SQL-derivable (the m2b/p3b/c3b twin pattern, r14
    // verdict #3): emit the exact census plus a boolean "estimate
    // within 4·rsd of exact" — the oracle replays the census and a
    // literal TRUE, so a broken sketch (or a broken estimate path)
    // flips the boolean and breaks the hash. The estimate itself is
    // deterministic for fixed data (hash-based), so the bound cannot
    // flake; ApproxDistinctSpec additionally pins the tighter
    // per-group rsd behavior.
    // rsd stays at Spark's 0.05 default: 0.01 would cost 16x the sketch
    // bytes per group in every partial aggregate (~51 s at sf1 for a
    // query whose point is the CHEAP estimate; the exact column rides
    // alongside for comparison).
    // approx and exact deliberately run as SEPARATE aggregations joined
    // on the tiny result: mixing a distinct agg with a non-distinct one
    // in a single agg() makes Spark's one-distinct rewrite key the
    // partial phase on (group, value) — every (returnflag, partkey) pair
    // then carries its own HLL buffer (measured 16.7 s vs 5.5 s for the
    // EXACT a5 at 100x bench scale). Split, the sketch aggregates
    // map-side into 5 groups and the join is 5 rows x 5 rows.
    "a6b_approx_distinct" -> ((s, dir) => {
      val li = table(s, dir, "lineitem").select("l_returnflag", "l_partkey")
      li.groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.05).as("__approx"))
        .join(li.groupBy("l_returnflag")
          .agg(count_distinct(col("l_partkey")).as("parts_exact")), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("parts_exact"),
          (abs(col("__approx") - col("parts_exact")).cast("double") <=
            lit(4 * 0.05) * col("parts_exact").cast("double")).as("within_bounds"))
        .orderBy("l_returnflag")
    }),

    "a11_grouped_quantiles" -> ((s, dir) =>
      // per-group EXACT interpolated quantiles (percentile_cont
      // semantics: position (n-1)·p, linear interpolation) — the grouped
      // complement of a3's global quartiles, through the MEMORY-GATED
      // router: a cheap max-group-size probe keeps Spark's `percentile`
      // sort aggregate while the largest group's buffer is bounded, and
      // routes unbounded groups to the distributed order-statistics pass
      // (exercised oracle-identically by a13). Both regimes covered.
      Quantiles.groupedQuantiles(table(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice",
          Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95))
        .select(col("l_returnflag"),
          round(col("p25") + lit(5e-10), 6).as("p25"),
          round(col("p50") + lit(5e-10), 6).as("p50"),
          round(col("p75") + lit(5e-10), 6).as("p75"),
          round(col("p95") + lit(5e-10), 6).as("p95"))
        .orderBy("l_returnflag")),

    "a13_grouped_quantiles_dist" -> ((s, dir) =>
      // the DISTRIBUTED order-statistics path of a11's gated router,
      // forced (gate bypassed) so the driver's oracle checks this plan
      // at every scale: range-partitioned (group, value) histogram,
      // driver prefix sums over partition subtotals, per-partition
      // rank picks, driver interpolation — per-executor memory bounded
      // by partition size, never by group size (the a11 weak spot's
      // 100 TB route).
      Quantiles.groupedQuantilesExact(table(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice",
          Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95))
        .select(col("l_returnflag"),
          round(col("p25") + lit(5e-10), 6).as("p25"),
          round(col("p50") + lit(5e-10), 6).as("p50"),
          round(col("p75") + lit(5e-10), 6).as("p75"),
          round(col("p95") + lit(5e-10), 6).as("p95"))
        .orderBy("l_returnflag")),

    "a14_winsorized_stats" -> ((s, dir) => {
      // winsorization — the standard outlier-robust preprocessing step,
      // composed from the gated quantile operator: per-group [p05, p95]
      // bounds (3 rows) broadcast back onto the corpus, values clamped,
      // one aggregate. Both engines interpolate the bounds with the
      // identical arithmetic (the a11 precedent), so the clamp
      // boundaries agree bitwise and only the rounded averages carry
      // float-sum noise. The caller KNOWS the group shape here — 3
      // return-flag groups that each dwarf any sane sort buffer — so it
      // calls the distributed-exact path directly instead of paying
      // groupedQuantiles' max-group-size probe job: two lineitem passes
      // (bounds histogram + clamp aggregate) instead of three.
      val li = table(s, dir, "lineitem")
      val qs = Quantiles.groupedQuantilesExact(li, "l_returnflag",
        "l_extendedprice", Seq("lo" -> 0.05, "hi" -> 0.95))
      // bounds attach as a literal branch chain, not a join: the 3-row
      // broadcast hash join measured ~10x the whole clamp aggregate at
      // sf10 (the per-row string hash probe, not the arithmetic)
      Quantiles.clampToBounds(
          li.select(col("l_returnflag"), col("l_extendedprice")),
          "l_returnflag", "l_extendedprice", qs)
        .select(col("l_returnflag"), col("l_extendedprice").as("wv"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(avg(col("wv")) + lit(5e-10), 6).as("mean_w"),
          round(min(col("wv")) + lit(5e-10), 6).as("min_w"),
          round(max(col("wv")) + lit(5e-10), 6).as("max_w"))
        .orderBy("l_returnflag")
    }),
    "a15_robust_stats" -> ((s, dir) => {
      // robust center/spread + outlier census: per-group median and MAD
      // via two gated quantile passes, then one outlier-count scan with
      // the (median, mad) pair attached as literals (3 groups — the a14
      // lesson: a tiny broadcast hash join costs ~10x the aggregate it
      // feeds). 4.4478 = 3 x 1.4826 (the normal-consistency constant),
      // written as one literal so both engines compare the same double.
      val li = table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
      val rm = Quantiles.groupedMad(li, "l_returnflag", "l_extendedprice")
      val stats = rm.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      val medE = stats.map { case (g, m, _) =>
        when(col("l_returnflag") === g, lit(m)) }.reduce(coalesce(_, _))
      val madE = stats.map { case (g, _, d) =>
        when(col("l_returnflag") === g, lit(d)) }.reduce(coalesce(_, _))
      li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(abs(col("l_extendedprice") - medE) > lit(4.4478) * madE, 1L)
            .otherwise(0L)).as("n_out"))
        .withColumn("median", round(medE + lit(5e-10), 6))
        .withColumn("mad", round(madE + lit(5e-10), 6))
        .select(col("l_returnflag"), col("n"), col("median"), col("mad"),
          col("n_out"),
          round(col("n_out").cast("double") / col("n") + lit(5e-10), 6).as("out_frac"))
        .orderBy("l_returnflag")
    }),

    "a16_grouped_mode" -> ((s, dir) =>
      // exact categorical mode per group (deterministic smallest-value
      // tie-break): most common order priority per order year. Two
      // map-side-combined aggregations; shuffle bounded by distinct
      // (year, priority) pairs, never rows.
      Quantiles.groupedMode(
          table(s, dir, "orders").select(
            year(col("o_orderdate")).cast("long").as("yr"), col("o_orderpriority")),
          "yr", "o_orderpriority")
        .orderBy("yr")),

    "a17_grouped_entropy" -> ((s, dir) =>
      // categorical diversity profile per group: Shannon entropy via
      // the exact ln(n) - sum(c ln c)/n algebra — the census shuffle is
      // the only wide stage, bounded by distinct (group, value) pairs.
      Quantiles.groupedEntropy(
          table(s, dir, "orders").select(
            year(col("o_orderdate")).cast("long").as("yr"), col("o_orderpriority")),
          "yr", "o_orderpriority")
        .select(col("yr"), col("n"), col("n_distinct"),
          round(col("entropy") + lit(5e-10), 6).as("entropy"),
          round(col("evenness") + lit(5e-10), 6).as("evenness"))
        .orderBy("yr")),

    "a19_grouped_moments" -> ((s, dir) => {
      // exact per-group higher moments from raw power sums in ONE
      // map-side-combined pass: skewness and excess kurtosis derived
      // with the identical algebra the oracle replays (s1..s4 -> mean,
      // m2, m3, m4). Bounded values (l_quantity <= 50) keep s4 well
      // inside double precision at any scale.
      val q = col("l_quantity")
      table(s, dir, "lineitem")
        .filter(q.isNotNull && col("l_returnflag").isNotNull)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("double").as("nd"),
          sum(q).as("s1"), sum(q * q).as("s2"),
          sum(q * q * q).as("s3"), sum(q * q * q * q).as("s4"))
        .select(col("l_returnflag"), col("nd").cast("long").as("n"),
          (col("s1") / col("nd")).as("mean"),
          (col("s2") / col("nd") - (col("s1") / col("nd")) * (col("s1") / col("nd"))).as("m2"),
          col("nd").as("nd"), col("s2").as("s2"), col("s3").as("s3"), col("s4").as("s4"))
        .select(col("l_returnflag"), col("n"),
          round(col("mean") + lit(5e-10), 6).as("mean"),
          round(col("m2") + lit(5e-10), 6).as("variance"),
          round((col("s3") / col("nd") - lit(3.0) * col("mean") * (col("s2") / col("nd"))
            + lit(2.0) * col("mean") * col("mean") * col("mean"))
            / pow(col("m2"), 1.5) + lit(5e-10), 6).as("skewness"),
          round((col("s4") / col("nd") - lit(4.0) * col("mean") * (col("s3") / col("nd"))
            + lit(6.0) * col("mean") * col("mean") * (col("s2") / col("nd"))
            - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
            / (col("m2") * col("m2")) - lit(3.0) + lit(5e-10), 6).as("kurtosis"))
        .orderBy("l_returnflag")
    }),

    "a20_weighted_median" -> ((s, dir) =>
      // exact lower weighted median per return flag: dyadic planted
      // weights ride as decimal(28,10), so the cumulative-weight pick is
      // exact integer-scaled arithmetic on both engines — the census
      // reduces the window's sort to distinct (group, value) pairs
      Quantiles.groupedWeightedMedian(
          table(s, dir, "lineitem")
            .filter(col("l_quantity").isNotNull && col("l_orderkey").isNotNull &&
              col("l_returnflag").isNotNull)
            .withColumn("w", lit(1.0) + (col("l_orderkey") % 5).cast("double") * lit(0.5)),
          "l_returnflag", "l_quantity", "w")
        .select(col("l_returnflag"),
          round(col("total_w").cast("double") + lit(5e-10), 6).as("total_w"),
          round(col("median") + lit(5e-10), 6).as("median"))
        .orderBy("l_returnflag")),

    "a18_corr_matrix" -> ((s, dir) =>
      // numeric-feature co-movement profile: all 6 Pearson pairs over the
      // 4 lineitem measures in ONE map-side-combined aggregate (15 sums,
      // one scan) — never a per-pair job
      graft.ops.Quality.correlationMatrix(
          table(s, dir, "lineitem")
            .select("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .select(col("col_x"), col("col_y"), col("n"),
          round(col("corr") + lit(5e-10), 6).as("corr"))
        .orderBy("col_x", "col_y")),

    // ---- joins / windows / set ops (SURVEY.md §2.5-2.7) ----
    "j1_outer_join" -> ((s, dir) => roundDoubles(
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
    "w1_window_funcs" -> ((s, dir) => roundDoubles(
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
    "w2_rolling_frame" -> ((s, dir) => roundDoubles(
      // bounded sliding frame (rowsBetween) — complements w1's ranking
      // and running-total frames
      table(s, dir, "orders")
        .withColumn("roll_avg", avg(col("o_totalprice")).over(
          Window.partitionBy("o_custkey").orderBy("o_orderkey")
            .rowsBetween(-2, Window.currentRow)))
        .filter(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"), col("roll_avg"))
        .orderBy("o_custkey", "o_orderkey"))),
    "a7_cube" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
        .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus")),
    "a12_rollup" -> ((s, dir) =>
      // ROLLUP completes the grouping-sets family (a7 covers CUBE):
      // hierarchical prefixes only — (rf, ls), (rf), () — with grouping
      // markers pinning which rows are subtotals
      table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
        .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus")),
    "a8_histogram" -> ((s, dir) => {
      // equi-width histogram (data profiling): pass 1 is a one-row
      // min/max agg broadcast into pass 2's bucket projection; the
      // bucket math is the same double expression in both engines, so
      // boundary values land in the same bucket. Two narrow scans, a
      // 20-row hash agg, no wide shuffle at any data size.
      val li = table(s, dir, "lineitem").select(col("l_extendedprice").as("x"))
      val mm = li.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      val nb = 20
      li.crossJoin(broadcast(mm))
        .select(least(floor((col("x") - col("lo")) * nb / (col("hi") - col("lo"))),
          lit(nb - 1L)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),
    "a9_corr" -> ((s, dir) =>
      // bivariate profiling: Pearson correlation + sample covariance +
      // the regression slope/intercept aggregates, one hash agg per
      // group (all are single-pass decomposable moments)
      table(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")) + lit(5e-10), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")) + lit(5e-10), 6).as("covar_qp"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")) + lit(5e-10), 6).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")) + lit(5e-10), 6).as("intercept"))
        .orderBy("l_returnflag")),
    // two-stage salted aggregation must equal the plain GROUP BY
    "k1_salted_agg" -> ((s, dir) => roundDoubles(
      graft.ops.Skew.saltedAggregate(
          table(s, dir, "lineitem").select("l_returnflag", "l_quantity"),
          Seq("l_returnflag"), graft.ops.Skew.countSumMinMax("l_quantity"))
        .orderBy("l_returnflag"))),
    "w4_rank_family" -> ((s, dir) => {
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
    "w5_value_family" -> ((s, dir) => {
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
    "a25_grouping_sets" -> ((s, dir) =>
      // irregular GROUPING SETS — (rf, ls), (ls), () — the shape
      // neither a7's CUBE nor a12's ROLLUP can express (it skips the
      // (rf) level); one Expand + one aggregate exchange
      table(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("double")) + lit(5e-10), 6).as("sum_qty"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
        .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus")),
    "w7_unpivot" -> ((s, dir) =>
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
    "w8_period_over_period" -> ((s, dir) => {
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
    "u1_set_ops" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 100000).select(col("o_custkey"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      hi.intersect(urgent).withColumn("tag", lit("both"))
        .unionByName(hi.except(urgent).withColumn("tag", lit("hi_only")))
        .orderBy("tag", "o_custkey")
    }),
    "u4_bag_set_ops" -> ((s, dir) => {
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
  )

  def oracleSql: Map[String, String] = Map(
    "t1_tableone_lineitem" -> TableOneSql.oracle(
      "lineitem", Some("l_returnflag"), Seq("A", "N", "R"), lineitemCols),
    "t2_tableone_customer" -> TableOneSql.oracle(
      "customer", Some("c_mktsegment"),
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
      Seq("c_acctbal" -> true)),
    "t3_tableone_unstrat" -> TableOneSql.oracle(
      "lineitem", None, Nil, Seq("l_linestatus" -> false, "l_quantity" -> true)),
    "t4_tableone_sanitize" -> TableOneSql.oracle(
      "orders", Some("o_orderpriority"),
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT_SPECIFIED", "5-LOW"),
      Seq("o_orderstatus" -> false, "o_totalprice" -> true)),
    "t6_tableone_beautify" -> TableOneSql.oracle(
      "customer", Some("c_mktsegment"),
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
      Seq("c_acctbal" -> true), beautify = true),
    "t7_tableone_nulls" -> TableOneSql.oracle(
      "(SELECT nullif(l_returnflag, 'N') AS l_returnflag, " +
        "nullif(l_linestatus, 'F') AS l_linestatus, " +
        "CASE WHEN l_quantity < 10 THEN NULL ELSE l_quantity END AS l_quantity " +
        "FROM lineitem) AS src",
      Some("l_returnflag"), Seq("A", "R", "MISSING"),
      Seq("l_linestatus" -> false, "l_quantity" -> true)),
    "t8_tableone_types" -> TableOneSql.oracle(
      "(SELECT o_orderstatus, " +
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 'true' ELSE 'false' END AS o_is_urgent, " +
        "CAST(floor(o_totalprice) AS DECIMAL(18,2)) AS o_price_dec " +
        "FROM orders) AS src",
      Some("o_orderstatus"), Seq("F", "O", "P"),
      // o_orderdate is skipped by the engine (timestamp), so it does not
      // appear here — positions must match the ANALYZED column order
      Seq("o_is_urgent" -> false, "o_price_dec" -> true)),
    "t9_tableone_orderstat" -> TableOneSql.oracle(
      "lineitem", Some("l_linestatus"), Seq("F", "O"),
      ("l_returnflag" -> false) +: t9Numeric.map(_ -> true)),
    "a1_group_count" ->
      "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "a2_pivot_counts" ->
      ("SELECT l_linestatus, count(*) FILTER (WHERE l_returnflag = 'A') AS \"A\", " +
        "count(*) FILTER (WHERE l_returnflag = 'N') AS \"N\", " +
        "count(*) FILTER (WHERE l_returnflag = 'R') AS \"R\" " +
        "FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"),
    "a3_onepass_stats" ->
      ("SELECT count(l_quantity) AS n, ROUND(avg(l_quantity) + 5e-10, 6) AS mean, " +
        "ROUND(stddev_samp(l_quantity) + 5e-10, 6) AS sd, min(l_quantity) AS mn, max(l_quantity) AS mx, " +
        "quantile_disc(l_quantity, 0.25) AS q25, quantile_disc(l_quantity, 0.50) AS q50, " +
        "quantile_disc(l_quantity, 0.75) AS q75 FROM lineitem"),
    "a4_stats_by_group" ->
      ("SELECT l_returnflag, count(l_extendedprice) AS n, ROUND(avg(l_extendedprice) + 5e-10, 6) AS mean, " +
        "ROUND(stddev_samp(l_extendedprice) + 5e-10, 6) AS sd, ROUND(min(l_extendedprice) + 5e-10, 6) AS mn, " +
        "ROUND(max(l_extendedprice) + 5e-10, 6) AS mx FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "a5_count_distinct" ->
      ("SELECT l_returnflag, count(DISTINCT l_partkey) AS parts, count(DISTINCT l_suppkey) AS supps " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "a6b_approx_distinct" ->
      // the exact census is replayed; within_bounds is the accuracy
      // contract the Spark side actually evaluates against its HLL++
      // estimate — a literal TRUE here, so an out-of-bounds estimate
      // hash-mismatches
      ("SELECT l_returnflag, count(DISTINCT l_partkey) AS parts_exact, " +
        "true AS within_bounds FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "t5b_tableone_statistics" ->
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
        "ORDER BY variable"),
    "j1_outer_join" ->
      ("SELECT c.c_mktsegment, count(o.o_custkey) AS n_orders, count(*) AS n_rows, " +
        "ROUND(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS revenue " +
        "FROM customer c FULL OUTER JOIN orders o ON o.o_custkey = c.c_custkey " +
        "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"),
    "w1_window_funcs" ->
      ("SELECT o_custkey, o_orderkey, rk, ROUND(prev_price + 5e-10, 6) AS prev_price, ROUND(cume + 5e-10, 6) AS cume FROM (" +
        "SELECT o_custkey, o_orderkey, " +
        "rank() OVER w AS rk, lag(o_totalprice, 1) OVER w AS prev_price, " +
        "sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey " +
        "ROWS UNBOUNDED PRECEDING) AS cume " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)) " +
        "WHERE rk <= 3 ORDER BY o_custkey, rk, o_orderkey"),
    "w2_rolling_frame" ->
      ("SELECT o_custkey, o_orderkey, ROUND(avg(o_totalprice) OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) + 5e-10, 6) AS roll_avg " +
        "FROM orders QUALIFY o_custkey < 200 ORDER BY o_custkey, o_orderkey"),
    "a7_cube" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(grouping(l_returnflag) AS INT) AS g_rf, CAST(grouping(l_linestatus) AS INT) AS g_ls " +
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) " +
        "ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "a12_rollup" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(grouping(l_returnflag) AS INT) AS g_rf, CAST(grouping(l_linestatus) AS INT) AS g_ls " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) " +
        "ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "a9_corr" ->
      ("SELECT l_returnflag, " +
        "ROUND(corr(l_quantity, l_extendedprice) + 5e-10, 6) AS corr_qp, " +
        "ROUND(covar_samp(l_quantity, l_extendedprice) + 5e-10, 6) AS covar_qp, " +
        "ROUND(regr_slope(l_extendedprice, l_quantity) + 5e-10, 6) AS slope, " +
        "ROUND(regr_intercept(l_extendedprice, l_quantity) + 5e-10, 6) AS intercept " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "a8_histogram" ->
      ("WITH mm AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem) " +
        "SELECT CAST(least(floor((l_extendedprice - lo) * 20 / (hi - lo)), 19) AS BIGINT) AS bucket, " +
        "count(*)::BIGINT AS n FROM lineitem, mm GROUP BY bucket ORDER BY bucket"),
    "k1_salted_agg" ->
      ("SELECT l_returnflag, count(l_quantity) AS l_quantity_n, " +
        "ROUND(sum(l_quantity) + 5e-10, 6) AS l_quantity_sum, ROUND(min(l_quantity) + 5e-10, 6) AS l_quantity_min, " +
        "ROUND(max(l_quantity) + 5e-10, 6) AS l_quantity_max " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "u1_set_ops" ->
      ("WITH hi AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 100000), " +
        "urgent AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') " +
        "SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM hi INTERSECT SELECT * FROM urgent) " +
        "UNION ALL SELECT o_custkey, 'hi_only' AS tag FROM (SELECT * FROM hi EXCEPT SELECT * FROM urgent) " +
        "ORDER BY tag, o_custkey"),
    "w4_rank_family" ->
      ("SELECT o_custkey, o_orderkey, " +
        "rank() OVER w AS rnk, dense_rank() OVER w AS drnk, " +
        "ROUND(percent_rank() OVER w + 5e-10, 6) AS prnk, " +
        "ROUND(cume_dist() OVER w + 5e-10, 6) AS cdist, " +
        "ntile(4) OVER w AS quartile " +
        "FROM orders WHERE o_custkey < 100 " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) " +
        "ORDER BY o_custkey, o_orderkey"),
    "t11_smd" ->
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
        "FROM p ORDER BY variable, strat_a, strat_b"),
    "t12_mann_whitney" ->
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
        "FROM u"),
    "t13_kruskal_wallis" ->
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
        "FROM hh"),
    "t14_km_curve" ->
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
        "FROM s ORDER BY g, t"),
    "t26_nelson_aalen" ->
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
        "round(ch + 5e-10, 6) AS cum_hazard FROM h ORDER BY g, t"),
    "t15_logrank" ->
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
        "FROM s"),
    "t16_iptw_balance" ->
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
        "FROM f ORDER BY variable"),
    "a21_association" ->
      // census + marginal windows + the expectation-residual chi2 (no
      // absent-cell materialization), V and MI in the operator's order
      ("WITH cells AS (SELECT l_returnflag::VARCHAR AS a, l_linestatus::VARCHAR AS b, " +
        "count(*)::BIGINT AS c FROM lineitem " +
        "WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL GROUP BY 1, 2), " +
        "mg AS (SELECT a, b, c, sum(c) OVER (PARTITION BY a)::BIGINT AS ca, " +
        "sum(c) OVER (PARTITION BY b)::BIGINT AS cb, sum(c) OVER ()::BIGINT AS n FROM cells), " +
        "s AS (SELECT min(n)::BIGINT AS n, count(DISTINCT a)::BIGINT AS n_a, " +
        "count(DISTINCT b)::BIGINT AS n_b, " +
        "sum((c - ca::DOUBLE * cb / n) * (c - ca::DOUBLE * cb / n) / " +
        "(ca::DOUBLE * cb / n)) AS chiobs, " +
        "sum(ca::DOUBLE * cb / n) AS eobs, " +
        "sum(c::DOUBLE / n::DOUBLE * ln(c::DOUBLE * n::DOUBLE / (ca::DOUBLE * cb))) AS mi " +
        "FROM mg) " +
        "SELECT n, n_a, n_b, round(chiobs + (n::DOUBLE - eobs) + 5e-10, 6) AS chi2, " +
        "round(CASE WHEN least(n_a, n_b) - 1 > 0 THEN " +
        "sqrt((chiobs + (n::DOUBLE - eobs)) / (n::DOUBLE * (least(n_a, n_b) - 1))) END " +
        "+ 5e-10, 6) AS cramers_v, round(mi + 5e-10, 6) AS mutual_info FROM s"),
    "a22_gini" ->
      // the sorted-census cumulative count/sum walk, term for term
      ("WITH cen AS (SELECT l_returnflag AS g, l_extendedprice::DOUBLE AS v, " +
        "count(*)::BIGINT AS c FROM lineitem WHERE l_returnflag IS NOT NULL " +
        "AND l_extendedprice IS NOT NULL AND l_extendedprice >= 0 GROUP BY 1, 2), " +
        "w AS (SELECT g, v, c, coalesce(sum(c) OVER pw, 0)::BIGINT AS cb, " +
        "coalesce(sum(c::DOUBLE * v) OVER pw, 0.0) AS sb FROM cen " +
        "WINDOW pw AS (PARTITION BY g ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), " +
        "s AS (SELECT g, sum(c)::BIGINT AS n, sum(c::DOUBLE * v) AS sv, " +
        "sum(c::DOUBLE * (v * cb - sb)) AS md FROM w GROUP BY g) " +
        "SELECT g AS l_returnflag, n, round(sv / n::DOUBLE + 5e-10, 6) AS mean, " +
        "round(CASE WHEN sv > 0 THEN md / (n::DOUBLE * sv) END + 5e-10, 6) AS gini " +
        "FROM s ORDER BY 1"),
    "a23_quantile_normalize" ->
      // melted frame, per-feature (value, id) rank, rank-mean reference
      ("WITH src AS (SELECT l_orderkey * 10 + l_linenumber AS lid, " +
        "l_quantity::DOUBLE AS q, l_discount::DOUBLE AS d FROM lineitem " +
        "WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL " +
        "AND l_quantity IS NOT NULL AND l_discount IS NOT NULL), " +
        "m AS (SELECT lid, 'l_quantity' AS feature, q AS x FROM src " +
        "UNION ALL SELECT lid, 'l_discount', d FROM src), " +
        "r AS (SELECT lid, feature, x, row_number() OVER " +
        "(PARTITION BY feature ORDER BY x, lid) AS rank FROM m), " +
        "ref AS (SELECT rank, avg(x) AS nrm FROM r GROUP BY rank) " +
        "SELECT r.lid, r.feature, r.rank, r.x AS value, " +
        "round(ref.nrm + 5e-10, 6) AS normalized " +
        "FROM r JOIN ref USING (rank) WHERE r.rank % 997 = 0 " +
        "ORDER BY feature, rank"),
    "a24_theil" ->
      // the same four sufficient statistics and closed forms
      ("WITH s AS (SELECT l_returnflag AS g, count(*)::BIGINT AS n, " +
        "sum(l_extendedprice::DOUBLE) AS sv, " +
        "sum(l_extendedprice::DOUBLE * ln(l_extendedprice::DOUBLE)) AS sxlx, " +
        "sum(ln(l_extendedprice::DOUBLE)) AS slx FROM lineitem " +
        "WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL " +
        "AND l_extendedprice > 0 GROUP BY 1) " +
        "SELECT g AS l_returnflag, n, round(sv / n + 5e-10, 6) AS mean, " +
        "round(sxlx / sv - ln(sv / n) + 5e-10, 6) AS theil_t, " +
        "round(ln(sv / n) - slx / n + 5e-10, 6) AS theil_l " +
        "FROM s ORDER BY 1"),
    "t17_two_proportion" ->
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
        "+ 5e-10, 6) AS z FROM t ORDER BY 1"),
    "t18_wilson_ci" ->
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
        "round(center + half + 5e-10, 6) AS ci_hi FROM c2 ORDER BY 1"),
    "t19_cochran_armitage" ->
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
        "round(CASE WHEN vart > 0 THEN tst / sqrt(vart) END + 5e-10, 6) AS z FROM f"),
    "t21_mcnemar" ->
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
        "+ 5e-10, 6) AS chi2 FROM t"),
    "t20_levene" ->
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
        "((nn::DOUBLE - k) / (k - 1.0)) * (ssb / ssw) END + 5e-10, 6) AS w FROM f"),
    "t10_weighted_summary" ->
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
        "FROM allp ORDER BY variable, stratum, level"),
    "a11_grouped_quantiles" ->
      ("SELECT l_returnflag, " +
        "round(quantile_cont(l_extendedprice, 0.25) + 5e-10, 6) AS p25, " +
        "round(quantile_cont(l_extendedprice, 0.5) + 5e-10, 6) AS p50, " +
        "round(quantile_cont(l_extendedprice, 0.75) + 5e-10, 6) AS p75, " +
        "round(quantile_cont(l_extendedprice, 0.95) + 5e-10, 6) AS p95 " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "a14_winsorized_stats" ->
      // identical quantile interpolation (the a11 precedent) makes the
      // clamp bounds bitwise-equal; only the averages are rounded
      ("WITH q AS (SELECT l_returnflag, " +
        "quantile_cont(l_extendedprice, 0.05) AS lo, " +
        "quantile_cont(l_extendedprice, 0.95) AS hi " +
        "FROM lineitem GROUP BY 1), " +
        "w AS (SELECT l.l_returnflag, " +
        "least(greatest(l_extendedprice, lo), hi) AS wv " +
        "FROM lineitem l JOIN q USING (l_returnflag)) " +
        "SELECT l_returnflag, count(*)::BIGINT AS n, " +
        "round(avg(wv) + 5e-10, 6) AS mean_w, " +
        "round(min(wv) + 5e-10, 6) AS min_w, " +
        "round(max(wv) + 5e-10, 6) AS max_w " +
        "FROM w GROUP BY 1 ORDER BY 1"),
    "a15_robust_stats" ->
      // median and MAD re-derived with quantile_cont (interpolation
      // identical to the gated router — the a11 precedent), outliers
      // against the same single-literal 4.4478 threshold
      ("WITH m AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med " +
        "FROM lineitem GROUP BY 1), " +
        "d AS (SELECT l.l_returnflag, quantile_cont(abs(l_extendedprice - med), 0.5) AS mad " +
        "FROM lineitem l JOIN m USING (l_returnflag) GROUP BY 1), " +
        "o AS (SELECT l.l_returnflag, count(*)::BIGINT AS n, " +
        "sum(CASE WHEN abs(l_extendedprice - m.med) > 4.4478e0 * d.mad THEN 1 ELSE 0 END)::BIGINT AS n_out, " +
        "max(m.med) AS med, max(d.mad) AS mad " +
        "FROM lineitem l JOIN m USING (l_returnflag) JOIN d USING (l_returnflag) GROUP BY 1) " +
        "SELECT l_returnflag, n, round(med + 5e-10, 6) AS median, " +
        "round(mad + 5e-10, 6) AS mad, n_out, " +
        "round(n_out::DOUBLE / n + 5e-10, 6) AS out_frac FROM o ORDER BY 1"),
    "a16_grouped_mode" ->
      // replay the census + deterministic pick: frequency desc, value
      // asc — exactly groupedMode's min(struct(-count, value)) ordering
      ("WITH c AS (SELECT year(o_orderdate)::BIGINT AS yr, o_orderpriority AS v, " +
        "count(*) AS n FROM orders GROUP BY 1, 2), " +
        "r AS (SELECT yr, v, n, row_number() OVER " +
        "(PARTITION BY yr ORDER BY n DESC, v) AS rn, " +
        "sum(n) OVER (PARTITION BY yr) AS tot FROM c) " +
        "SELECT yr, v AS mode, n::BIGINT AS mode_n, tot::BIGINT AS n " +
        "FROM r WHERE rn = 1 ORDER BY yr"),
    "a17_grouped_entropy" ->
      // identical algebra: ln(n) - sum(c*ln(c))/n; per-term doubles are
      // identical, the nudged 6-dp round absorbs summation-order dust
      ("WITH c AS (SELECT year(o_orderdate)::BIGINT AS yr, o_orderpriority AS v, " +
        "count(*)::DOUBLE AS c FROM orders GROUP BY 1, 2) " +
        "SELECT yr, sum(c)::BIGINT AS n, count(*)::BIGINT AS n_distinct, " +
        "round(ln(sum(c)) - sum(c*ln(c))/sum(c) + 5e-10, 6) AS entropy, " +
        "round(CASE WHEN count(*) > 1 THEN " +
        "(ln(sum(c)) - sum(c*ln(c))/sum(c)) / ln(count(*)) END + 5e-10, 6) AS evenness " +
        "FROM c GROUP BY yr ORDER BY yr"),
    "a19_grouped_moments" ->
      // the same power-sum algebra, term order preserved
      ("WITH g AS (SELECT l_returnflag, count(*)::DOUBLE AS nd, sum(l_quantity) AS s1, " +
        "sum(l_quantity*l_quantity) AS s2, sum(l_quantity*l_quantity*l_quantity) AS s3, " +
        "sum(l_quantity*l_quantity*l_quantity*l_quantity) AS s4 " +
        "FROM lineitem WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL GROUP BY 1), " +
        "m AS (SELECT l_returnflag, nd, s2, s3, s4, s1/nd AS mean, " +
        "s2/nd - (s1/nd)*(s1/nd) AS m2 FROM g) " +
        "SELECT l_returnflag, nd::BIGINT AS n, round(mean + 5e-10, 6) AS mean, " +
        "round(m2 + 5e-10, 6) AS variance, " +
        "round((s3/nd - 3.0*mean*(s2/nd) + 2.0*mean*mean*mean) / pow(m2, 1.5) + 5e-10, 6) AS skewness, " +
        "round((s4/nd - 4.0*mean*(s3/nd) + 6.0*mean*mean*(s2/nd) - 3.0*mean*mean*mean*mean) " +
        "/ (m2*m2) - 3.0 + 5e-10, 6) AS kurtosis " +
        "FROM m ORDER BY l_returnflag"),
    "a20_weighted_median" ->
      // same census -> exact-decimal cumulative walk -> smallest value
      // whose doubled cumulative weight reaches the total
      ("WITH src AS (SELECT l_returnflag AS g, l_quantity::DOUBLE AS v, " +
        "CAST(1.0 + (l_orderkey % 5) * 0.5 AS DECIMAL(28,10)) AS w FROM lineitem " +
        "WHERE l_quantity IS NOT NULL AND l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL), " +
        "c AS (SELECT g, v, sum(w) AS w FROM src GROUP BY 1, 2), " +
        "k AS (SELECT g, v, sum(w) OVER (PARTITION BY g ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw, " +
        "sum(w) OVER (PARTITION BY g) AS tw FROM c) " +
        "SELECT g AS l_returnflag, " +
        "round(min(tw)::DOUBLE + 5e-10, 6) AS total_w, " +
        "round(min(v) + 5e-10, 6) AS median " +
        "FROM k WHERE cw * 2 >= tw GROUP BY g ORDER BY g"),
    "a18_corr_matrix" ->
      // the identical exact-sums algebra: shared listwise-complete n,
      // per-column sum / sum-of-squares, per-pair cross sums, then
      // corr = (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))
      ("WITH s AS (SELECT l_quantity::DOUBLE AS q, l_extendedprice::DOUBLE AS e, " +
        "l_discount::DOUBLE AS d, l_tax::DOUBLE AS t FROM lineitem " +
        "WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL " +
        "AND l_discount IS NOT NULL AND l_tax IS NOT NULL), " +
        "g AS (SELECT count(*)::DOUBLE AS n, " +
        "sum(q) AS sq, sum(e) AS se, sum(d) AS sd, sum(t) AS st, " +
        "sum(q*q) AS sqq, sum(e*e) AS see, sum(d*d) AS sdd, sum(t*t) AS stt, " +
        "sum(q*e) AS sqe, sum(q*d) AS sqd, sum(q*t) AS sqt, " +
        "sum(e*d) AS sed, sum(e*t) AS set_, sum(d*t) AS sdt FROM s) " +
        Seq(("l_quantity", "l_extendedprice", "sqe", "sq", "se", "sqq", "see"),
            ("l_quantity", "l_discount", "sqd", "sq", "sd", "sqq", "sdd"),
            ("l_quantity", "l_tax", "sqt", "sq", "st", "sqq", "stt"),
            ("l_extendedprice", "l_discount", "sed", "se", "sd", "see", "sdd"),
            ("l_extendedprice", "l_tax", "set_", "se", "st", "see", "stt"),
            ("l_discount", "l_tax", "sdt", "sd", "st", "sdd", "stt"))
          .map { case (cx, cy, sxy, sx, sy, sxx, syy) =>
            s"SELECT '$cx' AS col_x, '$cy' AS col_y, n::BIGINT AS n, " +
              s"round((n*$sxy - $sx*$sy) / (sqrt(n*$sxx - $sx*$sx) * sqrt(n*$syy - $sy*$sy)) " +
              "+ 5e-10, 6) AS corr FROM g"
          }.mkString(" UNION ALL ") +
        " ORDER BY col_x, col_y"),
    "a13_grouped_quantiles_dist" ->
      // same oracle as a11: the distributed order-statistics path must
      // produce the identical interpolated quantiles
      ("SELECT l_returnflag, " +
        "round(quantile_cont(l_extendedprice, 0.25) + 5e-10, 6) AS p25, " +
        "round(quantile_cont(l_extendedprice, 0.5) + 5e-10, 6) AS p50, " +
        "round(quantile_cont(l_extendedprice, 0.75) + 5e-10, 6) AS p75, " +
        "round(quantile_cont(l_extendedprice, 0.95) + 5e-10, 6) AS p95 " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "w5_value_family" ->
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
        "ORDER BY o_custkey, o_orderkey"),
    "a25_grouping_sets" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "round(sum(l_quantity::DOUBLE) + 5e-10, 6) AS sum_qty, " +
        "CAST(grouping(l_returnflag) AS INT) AS g_rf, " +
        "CAST(grouping(l_linestatus) AS INT) AS g_ls " +
        "FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ()) " +
        "ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "w7_unpivot" ->
      // the melt written longhand: one stat row per flag per metric
      ("WITH s AS (SELECT l_returnflag, sum(l_quantity)::DOUBLE AS sum_qty, " +
        "sum(l_extendedprice)::DOUBLE AS sum_price, " +
        "sum(l_discount)::DOUBLE / count(*) AS avg_disc " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT l_returnflag, metric, round(value + 5e-10, 6) AS value FROM (" +
        "SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM s " +
        "UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM s " +
        "UNION ALL SELECT l_returnflag, 'avg_disc', avg_disc FROM s) " +
        "ORDER BY l_returnflag, metric"),
    "w8_period_over_period" ->
      ("WITH rev AS (SELECT c_mktsegment, year(o_orderdate)::BIGINT AS yr, " +
        "sum(o_totalprice) AS rev FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY 1, 2) " +
        "SELECT c_mktsegment, yr, round(rev::DOUBLE + 5e-10, 6) AS revenue, " +
        "round((rev::DOUBLE - prev::DOUBLE) / prev::DOUBLE + 5e-10, 6) AS yoy FROM (" +
        "SELECT c_mktsegment, yr, rev, lag(rev, 1) OVER " +
        "(PARTITION BY c_mktsegment ORDER BY yr) AS prev FROM rev) " +
        "ORDER BY c_mktsegment, yr"),
    "u4_bag_set_ops" ->
      ("WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 100000), " +
        "urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') " +
        "SELECT o_custkey, tag, count(*)::BIGINT AS n FROM (" +
        "SELECT o_custkey, 'both_all' AS tag FROM (SELECT * FROM hi INTERSECT ALL SELECT * FROM urgent) " +
        "UNION ALL " +
        "SELECT o_custkey, 'hi_only_all' AS tag FROM (SELECT * FROM hi EXCEPT ALL SELECT * FROM urgent)) " +
        "GROUP BY o_custkey, tag ORDER BY tag, o_custkey"),
  ) ++ OpsQueries.oracleSql
}
