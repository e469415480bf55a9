package graft.queries

import org.apache.spark.sql.functions._
import graft.Query
import graft.Util
import graft.Util.{roundDoubles, table}
import graft.ops.{Association, Encoding, Quantiles}
import graft.streaming.EventPipeline
import graft.tableone.TableOne

/** Aggregation (`a*`): grouped counts and pivots, one-pass moments,
  * distinct counts, cube/rollup/grouping sets, histograms, correlation,
  * grouped quantiles and robust statistics, association and inequality
  * measures and encodings, over `lineitem` and `orders` (a10 over
  * `events`). */
object AggregateQueries {

  def all: Seq[Query] = Seq(

    Query("a21_association", Some(
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
        "+ 5e-10, 6) AS cramers_v, round(mi + 5e-10, 6) AS mutual_info FROM s")))((s, dir) =>
      // categorical association report (leakage / redundancy check):
      // chi-square, Cramér's V, and mutual information from ONE
      // contingency census
      graft.ops.Association.associationStats(
          table(s, dir, "lineitem"), "l_returnflag", "l_linestatus")
        .select(col("n"), col("n_a"), col("n_b"),
          round(col("chi2") + lit(5e-10), 6).as("chi2"),
          round(col("cramers_v") + lit(5e-10), 6).as("cramers_v"),
          round(col("mutual_info") + lit(5e-10), 6).as("mutual_info"))),

    Query("a22_gini", Some(
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
        "FROM s ORDER BY 1")))((s, dir) =>
      // exact concentration coefficient per stratum without a pairwise
      // join — the census cumulative walk
      graft.ops.Audit.groupedGini(
          table(s, dir, "lineitem"), "l_returnflag", "l_extendedprice")
        .select(col("l_returnflag"), col("n"),
          round(col("mean") + lit(5e-10), 6).as("mean"),
          round(col("gini") + lit(5e-10), 6).as("gini"))
        .orderBy("l_returnflag")),

    Query("a23_quantile_normalize", Some(
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
        "ORDER BY feature, rank")))((s, dir) =>
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

    Query("a24_theil", Some(
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
        "FROM s ORDER BY 1")))((s, dir) =>
      // decomposable inequality companion to a22's Gini: one
      // map-side-combinable aggregate, no sorted walk
      graft.ops.Audit.groupedTheil(
          table(s, dir, "lineitem"), "l_returnflag", "l_extendedprice")
        .select(col("l_returnflag"), col("n"),
          round(col("mean") + lit(5e-10), 6).as("mean"),
          round(col("theil_t") + lit(5e-10), 6).as("theil_t"),
          round(col("theil_l") + lit(5e-10), 6).as("theil_l"))
        .orderBy("l_returnflag")),

    // ---- core aggregation operators (SURVEY.md §2.4) ----
    Query("a1_group_count", Some(
      "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"))((s, dir) =>
      table(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt")).orderBy("l_returnflag")),
    Query("a2_pivot_counts", Some(
      ("SELECT l_linestatus, count(*) FILTER (WHERE l_returnflag = 'A') AS \"A\", " +
        "count(*) FILTER (WHERE l_returnflag = 'N') AS \"N\", " +
        "count(*) FILTER (WHERE l_returnflag = 'R') AS \"R\" " +
        "FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus")))((s, dir) =>
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
    Query("a3_onepass_stats", Some(
      ("SELECT count(l_quantity) AS n, ROUND(avg(l_quantity) + 5e-10, 6) AS mean, " +
        "ROUND(stddev_samp(l_quantity) + 5e-10, 6) AS sd, min(l_quantity) AS mn, max(l_quantity) AS mx, " +
        "quantile_disc(l_quantity, 0.25) AS q25, quantile_disc(l_quantity, 0.50) AS q50, " +
        "quantile_disc(l_quantity, 0.75) AS q75 FROM lineitem")))((s, dir) => roundDoubles {
      val t = table(s, dir, "lineitem")
      val stats = t.agg(
        count(col("l_quantity")).as("n"),
        round(avg(col("l_quantity")), 6).as("mean"),
        round(stddev(col("l_quantity")), 6).as("sd"),
        min(col("l_quantity")).as("mn"),
        max(col("l_quantity")).as("mx"))
      stats.crossJoin(broadcast(TableOne.quartilesFrame(t, "l_quantity")))
    }),
    Query("a4_stats_by_group", Some(
      ("SELECT l_returnflag, count(l_extendedprice) AS n, ROUND(avg(l_extendedprice) + 5e-10, 6) AS mean, " +
        "ROUND(stddev_samp(l_extendedprice) + 5e-10, 6) AS sd, ROUND(min(l_extendedprice) + 5e-10, 6) AS mn, " +
        "ROUND(max(l_extendedprice) + 5e-10, 6) AS mx FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")
    ))((s, dir) => roundDoubles(
      table(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(col("l_extendedprice")).as("n"),
        avg(col("l_extendedprice")).as("mean"),
        stddev(col("l_extendedprice")).as("sd"),
        min(col("l_extendedprice")).as("mn"),
        max(col("l_extendedprice")).as("mx"))
        .orderBy("l_returnflag"))),
    Query("a5_count_distinct", Some(
      ("SELECT l_returnflag, count(DISTINCT l_partkey) AS parts, count(DISTINCT l_suppkey) AS supps " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")))((s, dir) =>
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
    Query("a6b_approx_distinct", Some(
      // the exact census is replayed; within_bounds is the accuracy
      // contract the Spark side actually evaluates against its HLL++
      // estimate — a literal TRUE here, so an out-of-bounds estimate
      // hash-mismatches
      ("SELECT l_returnflag, count(DISTINCT l_partkey) AS parts_exact, " +
        "true AS within_bounds FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")))((s, dir) => {
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

    Query("a11_grouped_quantiles", Some(
      ("SELECT l_returnflag, " +
        "round(quantile_cont(l_extendedprice, 0.25) + 5e-10, 6) AS p25, " +
        "round(quantile_cont(l_extendedprice, 0.5) + 5e-10, 6) AS p50, " +
        "round(quantile_cont(l_extendedprice, 0.75) + 5e-10, 6) AS p75, " +
        "round(quantile_cont(l_extendedprice, 0.95) + 5e-10, 6) AS p95 " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")))((s, dir) =>
      // per-group EXACT interpolated quantiles (percentile_cont
      // semantics: position (n-1)·p, linear interpolation) — the grouped
      // complement of a3's global quartiles: a (group, value) histogram,
      // range-partitioned order statistics, driver interpolation
      Quantiles.groupedQuantiles(table(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice",
          Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95))
        .select(col("l_returnflag"),
          round(col("p25") + lit(5e-10), 6).as("p25"),
          round(col("p50") + lit(5e-10), 6).as("p50"),
          round(col("p75") + lit(5e-10), 6).as("p75"),
          round(col("p95") + lit(5e-10), 6).as("p95"))
        .orderBy("l_returnflag")),

    Query("a13_grouped_quantiles_dist", Some(
      // same oracle as a11: the distributed order-statistics path must
      // produce the identical interpolated quantiles
      ("SELECT l_returnflag, " +
        "round(quantile_cont(l_extendedprice, 0.25) + 5e-10, 6) AS p25, " +
        "round(quantile_cont(l_extendedprice, 0.5) + 5e-10, 6) AS p50, " +
        "round(quantile_cont(l_extendedprice, 0.75) + 5e-10, 6) AS p75, " +
        "round(quantile_cont(l_extendedprice, 0.95) + 5e-10, 6) AS p95 " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")))((s, dir) =>
      // the same route and arguments as a11 (groupedQuantiles has one
      // plan); kept under its own name, which benchmark workloads and
      // committed bench records carry
      Quantiles.groupedQuantiles(table(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice",
          Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95))
        .select(col("l_returnflag"),
          round(col("p25") + lit(5e-10), 6).as("p25"),
          round(col("p50") + lit(5e-10), 6).as("p50"),
          round(col("p75") + lit(5e-10), 6).as("p75"),
          round(col("p95") + lit(5e-10), 6).as("p95"))
        .orderBy("l_returnflag")),

    Query("a14_winsorized_stats", Some(
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
        "FROM w GROUP BY 1 ORDER BY 1")))((s, dir) => {
      // winsorization — the standard outlier-robust preprocessing step,
      // composed from the grouped quantile operator: per-group [p05, p95]
      // bounds (3 rows) attached back onto the corpus, values clamped,
      // one aggregate. Both engines interpolate the bounds with the
      // identical arithmetic (the a11 precedent), so the clamp
      // boundaries agree bitwise and only the rounded averages carry
      // float-sum noise. Two lineitem passes: bounds histogram, clamp
      // aggregate.
      val li = table(s, dir, "lineitem")
      val qs = Quantiles.groupedQuantiles(li, "l_returnflag",
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
    Query("a15_robust_stats", Some(
      // median and MAD re-derived with quantile_cont (interpolation
      // identical to groupedQuantiles — the a11 precedent), outliers
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
        "round(n_out::DOUBLE / n + 5e-10, 6) AS out_frac FROM o ORDER BY 1")))((s, dir) => {
      // robust center/spread + outlier census: per-group median and MAD
      // via two grouped quantile passes, then one outlier-count scan with
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

    Query("a16_grouped_mode", Some(
      // replay the census + deterministic pick: frequency desc, value
      // asc — exactly groupedMode's min(struct(-count, value)) ordering
      ("WITH c AS (SELECT year(o_orderdate)::BIGINT AS yr, o_orderpriority AS v, " +
        "count(*) AS n FROM orders GROUP BY 1, 2), " +
        "r AS (SELECT yr, v, n, row_number() OVER " +
        "(PARTITION BY yr ORDER BY n DESC, v) AS rn, " +
        "sum(n) OVER (PARTITION BY yr) AS tot FROM c) " +
        "SELECT yr, v AS mode, n::BIGINT AS mode_n, tot::BIGINT AS n " +
        "FROM r WHERE rn = 1 ORDER BY yr")))((s, dir) =>
      // exact categorical mode per group (deterministic smallest-value
      // tie-break): most common order priority per order year. Two
      // map-side-combined aggregations; shuffle bounded by distinct
      // (year, priority) pairs, never rows.
      Quantiles.groupedMode(
          table(s, dir, "orders").select(
            year(col("o_orderdate")).cast("long").as("yr"), col("o_orderpriority")),
          "yr", "o_orderpriority")
        .orderBy("yr")),

    Query("a17_grouped_entropy", Some(
      // identical algebra: ln(n) - sum(c*ln(c))/n; per-term doubles are
      // identical, the nudged 6-dp round absorbs summation-order dust
      ("WITH c AS (SELECT year(o_orderdate)::BIGINT AS yr, o_orderpriority AS v, " +
        "count(*)::DOUBLE AS c FROM orders GROUP BY 1, 2) " +
        "SELECT yr, sum(c)::BIGINT AS n, count(*)::BIGINT AS n_distinct, " +
        "round(ln(sum(c)) - sum(c*ln(c))/sum(c) + 5e-10, 6) AS entropy, " +
        "round(CASE WHEN count(*) > 1 THEN " +
        "(ln(sum(c)) - sum(c*ln(c))/sum(c)) / ln(count(*)) END + 5e-10, 6) AS evenness " +
        "FROM c GROUP BY yr ORDER BY yr")))((s, dir) =>
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

    Query("a19_grouped_moments", Some(
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
        "FROM m ORDER BY l_returnflag")))((s, dir) => {
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

    Query("a20_weighted_median", Some(
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
        "FROM k WHERE cw * 2 >= tw GROUP BY g ORDER BY g")))((s, dir) =>
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

    Query("a18_corr_matrix", Some(
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
        " ORDER BY col_x, col_y")))((s, dir) =>
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
    Query("a7_cube", Some(
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(grouping(l_returnflag) AS INT) AS g_rf, CAST(grouping(l_linestatus) AS INT) AS g_ls " +
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) " +
        "ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")))((s, dir) =>
      table(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
        .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus")),
    Query("a12_rollup", Some(
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(grouping(l_returnflag) AS INT) AS g_rf, CAST(grouping(l_linestatus) AS INT) AS g_ls " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) " +
        "ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")))((s, dir) =>
      // ROLLUP completes the grouping-sets family (a7 covers CUBE):
      // hierarchical prefixes only — (rf, ls), (rf), () — with grouping
      // markers pinning which rows are subtotals
      table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
        .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus")),
    Query("a8_histogram", Some(
      ("WITH mm AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem) " +
        "SELECT CAST(least(floor((l_extendedprice - lo) * 20 / (hi - lo)), 19) AS BIGINT) AS bucket, " +
        "count(*)::BIGINT AS n FROM lineitem, mm GROUP BY bucket ORDER BY bucket")))((s, dir) => {
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
    Query("a9_corr", Some(
      ("SELECT l_returnflag, " +
        "ROUND(corr(l_quantity, l_extendedprice) + 5e-10, 6) AS corr_qp, " +
        "ROUND(covar_samp(l_quantity, l_extendedprice) + 5e-10, 6) AS covar_qp, " +
        "ROUND(regr_slope(l_extendedprice, l_quantity) + 5e-10, 6) AS slope, " +
        "ROUND(regr_intercept(l_extendedprice, l_quantity) + 5e-10, 6) AS intercept " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")))((s, dir) =>
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
    Query("a25_grouping_sets", Some(
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "round(sum(l_quantity::DOUBLE) + 5e-10, 6) AS sum_qty, " +
        "CAST(grouping(l_returnflag) AS INT) AS g_rf, " +
        "CAST(grouping(l_linestatus) AS INT) AS g_ls " +
        "FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ()) " +
        "ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")))((s, dir) =>
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
    Query("a26_spearman", Some(
      // tie-averaged doubled ranks via rank()/count() windows (equal to
      // the census closed form 2*below + cnt + 1), HUGEINT sums cast to
      // DOUBLE, then the identical rho algebra per pair
      ("WITH s AS (SELECT l_quantity::DOUBLE AS q, l_extendedprice::DOUBLE AS e, " +
        "l_discount::DOUBLE AS d FROM lineitem WHERE l_quantity IS NOT NULL " +
        "AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL), " +
        "r AS (SELECT " +
        "(2 * rank() OVER (ORDER BY q) + count(*) OVER (PARTITION BY q) - 1) AS rq, " +
        "(2 * rank() OVER (ORDER BY e) + count(*) OVER (PARTITION BY e) - 1) AS re, " +
        "(2 * rank() OVER (ORDER BY d) + count(*) OVER (PARTITION BY d) - 1) AS rd FROM s), " +
        "g AS (SELECT count(*)::BIGINT AS nn, count(*)::DOUBLE AS n, " +
        "sum(rq)::DOUBLE AS sq, sum(re)::DOUBLE AS se, sum(rd)::DOUBLE AS sd, " +
        "sum(rq*rq)::DOUBLE AS sqq, sum(re*re)::DOUBLE AS see, sum(rd*rd)::DOUBLE AS sdd, " +
        "sum(rq*re)::DOUBLE AS sqe, sum(rq*rd)::DOUBLE AS sqd, sum(re*rd)::DOUBLE AS sed FROM r) " +
        Seq(("l_quantity", "l_extendedprice", "sqe", "sq", "se", "sqq", "see"),
            ("l_quantity", "l_discount", "sqd", "sq", "sd", "sqq", "sdd"),
            ("l_extendedprice", "l_discount", "sed", "se", "sd", "see", "sdd"))
          .map { case (cx, cy, sxy, sx, sy, sxx, syy) =>
            s"SELECT '$cx' AS col_x, '$cy' AS col_y, nn AS n, " +
              s"round(CASE WHEN sqrt(n*$sxx - $sx*$sx) * sqrt(n*$syy - $sy*$sy) > 0 " +
              s"THEN (n*$sxy - $sx*$sy) / (sqrt(n*$sxx - $sx*$sx) * sqrt(n*$syy - $sy*$sy)) END " +
              "+ 5e-10, 6) AS rho FROM g"
          }.mkString(" UNION ALL ") +
        " ORDER BY col_x, col_y")))((s, dir) =>
      // tie-averaged Spearman over the lineitem measures: ranks from
      // the bucketed (feature, value) census (no per-feature sort
      // task), doubled ranks keep every sum integral in DECIMAL(38,0),
      // so the oracle's HUGEINT sums replay rho bit-for-bit
      Association.spearmanMatrix(
          table(s, dir, "lineitem")
            .select("l_quantity", "l_extendedprice", "l_discount"),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .select(col("col_x"), col("col_y"), col("n"),
          round(col("rho") + lit(5e-10), 6).as("rho"))
        .orderBy("col_x", "col_y")),
    Query("a27_target_encode", Some(
      // per-category decimal sums + the same shrinkage algebra
      ("WITH c AS (SELECT o_orderpriority AS category, count(*)::BIGINT AS n, " +
        "sum(CAST(o_totalprice AS DECIMAL(18,6))) AS s FROM orders " +
        "WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS tn, sum(s) AS ts FROM c) " +
        "SELECT category, n, round(s::DOUBLE / n + 5e-10, 6) AS mean_raw, " +
        "round((s::DOUBLE + 10.0 * (ts::DOUBLE / tn)) / (n::DOUBLE + 10.0) + 5e-10, 6) AS mean_encoded " +
        "FROM c, t ORDER BY category")))((s, dir) =>
      // smoothed mean-target encoding (k = 10 pseudo-counts toward the
      // global mean): one census aggregate + a 1-row broadcast total;
      // decimal sums keep the means partition-order exact
      Encoding.targetEncode(table(s, dir, "orders"),
          "o_orderpriority", "o_totalprice", k = 10.0)
        .select(col("category"), col("n"),
          round(col("mean_raw") + lit(5e-10), 6).as("mean_raw"),
          round(col("mean_encoded") + lit(5e-10), 6).as("mean_encoded"))
        .orderBy("category")),
    Query("a28_woe_iv", Some(
      // the same smoothed odds algebra from exact long counts
      ("WITH c AS (SELECT o_orderpriority AS category, count(*)::BIGINT AS n, " +
        "CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good, " +
        "CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_bad " +
        "FROM orders WHERE o_orderpriority IS NOT NULL AND o_orderkey IS NOT NULL GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_good) AS BIGINT) AS tg, CAST(sum(n_bad) AS BIGINT) AS tb FROM c) " +
        "SELECT category, n, n_good, n_bad, " +
        "round(ln(((n_good + 0.5) / (tg + 1.0)) / ((n_bad + 0.5) / (tb + 1.0))) + 5e-10, 6) AS woe, " +
        "round((((n_good + 0.5) / (tg + 1.0)) - ((n_bad + 0.5) / (tb + 1.0))) * " +
        "ln(((n_good + 0.5) / (tg + 1.0)) / ((n_bad + 0.5) / (tb + 1.0))) + 5e-10, 6) AS iv_term " +
        "FROM c, t ORDER BY category")))((s, dir) => {
      // weight-of-evidence + information value against a replayable
      // binary target (orderkey % 3): the feature-screening encoder,
      // add-0.5 smoothing keeps empty cells finite
      val o = table(s, dir, "orders")
        .withColumn("y", (col("o_orderkey") % 3 === 0).cast("int"))
      Encoding.woeEncode(o, "o_orderpriority", "y")
        .select(col("category"), col("n"), col("n_good"), col("n_bad"),
          round(col("woe") + lit(5e-10), 6).as("woe"),
          round(col("iv_term") + lit(5e-10), 6).as("iv_term"))
        .orderBy("category")
    }),
    Query("a32_bartlett", Some(
      // per-flag decimal power sums, the same pooled-variance and
      // correction-factor algebra over the census rows
      ("WITH c AS (SELECT l_returnflag AS g, count(*)::BIGINT AS ni, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS sx, " +
        "sum(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS sxx " +
        "FROM lineitem WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL GROUP BY 1), " +
        "s AS (SELECT ni, (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / ni::DOUBLE) / (ni::DOUBLE - 1.0) AS s2 FROM c), " +
        "g AS (SELECT count(*)::BIGINT AS k, CAST(sum(ni) AS BIGINT) AS n, " +
        "min(ni) AS minn, min(s2) AS mins2, " +
        "sum((ni - 1)::DOUBLE * s2) AS ssw, sum((ni - 1)::DOUBLE * ln(s2)) AS slog, " +
        "sum(1.0 / (ni - 1)::DOUBLE) AS sinv FROM s) " +
        "SELECT k, n, round(CASE WHEN k >= 2 AND minn >= 2 AND mins2 > 0 THEN " +
        "((n - k)::DOUBLE * ln(ssw / (n - k)::DOUBLE) - slog) / " +
        "(1.0 + (sinv - 1.0 / (n - k)::DOUBLE) / (3.0 * (k - 1)::DOUBLE)) END + 5e-10, 6) AS chi2, " +
        "(k - 1)::BIGINT AS dof FROM g")))((s, dir) =>
      // Levene's (t20) parametric sibling over the same shape: one
      // decimal power-sum census, one aggregate over its <=k rows,
      // every log/division on census-derived doubles
      Association.bartlett(
          table(s, dir, "lineitem").select("l_returnflag", "l_extendedprice"),
          "l_returnflag", "l_extendedprice")
        .select(col("k"), col("n"),
          round(col("chi2") + lit(5e-10), 6).as("chi2"), col("dof"))),
    Query("a31_cuped", Some({
      // per-flag decimal power sums, pooled theta/xbar off their
      // grand totals, the identical double algebra per census row
      val vy = "(syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0)"
      val vx = "(sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0)"
      val cv = "(sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0)"
      val vc = s"$vy - 2.0 * theta * $cv + theta * theta * $vx"
      ("WITH c AS (SELECT l_returnflag AS g, count(*)::BIGINT AS n, " +
        "sum(CAST(l_quantity AS DECIMAL(18,6))) AS sx, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS sy, " +
        "sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_quantity AS DECIMAL(28,6))) AS sxx, " +
        "sum(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS syy, " +
        "sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS sxy " +
        "FROM lineitem WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL " +
        "AND l_quantity IS NOT NULL GROUP BY 1), " +
        "p AS (SELECT CAST(sum(n) AS BIGINT) AS pn, sum(sx) AS psx, sum(sy) AS psy, " +
        "sum(sxx) AS psxx, sum(sxy) AS psxy FROM c), " +
        "t AS (SELECT c.*, CASE WHEN pn::DOUBLE * psxx::DOUBLE - psx::DOUBLE * psx::DOUBLE > 0 " +
        "THEN (pn::DOUBLE * psxy::DOUBLE - psx::DOUBLE * psy::DOUBLE) / " +
        "(pn::DOUBLE * psxx::DOUBLE - psx::DOUBLE * psx::DOUBLE) END AS theta, " +
        "psx::DOUBLE / pn::DOUBLE AS xbar FROM c CROSS JOIN p) " +
        "SELECT g AS l_returnflag, n, " +
        "round(sy::DOUBLE / n::DOUBLE + 5e-10, 6) AS mean_y, " +
        "round(sy::DOUBLE / n::DOUBLE - theta * (sx::DOUBLE / n::DOUBLE - xbar) + 5e-10, 6) AS mean_cuped, " +
        s"round(CASE WHEN n >= 2 THEN $vy END + 5e-10, 2) AS var_y, " +
        s"round(CASE WHEN n >= 2 THEN $vc END + 5e-10, 2) AS var_cuped, " +
        s"round(CASE WHEN n >= 2 AND $vy > 0 THEN 1.0 - ($vc) / ($vy) END + 5e-10, 6) AS var_reduction " +
        "FROM t ORDER BY l_returnflag")
    }))((s, dir) =>
      // the A/B variance-reduction lever: adjust revenue by the
      // quantity covariate with the POOLED theta — one per-flag census
      // of exact decimal power sums, theta/xbar off the same census,
      // all algebra row-local over census rows. var_y/var_cuped round
      // at 2 dp (t20 precedent: each is a difference of ~1e9-scale
      // sums, float-order noise lives near 1e-6); the scale-free
      // var_reduction ratio cancels that noise and holds 6 dp
      Association.cuped(
          table(s, dir, "lineitem")
            .select("l_returnflag", "l_extendedprice", "l_quantity"),
          "l_returnflag", "l_extendedprice", "l_quantity")
        .select(col("l_returnflag"), col("n"),
          round(col("mean_y") + lit(5e-10), 6).as("mean_y"),
          round(col("mean_cuped") + lit(5e-10), 6).as("mean_cuped"),
          round(col("var_y") + lit(5e-10), 2).as("var_y"),
          round(col("var_cuped") + lit(5e-10), 2).as("var_cuped"),
          round(col("var_reduction") + lit(5e-10), 6).as("var_reduction"))
        .orderBy("l_returnflag")),
    Query("a33_ols", Some({
      // the a31 decimal power-sum census for (x1, x2, y), then the
      // identical centered-sum/Cramer double algebra per census row
      val c11 = "(s11::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE)"
      val c22 = "(s22::DOUBLE - s2::DOUBLE * s2::DOUBLE / n::DOUBLE)"
      val c12 = "(s12::DOUBLE - s1::DOUBLE * s2::DOUBLE / n::DOUBLE)"
      val c1y = "(s1y::DOUBLE - s1::DOUBLE * sy::DOUBLE / n::DOUBLE)"
      val c2y = "(s2y::DOUBLE - s2::DOUBLE * sy::DOUBLE / n::DOUBLE)"
      val cyy = "(syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE)"
      val det = s"($c11 * $c22 - $c12 * $c12)"
      ("WITH c AS (SELECT l_returnflag AS g, count(*)::BIGINT AS n, " +
        "sum(CAST(l_quantity AS DECIMAL(18,6))) AS s1, " +
        "sum(CAST(l_discount AS DECIMAL(18,6))) AS s2, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS sy, " +
        "sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_quantity AS DECIMAL(28,6))) AS s11, " +
        "sum(CAST(l_discount AS DECIMAL(28,6)) * CAST(l_discount AS DECIMAL(28,6))) AS s22, " +
        "sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_discount AS DECIMAL(28,6))) AS s12, " +
        "sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS s1y, " +
        "sum(CAST(l_discount AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS s2y, " +
        "sum(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS syy " +
        "FROM lineitem WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL " +
        "AND l_discount IS NOT NULL AND l_extendedprice IS NOT NULL GROUP BY 1), " +
        s"b AS (SELECT *, CASE WHEN n >= 3 AND $det > 0 " +
        s"THEN ($c1y * $c22 - $c2y * $c12) / $det END AS b1, " +
        s"CASE WHEN n >= 3 AND $det > 0 " +
        s"THEN ($c2y * $c11 - $c1y * $c12) / $det END AS b2 FROM c) " +
        "SELECT g AS l_returnflag, n, " +
        "round(sy::DOUBLE / n::DOUBLE - b1 * (s1::DOUBLE / n::DOUBLE) - " +
        "b2 * (s2::DOUBLE / n::DOUBLE) + 5e-10, 4) AS b0, " +
        "round(b1 + 5e-10, 4) AS b1, round(b2 + 5e-10, 4) AS b2, " +
        s"round(CASE WHEN b1 IS NOT NULL AND $cyy > 0 " +
        s"THEN (b1 * $c1y + b2 * $c2y) / $cyy END + 5e-10, 6) AS r2 " +
        "FROM b ORDER BY l_returnflag")
    }))((s, dir) =>
      // closed-form two-predictor regression per return flag: revenue
      // on (quantity, discount) — one exact-decimal power-sum census,
      // Cramer's rule row-locally per census row. Coefficients round
      // at 4 dp (b0 rides ~1e4-scale means — the a31 headroom rule);
      // the scale-free r2 holds 6
      Association.ols2(
          table(s, dir, "lineitem")
            .select("l_returnflag", "l_quantity", "l_discount", "l_extendedprice"),
          "l_returnflag", "l_quantity", "l_discount", "l_extendedprice")
        .select(col("l_returnflag"), col("n"),
          round(col("b0") + lit(5e-10), 4).as("b0"),
          round(col("b1") + lit(5e-10), 4).as("b1"),
          round(col("b2") + lit(5e-10), 4).as("b2"),
          round(col("r2") + lit(5e-10), 6).as("r2"))
        .orderBy("l_returnflag")),
    Query("a29_partial_corr", Some(
      // the nine decimal power sums and the identical double algebra
      ("WITH g AS (SELECT count(*)::BIGINT AS n, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS sx, " +
        "sum(CAST(l_quantity AS DECIMAL(18,6))) AS sy, " +
        "sum(CAST(l_discount AS DECIMAL(18,6))) AS sz, " +
        "sum(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS sxx, " +
        "sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_quantity AS DECIMAL(28,6))) AS syy, " +
        "sum(CAST(l_discount AS DECIMAL(28,6)) * CAST(l_discount AS DECIMAL(28,6))) AS szz, " +
        "sum(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_quantity AS DECIMAL(28,6))) AS sxy, " +
        "sum(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_discount AS DECIMAL(28,6))) AS sxz, " +
        "sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_discount AS DECIMAL(28,6))) AS syz " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL " +
        "AND l_discount IS NOT NULL), " +
        "r AS (SELECT n, " +
        "CASE WHEN sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0 " +
        "THEN (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)) END AS r_xy, " +
        "CASE WHEN sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * sqrt(n::DOUBLE * szz::DOUBLE - sz::DOUBLE * sz::DOUBLE) > 0 " +
        "THEN (n::DOUBLE * sxz::DOUBLE - sx::DOUBLE * sz::DOUBLE) / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * sqrt(n::DOUBLE * szz::DOUBLE - sz::DOUBLE * sz::DOUBLE)) END AS r_xz, " +
        "CASE WHEN sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) * sqrt(n::DOUBLE * szz::DOUBLE - sz::DOUBLE * sz::DOUBLE) > 0 " +
        "THEN (n::DOUBLE * syz::DOUBLE - sy::DOUBLE * sz::DOUBLE) / (sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) * sqrt(n::DOUBLE * szz::DOUBLE - sz::DOUBLE * sz::DOUBLE)) END AS r_yz " +
        "FROM g) " +
        "SELECT n, round(r_xy + 5e-10, 6) AS r_xy, round(r_xz + 5e-10, 6) AS r_xz, " +
        "round(r_yz + 5e-10, 6) AS r_yz, " +
        "round(CASE WHEN abs(r_xz) < 1.0 - 1e-12 AND abs(r_yz) < 1.0 - 1e-12 " +
        "THEN (r_xy - r_xz * r_yz) / (sqrt(1.0 - r_xz * r_xz) * sqrt(1.0 - r_yz * r_yz)) END + 5e-10, 6) AS r_partial " +
        "FROM r")))((s, dir) =>
      // is the price~quantity correlation just the discount channel?
      // nine decimal power sums in ONE aggregate; the double algebra
      // sees exact operands so the oracle replays it bit-for-bit
      Association.partialCorrelation(
          table(s, dir, "lineitem")
            .select("l_extendedprice", "l_quantity", "l_discount"),
          "l_extendedprice", "l_quantity", "l_discount")
        .select(col("n"),
          round(col("r_xy") + lit(5e-10), 6).as("r_xy"),
          round(col("r_xz") + lit(5e-10), 6).as("r_xz"),
          round(col("r_yz") + lit(5e-10), 6).as("r_yz"),
          round(col("r_partial") + lit(5e-10), 6).as("r_partial"))),
    Query("a30_quantile_bins", Some(
      // quantile_cont edges (== Spark's exact percentile), the same
      // branch-free bin sum, decimal value sums for the means
      ("WITH e AS (SELECT quantile_cont(l_extendedprice, 0.2) AS e1, " +
        "quantile_cont(l_extendedprice, 0.4) AS e2, " +
        "quantile_cont(l_extendedprice, 0.6) AS e3, " +
        "quantile_cont(l_extendedprice, 0.8) AS e4 " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL), " +
        "b AS (SELECT (CASE WHEN v >= e1 THEN 1 ELSE 0 END + " +
        "CASE WHEN v >= e2 THEN 1 ELSE 0 END + CASE WHEN v >= e3 THEN 1 ELSE 0 END + " +
        "CASE WHEN v >= e4 THEN 1 ELSE 0 END)::BIGINT AS bin, v FROM " +
        "(SELECT l_extendedprice::DOUBLE AS v FROM lineitem " +
        "WHERE l_extendedprice IS NOT NULL), e), " +
        "g AS (SELECT bin, count(*)::BIGINT AS n, " +
        "sum(CAST(v AS DECIMAL(18,6))) AS s FROM b GROUP BY bin) " +
        "SELECT bin, " +
        "round(CASE bin WHEN 0 THEN '-infinity'::DOUBLE WHEN 1 THEN e1 " +
        "WHEN 2 THEN e2 WHEN 3 THEN e3 ELSE e4 END + 5e-10, 6) AS lo, " +
        "round(CASE bin WHEN 0 THEN e1 WHEN 1 THEN e2 WHEN 2 THEN e3 " +
        "WHEN 3 THEN e4 ELSE 'infinity'::DOUBLE END + 5e-10, 6) AS hi, " +
        "n, round(s::DOUBLE / n + 5e-10, 6) AS mean_value " +
        "FROM g, e ORDER BY bin")))((s, dir) =>
      // equal-frequency quintiles of price: edges from the exact grouped
      // quantile operator, attached as LITERALS (the clampToBounds gate),
      // census in one branch-free aggregate
      Encoding.quantileBin(
          table(s, dir, "lineitem").select("l_extendedprice"),
          "l_extendedprice", k = 5)
        .select(col("bin"),
          round(col("lo") + lit(5e-10), 6).as("lo"),
          round(col("hi") + lit(5e-10), 6).as("hi"),
          col("n"),
          round(col("mean_value") + lit(5e-10), 6).as("mean_value"))
        .orderBy("bin")),
    Query("a10_anomaly", Some(
      // every statistic the z-score consumes is a window sum of exact
      // integers; the double arithmetic is written in the identical
      // operation order as the Spark expression
      ("WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "w AS (SELECT event_type, h, n, count(*) OVER win AS cnt, " +
        "sum(n) OVER win AS s, sum(n*n) OVER win AS ssq FROM hourly " +
        "WINDOW win AS (PARTITION BY event_type ORDER BY h " +
        "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)), " +
        "v AS (SELECT event_type, h, n, cnt, s, " +
        "(ssq::DOUBLE - s::DOUBLE * s / cnt) / cnt AS vr FROM w WHERE cnt >= 12) " +
        "SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS h, n::BIGINT AS n, " +
        "round((n::DOUBLE - s::DOUBLE / cnt) / sqrt(vr) + 5e-10, 6) AS z " +
        "FROM v WHERE vr > 0 AND abs((n::DOUBLE - s::DOUBLE / cnt) / sqrt(vr)) >= 2.0 " +
        "ORDER BY event_type, h")))((s, dir) => {
      // rolling z-score outlier detection over hourly event counts —
      // the shared rollingZAnomalies read-out (exact-long window
      // moments, self-excluding frame, <12-prior-hours skip), which
      // reads hourly counts merged batch by batch with mergeAggState
      // identically (spec-pinned in EventPipelineSpec).
      val hourly = Util.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      EventPipeline.rollingZAnomalies(hourly)
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("h"),
          col("n"), round(col("z") + lit(5e-10), 6).as("z"))
        .orderBy("event_type", "h")
    }),
  )
}
