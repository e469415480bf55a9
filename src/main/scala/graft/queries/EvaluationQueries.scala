package graft.queries

import org.apache.spark.sql.functions._
import graft.Query
import graft.Util.table
import graft.ops.Evaluation

/** Model evaluation (`v*`): ranking, calibration, agreement and lift
  * metrics over scores planted from `orders`, `lineitem` and
  * `embeddings`. */
object EvaluationQueries {

  def all: Seq[Query] = Seq(
    Query("v13_brier_decomposition", Some(
      // the distinct-forecast census, base rate off its totals, the
      // three Murphy terms and their exact-identity recombination
      ("WITH s AS (SELECT (o_orderkey % 1000)::DOUBLE / 1000.0 AS p, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders " +
        "WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL), " +
        "c AS (SELECT p, count(*)::BIGINT AS n, CAST(sum(y) AS BIGINT) AS sy FROM s GROUP BY p), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(sy) AS BIGINT) AS nsy FROM c), " +
        "d AS (SELECT c.n, c.p, c.sy::DOUBLE / c.n AS ybar, t.nn, " +
        "t.nsy::DOUBLE / t.nn AS base FROM c CROSS JOIN t) " +
        "SELECT CAST(min(nn) AS BIGINT) AS n, count(*)::BIGINT AS n_forecasts, " +
        "round(min(base) + 5e-10, 6) AS base_rate, " +
        "round(sum(n * (p - ybar) * (p - ybar) / nn) + 5e-10, 6) AS reliability, " +
        "round(sum(n * (ybar - base) * (ybar - base) / nn) + 5e-10, 6) AS resolution, " +
        "round(min(base * (1.0 - base)) + 5e-10, 6) AS uncertainty, " +
        "round(sum(n * (p - ybar) * (p - ybar) / nn) - sum(n * (ybar - base) * (ybar - base) / nn) " +
        "+ min(base * (1.0 - base)) + 5e-10, 6) AS brier " +
        "FROM d")))((s, dir) =>
      // WHY is the v8 Brier what it is: Murphy reliability/resolution/
      // uncertainty over the distinct-forecast census, with the exact
      // identity brier = rel - res + unc (spec-pinned)
      Evaluation.brierDecomposition(
          table(s, dir, "orders")
            .filter(col("o_orderkey").isNotNull && col("o_orderstatus").isNotNull)
            .select(((col("o_orderkey") % 1000).cast("double") / 1000.0).as("p"),
              (col("o_orderstatus") === "F").cast("long").as("y")),
          "p", "y")
        .select(col("n"), col("n_forecasts"),
          round(col("base_rate") + lit(5e-10), 6).as("base_rate"),
          round(col("reliability") + lit(5e-10), 6).as("reliability"),
          round(col("resolution") + lit(5e-10), 6).as("resolution"),
          round(col("uncertainty") + lit(5e-10), 6).as("uncertainty"),
          round(col("brier") + lit(5e-10), 6).as("brier"))),
    Query("v1_roc_auc", Some(
      // per-distinct-score class counts, strictly-below negative cumsum,
      // the exact-integer Mann-Whitney numerator, ONE double division
      ("WITH s AS (SELECT embedding[1]::DOUBLE AS v, (label % 2)::BIGINT AS y FROM embeddings " +
        "WHERE embedding[1] IS NOT NULL AND label IS NOT NULL), " +
        "g AS (SELECT v, sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END)::BIGINT AS np, " +
        "sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::BIGINT AS nn FROM s GROUP BY v), " +
        "t AS (SELECT sum(np)::BIGINT AS p, sum(nn)::BIGINT AS n FROM g), " +
        "c AS (SELECT np, nn, coalesce(sum(nn) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS below FROM g) " +
        "SELECT round(sum((below * 2 + nn)::HUGEINT * np)::DOUBLE / (2e0 * p * n) + 5e-10, 6) AS auc, " +
        "p AS n_pos, n AS n_neg FROM c CROSS JOIN t GROUP BY p, n")))((s, dir) => {
      // exact corpus-scale ROC-AUC: first embedding component as the
      // score, odd labels as the positive class
      val e = table(s, dir, "embeddings")
      Evaluation.rocAuc(
          e.select(element_at(col("embedding"), 1).as("score"),
            (col("label") % 2).as("y")), "score", "y")
        .select(round(col("auc") + lit(5e-10), 6).as("auc"),
          col("n_pos"), col("n_neg"))
    }),
    Query("v14_auc_delong", Some(
      // the v1 census with BOTH strictly-below cumsums, the per-score
      // placements, count-weighted placement moments, and the identical
      // driver algebra (auc, S10/P + S01/N, normal CI)
      ("WITH s AS (SELECT embedding[1]::DOUBLE AS v, (label % 2)::BIGINT AS y FROM embeddings " +
        "WHERE embedding[1] IS NOT NULL AND label IS NOT NULL), " +
        "g AS (SELECT v, sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END)::BIGINT AS np, " +
        "sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::BIGINT AS nn FROM s GROUP BY v), " +
        "t AS (SELECT sum(np)::BIGINT AS p, sum(nn)::BIGINT AS n FROM g), " +
        "c AS (SELECT np, nn, " +
        "coalesce(sum(nn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS negb, " +
        "coalesce(sum(np) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS posb FROM g), " +
        "pl AS (SELECT np, nn, " +
        "(negb::DOUBLE + 0.5 * nn::DOUBLE) / n::DOUBLE AS v10, " +
        "((p - posb - np)::DOUBLE + 0.5 * np::DOUBLE) / p::DOUBLE AS v01 " +
        "FROM c CROSS JOIN t), " +
        "mo AS (SELECT sum(np::DOUBLE * v10) AS sw10, sum(np::DOUBLE * v10 * v10) AS sq10, " +
        "sum(nn::DOUBLE * v01) AS sw01, sum(nn::DOUBLE * v01 * v01) AS sq01 FROM pl), " +
        "fin AS (SELECT p, n, sw10 / p AS auc, " +
        "((sq10 - sw10 * sw10 / p) / (p - 1.0)) / p + ((sq01 - sw01 * sw01 / n) / (n - 1.0)) / n AS va " +
        "FROM mo CROSS JOIN t) " +
        "SELECT p AS n_pos, n AS n_neg, round(auc + 5e-10, 6) AS auc, " +
        "round(va + 5e-10, 6) AS var_auc, round(sqrt(va) + 5e-10, 6) AS se_auc, " +
        "round(auc - 1.96 * sqrt(va) + 5e-10, 6) AS ci_lo, " +
        "round(auc + 1.96 * sqrt(va) + 5e-10, 6) AS ci_hi FROM fin")))((s, dir) => {
      // is the v1 AUC real or noise: DeLong placement variances over
      // the same score census (both class cumsums from ONE stitched
      // window pass), normal CI; the five-number algebra runs on
      // driver scalars off one census-sized moment aggregate
      val e = table(s, dir, "embeddings")
      Evaluation.aucDeLong(
          e.select(element_at(col("embedding"), 1).as("score"),
            (col("label") % 2).as("y")), "score", "y")
        .select(col("n_pos"), col("n_neg"),
          round(col("auc") + lit(5e-10), 6).as("auc"),
          round(col("var_auc") + lit(5e-10), 6).as("var_auc"),
          round(col("se_auc") + lit(5e-10), 6).as("se_auc"),
          round(col("ci_lo") + lit(5e-10), 6).as("ci_lo"),
          round(col("ci_hi") + lit(5e-10), 6).as("ci_hi"))
    }),
    Query("v2_confusion", Some(
      ("WITH s AS (SELECT (embedding[2] > 0e0) AS pred, ((label % 2) <> 0) AS y FROM embeddings " +
        "WHERE embedding[2] IS NOT NULL AND label IS NOT NULL), " +
        "a AS (SELECT sum(CASE WHEN pred AND y THEN 1 ELSE 0 END)::BIGINT AS tp, " +
        "sum(CASE WHEN pred AND NOT y THEN 1 ELSE 0 END)::BIGINT AS fp, " +
        "sum(CASE WHEN NOT pred AND y THEN 1 ELSE 0 END)::BIGINT AS fn, " +
        "sum(CASE WHEN NOT pred AND NOT y THEN 1 ELSE 0 END)::BIGINT AS tn FROM s) " +
        "SELECT tp, fp, fn, tn, " +
        "round(tp::DOUBLE / (tp + fp) + 5e-10, 6) AS precision, " +
        "round(tp::DOUBLE / (tp + fn) + 5e-10, 6) AS recall, " +
        "round((tp * 2)::DOUBLE / (tp * 2 + fp + fn) + 5e-10, 6) AS f1, " +
        "round((tp + tn)::DOUBLE / (tp + fp + fn + tn) + 5e-10, 6) AS accuracy FROM a")))((s, dir) => {
      // one-pass confusion counts + derived metrics for the thresholded
      // second component against the same class
      val e = table(s, dir, "embeddings")
      Evaluation.confusionStats(
          e.select((element_at(col("embedding"), 2) > 0.0f).cast("long").as("pred"),
            (col("label") % 2).as("y")), "pred", "y")
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          round(col("precision") + lit(5e-10), 6).as("precision"),
          round(col("recall") + lit(5e-10), 6).as("recall"),
          round(col("f1") + lit(5e-10), 6).as("f1"),
          round(col("accuracy") + lit(5e-10), 6).as("accuracy"))
    }),
    Query("v3_ndcg", Some(
      // the window formulation of the same metric: rank by score (ties ->
      // id), rank by relevance for the ideal, identical gain/discount
      // arithmetic (2^rel - 1) / log2(pos + 1), one-based positions
      ("WITH s AS (SELECT year(o_orderdate)::BIGINT AS yr, o_totalprice::DOUBLE AS score, " +
        "(o_custkey % 4)::DOUBLE AS rel, o_orderkey AS id FROM orders " +
        "WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL AND o_orderkey IS NOT NULL), " +
        "r AS (SELECT yr, rel, row_number() OVER (PARTITION BY yr ORDER BY score DESC, id) AS rn FROM s), " +
        "ri AS (SELECT yr, rel, row_number() OVER (PARTITION BY yr ORDER BY rel DESC, id) AS rn FROM s), " +
        "d AS (SELECT yr, sum((pow(2e0, rel) - 1) / log2(rn + 1)) AS dcg FROM r WHERE rn <= 10 GROUP BY yr), " +
        "i AS (SELECT yr, sum((pow(2e0, rel) - 1) / log2(rn + 1)) AS idcg FROM ri WHERE rn <= 10 GROUP BY yr), " +
        "n AS (SELECT yr, count(*)::BIGINT AS n_items FROM s GROUP BY yr) " +
        "SELECT n.yr, n_items, round(dcg + 5e-10, 6) AS dcg, round(idcg + 5e-10, 6) AS idcg, " +
        "round(CASE WHEN idcg > 0 THEN dcg / idcg END + 5e-10, 6) AS ndcg " +
        "FROM n JOIN d ON n.yr = d.yr JOIN i ON n.yr = i.yr ORDER BY n.yr")))((s, dir) => {
      // ranking-eval: NDCG@10 per order-year — score = o_totalprice,
      // relevance = a deterministic 4-grade (o_custkey % 4), ties broken
      // by o_orderkey. Two bounded TopKRel buffers per group ride ONE
      // map-side-combined aggregate; the oracle's window formulation
      // must per-group-sort every row — the plan this operator avoids.
      Evaluation.ndcgAtK(
          table(s, dir, "orders")
            .filter(col("o_totalprice").isNotNull && col("o_custkey").isNotNull &&
              col("o_orderkey").isNotNull)
            .select(year(col("o_orderdate")).cast("long").as("yr"),
              col("o_totalprice").as("score"),
              (col("o_custkey") % 4).as("rel"),
              col("o_orderkey").as("id")),
          "yr", "score", "rel", "id", 10)
        .select(col("yr"), col("n_items"),
          round(col("dcg") + lit(5e-10), 6).as("dcg"),
          round(col("idcg") + lit(5e-10), 6).as("idcg"),
          round(col("ndcg") + lit(5e-10), 6).as("ndcg"))
        .orderBy("yr")
    }),
    Query("v7_mrr_precision", Some(
      // the window formulation: rank by (score DESC, id), first relevant
      // rank within 10, relevant count within 10, exact divisions
      ("WITH s AS (SELECT year(o_orderdate)::BIGINT AS yr, o_totalprice::DOUBLE AS score, " +
        "(o_custkey % 4)::DOUBLE AS rel, o_orderkey AS id FROM orders " +
        "WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL AND o_orderkey IS NOT NULL), " +
        "r AS (SELECT yr, rel, row_number() OVER (PARTITION BY yr ORDER BY score DESC, id) AS rn FROM s), " +
        "a AS (SELECT yr, min(CASE WHEN rel > 0 THEN rn END) AS first_rel, " +
        "sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT AS n_rel FROM r WHERE rn <= 10 GROUP BY yr), " +
        "n AS (SELECT yr, count(*)::BIGINT AS n_items FROM s GROUP BY yr) " +
        "SELECT n.yr, n_items, " +
        "round(coalesce(1e0 / first_rel, 0e0) + 5e-10, 6) AS mrr, " +
        "round(n_rel::DOUBLE / 10 + 5e-10, 6) AS precision " +
        "FROM n JOIN a ON n.yr = a.yr ORDER BY n.yr")))((s, dir) =>
      // MRR@10 / P@10 over the v3 ranking task (relevant = grade > 0)
      // from the same bounded buffer — exact rationals end to end
      Evaluation.rankingAtK(
          table(s, dir, "orders")
            .filter(col("o_totalprice").isNotNull && col("o_custkey").isNotNull &&
              col("o_orderkey").isNotNull)
            .select(year(col("o_orderdate")).cast("long").as("yr"),
              col("o_totalprice").as("score"),
              (col("o_custkey") % 4).as("rel"),
              col("o_orderkey").as("id")),
          "yr", "score", "rel", "id", 10)
        .select(col("yr"), col("n_items"),
          round(col("mrr") + lit(5e-10), 6).as("mrr"),
          round(col("precision") + lit(5e-10), 6).as("precision"))
        .orderBy("yr")),
    Query("v8_brier_logloss", Some(
      // identical clamp constants and per-row expressions; the means are
      // plain sums of bounded values so 6-dp rounding absorbs order
      ("WITH s AS (SELECT o_orderpriority AS g, (o_orderkey % 1000)::DOUBLE / 1000 AS p, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders " +
        "WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL " +
        "AND o_orderpriority IS NOT NULL), " +
        "c AS (SELECT g, p, y, least(greatest(p, 1e-15), 1.0 - 1e-15) AS pc FROM s) " +
        "SELECT g AS o_orderpriority, count(*)::BIGINT AS n, " +
        "round(avg(y::DOUBLE) + 5e-10, 6) AS base_rate, " +
        "round(avg((p - y) * (p - y)) + 5e-10, 6) AS brier, " +
        "round(avg(-(y * ln(pc) + (1 - y) * ln(1.0 - pc))) + 5e-10, 6) AS logloss " +
        "FROM c GROUP BY g ORDER BY 1")))((s, dir) =>
      // proper-scoring companion to v4's ECE: per-priority Brier and
      // log-loss of the same synthetic probability against the
      // fully-shipped label — one map-side-combined aggregate
      Evaluation.probMetrics(
          table(s, dir, "orders")
            .filter(col("o_orderkey").isNotNull && col("o_orderstatus").isNotNull &&
              col("o_orderpriority").isNotNull)
            .select(col("o_orderpriority"),
              ((col("o_orderkey") % 1000).cast("double") / 1000.0).as("p"),
              (col("o_orderstatus") === "F").cast("long").as("y")),
          "o_orderpriority", "p", "y")
        .select(col("o_orderpriority"), col("n"),
          round(col("base_rate") + lit(5e-10), 6).as("base_rate"),
          round(col("brier") + lit(5e-10), 6).as("brier"),
          round(col("logloss") + lit(5e-10), 6).as("logloss"))
        .orderBy("o_orderpriority")),
    Query("v9_avg_precision", Some(
      // the window formulation: rank by (score DESC, id), integer
      // cumulative positives, the AP step sum, one division per group
      ("WITH s AS (SELECT (year(o_orderdate) * 100 + month(o_orderdate))::BIGINT AS ym, " +
        "o_totalprice::DOUBLE AS score, " +
        "CASE WHEN o_custkey % 10 = 0 THEN 1 ELSE 0 END AS y, o_orderkey AS id FROM orders " +
        "WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL AND o_orderkey IS NOT NULL), " +
        "r AS (SELECT ym, y, row_number() OVER w AS rn, " +
        "sum(y) OVER (PARTITION BY ym ORDER BY score DESC, id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp FROM s " +
        "WINDOW w AS (PARTITION BY ym ORDER BY score DESC, id)) " +
        "SELECT ym, count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos, " +
        "round(CASE WHEN sum(y) > 0 THEN " +
        "sum(CASE WHEN y = 1 THEN cp::DOUBLE / rn END) / sum(y) END + 5e-10, 6) AS ap " +
        "FROM r GROUP BY ym ORDER BY ym")))((s, dir) =>
      // PR-curve area per order-month: score = o_totalprice, positives
      // = the 10% custkey slice, ties pinned by o_orderkey; cumPos/rank
      // stay exact integers so the step sum replays bit-for-bit. Month
      // granularity (84 groups), not year (7): the per-group sort
      // window needs groups >= cores or the biggest groups serialize
      // the stage (measured 16.6 -> ~2 s at the 100x bench scale)
      Evaluation.averagePrecision(
          table(s, dir, "orders")
            .filter(col("o_totalprice").isNotNull && col("o_custkey").isNotNull &&
              col("o_orderkey").isNotNull)
            .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
              .cast("long").as("ym"),
              col("o_totalprice").as("score"),
              (col("o_custkey") % 10 === 0).cast("long").as("y"),
              col("o_orderkey").as("id")),
          "ym", "score", "y", "id")
        .select(col("ym"), col("n"), col("n_pos"),
          round(col("ap") + lit(5e-10), 6).as("ap"))
        .orderBy("ym")),
    Query("v4_calibration", Some(
      // bin arithmetic and the explicit sum_p / n confidence replayed with
      // identical operation order; ECE as the tiny-frame weighted walk
      ("WITH s AS (SELECT (o_orderkey % 1000)::DOUBLE / 1000 AS p, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders " +
        "WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL), " +
        "b AS (SELECT least(floor(p * 10)::BIGINT, 9) AS bin, count(*)::BIGINT AS n, " +
        "sum(p) AS sum_p, sum(y)::BIGINT AS sum_y FROM s GROUP BY 1), " +
        "c AS (SELECT bin, n, sum_p / n AS conf, sum_y::DOUBLE / n AS acc FROM b) " +
        "SELECT bin, n, round(conf + 5e-10, 6) AS conf, round(acc + 5e-10, 6) AS acc, " +
        "round(acc - conf + 5e-10, 6) AS gap, " +
        "round(sum(n * abs(acc - conf)) OVER () / sum(n) OVER () + 5e-10, 6) AS ece " +
        "FROM c ORDER BY bin")))((s, dir) => {
      // reliability diagram + ECE in one aggregate pass: "model
      // probability" p = (o_orderkey % 1000)/1000, label = fully-shipped
      // status; 10 equal-width bins, the ECE walk rides the tiny bin frame
      Evaluation.calibrationBins(
          table(s, dir, "orders")
            .filter(col("o_orderkey").isNotNull && col("o_orderstatus").isNotNull)
            .select(((col("o_orderkey") % 1000).cast("double") / 1000.0).as("p"),
              (col("o_orderstatus") === "F").cast("long").as("y")),
          "p", "y", 10)
        .select(col("bin"), col("n"),
          round(col("conf") + lit(5e-10), 6).as("conf"),
          round(col("acc") + lit(5e-10), 6).as("acc"),
          round(col("gap") + lit(5e-10), 6).as("gap"),
          round(col("ece") + lit(5e-10), 6).as("ece"))
        .orderBy("bin")
    }),
    Query("v5_cohen_kappa", Some(
      // exact-integer confusion cells, diag/N observed agreement, the
      // marginal-product chance numerator, two divisions at the end
      ("WITH s AS (SELECT (l_suppkey % 3)::VARCHAR AS r1, " +
        "(CASE WHEN l_orderkey % 5 < 3 THEN l_suppkey % 3 ELSE (l_suppkey + 1) % 3 END)::VARCHAR AS r2 " +
        "FROM lineitem WHERE l_suppkey IS NOT NULL AND l_orderkey IS NOT NULL), " +
        "t AS (SELECT count(*)::BIGINT AS n, " +
        "sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END)::BIGINT AS diag FROM s), " +
        "rm AS (SELECT r1 AS l, count(*)::BIGINT AS rn FROM s GROUP BY 1), " +
        "cm AS (SELECT r2 AS l, count(*)::BIGINT AS cn FROM s GROUP BY 1), " +
        "pe AS (SELECT sum(coalesce(rn, 0) * coalesce(cn, 0))::BIGINT AS pe_num " +
        "FROM rm FULL OUTER JOIN cm USING (l)) " +
        "SELECT n, round(diag::DOUBLE / n + 5e-10, 6) AS p_o, " +
        "round(pe_num::DOUBLE / (n * n) + 5e-10, 6) AS p_e, " +
        "round((diag::DOUBLE / n - pe_num::DOUBLE / (n * n)) / " +
        "(1 - pe_num::DOUBLE / (n * n)) + 5e-10, 6) AS kappa " +
        "FROM t CROSS JOIN pe")))((s, dir) => {
      // inter-annotator agreement: rater1 = l_suppkey % 3; rater2 agrees
      // on the deterministic 60% slice (l_orderkey % 5 < 3) and votes the
      // next label otherwise — chance-corrected by the exact-integer
      // marginal products
      Evaluation.cohenKappa(
          table(s, dir, "lineitem")
            .filter(col("l_suppkey").isNotNull && col("l_orderkey").isNotNull)
            .select((col("l_suppkey") % 3).as("r1"),
              when(col("l_orderkey") % 5 < 3, col("l_suppkey") % 3)
                .otherwise((col("l_suppkey") + 1) % 3).as("r2")),
          "r1", "r2")
        .select(col("n"),
          round(col("p_o") + lit(5e-10), 6).as("p_o"),
          round(col("p_e") + lit(5e-10), 6).as("p_e"),
          round(col("kappa") + lit(5e-10), 6).as("kappa"))
    }),
    Query("v6_fleiss_kappa", Some(
      // the three rater columns as a UNION ALL, per-item cell counts,
      // exact-integer sum-of-squares numerators, the standard Fleiss
      // algebra with the operator's exact operation order
      ("WITH v AS (" +
        (0 to 2).map(r =>
          s"SELECT o_orderkey AS item, CASE WHEN (o_orderkey + $r) % 5 = 0 " +
            "THEN (o_orderkey % 4 + 1) % 4 ELSE o_orderkey % 4 END AS label " +
            "FROM orders WHERE o_orderkey IS NOT NULL").mkString(" UNION ALL ") + "), " +
        "cells AS (SELECT item, label, count(*)::BIGINT AS c FROM v GROUP BY 1, 2), " +
        "pi AS (SELECT item, sum(c)::BIGINT AS nv, sum(c * c)::BIGINT AS sq FROM cells GROUP BY 1), " +
        "top AS (SELECT count(*)::BIGINT AS n_items, min(nv)::BIGINT AS n_raters, " +
        "sum(sq)::DOUBLE AS sq_sum FROM pi), " +
        "lj AS (SELECT sum(cj * cj)::DOUBLE AS cj_sq FROM " +
        "(SELECT sum(c)::BIGINT AS cj FROM cells GROUP BY label)) " +
        "SELECT n_items, n_raters, " +
        "round((sq_sum - n_items::DOUBLE * n_raters) / " +
        "(n_items::DOUBLE * n_raters * (n_raters - 1)) + 5e-10, 6) AS p_bar, " +
        "round(cj_sq / (n_items::DOUBLE * n_raters * n_items::DOUBLE * n_raters) + 5e-10, 6) AS p_e, " +
        "round(((sq_sum - n_items::DOUBLE * n_raters) / " +
        "(n_items::DOUBLE * n_raters * (n_raters - 1)) - " +
        "cj_sq / (n_items::DOUBLE * n_raters * n_items::DOUBLE * n_raters)) / " +
        "(1 - cj_sq / (n_items::DOUBLE * n_raters * n_items::DOUBLE * n_raters)) + 5e-10, 6) AS kappa " +
        "FROM top CROSS JOIN lj")))((s, dir) => {
      // multi-rater agreement: 3 deterministic raters per order — base
      // label o_orderkey % 4, rater r flips to the next label on its own
      // 20% slice ((o_orderkey + r) % 5 = 0; the slices are disjoint, so
      // every item keeps exactly 3 votes). The votes arrive WIDE (one
      // column per rater), so the shuffle-free path applies: the
      // long-format fleissKappa on the same data shuffles 45M vote rows
      // keyed by item at the 100x bench scale (measured 23.7 s vs ~1 s)
      val o = table(s, dir, "orders").filter(col("o_orderkey").isNotNull)
      val wide = o.select(Seq(col("o_orderkey").as("item")) ++ (0 to 2).map(r =>
        when((col("o_orderkey") + lit(r.toLong)) % 5 === 0,
          ((col("o_orderkey") % 4) + 1) % 4)
          .otherwise(col("o_orderkey") % 4).as(s"r$r")): _*)
      Evaluation.fleissKappaWide(wide, Seq("r0", "r1", "r2"))
        .select(col("n_items"), col("n_raters"),
          round(col("p_bar") + lit(5e-10), 6).as("p_bar"),
          round(col("p_e") + lit(5e-10), 6).as("p_e"),
          round(col("kappa") + lit(5e-10), 6).as("kappa"))
    }),
    Query("v11_lift_table", Some(
      // quantile_cont decile edges, the same branch-free bin sum, and
      // the same from-the-top cumulative windows
      ("WITH s AS (SELECT embedding[1]::DOUBLE AS v, (label % 2)::BIGINT AS y FROM embeddings " +
        "WHERE embedding[1] IS NOT NULL AND label IS NOT NULL), " +
        "e AS (SELECT " + (1 until 10).map(i =>
          s"quantile_cont(v, 0.$i) AS e$i").mkString(", ") + " FROM s), " +
        "b AS (SELECT (" + (1 until 10).map(i =>
          s"CASE WHEN v >= e$i THEN 1 ELSE 0 END").mkString(" + ") +
        ")::BIGINT AS bin, y FROM s, e), " +
        "g AS (SELECT bin, count(*)::BIGINT AS n, " +
        "CAST(sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos FROM b GROUP BY bin), " +
        "w AS (SELECT *, CAST(sum(n) OVER () AS BIGINT) AS tn, " +
        "CAST(sum(n_pos) OVER () AS BIGINT) AS tp, " +
        "CAST(sum(n) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn, " +
        "CAST(sum(n_pos) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp FROM g) " +
        "SELECT bin, n, n_pos, " +
        "round(n_pos::DOUBLE / n + 5e-10, 6) AS rate, " +
        "round(CASE WHEN tp > 0 THEN (n_pos::DOUBLE / n) / (tp::DOUBLE / tn) END + 5e-10, 6) AS lift, " +
        "round(CASE WHEN tp > 0 THEN cp::DOUBLE / tp END + 5e-10, 6) AS cum_capture, " +
        "round(CASE WHEN tp > 0 THEN (cp::DOUBLE / cn) / (tp::DOUBLE / tn) END + 5e-10, 6) AS cum_lift " +
        "FROM w ORDER BY bin DESC")))((s, dir) => {
      // decile gains table on the v1 score/label pair: gated-router
      // edges as literals, one branch-free census, cumulative capture
      // and lift scanning from the best bin over the 10-row census
      val e = table(s, dir, "embeddings")
      Evaluation.liftTable(
          e.select(element_at(col("embedding"), 1).as("score"),
            (col("label") % 2).as("y")), "score", "y", k = 10)
        .select(col("bin"), col("n"), col("n_pos"),
          round(col("rate") + lit(5e-10), 6).as("rate"),
          round(col("lift") + lit(5e-10), 6).as("lift"),
          round(col("cum_capture") + lit(5e-10), 6).as("cum_capture"),
          round(col("cum_lift") + lit(5e-10), 6).as("cum_lift"))
        .orderBy(col("bin").desc)
    }),
    Query("v10_pr_auc", Some(
      // per-distinct-score class counts, both strictly-below cumsums,
      // each trapezoid term row-local with the same operand order
      ("WITH s AS (SELECT embedding[1]::DOUBLE AS v, (label % 2)::BIGINT AS y FROM embeddings " +
        "WHERE embedding[1] IS NOT NULL AND label IS NOT NULL), " +
        "g AS (SELECT v, sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END)::BIGINT AS np, " +
        "sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::BIGINT AS nn FROM s GROUP BY v), " +
        "t AS (SELECT sum(np)::BIGINT AS p, sum(nn)::BIGINT AS n FROM g), " +
        "c AS (SELECT np, nn, " +
        "coalesce(sum(np) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pb, " +
        "coalesce(sum(nn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS nb FROM g), " +
        "x AS (SELECT np, (p - pb)::DOUBLE AS tp, (n - nb)::DOUBLE AS fp, " +
        "(p - pb)::DOUBLE - np AS tpp, (n - nb)::DOUBLE - nn AS fpp, p, n FROM c, t), " +
        "z AS (SELECT sum(np::DOUBLE / p * " +
        "((tp / (tp + fp)) + (CASE WHEN tpp + fpp > 0 THEN tpp / (tpp + fpp) ELSE 1.0 END)) / 2.0) AS pr_auc " +
        "FROM x) " +
        "SELECT round(pr_auc + 5e-10, 6) AS pr_auc, " +
        "round(p::DOUBLE / (p + n)::DOUBLE + 5e-10, 6) AS baseline, " +
        "p AS n_pos, n AS n_neg FROM z, t")))((s, dir) => {
      // exact trapezoidal PR-AUC on the v1 score/label pair: every
      // operating point AND its predecessor are row-local integer
      // ratios off the same cumsum census — one pass, one final fold
      val e = table(s, dir, "embeddings")
      Evaluation.prAuc(
          e.select(element_at(col("embedding"), 1).as("score"),
            (col("label") % 2).as("y")), "score", "y")
        .select(round(col("pr_auc") + lit(5e-10), 6).as("pr_auc"),
          round(col("baseline") + lit(5e-10), 6).as("baseline"),
          col("n_pos"), col("n_neg"))
    }),
  )
}
