package graft.queries

import org.apache.spark.sql.functions._
import graft.Query
import graft.Util.table
import graft.ops.{Packing, Sampling, TextAnalysis}
import Shared.{docs, Toks, toksOf}

/** Sampling (`p*`): deterministic samples, splits, folds, mixtures and
  * sequence packing over `documents`, `orders` and `embeddings`. */
object SamplingQueries {

  def all: Seq[Query] = Seq(
    Query("p13_temperature_weights", Some(
      // identical float order: per-language pow, then one global sum
      ("WITH c AS (SELECT lang, count(*)::BIGINT AS n_docs " +
        "FROM documents GROUP BY lang), " +
        "w AS (SELECT lang, n_docs, pow(n_docs::DOUBLE, 0.5) AS pw FROM c) " +
        "SELECT lang, n_docs, round(pw / (SELECT sum(pw) FROM w) + 5e-10, 6) AS share " +
        "FROM w ORDER BY lang")))((s, dir) =>
      // temperature-scaled mixing shares (p_s ∝ n_s^(1/T), T = 2): the
      // smoothing every multilingual training mix uses to boost
      // low-resource languages. One count aggregate + a 1-row broadcast
      // total; the selection itself composes through weightedMixture
      // (temperatureMixture, spec-pinned — the p5 rows-only class).
      Sampling.temperatureWeights(
          table(s, dir, "documents").select(col("lang")), "lang", temperature = 2.0)
        .select(col("source").as("lang"), col("n_rows").as("n_docs"),
          round(col("share") + lit(5e-10), 6).as("share"))
        .orderBy("lang")),
    Query("p15_bootstrap_ci", Some({
      // the resample replayed weight-for-weight: Lehmer integer
      // arithmetic + the SAME threshold literals the operator embeds,
      // then the order-statistic picks
      val m = "2147483647"
      val wcase = "CASE " + Sampling.poissonThresholds.zipWithIndex
        .map { case (t, k) => s"WHEN pr < $t THEN $k" }.mkString(" ") +
        " ELSE 8 END"
      ("WITH d AS (SELECT doc_id AS id, strlen(text)::DOUBLE AS x " +
        "FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL), " +
        s"pw AS (SELECT r.b, d.x, ((d.id + 11 + r.b) % $m) * 48271 % $m " +
        s"* 48271 % $m AS pr FROM d CROSS JOIN " +
        "(SELECT unnest(range(1, 25)) AS b) r), " +
        s"wv AS (SELECT b, x, $wcase AS w FROM pw), " +
        "mm AS (SELECT b, sum(w::DOUBLE * x) / sum(w)::DOUBLE AS mean FROM wv GROUP BY b), " +
        "pt AS (SELECT sum(1)::BIGINT AS n, sum(1.0 * x) / sum(1)::DOUBLE AS pm FROM d), " +
        "rk AS (SELECT mean, row_number() OVER (ORDER BY mean, b) AS rn FROM mm) " +
        "SELECT 24 AS b, n, round(pm + 5e-10, 6) AS point_mean, " +
        "round((SELECT mean FROM rk WHERE rn = 2) + 5e-10, 6) AS ci_lo, " +
        "round((SELECT mean FROM rk WHERE rn = 23) + 5e-10, 6) AS ci_hi FROM pt")
    }))((s, dir) =>
      // Poisson bootstrap CI of the mean document byte length: 24
      // replicates' weighted sums + the point estimate in ONE scan —
      // no resample is ever materialized, and the integer Lehmer +
      // threshold weights let the oracle replay the resampling itself
      Sampling.poissonBootstrapCi(
          table(s, dir, "documents")
            .select(col("doc_id"), octet_length(col("text")).as("blen")),
          "doc_id", "blen", b = 24, seed = 11L, alpha = 0.1)
        .select(col("b"), col("n"),
          round(col("point_mean") + lit(5e-10), 6).as("point_mean"),
          round(col("ci_lo") + lit(5e-10), 6).as("ci_lo"),
          round(col("ci_hi") + lit(5e-10), 6).as("ci_hi"))),
    Query("p14_kfold", Some(
      // the Lehmer fold arithmetic replayed verbatim, then the same
      // exact-decimal census per fold
      ("WITH f AS (SELECT o_orderkey, o_totalprice, " +
        "((o_orderkey + 7) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 % 5 AS fold " +
        "FROM orders WHERE o_orderkey IS NOT NULL) " +
        "SELECT fold, count(*)::BIGINT AS n, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price, " +
        "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key " +
        "FROM f GROUP BY fold ORDER BY fold")))((s, dir) => {
      // exact k-fold assignment audit: the per-fold census (size, price
      // mass, key range) over fold = lehmerPriority(o_orderkey, 7) mod 5
      // — the ASSIGNMENT arithmetic replays in SQL, so the oracle pins
      // every row's fold, not just the sizes
      val folds = Sampling.assignFolds(
        table(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
          .filter(col("o_orderkey").isNotNull),
        "o_orderkey", k = 5, seed = 7L)
      folds.groupBy("fold").agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("sum_price"),
          min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
        .orderBy("fold")
    }),
    Query("p17_stratified_kfold", Some(
      // the same Lehmer priority, per-stratum rank, round-robin deal
      ("WITH pr AS (SELECT o_orderkey, o_orderpriority, " +
        "((o_orderkey + 3) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS priority " +
        "FROM orders WHERE o_orderkey IS NOT NULL AND o_orderpriority IS NOT NULL), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority " +
        "ORDER BY priority, o_orderkey) AS rk FROM pr) " +
        "SELECT o_orderpriority, ((rk - 1) % 5)::BIGINT AS fold, count(*)::BIGINT AS n, " +
        "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key " +
        "FROM r GROUP BY 1, 2 ORDER BY 1, 2")))((s, dir) =>
      // class-balanced folds: the round-robin deal within each priority
      // stratum bounds every (stratum, fold) census at +-1 row — visible
      // in the n column — and the oracle re-derives each row's fold
      Sampling.stratifiedFolds(
          table(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
            .filter(col("o_orderkey").isNotNull && col("o_orderpriority").isNotNull),
          "o_orderpriority", "o_orderkey", k = 5, seed = 3L)
        .groupBy(col("o_orderpriority"), col("fold"))
        .agg(count(lit(1)).as("n"), min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
        .orderBy("o_orderpriority", "fold")),

    // ---- deterministic sampling ----------------------------------------
    Query("p8_token_budget", Some(
      // the NAIVE whole-group running-sum window (spec-pinned identical
      // to the bucketed fast path): keep while the per-source token sum
      // BEFORE the row (in Lehmer order, id tiebreak) is under budget
      (s"WITH t AS (SELECT source, doc_id, len($Toks)::BIGINT AS n_tok, " +
        "((doc_id + 42) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS pr " +
        "FROM documents), " +
        "w AS (SELECT source, n_tok, coalesce(sum(n_tok) OVER (PARTITION BY source " +
        "ORDER BY pr, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev FROM t) " +
        "SELECT source, count(*)::BIGINT AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens " +
        "FROM w WHERE prev < 5000 GROUP BY source ORDER BY source")))((s, dir) => {
      // "take ~5000 tokens per source" in seeded-priority order — the
      // token-budget mixture primitive; bucketed weight-cumsum keeps the
      // window sort to ~1/1024 of each source (spec-pinned equal to the
      // naive whole-group window). Lehmer-keyed, so the oracle replays
      // the naive window and hash-checks the kept set.
      val d = table(s, dir, "documents")
        .withColumn("n_tok", size(TextAnalysis.tokens(col("text"))).cast("long"))
      Sampling.tokenBudgetSample(d, "source", "doc_id", "n_tok", budgetTokens = 5000L)
        .groupBy("source").agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("source")
    }),
    Query("p9_bottomk_sample", Some(
      ("WITH pr AS (SELECT o_orderpriority, o_orderkey, " +
        "((o_orderkey + 1) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS priority FROM orders), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority " +
        "ORDER BY priority, o_orderkey) AS rk FROM pr) " +
        "SELECT o_orderpriority, o_orderkey, priority FROM r WHERE rk <= 5 " +
        "ORDER BY o_orderpriority, priority, o_orderkey")))((s, dir) =>
      // deterministic per-stratum k-sample via the mergeable bounded
      // aggregator; the Lehmer priority is exact integer math, so the
      // oracle verifies the SELECTION itself (the pattern p1/p2 now
      // share via lehmerSplit / lehmerStratifiedTake)
      Sampling.bottomKSample(
          table(s, dir, "orders").select(col("o_orderpriority"), col("o_orderkey")),
          "o_orderpriority", "o_orderkey", n = 5)
        .orderBy("o_orderpriority", "priority", "o_orderkey")),
    Query("p20_mixture_anneal", Some(
      // the identical interpolation/apportionment algebra: weight =
      // (1-a)/k + a*t with a = epoch/3, floor + largest-remainder with
      // (frac DESC, source) ties, supply from the lang census
      ("WITH t(source, tw) AS (VALUES ('de', 0.15), ('en', 0.4), " +
        "('es', 0.15), ('fr', 0.1), ('zh', 0.2)), " +
        "av AS (SELECT lang AS source, count(*)::BIGINT AS available " +
        "FROM documents WHERE lang IS NOT NULL GROUP BY 1), " +
        "ep AS (SELECT unnest(range(0, 4))::BIGINT AS epoch), " +
        "w AS (SELECT epoch, source, " +
        "(1.0 - epoch::DOUBLE / 3.0) / 5 + epoch::DOUBLE / 3.0 * tw AS wt " +
        "FROM ep CROSS JOIN t), " +
        "q AS (SELECT *, floor(100000 * wt)::BIGINT AS base, " +
        "100000 * wt - floor(100000 * wt) AS frac FROM w), " +
        "s AS (SELECT *, 100000 - sum(base) OVER (PARTITION BY epoch) AS short, " +
        "row_number() OVER (PARTITION BY epoch ORDER BY frac DESC, source) AS rk FROM q), " +
        "f AS (SELECT epoch, source, wt, " +
        "(base + CASE WHEN rk <= short THEN 1 ELSE 0 END)::BIGINT AS quota FROM s) " +
        "SELECT f.epoch, f.source, round(wt + 5e-10, 6) AS weight, quota, " +
        "coalesce(available, 0)::BIGINT AS available, " +
        "round(CASE WHEN coalesce(available, 0) > 0 " +
        "THEN quota::DOUBLE / available END + 5e-10, 6) AS repeat_factor " +
        "FROM f LEFT JOIN av USING (source) ORDER BY epoch, source")))((s, dir) =>
      // the pretraining curriculum plan: epoch 0 samples languages
      // uniformly, the last epoch at the target mix, linear in between;
      // integer quotas by largest remainder against each epoch's
      // 100k-doc budget, each quota reported against the corpus's
      // actual supply (repeat_factor > 1 = data will repeat). One
      // census + driver algebra; the schedule is a literal frame
      Sampling.mixtureAnnealSchedule(
          table(s, dir, "documents").select(col("lang")),
          "lang",
          Seq(("de", 0.15), ("en", 0.4), ("es", 0.15), ("fr", 0.1), ("zh", 0.2)),
          epochs = 4, budgetPerEpoch = 100000L)
        .select(col("epoch"), col("source"),
          round(col("weight") + lit(5e-10), 6).as("weight"),
          col("quota"), col("available"),
          round(col("repeat_factor") + lit(5e-10), 6).as("repeat_factor"))
        .orderBy("epoch", "source")),
    Query("p19_length_batching", Some(
      // both global ranks as plain windows (DuckDB replays the total
      // orders directly), batch stats, and the same waste division
      (s"WITH t AS (SELECT doc_id, len($Toks)::BIGINT AS n_tok " +
        "FROM documents WHERE text IS NOT NULL), " +
        "a AS (SELECT (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS b, n_tok FROM t), " +
        "ab AS (SELECT b, count(*)::BIGINT AS bn, max(n_tok) AS bmax, " +
        "CAST(sum(n_tok) AS BIGINT) AS bsum FROM a GROUP BY b), " +
        "ar AS (SELECT 'arrival_order' AS strategy, CAST(sum(bn) AS BIGINT) AS n_docs, " +
        "count(*)::BIGINT AS n_batches, CAST(sum(bsum) AS BIGINT) AS sum_tokens, " +
        "CAST(sum(bmax * bn) AS BIGINT) AS padded_tokens FROM ab), " +
        "l AS (SELECT (row_number() OVER (ORDER BY n_tok, doc_id) - 1) // 32 AS b, n_tok FROM t), " +
        "lb AS (SELECT b, count(*)::BIGINT AS bn, max(n_tok) AS bmax, " +
        "CAST(sum(n_tok) AS BIGINT) AS bsum FROM l GROUP BY b), " +
        "lr AS (SELECT 'length_sorted' AS strategy, CAST(sum(bn) AS BIGINT) AS n_docs, " +
        "count(*)::BIGINT AS n_batches, CAST(sum(bsum) AS BIGINT) AS sum_tokens, " +
        "CAST(sum(bmax * bn) AS BIGINT) AS padded_tokens FROM lb) " +
        "SELECT strategy, n_docs, n_batches, sum_tokens, padded_tokens, " +
        "round(1 - sum_tokens::DOUBLE / padded_tokens + 5e-10, 6) AS pad_waste " +
        "FROM (SELECT * FROM ar UNION ALL SELECT * FROM lr) ORDER BY strategy")))((s, dir) => {
      // how much compute does length bucketing buy: fixed 32-doc
      // batches pad to the batch max; arrival order vs length-sorted
      // compared in one report, both global ranks via range partitions
      // + driver prefix offsets (never a one-task window)
      val d = table(s, dir, "documents")
        .filter(col("text").isNotNull)
        .withColumn("n_tok", size(TextAnalysis.tokens(col("text"))).cast("long"))
        .select(col("doc_id"), col("n_tok"))
      Sampling.paddingEfficiency(d, "doc_id", "n_tok", batchSize = 32)
        .select(col("strategy"), col("n_docs"), col("n_batches"),
          col("sum_tokens"), col("padded_tokens"),
          round(col("pad_waste") + lit(5e-10), 6).as("pad_waste"))
        .orderBy("strategy")
    }),
    Query("p12_group_holdout", Some(
      // the DSIR positional char hash of lower(source) mod P feeds the
      // Lehmer permutation; cut = floor(0.4 * (2^31 - 1)) = 858993458
      ("WITH k AS (SELECT doc_id, source, " +
        "list_sum(list_transform(list_transform(string_split(lower(source), ''), c -> unicode(c)), " +
        "(c, i) -> c * ((i * 2654435761) % 1048573))) % 1048573 AS key FROM documents) " +
        "SELECT doc_id, source FROM k " +
        "WHERE ((key + 1) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 < 858993458 " +
        "ORDER BY doc_id")))((s, dir) => {
      // leakage-safe eval split: whole SOURCES move together; the
      // output is the holdout side itself, so the oracle re-derives the
      // exact membership (hash + Lehmer replayed in SQL)
      val (_, holdout) = Sampling.groupHoldout(
        table(s, dir, "documents"), "source", holdoutFraction = 0.4)
      holdout.select(col("doc_id"), col("source")).orderBy("doc_id")
    }),
    Query("p18_neyman_allocation", Some(
      // decimal census, the same sd/share algebra, and the same
      // largest-remainder walk (frac desc, stratum tie-break)
      ("WITH c AS (SELECT o_orderpriority AS stratum, count(*)::BIGINT AS n, " +
        "sum(CAST(o_totalprice AS DECIMAL(18,6))) AS sx, " +
        "sum(CAST(o_totalprice AS DECIMAL(28,6)) * CAST(o_totalprice AS DECIMAL(28,6))) AS sxx " +
        "FROM orders WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL GROUP BY 1), " +
        "d AS (SELECT stratum, n, CASE WHEN n >= 2 THEN " +
        "sqrt((sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE) / (n::DOUBLE - 1.0)) " +
        "ELSE 0.0 END AS sd FROM c), " +
        "e AS (SELECT *, n::DOUBLE * sd AS m, sum(n::DOUBLE * sd) OVER () AS tm, " +
        "sum(n) OVER () AS tn FROM d), " +
        "f AS (SELECT stratum, n, sd, CASE WHEN tm > 0 THEN m / tm " +
        "ELSE n::DOUBLE / tn END AS share FROM e), " +
        "g AS (SELECT *, 1000.0 * share AS ex, floor(1000.0 * share)::BIGINT AS base FROM f), " +
        "h AS (SELECT *, ex - base AS frac, 1000 - sum(base) OVER () AS short, " +
        "row_number() OVER (ORDER BY ex - base DESC, stratum) AS rn FROM g) " +
        "SELECT stratum, n, round(sd + 5e-10, 6) AS sd, " +
        "round(share + 5e-10, 6) AS share, " +
        "(base + CASE WHEN rn <= short THEN 1 ELSE 0 END)::BIGINT AS n_alloc " +
        "FROM h ORDER BY stratum")))((s, dir) =>
      // variance-optimal eval-budget split across priority strata:
      // decimal power-sum census, N_h*S_h shares, largest-remainder
      // rounding so the allocations sum to the budget EXACTLY
      Sampling.neymanAllocation(
          table(s, dir, "orders").select("o_orderpriority", "o_totalprice"),
          "o_orderpriority", "o_totalprice", budget = 1000L)
        .select(col("stratum"), col("n"),
          round(col("sd") + lit(5e-10), 6).as("sd"),
          round(col("share") + lit(5e-10), 6).as("share"), col("n_alloc"))
        .orderBy("stratum")),
    Query("p11_negative_samples", Some(
      // pool lists rebuilt in SQL (ordered by vec_id, the same sort the
      // operator collects under), then the identical Lehmer-probe walk
      ("WITH pool AS (SELECT list(vec_id ORDER BY vec_id) AS ids, " +
        "list(label ORDER BY vec_id) AS labs, count(*)::BIGINT AS n FROM " +
        "(SELECT DISTINCT vec_id::BIGINT AS vec_id, label::BIGINT AS label FROM embeddings " +
        "WHERE vec_id IS NOT NULL AND label IS NOT NULL AND vec_id % 101 = 0)), " +
        "a AS (SELECT vec_id::BIGINT AS vec_id, label::BIGINT AS label FROM embeddings), " +
        "s AS (SELECT a.vec_id, a.label, r.s AS slot FROM a, range(3) r(s)), " +
        "b AS (SELECT s.vec_id, s.label, s.slot, pool.ids, pool.labs, pool.n, " +
        "(((s.vec_id * 3 + s.slot + 1) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647) % pool.n AS base " +
        "FROM s CROSS JOIN pool) " +
        "SELECT vec_id, label, slot::BIGINT AS slot, COALESCE(" +
        (0 until 8).map(r =>
          s"CASE WHEN list_extract(labs, ((base + $r) % n + 1)::INT) <> label " +
          s"AND list_extract(ids, ((base + $r) % n + 1)::INT) <> vec_id " +
          s"THEN list_extract(ids, ((base + $r) % n + 1)::INT) END").mkString(", ") +
        ") AS neg_id FROM b ORDER BY vec_id, slot")))((s, dir) => {
      // contrastive-training negatives: 3 per anchor from a bounded
      // deterministic pool (vec_id % 101 — scale-proportional, always
      // under the literal-array cap), slot probes on the Lehmer
      // permutation with bounded same-label rejection — the whole draw
      // is exact integer math the oracle replays, selections included
      val items = table(s, dir, "embeddings").select(col("vec_id"), col("label"))
      val pool = items.filter(col("vec_id") % 101 === 0)
      Sampling.negativeSamples(items, pool, "vec_id", "label", k = 3)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("slot"), col("neg_id"))
        .orderBy("vec_id", "slot")
    }),
    Query("p10_dsir_weights", Some(
      // full model replay: normalize tokens to [a-z0-9], bucket with the
      // positional char hash (1-based list_transform index == Spark's
      // 0-based i + 1), rebuild both smoothed count profiles, rescore
      (s"WITH tkn AS (SELECT doc_id, lang, ${toksOf("text")} AS tk FROM documents), " +
        "occ AS (SELECT doc_id, lang, unnest(tk) AS t FROM tkn), " +
        "nrm AS (SELECT doc_id, lang, regexp_replace(t, '[^a-z0-9]', '', 'g') AS t FROM occ), " +
        "hb AS (SELECT doc_id, lang, " +
        "list_sum(list_transform(list_transform(string_split(t, ''), c -> unicode(c)), " +
        "(c, i) -> c * ((i * 2654435761) % 1048573))) % 1048573 % 4096 AS b " +
        "FROM nrm WHERE length(t) > 0), " +
        "cnt AS (SELECT b, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS tc, " +
        "count(*)::BIGINT AS sc FROM hb GROUP BY b), " +
        "tot AS (SELECT sum(tc)::BIGINT AS tt, sum(sc)::BIGINT AS ts FROM cnt), " +
        "llr AS (SELECT b, ln((tc + 0.5) / (tt + 0.5 * 4096)) - ln((sc + 0.5) / (ts + 0.5 * 4096)) AS llr " +
        "FROM cnt CROSS JOIN tot), " +
        "sc2 AS (SELECT hb.doc_id, l.llr FROM hb JOIN llr l USING (b)) " +
        "SELECT doc_id, count(*)::BIGINT AS n_grams, " +
        "round(sum(llr) + 5e-10, 6) AS logw_sum, " +
        "round(avg(llr) + 5e-10, 6) AS logw_avg " +
        "FROM sc2 GROUP BY doc_id ORDER BY doc_id")))((s, dir) =>
      // DSIR importance weights: hashed-unigram target-vs-source log
      // ratio per document (target = English docs, source = the whole
      // corpus). Bucketing is the replayable positional char hash, so
      // the oracle re-derives every bucket assignment AND the smoothed
      // log-ratio model — the weight computation is hash-verified, not
      // rows-only.
      TextAnalysis.importanceWeights(
          table(s, dir, "documents").select("doc_id", "text", "lang"),
          "doc_id", "text",
          targetCond = col("lang") === "en", buckets = 4096, alpha = 0.5)
        .select(col("doc_id"), col("n_grams"),
          round(col("logw_sum") + lit(5e-10), 6).as("logw_sum"),
          round(col("logw_avg") + lit(5e-10), 6).as("logw_avg"))
        .orderBy("doc_id")),
    Query("p1_hash_split", Some(
      // Lehmer membership replay: holdout iff priority < floor(0.2 * (2^31-1))
      ("SELECT doc_id, lang FROM documents " +
        "WHERE ((doc_id + 1) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 " +
        "< 429496729 ORDER BY doc_id")))((s, dir) => {
      // replayable split: holdout = Lehmer priority below 0.2·M — the
      // oracle re-derives MEMBERSHIP itself (hash-PASS, not rows-only)
      val (_, holdout) = Sampling.lehmerSplit(
        table(s, dir, "documents").select("doc_id", "lang"), "doc_id", 0.2)
      holdout.orderBy("doc_id")
    }),
    Query("p2_stratified_take", Some(
      ("WITH pr AS (SELECT doc_id, lang, " +
        "((doc_id + 1) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS priority FROM documents), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY lang " +
        "ORDER BY priority, doc_id) AS rk FROM pr) " +
        "SELECT doc_id, lang FROM r WHERE rk <= 5 ORDER BY lang, doc_id")))((s, dir) =>
      // replayable exact-5-per-lang sample: priority order is exact
      // integer math, so the oracle re-derives the chosen rows
      Sampling.lehmerStratifiedTake(
          table(s, dir, "documents").select("doc_id", "lang"), "lang", "doc_id", n = 5)
        .orderBy("lang", "doc_id")),
    // chunk=64, overlap=8 -> stride 56; chunk i = tokens
    // [i*56+1, i*56+64] (1-based inclusive, DuckDB list_slice semantics
    // = Spark slice(start, length)); chunk count ceil(max(n-8,1)/56)
    Query("p4_chunk_tokens", Some(
      (s"WITH t AS (SELECT doc_id, $Toks AS tk FROM documents), " +
        "n AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0), " +
        "c AS (SELECT doc_id, tk, " +
        "unnest(range(0, CAST(ceil(greatest(n - 8, 1) / 56.0) AS BIGINT))) AS chunk_id FROM n) " +
        "SELECT doc_id, chunk_id, " +
        "len(list_slice(tk, chunk_id*56+1, chunk_id*56+64))::BIGINT AS n_tokens, " +
        "array_to_string(list_slice(tk, chunk_id*56+1, chunk_id*56+64), ' ') AS chunk_text " +
        "FROM c ORDER BY doc_id, chunk_id")))((s, dir) =>
      // context-window chunking: 64-token chunks, 8 tokens of carried
      // context — pure projection, DuckDB-expressible (list slicing)
      Packing.chunkByTokens(docs(s, dir), "doc_id", "text",
          chunkTokens = 64, overlap = 8)
        .orderBy("doc_id", "chunk_id")),
    Query("p5_weighted_mixture", Some(
      // the full mixture derivation replayed: per-source counts ->
      // bottleneck (min count/weight) -> rates (bottleneck pinned 1.0)
      // -> Lehmer membership below floor(rate * M). Same float op order
      // as the Scala driver ((w * total) / n), so cuts match bitwise.
      ("WITH c AS (SELECT source, count(*)::BIGINT AS n FROM documents " +
        "WHERE source IN ('src0', 'src1', 'src2') GROUP BY source), " +
        "w AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)) AS t(source, wt)), " +
        "b AS (SELECT c.source, c.n / w.wt AS tot FROM c JOIN w USING (source) " +
        "ORDER BY c.n / w.wt LIMIT 1), " +
        "r AS (SELECT c.source, CASE WHEN c.source = (SELECT source FROM b) THEN 1.0 " +
        "ELSE least(1.0, w.wt * (SELECT tot FROM b) / c.n) END AS rate " +
        "FROM c JOIN w USING (source)), " +
        "k AS (SELECT d.source FROM documents d JOIN r ON d.source = r.source " +
        "WHERE ((d.doc_id + 42) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 " +
        "< CAST(floor(r.rate * 2147483647.0) AS BIGINT)) " +
        "SELECT source, count(*)::BIGINT AS n_kept FROM k GROUP BY source ORDER BY source")
    ))((s, dir) => { // Lehmer membership -> oracle replays it
      // training-mix downsampling to 50/30/20 target proportions; the
      // bottleneck source (largest weight, equal sizes) is kept whole.
      // Selection keys on lehmerPriority — exact integer arithmetic the
      // oracle re-derives from the same per-source counts, so the KEPT
      // SET itself is hash-checked; proportion/determinism contracts
      // additionally pinned by SamplingSpec.
      val mix = Sampling.weightedMixture(
        table(s, dir, "documents").select("doc_id", "source"), "source", "doc_id",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
      mix.groupBy("source").agg(count(lit(1)).as("n_kept")).orderBy("source")
    }),
    Query("p6_epoch_shuffle", Some(
      // epoch 1's first 100 docs by (priority, id); the priority column
      // pins the permutation order inside the hash check
      ("SELECT doc_id, ((doc_id + 1) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS priority " +
        "FROM documents ORDER BY priority, doc_id LIMIT 100")))((s, dir) => { // Lehmer order key -> oracle replays it
      // deterministic epoch reshuffle: reproducible global permutation
      // via ONE range sort on (lehmerPriority(id, seed), id) — balanced
      // boundaries by permutation uniformity even on skewed ids. The
      // query emits epoch 1's first 100 docs with their priorities
      // (smallest keys -> TakeOrderedAndProject, no full sort for the
      // probe); the priority column pins the ORDER, not just the set.
      Sampling.epochShuffle(docs(s, dir).select(col("doc_id")), "doc_id", seed = 1L)
        .limit(100)
        .withColumn("priority", Sampling.lehmerPriority(col("doc_id"), 1L))
    }),
    Query("p7_mixture_upsample", Some(
      // totalOut = max(1, round(2.0 * weighted rows)) [round = floor(x+.5),
      // matching Scala math.round]; rate = (w * totalOut) / n; every row
      // fans out floor(rate)+1 times and the last copy keeps iff
      // priority/M < rate - floor(rate) — all replayed verbatim
      ("WITH c AS (SELECT source, count(*)::BIGINT AS n FROM documents " +
        "WHERE source IN ('src0', 'src1', 'src2') GROUP BY source), " +
        "t AS (SELECT greatest(1, CAST(floor(2.0 * CAST(sum(n) AS BIGINT) + 0.5) AS BIGINT)) AS total FROM c), " +
        "w AS (SELECT * FROM (VALUES ('src0', 0.6), ('src1', 0.3), ('src2', 0.1)) AS ww(source, wt)), " +
        "r AS (SELECT c.source, w.wt * (SELECT total FROM t) / c.n AS rate " +
        "FROM c JOIN w USING (source)), " +
        "g AS (SELECT unnest(range(0, 64)) AS epoch), " +
        "e AS (SELECT d.source, d.doc_id, r.rate, g.epoch " +
        "FROM documents d JOIN r ON d.source = r.source " +
        "JOIN g ON g.epoch <= CAST(floor(r.rate) AS BIGINT)), " +
        "k AS (SELECT source, epoch FROM e WHERE epoch < floor(rate) OR (epoch = floor(rate) " +
        "AND (((doc_id + 42) % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647) / 2147483647.0 " +
        "< rate - floor(rate))) " +
        "SELECT source, epoch::BIGINT AS epoch, count(*)::BIGINT AS n_kept " +
        "FROM k GROUP BY 1, 2 ORDER BY 1, 2")))((s, dir) => { // Lehmer partial epoch -> oracle replays it
      // upsampling mix: build a 2x-corpus training mix at 60/30/10 by
      // REPEATING under-represented sources (full epochs + one
      // deterministic partial epoch). The partial-epoch slice keys on
      // lehmerPriority/M, so the oracle re-derives every (row, epoch)
      // from the counts; proportion/determinism contracts in
      // SamplingSpec. totalOut derives from the multiplier inside the
      // operator — no extra full-scan d.count() action at construction.
      val d = table(s, dir, "documents").select("doc_id", "source")
      val mix = Sampling.weightedMixtureUpsample(d, "source", "doc_id",
        Map("src0" -> 0.6, "src1" -> 0.3, "src2" -> 0.1), totalOutMultiplier = 2.0)
      mix.groupBy("source", "epoch").agg(count(lit(1)).as("n_kept"))
        .orderBy("source", "epoch")
    }),
    Query("p3_sequence_pack", None)((s, dir) => { // hash-spread greedy -> rows-only
      // fixed partitions: pack assignment must not depend on the
      // session's shuffle-partition setting
      val d = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.packByTokenBudget(d, "doc_id", "n_tok", budget = 512, partitions = 8)
        .orderBy("doc_id")
    }),
    Query("p3b_sequence_pack_lehmer", Some(
      // full greedy replay: Lehmer spread key, 8 explicit groups, each
      // group's next-fit scan stepped by a recursive CTE (the working
      // table holds one row per group per iteration), oversized docs
      // overflowing their own fresh pack exactly like the operator
      (s"WITH RECURSIVE d AS (SELECT doc_id, len($Toks)::BIGINT AS n_tok, " +
        "(doc_id * 48271) % 2147483647 AS k FROM documents), " +
        "o AS (SELECT doc_id, n_tok, greatest(n_tok, 0) AS tok, k % 8 AS grp, " +
        "row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) AS rn FROM d), " +
        "s AS (SELECT grp, rn, doc_id, tok, CAST(0 AS BIGINT) AS pack, tok AS used " +
        "FROM o WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT o.grp, o.rn, o.doc_id, o.tok, " +
        "CASE WHEN s.used + o.tok > 512 THEN s.pack + 1 ELSE s.pack END AS pack, " +
        "CASE WHEN s.used + o.tok > 512 THEN o.tok ELSE s.used + o.tok END AS used " +
        "FROM s JOIN o ON o.grp = s.grp AND o.rn = s.rn + 1) " +
        "SELECT doc_id, tok AS n_tokens, " +
        "CAST(grp * 4294967296 + pack AS BIGINT) AS pack_id FROM s ORDER BY doc_id")))((s, dir) => {
      // hash-green slice of p3 (the m2b precedent): the IDENTICAL
      // greedy next-fit packer — explicit group id, per-group state
      // reset, oversized-doc overflow, group<<32|idx pack ids — spread
      // and ordered by a Lehmer key instead of xxhash64, so DuckDB
      // replays the whole assignment (recursive CTE stepping each
      // group's greedy scan) and hash-checks every pack id. p3 keeps
      // the xxhash64 spread rows-only; this pins the packer's math.
      val d = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.packByTokenBudget(d, "doc_id", "n_tok", budget = 512,
          partitions = 8,
          spreadKey = Some(pmod(col("doc_id") * lit(48271L), lit(2147483647L))))
        .orderBy("doc_id")
    }),
  )
}
