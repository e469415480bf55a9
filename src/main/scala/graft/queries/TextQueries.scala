package graft.queries

import org.apache.spark.sql.functions._
import graft.Query
import graft.Util.table
import graft.ops.{Bpe, Search, TextAnalysis}
import Shared.{docs, Ws, Toks, toksOf, shingleSql, StopwordList, enrichSql, QualityScoreSql, LangPickSql}

/** Text analysis (`x*`) over `documents`: profiles, tokens and n-grams,
  * language id, PII, sketches, language models, privacy checks and BM25
  * retrieval. */
object TextQueries {

  def all: Seq[Query] = Seq(

    // ---- text analysis (one shared profile pass per query) -------------
    Query("x1_text_stats", Some(
      (s"SELECT doc_id, length(text) AS n_chars_computed, len($Toks) AS n_tokens, " +
        raw"ROUND(length(regexp_replace(text, '$Ws', '', 'g'))::DOUBLE / greatest(len($Toks), 1), 6) AS mean_token_len, " +
        "ROUND(length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE / greatest(length(text), 1), 6) AS punct_ratio, " +
        "ROUND(length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / greatest(length(text), 1), 6) AS digit_ratio, " +
        "ROUND(length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE / greatest(length(text), 1), 6) AS upper_ratio, " +
        s"ROUND(len(list_filter(${toksOf("text")}, t -> list_contains($StopwordList, t)))::DOUBLE / " +
        s"greatest(len(${toksOf("text")}), 1), 6) AS stopword_ratio " +
        "FROM documents ORDER BY doc_id")))((s, dir) => {
      val p = col("__p")
      docs(s, dir).withColumn("__p", TextAnalysis.profile(col("text")))
        .select(col("doc_id"),
          p.getField("n_chars").cast("long").as("n_chars_computed"),
          TextAnalysis.tokenCountP(p).cast("long").as("n_tokens"),
          round(TextAnalysis.meanTokenLengthP(p), 6).as("mean_token_len"),
          round(TextAnalysis.punctRatioP(p), 6).as("punct_ratio"),
          round(TextAnalysis.digitRatioP(p), 6).as("digit_ratio"),
          round(TextAnalysis.upperRatioP(p), 6).as("upper_ratio"),
          round(TextAnalysis.stopwordRatioP(p), 6).as("stopword_ratio"))
        .orderBy("doc_id")
    }),
    Query("x2_text_enrich", Some((enrichSql("documents") +
      "SELECT doc_id, " +
        raw"len(regexp_extract_all(text, '[\p{L}\p{N}]+|[^\p{L}\p{N}${TextAnalysis.WhitespaceClass}]'))::BIGINT AS n_tokens_bpeish, " +
        s"ROUND($QualityScoreSql, 6) AS quality_score, " +
        s"$LangPickSql AS lang_pred " +
        "FROM f ORDER BY doc_id")))((s, dir) => {
      val p = col("__p")
      docs(s, dir).withColumn("__p", TextAnalysis.profile(col("text")))
        .select(col("doc_id"),
          TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_tokens_bpeish"),
          round(TextAnalysis.qualityScoreP(p), 6).as("quality_score"),
          TextAnalysis.languageIdP(p).as("lang_pred"))
        .orderBy("doc_id")
    }),
    Query("x7_normalize", Some(
      (s"SELECT doc_id, trim(regexp_replace(lower(regexp_replace(text, " +
        s"'[${TextAnalysis.ControlClass}]', ' ', 'g')), " +
        s"'[${TextAnalysis.WhitespaceClass}]+', ' ', 'g')) AS text_norm, " +
        "length(text) AS n_chars_raw, " +
        s"length(trim(regexp_replace(lower(regexp_replace(text, " +
        s"'[${TextAnalysis.ControlClass}]', ' ', 'g')), " +
        s"'[${TextAnalysis.WhitespaceClass}]+', ' ', 'g'))) AS n_chars_norm " +
        "FROM documents ORDER BY doc_id")))((s, dir) =>
      // canonicalization before dedup: the normalized text itself rides
      // under the oracle hash, so every regex/lowercase/trim rule is
      // pinned character-for-character against DuckDB
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("text_norm"),
          length(col("text")).as("n_chars_raw"))
        .withColumn("n_chars_norm", length(col("text_norm")))
        .orderBy("doc_id")),
    Query("x4_tfidf", Some(
      (s"WITH tk AS (SELECT doc_id, unnest(${toksOf("text")}) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term), " +
        "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
        "n AS (SELECT count(*)::DOUBLE AS n FROM documents), " +
        "scored AS (SELECT tf.doc_id, tf.term, tf.tf * ln(n.n / dfreq.df) AS score " +
        "FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n), " +
        "ranked AS (SELECT doc_id, term, score, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM scored) " +
        "SELECT doc_id, term, ROUND(score, 6) AS score FROM ranked WHERE rk <= 3 " +
        "ORDER BY doc_id, score DESC, term")))((s, dir) =>
      // corpus size N is an in-plan count subquery — no driver-side count
      TextAnalysis.tfidfTopTerms(docs(s, dir), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("term"), round(col("score"), 6).as("score"))
        .orderBy(col("doc_id"), col("score").desc, col("term"))),
    Query("x3_token_topk", Some(
      (s"SELECT t AS token, count(*) AS cnt FROM (SELECT unnest($Toks) AS t FROM documents) " +
        "GROUP BY t ORDER BY cnt DESC, token LIMIT 20")))((s, dir) =>
      docs(s, dir).select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(20)),
    Query("x18_sentence_stats", Some(
      // the same split/filter/strip arithmetic with RE2's identical
      // character classes, and the ARI algebra term for term
      ("SELECT doc_id, " +
        s"len(list_filter(string_split_regex(text, '[.!?]+$Ws+'), s -> length(trim(s)) > 0))::BIGINT AS n_sentences, " +
        s"len($Toks)::BIGINT AS n_words, " +
        s"length(regexp_replace(text, '$Ws+', '', 'g'))::BIGINT AS n_chars, " +
        s"round(CASE WHEN len(list_filter(string_split_regex(text, '[.!?]+$Ws+'), s -> length(trim(s)) > 0)) > 0 " +
        s"THEN len($Toks)::DOUBLE / len(list_filter(string_split_regex(text, '[.!?]+$Ws+'), s -> length(trim(s)) > 0)) END + 5e-10, 6) AS words_per_sentence, " +
        s"round(CASE WHEN len($Toks) > 0 AND len(list_filter(string_split_regex(text, '[.!?]+$Ws+'), s -> length(trim(s)) > 0)) > 0 " +
        s"THEN 4.71 * (length(regexp_replace(text, '$Ws+', '', 'g'))::DOUBLE / len($Toks)) " +
        s"+ 0.5 * (len($Toks)::DOUBLE / len(list_filter(string_split_regex(text, '[.!?]+$Ws+'), s -> length(trim(s)) > 0))) " +
        "- 21.43 END + 5e-10, 6) AS ari " +
        "FROM documents WHERE text IS NOT NULL ORDER BY doc_id")))((s, dir) =>
      // sentence segmentation + ARI readability per document: one
      // compiled projection, zero shuffle; ARI is the syllable-free
      // readability index, so every term replays as exact arithmetic
      TextAnalysis.sentenceStats(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_sentences"), col("n_words"), col("n_chars"),
          round(col("words_per_sentence") + lit(5e-10), 6).as("words_per_sentence"),
          round(col("ari") + lit(5e-10), 6).as("ari"))
        .orderBy("doc_id")),
    Query("x23_flesch", Some(
      // same split/token fragments as x18 plus the vowel-group
      // syllable count; Flesch and FK algebra replayed term for term
      (s"WITH t AS (SELECT doc_id, " +
        s"len(list_filter(string_split_regex(text, '[.!?]+$Ws+'), s -> length(trim(s)) > 0))::BIGINT AS ns, " +
        s"len($Toks)::BIGINT AS nw, " +
        "len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS nsyl " +
        "FROM documents WHERE text IS NOT NULL) " +
        "SELECT doc_id, ns AS n_sentences, nw AS n_words, nsyl AS n_syllables, " +
        "round(CASE WHEN nw > 0 AND ns > 0 THEN " +
        "206.835 - 1.015 * (nw::DOUBLE / ns) - 84.6 * (nsyl::DOUBLE / nw) END + 5e-10, 6) AS flesch_ease, " +
        "round(CASE WHEN nw > 0 AND ns > 0 THEN " +
        "0.39 * (nw::DOUBLE / ns) + 11.8 * (nsyl::DOUBLE / nw) - 15.59 END + 5e-10, 6) AS fk_grade " +
        "FROM t ORDER BY doc_id")))((s, dir) =>
      // Flesch reading ease + FK grade with the vowel-group syllable
      // heuristic — deliberately the simplest engine-identical regex
      // rule, so the oracle replays the count; one compiled projection
      TextAnalysis.fleschStats(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_sentences"), col("n_words"), col("n_syllables"),
          round(col("flesch_ease") + lit(5e-10), 6).as("flesch_ease"),
          round(col("fk_grade") + lit(5e-10), 6).as("fk_grade"))
        .orderBy("doc_id")),
    Query("x25_feature_hash", Some(
      // bucket, sign, and signed count re-derived from the same
      // positional char hash (the p10 fragment), 1-based list index ==
      // Spark's 0-based i + 1
      (s"WITH tkn AS (SELECT doc_id, ${toksOf("text")} AS tk FROM documents), " +
        "occ AS (SELECT doc_id, unnest(tk) AS t FROM tkn), " +
        "nrm AS (SELECT doc_id, regexp_replace(t, '[^a-z0-9]', '', 'g') AS t FROM occ), " +
        "k AS (SELECT doc_id, " +
        "list_sum(list_transform(list_transform(string_split(t, ''), c -> unicode(c)), " +
        "(c, i) -> c * ((i * 2654435761) % 1048573))) % 1048573 AS k " +
        "FROM nrm WHERE length(t) > 0) " +
        "SELECT doc_id, (k % 64)::BIGINT AS bucket, " +
        "CAST(sum(1 - 2 * (((k * 2654435761) >> 12) % 2)) AS BIGINT) AS weight, " +
        "count(*)::BIGINT AS n_terms " +
        "FROM k GROUP BY doc_id, k % 64 ORDER BY doc_id, bucket")))((s, dir) =>
      // vocabulary-free sparse vectorization via the hashing trick:
      // bucket + sign from the replayable positional char hash, signed
      // counts per (doc, bucket) — one explode + one map-side aggregate
      TextAnalysis.featureHash(docs(s, dir), "doc_id", "text", buckets = 64)
        .orderBy("doc_id", "bucket")),
    Query("x17_bpe_merges", Some(
      // golden merge table for the sf0.01 documents corpus — BPE's
      // iterative argmax-and-rewrite has no SQL replay, so constants
      // stand in, justified by BpeSpec's independent reference trainer
      // reproducing the distributed result (the m9 discipline)
      ("SELECT * FROM (VALUES (1,'e','r'),(2,'i','n'),(3,'o','w'),(4,'o','r')," +
        "(5,'s','t'),(6,'m','er'),(7,'a','t'),(8,'l','u'),(9,'a','r')," +
        "(10,'p','ar'),(11,'j','o'),(12,'jo','in')) " +
        "AS t(\"rank\", \"left\", \"right\") ORDER BY \"rank\"")))((s, dir) =>
      // distributed BPE merge training (Sennrich subword algorithm):
      // ONE corpus scan builds word frequencies, then each of 12 rounds
      // is a map-side-combined pair count over the DISTRIBUTED vocab
      // (never collected) plus a narrow merge map. Deterministic
      // (count-desc, pair-asc tie break), so the oracle pins the merge
      // table as data-derived golden constants — justified by BpeSpec,
      // where an independently-written single-machine reference trainer
      // reproduces the distributed result on the sf0.001 documents (the
      // m9 golden-constant discipline).
      Bpe.mergesFrame(s, Bpe.train(docs(s, dir), "text", nMerges = 12))
        .orderBy("rank")),
    Query("x16_cms_freq", Some(
      // exact top-20 replayed; the two CMS guarantee booleans are stable
      // facts of the seed-deterministic grid, pinned TRUE (verified at
      // the gate SF; CountMinSpec pins the guarantees structurally)
      (s"WITH tk AS (SELECT unnest($Toks) AS t FROM documents) " +
        "SELECT t AS token, count(*)::BIGINT AS exact_n, " +
        "true AS est_ge_exact, true AS within_bound " +
        "FROM tk GROUP BY t ORDER BY exact_n DESC, token LIMIT 20")))((s, dir) => {
      // Count-Min point-frequency estimates, gated against exact counts:
      // build the sketch in ONE decomposable pass (map-side combined —
      // the shuffle carries a 4x8192 long grid per partition, never a
      // token), then check both CMS guarantees for the exact top-20
      // tokens: estimates never undercount, and overcount beyond
      // 2N/width only with prob 2^-depth. The grid is seed-deterministic
      // so both booleans are stable facts of the data the oracle pins
      // TRUE (the d6 planted-derivability discipline, one level up).
      // The sketch and top-20 collects are aggregate-sized (256 KiB + 20
      // rows).
      val depth = 4; val width = 8192
      val cms = udaf(new graft.functions.CountMin(depth, width),
        org.apache.spark.sql.Encoders.STRING)
      val tk = docs(s, dir).select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val skRow = tk.agg(cms(col("token")).as("sk"), count(lit(1)).as("total")).head()
      val grid = skRow.getAs[scala.collection.Seq[Long]]("sk").toArray
      val total = skRow.getAs[Long]("total")
      val top = tk.groupBy("token").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("token")).limit(20).collect()
      val bound = 2L * total / width
      val checked = top.toSeq.map { r =>
        val t = r.getString(0); val e = r.getLong(1)
        val est = graft.functions.CountMin.estimate(grid, depth, width, t)
        (t, e, est >= e, est <= e + bound)
      }
      import s.implicits._
      checked.toDF("token", "exact_n", "est_ge_exact", "within_bound")
        .orderBy(col("exact_n").desc, col("token"))
    }),
    Query("x5_repetition", Some({
      // non-empty lines; word bigrams WITHOUT the d2 helper's list_distinct
      // (frequency counting needs every occurrence)
      val ls = "list_filter(string_split(text, chr(10)), l -> length(l) > 0)"
      val gs = "CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')] " +
        "ELSE list_transform(range(1, len(tk)), i -> concat_ws(' ', tk[i], tk[i+1])) END"
      (s"WITH src AS (SELECT doc_id, $ls AS ls, ${toksOf("text")} AS tk FROM documents), " +
        s"g AS (SELECT doc_id, ls, $gs AS gs FROM src) " +
        "SELECT doc_id, " +
        "ROUND((len(ls) - len(list_distinct(ls)))::DOUBLE / greatest(len(ls), 1), 6) AS dup_line_ratio, " +
        "ROUND(coalesce(list_sum(list_transform(list_distinct(ls), " +
        "l -> (len(list_filter(ls, x -> x = l)) - 1) * length(l))), 0)::DOUBLE / " +
        "greatest(coalesce(list_sum(list_transform(ls, l -> length(l))), 0), 1), 6) AS dup_line_char_ratio, " +
        "ROUND(coalesce(list_max(list_transform(list_distinct(gs), " +
        "gr -> len(list_filter(gs, x -> x = gr)))), 0)::DOUBLE / greatest(len(gs), 1), 6) AS top_bigram_ratio, " +
        raw"ROUND(len(list_filter(ls, l -> regexp_matches(l, '^[ \t]*[-*•]')))::DOUBLE / " +
        "greatest(len(ls), 1), 6) AS bullet_line_ratio, " +
        raw"ROUND(len(list_filter(ls, l -> regexp_matches(l, '(\.\.\.|…)$$')))::DOUBLE / " +
        "greatest(len(ls), 1), 6) AS ellipsis_line_ratio " +
        "FROM g ORDER BY doc_id")
    }))((s, dir) => {
      val t = col("text")
      // one compiled ArrayFreqStats pass shared by both line signals
      // (same __p sharing pattern as x1/x2)
      val lf = col("__lf")
      docs(s, dir).withColumn("__lf", TextAnalysis.lineFreqStats(t))
        .select(col("doc_id"),
          round(TextAnalysis.duplicateLineRatioS(lf), 6).as("dup_line_ratio"),
          round(TextAnalysis.duplicateLineCharRatioS(lf), 6).as("dup_line_char_ratio"),
          round(TextAnalysis.topNgramRatio(t, 2), 6).as("top_bigram_ratio"),
          round(TextAnalysis.bulletLineRatio(t), 6).as("bullet_line_ratio"),
          round(TextAnalysis.ellipsisLineRatio(t), 6).as("ellipsis_line_ratio"))
        .orderBy("doc_id")
    }),
    Query("x6_pii", Some({
      import graft.ops.TextAnalysis.{EmailPattern, UrlPattern, Ipv4Pattern, PhonePattern}
      val redacted = Seq(EmailPattern -> "<EMAIL>", UrlPattern -> "<URL>",
        Ipv4Pattern -> "<IP>", PhonePattern -> "<PHONE>")
        .foldLeft("text") { case (t, (p, tag)) => s"regexp_replace($t, '$p', '$tag', 'g')" }
      ("SELECT doc_id, " +
        s"len(regexp_extract_all(text, '$EmailPattern'))::BIGINT AS n_emails, " +
        s"len(regexp_extract_all(text, '$UrlPattern'))::BIGINT AS n_urls, " +
        s"len(regexp_extract_all(text, '$Ipv4Pattern'))::BIGINT AS n_ipv4, " +
        s"len(regexp_extract_all(text, '$PhonePattern'))::BIGINT AS n_phones, " +
        s"length($redacted)::BIGINT AS redacted_len " +
        "FROM documents ORDER BY doc_id")
    }))((s, dir) => {
      val t = col("text")
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.emailCount(t).cast("long").as("n_emails"),
          TextAnalysis.urlCount(t).cast("long").as("n_urls"),
          TextAnalysis.ipv4Count(t).cast("long").as("n_ipv4"),
          TextAnalysis.phoneCount(t).cast("long").as("n_phones"),
          length(TextAnalysis.redactPii(t)).cast("long").as("redacted_len"))
        .orderBy("doc_id")
    }),
    Query("x13_lexical_diversity", Some(
      (s"WITH t AS (SELECT doc_id, ${toksOf("text")} AS tk FROM documents), " +
        "tok AS (SELECT doc_id, unnest(tk) AS w FROM t WHERE len(tk) > 0), " +
        "f AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w) " +
        "SELECT doc_id, sum(c)::BIGINT AS n_tok, count(*)::BIGINT AS n_types, " +
        "sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax, " +
        "round(count(*)::DOUBLE / sum(c), 6) AS ttr, " +
        "round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE / sum(c), 6) AS hapax_fraction " +
        "FROM f GROUP BY doc_id ORDER BY doc_id")))((s, dir) =>
      // Gopher-style unique-words signals: type-token ratio and hapax
      // fraction from ONE compiled frequency pass; both ratios are
      // exact-integer divisions, so the hash compare needs no nudge
      docs(s, dir)
        .withColumn("__f", graft.functions.HashFunctions.arrayFreqStats(
          TextAnalysis.tokens(lower(col("text")))))
        .filter(col("__f.n") > 0)
        .select(col("doc_id"),
          col("__f.n").cast("long").as("n_tok"),
          col("__f.n_distinct").cast("long").as("n_types"),
          col("__f.n_once").cast("long").as("n_hapax"),
          round(col("__f.n_distinct").cast("double") / col("__f.n"), 6).as("ttr"),
          round(col("__f.n_once").cast("double") / col("__f.n"), 6).as("hapax_fraction"))
        .orderBy("doc_id")),
    Query("x11_char_entropy", Some(
      // character frequencies via substring over a position range
      // (DuckDB substring/length are character-unit, matching the Spark
      // expression's codepoint loop); entropy from exact integer counts
      ("WITH cpos AS (SELECT doc_id, text, unnest(range(1, length(text)+1)) AS i " +
        "FROM documents WHERE length(text) > 0), " +
        "chars AS (SELECT doc_id, substring(text, (i)::INT, 1) AS ch FROM cpos), " +
        "f AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch), " +
        "n AS (SELECT doc_id, sum(c)::BIGINT AS n FROM f GROUP BY doc_id) " +
        "SELECT n.doc_id, n.n AS n_cp, " +
        "round(log2(n.n) - sum(f.c * log2(f.c)) / n.n + 5e-10, 6) AS char_entropy " +
        "FROM f JOIN n USING (doc_id) GROUP BY n.doc_id, n.n ORDER BY n.doc_id")))((s, dir) =>
      // statistical garbage detector: codepoint-entropy in bits via the
      // one-pass compiled histogram expression; n_cp pins the
      // codepoint-vs-UTF-16 unit choice against the oracle's character
      // counting
      docs(s, dir).filter(length(col("text")) > 0)
        .withColumn("__e", graft.functions.HashFunctions.charEntropy(col("text")))
        .select(col("doc_id"), col("__e.n_cp").cast("long").as("n_cp"),
          round(col("__e.entropy") + lit(5e-10), 6).as("char_entropy"))
        .orderBy("doc_id")),
    Query("x12_url_domains", Some(
      ("WITH planted AS (SELECT doc_id, text || " +
        "(CASE WHEN doc_id % 3 = 0 THEN ' https://site-' || (doc_id % 7)::VARCHAR || '.example.org/a' ELSE '' END) || " +
        "(CASE WHEN doc_id % 5 = 0 THEN ' https://CDN-' || (doc_id % 4)::VARCHAR || '.Example.net:8080/b' ELSE '' END) AS text " +
        "FROM documents), " +
        s"h AS (SELECT unnest(regexp_extract_all(text, '${TextAnalysis.UrlHostPattern}', 1)) AS host " +
        "FROM planted), " +
        "g AS (SELECT lower(host) AS host, count(*) AS cnt FROM h GROUP BY 1) " +
        "SELECT host, cnt FROM g ORDER BY cnt DESC, host LIMIT 20")))((s, dir) =>
      // domain histogram for mixture weighting / domain filtering: URL
      // hosts with multiplicity, exact top-20 with deterministic
      // tiebreak (the x3 shape — map-side-combinable count, tiny
      // result). The corpus contains no URLs, so they are PLANTED
      // in-plan from doc_id (the m-family payload precedent — the
      // oracle replays the planting): mixed-case hosts exercise the
      // lowercasing, the :8080 variant the port boundary.
      docs(s, dir)
        .withColumn("text",
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" https://site-"), col("doc_id") % 7, lit(".example.org/a"))).otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit(" https://CDN-"), col("doc_id") % 4, lit(".Example.net:8080/b"))).otherwise(lit(""))))
        .select(explode(TextAnalysis.urlHosts(col("text"))).as("host"))
        .groupBy("host").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("host")).limit(20)),
    Query("x10_lm_score", Some(
      // replay the add-0.1 bigram LM: same lowercased tokens, positional
      // bigrams via unnest(range), context counts as the sum of bigram
      // counts, vocabulary = distinct successor words; the same +5e-10
      // rounding nudge as the Spark side
      (s"WITH t AS (SELECT doc_id, ${toksOf("text")} AS tk FROM documents), " +
        "p AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM t WHERE len(tk) >= 2), " +
        "bg AS (SELECT doc_id, tk[(i)::INT] AS w1, tk[(i+1)::INT] AS w2 FROM p), " +
        "c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2), " +
        "c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1), " +
        "v AS (SELECT count(DISTINCT w2)::DOUBLE AS v FROM bg), " +
        "sc AS (SELECT bg.doc_id, ln((c2.c2 + 0.1) / (c1.c1 + 0.1 * v.v)) AS lp " +
        "FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v) " +
        "SELECT doc_id, count(*)::BIGINT AS n_bigrams, " +
        "round(avg(lp) + 5e-10, 6) AS avg_logp, " +
        "round(exp(-avg(lp)) + 5e-10, 4) AS ppl " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id")))((s, dir) =>
      // CCNet-style bigram-LM scoring, self-trained on the corpus: model
      // counts and vocabulary ride in-plan (two map-side-combinable aggs
      // + a broadcast 1-row vocab), scoring is one join on the bigram
      // key. avg(ln(..)) is a float sum whose partition order differs
      // from DuckDB's sequential sum — the shared +5e-10 nudge (the c1
      // pattern) keeps the 6-decimal rounding off knife edges.
      TextAnalysis.lmScore(docs(s, dir), "doc_id", "text", alpha = 0.1)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_logp") + lit(5e-10), 6).as("avg_logp"),
          round(col("ppl") + lit(5e-10), 4).as("ppl"))
        .orderBy("doc_id")),
    Query("x30_k_anonymity", Some(
      // the same QI census + 1-row fold, all exact longs
      ("WITH q AS (SELECT source, lang, n_chars // 200 AS len_bucket FROM documents), " +
        "c AS (SELECT source, lang, len_bucket, count(*)::BIGINT AS cnt " +
        "FROM q GROUP BY 1, 2, 3) " +
        "SELECT CAST(5 AS BIGINT) AS k_threshold, " +
        "CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_rows, " +
        "count(*)::BIGINT AS n_groups, " +
        "CAST(coalesce(sum(CASE WHEN cnt < 5 THEN 1 END), 0) AS BIGINT) AS n_violating_groups, " +
        "CAST(coalesce(sum(CASE WHEN cnt < 5 THEN cnt END), 0) AS BIGINT) AS n_rows_at_risk, " +
        "CAST(min(cnt) AS BIGINT) AS min_group_size FROM c")))((s, dir) =>
      // the pre-export privacy gate: every row must share its
      // (source, lang, length-bucket) quasi-identifier combination with
      // >= 4 others or it re-identifies — one QI census (shuffle
      // carries distinct combinations, never rows) + a 1-row fold
      graft.ops.Quality.kAnonymity(
          table(s, dir, "documents")
            .select(col("source"), col("lang"),
              expr("n_chars div 200").as("len_bucket")),
          Seq("source", "lang", "len_bucket"), k = 5L)),
    Query("x32_l_diversity", Some(
      // the same (QI, sensitive) census + 1-row fold; NULL lang becomes
      // the chr(0) sentinel exactly as the operator's coalesce does
      ("WITH q AS (SELECT source, n_chars // 200 AS len_bucket, " +
        "coalesce(CAST(lang AS VARCHAR), chr(0)) AS sv FROM documents), " +
        "c AS (SELECT source, len_bucket, count(*)::BIGINT AS cnt, " +
        "count(DISTINCT sv)::BIGINT AS l FROM q GROUP BY 1, 2) " +
        "SELECT CAST(3 AS BIGINT) AS l_threshold, " +
        "CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_rows, " +
        "count(*)::BIGINT AS n_groups, " +
        "CAST(coalesce(sum(CASE WHEN l < 3 THEN 1 END), 0) AS BIGINT) AS n_violating_groups, " +
        "CAST(coalesce(sum(CASE WHEN l < 3 THEN cnt END), 0) AS BIGINT) AS n_rows_at_risk, " +
        "CAST(min(l) AS BIGINT) AS min_l FROM c")))((s, dir) =>
      // the homogeneity-attack companion gate: each (source, len-bucket)
      // QI group must span >= 3 distinct languages — one census over
      // distinct (QI, sensitive) combinations + a 1-row fold, NULL
      // sensitive carried through the sentinel as its own value
      graft.ops.Quality.lDiversity(
          table(s, dir, "documents")
            .select(col("source"), col("lang"),
              expr("n_chars div 200").as("len_bucket")),
          Seq("source", "len_bucket"), "lang", l = 3L)),

    Query("x20_benford", Some(
      // same string-digit extraction, census, and Benford expectation
      ("WITH d AS (SELECT substr((round(l_extendedprice * 100)::BIGINT)::VARCHAR, 1, 1)::INTEGER AS digit " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL " +
        "AND round(l_extendedprice * 100)::BIGINT > 0), " +
        "c AS (SELECT digit, count(*)::BIGINT AS cnt FROM d GROUP BY digit), " +
        "t AS (SELECT digit, cnt, cnt::DOUBLE / (SELECT sum(cnt) FROM c) AS obs, " +
        "log10(1.0 + 1.0 / digit::DOUBLE) AS expf FROM c) " +
        "SELECT digit, cnt, round(obs + 5e-10, 6) AS obs_freq, " +
        "round(expf + 5e-10, 6) AS exp_freq, " +
        "round(obs - expf + 5e-10, 6) AS dev FROM t ORDER BY digit")))((s, dir) =>
      // first-digit audit of prices-in-cents: the digit comes from the
      // decimal string, immune to the log10 power-of-ten knife edge
      graft.ops.Audit.benford(
          table(s, dir, "lineitem")
            .select(round(col("l_extendedprice") * lit(100)).cast("long")
              .as("cents")),
          "cents")
        .select(col("digit"), col("cnt"),
          round(col("obs_freq") + lit(5e-10), 6).as("obs_freq"),
          round(col("exp_freq") + lit(5e-10), 6).as("exp_freq"),
          round(col("dev") + lit(5e-10), 6).as("dev"))
        .orderBy("digit")),
    Query("x21_oov_rate", Some(
      // same top-20 vocabulary (count DESC, token ASC) and the per-source
      // miss census over the exploded tokens
      (s"WITH tk AS (SELECT source, unnest(${toksOf("text")}) AS token FROM documents " +
        "WHERE source IS NOT NULL AND text IS NOT NULL), " +
        "v AS (SELECT token FROM (SELECT token, count(*)::BIGINT AS n FROM tk GROUP BY 1) " +
        "ORDER BY n DESC, token LIMIT 20) " +
        "SELECT source, count(*)::BIGINT AS n_tokens, " +
        "sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov, " +
        "round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) " +
        "+ 5e-10, 6) AS oov_rate " +
        "FROM tk LEFT JOIN v ON tk.token = v.token GROUP BY source ORDER BY source")))((s, dir) => {
      // tokenizer-coverage screen: per-source out-of-vocabulary rate
      // against the corpus's own top-20 token vocabulary (count DESC,
      // token ASC ties). Two passes over ONE exploded token frame; the
      // vocab rides a broadcast left join
      val tk = table(s, dir, "documents")
        .filter(col("source").isNotNull && col("text").isNotNull)
        .select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      val vocab = tk.groupBy("token").agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col("token")).limit(20)
        .select(col("token"), lit(1L).as("__in"))
      tk.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          round(col("n_oov").cast("double") / col("n_tokens") + lit(5e-10), 6)
            .as("oov_rate"))
        .orderBy("source")
    }),
    Query("x22_boilerplate", Some(
      // leading-trigram census, (count DESC, prefix) argmax per source
      (s"WITH p AS (SELECT source, array_to_string(list_slice(${toksOf("text")}, 1, 3), ' ') " +
        "AS prefix FROM documents WHERE source IS NOT NULL AND text IS NOT NULL), " +
        "c AS (SELECT source, prefix, count(*)::BIGINT AS n FROM p GROUP BY 1, 2), " +
        "r AS (SELECT source, prefix, n, sum(n) OVER (PARTITION BY source) AS tot, " +
        "row_number() OVER (PARTITION BY source ORDER BY n DESC, prefix) AS rn FROM c) " +
        "SELECT source, tot::BIGINT AS n_docs, prefix AS top_prefix, n AS n_top, " +
        "round(n::DOUBLE / tot + 5e-10, 6) AS share FROM r WHERE rn = 1 ORDER BY source")))((s, dir) =>
      // boilerplate-header detector: each source's most common leading
      // trigram and its share of the source's docs — one prefix
      // projection, one census, a min(struct) argmax, no window
      table(s, dir, "documents")
        .filter(col("source").isNotNull && col("text").isNotNull)
        .select(col("source"), concat_ws(" ",
          slice(TextAnalysis.tokens(lower(col("text"))), 1, 3)).as("prefix"))
        .groupBy("source", "prefix").agg(count(lit(1)).as("__c"))
        .groupBy("source")
        .agg(sum("__c").as("n_docs"),
          min(struct((-col("__c")).as("nc"), col("prefix").as("p"))).as("__b"))
        .select(col("source"), col("n_docs"),
          col("__b.p").as("top_prefix"), (-col("__b.nc")).as("n_top"),
          round((-col("__b.nc")).cast("double") / col("n_docs") + lit(5e-10), 6)
            .as("share"))
        .orderBy("source")),
    Query("x19_zipf", Some(
      // vocab census -> (cnt desc, token) rank -> the OLS sums and the
      // operator's exact cov/vx/vy formulas
      (s"WITH tok AS (SELECT unnest($Toks) AS t FROM documents), " +
        "cen AS (SELECT t, count(*)::BIGINT AS cnt FROM tok GROUP BY t), " +
        "rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, t) AS rn FROM cen), " +
        "xy AS (SELECT ln(rn::DOUBLE) AS x, ln(cnt::DOUBLE) AS y FROM rk WHERE rn <= 1000), " +
        "s AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy, " +
        "sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy FROM xy), " +
        "f AS (SELECT n, sx, sy, n::DOUBLE * sxy - sx * sy AS cov, " +
        "n::DOUBLE * sxx - sx * sx AS vx, n::DOUBLE * syy - sy * sy AS vy FROM s) " +
        "SELECT n AS n_tokens, " +
        "round(CASE WHEN vx > 0 THEN cov / vx END + 5e-10, 6) AS slope, " +
        "round(CASE WHEN vx > 0 THEN (sy - cov / vx * sx) / n::DOUBLE END + 5e-10, 6) AS intercept, " +
        "round(CASE WHEN vx > 0 AND vy > 0 THEN cov * cov / (vx * vy) END + 5e-10, 6) AS r2 " +
        "FROM f")))((s, dir) =>
      // corpus-health Zipf fit: vocabulary census -> rank window over
      // vocab rows only -> closed-form OLS in one aggregate
      TextAnalysis.zipfFit(
          docs(s, dir)
            .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
            .groupBy("token").agg(count(lit(1)).as("cnt")),
          "token", "cnt", topN = 1000)
        .select(col("n_tokens"),
          round(col("slope") + lit(5e-10), 6).as("slope"),
          round(col("intercept") + lit(5e-10), 6).as("intercept"),
          round(col("r2") + lit(5e-10), 6).as("r2"))),
    Query("x29_ngram_novelty", Some(
      // both sides' distinct-trigram censuses off the shared shingle
      // helper; novelty = the left join's miss share per source
      (s"WITH t AS (SELECT source, doc_id, ${toksOf("text")} AS tk " +
        "FROM documents WHERE text IS NOT NULL), " +
        s"c0 AS (SELECT source, unnest(${shingleSql(3, "tk")}) AS gram FROM t " +
        "WHERE doc_id % 10 = 0 AND source IS NOT NULL AND len(tk) > 0), " +
        "c AS (SELECT DISTINCT source, gram FROM c0), " +
        s"r0 AS (SELECT unnest(${shingleSql(3, "tk")}) AS gram FROM t " +
        "WHERE doc_id % 10 <> 0 AND len(tk) > 0), " +
        "r AS (SELECT DISTINCT gram FROM r0) " +
        "SELECT c.source, count(*)::BIGINT AS n_grams, " +
        "CAST(sum(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "round(sum(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) " +
        "+ 5e-10, 6) AS novelty_rate " +
        "FROM c LEFT JOIN r ON c.gram = r.gram GROUP BY 1 ORDER BY 1")))((s, dir) => {
      // incoming-snapshot freshness screen: every 10th doc plays the
      // new crawl, the rest the standing corpus; per-source share of
      // the snapshot's DISTINCT trigrams never seen in the reference —
      // census-vs-census, one gram-keyed join, no per-doc pair work
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val cur = d.filter(col("doc_id") % 10 === 0 && col("source").isNotNull)
      val ref = d.filter(col("doc_id") % 10 =!= 0)
      TextAnalysis.ngramNovelty(cur, ref, "source", "text", n = 3)
        .select(col("source"), col("n_grams"), col("n_novel"),
          round(col("novelty_rate") + lit(5e-10), 6).as("novelty_rate"))
        .orderBy("source")
    }),
    Query("x26_pmi_collocations", Some(
      // positional bigram self-join, both censuses, and the identical
      // left-associative PMI operand order; ties cut lexicographically
      (s"WITH tk AS (SELECT doc_id, unnest($Toks) AS w, " +
        s"generate_subscripts($Toks, 1) AS i FROM documents), " +
        "uni AS (SELECT w, count(*)::BIGINT AS c FROM tk GROUP BY w), " +
        "tu AS (SELECT CAST(sum(c) AS BIGINT) AS nu FROM uni), " +
        "bi AS (SELECT l.w AS w1, r.w AS w2 FROM tk l JOIN tk r " +
        "ON l.doc_id = r.doc_id AND r.i = l.i + 1), " +
        "tb AS (SELECT count(*)::BIGINT AS nb FROM bi), " +
        "bg AS (SELECT w1, w2, count(*)::BIGINT AS c_xy FROM bi " +
        "GROUP BY 1, 2 HAVING count(*) >= 5), " +
        "sc AS (SELECT w1, w2, c_xy, cu1.c AS c_x, cu2.c AS c_y, " +
        "ln(c_xy::DOUBLE * nu * nu / (nb::DOUBLE * cu1.c * cu2.c)) AS pmi " +
        "FROM bg JOIN uni cu1 ON cu1.w = bg.w1 JOIN uni cu2 ON cu2.w = bg.w2, tu, tb) " +
        "SELECT w1, w2, c_xy, c_x, c_y, round(pmi + 5e-10, 6) AS pmi " +
        "FROM sc ORDER BY pmi DESC, w1, w2 LIMIT 20")))((s, dir) =>
      // top-20 glued bigrams by PMI: in-array bigram assembly (zero
      // shuffle), two token censuses, minCount >= 5 prunes the
      // rare-pair PMI ceiling, deterministic lexicographic tie-break
      TextAnalysis.pmiCollocations(docs(s, dir), "text", minCount = 5L, topK = 20)
        .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
          round(col("pmi") + lit(5e-10), 6).as("pmi"))),
    Query("x31_kneser_ney", Some(
      // the x26 positional bigram census, then every KN ingredient as a
      // census-of-the-census aggregate and the identical left-assoc
      // division algebra (p_cont reused unrounded inside p_kn)
      (s"WITH tk AS (SELECT doc_id, unnest($Toks) AS w, " +
        s"generate_subscripts($Toks, 1) AS i FROM documents), " +
        "bi AS (SELECT l.w AS w1, r.w AS w2 FROM tk l JOIN tk r " +
        "ON l.doc_id = r.doc_id AND r.i = l.i + 1), " +
        "bg AS (SELECT w1, w2, count(*)::BIGINT AS c_xy FROM bi GROUP BY 1, 2), " +
        "lf AS (SELECT w1, CAST(sum(c_xy) AS BIGINT) AS c_left, " +
        "count(*)::BIGINT AS n_follow FROM bg GROUP BY 1), " +
        "rt AS (SELECT w2, count(*)::BIGINT AS n_precede FROM bg GROUP BY 1), " +
        "tt AS (SELECT count(*)::BIGINT AS nbt FROM bg) " +
        "SELECT bg.w1, bg.w2, c_xy, c_left, n_follow, n_precede, " +
        "round(n_precede::DOUBLE / nbt + 5e-10, 6) AS p_cont, " +
        "round(greatest(c_xy::DOUBLE - 0.75, 0.0) / c_left + " +
        "0.75::DOUBLE * n_follow::DOUBLE / c_left * (n_precede::DOUBLE / nbt) " +
        "+ 5e-10, 6) AS p_kn " +
        "FROM bg JOIN lf ON lf.w1 = bg.w1 JOIN rt ON rt.w2 = bg.w2, tt " +
        "ORDER BY c_xy DESC, bg.w1, bg.w2 LIMIT 30")))((s, dir) =>
      // the count-based LM's smoothing census: absolute-discounted
      // bigram probability backing off to the CONTINUATION unigram —
      // one in-array bigram census, every KN ingredient a
      // census-of-the-census aggregate, exact longs under one fixed
      // division algebra; top-30 bigrams by count, ties lexicographic
      TextAnalysis.kneserNeyBigrams(docs(s, dir), "text",
          discount = 0.75, topK = 30)
        .select(col("w1"), col("w2"), col("c_xy"), col("c_left"),
          col("n_follow"), col("n_precede"),
          round(col("p_cont") + lit(5e-10), 6).as("p_cont"),
          round(col("p_kn") + lit(5e-10), 6).as("p_kn"))),
    Query("x28_langid_confusion", Some(
      // the x2 enrich CTEs + the same argmax language pick, censused
      // against the stored label
      (enrichSql("documents") +
        ", p AS (SELECT d.lang, " + LangPickSql + " AS lang_pred " +
        "FROM f JOIN documents d ON d.doc_id = f.doc_id " +
        "WHERE d.lang IS NOT NULL AND d.text IS NOT NULL) " +
        "SELECT lang, lang_pred, count(*)::BIGINT AS n FROM p " +
        "GROUP BY 1, 2 ORDER BY lang, lang_pred")))((s, dir) =>
      // the language-ID operator EVALUATED against the corpus labels:
      // the (label, prediction) confusion census — one compiled
      // profile projection + one map-side-combined aggregate; the
      // classifier itself is the thing under oracle here
      table(s, dir, "documents")
        .filter(col("lang").isNotNull && col("text").isNotNull)
        .select(col("lang"), TextAnalysis.languageId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")),
    Query("x8_vocab", Some(
      (s"WITH tk AS (SELECT unnest(${toksOf("text")}) AS token FROM documents), " +
        "c AS (SELECT token, count(*)::BIGINT AS n FROM tk GROUP BY token), " +
        "tot AS (SELECT sum(n)::BIGINT AS total FROM c), " +
        "top AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 100), " +
        "r AS (SELECT token, n, " +
        "row_number() OVER (ORDER BY n DESC, token) AS rank, " +
        "sum(n) OVER (ORDER BY n DESC, token ROWS UNBOUNDED PRECEDING) AS cum FROM top) " +
        "SELECT rank::BIGINT AS rank, token, n, " +
        "ROUND(n::DOUBLE / total::DOUBLE, 6) AS share, " +
        "ROUND(cum::DOUBLE / total::DOUBLE, 6) AS cum_share " +
        "FROM r CROSS JOIN tot ORDER BY rank")))((s, dir) => {
      // corpus vocabulary head: exact top-100 tokens by frequency with
      // each token's corpus share and the ranked prefix's cumulative
      // coverage. explode -> map-side-combinable count; the top-100 rides
      // TakeOrderedAndProject (per-partition heaps, no global sort) and
      // the grand total aggregates the SAME token-count exchange
      // (ReuseExchange dedupes the scan+shuffle); the rank/cumsum window
      // is unpartitioned BUT runs over the 100 surviving rows only.
      import org.apache.spark.sql.expressions.Window
      val tk = docs(s, dir)
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      val counts = tk.groupBy("token").agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("total"))
      val top = counts.orderBy(col("n").desc, col("token")).limit(100)
      val w = Window.orderBy(col("n").desc, col("token"))
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.crossJoin(broadcast(total))
        .select(
          row_number().over(w).cast("long").as("rank"),
          col("token"), col("n"),
          round(col("n").cast("double") / col("total").cast("double"), 6).as("share"),
          round(sum(col("n")).over(wc).cast("double") / col("total").cast("double"), 6)
            .as("cum_share"))
        .orderBy("rank")
    }),
    // the Misra-Gries candidate set + exact re-count composes to exactly
    // "all tokens above the N/(k+1) frequency floor, with exact counts"
    // — sketch-independent, so the oracle derives the set directly
    Query("x9_heavy_hitters", Some(
      (s"WITH tk AS (SELECT unnest(${toksOf("text")}) AS token FROM documents), " +
        "tot AS (SELECT count(*)::BIGINT AS total FROM tk), " +
        "c AS (SELECT token, count(*)::BIGINT AS n FROM tk GROUP BY token) " +
        "SELECT token, n, ROUND(n::DOUBLE / total::DOUBLE, 6) AS share " +
        "FROM c CROSS JOIN tot WHERE n * 51 > total ORDER BY n DESC, token")))((s, dir) => {
      // sketch-path frequent tokens: a Misra-Gries summary finds the
      // candidate set WITHOUT shuffling the vocabulary (the shuffle
      // carries one 50-entry map per partition), then one broadcast-
      // filtered re-count pass makes the survivors exact. The MG
      // guarantee (every token with freq > N/(k+1) is in the sketch)
      // makes the final set "exact counts of all tokens above the
      // N/(k+1) frequency floor" — DETERMINISTIC and SQL-derivable even
      // though the sketch's own content is partitioning-dependent.
      val k = 50
      val mg = udaf(new graft.functions.MisraGries(k),
        org.apache.spark.sql.Encoders.STRING)
      val tk = docs(s, dir)
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      val sk = tk.agg(mg(col("token")).as("sketch"), count(lit(1)).as("total"))
      val cand = sk.select(explode(map_keys(col("sketch"))).as("token"), col("total"))
      tk.join(broadcast(cand), Seq("token"))
        .groupBy("token", "total").agg(count(lit(1)).as("n"))
        .filter(col("n") * (k + 1) > col("total"))
        .select(col("token"), col("n"),
          round(col("n").cast("double") / col("total").cast("double"), 6).as("share"))
        .orderBy(col("n").desc, col("token"))
    }),

    // ---- full-text retrieval -------------------------------------------
    Query("x15_blocklist", Some(
      (s"WITH t AS (SELECT doc_id, ${toksOf("text")} AS tk FROM documents) " +
        "SELECT doc_id, " +
        "len(list_filter(tk, x -> list_contains(['merge', 'vector', 'slow'], x)))::BIGINT AS n_blocked, " +
        "CASE WHEN len(list_filter(tk, x -> list_contains(['merge', 'vector', 'slow'], x))) = 0 " +
        "THEN 1 ELSE 0 END::BIGINT AS kept " +
        "FROM t ORDER BY doc_id")))((s, dir) =>
      // C4-style blocklist gate: token-exact hit counts for a literal
      // blocklist + the 0/1 keep decision — one scan, zero shuffle
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.blocklistHits(col("text"),
            Seq("merge", "vector", "slow")).cast("long").as("n_blocked"),
          when(TextAnalysis.blocklistHits(col("text"),
            Seq("merge", "vector", "slow")) === 0, 1L).otherwise(0L).as("kept"))
        .orderBy("doc_id")),

    Query("x14_bm25", Some({
      // identical operation order as Search.bm25: idf·tf·(k1+1) /
      // (tf + k1·((1-b) + b·dl/avgdl)); all inputs exact integers except
      // avgdl (exact integer sum / count — the same double in both
      // engines). Inner ORDER/LIMIT cuts on the raw score exactly as the
      // Spark TakeOrdered does; the outer SELECT rounds and re-orders.
      val terms = Seq("vector", "hash", "merge")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(", ")
      val dfCols = terms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
      val termScore = terms.indices.map(i =>
        s"ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0) * tf$i * 2.2 " +
          s"/ (tf$i + 1.2 * (0.25 + 0.75 * dl / avgdl))").mkString(" + ")
      s"WITH t AS (SELECT doc_id, ${toksOf("text")} AS tk FROM documents), " +
        s"f AS (SELECT doc_id, len(tk)::DOUBLE AS dl, $tfCols FROM t), " +
        s"st AS (SELECT count(*) AS n, avg(dl) AS avgdl, $dfCols FROM f), " +
        s"sc AS (SELECT doc_id, dl, ($termScore) AS score FROM f CROSS JOIN st), " +
        "top AS (SELECT doc_id, dl, score FROM sc WHERE score > 0.0 " +
        "ORDER BY score DESC, doc_id LIMIT 20) " +
        "SELECT doc_id, dl::BIGINT AS dl, round(score + 5e-10, 6) AS score " +
        "FROM top ORDER BY score DESC, doc_id"
    }))((s, dir) =>
      // BM25 top-20 for a 3-term query: tf per term via in-row array
      // filters (no explode/shuffle), corpus stats (N, avgdl, df) as ONE
      // broadcast 1-row aggregate, top-k as TakeOrdered. All score
      // inputs are exact integers (tf, dl, df, N) plus avgdl (an exact
      // integer sum / count), so the double pipeline is deterministic
      // and the oracle spells the identical operation order.
      Search.bm25TopK(docs(s, dir), "doc_id", "text",
          Seq("vector", "hash", "merge"), k = 20)
        .select(col("doc_id"), col("dl"),
          round(col("score") + lit(5e-10), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))),
  )
}
