package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language identification, and document
  * fingerprinting.
  *
  * Everything is built from codegen'd built-in functions and higher-order
  * functions (`transform`/`filter`/`aggregate`) — no UDFs — so the whole
  * pipeline stays inside WholeStageCodegen and scales linearly with no
  * shuffle: each operator is a pure per-row projection.
  */
object TextAnalysis {

  /** ASCII whitespace class, spelled out because Java regex `\s` includes
    * vertical tab while RE2's (the DuckDB oracle engine) does not — the
    * explicit class is identical in both. Public so the oracle SQL builder
    * embeds the same characters. */
  val WhitespaceClass = " \\t\\n\\x0B\\f\\r"

  /** Whitespace tokenization; empty strings removed (split of "" yields
    * [""], and leading separators yield empty head tokens). */
  def tokens(text: Column): Column =
    filter(split(text, s"[$WhitespaceClass]+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Pointwise-mutual-information collocations — the corpus's glued-
    * together adjacent token pairs ("new york", "machine learning"),
    * the screen that finds multi-word units before vocabulary
    * construction and surfaces templated boilerplate n-grams:
    * PMI(w₁,w₂) = ln( (c₁₂/N_bi) / ((c₁/N_uni)·(c₂/N_uni)) ), with the
    * bigram count from ADJACENT positions only. Pairs below `minCount`
    * are noise (a 1-in-a-corpus bigram of two rare words maxes PMI by
    * construction) and are dropped before scoring; top `topK` by PMI,
    * ties broken lexicographically so the cut is deterministic.
    *
    * Scale shape: bigrams assemble INSIDE the token array (slice-
    * indexed transform — zero shuffle, no positional self-join), then
    * two map-side-combined censuses (unigram, bigram); scoring joins
    * the minCount-pruned bigram census against the unigram census
    * twice (keyed on token, census-sized), totals ride a 1-row
    * broadcast, and the top-k is a TakeOrderedAndProject, never a
    * global sort. Both censuses are SCOPE-PERSISTED while the topK
    * report materializes (the lambda-bearing explode subtree defeats
    * exchange reuse, so without the persist each census consumer
    * re-scans the corpus — 5 scans where 1 suffices; zero residual
    * storage on return). Returns the literal topK frame
    * (w1, w2, c_xy, c_x, c_y, pmi). */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Long = 5L, topK: Int = 20): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = df.filter(col(textCol).isNotNull)
      .select(tokens(col(textCol)).as("__t"))
    val uni0 = toks.select(explode(col("__t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bi0 = toks.filter(size(col("__t")) >= 2)
      .select(explode(transform(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        (w, i) => struct(w.as("w1"), element_at(col("__t"), i + 2).as("w2"))))
        .as("__b"))
      .select(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    // persist only after BOTH plans resolve — an analysis error during
    // bi's construction must not leak uni's persist past the finally
    val uni = uni0.persist()
    val bi = bi0.persist()
    try {
      val totals = uni.agg(sum("c").as("__nu"))
        .crossJoin(bi.agg(sum("c_xy").as("__nb")))
      materializedTopK(bi.filter(col("c_xy") >= minCount)
        .join(uni.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
        .crossJoin(broadcast(totals))
        .withColumn("pmi",
          log(col("c_xy").cast("double") * col("__nu") * col("__nu") /
            (col("__nb").cast("double") * col("c_x") * col("c_y"))))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(topK)
        .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
          col("pmi")))
    } finally { bi.unpersist(); uni.unpersist() }
  }

  /** Collect a bounded (LIMIT-ed) report frame while its input persists
    * are live and return it as a literal frame — the RankTests eager-
    * report contract: only ever called on topK-/report-sized plans, so
    * the driver never holds more than the report. */
  private def materializedTopK(frame: DataFrame): DataFrame =
    frame.sparkSession.createDataFrame(
      java.util.Arrays.asList(frame.collect(): _*), frame.schema)

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1999 — the smoothing every count-based n-gram LM
    * ships with): absolute-discount the bigram count and back off to
    * the CONTINUATION unigram — how many distinct left contexts a word
    * follows, not how often it occurs — so "francisco" (frequent, but
    * only ever after "san") stops stealing probability from genuinely
    * promiscuous words:
    *
    *   P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
    *              + (D · N₁₊(w₁·)/c(w₁·)) · N₁₊(·w₂)/N₁₊(··)
    *
    * This is the corpus-side census a data pipeline needs to score or
    * sample text with a KN model — and its `p_cont` column is itself
    * the standard "boilerplate token" screen (high frequency, few
    * contexts → low continuation probability).
    *
    * Scale shape: bigrams assemble INSIDE the token array (the
    * pmiCollocations transform — zero shuffle, no positional
    * self-join), ONE map-side-combined bigram census, and every KN
    * ingredient — left totals c(w₁·), follower fan-out N₁₊(w₁·),
    * predecessor fan-in N₁₊(·w₂), total bigram types N₁₊(··) — is a
    * census-of-the-census aggregate (keyed on a token, census-sized;
    * the type total rides a 1-row broadcast). The census is
    * SCOPE-PERSISTED while the topK report materializes — its four
    * consumers would otherwise each re-scan and re-explode the corpus
    * (the lambda subtree defeats exchange reuse; plan-audited at
    * sf0.01) — with zero residual storage on return. All counts are
    * exact longs; the probabilities divide them in one fixed algebra
    * an external engine replays bit-for-bit. Top `topK` bigrams by
    * count, ties lexicographic. Returns the literal topK frame
    * (w1, w2, c_xy, c_left, n_follow, n_precede, p_cont, p_kn). */
  def kneserNeyBigrams(df: DataFrame, textCol: String,
                       discount: Double = 0.75, topK: Int = 30): DataFrame = {
    require(discount > 0 && discount < 1, s"discount must be in (0,1), got $discount")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = df.filter(col(textCol).isNotNull)
      .select(tokens(col(textCol)).as("__t"))
    val bi = toks.filter(size(col("__t")) >= 2)
      .select(explode(transform(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        (w, i) => struct(w.as("w1"), element_at(col("__t"), i + 2).as("w2"))))
        .as("__b"))
      .select(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .persist()
    try {
      val left = bi.groupBy("w1")
        .agg(sum("c_xy").as("c_left"), count(lit(1)).as("n_follow"))
      val right = bi.groupBy("w2").agg(count(lit(1)).as("n_precede"))
      val types = bi.agg(count(lit(1)).as("__nbt"))
      materializedTopK(bi.join(left, Seq("w1")).join(right, Seq("w2"))
        .crossJoin(broadcast(types))
        .withColumn("p_cont",
          col("n_precede").cast("double") / col("__nbt"))
        .withColumn("p_kn",
          greatest(col("c_xy").cast("double") - lit(discount), lit(0.0)) /
            col("c_left") +
            lit(discount) * col("n_follow").cast("double") / col("c_left") *
              col("p_cont"))
        .orderBy(col("c_xy").desc, col("w1"), col("w2"))
        .limit(topK)
        .select(col("w1"), col("w2"), col("c_xy"), col("c_left"),
          col("n_follow"), col("n_precede"), col("p_cont"), col("p_kn")))
    } finally bi.unpersist()
  }

  /** Sentence segmentation + length/readability profile in ONE compiled
    * projection (zero shuffle): sentences split on terminal punctuation
    * runs followed by whitespace (`[.!?]+\s+` — the character classes
    * are Java/RE2-identical, the x7 discipline), words by [[tokens]],
    * characters = the whitespace-stripped length. `ari` is the
    * Automated Readability Index `4.71·(c/w) + 0.5·(w/s) − 21.43` —
    * the syllable-free readability score, so every term is exact
    * arithmetic an external engine replays (the vowel-group Flesch
    * variant lives in [[fleschStats]]). NULL when a doc has no words or no
    * sentences. Returns (id, n_sentences, n_words, n_chars,
    * words_per_sentence, ari). */
  def sentenceStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val sentences = filter(split(t, s"[.!?]+[$WhitespaceClass]+"),
      x => length(trim(x)) > 0)
    df.filter(t.isNotNull)
      .select(col(idCol),
        size(sentences).cast("long").as("n_sentences"),
        size(tokens(t)).cast("long").as("n_words"),
        length(regexp_replace(t, s"[$WhitespaceClass]+", "")).cast("long").as("n_chars"))
      .withColumn("words_per_sentence",
        when(col("n_sentences") > 0L,
          col("n_words").cast("double") / col("n_sentences")))
      .withColumn("ari",
        when(col("n_words") > 0L && col("n_sentences") > 0L,
          lit(4.71) * (col("n_chars").cast("double") / col("n_words"))
            + lit(0.5) * (col("n_words").cast("double") / col("n_sentences"))
            - lit(21.43)))
  }

  /** Flesch readability — [[sentenceStats]]' syllable-bearing sibling.
    * Syllables use the crude-but-standard VOWEL-GROUP heuristic (runs
    * of `[aeiouy]+` in the lowercased text; whitespace breaks runs, so
    * groups never span words) — deliberately the simplest rule that is
    * ENGINE-IDENTICAL as a regex, which is what lets the x23 oracle
    * replay the count (the dictionary-based refinements every
    * readability library layers on are not). Reading ease =
    * 206.835 − 1.015·(w/s) − 84.6·(syl/w); FK grade =
    * 0.39·(w/s) + 11.8·(syl/w) − 15.59. NULL when a doc has no words
    * or sentences. Pure compiled projection, zero shuffle. Returns
    * (id, n_sentences, n_words, n_syllables, flesch_ease, fk_grade). */
  def fleschStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val sentences = filter(split(t, s"[.!?]+[$WhitespaceClass]+"),
      x => length(trim(x)) > 0)
    val wps = col("n_words").cast("double") / col("n_sentences")
    val spw = col("n_syllables").cast("double") / col("n_words")
    df.filter(t.isNotNull)
      .select(col(idCol),
        size(sentences).cast("long").as("n_sentences"),
        size(tokens(t)).cast("long").as("n_words"),
        regexp_count(lower(t), lit("[aeiouy]+")).cast("long").as("n_syllables"))
      .withColumn("flesch_ease",
        when(col("n_words") > 0L && col("n_sentences") > 0L,
          lit(206.835) - lit(1.015) * wps - lit(84.6) * spw))
      .withColumn("fk_grade",
        when(col("n_words") > 0L && col("n_sentences") > 0L,
          lit(0.39) * wps + lit(11.8) * spw - lit(15.59)))
  }

  /** ASCII control characters (C0 + DEL), spelled as an explicit range
    * because Java's `\p{Cntrl}` and RE2's `\p{Cc}` disagree on the C1
    * block (U+0080-U+009F) — the explicit class is identical in both
    * engines, keeping DuckDB-oracle parity. Public so the oracle SQL
    * builder embeds the same characters. */
  val ControlClass = "\\x00-\\x1F\\x7F"

  /** Canonical text normalization — the standard preprocessing step
    * before exact/near dedup (C4 and friends): control characters
    * become spaces, text is lowercased, whitespace runs collapse to a
    * single space, and the result is trimmed. Pure per-row projection:
    * no shuffle, codegen'd regex, safe at any scale. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      lower(regexp_replace(text, s"[$ControlClass]", " ")),
      s"[$WhitespaceClass]+", " "))

  /** One compiled pass over the text producing every counting signal the
    * quality/language heuristics consume (see
    * [[graft.functions.TextProfile]]). Queries that need several signals
    * should materialize this ONCE (`.withColumn("__p", profile(t))`) and
    * derive with the `*P` accessors rather than profiling once per
    * signal, which is wasteful x10 in a wide projection. */
  def profile(text: Column): Column =
    graft.functions.HashFunctions.textProfile(
      text, EnglishStopwords, LangStopwords.toSeq.sortBy(_._1))

  private def ratio(num: Column, den: Column): Column =
    num.cast("double") / greatest(den, lit(1)).cast("double")

  def tokenCountP(p: Column): Column = p.getField("n_tok")
  def meanTokenLengthP(p: Column): Column =
    ratio(p.getField("sum_tok_len"), p.getField("n_tok"))
  def punctRatioP(p: Column): Column = ratio(p.getField("n_punct"), p.getField("n_chars"))
  def digitRatioP(p: Column): Column = ratio(p.getField("n_digit"), p.getField("n_chars"))
  def upperRatioP(p: Column): Column = ratio(p.getField("n_upper"), p.getField("n_chars"))
  def stopwordRatioP(p: Column): Column = ratio(p.getField("n_stop"), p.getField("n_tok"))

  /** Composite document-quality score in [0,1] over a materialized
    * profile — heuristics in the spirit of C4/Gopher filtering rules:
    * enough tokens, sane word lengths, some stopwords, not dominated by
    * punctuation/digits/caps. */
  def qualityScoreP(p: Column): Column = {
    val nTok = tokenCountP(p)
    val mtl = meanTokenLengthP(p)
    val checks = Seq(
      (nTok >= 5) && (nTok <= 100000),
      (mtl >= 2.0) && (mtl <= 12.0),
      stopwordRatioP(p) >= 0.05,
      punctRatioP(p) <= 0.3,
      digitRatioP(p) <= 0.3,
      upperRatioP(p) <= 0.3)
    checks.map(c => when(c, 1.0).otherwise(0.0)).reduce(_ + _) / lit(checks.size.toDouble)
  }

  /** [[languageId]] over a materialized profile — same argmax/tie-break
    * structure, scores now plain arithmetic on the profiled counts. */
  def languageIdP(p: Column): Column = {
    val scored: Seq[Column] = LangStopwords.keys.toSeq.sorted.map { lang =>
      struct(ratio(p.getField(s"n_$lang"), p.getField("n_tok")).as("score"),
        lit(lang).as("lang"))
    }
    val zh = struct(ratio(p.getField("n_cjk"), p.getField("n_chars")).as("score"),
      lit("zh").as("lang"))
    val best = array_max(array(scored :+ zh: _*))
    when(best.getField("score") > 0.05, best.getField("lang")).otherwise(lit("und"))
  }

  /** A BPE-ish subword proxy: counts runs of letters/digits plus each
    * individual non-whitespace symbol — approximates tokenizer token
    * counts without a vocabulary. One alternation regex (the two classes
    * are disjoint, so leftmost-longest and leftmost-greedy semantics
    * agree — the same pattern is valid RE2 for the DuckDB oracle). */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit(s"[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}$WhitespaceClass]"))

  // --- quality signals ------------------------------------------------

  /** Public so the DuckDB oracle SQL can embed the identical list. */
  val EnglishStopwords = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "were", "it", "that", "this", "for", "on", "with", "as", "at", "by",
    "be", "he", "she", "they", "you", "we", "not", "but", "from")

  /** Adds the standard quality columns to a document DataFrame — ONE
    * profile pass shared by all of them (CollapseProject keeps a
    * multiply-referenced non-trivial alias materialized, so `__p` is
    * evaluated once per row). */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val p = col("__p")
    df.withColumn("__p", profile(t))
      .withColumn("n_chars_computed", p.getField("n_chars").cast("long"))
      .withColumn("n_tokens", tokenCountP(p).cast("long"))
      .withColumn("n_tokens_bpeish", bpeishTokenCount(t).cast("long"))
      .withColumn("mean_token_len", meanTokenLengthP(p))
      .withColumn("punct_ratio", punctRatioP(p))
      .withColumn("digit_ratio", digitRatioP(p))
      .withColumn("upper_ratio", upperRatioP(p))
      .withColumn("stopword_ratio", stopwordRatioP(p))
      .withColumn("quality_score", qualityScoreP(p))
      .drop("__p")
  }

  // --- repetition / boilerplate signals (Gopher/C4-style) -------------

  /** Non-empty lines of the document. */
  def docLines(text: Column): Column =
    filter(split(text, "\n"), l => length(l) > 0)

  /** One-pass line-frequency stats struct (n, n_distinct, max_count,
    * total_chars, dup_chars) over the non-empty lines — the compiled
    * [[graft.functions.ArrayFreqStats]] hash-map traversal. Queries that
    * need several line signals should materialize this ONCE
    * (`.withColumn("__lf", lineFreqStats(t))`) and derive with the `*S`
    * accessors, the same sharing pattern as [[profile]]. */
  def lineFreqStats(text: Column): Column =
    graft.functions.HashFunctions.arrayFreqStats(docLines(text))

  /** Fraction of non-empty lines that repeat an earlier line — the
    * classic boilerplate signal (nav bars, footers, chat logs) — over a
    * materialized line-stats struct. */
  def duplicateLineRatioS(stats: Column): Column =
    ratio(stats.getField("n") - stats.getField("n_distinct"), stats.getField("n"))

  /** Fraction of line characters sitting in repeat occurrences of a line
    * (the characters a line-level dedup would remove), over a
    * materialized line-stats struct. One compiled hash-map pass per row
    * ([[graft.functions.ArrayFreqStats]]) — the interpreted HOF
    * formulation (a nested `filter` per distinct line) was quadratic in
    * the line count and dominated x5 at sf1. Semantics pinned HOF-for-HOF
    * by the parity spec in HashExpressionsSpec. */
  def duplicateLineCharRatioS(stats: Column): Column =
    ratio(stats.getField("dup_chars"), stats.getField("total_chars"))

  /** Highest frequency share of any word `n`-gram (lowercased): 1.0 means
    * the document is one phrase repeated. Gopher gates on this for
    * n = 2..4. Frequency counting runs in the same compiled one-pass
    * [[graft.functions.ArrayFreqStats]] traversal (max_count / n). */
  def topNgramRatio(text: Column, n: Int = 2): Column = {
    val s = graft.functions.HashFunctions.arrayFreqStats(Dedup.shingles(text, n))
    ratio(s.getField("max_count"), s.getField("n"))
  }

  /** Fraction of lines that start like a bullet/list item. */
  def bulletLineRatio(text: Column): Column = {
    val ls = docLines(text)
    size(filter(ls, l => l.rlike("^[ \\t]*[-*•]"))).cast("double") /
      greatest(size(ls), lit(1)).cast("double")
  }

  /** Fraction of lines ending in an ellipsis (truncated snippets). */
  def ellipsisLineRatio(text: Column): Column = {
    val ls = docLines(text)
    size(filter(ls, l => l.rlike("(\\.\\.\\.|…)$"))).cast("double") /
      greatest(size(ls), lit(1)).cast("double")
  }

  // --- PII patterns ----------------------------------------------------

  /** Conservative PII regexes, spelled identically for Java regex and
    * RE2 (no backreferences, no lookaround, explicit whitespace class) so
    * the DuckDB oracle runs the same patterns verbatim. Counts are
    * computed on the raw text independently per pattern (a URL containing
    * an IP counts for both). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern = s"https?://[^$WhitespaceClass]+"
  val Ipv4Pattern = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  // separators deliberately exclude '.' so an IPv4 address (8 digits,
  // dotted) never doubles as a phone number
  val PhonePattern = "\\+?[0-9][0-9() -]{6,}[0-9]"

  /** URL host capture — group 1 of every URL match. The class excludes
    * '/', ':' (path/port boundary) and the shared explicit whitespace
    * class; valid as both Java regex and RE2 so the oracle runs it
    * verbatim. */
  val UrlHostPattern = s"https?://([^/:$WhitespaceClass]+)"

  /** Lowercased hosts of every URL occurrence in the text (with
    * multiplicity — domain mixing weights want occurrence counts). Pure
    * projection, no shuffle. */
  def urlHosts(text: Column): Column =
    transform(regexp_extract_all(text, lit(UrlHostPattern), lit(1)), h => lower(h))

  /** Canonicalize a URL for crawl dedup — the same page reached through
    * case-varied hosts, explicit default ports, tracking-only query
    * strings, fragments, or a bare trailing slash must map to ONE key.
    * Rules (each a pure regex/string step both engines replay verbatim):
    *   1. drop the #fragment
    *   2. lowercase the scheme://host[:port] prefix (paths stay
    *      case-sensitive per RFC 3986)
    *   3. drop an explicit default port (:80 / :443)
    *   4. drop a tracking-only query string (?utm_... to the end)
    *   5. drop a trailing slash (but keep a bare-host "/" collapse too:
    *      the rule runs after 4, so "host/" -> "host")
    * Non-URL input passes through the same steps harmlessly. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val prefix = regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val rest = noFrag.substr(length(prefix) + 1, length(noFrag))
    val lowPrefix = regexp_replace(lower(prefix), ":(80|443)$", "")
    val noUtm = regexp_replace(rest, "\\?utm_[^#]*$", "")
    concat(lowPrefix, regexp_replace(noUtm, "/$", ""))
  }

  /** Occurrences of blocklisted tokens in the text (C4-style "bad words"
    * filtering: documents with any hit are dropped or routed for
    * review). The list is a plan literal — broadcast by value into the
    * projection, so filtering a 100 TB corpus is one scan with zero
    * shuffle. Token-exact matching on the shared tokenizer (substring
    * matching would flag "scunthorpe"-class false positives). */
  def blocklistHits(text: Column, words: Seq[String]): Column = {
    require(words.nonEmpty, "empty blocklist")
    val lw = typedLit(words.map(_.toLowerCase).distinct)
    size(filter(tokens(lower(text)), t => array_contains(lw, t)))
  }

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailPattern))
  def urlCount(text: Column): Column = regexp_count(text, lit(UrlPattern))
  def ipv4Count(text: Column): Column = regexp_count(text, lit(Ipv4Pattern))
  def phoneCount(text: Column): Column = regexp_count(text, lit(PhonePattern))

  /** Replace PII spans with typed tags. Order matters and is fixed:
    * emails first (their local parts contain digits a phone pattern could
    * claim), then URLs (which may embed IPs), then bare IPs, then
    * phone-like digit runs. */
  def redactPii(text: Column): Column = {
    val steps = Seq(EmailPattern -> "<EMAIL>", UrlPattern -> "<URL>",
      Ipv4Pattern -> "<IP>", PhonePattern -> "<PHONE>")
    steps.foldLeft(text) { case (t, (p, tag)) => regexp_replace(t, p, tag) }
  }

  // --- language identification ---------------------------------------

  /** Per-language discriminative function-word sets (public linguistic
    * knowledge). CJK languages are detected by script instead. Public so
    * the DuckDB oracle SQL can embed the identical lists. */
  val LangStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was",
      "for", "are", "with", "you", "this", "not", "have", "from"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
      "zu", "den", "mit", "auf", "für", "sich", "des", "im", "ich"),
    "es" -> Seq("el", "la", "los", "las", "que", "y", "en", "un", "una",
      "es", "por", "con", "para", "del", "se", "su", "al", "lo"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "pour",
      "que", "dans", "qui", "pas", "au", "ce", "il", "je", "vous"),
    "it" -> Seq("il", "la", "di", "che", "e", "un", "una", "per", "non",
      "sono", "con", "del", "gli", "si", "nel", "alla"))

  /** N-gram/function-word language-ID heuristic: score(lang) = fraction
    * of tokens that are that language's function words; CJK script ratio
    * scores "zh". Returns the argmax language code or "und" when no
    * signal. Ties break deterministically (higher score, then language
    * code). Counting happens in the one-pass [[profile]]; the argmax is
    * plain column arithmetic. */
  def languageId(text: Column): Column = languageIdP(profile(text))

  // --- tf-idf ---------------------------------------------------------

  /** Top-`k` TF-IDF terms per document: tf = term count in the doc,
    * idf = ln(N / df). Three stages — explode+count (tf), term-level
    * count (df, vocabulary-sized so its join back is broadcastable),
    * per-doc top-k via WindowGroupLimit — each a plain shuffle on its
    * natural key. The corpus size N rides INSIDE the plan as a broadcast
    * 1-row count subquery (a column-pruned scan), so the whole operator
    * is one lazy job — no separate driver-side `count()` action. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    val nDf = docs.agg(count(lit(1)).cast("double").as("__n"))
    val tf = docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), Seq("term")).crossJoin(broadcast(nDf))
      .withColumn("score", col("tf") * log(col("__n") / col("df")))
    // per-doc top-k via the bounded-buffer aggregator (score desc, term
    // asc — the same order the row_number window formulation used): the
    // shuffle carries <= k terms per (task, doc) instead of every scored
    // term, and no per-doc sort ever runs
    val tk = udaf(new graft.functions.TopKTerms(k),
      org.apache.spark.sql.Encoders.product[graft.functions.ScoredTerm])
    scored.groupBy(idCol).agg(tk(col("score"), col("term")).as("__top"))
      .select(col(idCol), explode(col("__top")).as("__t"))
      .select(col(idCol), col("__t.term").as("term"), col("__t.score").as("score"))
  }

  // --- n-gram language-model scoring (CCNet-style quality filter) -----

  /** Bigram language-model document scoring — the CCNet/KenLM-style
    * quality signal: train an add-α-smoothed bigram LM on the corpus and
    * score every document by its mean log-probability under that model
    * (and the equivalent pseudo-perplexity `exp(-avg_logp)`). Documents
    * full of common word transitions score high; boilerplate soup and
    * lorem-garbage score low. Training on the corpus being scored is the
    * deterministic, dependency-free choice (a production pipeline may
    * swap in counts trained on a held-out reference corpus via the same
    * two count relations).
    *
    * Scale shape: positional bigrams ride ONE `zip_with` projection per
    * doc (no per-position substring, with multiplicity — `shingles` is
    * distinct-set semantics and would undercount repeats); the model is
    * two map-side-combinable aggregations (bigram counts, then context
    * counts derived as a window-sum OVER the vocabulary-sized count
    * table — never a second corpus pass); the vocabulary size rides
    * in-plan as a broadcast 1-row aggregate (the x4 corpus-count
    * pattern, no driver action); scoring is one shuffle join on the
    * bigram key. Every occurrence joins to an observed bigram by
    * construction (self-trained), so no missing-key branch exists.
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
              alpha: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withTk = docs.select(col(idCol), tokens(lower(col(textCol))).as("__tk"))
      .filter(size(col("__tk")) >= 2)
    val pairs = withTk.select(col(idCol),
        explode(zip_with(
          slice(col("__tk"), lit(1), size(col("__tk")) - 1),
          slice(col("__tk"), lit(2), size(col("__tk")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val bigramCounts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("__c2"))
    // context count c(w1) = occurrences of w1 in non-final position =
    // sum of its bigram counts; the window runs over vocabulary-sized
    // count rows (bounded per context word by the successor-type count),
    // not corpus rows
    val model = bigramCounts.withColumn("__c1",
      sum("__c2").over(Window.partitionBy("w1")))
    val vocab = broadcast(bigramCounts.agg(
      count_distinct(col("w2")).cast("double").as("__v")))
    pairs.join(model, Seq("w1", "w2")).crossJoin(vocab)
      .withColumn("__lp",
        log((col("__c2") + lit(alpha)) / (col("__c1") + lit(alpha) * col("__v"))))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), avg("__lp").as("avg_logp"))
      .withColumn("ppl", exp(-col("avg_logp")))
  }

  // --- DSIR-style importance weights ----------------------------------

  /** Replayable hashed-gram bucket for a NORMALIZED ([a-z0-9]+) token:
    * a positional weighted character sum, `Σ code(c_i) · w_i mod P mod
    * buckets` with `w_i = (i+1) · 2654435761 mod P` (Knuth's
    * multiplicative constant spreads positions over the prime
    * P = 1048573) — exact integer arithmetic end to end, so an external
    * engine re-derives every bucket assignment (the lmScore/p9
    * discipline: auditability beats xxhash's mixing here; max
    * intermediate `code·w < 2^27`, token sums < 2^41). */
  def hashedGramBucket(tok: Column, buckets: Int): Column = {
    val p = 1048573L
    val codes = transform(split(tok, ""), c => ascii(c).cast("long"))
    val weighted = transform(codes, (c, i) =>
      c * pmod((i.cast("long") + lit(1L)) * lit(2654435761L), lit(p)))
    pmod(pmod(aggregate(weighted, lit(0L), (a, x) => a + x), lit(p)), lit(buckets.toLong))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by `log w(x) = Σ_g [log p_target(bucket(g)) −
    * log p_source(bucket(g))]` over its hashed unigram occurrences,
    * where both bucket models are add-α-smoothed count profiles —
    * target = rows satisfying `targetCond`, source = the whole corpus.
    * High-weight documents look like the target distribution; a Gumbel
    * top-k draw over the weights completes the DSIR select step.
    *
    * Scale shape: tokens normalize to [a-z0-9] and bucket via the
    * replayable [[hashedGramBucket]] in one projection; the two count
    * profiles are ONE map-side-combinable aggregate over the exploded
    * occurrences (`buckets` output rows — aggregate-sized, broadcast
    * back with the 1-row totals, the x4 corpus-count pattern); scoring
    * is a broadcast join + per-doc aggregate. Two corpus scans (model +
    * score), zero corpus shuffles beyond the per-doc aggregate — the
    * lmScore shape. Documents with no surviving normalized token are
    * absent from the output (they have no grams to weigh).
    *
    * Output: (idCol, n_grams, logw_sum, logw_avg) — `logw_sum` is the
    * DSIR weight; `logw_avg` the length-stabilized variant. */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
                        targetCond: Column, buckets: Int = 4096,
                        alpha: Double = 0.5): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val norm = docs.select(col(idCol), targetCond.as("__is_t"),
        filter(
          transform(tokens(lower(col(textCol))), t => regexp_replace(t, "[^a-z0-9]", "")),
          t => length(t) > 0).as("__nt"))
    val pairs = norm.select(col(idCol), col("__is_t"),
      explode(transform(col("__nt"), t => hashedGramBucket(t, buckets))).as("__b"))
    val counts = pairs.groupBy("__b").agg(
      sum(when(col("__is_t"), 1L).otherwise(0L)).as("__tc"),
      count(lit(1)).as("__sc"))
    val tot = broadcast(counts.agg(
      sum("__tc").as("__T"), sum("__sc").as("__S")))
    val llr = broadcast(counts.crossJoin(tot).select(col("__b"),
      (log((col("__tc") + lit(alpha)) / (col("__T") + lit(alpha * buckets))) -
        log((col("__sc") + lit(alpha)) / (col("__S") + lit(alpha * buckets)))).as("__llr")))
    pairs.join(llr, Seq("__b"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum("__llr").as("logw_sum"), avg("__llr").as("logw_avg"))
  }

  /** Hashing-trick featurizer (Weinberger et al.'s feature hashing —
    * the fixed-width sparse vectorizer that needs NO vocabulary pass):
    * each normalized token lands in bucket `hashedGramBucket(t)` with a
    * sign drawn from an independent bit of the same positional char
    * hash, and per-(doc, bucket) signed counts form the sparse vector —
    * the unbiased-estimator variant (signs make collision noise
    * zero-mean). Everything is exact integer arithmetic, so the x25
    * oracle re-derives every bucket, sign, and weight (the DSIR
    * discipline — vocabulary-free TF vectors an external engine can
    * audit).
    *
    * Scale shape: one projection + explode + ONE map-side-combinable
    * groupBy(doc, bucket) — no vocabulary state, no joins, nothing
    * keyed wider than the doc. Output (sparse rows):
    * (id, bucket, weight, n_terms). */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
                  buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val p = 1048573L
    val norm = df.select(col(idCol),
      filter(
        transform(tokens(lower(col(textCol))), t => regexp_replace(t, "[^a-z0-9]", "")),
        t => length(t) > 0).as("__nt"))
    val keyed = norm.select(col(idCol), explode(col("__nt")).as("__t"))
      .withColumn("__k", {
        val codes = transform(split(col("__t"), ""), c => ascii(c).cast("long"))
        val weighted = transform(codes, (c, i) =>
          c * pmod((i.cast("long") + lit(1L)) * lit(2654435761L), lit(p)))
        pmod(aggregate(weighted, lit(0L), (a, x) => a + x), lit(p))
      })
      // bucket from the key's residue; sign from an INDEPENDENT bit —
      // the Knuth-multiplied product's bit 12, NOT its low bit (an odd
      // multiplier preserves the low bit, which even bucket counts pin
      // per bucket; a mid bit mixes all key bits, so colliding tokens
      // within a bucket can carry opposite signs and cancel — the
      // Weinberger zero-mean collision property)
      .withColumn("__b", pmod(col("__k"), lit(buckets.toLong)))
      .withColumn("__s", lit(1L) - lit(2L) *
        pmod(shiftright(col("__k") * lit(2654435761L), 12), lit(2L)))
    keyed.groupBy(col(idCol), col("__b").as("bucket"))
      .agg(sum(col("__s")).as("weight"), count(lit(1)).as("n_terms"))
  }

  // --- fingerprinting -------------------------------------------------

  /** Character k-gram rolling-hash fingerprint (winnowing-style): hash
    * every k-char window, keep the minimum `keep` distinct hashes as the
    * document fingerprint. Near-identical documents share most of the
    * sketch. Runs as the compiled [[graft.functions.CharShingleFingerprint]]
    * scan over the UTF-8 bytes — bit-identical to the HOF formulation
    * `slice(array_sort(array_distinct(transform(sequence(...), i ->
    * xxhash64(substr(text, i, k))))), 1, keep)` (pinned by the parity
    * spec), which allocated an interpreted lambda + substring per window
    * and dominated d4 at sf1. O(len) per row, no shuffle. */
  def fingerprint(text: Column, k: Int = 8, keep: Int = 16): Column =
    graft.functions.HashFunctions.charShingleFingerprint(text, k, keep)

  /** Single 64-bit content fingerprint (exact-dup detection at scale:
    * 8-byte shuffle key instead of the full text). */
  def contentHash(text: Column): Column = xxhash64(text)

  /** Zipf's-law fit over a (token, count) census: OLS of ln(count) on
    * ln(rank) for the top `topN` tokens ranked by (count desc, token) —
    * the corpus-health diagnostic (natural language sits near slope −1;
    * a much flatter or steeper fit flags boilerplate or templating).
    *
    * Scale shape: the input is already the vocabulary census (one
    * map-side-combined aggregate upstream), so the rank window orders
    * vocab rows, not corpus rows — the [[graft.ops.Quantiles]] census
    * discipline; closed-form OLS needs one aggregate over the ≤ topN
    * ranked rows, no iteration. Returns one row: (n_tokens, slope,
    * intercept, r2). */
  def zipfFit(census: DataFrame, tokenCol: String, cntCol: String,
              topN: Int): DataFrame = {
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col(cntCol).desc, col(tokenCol))
    val xy = census
      .withColumn("__rank", row_number().over(win))
      .filter(col("__rank") <= topN)
      .select(log(col("__rank").cast("double")).as("__x"),
        log(col(cntCol).cast("double")).as("__y"))
    xy.agg(count(lit(1)).as("n_tokens"),
        sum("__x").as("__sx"), sum("__y").as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__x") * col("__y")).as("__sxy"))
      .select(col("n_tokens"),
        {
          val n = col("n_tokens").cast("double")
          val cov = n * col("__sxy") - col("__sx") * col("__sy")
          val vx = n * col("__sxx") - col("__sx") * col("__sx")
          val vy = n * col("__syy") - col("__sy") * col("__sy")
          struct(
            when(vx > 0, cov / vx).as("slope"),
            when(vx > 0, (col("__sy") - cov / vx * col("__sx")) / n).as("intercept"),
            when(vx > 0 && vy > 0, cov * cov / (vx * vy)).as("r2")).as("__f")
        })
      .select(col("n_tokens"), col("__f.slope").as("slope"),
        col("__f.intercept").as("intercept"), col("__f.r2").as("r2"))
  }

  /** Corpus n-gram novelty — per `groupCol` slice of `cur`, the share
    * of its DISTINCT word n-grams never seen anywhere in `ref`: the
    * memorization/freshness screen for an incoming crawl snapshot (a
    * slice near 0 is re-crawled or templated content; near 1 is
    * genuinely new text), and the aggregate-level complement to
    * [[graft.ops.Dedup]]'s per-document decontamination match.
    *
    * Scale shape: both sides reduce to DISTINCT-shingle censuses
    * (map-side-combined — the shuffle carries vocabulary-scale grams,
    * never rows), the novelty probe is ONE left-anti-shaped join keyed
    * on the gram, and the per-group report aggregates census rows.
    * Shingling runs the [[graft.ops.Dedup.shingles]] codegen'd
    * expression. Returns (group, n_grams, n_novel, novelty_rate). */
  def ngramNovelty(cur: DataFrame, ref: DataFrame, groupCol: String,
                   textCol: String, n: Int = 3): DataFrame = {
    def grams(df: DataFrame, extra: Seq[Column]) = df
      .filter(col(textCol).isNotNull &&
        size(tokens(lower(col(textCol)))) > 0)
      .select(extra :+
        explode(graft.ops.Dedup.shingles(col(textCol), n)).as("__gram"): _*)
    val curCensus = grams(cur, Seq(col(groupCol).as("__g"))).distinct()
    val refCensus = grams(ref, Nil).distinct()
      .select(col("__gram"), lit(1L).as("__seen"))
    curCensus.join(refCensus, Seq("__gram"), "left")
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("__g").as(groupCol), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams")).as("novelty_rate"))
  }
}
