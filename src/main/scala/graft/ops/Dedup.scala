package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design notes (100 TB posture):
  *   - Exact dedup shuffles an 8-byte xxhash64 key, never the full text.
  *   - MinHash-LSH finds near-dup CANDIDATES with a band-bucket
  *     shuffle-join (O(n) with small constants), then verifies exact
  *     Jaccard only within buckets — no O(n^2) pair enumeration.
  *   - SimHash packs a document into one 64-bit long; near-dup test is a
  *     cheap `bit_count(a XOR b) <= t` inside bucket joins.
  *   - All signatures are computed as pure codegen'd column expressions
  *     (HOFs over token arrays); no UDFs, no driver collects.
  */
object Dedup {

  /** Pairs every row with the row whose id is exactly `id + 1`, carrying
    * all other columns as `<col>_a` / `<col>_b` — the standard shape for
    * comparing consecutive documents (adjacent-revision diffing,
    * crawl-order near-dup scans).
    *
    * Scale design: a plain self-join on `id_b = id_a + 1` shuffles and
    * sorts the (often array-heavy) payload TWICE — once per join side. A
    * path of consecutive ids is almost entirely block-local, so instead
    * each row is windowed inside its id-block (`id div blockSize`) with
    * `lead(1)` — ONE shuffle of the payload — and only the two rows
    * touching each block edge (2/blockSize of the corpus) take the join
    * path to stitch cross-block pairs. Ids may be sparse: only pairs
    * whose successor id actually exists are emitted, exactly like the
    * equi-join. Ids must be UNIQUE (a duplicated id would pair once
    * here but fan out in an equi-join) and non-negative (`div` truncates
    * toward zero while `pmod` wraps, so a negative id lands in block 0
    * AND matches the edge filter — double emission). Both contract
    * halves are ENFORCED in-plan: every row passes the in-block window,
    * where a duplicated id surfaces as `lead(id) = id` (equal ids are
    * sort-adjacent within their block) and a negative id is checked
    * directly; either raises an error instead of silently emitting wrong
    * pairs. Cost: one codegen'd predicate per row.
    * Measured at 10x bench scale: 5.3 s -> 3.0 s on the three-size
    * Jaccard query vs the self-join formulation.
    */
  def adjacentPairs(df: DataFrame, idCol: String, blockSize: Long = 4096L): DataFrame = {
    require(blockSize >= 2, s"blockSize must be >= 2, got $blockSize")
    val payload = df.columns.filterNot(_ == idCol).toSeq
    val id = col(idCol)
    val aCols = payload.map(c => col(c).as(s"${c}_a"))
    val idA = s"${idCol}_a"
    val idB = s"${idCol}_b"
    val w = Window.partitionBy("__blk").orderBy(idCol)
    val inBlock = df.withColumn("__blk", expr(s"`$idCol` div ${blockSize}L"))
      .select(id.as(idA) +: lead(id, 1).over(w).as(idB) +:
        (aCols ++ payload.map(c => lead(col(c), 1).over(w).as(s"${c}_b"))): _*)
      // id-contract guard (assert_true is null on success, throws on
      // violation); evaluated before the pair filter can discard the
      // offending row — CombineFilters keeps this predicate first.
      .filter(assert_true(
        col(idA) >= 0 && (col(idB).isNull || col(idB) =!= col(idA)),
        lit(s"adjacentPairs: `$idCol` must be unique and non-negative")).isNull)
      .filter(col(idB) === col(idA) + 1)
    // block-edge rows: last id of a block pairs with first id of the next.
    // The pmod filters reference only the id column, so Catalyst pushes
    // them below any expensive upstream projection — the edge branches
    // re-derive payload for just ~2/blockSize of the rows.
    val edgeA = df.filter(pmod(id, lit(blockSize)) === blockSize - 1)
      .select(id.as(idA) +: aCols: _*)
    val edgeB = df.filter(pmod(id, lit(blockSize)) === 0)
      .select(id.as(idB) +: payload.map(c => col(c).as(s"${c}_b")): _*)
    inBlock.unionByName(
      edgeA.join(edgeB, col(idB) === col(idA) + 1)
        .select(inBlock.columns.map(col).toSeq: _*))
  }

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo 1995, the
    * classic record-linkage blocking): within each block, rows are
    * sorted by `sortKey` and every row is paired with its next
    * `window - 1` successors — candidates are the pairs a fuzzy matcher
    * then scores, and a sort key chosen so near-duplicates sort close
    * (length, normalized prefix, phonetic code) finds them without any
    * all-pairs step.
    *
    * Scale shape: ONE window pass — a single hash exchange on the block
    * key and a per-block sort (the scd2 co-residency contract); all
    * `window - 1` lead offsets for the id AND every carried column
    * evaluate inside ONE Window operator, and the posexplode emits at
    * most `window - 1` candidates per row, so output is O(n·window),
    * never O(n²). Blocks bound the sort width at scale; rows that
    * straddle a block boundary are NOT paired (the method's standard
    * trade — pick blocks coarse enough that true dups share one).
    *
    * @param carryCols columns duplicated onto each pair as `<c>_a` /
    *        `<c>_b` (e.g. a shingle-hash set for the scoring step) so
    *        the caller needs no join back
    * @return `id_a`, `id_b` (+ carried pairs), `id_a` strictly before
    *         `id_b` in (block, sortKey, id) order */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, blockCol: Column,
                              sortKey: Column, window: Int = 3,
                              carryCols: Seq[String] = Nil): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val w = Window.partitionBy("__blk").orderBy(col("__sort"), col(idCol))
    val neighbors = array((1 until window).map { j =>
      struct(lead(col(idCol), j).over(w).as("id") +:
        carryCols.map(c => lead(col(c), j).over(w).as(c)): _*)
    }: _*)
    df.select(col(idCol) +: blockCol.as("__blk") +: sortKey.as("__sort") +:
        carryCols.map(col): _*)
      .withColumn("__nb", neighbors)
      .select(col(idCol).as("id_a") +: explode(col("__nb")).as("__b") +:
        carryCols.map(c => col(c).as(s"${c}_a")): _*)
      .filter(col("__b.id").isNotNull)
      .select(col("id_a") +: col("__b.id").as("id_b") +:
        carryCols.flatMap(c =>
          Seq(col(s"${c}_a"), col(s"__b.$c").as(s"${c}_b"))): _*)
  }

  /** Fellegi–Sunter match scoring (Fellegi & Sunter 1969 — the
    * probabilistic record-linkage standard): each candidate pair gets a
    * log-likelihood-ratio score Σ_f w_f, where an AGREEING field f
    * contributes log₂(m_f/u_f) and a disagreeing one
    * log₂((1−m_f)/(1−u_f)); m_f ("agreement probability among true
    * matches") is the caller's parameter, and u_f ("agreement among
    * random pairs") is ESTIMATED from the corpus value frequencies —
    * u_f = Σ_v c_v(c_v−1) / (n_f(n_f−1)), the exact probability two
    * distinct random records share a value. A rare surname agreeing is
    * strong evidence (tiny u → large weight); a common gender field
    * agreeing is weak — the weighting a plain "count matching fields"
    * score gets wrong.
    *
    * `pairs` is any candidate generator output carrying `<f>_a`/`<f>_b`
    * for every field (the [[sortedNeighborhoodPairs]] carryCols
    * contract). A field null on EITHER side contributes 0 (absence is
    * no evidence either way) and a null agreement indicator.
    *
    * Scale shape: ONE melt census over the base table (stack → one
    * map-side-combined (field, value) aggregate — |fields| u-estimates
    * from a single scan), u's collected as |fields| driver scalars
    * (the D1 contract) and folded into the score expression as
    * literals; scoring itself is a zero-shuffle projection over the
    * blocked candidate pairs. Counts stay exact (decimal products)
    * until the one u division. Values compare via their STRING cast on
    * both the census and the agreement side, so numeric and string
    * fields share one code path. Appends `agree_<f>` (1/0/null) and
    * `score` to `pairs`. */
  def fellegiSunterScores(base: DataFrame, pairs: DataFrame,
                          fields: Seq[(String, Double)]): DataFrame = {
    require(fields.nonEmpty, "fellegiSunterScores needs at least one field")
    fields.foreach { case (f, mP) =>
      require(mP > 0 && mP < 1, s"m probability for $f must be in (0,1), got $mP")
      // the melt below interpolates f into a stack() SQL string — a
      // quote or backtick would break (or escape) the parse, so reject
      // such names up front rather than hand the parser a mangled expr
      require(!f.contains("`") && !f.contains("'"),
        s"field name '$f' contains a quote/backtick — not representable in the melt expression")
    }
    val stackExpr = s"stack(${fields.size}, " +
      fields.map { case (f, _) => s"'$f', cast(`$f` as string)" }.mkString(", ") +
      ") as (__f, __v)"
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val uRows = base.select(expr(stackExpr))
      .filter(col("__v").isNotNull)
      .groupBy("__f", "__v").agg(count(lit(1)).as("__c"))
      .groupBy("__f")
      .agg(sum(dec(col("__c")) * dec(col("__c") - 1L)).as("__pairs"),
        sum(col("__c")).as("__n"))
      .select(col("__f"),
        (col("__pairs").cast("double") /
          (col("__n").cast("double") * (col("__n").cast("double") - 1.0)))
          .as("__u"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val weighted = fields.map { case (f, mP) =>
      val u = uRows.getOrElse(f, 0.0)
      require(u > 0 && u < 1,
        s"u estimate for $f is degenerate ($u): all-distinct or constant field")
      val agree = col(s"${f}_a").cast("string") === col(s"${f}_b").cast("string")
      val bothPresent = col(s"${f}_a").isNotNull && col(s"${f}_b").isNotNull
      val wf = when(bothPresent && agree, lit(math.log(mP / u) / math.log(2.0)))
        .when(bothPresent, lit(math.log((1.0 - mP) / (1.0 - u)) / math.log(2.0)))
        .otherwise(lit(0.0))
      val indicator = when(bothPresent, when(agree, 1).otherwise(0))
      (f, wf, indicator)
    }
    val withAgree = weighted.foldLeft(pairs) { case (d, (f, _, ind)) =>
      d.withColumn(s"agree_$f", ind) }
    withAgree.withColumn("score",
      weighted.map(_._2).reduce(_ + _))
  }

  /** Edit-distance fuzzy join (record linkage): every (probe, corpus)
    * pair with `levenshtein(probeStr, corpusStr) <= maxDist`, EXACTLY —
    * the blocking below is a sound candidate filter (no false
    * negatives), so the output equals the brute-force cross join's,
    * which is what the paired oracle replays.
    *
    * Plan, outside in:
    *
    *  1. NORMALIZE THEN LINK: both sides first dedup to DISTINCT
    *     strings — matching cost scales with the distinct-name space,
    *     not the row count (a master corpus carries each name many
    *     times; matching the same pair of strings once per id pair
    *     measured 448 s at the 100x bench scale, ~3 s normalized). The
    *     id pairs come back at the end via two plain equi-joins on the
    *     matched strings.
    *  2. PassJoin segment blocking (Li, Deng, Feng 2011 — pigeonhole
    *     over edit operations): split every probe string into d+1
    *     contiguous segments; if lev(a, b) <= d, some segment of `a` is
    *     untouched by any edit and occurs EXACTLY in `b`. The corpus
    *     side emits the substrings that could be such a segment, with
    *     TIGHT shift windows: a segment occurrence shifted by `s` needs
    *     |s| edits before it and |s + δ| after (δ = length difference),
    *     so only shifts with |s| + |s + δ| <= d are feasible — and
    *     segment 0 only shifts by s >= 0 (only insertions precede it),
    *     the last only by s <= −δ (only insertions follow it). At most
    *     22 keys per corpus string at d = 2, one row each.
    *  3. The join key is ONE xxhash64 long over (length, segment index,
    *     segment text) — a hash collision can only create a false
    *     CANDIDATE, which the final levenshtein filter kills, so
    *     soundness is untouched and no segment string ever shuffles.
    *
    * Scale shape: the probe side is the SMALL relation by contract (the
    * incoming batch matched against a master — the d8 decontamination
    * shape); with `broadcastProbe` its distinct-name segment inventory
    * broadcasts, so the corpus never shuffles for candidate generation.
    * The id-expansion joins hash on the matched string — the only
    * corpus exchange, carrying matched rows only. Strings of length
    * <= maxDist carry no segments; they take a broadcast cross of the
    * two near-empty short-string sides (still levenshtein-filtered).
    *
    * @return (`probeId`, `corpusId`, `dist`), dist = exact levenshtein */
  def fuzzyJoinLevenshtein(probe: DataFrame, corpus: DataFrame,
                           probeId: String, probeStr: String,
                           corpusId: String, corpusStr: String,
                           maxDist: Int = 2,
                           broadcastProbe: Boolean = true): DataFrame = {
    val matched = fuzzyNameMatches(probe, corpus, probeStr, corpusStr,
      maxDist, broadcastProbe)
    // expand matched DISTINCT strings back to id pairs
    matched
      .join(probe.select(col(probeId).as("__pid"), col(probeStr).as("__pstr")),
        Seq("__pstr"))
      .join(corpus.select(col(corpusId).as("__cid"), col(corpusStr).as("__cstr")),
        Seq("__cstr"))
      .select(col("__pid").as(probeId), col("__cid").as(corpusId), col("dist"))
  }

  /** Per-probe linkage SUMMARY — the entity-resolution deliverable: for
    * every probe row, how many corpus rows match within `maxDist` and
    * which single corpus row is the BEST match (smallest distance, ties
    * by smallest corpus id — deterministic). Null match columns mean the
    * probe linked to nothing.
    *
    * Unlike [[fuzzyJoinLevenshtein]] this NEVER materializes the id pair
    * set: the match count and the best (dist, id) are aggregated at the
    * DISTINCT-NAME level (corpus name stats are one map-side-combinable
    * aggregate) and only then expanded to probe rows — output is one row
    * per probe row at any scale, where a duplicate-heavy master would
    * make the dense pair set quadratic-sized (64 distinct names over 2M
    * rows measured a 637M-row pair output; this shape returns 10k rows
    * from the same inputs).
    *
    * @return (`probeId`, `n_matches`, `best_dist`, `best_id`) */
  def fuzzyJoinBest(probe: DataFrame, corpus: DataFrame,
                    probeId: String, probeStr: String,
                    corpusId: String, corpusStr: String,
                    maxDist: Int = 2,
                    broadcastProbe: Boolean = true): DataFrame = {
    val matched = fuzzyNameMatches(probe, corpus, probeStr, corpusStr,
      maxDist, broadcastProbe)
    val cStats = corpus.filter(col(corpusStr).isNotNull)
      .groupBy(col(corpusStr).as("__cstr"))
      .agg(count(lit(1)).as("__cn_rows"), min(col(corpusId)).as("__cn_min_id"))
    val perName = matched.join(cStats, Seq("__cstr"))
      .groupBy("__pstr")
      .agg(sum(col("__cn_rows")).as("n_matches"),
        min(struct(col("dist"), col("__cn_min_id").as("id"))).as("__best"))
    probe.select(col(probeId).as("__pid"), col(probeStr).as("__pstr"))
      .join(perName, Seq("__pstr"), "left")
      .select(col("__pid").as(probeId), col("n_matches"),
        col("__best.dist").as("best_dist"), col("__best.id").as("best_id"))
  }

  /** Shared PassJoin core of the fuzzy joins: all DISTINCT string pairs
    * within `maxDist`, as (`__pstr`, `__cstr`, `dist`). */
  private def fuzzyNameMatches(probe: DataFrame, corpus: DataFrame,
                               probeStr: String, corpusStr: String,
                               maxDist: Int,
                               broadcastProbe: Boolean): DataFrame = {
    require(maxDist >= 1 && maxDist <= 4,
      s"maxDist must be in [1, 4] (key fanout grows with d^2), got $maxDist")
    val d = maxDist
    val nSeg = d + 1
    val pNames = probe.filter(col(probeStr).isNotNull)
      .select(col(probeStr).as("__pstr")).distinct()
    val cNames = corpus.filter(col(corpusStr).isNotNull)
      .select(col(corpusStr).as("__cstr")).distinct()
    // even segment layout of a length-L string: first (L mod nSeg)
    // segments are one char longer; start_i = i*q + min(i, r), 0-based
    def segLen(lCol: Column, i: Column): Column =
      floor(lCol / nSeg).cast("int") + when(i < pmod(lCol, lit(nSeg)), 1).otherwise(0)
    def segStart(lCol: Column, i: Column): Column =
      i * floor(lCol / nSeg).cast("int") + least(i, pmod(lCol, lit(nSeg)))
    def key(lCol: Column, i: Column, seg: Column): Column =
      xxhash64(lCol, i, seg)

    val pL = length(col("__pstr"))
    val probeSegs = pNames
      .filter(pL > d)
      .select(col("__pstr"), explode(array((0 to d).map { i =>
        key(pL, lit(i), col("__pstr").substr(segStart(pL, lit(i)) + 1, segLen(pL, lit(i))))
      }: _*)).as("__k"))
    // the feasible (length difference, segment, shift) triples, one
    // literal row each: tight PassJoin windows need >= |shift| edits
    // before the segment and >= |shift + delta| after, so |off| +
    // |off + delta| <= d. Segment 0 has an EMPTY prefix — only insertions
    // can precede it, so its shift is non-negative; symmetrically the
    // last segment's suffix admits only insertions, so shift <= -delta
    val shifts = for {
      delta <- -d to d
      i <- 0 to d
      off <- -d to d
      if math.abs(off) + math.abs(off + delta) <= d
      if i != 0 || off >= 0
      if i != d || off <= -delta
    } yield (delta, i, off)
    // ONE key expression evaluated per (corpus string, triple) row —
    // unrolling a key per triple into one projection outgrows Janino's
    // 64 KB method limit and drops the stage out of codegen. A key
    // repeated within one string (periodic text) only repeats candidate
    // pairs, which the candidate distinct below collapses.
    val cM = length(col("__cstr"))
    val lCol = cM + col("__s._1")
    val iCol = col("__s._2")
    val p = segStart(lCol, iCol) + col("__s._3")
    val len = segLen(lCol, iCol)
    val corpusSegs = cNames
      .select(col("__cstr"), explode(typedLit(shifts)).as("__s"))
      .select(col("__cstr"), when(lCol > d && p >= 0 && p + len <= cM,
        key(lCol, iCol, col("__cstr").substr(p + 1, len))).as("__k"))
      .filter(col("__k").isNotNull)
    val pSide = if (broadcastProbe) broadcast(probeSegs) else probeSegs
    val segCandidates = corpusSegs.join(pSide, Seq("__k"))
      .select(col("__pstr"), col("__cstr"))
    // degenerate strings (<= d chars, no segments): both sides tiny
    val pShort = pNames.filter(length(col("__pstr")) <= d)
    val cShort = cNames.filter(length(col("__cstr")) <= 2 * d)
    val shortCandidates = cShort.crossJoin(broadcast(pShort))
      .select(col("__pstr"), col("__cstr"))
    segCandidates.unionByName(shortCandidates)
      .distinct()
      .filter(levenshtein(col("__pstr"), col("__cstr")) <= d)
      .select(col("__pstr"), col("__cstr"),
        levenshtein(col("__pstr"), col("__cstr")).cast("long").as("dist"))
  }

  /** Jaro-Winkler near-name pairs over the DISTINCT values of `nameCol`
    * — the prefix-biased fuzzy-linkage complement to the exact-edit
    * PassJoin ([[fuzzyJoinBest]]): JW tolerates length-proportional noise
    * and rewards shared prefixes, which catches "cold widget" ~
    * "old widget" classes a fixed edit budget prices the same as
    * unrelated strings.
    *
    * Scale shape follows the d18 lesson: everything runs at the
    * DISTINCT-name level (corpus multiplicity rides along as `n_a` /
    * `n_b` counts), never the id-pair level. Candidates come from a
    * LENGTH-BANDED equi-join that is provably lossless: jw ≥ t forces
    * jaro ≥ (t − 0.4)/0.6 (the boost adds at most 0.4·(1 − j)), and
    * jaro ≥ j forces min(l1,l2)/max(l1,l2) ≥ 3j − 2, so each name only
    * joins the length buckets inside that ratio — an equi-join on the
    * partner length, no cartesian node. The band only BITES for
    * t ≳ 0.85 (below that the admissible ratio hits 0 and the candidate
    * set is all distinct pairs — threshold-based JW discovery is
    * genuinely quadratic in NDV without heuristic blocking; compose
    * with [[sortedNeighborhoodPairs]] when NDV is unbounded).
    *
    * Returns (name_a, name_b, n_a, n_b, jw) for name_a < name_b and
    * jw ≥ threshold. `threshold` must exceed 0.7 (the boost knee —
    * below it JW ranking degenerates to Jaro and the band is void). */
  def jaroWinklerPairs(df: DataFrame, nameCol: String,
                       threshold: Double): DataFrame = {
    require(threshold > 0.7 && threshold <= 1.0,
      s"threshold must be in (0.7, 1.0], got $threshold")
    val names = df
      .select(col(nameCol).cast("string").as("name"))
      .filter(col("name").isNotNull && length(col("name")) > 0)
      .groupBy("name").agg(count(lit(1)).as("n"))
    // max length bounds the explode; aggregate-sized driver value.
    // The aggregate cell is NULL when no non-null non-empty name
    // survives the filter — return the empty result frame instead of
    // letting getInt throw.
    val maxLenRow = names.agg(max(length(col("name")))).head()
    if (maxLenRow.isNullAt(0)) {
      val spark = df.sparkSession
      import spark.implicits._
      return Seq.empty[(String, String, Long, Long, Double)]
        .toDF("name_a", "name_b", "n_a", "n_b", "jw")
    }
    val maxLen = maxLenRow.getInt(0)
    val r = math.max(3.0 * ((threshold - 0.4) / 0.6) - 2.0, 0.0)
    val lenA = length(col("name")).cast("int")
    val partnerLo = if (r > 0.0) greatest(lit(1), ceil(lenA * lit(r)).cast("int")) else lit(1)
    val partnerHi = if (r > 0.0) least(lit(maxLen), floor(lenA / lit(r)).cast("int")) else lit(maxLen)
    val a = names.select(col("name").as("name_a"), col("n").as("n_a"),
      explode(sequence(partnerLo, partnerHi)).as("__len_b"))
    val b = names.select(col("name").as("name_b"), col("n").as("n_b"),
      length(col("name")).cast("int").as("__len_b"))
    val jw = graft.functions.HashFunctions.jaroWinkler(col("name_a"), col("name_b"))
    a.join(b, Seq("__len_b"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("jw", jw)
      .filter(col("jw") >= threshold)
      .select("name_a", "name_b", "n_a", "n_b", "jw")
  }

  /** Word n-gram shingles of a text column (the near-dup unit). */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.HashFunctions.stringShingles(TextAnalysis.tokens(lower(text)), n)

  /** Distinct numeric shingle hashes of a text column: each token is
    * hashed once, n-gram hashes chain the token hashes. Runs as the
    * custom [[graft.functions.ShingleHash]] Catalyst expression — the
    * HOF equivalent (string slice+concat per shingle, interpreted
    * per-element) measured ~100x slower. */
  private[ops] def shingleHashes(text: Column, n: Int): Column =
    graft.functions.HashFunctions.shingleHash(TextAnalysis.tokens(lower(text)), n)

  /** MinHash signature: element k is the minimum of `xxhash64(s, seed=k)`
    * over the shingle-hash set. Custom expression — the `aggregate`/
    * `zip_with` formulation allocates a boxed 64-element array per
    * shingle per row (measured ~4 ms/row vs ~20 us/row). */
  def minHashSignature(text: Column, numHashes: Int = 64, shingleN: Int = 3): Column =
    graft.functions.HashFunctions.minHashSignature(shingleHashes(text, shingleN), numHashes)

  /** Jaccard over two distinct shingle-hash arrays — set semantics equal
    * to string-shingle Jaccard up to 2^-64 hash collisions, at a fraction
    * of the cost (long compares, no string allocation). */
  private[ops] def hashJaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)), lit(1)).cast("double")

  /** Estimated Jaccard similarity from two MinHash signatures. */
  def minHashJaccard(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x)).cast("double") /
      size(sigA).cast("double")

  /** Benchmark decontamination: for every corpus document, the number and
    * fraction of its distinct word `n`-grams that appear anywhere in the
    * benchmark set — the standard test-set-overlap check run before
    * training. Only contaminated documents (>= 1 shared gram) return.
    *
    * Scale shape: the benchmark inventory (distinct grams of a benchmark
    * suite — usually thousands of rows, not corpus-sized) is broadcast,
    * so the corpus-side explode joins with NO shuffle of corpus data; the
    * follow-up per-doc count shuffles only the matched grams. Corpus size
    * never touches the build side. Grams travel as 8-byte xxhash64
    * shingle hashes, not strings — overlap counts equal the string-gram
    * version up to 2^-64 collisions (the d2 argument), at a fraction of
    * the broadcast bytes and join compare cost. An empty document
    * contributes no grams (the hash kernel's whole-text fallback would
    * otherwise give empty docs a shared sentinel shingle, like the
    * empty-string gram the string version filtered).
    *
    * Broadcast guard: a large benchmark suite can yield tens of millions
    * of distinct grams — enough to blow the broadcast/driver memory
    * limit. The gate is a cheap UPPER BOUND — the benchmark set's TOTAL
    * gram count, `sum(tokens - n + 1)`, one aggregate over the BENCHMARK
    * set with no explode/distinct/shuffle — rather than an exact distinct
    * count, which would run the full shingle plan twice (once eagerly for
    * the gate, again inside the returned join). Total ≥ distinct, so the
    * bound only ever errs toward NOT broadcasting; above
    * `maxBroadcastGrams` the join falls back to a plain shuffle join,
    * which AQE converts back to broadcast at runtime if the actual
    * distinct inventory turns out small. */
  def ngramOverlap(corpus: DataFrame, bench: DataFrame, idCol: String,
                   textCol: String, benchTextCol: String, n: Int = 3,
                   maxBroadcastGrams: Long = 2000000L): DataFrame = {
    val gramsOf = (t: Column) => {
      val tk = TextAnalysis.tokens(lower(t))
      when(size(tk) === 0, array().cast("array<bigint>"))
        .otherwise(graft.functions.HashFunctions.shingleHash(tk, n))
    }
    val gramUpperBound = bench
      .select(greatest(size(TextAnalysis.tokens(lower(col(benchTextCol)))) - (n - 1), lit(0)).as("__n"))
      .agg(coalesce(sum(col("__n")), lit(0L)).as("__t"))
      .head().getLong(0)
    val benchGrams = bench
      .select(explode(gramsOf(col(benchTextCol))).as("__g")).distinct()
    val buildSide =
      if (gramUpperBound <= maxBroadcastGrams) broadcast(benchGrams) else benchGrams
    corpus
      .select(col(idCol), gramsOf(col(textCol)).as("__gs"))
      .select(col(idCol), size(col("__gs")).as("__ng"), explode(col("__gs")).as("__g"))
      .join(buildSide, Seq("__g"))
      .groupBy(col(idCol), col("__ng"))
      .agg(count(lit(1)).as("n_overlap"))
      .select(col(idCol), col("n_overlap"),
        (col("n_overlap").cast("double") / col("__ng").cast("double")).as("overlap_ratio"))
  }

  /** Duplicated-span fraction (the Lee et al. 2022 "Deduplicating
    * Training Data" repeated-substring signal, at word-n-gram
    * granularity): for each document, the fraction of its n-gram
    * OCCURRENCES that appear at least `minCount` times across the whole
    * corpus (within-document repeats count — a page that repeats its own
    * boilerplate 50 times is exactly what the signal exists to flag).
    * Returns (id, n_grams, n_dup, dup_fraction). Documents with fewer
    * than `n` tokens have no real n-gram and are excluded.
    *
    * Scale shape: positional gram hashes ride one compiled
    * [[graft.functions.PositionalShingleHash]] pass per doc; the corpus
    * frequency table is one map-side-combinable count over 8-byte keys
    * (a gram occurring 10^9 times pre-aggregates to one row per input
    * partition); marking is one shuffle join on the 8-byte hash; the
    * per-doc ratio is a second map-side-combinable count. The fraction
    * is a ratio of exact longs — one double division, bit-identical in
    * any engine, no float-sum ordering exposure. */
  def dupNgramFraction(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 5, minCount: Long = 2L): DataFrame = {
    val tk = TextAnalysis.tokens(lower(col(textCol)))
    val occ = df.select(col(idCol), tk.as("__tk"))
      .filter(size(col("__tk")) >= n)
      .select(col(idCol),
        explode(graft.functions.HashFunctions.positionalShingleHash(col("__tk"), n)).as("__g"))
    val freq = occ.groupBy("__g").agg(count(lit(1)).as("__c"))
    occ.join(freq, Seq("__g"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__c") >= minCount, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_fraction",
        col("n_dup").cast("double") / col("n_grams").cast("double"))
  }

  /** Corpus-global line-level dedup (C4-style boilerplate removal): every
    * non-empty line survives only at its FIRST occurrence across the whole
    * corpus (ordered by (id, line position)); empty lines always survive
    * as document structure. Documents are reassembled in original line
    * order; a document whose every line was a repeat disappears.
    *
    * Scale shape: two shuffles, both inherent — a per-line
    * `groupBy(line).agg(min(struct(id, idx)))` picks each line's first
    * occurrence (the survivors ARE that aggregate's output, no join
    * back), and kept lines shuffle on id for reassembly. The aggregate is
    * map-side combinable, so a boilerplate line occurring 10^9 times
    * reduces to one row per input partition before the shuffle — the
    * previous formulation (row_number over a Window partitioned by the
    * line value) serialized every occurrence of a hot line into a single
    * task, a guaranteed straggler on the boilerplate-heavy corpora this
    * operator targets. Empty lines (kept unconditionally as document
    * structure) bypass the aggregate entirely. No driver collection, no
    * per-document state larger than its own line list. */
  /** Intra-document line dedup: repeated non-empty lines within ONE
    * document keep only their first occurrence (empty lines always kept
    * as structure) — the within-page granularity of C4-style boilerplate
    * removal; [[globalLineDedup]] is the corpus-global one. Runs as a
    * single compiled hash-set pass per row ([[graft.functions.DedupLines]])
    * — a pure projection, so the operator shuffles nothing at any scale. */
  def dedupLinesWithinDoc(text: Column): Column =
    graft.functions.HashFunctions.dedupLines(text)

  def globalLineDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df.select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("__idx", "__ln")))
    // min(struct(id, idx)) = the (id, idx) ordering the window used;
    // text bytes co-travel once per (partition, line) thanks to the
    // map-side partial aggregate, same worst-case bytes as [[exact]].
    val firstOcc = lines.filter(length(col("__ln")) > 0)
      .groupBy(col("__ln"))
      .agg(min(struct(col(idCol).as("__id"), col("__idx").as("__i"))).as("__f"))
      .select(col("__f").getField("__id").as(idCol),
        col("__f").getField("__i").as("__idx"), col("__ln"))
    val kept = firstOcc.unionByName(
      lines.filter(length(col("__ln")) === 0)
        .select(col(idCol), col("__idx"), col("__ln")))
    kept
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__idx"), col("__ln")))).as("__parts"))
      .select(col(idCol),
        array_join(transform(col("__parts"), p => p.getField("__ln")), "\n").as(textCol))
  }

  /** Exact deduplication: keep one deterministic representative (minimum
    * `idCol`) per distinct value of `text`. The shuffle key is the 64-bit
    * content hash, not the text; hash collisions are disambiguated by
    * grouping on (hash, text) — the text bytes only travel for rows that
    * share a hash partition, which is the same cost as any exact dedup. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactOn(df, idCol, Seq(textCol))

  /** Exact dedup over a composite key (e.g. (url, text) or every column).
    *
    * Scale shape: one map-side-combinable aggregate —
    * `groupBy(keyHash, key…).agg(min(struct(id, carried…)))` — so a key
    * duplicated 10^9 times (crawl error pages, empty documents: the very
    * corpora exact dedup exists to clean) reduces to one row per input
    * partition before the shuffle. The previous formulation (`row_number`
    * over a Window partitioned by the key) serialized ALL occurrences of
    * a mass-duplicated key into ONE task — the same straggler class
    * [[globalLineDedup]] eliminated. The representative is the
    * minimum-`idCol` row (ties broken deterministically by the carried
    * columns' struct order). Carried non-key columns ride inside the
    * `min(struct)` and must therefore be orderable (no MapType). */
  def exactOn(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val keyHash = xxhash64(keyCols.map(col): _*)
    val carried = df.columns.toSeq.filterNot(c => c == idCol || keyCols.contains(c))
    df.groupBy(keyHash.as("__kh") +: keyCols.map(col): _*)
      .agg(min(struct((idCol +: carried).map(col): _*)).as("__rep"))
      .select(df.columns.toSeq.map { c =>
        if (keyCols.contains(c)) col(c) else col("__rep").getField(c).as(c)
      }: _*)
  }

  /** Default pair-stage bucket cap, sized from a per-bucket candidate-
    * pair BUDGET rather than picked ad hoc: a bucket of n docs emits
    * n(n-1)/2 pairs, so cap c bounds each bucket at c(c-1)/2 — with
    * c = 50 that is 1,225 pairs/bucket, and the pair stage's total work
    * is (#buckets x 1,225) worst-case: linear in the banded relation,
    * never quadratic in a cluster. 50 is also the cap the 3-scale
    * measurements ran (d13c/d15c): sf10->sf30 warm exponents 0.88-1.13
    * capped vs 1.46-1.62 uncapped, i.e. the capped plan is the one that
    * survives 100x. The previous default (1000, ~500k pairs/bucket)
    * never engaged on the measured corpora — real mass-duplicate
    * clusters sit well above it only after exact dedup is skipped — so
    * the default path stayed super-linear; a default that never bites
    * protects nothing. Recall trade unchanged in kind (over-cap buckets
    * are skipped, documented below), now engaged at the scale where it
    * matters. Callers needing the old behavior pass maxBucketSize
    * explicitly; <= 0 still opts into the uncapped quadratic path. */
  val DefaultMaxBucketSize: Int = 50

  /** Near-duplicate candidate pairs via MinHash-LSH banding.
    *
    * Signature is split into `bands` bands of `numHashes/bands` rows; two
    * documents land in the same bucket iff one band matches exactly.
    * Returns (id_a, id_b, est_jaccard, exact_jaccard) for candidate pairs
    * with exact Jaccard >= `threshold`, id_a < id_b, deduplicated across
    * bands. The join is an equi-join on (band_index, band_hash) — a plain
    * shuffle join that AQE can handle skew for; no cartesian product.
    *
    * `maxBucketSize` (default [[DefaultMaxBucketSize]]; <= 0 disables) skips buckets holding
    * more than that many documents before the pair join. A bucket of n
    * docs emits n(n-1)/2 candidates, so ONE boilerplate cluster of 10^5
    * near-identical pages yields 5*10^9 pairs — the standard production
    * mitigation is to cap the bucket and let exact dedup (run first, as
    * [[graft.OpsQueries]]'s c1 composite does) absorb mass-duplicate
    * clusters. The quadratic path is therefore OPT-IN (pass <= 0), not
    * the default. With the cap, pairs whose every shared band is
    * oversized are NOT emitted — a recall trade documented here, not a
    * silent one; on a corpus without mass-duplicate clusters the cap is
    * never hit and recall is unchanged.
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.7, shingleN: Int = 3,
                      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // The signature relation is read 3x (band explode + both rejoin
    // sides) but NOT persisted: a library-internal persist outlives the
    // returned lazy plan with no sound place to unpersist, accumulating
    // executor storage over a long-lived session. Instead the plan stays
    // stateless: carrying text+signature through the 16-way band explode
    // would move ~16x the bytes, so the explode shuffles only the 20-byte
    // (id, band, hash) triple and the two rejoin sides recompute the
    // scan+signature — whose identical hash(id) exchanges Catalyst
    // collapses via ReuseExchange, so the signature pass runs ~2x, not 3x.
    // The verify stage never touches the raw text: exact Jaccard runs on
    // the numeric shingle-hash sets computed in the same pass as the
    // signature. Callers looping over many corpora pay zero residual state.
    val withSh = df.select(col(idCol).as("id"),
      shingleHashes(col(textCol), shingleN).as("sh"))
    val withSig = withSh.select(col("id"), col("sh"),
      graft.functions.HashFunctions.minHashSignature(col("sh"), numHashes).as("sig"))

    val banded = withSig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", slice(col("sig"), b * rows + lit(1), lit(rows)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")

    val candidates = BandedPairs(banded, Seq("band", "band_hash"), maxBucketSize = maxBucketSize)
      .dropDuplicates("id_a", "id_b")

    candidates
      .join(withSig.select(col("id").as("id_a"), col("sh").as("sh_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(withSig.select(col("id").as("id_b"), col("sh").as("sh_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        minHashJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"),
        hashJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over an undirected edge list `(id_a, id_b)`.
    * Returns `(id, component)` with component = min id in the cluster.
    *
    * Near-dup edge lists are tiny relative to the corpus, so up to
    * `localThreshold` edges the components are solved with driver-side
    * union-find (O(E alpha(E)), zero Spark jobs beyond one collect) —
    * the iterative distributed loop pays several scheduling round-trips
    * per iteration, which dominates at small sizes. Larger edge lists
    * fall back to min-label propagation (one shuffle join + aggregation
    * per iteration, converging in O(cluster diameter)). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 10,
                          localThreshold: Long = 1000000L): DataFrame = {
    // The edge list (two longs/row — tiny next to the plan that produced
    // it, e.g. an LSH candidate join) is persisted for the DURATION OF
    // THIS CALL only: the count that gates the path also materializes the
    // cache, so whichever path follows (driver collect or the propagation
    // loop) never re-evaluates the upstream plan. The finally-unpersist
    // guarantees zero residual storage; the distributed path's lazy
    // result then re-evaluates upstream once when the caller consumes it.
    val e = edges.select(col("id_a").cast("long").as("id_a"),
      col("id_b").cast("long").as("id_b")).persist()
    try {
      if (e.count() <= localThreshold) {
        // Edges travel to the driver straight into primitive long arrays
        // (16 B/edge, packed per partition) — never an Array[GenericRow].
        // Dataset.mapPartitions, NOT .rdd.mapPartitions: the RDD API runs
        // every closure through ClosureCleaner, which re-reads the
        // CAPTURING class's bytecode from the classloader — under sbt's
        // layered test classloader that read intermittently fails with an
        // NPE when this is called from a spec (observed full-suite-only;
        // the Dataset API never invokes the cleaner).
        val chunks: Array[(Array[Long], Array[Long])] = {
          import e.sparkSession.implicits._
          e.select(col("id_a").as("_1"), col("id_b").as("_2")).as[(Long, Long)]
            .mapPartitions { it =>
              val a = new scala.collection.mutable.ArrayBuilder.ofLong
              val b = new scala.collection.mutable.ArrayBuilder.ofLong
              it.foreach { p => a += p._1; b += p._2 }
              Iterator((a.result(), b.result()))
            }.collect()
        }
        // driver union-find with path halving; label = min id per set
        val parent = new scala.collection.mutable.LongMap[Long]()
        def find(x0: Long): Long = {
          var x = x0
          while (parent.getOrElse(x, x) != x) {
            val p = parent(x)
            parent(x) = parent.getOrElse(p, p)
            x = parent(x)
          }
          x
        }
        chunks.foreach { case (as, bs) =>
          var j = 0
          while (j < as.length) {
            val a = as(j); val b = bs(j)
            if (!parent.contains(a)) parent(a) = a
            if (!parent.contains(b)) parent(b) = b
            val ra = find(a); val rb = find(b)
            if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
            j += 1
          }
        }
        val rows = parent.keys.toSeq.map(id => org.apache.spark.sql.Row(id, find(id)))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.LongType, nullable = false)))
        import scala.jdk.CollectionConverters._
        edges.sparkSession.createDataFrame(rows.asJava, schema)
      } else distributedComponents(e, maxIter)
    } finally e.unpersist()
  }

  /** The at-scale path: iterative min-label propagation.
    *
    * The adjacency includes SELF-LOOPS, so one `join + groupBy.min` both
    * carries each node's current label and folds in the neighbors' minima
    * — `labels` is referenced exactly once per iteration, keeping the
    * recompute lineage LINEAR in the iteration count (the classic
    * two-reference formulation is exponential to replay). That linearity
    * is what lets the loop unpersist every intermediate before returning:
    * the caller's one action replays the converged chain once, and no
    * executor storage outlives the call (persist the result yourself if
    * you consume it more than once). Convergence detection is a sum of
    * labels (labels only ever decrease, so an unchanged sum means a fixed
    * point) — one aggregate job per iteration, no self-join diff. */
  private[ops] def distributedComponents(edges: DataFrame, maxIter: Int): DataFrame = {
    // One scan of the edge list: explode emits the two directions plus
    // both self-loops (a 4-way union would re-evaluate the upstream plan
    // 4x whenever the final lazy chain is replayed).
    val sym = edges.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")),
        struct(col("id_a").as("src"), col("id_a").as("dst")),
        struct(col("id_b").as("src"), col("id_b").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct().persist()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
    var persisted: Option[DataFrame] = None
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var i = 0
    while (i < maxIter && !converged) {
      val next = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(sym("src").as("nid")).agg(min("component").as("component"))
        .withColumnRenamed("nid", "id")
        .persist()
      val s = next.agg(sum(col("component").cast("decimal(38,0)")).as("s"))
        .head().getDecimal(0)
      persisted.foreach(_.unpersist())
      persisted = Some(next)
      labels = next
      converged = prevSum != null && s.compareTo(prevSum) == 0
      prevSum = s
      i += 1
    }
    // Drop every cached block before returning: the lazy result replays
    // the linear chain once when consumed. The replay's repeated sym /
    // lower-level label subtrees are identical canonical subplans, so
    // ReuseExchange collapses each to a single shuffle — one consume
    // costs about one propagation pass, not maxIter passes.
    persisted.foreach(_.unpersist())
    sym.unpersist()
    labels
  }

  /** Near-dedup keeping one representative (minimum id) per CONNECTED
    * near-dup cluster: A~B and B~C collapse to {A} even when A!~C.
    * The transitively-correct variant of [[minHashDedup]]. */
  def minHashDedupClustered(df: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 64, bands: Int = 16,
                            threshold: Double = 0.7,
                            maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val pairs = minHashLshPairs(df, idCol, textCol, numHashes, bands, threshold,
      maxBucketSize = maxBucketSize)
    val losers = connectedComponents(pairs.select("id_a", "id_b"))
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware near-dedup: like [[minHashDedupClustered]], but the
    * survivor of each connected near-dup cluster is the member with the
    * HIGHEST `prefer` value (ties broken toward the minimum id) rather
    * than blindly the minimum id — the production policy when a cluster
    * mixes a clean original with mangled copies and a quality signal
    * (language-model score, length, domain trust) says which to keep.
    *
    * Shape: the LSH pair plan plus one (id -> component) join and one
    * map-side-combinable `max_by(struct(prefer, -id))` per cluster — no
    * per-cluster window, no sort. Docs in no qualifying pair are their
    * own singleton cluster (cluster_size 1).
    *
    * Returns the surviving rows of `df` with a `cluster_size` column
    * (how many members the survivor absorbed, 1 for singletons).
    *
    * @param prefer numeric quality column expression evaluated on `df`'s
    *               rows; higher wins
    * @param maxBucketSize passed through to [[minHashLshPairs]] — the
    *               Σ size² pair-stage cap; an over-cap mass-duplicate
    *               cluster then survives UNCLUSTERED (its members report
    *               cluster_size 1), the documented recall trade */
  def canonicalPerCluster(df: DataFrame, idCol: String, textCol: String,
                          prefer: Column,
                          numHashes: Int = 64, bands: Int = 16,
                          threshold: Double = 0.7,
                          maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val pairs = minHashLshPairs(df, idCol, textCol, numHashes, bands, threshold,
      maxBucketSize = maxBucketSize)
    val comp = connectedComponents(pairs.select("id_a", "id_b"))
      .select(col("id").cast(df.schema(idCol).dataType).as(idCol), col("component"))
    val winners = df
      .join(comp, Seq(idCol), "left")
      .withColumn("__comp", coalesce(col("component"), col(idCol)))
      .groupBy("__comp")
      .agg(
        max_by(col(idCol), struct(prefer, -col(idCol))).as("__keep"),
        count(lit(1)).as("cluster_size"))
      .select(col("__keep").as(idCol), col("cluster_size"))
    df.join(winners, Seq(idCol))
  }

  /** Cross-corpus dedup: keep rows of `newDf` matching NOTHING in
    * `refDf` — neither byte-exact (8-byte content-hash anti-join; the
    * ref text never travels) nor near-duplicate (MinHash-LSH pairs over
    * the side-tagged union, filtered to pairs CROSSING the corpus
    * boundary). The "dedup the new crawl against the existing corpus"
    * step: new-vs-new duplicates are deliberately NOT touched — run
    * [[minHashDedup]]/[[exact]] on the new corpus for that.
    *
    * Ids must be unique across BOTH corpora combined — enforced in-plan
    * (the side-lookup aggregate raises on a duplicate id), because a
    * shared id would silently mis-side pairs, the adjacentPairs
    * precedent. */
  def crossCorpusDedup(newDf: DataFrame, refDf: DataFrame, idCol: String,
                       textCol: String, numHashes: Int = 64, bands: Int = 16,
                       threshold: Double = 0.7,
                       maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val refHashes = refDf
      .select(graft.ops.TextAnalysis.contentHash(col(textCol)).as("__ch")).distinct()
    val exactClean = newDf
      .withColumn("__ch", graft.ops.TextAnalysis.contentHash(col(textCol)))
      .join(refHashes, Seq("__ch"), "left_anti").drop("__ch")
    // Production order (the d6 exact-prefix argument): byte-exact copies
    // are gone BEFORE the LSH stage, so they never band, never bucket,
    // and never generate candidate pairs — on a mass-duplicated crawl
    // the exact stage removes precisely the docs that would land in the
    // heaviest buckets.
    val tagged = exactClean.select(col(idCol), col(textCol)).withColumn("__side", lit(1))
      .unionByName(refDf.select(col(idCol), col(textCol)).withColumn("__side", lit(0)))
    val pairs = minHashLshPairs(tagged, idCol, textCol, numHashes, bands, threshold,
      maxBucketSize = maxBucketSize)
    val sides = tagged.groupBy(col(idCol).as("__pid"))
      .agg(count(lit(1)).as("__c"), max(col("__side")).as("__s"))
      .select(col("__pid"),
        when(col("__c") > 1, raise_error(concat(
            lit("crossCorpusDedup: id not unique across corpora: "), col("__pid"))))
          .otherwise(col("__s")).as("__s"))
    val losers = pairs
      .join(sides.select(col("__pid").as("id_a"), col("__s").as("__sa")), Seq("id_a"))
      .join(sides.select(col("__pid").as("id_b"), col("__s").as("__sb")), Seq("id_b"))
      .filter(col("__sa") =!= col("__sb"))
      .select(when(col("__sa") === 1, col("id_a")).otherwise(col("id_b"))
        .cast(newDf.schema(idCol).dataType).as(idCol))
      .distinct()
    exactClean.join(losers, Seq(idCol), "left_anti")
  }

  /** Near-dedup: drop all but the minimum-id member of each near-dup
    * candidate pair set (greedy transitive-lite pass: a doc survives iff
    * it is not the larger id of any qualifying pair). */
  def minHashDedup(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.7,
                   maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val losers = minHashLshPairs(df, idCol, textCol, numHashes, bands, threshold,
        maxBucketSize = maxBucketSize)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  // --- SimHash ---------------------------------------------------------

  /** 64-bit SimHash of the token multiset: bit j of the result is 1 iff
    * sum over tokens of (+1 if bit j of xxhash64(token) else -1) > 0.
    * Custom [[graft.functions.SimHash64]] expression (one hash + 64
    * mask tests per token, unboxed). */
  def simHash(text: Column): Column =
    graft.functions.HashFunctions.simHash64(TextAnalysis.tokens(lower(text)))

  // --- embedding near-dup ----------------------------------------------

  /** Embedding-cosine near-duplicate pairs: pairs with cosine >=
    * `threshold`. Buckets via random-hyperplane LSH sign bits
    * (Similarity.lshBucket) to avoid the cartesian join; a pair is a
    * candidate when all `planes.size` sign bits agree.
    *
    * Kept: the fixed-plane reference DedupSpec compares
    * [[embeddingNearDupPairsAdaptive]] against. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, planes: Seq[Seq[Double]]): DataFrame = {
    val withB = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      Similarity.lshBucket(col(vecCol), planes).as("bucket"))
    cosinePairs(withB, threshold)
  }

  /** [[embeddingNearDupPairs]] with the plane count scaled to the corpus
    * by [[Similarity.adaptiveBuckets]]: P = clamp(ceil(log2(n /
    * targetBucket)), minPlanes, maxPlanes), so the expected bucket
    * population stays ~targetBucket no matter the corpus size. A FIXED
    * plane count is quadratic in disguise — 10x the vectors in the same
    * 2^P buckets is 100x the candidate pairs (measured 43x wall-clock at
    * sf1). Small corpora reproduce the fixed-minPlanes bucketing
    * bit-for-bit. */
  def embeddingNearDupPairsAdaptive(df: DataFrame, idCol: String, vecCol: String,
                                    threshold: Double, minPlanes: Int = 4, maxPlanes: Int = 16,
                                    targetBucket: Int = 64, seed: Long = 42L): DataFrame = {
    val withB = Similarity.adaptiveBuckets(df, Seq(col(idCol).as("id"), col(vecCol).as("v")),
      col(vecCol), Similarity.inferDim(df, vecCol), minPlanes, maxPlanes, targetBucket, seed)
    cosinePairs(withB, threshold)
  }

  /** Verify step of both embedding pair stages: (id, v, bucket) rows →
    * uncapped bucket pairs with cosine >= `threshold`. */
  private def cosinePairs(withB: DataFrame, threshold: Double): DataFrame =
    BandedPairs(withB, Seq("bucket"), Seq("v"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)

  /** The REMOVAL side of [[repeatedSpans]]: mask every character covered
    * by an occurrence of any blocklisted k-gram (Lee et al. cut the
    * repeated spans; masking keeps offsets stable for downstream
    * alignment). Coverage semantics, not replacement semantics: a
    * position is masked iff SOME occurrence of SOME gram covers it, so
    * overlapping hits compose without order-dependence — which is what
    * makes the transform externally replayable (the d20 oracle).
    *
    * Scale shape: the gram set rides a broadcast (anchors are
    * aggregate-sized by [[repeatedSpans]]'s construction); the scan is
    * a pure per-row `mapPartitions` — position-by-position hash-set
    * lookups, no shuffle, no explode. Adds `masked` (text with covered
    * chars as `maskChar`) and `n_masked` (covered char count). All
    * grams must have length `k`. */
  def maskSpans(df: DataFrame, textCol: String, grams: Seq[String], k: Int,
                maskChar: Char = '#'): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(grams.forall(_.length == k), s"every gram must have length $k")
    val spark = df.sparkSession
    val gramsB = spark.sparkContext.broadcast(grams.toSet)
    import org.apache.spark.sql.types._
    val inSchema = df.schema
    val outSchema = inSchema
      .add(StructField("masked", StringType))
      .add(StructField("n_masked", IntegerType, nullable = false))
    val textIdx = inSchema.fieldIndex(textCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      val gs = gramsB.value
      rows.map { r =>
        val t = r.getString(textIdx)
        if (t == null) Row.fromSeq(r.toSeq ++ Seq[Any](null, 0))
        else {
          val n = t.length
          val covered = new Array[Boolean](n)
          var i = 0
          while (i + k <= n) {
            if (gs.contains(t.substring(i, i + k))) {
              var j = i
              while (j < i + k) { covered(j) = true; j += 1 }
            }
            i += 1
          }
          val sb = new java.lang.StringBuilder(n)
          var m = 0
          i = 0
          while (i < n) {
            if (covered(i)) { sb.append(maskChar); m += 1 } else sb.append(t.charAt(i))
            i += 1
          }
          Row.fromSeq(r.toSeq ++ Seq[Any](sb.toString, m))
        }
      }
    }(enc)
  }

  /** Cross-document repeated-SPAN detection — the corpus-level exact
    * substring dedup signal (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022, builds a suffix array for
    * this; a distributed engine gets the same signal from SAMPLED
    * character k-gram anchors without any global index):
    *
    *  - every `stride`-th k-character gram of every document is an
    *    anchor (pure `sequence`/`substring` projection — codegen'd, no
    *    UDF, no corpus-sized state);
    *  - anchors aggregate exactly in two map-side-combinable levels
    *    ((gram, doc) then gram), so the shuffle carries distinct
    *    sampled grams, about `corpus_chars / stride` rows — the knob
    *    that makes 100 TB affordable;
    *  - a gram surviving `minOcc` is a repeated span's fingerprint:
    *    any repeated span of length >= k + stride - 1 is GUARANTEED to
    *    contain at least one sampled anchor of one copy, and alignment
    *    differences only shift WHICH anchor repeats, not whether one
    *    does, when both copies sit at the same offsets mod stride.
    *    `hashMod > 1` switches to content-defined sampling (keep grams
    *    whose xxhash64 is 0 mod hashMod — winnowing-style), which is
    *    alignment-INDEPENDENT: the same grams are selected in every
    *    copy wherever it starts. Positional mode is externally
    *    replayable (the d19 oracle); hash mode is the robust production
    *    knob (spec-pinned, like every xxhash operator here).
    *
    * Returns (gram, n_occ, n_docs) for every surviving anchor. Callers
    * route hits to span removal or doc-level quarantine. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String, k: Int = 24,
                    stride: Int = 8, minOcc: Long = 2L, hashMod: Int = 0): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    require(hashMod == 0 || hashMod >= 2, s"hashMod must be 0 (positional) or >= 2, got $hashMod")
    val anchors = df.filter(length(col(textCol)) >= k)
      .select(col(idCol).as("__id"), col(textCol).as("__t"))
      .select(col("__id"), col("__t"),
        explode(sequence(lit(0), length(col("__t")) - k, lit(stride))).as("__pos"))
      .select(col("__id"), expr(s"substring(__t, __pos + 1, $k)").as("gram"))
    val sampled =
      if (hashMod >= 2) anchors.filter(pmod(xxhash64(col("gram")), lit(hashMod)) === 0)
      else anchors
    sampled
      .groupBy(col("gram"), col("__id")).agg(count(lit(1)).as("__c"))
      .groupBy(col("gram"))
      .agg(sum(col("__c")).as("n_occ"), count(lit(1)).as("n_docs"))
      .filter(col("n_occ") >= minOcc)
  }

  /** Pairwise corpus-overlap matrix: for every unordered pair of values
    * of `keyCol` (corpus source, snapshot, shard…), the Jaccard and
    * containment of their DISTINCT word n-gram sets — the "how much of
    * source A is also in source B" report that decides whether two
    * crawls can be mixed without [[decontaminate]]-style filtering.
    *
    * Scale shape: ONE (key, gram)-distinct shuffle over the exploded
    * corpus, then a gram-keyed self-join whose per-gram fan-out is
    * bounded by |keys|² (keys are FEW by contract — sources, not docs;
    * a gram shared by every key yields |keys|² rows, never row-count²),
    * reduced map-side to the |keys|²-row matrix. Per-key set sizes ride
    * a broadcast. Returns every pair (src_a < src_b), zero-intersection
    * pairs included: (src_a, src_b, n_a, n_b, n_common, jaccard,
    * containment) where containment divides by the SMALLER set. */
  def sourceOverlapMatrix(df: DataFrame, keyCol: String, textCol: String,
                          n: Int = 3): DataFrame = {
    val grams = df
      .filter(col(keyCol).isNotNull && col(textCol).isNotNull)
      .select(col(keyCol).as("__src"), explode(shingles(col(textCol), n)).as("__g"))
      .distinct()
    val sizes = grams.groupBy("__src").agg(count(lit(1)).as("__sz"))
    val inter = grams.select(col("__src").as("src_a"), col("__g"))
      .join(grams.select(col("__src").as("src_b"), col("__g")), Seq("__g"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
    // all pairs from the tiny size census, so empty intersections show up
    val pairs = sizes.select(col("__src").as("src_a"), col("__sz").as("n_a"))
      .crossJoin(sizes.select(col("__src").as("src_b"), col("__sz").as("n_b")))
      .filter(col("src_a") < col("src_b"))
    pairs.join(broadcast(inter), Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")))
      .withColumn("containment",
        col("n_common").cast("double") / least(col("n_a"), col("n_b")))
  }
}
