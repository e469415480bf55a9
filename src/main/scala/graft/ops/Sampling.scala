package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting for training-data pipelines.
  *
  * Everything keys off a content hash, never `rand()`: the same row
  * lands in the same split on every run, on any cluster, regardless of
  * partitioning — the property that keeps train/test membership stable
  * as a corpus is re-processed. All operators are narrow (no shuffle)
  * except the exact per-stratum variant, which shuffles once on the
  * stratum key.
  */
object Sampling {

  /** Uniform hash bucket in [0, buckets) from the id column. */
  def hashBucket(id: Column, buckets: Int = 10000, seed: Long = 42L): Column =
    pmod(xxhash64(id, lit(seed)), lit(buckets))

  /** Deterministic fractional split: returns (train, holdout) where the
    * holdout receives ~`holdoutFraction` of rows, selected by id hash.
    * A row's membership never changes as other rows come and go. */
  def hashSplit(df: DataFrame, idCol: String,
                holdoutFraction: Double, seed: Long = 42L): (DataFrame, DataFrame) = {
    require(holdoutFraction > 0 && holdoutFraction < 1, "fraction in (0,1)")
    val buckets = 1000000
    val cut = (holdoutFraction * buckets).toLong
    val b = hashBucket(col(idCol), buckets, seed)
    (df.filter(b >= cut), df.filter(b < cut))
  }

  /** Deterministic per-stratum sample: exactly min(n, |stratum|) rows per
    * stratum, chosen by id-hash order (stable under reprocessing). One
    * shuffle on the stratum key; WindowGroupLimit keeps per-partition
    * work at top-n. */
  def stratifiedTake(df: DataFrame, strataCol: String, idCol: String,
                     n: Int, seed: Long = 42L): DataFrame = {
    val w = Window.partitionBy(strataCol)
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n).drop("__rk")
  }

  /** Lehmer-hash priority: TWO multiplicative steps of the classic
    * minimal-standard generator, `x -> x * 48271 mod M` (M = 2^31−1),
    * applied to `(id + seed) mod M`. One step is MONOTONE for
    * id < M/48271 ≈ 44k — exactly the id range real tables start at, so
    * a single step would "sample" the smallest ids; the second step
    * wraps for every id ≥ 1 and yields the multiplicative permutation
    * `id * 48271² mod M`. Every operation is exact 64-bit integer
    * arithmetic (max intermediate M * 48271 < 2^47), so any SQL engine
    * replays the SELECTION itself — which no xxhash-based order allows. */
  def lehmerPriority(id: Column, seed: Long = 1L): Column = {
    val m = lit(2147483647L)
    val step1 = pmod(pmod(id + lit(seed), m) * lit(48271L), m)
    pmod(step1 * lit(48271L), m)
  }

  /** [[hashSplit]]'s externally-REPLAYABLE variant: membership is
    * `lehmerPriority(id) < fraction * M` — exact 64-bit integer
    * arithmetic any SQL engine reproduces verbatim (the p1 oracle
    * replays the selection itself), where xxhash memberships can only
    * ever be property-tested. The Lehmer permutation is uniform on
    * [0, M) so realized fractions concentrate like the hash split's;
    * it mixes less (it is a fixed multiplicative stride), so prefer
    * [[hashSplit]] when nothing external must re-derive membership. */
  def lehmerSplit(df: DataFrame, idCol: String,
                  holdoutFraction: Double, seed: Long = 1L): (DataFrame, DataFrame) = {
    require(holdoutFraction > 0 && holdoutFraction < 1, "fraction in (0,1)")
    val cut = (holdoutFraction * 2147483647L).toLong
    val pr = lehmerPriority(col(idCol), seed)
    (df.filter(pr >= cut), df.filter(pr < cut))
  }

  /** Exact k-fold cross-validation assignment: fold =
    * `lehmerPriority(id, seed) mod k` — a pure row-local projection
    * (no shuffle, no state), deterministic under any partitioning, and
    * replayable by any SQL engine as 64-bit integer arithmetic (the p1
    * discipline: the ASSIGNMENT itself is oracle-checkable, not just
    * its statistics). The Lehmer permutation is uniform on [0, M), so
    * fold sizes concentrate at n/k (M mod k bias ≤ k/M ≈ 1e-9).
    * Appends a `fold` column in [0, k). */
  def assignFolds(df: DataFrame, idCol: String, k: Int, seed: Long = 1L): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    df.withColumn("fold", pmod(lehmerPriority(col(idCol), seed), lit(k.toLong)))
  }

  /** The (train, test) pair for one fold of [[assignFolds]] — two
    * filters over the same projection, so iterating all k folds is k
    * cheap scans, never a shuffle or a materialized assignment table. */
  def foldSplit(df: DataFrame, idCol: String, k: Int, fold: Int,
                seed: Long = 1L): (DataFrame, DataFrame) = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(fold >= 0 && fold < k, s"fold must be in [0, $k), got $fold")
    val f = pmod(lehmerPriority(col(idCol), seed), lit(k.toLong))
    (df.filter(f =!= lit(fold.toLong)), df.filter(f === lit(fold.toLong)))
  }

  /** STRATIFIED k-fold assignment: within each stratum, rows are ranked
    * by (lehmerPriority(id, seed), id) and dealt round-robin — fold =
    * (rank − 1) mod k — so every stratum's fold sizes differ by AT MOST
    * ONE row (the balance guarantee [[assignFolds]]'s unconditioned
    * modulus only gives in expectation; a rare stratum can land all its
    * rows in one of assignFolds' folds, which for an eval split means a
    * fold with zero examples of that class). Fully replayable: the
    * priority is exact integer arithmetic and the deal is a row_number,
    * so an external engine re-derives every row's fold.
    *
    * Scale shape: ONE shuffle keyed by the stratum serving the rank
    * window — the per-key regular shape every windowed operator here
    * uses; no per-row state, no collect. */
  def stratifiedFolds(df: DataFrame, strataCol: String, idCol: String,
                      k: Int, seed: Long = 1L): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // The naive form — row_number over Window.partitionBy(stratum) —
    // serializes each stratum into ONE sort task, and strata are FEW by
    // nature (classes, not ids): measured 9.5 s at the 100x bench scale
    // on 5 strata vs ~2 s here. Instead: 1024 ORDER-ALIGNED priority
    // buckets (priority >> 21, so bucket order = priority order), a
    // tiny (stratum, bucket) census whose prefix-sum gives each
    // bucket's global rank offset, and the per-(stratum, bucket) rank
    // window — strata x 1024 keys, parallel at any stratum count. The
    // stitched rank is IDENTICAL to the naive global rank (the
    // tokenBudgetSample construction), so external replays agree.
    val W = org.apache.spark.sql.expressions.Window
    val base = df
      .withColumn("__pr", lehmerPriority(col(idCol), seed))
      .withColumn("__bk", (col("__pr") / lit(1L << 21)).cast("int"))
    val census = base.groupBy(col(strataCol), col("__bk"))
      .agg(count(lit(1)).as("__c"))
    val prev = W.partitionBy(col(strataCol)).orderBy(col("__bk"))
      .rowsBetween(W.unboundedPreceding, -1)
    val offsets = census
      .withColumn("__off", coalesce(sum("__c").over(prev), lit(0L)))
      .drop("__c")
    val inBucket = W.partitionBy(col(strataCol), col("__bk"))
      .orderBy(col("__pr"), col(idCol))
    base.join(broadcast(offsets), Seq(strataCol, "__bk"))
      .withColumn("fold",
        pmod(col("__off") + row_number().over(inBucket) - 1, lit(k.toLong)))
      .select(df.columns.map(col) :+ col("fold"): _*) // caller's column order
  }

  /** LEAKAGE-SAFE holdout: membership decided per GROUP, not per row —
    * every row of a group (domain, author, near-dup cluster id, …)
    * lands on the same side, so the eval split cannot leak shared
    * context into training (the failure mode a row-level split has on
    * any corpus with correlated rows). The group key is reduced to a
    * long by the replayable positional char hash
    * ([[TextAnalysis.hashedGramBucket]] over the lower-cased key, mod
    * P = 1048573) and routed through [[lehmerPriority]] — a pure
    * per-row projection: ZERO shuffle, no group table, no join, and an
    * external engine re-derives the membership of every group (the
    * p1/p2 discipline). Two groups that collide in the 2^20 key space
    * merely co-assign (still leakage-safe); the realized fraction
    * concentrates at `holdoutFraction` of GROUPS, not of rows — a
    * heavy group moves its whole mass with it, which is the point.
    * Returns (rest, holdout). */
  def groupHoldout(df: DataFrame, groupCol: String, holdoutFraction: Double,
                   seed: Long = 1L): (DataFrame, DataFrame) = {
    require(holdoutFraction > 0 && holdoutFraction < 1, "fraction in (0,1)")
    val key = TextAnalysis.hashedGramBucket(lower(col(groupCol)), 1048573)
    val cut = (holdoutFraction * 2147483647L).toLong
    val pr = lehmerPriority(key, seed)
    (df.filter(pr >= cut), df.filter(pr < cut))
  }

  /** [[stratifiedTake]]'s externally-REPLAYABLE variant: the same
    * exact-n-per-stratum window sample ordered by [[lehmerPriority]]
    * instead of xxhash, so an external engine re-derives the CHOSEN
    * rows with `row_number() OVER (PARTITION BY stratum ORDER BY
    * priority, id)` — the p2 oracle does exactly that. Same shuffle
    * shape (one exchange on the stratum key, WindowGroupLimit caps
    * per-partition work at top-n). */
  def lehmerStratifiedTake(df: DataFrame, strataCol: String, idCol: String,
                           n: Int, seed: Long = 1L): DataFrame = {
    val w = Window.partitionBy(strataCol)
      .orderBy(lehmerPriority(col(idCol), seed), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n).drop("__rk")
  }

  /** [[stratifiedTake]]'s scale upgrade: the same deterministic
    * per-stratum k-sample, computed with the bounded MERGEABLE
    * [[graft.functions.BottomKIds]] aggregator instead of a per-stratum
    * window sort. The window must shuffle and sort EVERY row of every
    * stratum; the aggregator's partial buffers cap the shuffle at k rows
    * per (partition, stratum) and total work at O(n log k) — at 100 TB
    * that is the difference between a sample and a global sort. Priority
    * is [[lehmerPriority]] so an external engine can verify the exact
    * selection. Returns (stratum, id, priority) rows. */
  def bottomKSample(df: DataFrame, strataCol: String, idCol: String,
                    n: Int, seed: Long = 1L): DataFrame = {
    val bk = udaf(new graft.functions.BottomKIds(n),
      org.apache.spark.sql.Encoders.product[graft.functions.Prioritized])
    df.select(col(strataCol), lehmerPriority(col(idCol), seed).as("__pr"),
        col(idCol).cast("long").as("__id"))
      .groupBy(strataCol)
      .agg(bk(col("__pr"), col("__id")).as("__keep"))
      .select(col(strataCol), explode(col("__keep")).as("__k"))
      .select(col(strataCol), col("__k.id").as(idCol), col("__k.priority").as("priority"))
  }

  /** Deterministic approximate per-stratum fractions (keys: stratum ->
    * keep fraction): narrow filter, no shuffle — each row's fate is a
    * pure function of (stratum, id hash). */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       fractions: Map[String, Double], seed: Long = 42L): DataFrame = {
    val buckets = 1000000
    val b = hashBucket(col(idCol), buckets, seed)
    val keep = fractions.foldLeft(lit(false)) { case (acc, (stratum, f)) =>
      acc || (col(strataCol) === stratum && b < (f * buckets).toLong)
    }
    df.filter(keep)
  }

  /** Training-data mixing: downsample sources so the output matches the
    * target proportions `weights` (source -> fraction of the mix, must
    * sum to ~1) while keeping as much data as possible — the bottleneck
    * source (largest target share relative to its size) is kept whole
    * and every other source is sampled down to match. Sources absent
    * from `weights` are dropped.
    *
    * Scale shape: one aggregate-sized `groupBy(source).count()` to find
    * the bottleneck (tiny collect, never row data), then a narrow
    * deterministic filter — no shuffle of the corpus itself.
    * Expected output size per source s: `weights(s) * T` where
    * `T = min_s(count_s / weights(s))`; sampling is per-row Bernoulli
    * on the [[lehmerPriority]] permutation, so realized counts
    * concentrate around that expectation (exactness would need a
    * per-source top-n shuffle — see [[stratifiedTake]] when exact
    * counts matter more than scan cost) AND the membership is exact
    * 64-bit integer arithmetic an external SQL engine replays verbatim
    * — the p1/p2 discipline; the p5 oracle re-derives the kept set. */
  def weightedMixture(df: DataFrame, sourceCol: String, idCol: String,
                      weights: Map[String, Double], seed: Long = 42L): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(_ > 0), "weights must be positive")
    val wSum = weights.values.sum
    require(math.abs(wSum - 1.0) < 1e-6, s"weights must sum to 1, got $wSum")
    val counts = df.filter(col(sourceCol).isin(weights.keys.toSeq: _*))
      .groupBy(sourceCol).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = weights.keySet.diff(counts.keySet)
    require(missing.isEmpty,
      s"weighted sources absent from the data (proportions unachievable): ${missing.mkString(", ")}")
    // largest achievable mix size honoring every proportion; the
    // bottleneck source defines it and is kept WHOLE — its rate is
    // pinned to exactly 1.0 rather than recomputed as w*total/count,
    // where float rounding can land at 0.999... and the downstream
    // (rate*buckets).toLong truncation would shave rows off the one
    // source the contract promises to keep intact.
    val bottleneck = weights.minBy { case (s, w) => counts(s) / w }._1
    val total = counts(bottleneck) / weights(bottleneck)
    val rates = weights.map { case (s, w) =>
      s -> (if (s == bottleneck) 1.0 else math.min(1.0, w * total / counts(s)))
    }
    // Lehmer-keyed membership (not the xxhash stratifiedSample): the
    // cut `floor(rate * M)` and the priority are exact integer
    // arithmetic, so the oracle re-derives every kept row from the
    // same per-source counts. The bottleneck's rate is pinned 1.0 ->
    // cut = M -> every priority (all < M) passes: kept whole, exactly.
    val pr = lehmerPriority(col(idCol), seed)
    val keep = rates.foldLeft(lit(false)) { case (acc, (stratum, f)) =>
      acc || (col(sourceCol) === stratum && pr < (f * 2147483647.0).toLong)
    }
    df.filter(keep)
  }

  /** Temperature-scaled source shares — the multilingual-LM sampling rule
    * (p_s ∝ n_s^(1/T), the mBERT / XLM-R exponent smoothing): T = 1
    * reproduces natural proportions, larger T flattens toward uniform,
    * boosting low-resource sources without the hard cliff of equal
    * shares. Returns one row per source: (source, n_rows, share).
    *
    * Scale shape: one map-side-combined count per source, then the
    * share normalization over that SOURCES-sized frame via a 1-row
    * broadcast total — the corpus is scanned once and never shuffled. */
  def temperatureWeights(df: DataFrame, sourceCol: String,
                         temperature: Double): DataFrame = {
    require(temperature > 0, s"temperature must be positive, got $temperature")
    val counts = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("__w", pow(col("n_rows").cast("double"), lit(1.0 / temperature)))
    val total = counts.agg(sum(col("__w")).as("__tw"))
    counts.crossJoin(broadcast(total))
      .select(col("source"), col("n_rows"),
        (col("__w") / col("__tw")).as("share"))
  }

  /** [[weightedMixture]] with the proportions derived from the data by
    * [[temperatureWeights]] instead of supplied — "mix my corpus at
    * temperature T" as one call. The shares collect is sources-sized. */
  def temperatureMixture(df: DataFrame, sourceCol: String, idCol: String,
                         temperature: Double, seed: Long = 42L): DataFrame = {
    val shares = temperatureWeights(df, sourceCol, temperature)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // renormalize away float dust so weightedMixture's sum-to-1 gate holds
    val z = shares.values.sum
    weightedMixture(df, sourceCol, idCol, shares.map { case (k, v) => k -> v / z }, seed)
  }

  /** Training-mix construction that may UPSAMPLE: meet target proportions
    * `weights` at a requested output size `totalOut` by REPEATING
    * under-represented sources. Source s with rate
    * `r = weights(s) * totalOut / count_s` contributes `floor(r)` full
    * copies of every row (`epoch` 0..floor(r)-1) plus a deterministic
    * hash-Bernoulli `frac(r)` slice as the final partial epoch — the
    * standard "repeat small high-quality sources for N epochs" mix
    * (complement of [[weightedMixture]], which only downsamples).
    *
    * Scale shape: one aggregate-sized count per source (tiny collect),
    * then a compiled `explode(sequence(0, floor(r)))` + hash filter —
    * rows fan out at most ceil(max rate) times and never shuffle.
    * Deterministic in (idCol, seed): re-runs give identical mixes, and
    * every partial-epoch row is a row the previous full epochs also
    * emitted. Output carries an `epoch` column (0-based copy index).
    *
    * Kept: the explicit-`totalOut` reference SamplingSpec compares
    * [[weightedMixtureUpsample]] against. */
  def weightedMixtureRepeat(df: DataFrame, sourceCol: String, idCol: String,
                            weights: Map[String, Double], totalOut: Long,
                            seed: Long = 42L): DataFrame = {
    require(totalOut > 0, s"totalOut must be positive, got $totalOut")
    mixtureRepeatImpl(df, sourceCol, idCol, weights, _ => totalOut, seed)
  }

  /** [[weightedMixtureRepeat]] with the output size derived INSIDE the
    * operator: `totalOut = totalOutMultiplier * (rows of the weighted
    * sources)`, read off the same per-source count aggregate the rates
    * need anyway. Use this instead of `totalOut = k * df.count()` at the
    * call site — that spends an extra full-scan driver action during
    * query construction; this variant's only action is the one
    * aggregate-sized counts collect every mixture derivation requires. */
  def weightedMixtureUpsample(df: DataFrame, sourceCol: String, idCol: String,
                              weights: Map[String, Double], totalOutMultiplier: Double,
                              seed: Long = 42L): DataFrame = {
    require(totalOutMultiplier > 0,
      s"totalOutMultiplier must be positive, got $totalOutMultiplier")
    mixtureRepeatImpl(df, sourceCol, idCol, weights,
      counts => math.max(1L, math.round(totalOutMultiplier * counts.values.sum)), seed)
  }

  private def mixtureRepeatImpl(df: DataFrame, sourceCol: String, idCol: String,
                                weights: Map[String, Double],
                                deriveTotal: Map[String, Long] => Long,
                                seed: Long): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(_ > 0), "weights must be positive")
    val wSum = weights.values.sum
    require(math.abs(wSum - 1.0) < 1e-6, s"weights must sum to 1, got $wSum")
    val counts = df.filter(col(sourceCol).isin(weights.keys.toSeq: _*))
      .groupBy(sourceCol).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = weights.keySet.diff(counts.keySet)
    require(missing.isEmpty,
      s"weighted sources absent from the data: ${missing.mkString(", ")}")
    val totalOut = deriveTotal(counts)
    val rates = weights.map { case (s, w) => s -> w * totalOut / counts(s) }
    val rate = coalesce(typedLit(rates).apply(col(sourceCol)), lit(0.0))
    val fullEpochs = floor(rate)
    // uniform-in-[0,1) from the Lehmer permutation of (id, seed): the
    // SAME slice every run, and — unlike an xxhash u — one an external
    // SQL engine re-derives exactly (priority/M with the identical
    // double division; the p7 oracle replays the partial epoch) */
    val u = lehmerPriority(col(idCol), seed).cast("double") / lit(2147483647.0)
    df.withColumn("epoch", explode(sequence(lit(0L), fullEpochs.cast("long"))))
      .filter(col("epoch") < fullEpochs ||
        (col("epoch") === fullEpochs && u < rate - fullEpochs))
  }

  /** Deterministic NEGATIVE sampling for contrastive training: for each
    * anchor row, `k` negatives drawn from a bounded candidate pool,
    * rejecting candidates that share the anchor's label (or are the
    * anchor itself) by bounded linear probing. Everything is exact
    * integer arithmetic on the [[lehmerPriority]] permutation —
    * `slot s` probes pool index `(perm(anchor·k + s) + r) mod |pool|`
    * for r = 0..probes−1 and keeps the first valid candidate — so the
    * draw is reproducible on any partitioning AND an external engine
    * re-derives every selection (the p1/p2/p9 discipline). A slot whose
    * probe chain finds only same-label candidates emits a null
    * `neg_id` (flagged, never silently dropped — a heavily imbalanced
    * pool should be visible, not invisible).
    *
    * Scale shape: the pool is collected ONCE (id-sorted, required
    * ≤ `maxPool` rows — pre-sample a bigger universe with
    * [[bottomKSample]] first) and rides the plan as two literal arrays;
    * per anchor the k·probes lookups are pure codegen'd `element_at`
    * arithmetic — zero shuffle, zero join, linear in anchors. Output:
    * (idCol, labelCol, slot, neg_id). */
  def negativeSamples(anchors: DataFrame, pool: DataFrame, idCol: String,
                      labelCol: String, k: Int, seed: Long = 1L,
                      probes: Int = 8, maxPool: Int = 65536): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(probes >= 1 && probes <= 64, s"probes must be in [1, 64], got $probes")
    val collected = pool.select(col(idCol).cast("long"), col(labelCol).cast("long"))
      .filter(col(idCol).isNotNull && col(labelCol).isNotNull)
      .distinct().orderBy(idCol).collect()
    require(collected.nonEmpty, "negativeSamples: candidate pool is empty")
    require(collected.length <= maxPool,
      s"negativeSamples: pool has ${collected.length} rows (> maxPool $maxPool) — " +
        "pre-sample it (bottomKSample) before collecting to a plan literal")
    val ids = collected.map(_.getLong(0))
    val labels = collected.map(_.getLong(1))
    val n = ids.length
    val idArr = typedLit(ids.toSeq)
    val labArr = typedLit(labels.toSeq)
    val base = pmod(lehmerPriority(col(idCol).cast("long") * lit(k.toLong) + col("slot"), seed),
      lit(n.toLong))
    val candAt = (r: Int) => {
      val idx = (pmod(base + lit(r.toLong), lit(n.toLong)) + 1L).cast("int")
      (element_at(idArr, idx), element_at(labArr, idx))
    }
    val neg = (0 until probes).map { r =>
      val (cid, clab) = candAt(r)
      when(clab =!= col(labelCol).cast("long") && cid =!= col(idCol).cast("long"), cid)
    }.reduce(coalesce(_, _))
    anchors.select(col(idCol), col(labelCol))
      .withColumn("slot", explode(sequence(lit(0L), lit(k - 1L))))
      .withColumn("neg_id", neg)
  }

  /** Deterministic epoch shuffle: a seeded pseudo-random but REPRODUCIBLE
    * global reordering — `orderBy(lehmerPriority(id, seed), id)`, i.e.
    * one range-partitioned sort on an 8-byte key. Changing `seed` gives
    * a different permutation (a new epoch); re-running the same seed
    * gives byte-identical order, which is what makes training runs
    * resumable and data-order bugs reproducible. `rand()`-based
    * shuffles lose exactly that under task retry.
    *
    * Scale shape: the sort key is a permutation of [0, M) — uniform by
    * construction — so the range exchange's sampled boundaries are
    * balanced regardless of how skewed `idCol` itself is. Downstream
    * writers inherit the permutation partition-by-partition. */
  def epochShuffle(df: DataFrame, idCol: String, seed: Long = 42L): DataFrame =
    // Lehmer priority, id tiebreak (ids >= M wrap mod M and can
    // collide): the permutation is a fixed multiplicative stride —
    // uniform on [0, M), so range boundaries stay balanced — and the
    // order key is exact integer arithmetic an external engine
    // re-derives, making the shuffle itself oracle-checkable (p6)
    df.orderBy(lehmerPriority(col(idCol), seed), col(idCol))

  /** Token-budget sampling: per `groupCol` value, keep rows in seeded-hash
    * order until the running `tokensCol` total reaches `budgetTokens` —
    * "take ~B tokens per source", the mixture-building primitive when the
    * budget is counted in TOKENS rather than documents. The selection
    * rule is "keep while the total BEFORE this row is < budget", so the
    * budget-crossing row is included (a nonzero budget always yields at
    * least one row per group) and the kept set is a deterministic prefix
    * of the group's hash permutation: membership is stable under
    * reprocessing and under other groups' changes.
    *
    * Scale shape — the naive formulation (a running-sum window over each
    * whole group) sorts every group in ONE task, a straggler for any
    * large source. Instead the weight-quantile pattern from the exact-
    * quartiles engine: the hash's TOP bits form `buckets` order-aligned
    * prefix buckets (bucket order == hash order), a map-side-combinable
    * aggregate collects per-(group, bucket) token sums (≤ groups×buckets
    * rows — aggregate-sized), the driver cumsums each group's buckets to
    * find its crossing bucket and the budget remaining at its start, and
    * only THAT bucket's rows (~1/buckets of the group) pay a window sort;
    * buckets before it are kept outright with a broadcast filter. The
    * result is row-for-row identical to the naive window (spec-pinned) at
    * a fraction of its sort cost. */
  def tokenBudgetSample(df: DataFrame, groupCol: String, idCol: String,
                        tokensCol: String, budgetTokens: Long,
                        seed: Long = 42L, buckets: Int = 1024): DataFrame = {
    require(budgetTokens >= 0, s"budget must be >= 0, got $budgetTokens")
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two >= 2, got $buckets")
    val spark = df.sparkSession
    import spark.implicits._
    // order-aligned bucket: top log2(buckets) bits of the 31-bit Lehmer
    // priority, so bucket ranks exactly like the priority value. Lehmer
    // (not xxhash) keys the selection so an external SQL engine replays
    // the EXACT kept set as integer arithmetic (the p8 oracle replays
    // the equivalent naive running-sum window — spec-pinned identical).
    val shift = 31 - java.lang.Long.numberOfTrailingZeros(buckets.toLong).toInt
    val h = lehmerPriority(col(idCol), seed)
    val bkt = shiftright(h, shift)
    val keyed = df.withColumn("__h", h).withColumn("__b", bkt)
    // Cast to string INSIDE the frame, before the aggregate: the cut
    // table round-trips group values through the driver, and Java
    // toString disagrees with Spark's cast for some types (Timestamp
    // renders "… 00:00:00.0" vs Spark's "… 00:00:00") — a join key
    // built driver-side would silently drop every row of such groups.
    // Aggregating on the Spark-rendered string makes the round trip an
    // identity.
    val perBucket = keyed.groupBy(col(groupCol).cast("string").as("__g"), col("__b"))
      .agg(sum(col(tokensCol)).cast("long").as("__t"))
      .collect()
    // driver: cumsum each group's buckets in bucket order -> first bucket
    // whose prefix crosses the budget, and the budget left at its start
    val byGroup = perBucket.groupBy(_.get(0))
    val cuts = byGroup.toSeq.flatMap { case (g, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      var prefix = 0L
      var cut: Option[(Any, Long, Long)] = None
      sorted.foreach { r =>
        if (cut.isEmpty) {
          if (prefix + r.getLong(2) >= budgetTokens)
            cut = Some((g, r.getLong(1), budgetTokens - prefix))
          prefix += r.getLong(2)
        }
      }
      // no crossing: whole group fits the budget -> sentinel above all
      // buckets keeps everything
      cut.orElse(Some((g, buckets.toLong, 0L)))
    }
    // __g is already a Spark-rendered string (or null); no re-rendering
    val cutDf = broadcast(cuts.map { case (g, b, r) => (Option(g).map(_.asInstanceOf[String]), b, r) }
      .toDF("__cg", "__cutb", "__rem"))
    // null-safe equality so a NULL group budgets like any other value
    val joined = keyed.join(cutDf, col(groupCol).cast("string") <=> col("__cg"))
    val before = joined.filter(col("__b") < col("__cutb"))
      .drop("__h", "__b", "__cg", "__cutb", "__rem")
    // only the crossing bucket pays a window sort (~1/buckets of a group)
    val wBucket = Window.partitionBy(col(groupCol)).orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val crossing = joined.filter(col("__b") === col("__cutb"))
      .withColumn("__prev", coalesce(sum(col(tokensCol)).over(wBucket), lit(0L)))
      .filter(col("__prev") < col("__rem"))
      .drop("__h", "__b", "__cg", "__cutb", "__rem", "__prev")
    before.unionByName(crossing)
  }

  // --- Poisson bootstrap ----------------------------------------------

  private val LehmerM = 2147483647L

  /** Integer cutpoints of the Poisson(1) inverse CDF on the Lehmer
    * range [0, M): a priority below `poissonThresholds(k)` means
    * resample weight ≤ k. Public so the oracle SQL embeds the SAME
    * literals — weight assignment is then an exact integer comparison
    * in any engine, with no float knife edge at the cuts. */
  val poissonThresholds: IndexedSeq[Long] = (0 to 7).map { k =>
    val cdf = (0 to k).map(j => math.exp(-1.0) / (1 to j).product).sum
    (cdf * LehmerM.toDouble).toLong
  }

  /** Poisson(1) resample weight from a Lehmer priority: the inverse-CDF
    * CASE chain over [[poissonThresholds]], capped at 8 (mass beyond is
    * ~1e-5; the cap keeps the chain short and the replay finite). */
  def poissonWeight(priority: Column): Column =
    poissonThresholds.zipWithIndex.foldRight(lit(8)) { case ((t, k), rest) =>
      when(priority < lit(t), lit(k)).otherwise(rest)
    }

  /** Poisson bootstrap of a column mean — the resampling scheme that
    * works at corpus scale because it never materializes a resample:
    * replicate b gives row i the deterministic weight
    * Poisson⁻¹(lehmerPriority(id, seed + b)/M), and all `b` replicate
    * (Σwx, Σw) pairs PLUS the unweighted point estimate are computed in
    * ONE map-side-combined aggregate over the corpus — one scan, 2(b+1)
    * running sums, no row ever duplicated b times. Per-row weights are
    * exact integer arithmetic end to end, so an external engine replays
    * the resample itself; only the final means divide.
    *
    * Returns b+1 rows: (replicate, n_eff, mean) with replicate 0 the
    * plain sample mean (weight 1 everywhere) and 1..b the bootstrap
    * replicates. */
  def poissonBootstrapMeans(df: DataFrame, idCol: String, valueCol: String,
                            b: Int, seed: Long = 1L): DataFrame = {
    require(b >= 2 && b <= 512, s"b must be in [2, 512], got $b")
    val x = col(valueCol).cast("double")
    val aggs = (0 to b).flatMap { i =>
      val w =
        if (i == 0) lit(1)
        else poissonWeight(lehmerPriority(col(idCol), seed + i))
      Seq(sum(w.cast("double") * x).as(s"__sx$i"),
        sum(w.cast("long")).as(s"__n$i"))
    }
    val rows = (0 to b).map { i =>
      struct(lit(i).as("replicate"), col(s"__n$i").as("n_eff"),
        (col(s"__sx$i") / col(s"__n$i").cast("double")).as("mean"))
    }
    df.filter(col(idCol).isNotNull && x.isNotNull)
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.replicate").as("replicate"), col("__r.n_eff").as("n_eff"),
        col("__r.mean").as("mean"))
  }

  /** Percentile-method bootstrap confidence interval for a column mean:
    * the [[poissonBootstrapMeans]] frame reduced to one row. Bounds are
    * the k_lo = ⌊α/2·b⌋+1 and k_hi = b−k_lo+1 order statistics of the
    * replicate means (ties broken by replicate id — the pick itself is
    * deterministic and replayable; the window orders b rows, not data).
    * Returns (b, n, point_mean, ci_lo, ci_hi). */
  def poissonBootstrapCi(df: DataFrame, idCol: String, valueCol: String,
                         b: Int, seed: Long = 1L,
                         alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val kLo = (alpha / 2 * b).toInt + 1
    val kHi = b - kLo + 1
    require(kLo < kHi, s"b=$b too small for alpha=$alpha")
    // ONE pass: the point row and the replicate ranks live in the same
    // b+1-row frame (the rank window partitions on the is-point flag so
    // replicate 0 never shifts the order statistics) — a second
    // reference to the replicate frame would rescan the corpus
    val rn = row_number().over(Window
      .partitionBy(col("replicate") === lit(0))
      .orderBy(col("mean"), col("replicate")))
    poissonBootstrapMeans(df, idCol, valueCol, b, seed)
      .withColumn("__rn", rn)
      .agg(
        min(when(col("replicate") === 0, col("n_eff"))).as("n"),
        min(when(col("replicate") === 0, col("mean"))).as("point_mean"),
        min(when(col("replicate") > 0 && col("__rn") === kLo, col("mean"))).as("ci_lo"),
        min(when(col("replicate") > 0 && col("__rn") === kHi, col("mean"))).as("ci_hi"))
      .select(lit(b).as("b"), col("n"), col("point_mean"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Neyman-optimal stratified sample allocation: spend a `budget` of
    * draws across strata proportionally to N_h·S_h (stratum size times
    * its value's sample standard deviation) — the allocation that
    * minimizes the stratified-mean variance for a fixed budget, and
    * the principled answer to "how many rows from each source should
    * the eval sample take?". Degenerate inputs fall back to
    * proportional allocation (all strata constant → S_h = 0 for every
    * h). Integer allocations use the largest-remainder method (floor
    * each, then +1 to the largest fractional parts, ties to the
    * lexicographically smaller stratum), so Σ n_alloc == budget
    * EXACTLY and every step replays externally.
    *
    * Scale shape: ONE map-side-combinable census aggregate over the
    * corpus (count + decimal power sums per stratum — the a26
    * exactness discipline), then a driver-side fold over the
    * ≤|strata|-row AGGREGATE census (never raw rows, no unpartitioned
    * window). Returns (stratum, n, sd, share, n_alloc), the feed for
    * [[lehmerStratifiedTake]]'s per-stratum take counts. */
  def neymanAllocation(df: DataFrame, strataCol: String, valueCol: String,
                       budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val x = col(valueCol).cast("decimal(18,6)")
    val census = df
      .filter(col(strataCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(strataCol).cast("string").as("stratum"))
      .agg(count(lit(1)).as("n"), sum(x).as("__sx"), sum(x * x).as("__sxx"))
    val nd = col("n").cast("double")
    val sd = when(col("n") >= 2,
      sqrt((col("__sxx").cast("double") -
        col("__sx").cast("double") * col("__sx").cast("double") / nd) /
        (nd - 1.0))).otherwise(lit(0.0))
    // the share/largest-remainder algebra folds driver-side over the
    // ≤|strata|-row AGGREGATE census (the calibrationBins/D1 contract:
    // aggregates only, never raw rows) in stratum order — no
    // unpartitioned window, fully deterministic remainder ranking
    val rows = census.withColumn("sd", sd)
      .collect()
      .map(r => (r.getAs[String]("stratum"), r.getAs[Long]("n"),
        r.getAs[Double]("sd")))
      .sortBy(_._1)
    val tm = rows.iterator.map { case (_, n, s) => n.toDouble * s }.sum
    val tn = rows.iterator.map(_._2).sum
    val shares = rows.map { case (st, n, s) =>
      st -> (if (tm > 0) n.toDouble * s / tm else n.toDouble / tn)
    }
    val alloc = largestRemainder(shares, budget)
    val shareOf = shares.toMap
    val spark = df.sparkSession
    import spark.implicits._
    rows.map { case (st, n, s) => (st, n, s, shareOf(st), alloc(st)) }
      .toSeq.toDF("stratum", "n", "sd", "share", "n_alloc")
  }

  /** Exact largest-remainder apportionment of `budget` across `shares`
    * (key → share; shares are expected to sum to ~1): floor each exact
    * quota budget·share, then hand the integer shortfall out as +1s in
    * (−fractional remainder, key) order — the deterministic tie-break
    * every allocation operator here uses ([[neymanAllocation]], the c8
    * mix planner). Σ allocations == budget EXACTLY, and every step is
    * integer-or-replayable-double algebra an external engine re-derives. */
  /** Mixture ANNEALING schedule — the curriculum every multi-source
    * pretraining run plans: epoch 0 samples sources uniformly (maximum
    * coverage while the model can't yet exploit quality), the last
    * epoch samples at the target mixture, and epochs between
    * interpolate linearly: w_e = (1−α)/k + α·target with
    * α = e/(epochs−1). Each epoch's `budgetPerEpoch` is apportioned to
    * integer quotas by [[largestRemainder]] (exact budget preservation,
    * deterministic ties), and each quota is reported against the
    * corpus's ACTUAL per-source supply — `repeat_factor` > 1 is the
    * epochs-of-data warning that a source will be repeated.
    *
    * Scale shape: ONE source census (map-side-combined; the shuffle
    * carries sources, not rows) collected as driver scalars (D1), then
    * pure driver algebra over epochs × sources — the returned schedule
    * is a literal frame. Returns (epoch, source, weight, quota,
    * available, repeat_factor); repeat_factor NULL for a source absent
    * from the corpus. */
  def mixtureAnnealSchedule(df: DataFrame, sourceCol: String,
                            targets: Seq[(String, Double)], epochs: Int,
                            budgetPerEpoch: Long): DataFrame = {
    require(epochs >= 2, s"epochs must be >= 2, got $epochs")
    require(budgetPerEpoch > 0, s"budgetPerEpoch must be > 0, got $budgetPerEpoch")
    require(targets.nonEmpty, "mixtureAnnealSchedule needs target weights")
    targets.foreach { case (s, t) =>
      require(t > 0, s"target weight for $s must be > 0, got $t") }
    require(math.abs(targets.map(_._2).sum - 1.0) < 1e-9,
      s"target weights must sum to 1, got ${targets.map(_._2).sum}")
    val spark = df.sparkSession
    val avail: Map[String, Long] = df
      .filter(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol).cast("string").as("__s"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val k = targets.size
    val rows: Seq[org.apache.spark.sql.Row] = (0 until epochs).flatMap { e =>
      val a = e.toDouble / (epochs - 1).toDouble
      val weights = targets.map { case (s, t) => s -> ((1.0 - a) / k + a * t) }
      val quotas = largestRemainder(weights, budgetPerEpoch)
      weights.map { case (s, w) =>
        val q = quotas(s)
        val av = avail.getOrElse(s, 0L)
        org.apache.spark.sql.Row(e.toLong, s, w, q, av,
          if (av > 0) q.toDouble / av else null)
      }
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("epoch",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("weight",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("quota",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("available",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("repeat_factor",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
  }

  def largestRemainder(shares: Seq[(String, Double)], budget: Long): Map[String, Long] = {
    val scored = shares.map { case (k, s) =>
      val exact = budget.toDouble * s
      val base = math.floor(exact).toLong
      (k, base, exact - base)
    }
    val short = budget - scored.iterator.map(_._2).sum
    val bonus = scored.sortBy { case (k, _, f) => (-f, k) }
      .take(math.max(0L, short).toInt).map(_._1).toSet
    scored.map { case (k, b, _) => k -> (b + (if (bonus(k)) 1L else 0L)) }.toMap
  }

  /** Padding-efficiency report for fixed-size training batches: every
    * sequence in a batch pads to the batch max, so batching in arrival
    * order wastes `Σ_b batchSize·max_b − Σ len` tokens while
    * length-SORTED batching (the standard bucketing trick) puts
    * near-equal lengths together and shrinks the waste to near zero.
    * One row per strategy — (strategy, n_docs, n_batches, sum_tokens,
    * padded_tokens, pad_waste) — quantifies exactly how much compute
    * the sort buys before anyone changes the loader.
    *
    * Scale shape: each strategy's global rank comes from range
    * partitions + per-partition running count + ≤#partitions driver
    * prefix offsets ([[OrderStatistics.prefixOffsets]] — never a
    * single-partition window); batch = rank div
    * batchSize, per-batch stats fold map-side, and BOTH final rows are
    * collected inside the persist scope (aggregates-only), so the
    * returned frame is a literal lift. Ranks are total orders ((len,
    * id) and (id), id unique), so the report is deterministic. */
  def paddingEfficiency(df: DataFrame, idCol: String, lenCol: String,
                        batchSize: Int): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val spark = df.sparkSession
    val base = df
      .filter(col(idCol).isNotNull && col(lenCol).isNotNull)
      .select(col(idCol).as("__id"), col(lenCol).cast("long").as("__len"))
    def strategy(tag: String, keys: Seq[Column]): (String, Long, Long, Long, Long) =
      OrderStatistics.prefixOffsets(base, keys, Seq(lit(1L))) { (parts, off) =>
        if (off.grand(0) == 0L) (tag, 0L, 0L, 0L, 0L)
        else {
          val r = parts
            .withColumn("__r", count(lit(1)).over(OrderStatistics.cumulative(keys: _*)) +
              off.startCol(0) - 1)
            .withColumn("__b", expr(s"__r div ${batchSize}L"))
            .groupBy("__b")
            .agg(count(lit(1)).as("bn"), max("__len").as("bmax"),
              sum("__len").as("bsum"))
            .agg(count(lit(1)).as("nb"), sum("bn").as("nd"),
              sum(col("bmax") * col("bn")).as("padded"), sum("bsum").as("toks"))
            .head()
          (tag, r.getLong(1), r.getLong(0), r.getLong(3), r.getLong(2))
        }
      }
    val rows = Seq(
      strategy("arrival_order", Seq(col("__id"))),
      strategy("length_sorted", Seq(col("__len"), col("__id"))))
      .map { case (tag, nd, nb, toks, padded) =>
        (tag, nd, nb, toks, padded,
          if (padded > 0) Some(1.0 - toks.toDouble / padded) else None)
      }
    import spark.implicits._
    rows.toDF("strategy", "n_docs", "n_batches", "sum_tokens",
      "padded_tokens", "pad_waste")
  }
}
