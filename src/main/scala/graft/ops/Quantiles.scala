package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** Grouped EXACT interpolated quantiles (`percentile_cont` semantics:
  * position p·(n−1), linear interpolation between the two bracketing
  * order statistics) with a memory-gated physical plan.
  *
  * The reference computes quartiles per stratum with
  * `percentile_approx(col, q, n+1)` (/root/reference/tableone_pyspark.py:384-388);
  * this operator is the grouped generalization with arbitrary
  * probabilities and a plan that survives any group size.
  *
  * Two regimes, complementary by construction:
  *
  *  - MANY SMALL groups: Spark's native `percentile` sort aggregate is
  *    the right plan — its per-group buffer (an OpenHashMap of
  *    value→count) is bounded by the group's size/cardinality, the agg
  *    is a single hash exchange, and nothing touches the driver. The
  *    gate keeps this path whenever the LARGEST group's row count is at
  *    most `maxBufferedPerGroup`.
  *  - FEW HUGE groups (the 100 TB shape: 3 return-flags × 10^10 rows):
  *    that buffer grows linearly with the group and OOMs an executor.
  *    [[groupedQuantilesExact]] instead hands the per-(group, value)
  *    histogram to [[OrderStatistics.pick]]: range partitions, driver
  *    prefix sums of partition subtotals (O(#groups × #partitions) —
  *    aggregate-sized in this regime), and each partition emits the
  *    order statistics whose global rank falls inside it. Every stage is
  *    parallel in the number of range partitions; per-executor memory is
  *    bounded by partition size, not group size.
  *
  * The pathological corpus with BOTH 10^6+ groups and a multi-billion-row
  * group would make the exact path's driver bookkeeping large; route such
  * data by raising `maxBufferedPerGroup` (executors with the memory to
  * sort the big group) or pre-splitting hot groups. The gate's one
  * max-group-size job is a map-side-combined count — negligible against
  * either path.
  */
object Quantiles {

  /** Gated grouped quantiles: one cheap max-group-size probe job, then
    * either the native `percentile` sort aggregate (max group ≤
    * `maxBufferedPerGroup`) or the distributed order-statistics pass.
    * Both paths return identical values (spec-pinned): one row per
    * group, `groupCol` cast to string, one double column per `(name, p)`
    * in `ps`. Rows whose value is null are ignored; a group with only
    * nulls is absent from the output (it has no order statistics).
    *
    * @param maxBufferedPerGroup largest group row-count the native sort
    *        aggregate is allowed to buffer on one executor. Default 4M
    *        values ≈ 32 MB of doubles per group — comfortably inside an
    *        executor, far above the crossover where the distributed
    *        pass's ~4 scheduling round-trips stop mattering. */
  def groupedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                       ps: Seq[(String, Double)],
                       maxBufferedPerGroup: Long = 4L << 20): DataFrame = {
    requirePs(ps)
    // pre-filter nulls: percentile ignores them anyway, and dropping
    // all-null groups HERE makes both paths agree that such a group is
    // absent from the output
    val nonNull = df.filter(col(valueCol).isNotNull)
    val maxGroup = nonNull
      .groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).head()
    val maxN = if (maxGroup.isNullAt(0)) 0L else maxGroup.getLong(0)
    if (maxN <= maxBufferedPerGroup) {
      // ONE percentile buffer per group, not one per requested p: N
      // separate `percentile(col, p)` aggregates each accumulate and
      // sort their OWN copy of the same group's values (4 quantiles =
      // 4x the buffering and 4 sorts); the array form shares a single
      // buffer and one sort across every p. Identical values — same
      // aggregate, fanned back out to the named columns.
      val pList = ps.map(_._2).mkString(",")
      nonNull.groupBy(col(groupCol).cast("string").as(groupCol))
        .agg(expr(s"percentile(`$valueCol`, array($pList))").as("__qs"))
        .select(col(groupCol) +: ps.zipWithIndex.map { case ((name, _), i) =>
          col("__qs").getItem(i).as(name) }: _*)
    } else groupedQuantilesExact(df, groupCol, valueCol, ps)
  }

  /** The distributed order-statistics path — always safe, never buffers
    * a group. See the object doc for the plan shape. Public so a caller
    * who KNOWS the corpus shape (and the a13 driver query, which must
    * exercise this path at every scale) can bypass the probe job. */
  def groupedQuantilesExact(df: DataFrame, groupCol: String, valueCol: String,
                            ps: Seq[(String, Double)]): DataFrame = {
    requirePs(ps)
    val spark = df.sparkSession
    val hist = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast(DoubleType).as("v"))
      .filter(col("v").isNotNull)
      .groupBy("g", "v").agg(count(lit(1)).as("w"))
    // position p·(n−1) as (1-indexed order statistic at its floor, its
    // fractional part): the pick brackets it with floor+1 and, when the
    // fraction is nonzero, floor+2
    def position(n: Long, p: Double): (Long, Double) = {
      val r = p * (n - 1).toDouble
      (math.floor(r).toLong + 1, r - math.floor(r))
    }
    val (totals, at) = OrderStatistics.pick[String](hist, col("g"), Seq(col("g"), col("v")),
      n => ps.flatMap { case (_, p) =>
        val (lo, frac) = position(n, p)
        if (frac == 0.0) Seq(lo) else Seq(lo, lo + 1)
      })
    // null group key (a null stratum is a legitimate group) sorts last
    val groupsSorted = totals.keys.toSeq.filter(_ != null).sorted ++
      totals.keys.toSeq.filter(_ == null)
    val rows: Seq[Row] = groupsSorted.map { g =>
      val qs = ps.map { case (_, p) =>
        val (lo, frac) = position(totals(g).n, p)
        val vlo = at((g, lo))
        // identical arithmetic as Spark's percentile and DuckDB's
        // quantile_cont: lower + (higher − lower) · frac
        java.lang.Double.valueOf(if (frac == 0.0) vlo else vlo + (at((g, lo + 1)) - vlo) * frac)
      }
      Row.fromSeq(g +: qs)
    }
    val schema = StructType(
      StructField(groupCol, StringType, nullable = true) +:
        ps.map(p => StructField(p._1, DoubleType, nullable = true)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
  }

  /** Clamp `valueCol` into per-group `[__lo, __hi]` bounds (one row per
    * group, `g` = the group key cast to string — the shape both
    * quantile paths emit). The bounds frame is aggregate-sized by
    * construction, but HOW it attaches matters: joining even a 3-row
    * broadcast against a wide scan measured ~10x the cost of the whole
    * clamp aggregate at sf10 (6–8 s vs 0.7 s for 60M rows — the
    * per-row string-key hash probe dwarfs the arithmetic it feeds), so
    * when the bounds fit a codegen'd branch chain (≤ `maxLiteralGroups`)
    * they attach as pure literal conditionals — zero join, zero
    * broadcast, whole-stage codegen end to end. Bigger group counts
    * fall back to a left broadcast-hash join. Rows of groups with no
    * bounds row (all-null groups) pass through unclamped on BOTH paths
    * (`least`/`greatest` skip null operands; the join path is LEFT
    * outer for the same reason). */
  def clampToBounds(df: DataFrame, groupCol: String, valueCol: String,
                    bounds: DataFrame, maxLiteralGroups: Int = 64): DataFrame = {
    require(bounds.columns.length == 3,
      s"bounds must be (group, lo, hi), got ${bounds.columns.mkString(",")}")
    val Array(gName, loName, hiName) = bounds.columns
    val gStr = col(groupCol).cast(StringType)
    // the probe stays aggregate-sized whatever the real group count is
    val probe = bounds.limit(maxLiteralGroups + 1).collect()
    if (probe.length <= maxLiteralGroups) {
      def attach(idx: Int): org.apache.spark.sql.Column =
        probe.map { r =>
          val cond = if (r.isNullAt(0)) gStr.isNull else gStr === lit(r.getString(0))
          when(cond, if (r.isNullAt(idx)) lit(null).cast(DoubleType) else lit(r.getDouble(idx)))
        }.reduceOption(coalesce(_, _)).getOrElse(lit(null).cast(DoubleType))
      df.withColumn(valueCol, least(greatest(col(valueCol), attach(1)), attach(2)))
    } else
      df.join(broadcast(bounds.select(col(gName).as("__g"),
            col(loName).as("__lo"), col(hiName).as("__hi"))),
          gStr <=> col("__g"), "left_outer")
        .withColumn(valueCol, least(greatest(col(valueCol), col("__lo")), col("__hi")))
        .drop("__g", "__lo", "__hi")
  }

  /** Grouped robust center/spread: per-group median and MAD (median
    * absolute deviation, `median(|x − median(x)|)`), the
    * outlier-immune counterparts of mean/stddev — a single 3σ-style
    * corrupted value moves a mean arbitrarily far but moves a median
    * not at all, which is why robust scaling is the standard
    * preprocessing for corpus statistics nobody hand-cleaned.
    *
    * Two quantile passes, each routed through [[groupedQuantiles]]'
    * memory gate (so any group shape survives): medians, then medians
    * of the residuals — with the group medians attached to the residual
    * scan by the same literal-branch-chain gate as [[clampToBounds]]
    * (≤ `maxLiteralGroups` groups; beyond that a broadcast join, which
    * is also the regime where the join cost stops mattering relative to
    * group size). Returns one row per group: (group, median, mad). */
  def groupedMad(df: DataFrame, groupCol: String, valueCol: String,
                 maxBufferedPerGroup: Long = 4L << 20,
                 maxLiteralGroups: Int = 64): DataFrame = {
    val med = groupedQuantiles(df, groupCol, valueCol,
      Seq("med" -> 0.5), maxBufferedPerGroup)
    val gStr = col(groupCol).cast(StringType)
    val probe = med.limit(maxLiteralGroups + 1).collect()
    val resid =
      if (probe.length <= maxLiteralGroups) {
        val m = probe.map { r =>
          val cond = if (r.isNullAt(0)) gStr.isNull else gStr === lit(r.getString(0))
          when(cond, lit(r.getDouble(1)))
        }.reduceOption(coalesce(_, _)).getOrElse(lit(null).cast(DoubleType))
        df.select(gStr.as(groupCol),
          abs(col(valueCol).cast(DoubleType) - m).as("__r"))
      } else
        df.join(broadcast(med.select(gStr.as("__g"), col("med").as("__m"))),
            gStr <=> col("__g"), "inner")
          .select(gStr.as(groupCol),
            abs(col(valueCol).cast(DoubleType) - col("__m")).as("__r"))
    // null-safe final join: a null group key is a legitimate group
    groupedQuantiles(resid, groupCol, "__r", Seq("mad" -> 0.5), maxBufferedPerGroup)
      .join(med.select(gStr.as("__gj"), col("med")),
        col(groupCol) <=> col("__gj"), "inner")
      .select(col(groupCol), col("med").as("median"), col("mad"))
  }

  private def requirePs(ps: Seq[(String, Double)]): Unit = {
    require(ps.nonEmpty, "need at least one (name, p)")
    ps.foreach { case (n, p) =>
      require(p >= 0.0 && p <= 1.0, s"p for `$n` must be in [0, 1], got $p")
    }
    require(ps.map(_._1).distinct.size == ps.size, "duplicate output names")
  }

  /** Exact per-group MODE (most frequent value) with a deterministic
    * tie-break to the smallest value — the categorical companion of the
    * median/MAD pair above. Two map-side-combinable aggregations: the
    * (group, value) census, then one `min(struct(-count, value))` per
    * group (struct ordering is field-by-field, so -count ranks by
    * frequency first, value breaks ties). Shuffle volume is bounded by
    * distinct (group, value) pairs — a categorical value column keeps
    * it tiny at any corpus size, and nothing ever buffers a group.
    * Returns (group, mode, mode_n, n). */
  def groupedMode(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(groupCol))
      .agg(min(struct((-col("__c")).as("nc"), col(valueCol).as("v"))).as("__b"),
        sum(col("__c")).as("n"))
      .select(col(groupCol), col("__b.v").as("mode"),
        (-col("__b.nc")).as("mode_n"), col("n"))

  /** Shannon entropy (nats) of the VALUE distribution per group, plus
    * the distinct-value count and the normalized evenness H / ln(k) —
    * the diversity profile of a categorical column (is a partition
    * dominated by one label, or balanced?). Exact algebra avoids any
    * per-group value array: -Σ (c/n)·ln(c/n) = ln(n) − (Σ c·ln c)/n,
    * so after the same (group, value) census as [[groupedMode]] the
    * entropy is TWO more map-side-combinable sums — shuffle stays
    * bounded by distinct pairs, and nothing ever buffers a group.
    * Single-value groups report entropy 0 and evenness NULL (ln(1) = 0
    * denominators are undefined, not zero). */
  def groupedEntropy(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val c = col("__c").cast("double")
    df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n"),
        count(lit(1)).as("n_distinct"),
        sum(c * log(c)).as("__sclc"))
      .select(col(groupCol), col("n"), col("n_distinct"),
        (log(col("n").cast("double")) - col("__sclc") / col("n").cast("double"))
          .as("entropy"),
        when(col("n_distinct") > 1,
          (log(col("n").cast("double")) - col("__sclc") / col("n").cast("double"))
            / log(col("n_distinct").cast("double")))
          .as("evenness"))
  }

  /** Exact WEIGHTED median per group: the smallest value v with
    * cumulative weight(≤ v) ≥ total/2 — the lower weighted median, the
    * convention that degenerates to the lower median at unit weights.
    * Weights ride as `decimal(28, 10)` end to end, so the cumulative
    * sums and the ×2-vs-total comparison are EXACT integer-scaled
    * arithmetic — no float knife edge can flip the pick, and an
    * external engine replays the selection itself.
    *
    * Scale shape: the corpus reduces to one row per DISTINCT (group,
    * value) pair (map-side-combined weight sums) BEFORE the per-group
    * cumulative window, so the window sorts distinct values, not rows —
    * the same census discipline as [[groupedMode]]. For a value column
    * with unbounded per-group cardinality AND unit weights, prefer
    * [[groupedQuantilesExact]] (range-partitioned, no per-group
    * window); this operator's contract is bounded distinct values per
    * group. Returns (group, total_w, median). Non-positive or null
    * weights are rejected per row (a zero-weight row cannot carry a
    * median). */
  def groupedWeightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                            weightCol: String): DataFrame = {
    val w = col(weightCol).cast("decimal(28,10)")
    val census = df
      .filter(col(valueCol).isNotNull && w.isNotNull && (w > 0))
      .groupBy(col(groupCol), col(valueCol).cast("double").as("__v"))
      .agg(sum(w).as("__w"))
    val win = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col(groupCol))
    census
      .withColumn("__cw", sum("__w").over(win))
      .withColumn("__tw", sum("__w").over(tot))
      .filter(col("__cw") * 2 >= col("__tw"))
      .groupBy(col(groupCol))
      .agg(min(col("__v")).as("median"), min(col("__tw")).as("total_w"))
      .select(col(groupCol), col("total_w"), col("median"))
  }

  /** Quantile normalization across feature columns — the preprocessing
    * transform that forces every feature onto the SAME empirical
    * distribution (the mean of the per-rank order statistics), the
    * bioinformatics/feature-harmonization standard. Rows with any null
    * feature are dropped first so every feature carries the same count
    * and ranks align; within-feature ties are ordered by `idCol`
    * (row_number semantics — deterministic and externally replayable;
    * classical tie-averaging can be layered on the output).
    *
    * Scale shape: ranks are global per-feature order statistics, but
    * features are FEW by nature, so a window partitioned by the feature
    * name serializes each feature into one sort task (measured 273 s at
    * the 100x bench scale on 2 features vs ~8 s here — the v9/p17
    * few-fat-groups class). Instead, every rank derives from COUNTS:
    * a (feature, value) census (map-side-combinable), equal-width
    * value buckets per feature (a8's broadcast-bounds shape) whose
    * per-bucket sums prefix into deterministic rank offsets — no range
    * sampling, no persist, one lineage — then
    * rank = offset + cum-within-bucket + tie position by `idCol`
    * (windows keyed (feature, bucket) and (feature, value): thousands
    * of keys, never |features| tasks). The rank-mean reference is a
    * map-side-combined aggregate joined back by rank. Extreme skew
    * (one value dominating a feature) shrinks bucket parallelism back
    * toward the tie window's value-group sizes — still bounded by the
    * hottest single value, not the feature.
    * Returns (id, feature, rank, value, normalized). */
  /** Per-(feature, value) count and strictly-below count WITHOUT a
    * per-feature global sort: the (feature, value) census buckets into
    * `nb` equal-width value ranges per feature (broadcast bounds),
    * per-bucket sums prefix into rank offsets over a (feature)-keyed
    * census-of-censuses window, and the in-bucket cumsum runs keyed
    * (feature, bucket) — thousands of keys, never |features| sort
    * tasks (the a23 few-fat-groups construction). Input needs columns
    * (__f, __x); returns (__f, __x, __c, __before) where `__before` is
    * the number of rows of the feature with a strictly smaller value —
    * everything rank-like (quantile normalization's row ranks, the
    * a26 tie-averaged Spearman ranks) derives from it. */
  private[ops] def valueCumBefore(melted: DataFrame, nb: Int = 4096): DataFrame =
    cumBeforeFromCensus(
      melted.groupBy(col("__f"), col("__x")).agg(count(lit(1)).as("__c")), nb)

  /** Same contract as [[valueCumBefore]] but over an ALREADY-BUILT
    * (__f, __x, __c) census — for callers (the tableone rank tests)
    * that hold per-value counts from their own aggregate and must not
    * rescan the corpus. Package-wide so graft.tableone can route its
    * rank census through the bucketed cumsum instead of an
    * unpartitioned single-task window. */
  private[graft] def cumBeforeFromCensus(census: DataFrame, nb: Int = 4096): DataFrame = {
    val bounds = census.groupBy("__f").agg(min("__x").as("__lo"), max("__x").as("__hi"))
    val withB = census.join(broadcast(bounds), Seq("__f"))
      .withColumn("__bk", when(col("__hi") > col("__lo"),
          least(floor((col("__x") - col("__lo")) /
            (col("__hi") - col("__lo")) * nb), lit(nb - 1).cast("long")))
        .otherwise(lit(0L)).cast("int"))
      .select(col("__f"), col("__x"), col("__c"), col("__bk"))
    val wOff = Window.partitionBy("__f").orderBy("__bk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketOffsets = withB.groupBy("__f", "__bk").agg(sum("__c").as("__bc"))
      .withColumn("__boff", coalesce(sum("__bc").over(wOff), lit(0L)))
      .select(col("__f"), col("__bk"), col("__boff"))
    val wCum = Window.partitionBy("__f", "__bk").orderBy("__x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.join(broadcast(bucketOffsets), Seq("__f", "__bk"))
      .withColumn("__cumIn", sum("__c").over(wCum))
      .select(col("__f"), col("__x"), col("__c"),
        (col("__boff") + col("__cumIn") - col("__c")).as("__before"))
  }

  def quantileNormalize(df: DataFrame, idCol: String,
                        featureCols: Seq[String]): DataFrame = {
    require(featureCols.size >= 2, "need at least two features to harmonize")
    val complete = featureCols.foldLeft(df.filter(col(idCol).isNotNull)) {
      (d, c) => d.filter(col(c).isNotNull)
    }
    val melted = complete.select(col(idCol).as("__id"),
      explode(array(featureCols.map(c =>
        struct(lit(c).as("f"), col(c).cast("double").as("x"))): _*)).as("__c"))
      .select(col("__id"), col("__c.f").as("__f"), col("__c.x").as("__x"))
    val cumBefore = valueCumBefore(melted).select("__f", "__x", "__before")
    // Tie-break rank WITHOUT a (feature, value)-partitioned row window:
    // that window's parallelism equals the features' NDV sum BY
    // CONSTRUCTION (on lineitem ~61 partitions carrying every melted row
    // — measured 54-65 s at the 100x bench scale, each hot value one
    // multi-million-row single-task sort that no cluster size can split).
    // Instead the stitched bucket rank (the stratifiedFolds / p17
    // construction): order-aligned equal-width buckets of the numeric id
    // (broadcast global bounds — one cheap agg over the unmelted frame),
    // a tiny (feature, value, bucket) census whose per-(feature, value)
    // prefix sum gives each bucket's starting offset inside its tie
    // group, and the per-row row_number runs keyed (feature, value,
    // bucket) — parallelism bounded by bucket width, not value
    // frequency. For a natively numeric id column, bucketing is a
    // monotone map of `id`, so
    //   offset(bucket) + row_number within bucket  ==  row_number within
    // the whole (feature, value) tie group ordered by id — bit-identical
    // to the window it replaces (spec-pinned partition-independence).
    // A STRING id column that casts cleanly gets a deterministic tie
    // order that is numeric across buckets but lexicographic within one
    // (the tie window orders the raw string), so it can differ from a
    // pure orderBy(id) and depends on the bucket boundaries.
    // A fully-UNcastable id column yields null bounds and collapses to
    // ONE bucket = exactly the old plan. MIXED castability is the one
    // case that deviates from pure orderBy(id) tie order: uncastable
    // ids land in the never-null sentinel bucket -1 (sorting before
    // every real bucket, id-ordered within it) and castable ids follow
    // in numeric-bucket order. The sentinel — not a null __tbk — is
    // what keeps the census attach an inner join that LOSES NO ROWS:
    // a null bucket key would silently drop those rows and leave rank
    // gaps (spec-pinned). try_cast, not cast: the session runs ANSI,
    // where a plain cast of an uncastable id THROWS instead of nulling
    // — both documented fallbacks only exist via try_cast.
    val nb = 4096
    def idNum(c: org.apache.spark.sql.Column) = c.try_cast("double")
    val idBounds = complete.agg(
      min(idNum(col(idCol))).as("__ilo"),
      max(idNum(col(idCol))).as("__ihi"))
    val bucketed = melted.crossJoin(broadcast(idBounds))
      // the null test must be ITS OWN branch: least() skips null
      // operands, so folding the null case into the least(...) arm
      // would quietly merge uncastable ids into the top real bucket
      .withColumn("__tbk",
        when(idNum(col("__id")).isNull, lit(-1))
          .when(col("__ihi") > col("__ilo"),
            least(floor((idNum(col("__id")) - col("__ilo")) /
              (col("__ihi") - col("__ilo")) * nb), lit(nb - 1).cast("long")))
          .otherwise(lit(0L)).cast("int"))
      .drop("__ilo", "__ihi")
    val tieCensus = bucketed.groupBy("__f", "__x", "__tbk")
      .agg(count(lit(1)).as("__tc"))
    val wOff = Window.partitionBy("__f", "__x").orderBy("__tbk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tieOffsets = tieCensus
      .withColumn("__toff", coalesce(sum("__tc").over(wOff), lit(0L)))
      .select("__f", "__x", "__tbk", "__toff")
    val wTie = Window.partitionBy("__f", "__x", "__tbk").orderBy("__id")
    // shuffle_hash, not sort-merge, for the census attach: SMJ would
    // SORT the full melted relation by (f, x, bucket) just to join, then
    // the tie window sorts it AGAIN by (f, x, bucket, id) — the hash
    // join builds only the census slice per partition (bounded by the
    // census, not the corpus) and leaves the big side unsorted for the
    // window's single sort.
    val ranked = bucketed.join(cumBefore, Seq("__f", "__x"))
      .join(tieOffsets.hint("shuffle_hash"), Seq("__f", "__x", "__tbk"))
      .withColumn("__rank",
        col("__before") + col("__toff") + row_number().over(wTie))
    // Rank-mean reference as a WINDOW aggregate over the rank key, not a
    // groupBy + self-join: the join formulation duplicated the entire
    // scan -> census -> rank pipeline on both sides of a SortMergeJoin
    // (the subtrees differ by the aggregate, so ReuseExchange cannot
    // collapse them) and paid two extra rank exchanges. One avg window
    // over millions of tiny rank groups is the regular per-key shape;
    // every row of a rank group carries the group's avg — exactly what
    // the inner equi-join produced (a reference row exists for every
    // rank by construction).
    ranked
      .withColumn("__ref", avg(col("__x")).over(Window.partitionBy("__rank")))
      .select(col("__id").as(idCol), col("__f").as("feature"),
        col("__rank").as("rank"), col("__x").as("value"),
        col("__ref").as("normalized"))
  }
}
