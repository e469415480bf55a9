package graft.tableone

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Nonparametric rank tests — the "nonnormal" companion to the
  * moment-based [[StatTests]] (clinical Table 1 reports typically offer
  * both: t-test/ANOVA for normal variables, Mann-Whitney /
  * Kruskal-Wallis for skewed ones). Reference scope ends at the
  * parametric tests (tableone_pyspark.py:388-432); these are the
  * beyond-parity extension.
  *
  * Both tests are computed WITHOUT ranking rows: average ranks are a
  * pure function of the (value → per-group count) census, so the corpus
  * reduces to one map-side-combined aggregate over DISTINCT values
  * before any window touches data — the [[graft.ops.Quantiles]] census
  * discipline. The cumulative strictly-smaller counts then come from
  * the bucketed prefix-sum ([[graft.ops.Quantiles.cumBeforeFromCensus]]),
  * so no window is ever unpartitioned: a continuous value column with
  * tens of millions of distinct values ranks in 4096-way-parallel
  * bucket tasks, not one global sort task.
  *
  * Numeric posture: average ranks are half-integers and per-census-row
  * rank-sum terms are integer multiples of 0.5, so every rank sum is
  * EXACT (order-independent) until 2^52 — an external engine replaying
  * the same census reproduces U, H, and the tie term bit-for-bit; only
  * the final z / H normalizations involve real division and sqrt.
  */
object RankTests {

  /** NDV gate between the two cumulative-count plans: at or under the
    * gate the distinct-value frame is report-sized and the single
    * ordered window over it is both correct and ~3 stages cheaper;
    * above it that window is a one-task sort of a frame that grows with
    * the data, so the bucketed 4096-way prefix-sum takes over. */
  private final val NdvGate = 65536L

  /** Build the ranked census, hand it to `use` (which must MATERIALIZE
    * its result — both public tests collect a one-row report), release
    * the persist. The census is persisted because the gate needs its
    * distinct-value count as an eager action, and the ranked plan must
    * not recompute the corpus scan afterwards (the brierDecomposition
    * persist-scope pattern; zero residual storage on return). */
  private def withRankedCensus[T](df: DataFrame, groupCol: String,
                                  valueCol: String, ndvGate: Long)(use: DataFrame => T): T = {
    val census = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
      .agg(count(lit(1)).as("__c"))
      .persist()
    try {
      // global per-value census (second small aggregate over the
      // persisted census, not the corpus), then the cumulative count of
      // strictly-smaller values. NDV-gated: categorical/binned columns
      // (the tableone norm) rank in one tiny ordered window; a
      // continuous column whose distinct-value frame outgrows the gate
      // routes through the bucketed prefix-sum
      // ([[graft.ops.Quantiles.cumBeforeFromCensus]], the a23
      // construction — windows keyed (feature, bucket), 4096-way
      // parallel, never one global sort task). Both plans fold exact
      // integer counts, so the half-integer average ranks are identical
      // (spec-pinned path parity).
      val byValue = census.groupBy(col("__v")).agg(sum("__c").as("__cv"))
      val ndv = byValue.count()
      val ranked =
        if (ndv <= ndvGate) {
          val win = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
          byValue
            .withColumn("__cb", coalesce(sum("__cv").over(win), lit(0L)))
            .select(col("__v"), col("__cv"),
              (col("__cb") + (col("__cv") + lit(1)) / lit(2.0)).as("__r"))
        } else {
          graft.ops.Quantiles.cumBeforeFromCensus(
              byValue.select(lit("v").as("__f"), col("__v").as("__x"),
                col("__cv").as("__c")))
            // average rank of a tied block starting after __before rows:
            // exact half-integer (__before + (cv + 1)/2)
            .select(col("__x").as("__v"), col("__c").as("__cv"),
              (col("__before") + (col("__c") + lit(1)) / lit(2.0)).as("__r"))
        }
      use(census.join(ranked, Seq("__v")))
    } finally census.unpersist()
  }

  /** Collect `frame`'s one-row report while the census persist is live,
    * return it as a literal frame (the brierDecomposition contract:
    * aggregates only ever reach the driver). */
  private def materialized(frame: DataFrame): DataFrame = {
    val spark = frame.sparkSession
    val rows = frame.collect()
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), frame.schema)
  }

  /** Per-census-row tie contribution. The tie term Σ(t³ − t) runs over
    * DISTINCT values, but the census has one row per (group, value);
    * since the per-value total __cv = Σ_g __c, weighting each row by
    * __c reapportions the block exactly: Σ_rows (cv² − 1)·c =
    * Σ_values (cv² − 1)·cv = Σ(cv³ − cv). Every factor is an integer
    * kept in decimal(38,0), so the sum is exact in any order and a
    * pathological 100 TB tie block cannot silently overflow a long. */
  private def tieTermRow: Column =
    (col("__cv").cast("decimal(38,0)") * col("__cv") - lit(1)) * col("__c")

  /** Mann-Whitney U (Wilcoxon rank-sum) for EXACTLY two groups:
    * tie-corrected normal approximation without continuity correction,
    * plus the rank-biserial effect size r = 1 − 2U_lo/(n_lo·n_hi).
    * The two group labels are resolved by one aggregate-sized collect
    * and attached as LITERALS (the clampToBounds gate — a 2-row
    * broadcast join measured ~10× a literal attach at sf10).
    * Returns one row: (group_lo, group_hi, n_lo, n_hi, u_lo, z,
    * rank_biserial); z is NULL when the variance degenerates (all
    * values tied). */
  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    mannWhitney(df, groupCol, valueCol, NdvGate)

  /** [[mannWhitney]] with the distinct-value count up to which the
    * single ordered window ranks; specs pass 0 to force the bucketed
    * prefix-sum on small inputs. */
  private[tableone] def mannWhitney(df: DataFrame, groupCol: String, valueCol: String,
                                    ndvGate: Long): DataFrame = {
    val groups = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string")).distinct()
      .orderBy(groupCol).collect().map(_.getString(0))
    require(groups.length == 2,
      s"mannWhitney needs exactly 2 groups in $groupCol, got ${groups.length}")
    val (gLo, gHi) = (groups(0), groups(1))
    withRankedCensus(df, groupCol, valueCol, ndvGate) { cr => materialized(cr
      .agg(
        // per-census-row: count of group-lo rows at this value × its
        // exact half-integer average rank
        sum(when(col("__g").cast("string") === lit(gLo), col("__c"))
          .otherwise(lit(0L)).cast("double") * col("__r")).as("__r1"),
        sum(when(col("__g").cast("string") === lit(gLo), col("__c"))
          .otherwise(lit(0L))).as("__n1"),
        sum(col("__c")).as("__n"),
        sum(tieTermRow).cast("double").as("__tie"))
      .select(
        lit(gLo).as("group_lo"), lit(gHi).as("group_hi"),
        col("__n1").as("n_lo"), (col("__n") - col("__n1")).as("n_hi"),
        (col("__r1") - col("__n1").cast("double") * (col("__n1") + lit(1)) / lit(2.0)).as("__u1"),
        col("__n1").as("__m"), col("__n").as("__nn"), col("__tie"))
      .select(col("group_lo"), col("group_hi"), col("n_lo"), col("n_hi"),
        col("__u1").as("u_lo"),
        {
          val m = col("__m").cast("double")
          val nn = col("__nn").cast("double")
          val n2 = nn - m
          val mu = m * n2 / lit(2.0)
          val sig2 = m * n2 / lit(12.0) *
            ((nn + lit(1.0)) - col("__tie") / (nn * (nn - lit(1.0))))
          when(sig2 > 0, (col("__u1") - mu) / sqrt(sig2)).as("z")
        },
        (lit(1.0) - lit(2.0) * col("__u1") /
          (col("__m").cast("double") * (col("__nn") - col("__m")))).as("rank_biserial")))
    }
  }

  /** Kruskal-Wallis H across any number of groups, tie-corrected, with
    * the epsilon-squared effect size ε² = (H − k + 1)/(n − k). Same
    * census shape as [[mannWhitney]] but needs no group literals: the
    * per-group rank sums are one more aggregate over the census.
    * Returns one row: (n_groups, n, h, epsilon_sq); h is NULL when the
    * tie correction degenerates (every value identical). */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    withRankedCensus(df, groupCol, valueCol, NdvGate) { cr => materialized {
    val perGroup = cr
      .groupBy(col("__g"))
      .agg(sum(col("__c").cast("double") * col("__r")).as("__rg"),
        sum(col("__c")).as("__ng"),
        sum(tieTermRow).as("__tg"))
    perGroup
      .agg(count(lit(1)).as("n_groups"),
        sum("__ng").as("n"),
        sum(col("__rg") * col("__rg") / col("__ng").cast("double")).as("__s"),
        sum("__tg").cast("double").as("__tie"))
      .select(col("n_groups"), col("n"),
        {
          val nn = col("n").cast("double")
          val h0 = lit(12.0) / (nn * (nn + lit(1.0))) * col("__s") -
            lit(3.0) * (nn + lit(1.0))
          val corr = lit(1.0) - col("__tie") / (nn * nn * nn - nn)
          when(corr > 0, h0 / corr).as("h")
        })
      .select(col("n_groups"), col("n"), col("h"),
        ((col("h") - col("n_groups").cast("double") + lit(1.0)) /
          (col("n").cast("double") - col("n_groups").cast("double"))).as("epsilon_sq"))
    } }
  }
}
