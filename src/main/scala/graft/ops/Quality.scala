package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StringType, StructField, StructType}

/** Declarative data-quality constraint suite — the write-audit-publish
  * gate every production table pass runs before results are published
  * (the Deequ/dbt-tests shape, expressed Spark-first): the caller
  * declares constraints, the engine evaluates them in as few jobs as
  * the constraint mix allows and returns one report row per check.
  *
  * Scale shape: every SCALAR check (null fraction, range, regex) folds
  * into ONE shared aggregate pass over the table — adding a tenth check
  * costs one more conditional sum inside the same scan, not another
  * job. Each uniqueness check is one (count, count-distinct) aggregate
  * of its key tuple; each referential check is one broadcast-friendly
  * left-anti count against its reference keys. Everything the driver
  * touches is aggregate-sized (one row per job); the report itself is
  * |checks| rows.
  *
  * Fractions divide exact longs, so an external engine derives the
  * identical doubles and the pass/fail cut cannot flake (the a10
  * discipline). An empty table passes every check vacuously
  * (bad_frac = 0 by definition — there is nothing to violate).
  */
object Quality {

  /** One declared constraint. `maxBadFrac` is the tolerated violation
    * fraction — 0.0 means "no violations allowed". */
  sealed trait Check

  /** Null fraction of `column` must be <= maxBadFrac. */
  final case class NotNull(column: String, maxBadFrac: Double = 0.0) extends Check

  /** Fraction of NON-NULL values outside [lo, hi] must be <= maxBadFrac
    * (nulls are NotNull's business — counting them twice would make one
    * data problem fail two unrelated checks). */
  final case class InRange(column: String, lo: Double, hi: Double,
                           maxBadFrac: Double = 0.0) extends Check

  /** Fraction of NON-NULL values NOT matching `pattern` (Java regex,
    * `rlike` semantics — unanchored; anchor explicitly for full-string
    * matches) must be <= maxBadFrac. */
  final case class MatchesRegex(column: String, pattern: String,
                                maxBadFrac: Double = 0.0) extends Check

  /** Fraction of rows carrying a duplicated key tuple (rows beyond the
    * first of each distinct tuple) must be <= maxBadFrac. */
  final case class Unique(columns: Seq[String], maxBadFrac: Double = 0.0) extends Check

  /** Fraction of NON-NULL `column` values absent from `ref.refColumn`
    * (orphans) must be <= maxBadFrac. */
  final case class Referential(column: String, ref: DataFrame, refColumn: String,
                               maxBadFrac: Double = 0.0) extends Check

  private val reportSchema = StructType(Seq(
    StructField("check", StringType, nullable = false),
    StructField("target", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_bad", LongType, nullable = false),
    StructField("bad_frac", DoubleType, nullable = false),
    StructField("threshold", DoubleType, nullable = false),
    StructField("passed", BooleanType, nullable = false)))

  /** Evaluate `checks` against `df`; returns the |checks|-row report
    * (check, target, n_rows, n_bad, bad_frac, threshold, passed) in
    * declaration order. See the object doc for the job layout. */
  def checkSuite(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "checkSuite needs at least one check")
    val spark = df.sparkSession
    // ---- one shared aggregate for every scalar check ----
    val scalar: Seq[(Check, org.apache.spark.sql.Column)] = checks.collect {
      case c @ NotNull(col0, _) =>
        c -> sum(when(col(col0).isNull, 1L).otherwise(0L))
      case c @ InRange(col0, lo, hi, _) =>
        c -> sum(when(col(col0).isNotNull &&
          (col(col0) < lit(lo) || col(col0) > lit(hi)), 1L).otherwise(0L))
      case c @ MatchesRegex(col0, pat, _) =>
        c -> sum(when(col(col0).isNotNull && !col(col0).rlike(pat), 1L).otherwise(0L))
    }
    val aggCols = count(lit(1)).as("__n") +:
      scalar.zipWithIndex.map { case ((_, e), i) => coalesce(e, lit(0L)).as(s"__b$i") }
    val head = df.agg(aggCols.head, aggCols.tail: _*).head()
    val nRows = head.getLong(0)
    val scalarBad: Map[Check, Long] =
      scalar.zipWithIndex.map { case ((c, _), i) => c -> head.getLong(i + 1) }.toMap
    // ---- one (count, distinct) aggregate per uniqueness check ----
    val uniqueBad: Map[Check, Long] = checks.collect { case c @ Unique(cols0, _) =>
      require(cols0.nonEmpty, "Unique check needs at least one column")
      val r = df.agg(count(lit(1)).as("n"),
        count_distinct(struct(cols0.map(col): _*)).as("d")).head()
      c -> (r.getLong(0) - r.getLong(1))
    }.toMap
    // ---- one anti-join count per referential check ----
    val refBad: Map[Check, Long] = checks.collect { case c @ Referential(col0, ref, refCol, _) =>
      val orphans = df.select(col(col0).as("__k")).filter(col("__k").isNotNull)
        .join(ref.select(col(refCol).as("__k")).distinct(), Seq("__k"), "left_anti")
        .count()
      c -> orphans
    }.toMap
    val rows: Seq[Row] = checks.map { c =>
      val (name, target, bad, thr) = c match {
        case NotNull(col0, t) => ("not_null", col0, scalarBad(c), t)
        case InRange(col0, lo, hi, t) => ("in_range", s"$col0[$lo,$hi]", scalarBad(c), t)
        case MatchesRegex(col0, pat, t) => ("matches_regex", s"$col0~$pat", scalarBad(c), t)
        case Unique(cols0, t) => ("unique", cols0.mkString(","), uniqueBad(c), t)
        case Referential(col0, _, refCol, t) => ("referential", s"$col0->$refCol", refBad(c), t)
      }
      val frac = if (nRows == 0L) 0.0 else bad.toDouble / nRows
      Row(name, target, nRows, bad, frac, thr, frac <= thr)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      reportSchema)
  }

  /** EXACT per-column profile — the companion discovery step to
    * [[checkSuite]] (profile first, then declare the constraints the
    * profile suggests): one report row per column with row count, null
    * count, exact distinct count, min/max, and the modal value with its
    * frequency (ties broken toward the LARGER value, so the answer is a
    * total order, not a scan order).
    *
    * Scale shape: one map-side-combined `groupBy(value)` per column —
    * the shuffle carries the column's DISTINCT values, not its rows,
    * and the second aggregate reduces that to ONE row per column. Exact
    * NDV and an exact mode cannot be had cheaper than the value
    * histogram; when a 100-TB column's value space is itself huge, use
    * [[profileApprox]] (one shared scan, sketched NDV, no mode) and
    * reserve this pass for the columns the approx profile flags.
    * min/max compare in the column's NATIVE type (then render as
    * string), so numeric columns don't suffer lexicographic "10" < "9".
    */
  def profileExact(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "profileExact needs at least one column")
    val perCol = columns.map { c =>
      df.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__cnt"))
        .agg(
          coalesce(sum(col("__cnt")), lit(0L)).as("n_rows"),
          coalesce(sum(when(col("__v").isNull, col("__cnt"))), lit(0L)).as("n_null"),
          count(when(col("__v").isNotNull, lit(1))).as("ndv"),
          min(col("__v")).cast(StringType).as("min_v"),
          max(col("__v")).cast(StringType).as("max_v"),
          max(when(col("__v").isNotNull, struct(col("__cnt"), col("__v"))))
            .getField("__v").cast(StringType).as("top_v"),
          coalesce(max(when(col("__v").isNotNull, col("__cnt"))), lit(0L)).as("top_n"))
        .select(lit(c).as("column"), col("n_rows"), col("n_null"), col("ndv"),
          col("min_v"), col("max_v"), col("top_v"), col("top_n"))
    }
    perCol.reduce(_.unionByName(_))
  }

  /** k-anonymity audit over quasi-identifier columns — the privacy gate
    * a dataset passes BEFORE an export ships: every row must share its
    * QI combination with at least k−1 others, or the combination
    * re-identifies. NULL is its own QI value (an absent zip code is
    * itself identifying). Returns ONE report row: (k_threshold, n_rows,
    * n_groups, n_violating_groups, n_rows_at_risk, min_group_size) —
    * `n_rows_at_risk` is the number of rows in under-k groups, the
    * quantity a suppress-or-generalize pass must drive to zero.
    *
    * Scale shape: one map-side-combined QI census (the shuffle carries
    * distinct QI combinations, never rows), then a 1-row fold over it —
    * nothing driver-side, nothing proportional to corpus size. */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], k: Long): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymity needs at least one QI column")
    require(k >= 1, s"k must be >= 1, got $k")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .agg(
        coalesce(sum(col("__cnt")), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_groups"),
        coalesce(sum(when(col("__cnt") < k, 1L).otherwise(0L)), lit(0L))
          .as("n_violating_groups"),
        coalesce(sum(when(col("__cnt") < k, col("__cnt")).otherwise(0L)),
          lit(0L)).as("n_rows_at_risk"),
        min(col("__cnt")).as("min_group_size"))
      .select(lit(k).as("k_threshold"), col("n_rows"), col("n_groups"),
        col("n_violating_groups"), col("n_rows_at_risk"),
        col("min_group_size"))
  }

  /** l-diversity audit — [[kAnonymity]]'s companion gate: a QI group can
    * be k-large yet still leak if every member shares the SAME sensitive
    * value (the homogeneity attack k-anonymity cannot see). Each QI
    * group must carry at least `l` DISTINCT values of `sensitiveCol`;
    * NULL is its own sensitive value (knowing the attribute is absent is
    * itself a disclosure), carried through a non-null sentinel so the
    * distinct count sees it. Returns ONE report row: (l_threshold,
    * n_rows, n_groups, n_violating_groups, n_rows_at_risk, min_l) —
    * `n_rows_at_risk` counts rows in under-l groups, the quantity a
    * suppress-or-generalize pass must drive to zero.
    *
    * Scale shape: one map-side-combined census over distinct
    * (QI, sensitive) combinations (the shuffle carries combinations,
    * never rows — `count_distinct` inside the same hash aggregate as the
    * row count), then a 1-row fold. Nothing driver-side, nothing
    * proportional to corpus size. */
  def lDiversity(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
                 l: Long): DataFrame = {
    require(qiCols.nonEmpty, "lDiversity needs at least one QI column")
    require(l >= 1, s"l must be >= 1, got $l")
    val sv = coalesce(col(sensitiveCol).cast(StringType), lit("\u0000"))
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("__cnt"), count_distinct(sv).as("__l"))
      .agg(
        coalesce(sum(col("__cnt")), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_groups"),
        coalesce(sum(when(col("__l") < l, 1L).otherwise(0L)), lit(0L))
          .as("n_violating_groups"),
        coalesce(sum(when(col("__l") < l, col("__cnt")).otherwise(0L)),
          lit(0L)).as("n_rows_at_risk"),
        min(col("__l")).as("min_l"))
      .select(lit(l).as("l_threshold"), col("n_rows"), col("n_groups"),
        col("n_violating_groups"), col("n_rows_at_risk"), col("min_l"))
  }

  /** Sketched per-column profile in ONE shared scan: row count plus, per
    * column, null count, HLL-approximate NDV (`rsd` relative error) and
    * native-typed min/max — the 100-TB first pass that decides which
    * columns earn [[profileExact]]'s per-column histogram. Mode columns
    * (`top_v`/`top_n`) are null here: an exact mode needs the value
    * histogram by definition. Output schema matches [[profileExact]]. */
  def profileApprox(df: DataFrame, columns: Seq[String], rsd: Double = 0.05): DataFrame = {
    require(columns.nonEmpty, "profileApprox needs at least one column")
    val aggs = count(lit(1)).as("__n") +: columns.flatMap { c => Seq(
      coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(s"__null_$c"),
      approx_count_distinct(col(c), rsd).as(s"__ndv_$c"),
      min(col(c)).cast(StringType).as(s"__min_$c"),
      max(col(c)).cast(StringType).as(s"__max_$c"))
    }
    // ONE action; the single aggregate row is collected (aggregate-sized)
    // so the per-column report rows don't re-run the scan |columns| times
    val one = df.agg(aggs.head, aggs.tail: _*).head()
    val rows: Seq[Row] = columns.zipWithIndex.map { case (c, i) =>
      Row(c, one.getLong(0), one.getLong(1 + 4 * i), one.getLong(2 + 4 * i),
        one.getAs[String](3 + 4 * i), one.getAs[String](4 + 4 * i), null, null)
    }
    df.sparkSession.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      profileSchema)
  }

  /** Pairwise Pearson correlation matrix over `columns` in ONE
    * map-side-combined aggregate pass — the numeric-feature profiling
    * companion to [[profileExact]] (which columns are redundant, which
    * quality signals co-move before they feed a mixture weight).
    *
    * Rows are LISTWISE complete: any null among `columns` drops the row,
    * so every pair shares one n and each column's Σx / Σx² is computed
    * once — p·(p+3)/2 + 1 conditional sums inside a single scan, never a
    * per-pair job. corr = (n·Σxy − Σx·Σy) / (√(n·Σx² − Σx·Σx) ·
    * √(n·Σy² − Σy·Σy)) with exactly that operation order, so an external
    * engine re-derives the doubles; a constant column (zero variance —
    * the subtraction can float-dust fractionally negative, so the guard
    * is den > 0, which also catches the NaN) yields NULL, not NaN.
    *
    * Returns the strict upper triangle in long form: (col_x, col_y, n,
    * corr), |columns|·(|columns|−1)/2 rows, ordered by declaration. */
  def correlationMatrix(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.size >= 2, s"correlationMatrix needs >= 2 columns, got ${columns.size}")
    require(columns.distinct.size == columns.size, "correlationMatrix: duplicate column")
    val pairs = for {
      i <- columns.indices; j <- (i + 1) until columns.size
    } yield (columns(i), columns(j))
    val base = df
      .select(columns.map(c => col(c).cast(DoubleType).as(c)): _*)
      .filter(columns.map(col(_).isNotNull).reduce(_ && _))
    val aggs = Seq(count(lit(1)).cast(DoubleType).as("__n")) ++
      columns.flatMap(c => Seq(sum(col(c)).as(s"__s_$c"),
        sum(col(c) * col(c)).as(s"__ss_$c"))) ++
      pairs.map { case (x, y) => sum(col(x) * col(y)).as(s"__sp_${x}__$y") }
    val one = base.agg(aggs.head, aggs.tail: _*)
    val n = col("__n")
    val structs = pairs.map { case (x, y) =>
      val num = n * col(s"__sp_${x}__$y") - col(s"__s_$x") * col(s"__s_$y")
      val den = sqrt(n * col(s"__ss_$x") - col(s"__s_$x") * col(s"__s_$x")) *
        sqrt(n * col(s"__ss_$y") - col(s"__s_$y") * col(s"__s_$y"))
      struct(lit(x).as("col_x"), lit(y).as("col_y"),
        when(den > 0.0, num / den).as("corr"))
    }
    one.select(n.cast("long").as("n"), explode(array(structs: _*)).as("p"))
      .select(col("p.col_x"), col("p.col_y"), col("n"), col("p.corr"))
  }

  /** A failed write-audit-publish gate: carries the full report so the
    * caller can log WHICH checks failed, not just that one did. */
  final class QualityGateFailed(val report: Seq[Row])
    extends RuntimeException(QualityGateFailed.describe(report))

  private object QualityGateFailed {
    def describe(report: Seq[Row]): String =
      "quality gate failed: " + report.collect {
        case r if !r.getBoolean(6) =>
          s"${r.getString(0)}(${r.getString(1)}): ${r.getLong(3)}/${r.getLong(2)} bad"
      }.mkString("; ")
  }

  /** WRITE-AUDIT-PUBLISH, composed end to end: evaluate `checks`
    * against `df` and publish it as the next version of `table` ONLY if
    * every check passes — a failing suite throws [[QualityGateFailed]]
    * (with the full report attached) and commits NOTHING, so readers of
    * the table can never observe data that failed its own gate. The
    * audit runs on `df` before any file is written; the publish is
    * [[graft.sources.VersionedTable.commit]]'s atomic manifest, so the
    * gate composes with snapshot isolation and time travel for free.
    * Returns the committed version. */
  def auditedCommit(df: DataFrame, table: String, checks: Seq[Check],
                    mode: String = "append"): Long = {
    val report = checkSuite(df, checks).collect().toSeq
    if (report.exists(!_.getBoolean(6))) throw new QualityGateFailed(report)
    graft.sources.VersionedTable.commit(df, table, mode)
  }

  /** [[auditedCommit]] + footer stats for the new directory — the full
    * ingest gate: audit, publish atomically, AND hand the read path its
    * pruning stats in the same call, so a table written through this
    * never has an unprunable (or unaudited) directory.
    * [[graft.sources.FileSkipping.compactTable]] is the matching
    * maintenance transaction; together they close the
    * write-audit-publish-compact-prune loop the o12 query pins end to
    * end. */
  def auditedCommitWithStats(df: DataFrame, table: String, checks: Seq[Check],
                             statsCols: Seq[String], mode: String = "append"): Long = {
    val report = checkSuite(df, checks).collect().toSeq
    if (report.exists(!_.getBoolean(6))) throw new QualityGateFailed(report)
    graft.sources.FileSkipping.commitWithStats(df, table, statsCols, mode)
  }

  private val profileSchema = StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_null", LongType, nullable = false),
    StructField("ndv", LongType, nullable = false),
    StructField("min_v", StringType, nullable = true),
    StructField("max_v", StringType, nullable = true),
    StructField("top_v", StringType, nullable = true),
    StructField("top_n", LongType, nullable = true)))
}
