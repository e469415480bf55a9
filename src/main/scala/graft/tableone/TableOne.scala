package graft.tableone

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.OrderStatistics

import scala.jdk.CollectionConverters._

/** Configuration for [[TableOne.summarize]].
  *
  * @param stratify optional categorical column whose values become output
  *                 column pairs (`<value>`, `<value>_%`)
  * @param cols     columns to analyze: StringType -> categorical counts,
  *                 NumericType -> 8 summary stats; others warn & skip
  * @param beautify presentation mode: drop bookkeeping columns, blank
  *                 repeated variable labels, underscores -> spaces
  * @param pValues  attach t-test / ANOVA / chi-square results (stratified
  *                 runs only; forced off otherwise)
  * @param quartileSketchMaxRows exact-quartile path selector: when every
  *                 analyzed continuous column has at most this many
  *                 non-null rows (known free from the pass-1 rollup —
  *                 choosing costs zero extra jobs), quartiles come from a
  *                 single `percentile_approx` rollup with accuracy = 4n,
  *                 which retains all n samples and is therefore exact;
  *                 per-group sketch state is n doubles, bounded by this
  *                 threshold (~3 MB at the 400k default). Columns above
  *                 it take [[TableOne.exactQuartiles]] — fully parallel,
  *                 memory bounded by partition size, but ~4 scheduling
  *                 round-trips of fixed overhead that dominate small
  *                 inputs (measured: a 15k-row summary pays ~0.5 s for a
  *                 job that the sketch does in ~0.1). The default sits at
  *                 the measured crossover: the sketch's single-threaded
  *                 per-group final merge loses to the parallel pass
  *                 somewhere between 150k rows (sketch 2x faster) and
  *                 600k (order statistics up to 40% faster, more for
  *                 low-cardinality columns whose histogram collapses).
  *                 Both paths pick the identical rank-ceil(q*n) element.
  *                 0 forces the order-statistics path (tests do this).
  *                 Sketch eligibility is additionally capped at
  *                 Int.MaxValue/4 (percentile_approx's accuracy limit),
  *                 and when every continuous value is null neither job
  *                 runs — there is nothing to rank.
  * @param cacheInput persist the input for the duration of the (up to 4)
  *                 in-call aggregation passes — worth it when `df` is an
  *                 expensive upstream computation rather than a bare
  *                 scan. Released before summarize returns (no residual
  *                 executor storage); the returned plan re-scans the
  *                 input once when consumed.
  * @param maxStrata hard cap on distinct stratification values. Each
  *                 stratum becomes TWO output columns and one collected
  *                 driver row, so an unbounded high-cardinality stratify
  *                 column would blow up the output schema and driver
  *                 memory long before executors struggle — fail fast
  *                 with a clear message instead.
  */
final case class TableOneConfig(
    stratify: Option[String] = None,
    cols: Seq[String] = Nil,
    beautify: Boolean = false,
    pValues: Boolean = false,
    quartileSketchMaxRows: Long = 400000L,
    cacheInput: Boolean = false,
    maxStrata: Int = 1000)

/** "Table 1" descriptive-statistics engine — a from-scratch Scala Spark
  * re-expression of the reference's capabilities
  * (/root/reference/tableone_pyspark.py:20-261).
  *
  * Output contract (long layout, one row per statistic or category):
  * `Pivoted_column, Index, Characteristics, Variable_type, Values,
  * All_Patients, All_Patients_%` then per-stratum `<v>, <v>_%` pairs, then
  * (pValues) `p_value, test_value, test_name`. `Index` is the double sort
  * key: integer part = variable position (0 = Totals), fraction = statistic
  * slot (continuous .1-.8) or category rank * 0.01.
  *
  * Execution design (vs the reference's >=10 jobs per continuous column,
  * SURVEY.md §3.5): at most THREE distributed passes regardless of column
  * count or stratification —
  *   1. ONE `rollup(strat).agg` whose grand-total row carries the total
  *      count + every continuous column's non-quantile stats and whose
  *      per-stratum rows carry the stratum counts, stats, and the
  *      (n, mean, var_samp) moments that feed the t-test/ANOVA,
  *   2. ONE exact-quartile job for ALL continuous columns at once
  *      (value-histogram + range-partitioned order statistics — fully
  *      parallel, no single-reducer merge; skipped when there are no
  *      continuous columns),
  *   3. ONE melt + `groupBy(variable, value)` aggregation for ALL
  *      categorical columns (explicit per-stratum conditional counts — no
  *      pivot distinct-value job),
  * and the inferential statistics are computed on the driver from those
  * collected aggregates (StatTests) — raw rows are never collected,
  * unlike the reference's per-column `toPandas()`
  * (/root/reference/tableone_pyspark.py:453, :500).
  */
object TableOne {
  import Sanitize.Missing

  private val StratCol = "__graft_strat"

  /** Continuous statistic slots: (Values label, Index fraction), in output
    * order (/root/reference/tableone_pyspark.py:325-434). */
  private val ContSlots = Seq(
    "n" -> 0.1, "min" -> 0.2, "max" -> 0.3, "mean" -> 0.4, "stddev" -> 0.5,
    "25th percentile" -> 0.6, "50th percentile" -> 0.7, "75th percentile" -> 0.8)

  /** Group key of a column's grand total in [[exactQuartiles]]: (col
    * position, TotalSi). Stratum positions are >= 0; -1 is a stratum that
    * raced in after pass 1. */
  private final val TotalSi = -2

  /** 1-based ranks `ceil(k*n/4)`, k = 1..3, in integer-exact Long math —
    * no float-epsilon tie-break risk against the oracle. */
  private def quartileRanks(n: Long): Seq[Long] = Seq(1L, 2L, 3L).map(k => (k * n + 3) / 4)

  /** EXACT discrete quartiles (the element at 1-based rank `ceil(k*n/4)`
    * — the same pick as DuckDB's `quantile_disc` and as an exact-mode
    * percentile_approx) for every continuous column, every stratum, AND
    * the grand total, via distributed order statistics:
    *
    *   1. melt -> groupBy (col, stratum, value).count — ONE shuffle with
    *      map-side combine; the histogram is the data's distinct-value
    *      footprint, never bigger than the input.
    *   2. [[graft.ops.OrderStatistics.pick]] range-partitions it on
    *      (col, value): all strata rows of one (col, value) — and all its
    *      duplicates — land in ONE partition, in global (col, value) order
    *      across partitions, so each stratum AND the column's grand total
    *      read their ranks off the same range shuffle, with no second
    *      histogram. A histogram row counts toward its stratum group and
    *      its column's total group.
    *
    * Scale posture: no quantile sketch (the reference's rowcount-accuracy
    * sketch serializes a near-copy of the column into a single-threaded
    * final-stage merge — 30 s/group at sf1's 6M rows), and no
    * per-column ordered window (a `partitionBy(col)` running sum is one
    * task per column no matter the cluster). */
  private[tableone] def exactQuartiles(
      working: DataFrame,
      stratify: Option[String],
      strataNames: Seq[String],
      contCols: Seq[String]): Map[(String, Option[String]), Array[Double]] = {
    // posexplode of a bare double array: the column is identified by its
    // POSITION (a 4-byte int), not its name — strings in the melt key
    // made the generate + hash-aggregate pass several times slower at
    // sf1. Names are restored from contCols(idx) after the collect. The
    // stratum is likewise an int: pass 1 already enumerated every
    // sanitized stratum name, so a map-literal lookup replaces the string
    // key (a value that races in between the two passes maps to -1 and
    // still counts toward the grand total; it has no output column).
    val kvs = array(contCols.map(c => col(c).cast(DoubleType)): _*)
    val melted = (stratify match {
      case Some(s) =>
        val pos = typedLit(strataNames.zipWithIndex.toMap)
        working.select(
          coalesce(element_at(pos, Sanitize.stratColumn(col(s))), lit(-1)).as("si"),
          posexplode(kvs).as(Seq("c", "v")))
      case None => working.select(lit(0).as("si"), posexplode(kvs).as(Seq("c", "v")))
    }).select(col("si"), col("c"), col("v"))
      .filter(col("v").isNotNull)
    val hist = melted.groupBy("c", "si", "v").agg(count(lit(1)).as("w"))
    // per-stratum groups are pure overhead when there are no strata
    val levels: ((Int, Int)) => Seq[(Int, Int)] =
      if (stratify.isDefined) k => Seq(k, (k._1, TotalSi)) else k => Seq((k._1, TotalSi))
    val (n, at) = OrderStatistics.pick[(Int, Int)](hist,
      struct(col("c").as("_1"), col("si").as("_2")), Seq(col("c"), col("v")),
      quartileRanks, levels)
    n.flatMap { case (k @ (c, si), nk) =>
      // a raced-in stratum (si = -1, no output column) has no entry
      val key =
        if (si == TotalSi) Some((contCols(c), None))
        else strataNames.lift(si).map(s => (contCols(c), Some(s)))
      key.map(_ -> quartileRanks(nk).map(r => at((k, r))).toArray)
    }
  }

  /** Small-column quartiles: one `percentile_approx` rollup job with
    * accuracy >= 4n, at which the Greenwald-Khanna sketch retains every
    * sample and returns the exact rank-ceil(q*n) element — the same pick
    * as [[exactQuartiles]] and DuckDB's `quantile_disc`. Only called when
    * the gate in [[summarize]] has proven every column's n is at most
    * `quartileSketchMaxRows`, which bounds per-group sketch state (n
    * doubles) and the single-threaded final merge that makes this shape
    * unusable at large n. */
  private def sketchQuartiles(
      working: DataFrame,
      stratify: Option[String],
      contCols: Seq[String],
      accuracy: Long): Map[(String, Option[String]), Array[Double]] = {
    val qExprs = contCols.map(c =>
      percentile_approx(col(c), array(lit(0.25), lit(0.5), lit(0.75)), lit(accuracy))
        .cast(ArrayType(DoubleType)).as(s"$c#q"))
    def entries(r: Row, key: Option[String]) = contCols.flatMap { c =>
      Option(r.getAs[scala.collection.Seq[Any]](s"$c#q")).map { a =>
        (c, key) -> Array(0, 1, 2).map(i =>
          Option(a(i)).map(_.asInstanceOf[Number].doubleValue()).getOrElse(Double.NaN))
      }
    }
    stratify match {
      case None =>
        entries(working.agg(qExprs.head, qExprs.tail: _*).head(), None).toMap
      case Some(s) =>
        working.withColumn(StratCol, Sanitize.stratColumn(col(s)))
          .rollup(col(StratCol))
          .agg(qExprs.head,
            qExprs.tail :+ grouping(col(StratCol)).cast("int").as("#isTotal"): _*)
          .collect()
          .iterator.flatMap { r =>
            val key = if (r.getAs[Int]("#isTotal") == 1) None
                      else Some(r.getAs[String](StratCol))
            entries(r, key)
          }.toMap
    }
  }

  /** One-row `(q25, q50, q75)` frame for a single numeric column, exact
    * at any scale — the cardinality-GATED form of the distinct-value
    * histogram quartile pick. The histogram (`groupBy(value).count`, a
    * map-side-combinable shuffle) doubles as the gate: its row count IS
    * the column's distinct-value cardinality. At or below `maxDistinct`
    * the cumulative pick runs a window over the distinct VALUES — sound
    * precisely because the windowed relation is histogram-sized, not
    * row-sized. Above the gate that unpartitioned `orderBy(v)` window
    * would serialize into one task, so the column routes to the
    * fully-parallel distributed order-statistics pass
    * ([[exactQuartiles]]) instead and the three picks return as typed
    * literals (the high-cardinality path pays the extra gate scan; the
    * gate exists exactly so that cost is a second scan, not a one-task
    * window). Both paths pick the identical rank-ceil(k*n/4) element =
    * DuckDB `quantile_disc` semantics. The histogram persist is released
    * before returning (the 1-row pick is materialized eagerly). */
  def quartilesFrame(df: DataFrame, c: String, maxDistinct: Long = 65536L): DataFrame = {
    val spark = df.sparkSession
    val hist = df.filter(col(c).isNotNull)
      .groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt")).persist()
    try {
      if (hist.count() <= maxDistinct) {
        val w = Window.orderBy("v")
        val cum = hist.select(col("v"),
          sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
          sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("nn"))
        def q(k: Int, name: String) =
          min(when(col("cum") >= expr(s"(nn * $k + 3) div 4"), col("v"))).as(name)
        val agg = cum.agg(q(1, "q25"), q(2, "q50"), q(3, "q75"))
        spark.createDataFrame(java.util.Collections.singletonList(agg.head()), agg.schema)
      } else {
        val dt = df.schema(c).dataType
        val qs = exactQuartiles(df.select(col(c)), None, Nil, Seq(c))
          .getOrElse((c, None), Array.fill(3)(Double.NaN))
        spark.range(1).select(
          lit(qs(0)).cast(dt).as("q25"), lit(qs(1)).cast(dt).as("q50"),
          lit(qs(2)).cast(dt).as("q75"))
      }
    } finally hist.unpersist()
  }

  /** Grand-total statistics row combined on the driver from per-stratum
    * aggregate rows (pass 1's groupBy output, in display order so FP
    * accumulation is deterministic): counts and sums add, extrema reduce
    * (NaN-aware to match Spark's NaN-sorts-greatest ordering: a stratum
    * whose min is NaN — all-NaN values — must not poison the total min,
    * while a NaN max must win, as it does inside Spark's own max), the
    * mean is total sum / total n, and the sample variance merges
    * per-stratum (n, mean, M2 = var*(n-1)) with the Chan/Welford update.
    * n=1 strata contribute M2=0 (Spark reports their var_samp as NaN,
    * but a single point has zero spread); the combined var/stddev is NaN
    * at total n=1, matching var_samp/stddev_samp on the raw rows. */
  private def combineTotalRow(stratRows: Seq[Row], contCols: Seq[String]): Row = {
    val schema = stratRows.head.schema
    def num(r: Row, f: String): Option[Double] = r.getAs[Any](f) match {
      case null      => None
      case n: Number => Some(n.doubleValue())
      case o         => Some(o.toString.toDouble)
    }
    val cells = new Array[Any](schema.length)
    def set(f: String, v: Any): Unit = cells(schema.fieldIndex(f)) = v
    set("#rows", stratRows.map(_.getAs[Long]("#rows")).sum)
    contCols.foreach { c =>
      val parts = stratRows.flatMap { r =>
        val n = r.getAs[Long](s"$c#n")
        if (n == 0L) None
        else Some((n, num(r, s"$c#mean").getOrElse(Double.NaN),
          if (n == 1L) 0.0
          else num(r, s"$c#var").map(_ * (n - 1)).getOrElse(Double.NaN)))
      }
      val n = parts.map(_._1).sum
      set(s"$c#n", n)
      if (n > 0L) {
        val mins = stratRows.flatMap(num(_, s"$c#min"))
        val maxs = stratRows.flatMap(num(_, s"$c#max"))
        set(s"$c#min", mins.reduce((a, b) =>
          if (a.isNaN) b else if (b.isNaN) a else math.min(a, b)))
        set(s"$c#max", maxs.reduce((a, b) => math.max(a, b)))
        val totalSum = stratRows.flatMap(num(_, s"$c#sum")).sum
        set(s"$c#sum", totalSum)
        set(s"$c#mean", totalSum / n)
        val (_, _, m2) = parts.foldLeft((0L, 0.0, 0.0)) {
          case ((na, ma, m2a), (nb, mb, m2b)) =>
            if (na == 0L) (nb, mb, m2b)
            else {
              val nn = na + nb
              val d = mb - ma
              (nn, ma + d * nb / nn, m2a + m2b + d * d * na * nb / nn)
            }
        }
        val v = if (n > 1L) m2 / (n - 1) else Double.NaN
        set(s"$c#var", v)
        set(s"$c#stddev", math.sqrt(v))
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(cells, schema)
  }

  def summarize(df: DataFrame, cfg: TableOneConfig): DataFrame = {
    val spark = df.sparkSession
    val pValues = cfg.pValues && cfg.stratify.isDefined
    if (cfg.pValues && cfg.stratify.isEmpty)
      Console.err.println("[tableone] p_values forced off: no stratification column")

    // --- dispatch analyzed columns by Spark type ----------------------
    val schema = df.schema
    cfg.cols.foreach { c =>
      require(schema.fieldNames.contains(c), s"column to analyze not in schema: $c")
    }
    cfg.stratify.foreach { s =>
      require(schema.fieldNames.contains(s), s"stratification column not in schema: $s")
    }
    sealed trait Kind
    case object Cat extends Kind
    case object Cont extends Kind
    // Type dispatch (beyond the reference's string/numeric-only handling,
    // tableone_pyspark.py:215-217): booleans are a natural two-category
    // variable (cast to "true"/"false" in the melt); DecimalType is a
    // NumericType, so decimal measures get the full continuous treatment
    // (stats are cast to double on the way out); date/timestamp and any
    // other type warn and skip — there is no defensible default summary.
    val analyzed: Seq[(String, Kind)] = cfg.cols.flatMap { c =>
      schema(c).dataType match {
        case StringType | BooleanType => Some(c -> (Cat: Kind))
        case _: NumericType           => Some(c -> (Cont: Kind))
        case other =>
          Console.err.println(s"[tableone] unsupported column type $c:$other — skipped")
          None
      }
    }
    val catCols = analyzed.collect { case (c, Cat) => c }
    val contCols = analyzed.collect { case (c, Cont) => c }
    // Variable position in the output (1-based; 0 is the Totals row).
    val varIdx: Map[String, Int] = analyzed.map(_._1).zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap

    val working = if (cfg.cacheInput) df.persist() else df

    // --- pass 1: ONE rollup aggregation job yields the global row
    // (rollup grand total: total count + every continuous column's
    // overall stats) AND, when stratified, each stratum's row count +
    // stats + the (n, mean, var) test moments. The sanitized strat value
    // is never null, so grouping() unambiguously marks the total row.
    // Quartiles never ride in this job: a high-accuracy sketch's
    // final-stage merge is single-threaded per group and dominated the
    // whole summary at sf1 (6M rows: 99 s of a 3 s query's work), so
    // pass 2 computes them on their own.
    def statExprs(withMoments: Boolean): Seq[Column] = contCols.flatMap { c =>
      val base = Seq(
        count(col(c)).as(s"$c#n"),
        min(col(c)).cast(DoubleType).as(s"$c#min"),
        max(col(c)).cast(DoubleType).as(s"$c#max"),
        avg(col(c)).as(s"$c#mean"),
        stddev(col(c)).as(s"$c#stddev"))
      if (withMoments)
        base ++ Seq(var_samp(col(c)).as(s"$c#var"),
          sum(col(c)).cast(DoubleType).as(s"$c#sum"))
      else base
    }

    case class Stratum(name: String, rows: Long, stats: Row)
    def maxStrataGuard(found: Int): Unit = require(found <= cfg.maxStrata,
      s"stratification column '${cfg.stratify.get}' has more than ${cfg.maxStrata} distinct values; " +
        "each stratum becomes two output columns — raise maxStrata only if that is intended")
    val (globalRow: Row, strata: Seq[Stratum]) = cfg.stratify match {
      case None =>
        val g = working.agg(count(lit(1)).as("#rows"), statExprs(withMoments = false): _*).head()
        (g, Nil)
      case Some(s) =>
        // ONE aggregate row per stratum, and the grand
        // total combined on the driver (counts/sums add, extrema reduce,
        // variances merge with the Chan/Welford update). A rollup would
        // feed every input row into TWO grouping sets — measured 3.5 s
        // vs 1.6 s for this pass at sf1 — to produce a total the driver
        // derives from a handful of stratum rows for free.
        val rows = working
          .withColumn(StratCol, Sanitize.stratColumn(col(s)))
          .groupBy(col(StratCol))
          .agg(count(lit(1)).as("#rows"), statExprs(withMoments = true): _*)
          .limit(cfg.maxStrata + 1)
          .collect()
        maxStrataGuard(rows.length)
        if (rows.isEmpty) // empty input: zero total, no strata
          (working.agg(count(lit(1)).as("#rows"), statExprs(withMoments = true): _*).head(), Nil)
        else {
          val byName = rows.map(r => r.getAs[String](StratCol) -> r).toMap
          val ordered = Sanitize.orderStrata(byName.keys.toSeq)
          (combineTotalRow(ordered.map(byName), contCols),
            ordered.map { name =>
              val r = byName(name)
              Stratum(name, r.getAs[Long]("#rows"), r)
            })
        }
    }
    val total: Long = globalRow.getAs[Long]("#rows")
    val stratNames = strata.map(_.name)
    val globalStats: Option[Row] = if (contCols.isEmpty) None else Some(globalRow)

    // --- pass 2: EXACT quartiles for every continuous
    // column and every stratum + the total. Pass 1 already fixed every
    // column's non-null count, so the path choice is free: small columns
    // ride one percentile_approx rollup at accuracy 4n (exact, state
    // bounded by the threshold); anything larger takes the fully-parallel
    // order-statistics job. Key: None = grand total, Some(s) = stratum.
    val quartMap: Map[(String, Option[String]), Array[Double]] =
      if (contCols.isEmpty) Map.empty
      else {
        val maxN = contCols.map(c => globalRow.getAs[Long](s"$c#n")).max
        // sketch eligibility is additionally capped at Int.MaxValue/4:
        // percentile_approx rejects accuracy beyond Int.MaxValue, so a
        // caller-raised threshold must still route huge columns to the
        // order-statistics path instead of failing analysis
        if (maxN == 0L) Map.empty // every continuous value is null
        else if (maxN <= math.min(cfg.quartileSketchMaxRows, Int.MaxValue / 4L))
          sketchQuartiles(working, cfg.stratify, contCols, 4L * maxN)
        else exactQuartiles(working, cfg.stratify, stratNames, contCols)
      }

    // --- output schema -------------------------------------------------
    val countColNames = "All_Patients" +: stratNames
    val pairCols = countColNames.flatMap(c => Seq(c, c + "_%"))
    val fixedHead = Seq("Pivoted_column", "Index", "Characteristics", "Variable_type", "Values")
    val pTail = if (pValues) Seq("p_value", "test_value", "test_name") else Nil
    val outCols = fixedHead ++ pairCols ++ pTail
    val outSchema = StructType(outCols.map {
      case n @ ("Pivoted_column" | "Characteristics" | "Variable_type" | "Values" | "test_name") =>
        StructField(n, StringType, nullable = true)
      case n => StructField(n, DoubleType, nullable = true)
    })
    val pivotedLabel = cfg.stratify.getOrElse("")

    def mkRow(index: Double, characteristics: String, varType: String, values: String,
              counts: Map[String, Option[Double]], percents: Map[String, Option[Double]],
              test: Option[TestResult]): Row = {
      val cells: Seq[Any] = outCols.map {
        case "Pivoted_column"  => pivotedLabel
        case "Index"           => index
        case "Characteristics" => characteristics
        case "Variable_type"   => varType
        case "Values"          => values
        case "p_value"         => test.map(t => Double.box(t.pValue)).orNull
        case "test_value"      => test.map(t => Double.box(t.testValue)).orNull
        case "test_name"       => test.map(_.testName).orNull
        case n if n.endsWith("_%") => percents.getOrElse(n.dropRight(2), None).map(Double.box).orNull
        case n                 => counts.getOrElse(n, None).map(Double.box).orNull
      }
      Row.fromSeq(cells)
    }

    // --- Totals row ----------------------------------------------------
    val totalsByCol: Map[String, Option[Double]] =
      (("All_Patients" -> Some(total.toDouble)) +: strata.map(s => s.name -> Some(s.rows.toDouble))).toMap
    val totalsRow = mkRow(0.0, "Total", null, "ALL",
      totalsByCol, countColNames.map(_ -> Some(1.0)).toMap, None)

    // --- continuous rows (driver-assembled from collected aggregates) -
    def numOpt(r: Row, field: String): Option[Double] = r.getAs[Any](field) match {
      case null      => None
      case n: Number => Some(n.doubleValue())
      case other     => Some(other.toString.toDouble)
    }
    // `key` identifies the group for quantile lookup:
    // None = grand total, Some(stratum name) = that stratum.
    def statOf(r: Row, key: Option[String], c: String, slot: String): Option[Double] = slot match {
      case "n"   => numOpt(r, s"$c#n")
      case "min" => numOpt(r, s"$c#min")
      case "max" => numOpt(r, s"$c#max")
      case "mean" => numOpt(r, s"$c#mean")
      case "stddev" => numOpt(r, s"$c#stddev")
      case q =>
        val i = q.charAt(0) match { case '2' => 0; case '5' => 1; case '7' => 2 }
        quartMap.get((c, key)).map(_(i))
    }

    val contRows: Seq[Row] = contCols.flatMap { c =>
      val idx = varIdx(c)
      val test: Option[TestResult] =
        if (!pValues) None
        else Some {
          val groups = strata.map(s => GroupMoments(
            s.stats.getAs[Long](s"$c#n"),
            numOpt(s.stats, s"$c#mean").getOrElse(Double.NaN),
            numOpt(s.stats, s"$c#var").getOrElse(Double.NaN)))
          strata.size match {
            case 2          => StatTests.pooledTTest(groups(0), groups(1))
            case n if n > 2 => StatTests.oneWayAnova(groups)
            case _          => StatTests.NotDone
          }
        }
      ContSlots.map { case (slot, frac) =>
        val counts: Map[String, Option[Double]] =
          (("All_Patients" -> globalStats.flatMap(statOf(_, None, c, slot))) +:
            strata.map(s => s.name -> statOf(s.stats, Some(s.name), c, slot))).toMap
        // p-value attaches to the variable's first row only (slot "n").
        mkRow(idx + frac, c, "continuous", slot, counts, Map.empty,
          if (slot == "n") test else None)
      }
    }

    val driverBlock = spark.createDataFrame(
      (totalsRow +: contRows).asJava, outSchema)

    // --- categorical block (stays distributed; one melt + agg job) ----
    val catBlock: Option[DataFrame] = if (catCols.isEmpty) None else Some {
      // cast covers BooleanType categoricals ("true"/"false"); no-op for strings
      val kvs = array(catCols.map(c =>
        struct(lit(c).as("variable"), coalesce(col(c).cast(StringType), lit(Missing)).as("Values"))): _*)
      val melted = cfg.stratify match {
        case Some(s) => working.select(Sanitize.stratColumn(col(s)).as(StratCol), explode(kvs).as("kv"))
        case None    => working.select(lit("").as(StratCol), explode(kvs).as("kv"))
      }
      val counts = melted
        .select(col(StratCol), col("kv.variable").as("variable"), col("kv.Values").as("Values"))
        .groupBy("variable", "Values")
        .agg(count(lit(1)).as("All_Patients"),
          stratNames.map(sv => count(when(col(StratCol) === sv, 1)).as(sv)): _*)

      // chi-square per categorical variable, from the aggregated counts
      // (the contingency table IS the pivoted counts — SURVEY.md §2.9 D7).
      // No persist on `counts`: a persist would outlive summarize with no
      // sound place to unpersist (the returned plan is lazy). Instead,
      // when p-values force an eager collect for the contingency tables,
      // those SAME driver rows become the block source (a LocalRelation)
      // — the melt+aggregate never runs twice. Cardinality = variables x
      // values x strata, the same bound the chi-square collect already
      // accepts; without p-values the block stays fully distributed.
      val (catTests: Map[String, TestResult], blockSrc: DataFrame) =
        if (!pValues) (Map.empty[String, TestResult], counts)
        else {
          val collected = counts.collect()
          val nonMissing = collected.filter(_.getAs[String]("Values") != Missing)
          val tests = catCols.map { c =>
            // sorted so the chi-square sums its contingency rows in a
            // deterministic order — FP addition is order-sensitive at
            // 1 ULP and the aggregate's collect order is not stable
            val rows = nonMissing.filter(_.getAs[String]("variable") == c)
              .sortBy(_.getAs[String]("Values"))
            val nonMissingTotal = rows.map(_.getAs[Long]("All_Patients")).sum
            // gate: >=5 non-missing rows (a row count — tableone_pyspark.py:503)
            val t =
              if (nonMissingTotal < 5) StatTests.NotDone
              else StatTests.chiSquare(rows.map(r => stratNames.map(s => r.getAs[Long](s)).toArray))
            c -> t
          }.toMap
          (tests, spark.createDataFrame(collected.toSeq.asJava, counts.schema))
        }

      val win = Window.partitionBy("variable").orderBy("order", "Values")
      val varIdxExpr = catCols.tail.foldLeft(when(col("variable") === catCols.head, varIdx(catCols.head))) {
        (acc, c) => acc.when(col("variable") === c, varIdx(c))
      }
      var block = blockSrc
        .withColumn("order", Sanitize.categoryOrderKey(col("Values")))
        .withColumn("__rn", row_number().over(win))
        .withColumn("Index", varIdxExpr.cast(DoubleType) + col("__rn") * 0.01)
        .withColumn("Pivoted_column", lit(pivotedLabel))
        .withColumn("Characteristics", col("variable"))
        .withColumn("Variable_type", lit("category"))
        .withColumn("All_Patients_%", col("All_Patients") / lit(total.toDouble))
      strata.foreach { s =>
        block = block.withColumn(s.name + "_%", col(s.name) / lit(s.rows.toDouble))
      }
      if (pValues) {
        def attach(colName: String, f: TestResult => Any, dt: DataType): Unit = {
          val e = catCols.foldLeft(lit(null).cast(dt)) { (acc, c) =>
            when(col("variable") === c && col("__rn") === 1, lit(f(catTests(c)))).otherwise(acc)
          }
          block = block.withColumn(colName, e)
        }
        attach("p_value", _.pValue, DoubleType)
        attach("test_value", _.testValue, DoubleType)
        attach("test_name", _.testName, StringType)
      }
      block.select(outCols.map {
        case n if outSchema(n).dataType == DoubleType => col(n).cast(DoubleType).as(n)
        case n => col(n)
      }: _*)
    }

    val unordered = catBlock.fold(driverBlock)(driverBlock.unionByName(_))
    val ordered = unordered.orderBy(col("Index"), col("Values"))

    // cacheInput served the in-call aggregation passes (rollup, melt,
    // p-value collects); release it before returning so no executor
    // storage outlives the call — the returned plan's one consume
    // re-scans the input instead.
    if (cfg.cacheInput) working.unpersist()

    val finalDf =
      if (!cfg.beautify) ordered
      else {
        val win = Window.partitionBy("Characteristics").orderBy("Index", "Values")
        ordered
          .drop("Pivoted_column", "Variable_type")
          .withColumn("__rank", row_number().over(win))
          .withColumn("Characteristics",
            when(col("__rank") === 1, regexp_replace(col("Characteristics"), "_", " "))
              .otherwise(lit(null)))
          .drop("__rank")
          .orderBy(col("Index"), col("Values"))
      }
    finalDf.coalesce(1)
  }
}
