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
  * @param maxStrata hard cap on distinct stratification values. Each
  *                 stratum becomes TWO output columns and one collected
  *                 driver row, so an unbounded high-cardinality stratify
  *                 column would blow up the output schema and driver
  *                 memory long before executors struggle — fail fast
  *                 with a clear message instead. The cap counts distinct
  *                 RAW values (null counts as one), exactly the rows pass
  *                 1 collects to the driver; where several raw values
  *                 sanitize to one name (e.g. "a b" and "a_b") the output
  *                 has fewer strata than the cap counted.
  */
final case class TableOneConfig(
    stratify: Option[String] = None,
    cols: Seq[String] = Nil,
    beautify: Boolean = false,
    pValues: Boolean = false,
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
  *   1. ONE `groupBy(raw stratum).agg` whose rows carry each stratum's
  *      count, continuous stats and the (n, mean, var_samp) moments that
  *      feed the t-test/ANOVA; the driver names the strata, merges raw
  *      values that sanitize to one name, and combines the grand total
  *      (unstratified: one global `agg`),
  *   2. ONE exact-quartile pass for ALL continuous columns at once (a
  *      value histogram handed to the order-statistics engine, which
  *      crosses a small one on the driver and range-partitions a large
  *      one; skipped when no continuous value is non-null),
  *   3. ONE melt + `groupBy(variable, value)` aggregation for ALL
  *      categorical columns (explicit per-stratum conditional counts — no
  *      pivot distinct-value job).
  * Passes 2 and 3 key strata by an int index, never by name: pass 1
  * enumerated every raw stratum value, so one map-literal lookup per row
  * replaces a per-row string sanitize (a value that races in after pass
  * 1 maps to -1 and counts toward the totals only). The inferential
  * statistics are computed on the driver from those collected
  * aggregates (StatTests) — raw rows are never collected,
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
    * — the same pick as DuckDB's `quantile_disc`) for every continuous
    * column, every stratum, AND the grand total, via order statistics:
    *
    *   1. melt -> groupBy (col, stratum, value).count — ONE shuffle with
    *      map-side combine; the histogram is the data's distinct-value
    *      footprint, never bigger than the input.
    *   2. [[graft.ops.OrderStatistics.pick]] orders it on (col, value):
    *      all strata rows of one (col, value) — and all its duplicates —
    *      are adjacent, so each stratum AND the column's grand total read
    *      their ranks off the same ordered census, with no second
    *      histogram. A histogram row counts toward its stratum group and
    *      its column's total group. `censusRowsAtMost` bounds the
    *      histogram's rows (the caller passes Σ non-null n); at or under
    *      [[graft.ops.OrderStatistics.LocalMaxRows]] the driver crosses
    *      it, above that a range shuffle does.
    *
    * Scale posture: no quantile sketch (the reference's rowcount-accuracy
    * sketch serializes a near-copy of the column into a single-threaded
    * final-stage merge — 30 s/group at sf1's 6M rows), and no
    * per-column ordered window (a `partitionBy(col)` running sum is one
    * task per column no matter the cluster). */
  private[tableone] def exactQuartiles(
      df: DataFrame,
      stratum: Option[Column],
      strataNames: Seq[String],
      contCols: Seq[String],
      censusRowsAtMost: Long): Map[(String, Option[String]), Array[Double]] = {
    // posexplode of a bare double array: the column is identified by its
    // POSITION (a 4-byte int), not its name — strings in the melt key
    // made the generate + hash-aggregate pass several times slower at
    // sf1. Names are restored from contCols(idx) after the collect. The
    // stratum is likewise the int index `stratum` computes.
    val kvs = array(contCols.map(c => col(c).cast(DoubleType)): _*)
    val melted = df
      .select(stratum.getOrElse(lit(0)).as("si"), posexplode(kvs).as(Seq("c", "v")))
      .filter(col("v").isNotNull)
    val hist = melted.groupBy("c", "si", "v").agg(count(lit(1)).as("w"))
    // per-stratum groups are pure overhead when there are no strata
    val levels: ((Int, Int)) => Seq[(Int, Int)] =
      if (stratum.isDefined) k => Seq(k, (k._1, TotalSi)) else k => Seq((k._1, TotalSi))
    val (n, at) = OrderStatistics.pick[(Int, Int)](hist,
      struct(col("c").as("_1"), col("si").as("_2")), Seq(col("c"), col("v")),
      quartileRanks, levels, censusRowsAtMost)
    n.flatMap { case (k @ (c, si), nk) =>
      // a raced-in stratum (si = -1, no output column) has no entry
      val key =
        if (si == TotalSi) Some((contCols(c), None))
        else strataNames.lift(si).map(s => (contCols(c), Some(s)))
      key.map(_ -> quartileRanks(nk).map(r => at((k, r))).toArray)
    }
  }

  /** One-row `(q25, q50, q75)` frame for a single numeric column, exact
    * at any scale: the distinct-value histogram (`groupBy(value).count`,
    * a map-side-combinable shuffle) is persisted, its row count bounds
    * the census for [[graft.ops.OrderStatistics.pick]], and the three
    * rank-ceil(k*n/4) picks (DuckDB `quantile_disc`) return as typed
    * literals — no ordered window at any cardinality. The histogram
    * persist is released before returning. */
  def quartilesFrame(df: DataFrame, c: String): DataFrame = {
    val hist = df.filter(col(c).isNotNull)
      .groupBy(col(c).cast(DoubleType).as("v")).agg(count(lit(1)).as("w")).persist()
    try {
      val (n, at) = OrderStatistics.pick[Long](hist, lit(0L), Seq(col("v")), quartileRanks,
        censusRowsAtMost = hist.count())
      val qs = n.get(0L).fold(Seq.fill(3)(lit(null)))(nk => quartileRanks(nk).map(r => lit(at((0L, r)))))
      val dt = df.schema(c).dataType
      df.sparkSession.range(1).select(
        qs.zip(Seq("q25", "q50", "q75")).map { case (q, name) => q.cast(dt).as(name) }: _*)
    } finally hist.unpersist()
  }

  /** One statistics row merged on the driver from pass-1 aggregate rows
    * over disjoint row sets: the grand total from the strata (in display
    * order), and one stratum from the raw values that sanitize to its
    * name (in raw-value order) — a fixed order, so FP accumulation is
    * deterministic. Counts and sums add, extrema reduce
    * (NaN-aware to match Spark's NaN-sorts-greatest ordering: a part
    * whose min is NaN — all-NaN values — must not poison the merged min,
    * while a NaN max must win, as it does inside Spark's own max), the
    * mean is merged sum / merged n, and the sample variance merges
    * per-part (n, mean, M2 = var*(n-1)) with the Chan/Welford update.
    * n=1 parts contribute M2=0 (Spark reports their var_samp as null,
    * but a single point has zero spread); the merged var/stddev is null
    * at merged n=1, matching var_samp/stddev_samp on the raw rows. */
  private def mergeStatRows(stratRows: Seq[Row], contCols: Seq[String]): Row = {
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
        if (n > 1L) {
          val v = m2 / (n - 1)
          set(s"$c#var", v)
          set(s"$c#stddev", math.sqrt(v))
        }
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

    // --- pass 1: ONE aggregation job yields the global row (total count
    // + every continuous column's overall stats) AND, when stratified,
    // each stratum's row count + stats + the (n, mean, var) test moments.
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
    // rawToSi: raw stratum key -> position of its stratum in `strata`
    val (globalRow: Row, strata: Seq[Stratum], rawToSi: Map[String, Int]) = cfg.stratify match {
      case None =>
        val g = df.agg(count(lit(1)).as("#rows"), statExprs(withMoments = false): _*).head()
        (g, Nil, Map.empty[String, Int])
      case Some(s) =>
        // ONE aggregate row per RAW stratum value; the driver names each
        // (Sanitize.stratValue on a handful of values instead of a string
        // transform on every row), merges raw values that share a name,
        // and combines the grand total (counts/sums add, extrema reduce,
        // variances merge with the Chan/Welford update). A rollup would
        // feed every input row into TWO grouping sets — measured 3.5 s
        // vs 1.6 s for this pass at sf1 — to produce a total the driver
        // derives from a handful of stratum rows for free.
        val rows = df
          .groupBy(Sanitize.rawKey(col(s)).as(StratCol))
          .agg(count(lit(1)).as("#rows"), statExprs(withMoments = true): _*)
          .limit(cfg.maxStrata + 1)
          .collect()
        maxStrataGuard(rows.length)
        if (rows.isEmpty) // empty input: zero total, no strata
          (df.agg(count(lit(1)).as("#rows"), statExprs(withMoments = true): _*).head(), Nil,
            Map.empty[String, Int])
        else {
          def raw(r: Row) = r.getAs[String](StratCol)
          val byName = rows.sortBy(raw).groupBy(r => Sanitize.stratValue(raw(r)))
          val ordered = Sanitize.orderStrata(byName.keys.toSeq)
          val merged = ordered.map { name =>
            val parts = byName(name)
            val r = if (parts.length == 1) parts.head else mergeStatRows(parts.toSeq, contCols)
            Stratum(name, r.getAs[Long]("#rows"), r)
          }
          val si = ordered.zipWithIndex.toMap
          (mergeStatRows(merged.map(_.stats), contCols), merged,
            byName.flatMap { case (name, parts) => parts.iterator.map(raw(_) -> si(name)) })
        }
    }
    // Per-row stratum index for the passes below; a raw value that raced
    // in after pass 1 maps to -1: it counts toward the totals only.
    val stratum: Option[Column] = cfg.stratify.map(s =>
      coalesce(element_at(typedLit(rawToSi), Sanitize.rawKey(col(s))), lit(-1)))
    val total: Long = globalRow.getAs[Long]("#rows")
    val stratNames = strata.map(_.name)
    val globalStats: Option[Row] = if (contCols.isEmpty) None else Some(globalRow)

    // --- pass 2: EXACT quartiles for every continuous column and every
    // stratum + the total. Pass 1's non-null counts bound the quartile
    // histogram's rows for free. Key: None = grand total, Some(s) = stratum.
    val sumN = contCols.map(c => globalRow.getAs[Long](s"$c#n")).sum
    val quartMap: Map[(String, Option[String]), Array[Double]] =
      if (sumN == 0L) Map.empty // no continuous column, or every value null
      else exactQuartiles(df, stratum, stratNames, contCols, sumN)

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
      val counts = df
        .select(stratum.getOrElse(lit(-1)).as(StratCol), explode(kvs).as("kv"))
        .select(col(StratCol), col("kv.variable").as("variable"), col("kv.Values").as("Values"))
        .groupBy("variable", "Values")
        .agg(count(lit(1)).as("All_Patients"),
          stratNames.zipWithIndex.map { case (sv, i) => count(when(col(StratCol) === i, 1)).as(sv) }: _*)

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
