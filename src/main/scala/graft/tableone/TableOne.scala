package graft.tableone

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.ops.OrderStatistics
import graft.ops.OrderStatistics.{LocalMaxRows, Moments, Tally}

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
  *                 RAW values (null counts as one), exactly the census's
  *                 row-counter entries the driver reads; where several
  *                 raw values sanitize to one name (e.g. "a b" and "a_b")
  *                 the output has fewer strata than the cap counted.
  */
final case class TableOneConfig(
    stratify: Option[String] = None,
    cols: Seq[String] = Nil,
    beautify: Boolean = false,
    pValues: Boolean = false,
    maxStrata: Int = 1000) {
  require(maxStrata >= 1, s"maxStrata must be >= 1, got $maxStrata")
}

/** "Table 1" descriptive-statistics engine — a from-scratch Scala Spark
  * re-expression of the reference's capabilities
  * (/root/reference/tableone_pyspark.py:20-261).
  *
  * Output contract (long layout, one row per statistic or category):
  * `Pivoted_column, Index, Characteristics, Variable_type, Values,
  * All_Patients, All_Patients_%` then per-stratum `<v>, <v>_%` pairs, then
  * (pValues) `p_value, test_value, test_name`. `Index` is the double sort
  * key: integer part = variable position (0 = Totals), fraction = statistic
  * slot (continuous .1-.8) or category rank * 0.01. Rows come in
  * `orderBy("Index", "Values")` order.
  *
  * Execution design (vs the reference's >=10 jobs per continuous column,
  * SURVEY.md §3.5): ONE scan and ONE hash aggregation regardless of
  * column count or stratification — the census ([[Census]]): one row
  * counter per raw stratum, one (column, value) tally per continuous
  * column and one (column, category) tally per categorical column. Each
  * partition counts the scan's column batches straight into typed maps
  * (dictionary-encoded strings by dictionary id; an input that is not a
  * bare vectorized scan is batched by `RowToColumnarExec`), and one
  * `groupBy(c, raw stratum, v, s).agg(sum(w))` merges the partial rows.
  * At or under [[graft.ops.OrderStatistics.LocalMaxRows]] census rows the
  * driver collects the census and computes every cell — strata names and
  * sizes, counts, min/max and exact quartiles (order statistics over the
  * sorted tallies), mean/stddev and the t-test/ANOVA moments (one
  * weighted fold), categorical counts and chi-square — and returns a
  * LocalRelation, which consumes without a job. A larger census stays
  * distributed: its row counters and categorical cells are collected, and
  * the continuous tallies are range-partitioned through
  * [[exactQuartiles]]. Strata are keyed by their RAW value and named on
  * the driver, merging raw values that sanitize to one name; raw rows are
  * never collected, unlike the reference's per-column `toPandas()`
  * (/root/reference/tableone_pyspark.py:453, :500).
  */
object TableOne extends Logging {
  import Sanitize.Missing

  /** Continuous statistic slots: (Values label, Index fraction), in output
    * order (/root/reference/tableone_pyspark.py:325-434). */
  private val ContSlots = Seq(
    "n" -> 0.1, "min" -> 0.2, "max" -> 0.3, "mean" -> 0.4, "stddev" -> 0.5,
    "25th percentile" -> 0.6, "50th percentile" -> 0.7, "75th percentile" -> 0.8)

  /** 1-based rank `ceil(k*n/4)` of quartile k in integer-exact Long math
    * — the same pick as DuckDB's `quantile_disc`, with no float-epsilon
    * tie-break risk against the oracle. */
  private def quartileRank(k: Long)(n: Long): Long = (k * n + 3) / 4

  /** The order-statistic slots and their rank among n values. NaN sorts
    * greatest (Spark's order), so rank n is Spark's `max` and rank 1 its
    * `min`. */
  private val RankSlots: Map[String, Long => Long] = Map(
    "min" -> (_ => 1L), "max" -> (n => n), "25th percentile" -> quartileRank(1),
    "50th percentile" -> quartileRank(2), "75th percentile" -> quartileRank(3))
  private def statRanks(n: Long): Seq[Long] = RankSlots.values.map(_(n)).toSeq

  /** Statistics group of a continuous column: (variable position, stratum
    * name), or (position, None) for the column's grand total. Census rows
    * carry the RAW stratum key in the second field until `levels` names it. */
  private type Key = (Int, Option[String])

  /** One collected census row: variable position `c` (0 = the row
    * counter), raw stratum key `r`, continuous value `v` or category `s`,
    * and weight `w`. Not `private`: Spark's generated deserializer must
    * reach its members, or every collect logs a failed compile and falls
    * back to the interpreted projection. */
  private[tableone] final case class Entry(c: Int, r: String, v: Option[Double], s: Option[String], w: Long)

  /** EXACT order statistics and moments of every continuous column, per
    * stratum and in total, from the distributed census's non-null
    * continuous tallies: [[graft.ops.OrderStatistics.pick]] range-orders
    * them on (column, value, raw stratum), so each stratum AND the
    * column's grand total read their ranks off the same ordered census
    * (`levels` counts a tally toward both), and each range partition
    * folds the groups' moments that the driver merges in partition order.
    *
    * Scale posture: no quantile sketch (the reference's rowcount-accuracy
    * sketch serializes a near-copy of the column into a single-threaded
    * final-stage merge — 30 s/group at sf1's 6M rows), and no
    * per-column ordered window (a `partitionBy(col)` running sum is one
    * task per column no matter the cluster). */
  private def exactQuartiles(tallies: DataFrame, levels: Key => Seq[Key])
      : (Map[Key, Moments], Map[(Key, Long), Double]) =
    OrderStatistics.pick[Key](tallies, struct(col("c").as("_1"), col("r").as("_2")),
      Seq(col("c"), col("v"), col("r")), statRanks, levels)

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
      val ranks = (n: Long) => Seq(1L, 2L, 3L).map(quartileRank(_)(n))
      val (m, at) = OrderStatistics.pick[Long](hist, lit(0L), Seq(col("v")), ranks,
        censusRowsAtMost = hist.count())
      val qs = m.get(0L).fold(Seq.fill(3)(lit(null)))(g => ranks(g.n).map(r => lit(at((0L, r)))))
      val dt = df.schema(c).dataType
      df.sparkSession.range(1).select(
        qs.zip(Seq("q25", "q50", "q75")).map { case (q, name) => q.cast(dt).as(name) }: _*)
    } finally hist.unpersist()
  }

  /** Spark's string order: UTF-8 bytes, i.e. code point order, which
    * Java's UTF-16 `String` order breaks for supplementary characters. */
  private val SparkStringOrder: Ordering[String] =
    (a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Spark's `orderBy("Index", "Values")` on the driver. */
  private val OutputOrder: Ordering[(Double, String)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, SparkStringOrder)

  def summarize(df: DataFrame, cfg: TableOneConfig): DataFrame = summarize(df, cfg, LocalMaxRows)

  /** [[summarize]] with the census row count up to which the driver
    * computes every cell; specs lower it to drive the distributed route
    * on small inputs. */
  private[tableone] def summarize(df: DataFrame, cfg: TableOneConfig, localMaxRows: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pValues = cfg.pValues && cfg.stratify.isDefined
    if (cfg.pValues && cfg.stratify.isEmpty)
      logWarning("p_values forced off: no stratification column")

    // --- dispatch analyzed columns by Spark type ----------------------
    val schema = df.schema
    cfg.cols.foreach { c =>
      require(schema.fieldNames.contains(c), s"column to analyze not in schema: $c")
    }
    cfg.stratify.foreach { s =>
      require(schema.fieldNames.contains(s), s"stratification column not in schema: $s")
    }
    // Type dispatch (beyond the reference's string/numeric-only handling,
    // tableone_pyspark.py:215-217): booleans are a natural two-category
    // variable (cast to "true"/"false" in the census); DecimalType is a
    // NumericType, so decimal measures get the full continuous treatment
    // (values are cast to double in the census); date/timestamp and any
    // other type warn and skip — there is no defensible default summary.
    val analyzed: Seq[(String, Boolean)] = cfg.cols.flatMap { c =>
      schema(c).dataType match {
        case StringType | BooleanType => Some(c -> false)
        case _: NumericType           => Some(c -> true)
        case other =>
          logWarning(s"unsupported column type $c:$other — skipped")
          None
      }
    }
    // (name, variable position): 1-based; 0 is the Totals row and the
    // census's row counter
    val positioned = analyzed.zipWithIndex.map { case ((c, cont), i) => (c, i + 1, cont) }
    val contCols = positioned.collect { case (c, i, true) => c -> i }
    val catCols = positioned.collect { case (c, i, false) => c -> i }

    // --- the census: ONE scan, ONE aggregation -------------------------
    val census = Census.of(df, cfg.stratify, contCols, catCols)
    // Collects at most `atMost` + 1 census rows: one more than fits.
    def upTo(d: DataFrame, atMost: Long): Seq[Entry] =
      d.limit((atMost + 1).min(Int.MaxValue).toInt).as[Entry].collect().toSeq
    val firstRows = upTo(census, localMaxRows)
    val onDriver = firstRows.length <= localMaxRows
    // A census too large for the driver stays distributed for this call.
    if (!onDriver) census.persist()
    val (names, counters, cats, (moments, at)) = try {
      val counters =
        if (onDriver) firstRows.filter(_.c == 0) else upTo(census.filter(col("c") === 0), cfg.maxStrata)
      cfg.stratify.foreach { s =>
        require(counters.length <= cfg.maxStrata,
          s"stratification column '$s' has more than ${cfg.maxStrata} distinct values; " +
            "each stratum becomes two output columns — raise maxStrata only if that is intended")
      }
      // raw stratum key -> stratum name (raw values sharing a name merge);
      // every census row's key is a counter's: they share one scan
      val names = counters.map(e => e.r -> Sanitize.stratValue(e.r)).toMap
      val levels: Key => Seq[Key] =
        if (cfg.stratify.isEmpty) k => Seq((k._1, None))
        else k => Seq((k._1, k._2.map(names)), (k._1, None))
      if (onDriver) {
        // sorted as the distributed route sorts: NaN greatest; the
        // grouping already turned -0.0 into 0.0
        val tallies = firstRows.collect { case Entry(c, r, Some(v), _, w) => Tally[Key]((c, Some(r)), v, w, 0) }
          .sorted(Ordering.by((t: Tally[Key]) => (t.k._1, t.v, t.k._2.get))(
            Ordering.Tuple3(Ordering.Int, Ordering.Double.TotalOrdering, Ordering.String)))
        (names, counters, firstRows.filter(_.s.isDefined), OrderStatistics.crossSorted(tallies, statRanks, levels))
      } else {
        val cats = upTo(census.filter(col("s").isNotNull), LocalMaxRows)
        require(cats.length <= LocalMaxRows,
          s"categorical columns have more than $LocalMaxRows (variable, category, stratum) cells; " +
            "each category becomes an output row — summarize fewer or coarser categorical columns")
        (names, counters, cats,
          if (contCols.isEmpty) (Map.empty[Key, Moments], Map.empty[(Key, Long), Double])
          else exactQuartiles(census.filter(col("v").isNotNull), levels))
      }
    } finally if (!onDriver) census.unpersist()

    val total: Long = counters.map(_.w).sum
    val stratRows: Map[String, Long] = counters.groupMapReduce(e => names(e.r))(_.w)(_ + _)
    val strata: Seq[String] = if (cfg.stratify.isEmpty) Nil else Sanitize.orderStrata(stratRows.keys.toSeq)

    // --- output schema -------------------------------------------------
    val countColNames = "All_Patients" +: strata
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
    val totalsRow = mkRow(0.0, "Total", null, "ALL",
      (("All_Patients" -> Some(total.toDouble)) +: strata.map(s => s -> Some(stratRows(s).toDouble))).toMap,
      countColNames.map(_ -> Some(1.0)).toMap, None)

    // --- continuous rows -----------------------------------------------
    val contRows: Seq[Row] = contCols.flatMap { case (c, idx) =>
      // a group without moments has no non-null value
      def stat(g: Option[String], slot: String): Option[Double] = {
        val m = moments.get((idx, g))
        slot match {
          case "n"      => Some(m.fold(0L)(_.n).toDouble)
          case "mean"   => m.map(_.mean)
          case "stddev" => m.filter(_.n > 1L).map(x => math.sqrt(x.variance))
          case rank     => m.map(x => at(((idx, g), RankSlots(rank)(x.n))))
        }
      }
      val test: Option[TestResult] =
        if (!pValues) None
        else Some {
          val groups = strata.map(s => moments.get((idx, Some(s)))
            .fold(GroupMoments(0L, Double.NaN, Double.NaN))(m => GroupMoments(m.n, m.mean, m.variance)))
          strata.size match {
            case 2          => StatTests.pooledTTest(groups(0), groups(1))
            case n if n > 2 => StatTests.oneWayAnova(groups)
            case _          => StatTests.NotDone
          }
        }
      ContSlots.map { case (slot, frac) =>
        val counts = (("All_Patients" -> stat(None, slot)) +: strata.map(s => s -> stat(Some(s), slot))).toMap
        // p-value attaches to the variable's first row only (slot "n").
        mkRow(idx + frac, c, "continuous", slot, counts, Map.empty, if (slot == "n") test else None)
      }
    }

    // --- categorical rows ----------------------------------------------
    val catRows: Seq[Row] = catCols.flatMap { case (c, idx) =>
      // (category, stratum name -> count), in the reference's category
      // order: order key, then Spark's string order
      val categories = cats.filter(_.c == idx).groupBy(_.s.get).toSeq
        .sortBy { case (v, _) => (Sanitize.categoryOrderKey(v), v) }(Ordering.Tuple2(Ordering.Int, SparkStringOrder))
        .map { case (v, es) => v -> es.groupMapReduce(e => names(e.r))(_.w)(_ + _) }
      // chi-square from the counts (the contingency table IS the pivoted
      // counts — SURVEY.md §2.9 D7), summed in a fixed category order
      val test: Option[TestResult] =
        if (!pValues) None
        else Some {
          val rows = categories.filter(_._1 != Missing).sortBy(_._1)
          // gate: >=5 non-missing rows (a row count — tableone_pyspark.py:503)
          if (rows.map(_._2.values.sum).sum < 5) StatTests.NotDone
          else StatTests.chiSquare(rows.map { case (_, n) => strata.map(n.getOrElse(_, 0L)).toArray }.toArray)
        }
      categories.zipWithIndex.map { case ((v, n), i) =>
        val all = n.values.sum.toDouble
        def cnt(s: String) = n.getOrElse(s, 0L).toDouble
        mkRow(idx.toDouble + (i + 1) * 0.01, c, "category", v,
          (("All_Patients" -> Some(all)) +: strata.map(s => s -> Some(cnt(s)))).toMap,
          (("All_Patients" -> Some(all / total.toDouble)) +:
            strata.map(s => s -> Some(cnt(s) / stratRows(s).toDouble))).toMap,
          if (i == 0) test else None)
      }
    }

    val ordered = (totalsRow +: (contRows ++ catRows)).sortBy(r => (r.getDouble(1), r.getString(4)))(OutputOrder)
    if (!cfg.beautify) spark.createDataFrame(ordered.asJava, outSchema)
    else {
      // drop the bookkeeping columns; each label shows on its first row
      val keep = outCols.indices.filterNot(i => outCols(i) == "Pivoted_column" || outCols(i) == "Variable_type")
      val seen = scala.collection.mutable.Set.empty[String]
      val rows = ordered.map { r =>
        Row.fromSeq(keep.map { i =>
          if (outCols(i) != "Characteristics") r.get(i)
          else if (seen.add(r.getString(i))) r.getString(i).replace("_", " ")
          else null
        })
      }
      spark.createDataFrame(rows.asJava, StructType(keep.map(outSchema(_))))
    }
  }
}
