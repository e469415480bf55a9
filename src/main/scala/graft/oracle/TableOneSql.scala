package graft.oracle

/** Generates the DuckDB oracle SQL equivalent of a
  * [[graft.tableone.TableOne.summarize]] call (beautify=false,
  * pValues=false), for the driver's correctness gate.
  *
  * All DOUBLE cells are ROUND(x, 6) on both sides (the Spark queries wrap
  * the engine output with the same rounding) so that engine-order-dependent
  * floating-point summation (avg/stddev partial aggregation) cannot flip
  * the hash compare.
  *
  * Strata must be the (sanitized) stratification values present in the
  * data, in the engine's display order (Sanitize.orderStrata). Quartiles
  * use `quantile_disc`, which returns the data element at rank ceil(q*n),
  * the engine's order-statistics pick (SURVEY.md §1.5).
  */
object TableOneSql {

  private def sanitize(col: String): String =
    s"COALESCE(REPLACE(CAST($col AS VARCHAR), ' ', '_'), 'MISSING')"

  /** 6dp gate rounding with the same +5e-10 half-point nudge as
    * [[graft.Util.roundDoubles]] — see the rationale there. Both sides of
    * the compare MUST nudge identically. */
  private def rnd(e: String): String = s"ROUND($e + 5e-10, 6)"

  /** @param cols (name, isContinuous) in analysis order
    * @param table table name OR a parenthesized derived-table expression
    *              (e.g. `(SELECT nullif(c,'x') AS c FROM t) AS src`) —
    *              interpolated verbatim into every `FROM`
    * @param beautify wrap the long layout in the presentation transform:
    *              drop Pivoted_column/Variable_type, keep the variable
    *              label (underscores -> spaces) only on each variable's
    *              first row (TableOne.summarize beautify branch) */
  def oracle(table: String, strat: Option[String], strata: Seq[String],
             cols: Seq[(String, Boolean)], beautify: Boolean = false): String = {
    val s = strat.map(sanitize)
    val stratFilter: Seq[String] = strata.map(v => s" FILTER (WHERE ${s.get} = '$v')")
    val allSlots: Seq[String] = "" +: stratFilter // global + per-stratum
    val countNames = "All_Patients" +: strata

    def q(n: String) = "\"" + n + "\""

    // ---- CTEs ----
    val totCte = {
      val aggs = allSlots.zipWithIndex.map { case (f, i) => s"count(*)$f AS c$i" }
      s"tot AS (SELECT ${aggs.mkString(", ")} FROM $table)"
    }
    val catCtes = cols.collect { case (c, false) =>
      val aggs = allSlots.zipWithIndex.map { case (f, i) => s"count(*)$f AS c$i" }
      s"cat_$c AS (SELECT COALESCE($c, 'MISSING') AS v, ${aggs.mkString(", ")} FROM $table GROUP BY 1)"
    }
    val contCtes = cols.collect { case (c, true) =>
      val aggs = allSlots.zipWithIndex.flatMap { case (f, i) =>
        Seq(
          s"count($c)$f AS n$i", s"min($c)$f AS mn$i", s"max($c)$f AS mx$i",
          s"avg($c)$f AS me$i", s"stddev_samp($c)$f AS sd$i",
          s"quantile_disc($c, 0.25)$f AS qa$i",
          s"quantile_disc($c, 0.50)$f AS qb$i",
          s"quantile_disc($c, 0.75)$f AS qc$i")
      }
      s"s_$c AS (SELECT ${aggs.mkString(", ")} FROM $table)"
    }

    val pivotedLabel = strat.getOrElse("")
    def fixed(index: String, char: String, vtype: String, values: String) =
      Seq(s"'$pivotedLabel' AS ${q("Pivoted_column")}", s"$index AS ${q("Index")}",
        s"$char AS ${q("Characteristics")}", s"$vtype AS ${q("Variable_type")}",
        s"$values AS ${q("Values")}")

    // ---- Totals row ----
    val totalsSelect = {
      val cells = countNames.zipWithIndex.flatMap { case (n, i) =>
        Seq(s"${rnd(s"CAST(c$i AS DOUBLE)")} AS ${q(n)}", s"CAST(1.0 AS DOUBLE) AS ${q(n + "_%")}")
      }
      (fixed("CAST(0.0 AS DOUBLE)", "'Total'", "CAST(NULL AS VARCHAR)", "'ALL'") ++ cells)
        .mkString("SELECT ", ", ", " FROM tot")
    }

    // ---- categorical blocks ----
    val orderKey =
      "(CASE WHEN v = 'Yes' THEN 1 WHEN v = 'No' THEN 2 WHEN v = 'MISSING' THEN 6 " +
        "WHEN regexp_matches(lower(v), 'missing|unknown|other') THEN 5 ELSE 3 END)"
    val catSelects = cols.zipWithIndex.collect { case ((c, false), pos) =>
      val idx = pos + 1
      val indexExpr = rnd(s"CAST($idx AS DOUBLE) + CAST(row_number() OVER (ORDER BY $orderKey, v) AS DOUBLE) * CAST(0.01 AS DOUBLE)")
      val cells = countNames.zipWithIndex.flatMap { case (n, i) =>
        Seq(s"${rnd(s"CAST(cat_$c.c$i AS DOUBLE)")} AS ${q(n)}",
          s"${rnd(s"CAST(cat_$c.c$i AS DOUBLE) / CAST(tot.c$i AS DOUBLE)")} AS ${q(n + "_%")}")
      }
      (fixed(indexExpr, s"'$c'", "'category'", "v") ++ cells)
        .mkString("SELECT ", ", ", s" FROM cat_$c CROSS JOIN tot")
    }

    // ---- continuous blocks (8 rows per column) ----
    val slots = Seq(
      ("n", "0.1", "n"), ("min", "0.2", "mn"), ("max", "0.3", "mx"),
      ("mean", "0.4", "me"), ("stddev", "0.5", "sd"),
      ("25th percentile", "0.6", "qa"), ("50th percentile", "0.7", "qb"),
      ("75th percentile", "0.8", "qc"))
    val contSelects = cols.zipWithIndex.collect { case ((c, true), pos) =>
      val idx = pos + 1
      slots.map { case (label, frac, pre) =>
        val cells = countNames.indices.flatMap { i =>
          Seq(s"${rnd(s"CAST($pre$i AS DOUBLE)")} AS ${q(countNames(i))}",
            s"CAST(NULL AS DOUBLE) AS ${q(countNames(i) + "_%")}")
        }
        (fixed(rnd(s"CAST($idx AS DOUBLE) + CAST($frac AS DOUBLE)"), s"'$c'", "'continuous'", s"'$label'") ++ cells)
          .mkString("SELECT ", ", ", s" FROM s_$c")
      }
    }.flatten

    val ctes = (Seq(totCte) ++ catCtes ++ contCtes).mkString("WITH ", ", ", " ")
    val body = (Seq(totalsSelect) ++ catSelects ++ contSelects).mkString(" UNION ALL ")
    if (!beautify) s"""$ctes$body ORDER BY "Index", "Values""""
    else {
      val pairColumns = countNames.flatMap(n => Seq(q(n), q(n + "_%")))
      s"""$ctes, base AS ($body) SELECT ${q("Index")}, """ +
        s"""CASE WHEN row_number() OVER (PARTITION BY ${q("Characteristics")} ORDER BY ${q("Index")}, ${q("Values")}) = 1 """ +
        s"""THEN replace(${q("Characteristics")}, '_', ' ') ELSE NULL END AS ${q("Characteristics")}, """ +
        s"""${q("Values")}, ${pairColumns.mkString(", ")} FROM base ORDER BY ${q("Index")}, ${q("Values")}"""
    }
  }
}
