package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.NumericType

import graft.SparkEntry
import graft.oracle.TableOneSql
import graft.tableone.{Sanitize, TableOne, TableOneConfig}

/** One distinct operation of a workload.
  *
  * @param build    the call into the program's public entry point; its
  *                 returned DataFrame is consumed by the harness
  * @param inputs   tables the operation reads; their row counts make the
  *                 operation's fixed input size for `rows_per_s`
  * @param oracle   DuckDB SQL that must reproduce the (6dp-rounded)
  *                 result; built once, at verification time
  * @param dropCols result columns the oracle does not cover */
final case class Op(key: String, layer: String, inputs: Seq[String],
                    build: SparkSession => DataFrame,
                    oracle: SparkSession => String,
                    dropCols: Seq[String] = Nil)

/** @param register     input registration, run by every set-up
  * @param ops          the distinct operations, each verified once
  * @param pass         one pass of the closed loop: indices into `ops`
  * @param warmupPasses untimed passes before the measured ones */
final case class Workload(name: String, register: SparkSession => Unit,
                          ops: IndexedSeq[Op], pass: scala.util.Random => IndexedSeq[Int],
                          warmupPasses: Int)

object Workloads {
  val Continuous = Seq("age", "bmi", "sbp", "ldl", "hba1c", "crp")
  val Categorical = Seq("sex", "smoking", "site", "dx_code")
  private val TestCols = Seq("p_value", "test_value", "test_name")

  /** The operator queries of `ops_mix` and the tables each reads: one
    * or two per operator family, sized so a pass fits the run budget. */
  val OpsQueries: Seq[(String, Seq[String])] = Seq(
    "a13_grouped_quantiles_dist" -> Seq("lineitem"),
    "d6_minhash_dedup_cc" -> Seq("documents"),
    "m6_phash_neardup" -> Seq("documents"),
    "g2_pagerank" -> Seq("orders"),
    "g6_kcore" -> Seq("documents"),
    "x14_bm25" -> Seq("documents"),
    "o15_jsonl_export" -> Seq("documents"),
    "j1_outer_join" -> Seq("customer", "orders"),
    "k1_salted_agg" -> Seq("lineitem"))

  def apply(name: String, dataDir: String, seed: Long): Workload = name match {
    case "cohort_1m" =>
      val op = tableOneOp("cohort_1m", "cohort_1m",
        TableOneConfig(Some("arm"), Continuous ++ Categorical, pValues = true))
      // repeated calls: the first (verifying) call is untimed
      Workload(name, register(dataDir, Seq("cohort_1m")), IndexedSeq(op), _ => IndexedSeq(0), 1)
    case "table1_sweep" =>
      val ops = sweepConfigs(seed).zipWithIndex.map { case (cfg, i) =>
        tableOneOp(f"cfg$i%02d", "cohort_50k", cfg)
      }
      Workload(name, register(dataDir, Seq("cohort_50k")), ops,
        rnd => rnd.shuffle(ops.indices.toIndexedSeq), 1)
    case "ops_mix" =>
      val dir = s"$dataDir/ops"
      val ops = OpsQueries.map { case (q, inputs) =>
        val fn = SparkEntry.queries(q)
        val sql = SparkEntry.oracleSql(q)
        Op(q, "ops", inputs, s => fn(s, dir), _ => sql)
      }.toIndexedSeq
      // first call of each distinct plan in a set-up session: no warm-up
      // pass, so plan-specific codegen and Catalyst work is measured
      Workload(name, register(dir, OpsQueries.flatMap(_._2).distinct), ops,
        rnd => rnd.shuffle(ops.indices.toIndexedSeq), 0)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Input registration: one temp view per table, warmed by one full
    * scan (the program still reads the files itself on every call). */
  private def register(dir: String, tables: Seq[String])(spark: SparkSession): Unit =
    tables.foreach { t =>
      val df = spark.read.parquet(s"$dir/$t.parquet")
      df.createOrReplaceTempView(t)
      df.foreach((_: org.apache.spark.sql.Row) => ())
    }

  private def tableOneOp(key: String, table: String, cfg: TableOneConfig): Op = {
    val drop = if (cfg.pValues && cfg.stratify.isDefined) TestCols else Nil
    Op(key, "tableone", Seq(table),
      s => TableOne.summarize(s.table(table), cfg),
      s => tableOneOracle(s, table, cfg), drop)
  }

  /** [[TableOneSql.oracle]] for a config; the strata are the sanitized
    * values present in the data, in the engine's display order. */
  private val strataMemo = scala.collection.mutable.Map.empty[(String, String), Seq[String]]

  private def tableOneOracle(spark: SparkSession, table: String, cfg: TableOneConfig): String = {
    val df = spark.table(table)
    val strata = cfg.stratify.toSeq.flatMap { s =>
      strataMemo.getOrElseUpdate((table, s), Sanitize.orderStrata(
        df.select(Sanitize.stratColumn(col(s))).distinct().collect().map(_.getString(0)).toSeq))
    }
    val kinds = cfg.cols.map(c => c -> df.schema(c).dataType.isInstanceOf[NumericType])
    TableOneSql.oracle(table, cfg.stratify, strata, kinds, cfg.beautify)
  }

  /** 24 analyst configurations drawn from the seed. The shape is balanced
    * so every seed costs about the same: each stratification choice and
    * each subset size (2-6 columns) recurs, and `beautify` and `pValues`
    * alternate independently; the seed picks the columns. */
  def sweepConfigs(seed: Long): IndexedSeq[TableOneConfig] = {
    val rnd = new scala.util.Random(seed)
    val strats = IndexedSeq(Some("arm"), Some("sex"), Some("smoking"), Some("site"), None)
    (0 until 24).map { i =>
      val strat = strats(i % strats.size)
      val pool = (Continuous ++ Categorical).filterNot(c => strat.contains(c))
      val cols = rnd.shuffle(pool).take(2 + (i % 5 + i / 5) % 5)
      TableOneConfig(strat, cols, beautify = (i / 2) % 2 == 1, pValues = i % 2 == 0)
    }
  }
}
