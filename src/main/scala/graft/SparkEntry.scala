package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tableone.{TableOne, TableOneConfig}
import graft.Util.table
import graft.queries._

/** One registered query: its name, the DuckDB SQL that must reproduce its
  * output (`None`: rows-only, checked by row count alone) and its builder
  * over the driver's parquet tables in `sfDir`. */
final case class Query(name: String, oracle: Option[String])(val build: (SparkSession, String) => DataFrame)

/** Driver contract: the flagship query and the query registry.
  *
  * Every query takes (spark, sfDir) and reads the driver's parquet tables.
  * A query with an oracle is hash-compared against DuckDB at sf0.01;
  * double columns are rounded to 6 decimals on BOTH sides
  * (Util.roundDoubles / ROUND in the SQL) so parallel-summation float
  * noise cannot flip the compare. The queries live in the family objects
  * of `graft.queries`, one per set of name prefixes.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full stratified Table 1 over lineitem with p-values. */
  def entry(spark: SparkSession): DataFrame =
    TableOne.summarize(
      table(spark, "/root/testdata/sf0.001", "lineitem"),
      TableOneConfig(stratify = Some("l_returnflag"),
        cols = Seq("l_linestatus", "l_quantity", "l_extendedprice"),
        pValues = true))

  /** Every registered query, family by family. */
  val registry: Seq[Query] =
    TableOneQueries.all ++ AggregateQueries.all ++ RelationalQueries.all ++
      DedupQueries.all ++ SimilarityQueries.all ++ MultimodalQueries.all ++
      TextQueries.all ++ SamplingQueries.all ++ CurationQueries.all ++
      GraphQueries.all ++ EvaluationQueries.all ++ MonitoringQueries.all ++
      EventQueries.all ++ StorageQueries.all

  /** `qs` keyed by name; a name registered twice fails. */
  private[graft] def index(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }

  private val byName = index(registry)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, q) => n -> q.build }

  val oracleSql: Map[String, String] =
    byName.collect { case (n, q) if q.oracle.isDefined => n -> q.oracle.get }

  /** The named queries in the given order, or every query when `names` is
    * empty; a name that is not registered fails. */
  def select(names: Seq[String]): Seq[Query] = {
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    if (names.isEmpty) registry else names.distinct.map(byName)
  }
}
