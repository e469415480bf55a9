package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession}
import org.apache.spark.sql.types.StructType

/** Spark 4 made Column<->Expression conversion `private[sql]`
  * (connect/classic split). This bridge lives under the sql package
  * namespace to expose the conversions the custom Catalyst expressions
  * in `graft.functions` need, and the internal-row frame map the
  * Table 1 census tallies with. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `f` over each partition of `df`'s executed rows, as a frame of
    * `schema`. The rows stay Catalyst `InternalRow`s (no `Row`
    * deserialization; an `UnsafeRow` input may reuse its buffer between
    * rows), and `f` skips the RDD API's ClosureCleaner, which re-reads
    * the capturing class's bytecode and intermittently fails under sbt's
    * layered test classloader. `f` must produce rows of `schema`. */
  def mapInternalRows(df: DataFrame, schema: StructType)(
      f: Iterator[InternalRow] => Iterator[InternalRow]): DataFrame =
    df.sparkSession.asInstanceOf[SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd.mapPartitionsInternal(f), schema)
}
