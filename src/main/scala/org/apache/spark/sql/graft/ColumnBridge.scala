package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, RowToColumnarExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Spark 4 made Column<->Expression conversion `private[sql]`
  * (connect/classic split). This bridge lives under the sql package
  * namespace to expose the conversions the custom Catalyst expressions
  * in `graft.functions` need, and the column-batch frame map the
  * Table 1 census tallies with. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `f` over each partition of `df`'s executed plan as column batches
    * (which the producer may reuse), as a frame of `schema`. A root
    * `ColumnarToRow` (a vectorized scan) hands over its child's batches;
    * any other plan goes through `RowToColumnarExec`. Only the root is
    * unwrapped: a `ColumnarToRow` under a row operator feeds that
    * operator. `f` skips the RDD API's ClosureCleaner, which re-reads the
    * capturing class's bytecode and intermittently fails under sbt's
    * layered test classloader. `f` must produce rows of `schema`. */
  def mapBatches(df: DataFrame, schema: StructType)(
      f: Iterator[ColumnarBatch] => Iterator[InternalRow]): DataFrame = {
    def scanned(p: SparkPlan): Option[SparkPlan] = p match {
      case _: WholeStageCodegenExec | _: InputAdapter => scanned(p.children.head)
      case c: ColumnarToRowExec                      => Some(c.child)
      case _                                         => None
    }
    val session = df.sparkSession.asInstanceOf[SparkSession]
    session.withActive {
      val plan = df.queryExecution.executedPlan
      val batches = scanned(plan).getOrElse(RowToColumnarExec(plan)).executeColumnar()
      session.internalCreateDataFrame(batches.mapPartitionsInternal(f), schema)
    }
  }
}
