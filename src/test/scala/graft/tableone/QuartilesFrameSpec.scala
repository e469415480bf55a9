package graft.tableone

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[TableOne.quartilesFrame]]: the distinct-value histogram's row count
  * bounds the order-statistics census, so a low-cardinality column is
  * crossed on the driver and a high-cardinality one is range-partitioned
  * — never an unpartitioned ordered window serialized into one task. */
class QuartilesFrameSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  test("both gate paths pick the identical rank-ceil(k*n/4) element") {
    // 1..1000 doubles: quartiles are the 250th/500th/750th order stats,
    // from quartilesFrame's driver-side route and from summarize's range shuffle
    val df = spark.range(1, 1001).select(col("id").cast("double").as("v"))
    val frame = TableOne.quartilesFrame(df, "v")
    frame.columns.toSeq shouldBe Seq("q25", "q50", "q75")
    Seq(0, 1, 2).map(frame.head().getDouble) shouldBe Seq(250.0, 500.0, 750.0)
    val ranged = TableOne.summarize(df, TableOneConfig(cols = Seq("v")), localMaxRows = 0L).collect()
    Seq("25th percentile", "50th percentile", "75th percentile")
      .map(q => ranged.find(_.getAs[String]("Values") == q).get.getAs[Double]("All_Patients")) shouldBe
      Seq(250.0, 500.0, 750.0)
  }

  test("high-cardinality column avoids the unpartitioned window") {
    val df = spark.range(1, 5001).select(col("id").cast("double").as("v"))
    // the picks return as literals — no Window anywhere
    TableOne.quartilesFrame(df, "v").queryExecution.executedPlan.toString should not include "Window"
    // repeated values: rank semantics must still match quantile_disc
    val dup = spark.range(0, 6000).select((col("id") % 3).cast("double").as("v"))
    val r2 = TableOne.quartilesFrame(dup, "v").head()
    // n=6000 of values {0,1,2} each 2000x: ranks 1500/3000/4500 -> 0,1,2
    Seq(0, 1, 2).map(r2.getDouble) shouldBe Seq(0.0, 1.0, 2.0)
  }

  test("picks keep the column's type; an all-null column gives null quartiles") {
    val ints = spark.range(1, 9).select(col("id").cast("int").as("v"))
    val q = TableOne.quartilesFrame(ints, "v")
    q.schema.map(_.dataType.typeName) shouldBe Seq("integer", "integer", "integer")
    Seq(0, 1, 2).map(q.head().getInt) shouldBe Seq(2, 4, 6)
    val nulls = spark.range(3).select(lit(null).cast("double").as("v"))
    TableOne.quartilesFrame(nulls, "v").head().toSeq shouldBe Seq(null, null, null)
  }

  test("no residual cache after either path") {
    val df = spark.range(1, 101).select(col("id").cast("double").as("v"))
    TableOne.quartilesFrame(df, "v").collect()
    TableOne.summarize(df, TableOneConfig(cols = Seq("v")), localMaxRows = 0L).collect()
    spark.sparkContext.getPersistentRDDs shouldBe empty
  }
}
