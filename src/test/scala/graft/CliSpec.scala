package graft

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class CliSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  test("parse handles all flags and flag order") {
    val a = Cli.parse(Seq("--cols", "a,b", "--input", "/x.parquet",
      "--stratify", "s", "--p-values", "--beautify", "--output", "/o.csv"))
    a shouldBe Right(Cli.CliArgs("/x.parquet", Some("s"), Seq("a", "b"),
      pValues = true, beautify = true, output = Some("/o.csv")))
  }

  test("parse rejects missing required args and unknown flags") {
    Cli.parse(Seq("--cols", "a")).left.toOption.get should include ("--input is required")
    Cli.parse(Seq("--input", "/x")).left.toOption.get should include ("--cols is required")
    Cli.parse(Seq("--input", "/x", "--cols", "a", "--bogus"))
      .left.toOption.get should include ("unknown")
    Cli.parse(Seq("--input", "/x", "--cols", "a", "--format", "avro"))
      .left.toOption.get should include ("unsupported --format")
  }

  test("end-to-end: CSV input produces the same summary as parquet input") {
    // write the parquet table out as CSV, run the CLI reader over it
    val src = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_returnflag", "l_linestatus", "l_quantity")
    val dir = java.nio.file.Files.createTempDirectory("cli_csv").toString + "/lineitem_csv"
    src.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    val viaCsv = Cli.run(spark, Cli.parse(Seq(
      "--input", dir, "--format", "csv",
      "--stratify", "l_returnflag",
      "--cols", "l_linestatus,l_quantity")).toOption.get)
    val viaParquet = Cli.run(spark, Cli.parse(Seq(
      "--input", "/root/testdata/sf0.001/lineitem.parquet",
      "--stratify", "l_returnflag",
      "--cols", "l_linestatus,l_quantity")).toOption.get)
    // same rows up to float formatting: compare the full rendered table
    viaCsv.collect().map(_.toString).sorted shouldBe
      viaParquet.collect().map(_.toString).sorted
  }

  test("end-to-end: summarizes a parquet input and writes parquet output") {
    val a = Cli.parse(Seq(
      "--input", "/root/testdata/sf0.001/lineitem.parquet",
      "--stratify", "l_returnflag",
      "--cols", "l_linestatus,l_quantity",
      "--p-values")).toOption.get
    val out = Cli.run(spark, a)
    val rows = out.collect()
    rows.length should be > 5
    out.columns should contain allOf ("Index", "Characteristics", "Values",
      "All_Patients", "p_value")
    // the write path leaves ONE part file per format, its rows in
    // summarize's order
    val base = java.nio.file.Files.createTempDirectory("cli_out").toString
    def parts(dir: String) = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("part-"))
    val pq = base + "/t1"
    Cli.write(out, pq)
    parts(pq) should have length 1
    spark.read.parquet(pq).collect().toSeq shouldBe rows.toSeq
    val csv = base + "/t1.csv"
    Cli.write(out, csv)
    parts(csv) should have length 1
    spark.read.option("header", "true").csv(csv).collect().map(_.getAs[String]("Values")).toSeq shouldBe
      rows.map(_.getAs[String]("Values")).toSeq
  }
}
