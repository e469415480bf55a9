package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tableone.{TableOne, TableOneConfig}

/** Executable entry point: run a Table 1 summary over a parquet dataset
  * from the command line — the working version of the reference's broken
  * `__main__` shim (/root/reference/tableone_pyspark.py:532-533 calls a
  * function that does not exist; bug B4 in SURVEY.md §6).
  *
  * {{{
  * spark-submit --class graft.Cli graft.jar \
  *   --input /data/lineitem.parquet \
  *   --stratify l_returnflag \
  *   --cols l_linestatus,l_quantity \
  *   --p-values --beautify \
  *   --output /out/table1.parquet
  * }}}
  *
  * Without `--output` the table prints to stdout. `--output` writes
  * parquet, or CSV (one file with header) when the path ends in `.csv`.
  * `--format parquet|csv|json` selects the input reader (default
  * parquet; CSV reads a header row and infers the schema). Under
  * spark-submit the provided session/master is used; standalone runs
  * fall back to `local[*]`.
  */
object Cli {

  final case class CliArgs(
      input: String = "",
      stratify: Option[String] = None,
      cols: Seq[String] = Nil,
      pValues: Boolean = false,
      beautify: Boolean = false,
      output: Option[String] = None,
      format: String = "parquet")

  val formats: Set[String] = Set("parquet", "csv", "json")

  val usage: String =
    """usage: graft.Cli --input <path or dir> --cols c1,c2,...
      |               [--format parquet|csv|json]  (default parquet;
      |                csv reads header + inferred schema)
      |               [--stratify col] [--p-values] [--beautify]
      |               [--output path(.csv for CSV, else parquet)]""".stripMargin

  /** Pure argument parser (exercised directly by the spec). */
  def parse(args: Seq[String]): Either[String, CliArgs] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: CliArgs): Either[String, CliArgs] = rest match {
      case Nil                          => Right(acc)
      case "--input" :: v :: t          => loop(t, acc.copy(input = v))
      case "--format" :: v :: t         => loop(t, acc.copy(format = v.toLowerCase))
      case "--stratify" :: v :: t       => loop(t, acc.copy(stratify = Some(v)))
      case "--cols" :: v :: t           => loop(t, acc.copy(cols = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq))
      case "--p-values" :: t            => loop(t, acc.copy(pValues = true))
      case "--beautify" :: t            => loop(t, acc.copy(beautify = true))
      case "--output" :: v :: t         => loop(t, acc.copy(output = Some(v)))
      case other :: _                   => Left(s"unknown or incomplete argument: $other\n$usage")
    }
    loop(args.toList, CliArgs()).flatMap { a =>
      if (a.input.isEmpty) Left(s"--input is required\n$usage")
      else if (a.cols.isEmpty) Left(s"--cols is required\n$usage")
      else if (!formats(a.format)) Left(s"unsupported --format '${a.format}'\n$usage")
      else Right(a)
    }
  }

  /** Reader dispatch: the library API takes any DataFrame; the CLI covers
    * the common file formats so a CSV/JSON user is not stuck behind the
    * parquet-only default. CSV infers the schema (one extra pass over the
    * input — a CLI convenience; programmatic users pass a typed frame). */
  private def read(spark: SparkSession, a: CliArgs): DataFrame = a.format match {
    case "csv"  => spark.read.option("header", "true").option("inferSchema", "true").csv(a.input)
    case "json" => spark.read.json(a.input)
    case _      => spark.read.parquet(a.input)
  }

  /** Run the summary for parsed args on an existing session (testable
    * seam; `main` only adds session bootstrap and output handling). */
  def run(spark: SparkSession, a: CliArgs): DataFrame =
    TableOne.summarize(
      read(spark, a),
      TableOneConfig(stratify = a.stratify, cols = a.cols,
        beautify = a.beautify, pValues = a.pValues))

  /** Writes the summary as ONE file in its row order: CSV with a header
    * when `path` ends in ".csv", parquet otherwise. The summary is a
    * local relation spread over several partitions; `coalesce(1)`
    * concatenates them in order. */
  def write(out: DataFrame, path: String): Unit = {
    val w = out.coalesce(1).write.mode("overwrite")
    if (path.endsWith(".csv")) w.option("header", "true").csv(path) else w.parquet(path)
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(err) =>
      System.err.println(err)
      sys.exit(2)
    case Right(a) =>
      val spark = SparkSession.builder()
        .appName("graft-tableone")
        // spark-submit sets the master; standalone runs get local[*]
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .master(sys.props.getOrElse("spark.master", "local[*]"))
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val out = run(spark, a)
        a.output match {
          case Some(p) =>
            write(out, p)
            println(s"wrote ${if (p.endsWith(".csv")) "CSV" else "parquet"} to $p")
          case None =>
            out.show(1000, truncate = false)
        }
      } finally spark.stop()
  }
}
