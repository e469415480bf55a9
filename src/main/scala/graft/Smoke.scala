package graft

import graft.tableone.{TableOne, TableOneConfig}

/** Dev smoke driver: runs the flagship entry + edge probes on sf0.001.
  * Usage: sbt "runMain graft.Smoke" */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")

    val e = SparkEntry.entry(spark)
    println("ENTRY rows=" + e.count())
    e.show(25, false)

    try TableOne.summarize(li, TableOneConfig(cols = Seq("no_such_col"))).collect()
    catch { case ex: Throwable =>
      println("PROBE bad col -> " + ex.getMessage.linesIterator.next()) }

    val t = TableOne.summarize(li, TableOneConfig(cols = Nil))
    println("PROBE empty cols -> rows=" + t.count())
    t.show(false)

    val n = TableOne.summarize(li,
      TableOneConfig(stratify = Some("l_linenumber"), cols = Seq("l_quantity")))
    println("PROBE numeric strat cols=" + n.columns.mkString(","))

    // catalog introspection (SURVEY.md §2.1 S4) + temp-view SQL access
    li.createOrReplaceTempView("lineitem")
    println("PROBE catalog tables=" +
      spark.catalog.listTables().collect().map(_.name).mkString(","))
    println("PROBE sql view rows=" +
      spark.sql("SELECT count(*) AS c FROM lineitem").head().getAs[Long]("c"))

    spark.stop()
  }
}
