package graft

/** Physical-plan audit: prints `explain("formatted")` for representative
  * queries so scan pruning (ReadSchema/PushedFilters), join strategies
  * (broadcast vs shuffle), and exchange counts can be reviewed. Usage:
  * `sbt "runMain graft.Explain [sfDir] [query...]"` (defaults: sf0.001,
  * a curated set). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val selected = SparkEntry.select(
      if (args.length > 1) args.tail.toSeq
      else Seq("t1_tableone_lineitem", "d3_minhash_dedup", "s1_cosine_topk",
        "s3_ann_ivf", "e2_sessionize", "x1_text_stats", "a2_pivot_counts"))
    val spark = Session.local()
    // EXPLAIN_RUN=1: additionally EXECUTE each query and print the final
    // adaptive plan — AQE decisions (stage reuse, skew splits, join
    // demotions) are invisible in the static formatted plan.
    val alsoRun = sys.env.getOrElse("EXPLAIN_RUN", "0") == "1"
    selected.foreach { q =>
      println(s"\n========== ${q.name} ==========")
      val df = q.build(spark, sfDir)
      df.explain("formatted")
      if (alsoRun) {
        df.collect()
        println(s"---------- ${q.name}: final adaptive plan ----------")
        println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
