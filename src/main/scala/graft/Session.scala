package graft

import org.apache.spark.sql.SparkSession

/** The suite mains' one local session (Bench, Verify, Smoke, ScaleData,
  * Explain). `Cli` keeps its own builder: it must honour the master that
  * `spark-submit` sets. */
object Session {
  /** `local[SPARK_GRAFT_CPUS]` (default: every available core), one
    * shuffle partition per core, UTC, no UI, WARN logging. */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // Static conf, read at session creation. The default 100-entry
      // generated-class cache cannot hold the query suite: every full
      // Bench pass evicts everything, so every pass re-generates,
      // re-Janino-compiles and re-JITs each query's codegen classes (x9
      // measured 17.9 s in-sweep vs 4.3 s isolated at sf10, same code).
      // It changes no output, so every main shares it.
      .config("spark.sql.codegen.cache.maxEntries", "2048")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
