package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `{"query": "oracle SQL", ...}`: every control character escaped, so
    * a tab or CR in the SQL cannot break the checker's `json.load`. */
  private[graft] def oracleJson(sql: Map[String, String]): String =
    Util.json.writeValueAsString(sql.asJava)

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — extra names restrict the
    // dump to those queries (local iteration aid; the driver passes two)
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }
}
