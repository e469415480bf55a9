package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, TimestampNTZType, TimestampType}

object Util {
  /** The suite mains' one JSON codec: Bench's record and Verify's
    * oracle_sql.json. Lazy, so the queries that load Util never build it. */
  lazy val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Round every DoubleType column to `scale` decimals. Applied to both
    * sides of the DuckDB-oracle compare so order-dependent floating-point
    * summation cannot flip a hash match. */
  /** Oracle-gate rounding for every DOUBLE column. The +5e-10 nudge (also
    * applied inside the paired oracle SQL's ROUND) shifts the half-point
    * rounding boundary off "natural" decimal values: data like l_discount
    * lives on a 0.01 grid, so a mean can sit EXACTLY on a 6dp half point
    * (e.g. 2995.11/60000 = 0.0499185) where each engine's ±1e-12 summation
    * noise decides the direction independently. Nudged, both engines sit
    * ~5e-10 above the half point and round the same way; values not at a
    * boundary are unaffected (5e-10 << the 5e-7 half-ulp at 6dp). */
  def roundDoubles(df: DataFrame, scale: Int = 6): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.dataType == DoubleType) round(col(f.name) + lit(5e-10), scale).as(f.name) else col(f.name)
    }.toSeq: _*)

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The `events` parquet's `ts` physical type has DRIFTED across testdata
    * generations — TIMESTAMP(NANOS) first (Spark 4 rejects it by default,
    * PARQUET_TYPE_ILLEGAL, so it surfaces as int64 nanos under
    * `nanosAsLong`), then timestamp[us] (surfaces as TIMESTAMP_NTZ).
    * Branch on the RESOLVED read schema so both generations — and a plain
    * TimestampType, should the generator drift again — produce the same
    * session-zone TimestampType column:
    *   - LongType (nanos-as-long): integer `div` to micros (not `/`,
    *     which goes through double and loses precision above 2^53 ns).
    *   - TIMESTAMP_NTZ: cast to TimestampType. The wall-clock is
    *     interpreted in the session zone; every session builder in this
    *     repo pins UTC, and the DuckDB oracle reads the same naive
    *     micros directly, so epoch values agree.
    *   - TimestampType: already what downstream wants. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType           => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                  => raw
    }
  }
}
