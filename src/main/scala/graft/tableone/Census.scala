package graft.tableone

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** The Table 1 census, tallied where each partition lives.
  *
  * The census is the input's distinct-value footprint: one row counter
  * per raw stratum key `r` (`c` = 0), one tally per (continuous column,
  * `r`, value `v`) and one per (categorical column, `r`, category `s`),
  * each with its weight `w`. It is usually small (cohort_1m: 1M rows,
  * 13k census rows), so instead of exploding every input row into one
  * struct entry per column and hashing them all through a generic
  * aggregate, each partition counts its rows into typed maps — a
  * per-partition stratum dictionary, a `LongMap` per continuous column
  * keyed by the value's bits, a `HashMap` per categorical column keyed by
  * the `UTF8String` — and one `groupBy(c, r, v, s).agg(sum(w))` merges
  * the partitions' partial rows ("A Six-dimensional Analysis of
  * In-memory Aggregation", EDBT 2019: small typed tables for a small
  * output over primitive or short-string keys). */
private[tableone] object Census {
  import Sanitize.Missing

  /** Map entries (strata plus distinct keys) at which a partition flushes
    * its partial rows and starts over, bounding the tally's memory the way
    * a spilling aggregate's is. */
  val FlushAt: Int = 1 << 16

  /** The partial rows [[tally]] emits. */
  val Partial: StructType = StructType(Seq(
    StructField("c", IntegerType, nullable = false), StructField("r", StringType, nullable = false),
    StructField("v", DoubleType), StructField("s", StringType), StructField("w", LongType, nullable = false)))

  /** A NaN bit pattern `doubleToLongBits` never returns (it gives every
    * NaN the canonical 0x7ff8000000000000L): a null value's key. */
  private val NullBits = 0x7ff0000000000001L

  /** The projection [[tally]] reads: the raw stratum key (`""`
    * unstratified), then each continuous column as a double, then each
    * categorical column as a string with null -> [[Sanitize.Missing]]
    * (booleans cast to "true"/"false"). */
  def project(df: DataFrame, stratify: Option[String], cont: Seq[String], cat: Seq[String]): DataFrame =
    df.select(stratify.fold(lit(""))(s => Sanitize.rawKey(col(s))) +:
      (cont.map(c => col(c).cast(DoubleType)) ++
        cat.map(c => coalesce(col(c).cast(StringType), lit(Missing)))): _*)

  /** The census of `df`: columns `c, r, v, s, w`, one row per distinct
    * key. `cont` and `cat` pair each analyzed column with its variable
    * position, the census's `c`. */
  def of(df: DataFrame, stratify: Option[String], cont: Seq[(String, Int)], cat: Seq[(String, Int)]): DataFrame = {
    val (contPos, catPos) = (cont.map(_._2).toArray, cat.map(_._2).toArray)
    ColumnBridge.mapInternalRows(project(df, stratify, cont.map(_._1), cat.map(_._1)), Partial)(
      rows => tally(rows, contPos, catPos, FlushAt))
      .groupBy("c", "r", "v", "s").agg(sum("w").as("w"))
  }

  private final class Count(var w: Long)

  /** One raw stratum's counters in a partition's tally. */
  private final class Stratum(val r: UTF8String, nCont: Int, nCat: Int) {
    var n = 0L
    val cont: Array[mutable.LongMap[Count]] = Array.fill(nCont)(new mutable.LongMap[Count])
    val cat: Array[java.util.HashMap[UTF8String, Count]] = Array.fill(nCat)(new java.util.HashMap[UTF8String, Count])
  }

  /** Partial census rows of one partition's [[project]]ed rows, where
    * column `j` of the continuous (categorical) block is variable
    * position `contPos(j)` (`catPos(j)`). Continuous values key by their
    * bits with -0.0 -> 0.0 and every NaN canonical, as a grouping
    * normalizes them; a null value keys its own row (`v` null). Input
    * strings are cloned on insert: an `UnsafeRow` input reuses its
    * buffer. Whenever the maps hold `flushAt` entries their rows are
    * emitted and the tally starts over, so one key may appear in several
    * partial rows; their `w`s sum to its census weight. */
  def tally(rows: Iterator[InternalRow], contPos: Array[Int], catPos: Array[Int], flushAt: Int): Iterator[InternalRow] = {
    def fill(): mutable.ArrayBuffer[InternalRow] = {
      val strata = new java.util.HashMap[UTF8String, Stratum]
      var entries = 0
      while (entries < flushAt && rows.hasNext) {
        val row = rows.next()
        val r = row.getUTF8String(0)
        var st = strata.get(r)
        if (st == null) {
          st = new Stratum(r.clone(), contPos.length, catPos.length)
          strata.put(st.r, st)
          entries += 1
        }
        st.n += 1
        var j = 0
        while (j < contPos.length) {
          val bits =
            if (row.isNullAt(j + 1)) NullBits
            else {
              val d = row.getDouble(j + 1)
              if (d == 0.0) 0L else java.lang.Double.doubleToLongBits(d)
            }
          val m = st.cont(j)
          val count = m.getOrNull(bits)
          if (count != null) count.w += 1
          else { m.update(bits, new Count(1L)); entries += 1 }
          j += 1
        }
        j = 0
        while (j < catPos.length) {
          val s = row.getUTF8String(1 + contPos.length + j)
          val m = st.cat(j)
          val count = m.get(s)
          if (count != null) count.w += 1
          else { m.put(s.clone(), new Count(1L)); entries += 1 }
          j += 1
        }
      }
      val partial = new mutable.ArrayBuffer[InternalRow](entries)
      def emit(c: Int, r: UTF8String, v: Any, s: UTF8String, w: Long): Unit =
        partial += new GenericInternalRow(Array[Any](c, r, v, s, w))
      strata.values.forEach { st =>
        emit(0, st.r, null, null, st.n)
        for (j <- contPos.indices; (bits, n) <- st.cont(j))
          emit(contPos(j), st.r, if (bits == NullBits) null else java.lang.Double.longBitsToDouble(bits), null, n.w)
        for (j <- catPos.indices) st.cat(j).forEach((s, n) => emit(catPos(j), st.r, null, s, n.w))
      }
      partial
    }
    Iterator.continually(rows).takeWhile(_.hasNext).flatMap(_ => fill())
  }
}
