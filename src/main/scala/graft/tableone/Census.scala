package graft.tableone

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** The Table 1 census, tallied where each partition lives.
  *
  * The census is the input's distinct-value footprint: one row counter
  * per raw stratum key `r` (`c` = 0), one tally per (continuous column,
  * `r`, value `v`) and one per (categorical column, `r`, category `s`),
  * each with its weight `w`. It is usually small (cohort_1m: 1M rows,
  * 13k census rows), so each partition counts its column batches into
  * typed maps — a stratum dictionary, a `LongMap` per continuous column
  * keyed by the value's bits, a `HashMap` per categorical column keyed by
  * the `UTF8String` — and one `groupBy(c, r, v, s).agg(sum(w))` merges
  * the partial rows ("A Six-dimensional Analysis of In-memory
  * Aggregation", EDBT 2019: small typed tables for a small output). A
  * vectorized scan's batches are read as they come, with no row
  * conversion or cast ([[ColumnBridge.mapBatches]]); a dictionary-encoded
  * string vector is counted by id in a dense (id, stratum) array, each id
  * named once per batch.
  */
private[tableone] object Census {
  import Sanitize.Missing

  /** Map entries (strata plus distinct keys) past which a partition
    * flushes its partial rows after the current batch and starts over,
    * bounding the tally's memory the way a spilling aggregate's is. */
  val FlushAt: Int = 1 << 16

  /** The partial rows [[tally]] emits. */
  val Partial: StructType = StructType(Seq(
    StructField("c", IntegerType, nullable = false), StructField("r", StringType, nullable = false),
    StructField("v", DoubleType), StructField("s", StringType), StructField("w", LongType, nullable = false)))

  /** A NaN bit pattern `doubleToLongBits` never returns (it gives every
    * NaN the canonical 0x7ff8000000000000L): a null value's key. */
  private val NullBits = 0x7ff0000000000001L

  /** Dense (id, stratum) slots per batch row up to which a dictionary
    * is counted by id; a larger dictionary hashes its strings. */
  private val DenseSlotsPerRow = 4

  private val Seq(missingKey, trueKey, falseKey) = Seq(Missing, "true", "false").map(UTF8String.fromString)

  /** Where [[tally]] reads a batch: the raw stratum key is string column
    * `stratum`, or `key` (the bound [[Sanitize.rawKey]]) projected from
    * each row by generated code, or `""`; `cont` and `cat` pair a
    * column's ordinal with its variable position, the census's `c`. */
  final case class Layout(stratum: Option[Int], key: Option[Expression], cont: Array[(Int, Int)], cat: Array[(Int, Int)])

  /** `df`'s columns the census reads, in the relation's column order (so
    * a scan's pruning projection is a no-op), and their [[Layout]]. */
  def layout(df: DataFrame, stratify: Option[String], cont: Seq[(String, Int)], cat: Seq[(String, Int)])
      : (DataFrame, Layout) = {
    val used = stratify.toSet ++ cont.map(_._1) ++ cat.map(_._1)
    val read = df.select(df.columns.toSeq.filter(used).map(col): _*)
    val at = read.columns.zipWithIndex.toMap
    val key = stratify.filterNot(s => read.schema(s).dataType.isInstanceOf[StringType]).map { s =>
      BindReferences.bindReference(read.select(Sanitize.rawKey(col(s))).queryExecution.analyzed.expressions.head,
        read.queryExecution.analyzed.output)
    }
    def ords(cs: Seq[(String, Int)]) = cs.map { case (c, p) => (at(c), p) }.toArray
    (read, Layout(stratify.filter(_ => key.isEmpty).map(at), key, ords(cont), ords(cat)))
  }

  /** The census of `df`: columns `c, r, v, s, w`, one row per distinct
    * key. `cont` and `cat` pair each analyzed column with its variable
    * position, the census's `c`. */
  def of(df: DataFrame, stratify: Option[String], cont: Seq[(String, Int)], cat: Seq[(String, Int)]): DataFrame = {
    val (read, l) = layout(df, stratify, cont, cat)
    ColumnBridge.mapBatches(read, Partial)(tally(_, l, FlushAt))
      .groupBy("c", "r", "v", "s").agg(sum("w").as("w"))
  }

  private final class Count(var w: Long)

  /** A numeric vector's row as a double, read as Spark's cast reads it. */
  private trait Read { def apply(v: ColumnVector, i: Int): Double }

  private def reader(t: DataType): Read = t match {
    case ByteType       => (v, i) => v.getByte(i).toDouble
    case ShortType      => (v, i) => v.getShort(i).toDouble
    case IntegerType    => (v, i) => v.getInt(i).toDouble
    case LongType       => (v, i) => v.getLong(i).toDouble
    case FloatType      => (v, i) => v.getFloat(i).toDouble
    case DoubleType     => (v, i) => v.getDouble(i)
    case d: DecimalType => (v, i) => v.getDecimal(i, d.precision, d.scale).toDouble
  }

  /** Row `i` of a string (or, if `bool`, boolean) vector as its census
    * key: null -> [[Sanitize.Missing]], a boolean "true"/"false". */
  private def name(v: ColumnVector, bool: Boolean, i: Int): UTF8String =
    if (v.isNullAt(i)) missingKey else if (!bool) v.getUTF8String(i) else if (v.getBoolean(i)) trueKey else falseKey

  /** Fills `ids` with each row's dictionary id in this batch of `v`,
    * null as the largest id + 1, and gives the id domain's size; -1 when
    * `v` has no dictionary or the domain's dense slots over `strata` pass
    * the bound. */
  private def dictionaryIds(v: ColumnVector, rows: Int, strata: Int, ids: Array[Int]): Int = v match {
    case w: WritableColumnVector if w.hasDictionary =>
      val dict = w.getDictionaryIds
      var (max, i) = (-1, 0)
      while (i < rows) {
        ids(i) = if (v.isNullAt(i)) -1 else dict.getDictId(i)
        max = math.max(max, ids(i)); i += 1
      }
      i = 0
      while (i < rows) { if (ids(i) < 0) ids(i) = max + 1; i += 1 }
      if ((max + 2).toLong * strata <= DenseSlotsPerRow.toLong * rows) max + 2 else -1
    case _ => -1
  }

  /** Partial census rows of one partition's batches, read by `l`.
    * Continuous values key by their bits with -0.0 -> 0.0 and every NaN
    * canonical, as a grouping normalizes them; a null value keys its own
    * row (`v` null). Batches and vectors may be reused by their producer,
    * so every string kept is cloned. Once the maps hold `flushAt` entries
    * their rows are emitted after the batch and the tally starts over, so
    * one key may appear in several partial rows; their `w`s sum to its
    * census weight. */
  def tally(batches: Iterator[ColumnarBatch], l: Layout, flushAt: Int): Iterator[InternalRow] = {
    val keyOf = l.key.map(k => UnsafeProjection.create(Seq(k)))
    def fill(): mutable.ArrayBuffer[InternalRow] = {
      val index = new java.util.HashMap[UTF8String, Integer]
      val (raw, n) = (mutable.ArrayBuffer.empty[UTF8String], mutable.ArrayBuffer.empty[Count])
      val contMaps = Array.fill(l.cont.length)(mutable.ArrayBuffer.empty[mutable.LongMap[Count]])
      val catMaps = Array.fill(l.cat.length)(mutable.ArrayBuffer.empty[java.util.HashMap[UTF8String, Count]])
      var entries = 0
      def stratum(r: UTF8String): Int = {
        val k = index.get(r)
        if (k != null) return k
        val kept = r.clone()
        index.put(kept, raw.size); raw += kept; n += new Count(0L)
        contMaps.foreach(_ += new mutable.LongMap[Count]); catMaps.foreach(_ += new java.util.HashMap[UTF8String, Count])
        entries += 1
        raw.size - 1
      }
      def add(m: java.util.HashMap[UTF8String, Count], s: UTF8String, w: Long): Unit = {
        val count = m.get(s)
        if (count != null) count.w += w
        else { m.put(s.clone(), new Count(w)); entries += 1 }
      }
      def count(b: ColumnarBatch, rows: Int): Unit = {
        val (sidx, ids) = (new Array[Int](rows), new Array[Int](rows))
        // each row's stratum index; in a small domain each id is named once
        var i = 0
        (l.stratum, keyOf) match {
          case (Some(o), _) =>
            val v = b.column(o)
            val named = new Array[Int](dictionaryIds(v, rows, 1, ids) max 0) // by id: stratum + 1
            while (i < rows) {
              val id = if (named.isEmpty) -1 else ids(i)
              sidx(i) = if (id >= 0 && named(id) > 0) named(id) - 1 else stratum(name(v, bool = false, i))
              if (id >= 0) named(id) = sidx(i) + 1
              i += 1
            }
          case (_, Some(key)) =>
            while (i < rows) { sidx(i) = stratum(key(b.getRow(i)).getUTF8String(0)); i += 1 }
          case _ => java.util.Arrays.fill(sidx, stratum(UTF8String.EMPTY_UTF8))
        }
        i = 0
        while (i < rows) { n(sidx(i)).w += 1; i += 1 }
        for (j <- l.cont.indices) {
          val (v, maps) = (b.column(l.cont(j)._1), contMaps(j))
          val read = reader(v.dataType)
          i = 0
          while (i < rows) {
            // + 0.0 turns -0.0 into 0.0; doubleToLongBits makes every NaN canonical
            val bits = if (v.isNullAt(i)) NullBits else java.lang.Double.doubleToLongBits(read(v, i) + 0.0)
            val count = maps(sidx(i)).getOrNull(bits)
            if (count != null) count.w += 1 else { maps(sidx(i)).update(bits, new Count(1L)); entries += 1 }
            i += 1
          }
        }
        for (j <- l.cat.indices) {
          val (v, maps, strata) = (b.column(l.cat(j)._1), catMaps(j), raw.size)
          val bool = v.dataType == BooleanType
          val domain = if (bool) -1 else dictionaryIds(v, rows, strata, ids)
          i = 0
          if (domain < 0) while (i < rows) { add(maps(sidx(i)), name(v, bool, i), 1L); i += 1 }
          else {
            // dense (id, stratum) counts; each id is named once, from the
            // first row that carried it
            val (first, slots) = (Array.fill(domain)(-1), new Array[Int](domain * strata))
            while (i < rows) {
              if (first(ids(i)) < 0) first(ids(i)) = i
              slots(ids(i) * strata + sidx(i)) += 1
              i += 1
            }
            for (id <- 0 until domain if first(id) >= 0) {
              val s = name(v, bool, first(id))
              for (k <- 0 until strata if slots(id * strata + k) > 0) add(maps(k), s, slots(id * strata + k))
            }
          }
        }
      }
      while (entries < flushAt && batches.hasNext) {
        val b = batches.next()
        if (b.numRows > 0) count(b, b.numRows)
      }
      val partial = new mutable.ArrayBuffer[InternalRow](entries)
      def emit(c: Int, r: UTF8String, v: Any, s: UTF8String, w: Long): Unit =
        partial += new GenericInternalRow(Array[Any](c, r, v, s, w))
      for (k <- raw.indices) {
        val r = raw(k)
        emit(0, r, null, null, n(k).w)
        for (j <- l.cont.indices; (bits, c) <- contMaps(j)(k))
          emit(l.cont(j)._2, r, if (bits == NullBits) null else java.lang.Double.longBitsToDouble(bits), null, c.w)
        for (j <- l.cat.indices) catMaps(j)(k).forEach((s, c) => emit(l.cat(j)._2, r, null, s, c.w))
      }
      partial
    }
    Iterator.continually(batches).takeWhile(_.hasNext).flatMap(_ => fill())
  }
}
