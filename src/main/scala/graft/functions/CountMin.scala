package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Count-Min sketch: a fixed-size `depth x width` counter grid answering
  * point frequency queries over a stream whose vocabulary never fits in
  * memory — the overestimate-only complement of [[MisraGries]]'s
  * underestimate-only summary, completing this engine's mergeable-sketch
  * family (MG heavy hitters, HLL distinct state, incremental histograms,
  * bottom-k samples).
  *
  * Guarantee (Cormode-Muthukrishnan): `estimate(key)` never UNDERcounts,
  * and overcounts by more than `2N/width` with probability at most
  * `2^-depth` (each of the `depth` rows hashes `key` into one of `width`
  * cells with an independent seed; the estimate is the min over rows, so
  * every row must collide badly for the bound to fail).
  *
  * The merge is element-wise counter addition — EXACT, not approximate:
  * sketch(A) + sketch(B) is bit-identical to sketch(A ++ B), which is
  * what makes the Aggregator decomposable (Spark runs it with map-side
  * partial aggregation; the shuffle carries one depth*width long array
  * per partition, never a key) and the serialized grid a valid
  * incremental state for versioned tables and streaming (state' =
  * state + sketch(batch), the u7 HLL / u8 histogram discipline).
  *
  * Estimates are answered OUTSIDE the aggregation by
  * [[CountMin.estimate]] over the collected grid (a sketch is
  * aggregate-sized: depth 4 x width 8192 = 256 KiB) or in-plan against a
  * broadcast literal of it.
  */
class CountMin(depth: Int, width: Int, seed: Int = 42)
  extends Aggregator[String, Array[Long], Array[Long]] with Serializable {
  require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
  require(width >= 8, s"width must be >= 8, got $width")

  override def zero: Array[Long] = new Array[Long](depth * width)

  override def reduce(buf: Array[Long], item: String): Array[Long] = {
    if (item != null) CountMin.update(buf, depth, width, seed, item, 1L)
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Array[Long] = buf

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}

object CountMin {

  /** Row `r`'s cell for `key`: an independent seed per row derived from
    * the sketch seed. Deterministic across JVMs (MurmurHash3 over the
    * string's chars — no object identity involved). */
  private[functions] def cellIdx(key: String, seed: Int, row: Int, width: Int): Int =
    java.lang.Math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(key, seed * 1000003 + row), width)

  private[functions] def update(grid: Array[Long], depth: Int, width: Int,
                                seed: Int, key: String, by: Long): Unit = {
    var r = 0
    while (r < depth) {
      grid(r * width + cellIdx(key, seed, r, width)) += by
      r += 1
    }
  }

  /** Point frequency estimate: min over the key's `depth` cells. Never
    * below the true count; above it by more than 2N/width with
    * probability <= 2^-depth. */
  def estimate(grid: Array[Long], depth: Int, width: Int, key: String,
               seed: Int = 42): Long = {
    require(grid.length == depth * width,
      s"grid length ${grid.length} != depth*width ${depth * width}")
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      val v = grid(r * width + cellIdx(key, seed, r, width))
      if (v < best) best = v
      r += 1
    }
    best
  }
}
