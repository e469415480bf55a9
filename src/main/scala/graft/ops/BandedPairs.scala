package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The banded candidate-pair join every LSH-style pair stage shares:
  * bucket → optional bucket-size gate → self-join on the bucket key →
  * `id_a < id_b`. Callers band their own signatures (MinHash bands,
  * perceptual-hash quarters, hyperplane sign buckets) and verify the
  * candidates their own way; this is only the step in between.
  *
  * Input: a banded relation with an `id` column, the `keys` columns
  * naming one bucket, and the `carry` columns the verify step needs.
  * A row is one (id, bucket) membership, so an id may sit in several
  * buckets (one per band). Output: `(id_a, id_b, c_a, c_b, …)` for every
  * `c` in `carry`, one row per pair of rows sharing a bucket with
  * `id_a < id_b` — a pair sharing several buckets appears once per
  * bucket; multi-band callers `dropDuplicates` after verifying. Null ids
  * never pair.
  *
  * `maxBucketSize > 0` skips every bucket holding more rows than that
  * before the join. A bucket of n rows emits n(n-1)/2 candidates, so the
  * cap bounds the join's Σ size² at n·(cap-1)/2 per band. The gate is a
  * count window over the already-banded relation: it shuffles on the
  * key the join needs anyway and its per-bucket work is linear. A pair whose every shared bucket is over
  * the cap is not emitted — the recall trade each caller documents. */
private[ops] object BandedPairs {

  def apply(banded: DataFrame, keys: Seq[String], carry: Seq[String] = Nil,
            maxBucketSize: Int = 0): DataFrame = {
    val gated =
      if (maxBucketSize <= 0) banded
      else banded
        .withColumn("__bn", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
        .filter(col("__bn") <= maxBucketSize).drop("__bn")
    def side(s: String) =
      gated.select(keys.map(col) ++ ("id" +: carry).map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b"), keys)
      .filter(col("id_a") < col("id_b"))
      .select(("id_a" +: "id_b" +: carry.flatMap(c => Seq(s"${c}_a", s"${c}_b"))).map(col): _*)
  }
}
