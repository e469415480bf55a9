package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

/** Exact order statistics and prefix-offset ranking over range
  * partitions — the one implementation behind TableOne's exact
  * quartiles, the grouped `percentile_cont` path, the ROC/PR/DeLong
  * AUCs, the KS and Wasserstein-1 drift statistics, the JSONL shard
  * assignment and the padding-efficiency batch ranks.
  *
  * The construction: range-partition the input on its order keys and
  * sort within partitions, so partition ids follow the global order;
  * collect the per-(partition, group) weight sums — a few rows per
  * partition, whatever the data size — and prefix-sum them on the driver
  * into each partition's starting offset per group. Any global running
  * count is then a partition-local running count plus that offset: every
  * stage is parallel in the number of range partitions, no global
  * single-partition window ever materializes, and the driver only sees
  * subtotals and picks. The range-partition count is
  * `spark.sql.shuffle.partitions`.
  */
private[graft] object OrderStatistics {

  /** The range-partition id column of the frame handed to callers. */
  val Pid = "__pid"

  /** One sorted census row of the pick pass: group `k`, value `v`,
    * weight `w` (how many rows carry `v`), range partition `pid`. */
  final case class Tally[K](k: K, v: Double, w: Long, pid: Int)

  /** The `rank`-th smallest value `v` of group `k` (1-based over the
    * group's weight). */
  final case class Pick[K](k: K, rank: Long, v: Double)

  /** Driver-side prefix offsets from per-(partition, group) weight sums
    * (several sums for one (partition, group) add): `start((pid, k))(i)`
    * is weight `i` summed over group `k`'s rows in the partitions before
    * `pid`, `total(k)(i)` over all of them. */
  final class Offsets[K](sums: Seq[(Int, K, Array[Long])]) {
    private def add(a: Array[Long], b: Array[Long]) = a.zip(b).map { case (x, y) => x + y }
    // each group's (pid, weight sums) in pid order
    private val byGroup: Map[K, Seq[(Int, Array[Long])]] = sums.groupBy(_._2).map { case (k, rows) =>
      k -> rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (pid, ws) => pid -> ws.map(_._3).reduce(add) }
    }
    val start: Map[(Int, K), Array[Long]] = byGroup.flatMap { case (k, ps) =>
      ps.map(_._1).zip(ps.map(_._2).scanLeft(ps.head._2.map(_ => 0L))(add)).map {
        case (pid, s) => (pid, k) -> s
      }
    }
    val total: Map[K, Array[Long]] = byGroup.map { case (k, ps) => k -> ps.map(_._2).reduce(add) }

    /** The same sums with each group's weight counted toward every group
      * `levels` maps it to — e.g. a stratum toward itself and its
      * column's grand total. */
    def through(levels: K => Seq[K]): Offsets[K] =
      new Offsets(sums.flatMap { case (pid, k, w) => levels(k).map((pid, _, w)) })

    /** Weight `i` over every row. */
    def grand(i: Int): Long = total.valuesIterator.map(_(i)).sum

    /** Weight `i`'s starting offset of each row's range partition, as a
      * literal-map lookup — for a single-group ([[prefixOffsets]]) call. */
    def startCol(i: Int): Column =
      element_at(typedLit(start.map { case ((pid, _), s) => pid -> s(i) }), col(Pid))
  }

  /** Range-partitions `df` on `order`, sorts within partitions, tags each
    * row with its partition id ([[Pid]]) and hands `use` that frame plus
    * the [[Offsets]] of every weight column over the whole input (one
    * group). The partitioned frame is persisted for this call only: the
    * subtotal collect and the caller's pass are separate actions that
    * AQE replans — the cache, not exchange reuse, keeps ONE set of range
    * boundaries, which is what the offsets are valid for. `df` itself is
    * not cached: when it is an aggregate census, the boundary-sampling
    * job and the range shuffle both read its materialized shuffle output
    * (a traced cohort_1m benchmark run, local[4] on 4 cores, scans its
    * input 3 times with or without the cache), and caching it ran one
    * more job. */
  def prefixOffsets[T](df: DataFrame, order: Seq[Column], weights: Seq[Column])
                      (use: (DataFrame, Offsets[Long]) => T): T =
    // the single group's key is a LONG literal: an int literal in a
    // groupBy reads as a column ordinal
    grouped[Long, T](df, lit(0L), order, weights)(use)

  private def grouped[K: TypeTag, T](df: DataFrame, key: Column, order: Seq[Column],
                                     weights: Seq[Column])
                                    (use: (DataFrame, Offsets[K]) => T): T = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = df
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn(Pid, spark_partition_id())
      .persist()
    try {
      val sums = parts.groupBy(col(Pid), key)
        .agg(array(weights.map(w => coalesce(sum(w).cast("long"), lit(0L))): _*))
        .as[(Int, K, Array[Long])]
        .collect()
      use(parts, new Offsets(sums.toSeq))
    } finally parts.unpersist()
  }

  /** Running frame inside one range partition, in `order`: a running
    * aggregate over it plus [[Offsets.startCol]] is the global one. */
  def cumulative(order: Column*): WindowSpec =
    Window.partitionBy(Pid).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** EXACT order statistics per group. `census` carries a double `v` and
    * a long weight `w` per row, plus whatever `key` (the group, decoded as
    * `K`) and `order` read; within every group, `order` must sort rows by
    * `v`. A row's weight counts toward each group in `levels(k)`, so one
    * range shuffle serves nested groupings. For each group with total
    * weight n, `ranks(n)` names the 1-based ranks to pick — the caller's
    * rank rule. Returns each group's n and the value at every requested
    * (group, rank); a requested rank that got no pick throws (see
    * [[resolve]]). Jobs: the range sampling, one subtotal collect, one
    * pick collect. */
  def pick[K: TypeTag](census: DataFrame, key: Column, order: Seq[Column],
                       ranks: Long => Seq[Long],
                       levels: K => Seq[K] = (k: K) => Seq(k))
      : (Map[K, Long], Map[(K, Long), Double]) =
    grouped[K, (Map[K, Long], Map[(K, Long), Double])](
        census, key, order, Seq(col("w"))) { (parts, sums) =>
      val off = sums.through(levels)
      val start = off.start.map { case (pk, s) => pk -> s(0) }
      val n = off.total.map { case (k, t) => k -> t(0) }
      val want = n.map { case (k, nk) => k -> ranks(nk).distinct.toArray }
      val spark = census.sparkSession
      import spark.implicits._
      val picks = parts.select(key.as("k"), col("v"), col("w"), col(Pid).as("pid"))
        .as[Tally[K]]
        .mapPartitions(cross(_, start, want, levels))
        .collect()
      (n, resolve(picks, want))
    }

  /** The crossing step of one range partition: rows sorted as the pick
    * pass sorts them, each group's running weight seeded from its
    * partition's `start` offset; a row whose running weight crosses a
    * wanted rank (before < rank <= after) picks its value for that rank.
    * Pure — a partition's picks depend only on its rows and the offsets. */
  def cross[K](rows: Iterator[Tally[K]], start: Map[(Int, K), Long],
               ranks: Map[K, Array[Long]], levels: K => Seq[K]): Iterator[Pick[K]] = {
    val cum = mutable.HashMap.empty[K, Long]
    val out = mutable.ArrayBuffer.empty[Pick[K]]
    rows.foreach { t =>
      levels(t.k).foreach { g =>
        val before = cum.getOrElse(g, start.getOrElse((t.pid, g), 0L))
        val after = before + t.w
        cum(g) = after
        ranks.getOrElse(g, Array.emptyLongArray).foreach { r =>
          if (before < r && r <= after) out += Pick(g, r, t.v)
        }
      }
    }
    out.iterator
  }

  /** Indexes the picks by (group, rank) and fails on any wanted rank that
    * none covers. A miss means the offsets no longer match the rows they
    * were computed from (e.g. the cached range shuffle was recomputed
    * with different boundaries) — an error, never a silent NaN or null. */
  def resolve[K](picks: Iterable[Pick[K]], ranks: Map[K, Array[Long]]): Map[(K, Long), Double] = {
    val got = picks.iterator.map(p => (p.k, p.rank) -> p.v).toMap
    for ((k, rs) <- ranks; r <- rs if !got.contains((k, r)))
      throw new IllegalStateException(
        s"order statistics: no value picked for group '$k' rank $r — " +
          "range-partition offsets no longer match the cached census")
    got
  }
}
