package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Lakehouse-style mutation operators: CDC changelog application (the
  * `MERGE INTO` / upsert shape) and SCD type-2 history construction —
  * the ingestion step that turns an append-only change stream into the
  * keyed snapshot every other operator in the library consumes.
  *
  * Beyond the reference surface (the reference is read-only analytics:
  * `tableone_pyspark.py:27` takes one immutable DataFrame); these are the
  * table-maintenance primitives a training-data pipeline needs upstream
  * of it.
  */
object Merge {

  /** Op-column value treated as a deletion (case-insensitive); everything
    * else is an upsert. */
  private def isDelete(op: Column): Column = lower(op).isin("d", "delete")

  /** Apply a changelog to a keyed snapshot (SCD type 1 / `MERGE INTO`):
    * the LATEST change per key wins — an upsert overrides (or inserts)
    * the `valueCols`, a delete removes the key, untouched snapshot rows
    * pass through. Snapshot columns outside `valueCols` are carried
    * unchanged (null on inserted keys).
    *
    * "Latest" is the lexicographic max of `orderCols` (e.g. a change
    * timestamp with a unique sequence number as tiebreak — make the
    * combination unique per key or the winner among ties is undefined).
    *
    * Scale shape: latest-per-key is ONE map-side-combinable
    * `max_by(struct(payload), struct(orderCols))` aggregation — no window,
    * no sort of the change stream — followed by a single equi-join with
    * the snapshot on the key. Both exchanges hash on the key, and a
    * changelog whose distinct-key reduction fits the broadcast threshold
    * broadcasts into the snapshot scan. Nothing in the plan is keyed
    * wider than `keyCol`, so the shape survives any snapshot size.
    *
    * `tagCol`: optional name of an output column tagging each row
    * `kept` / `updated` / `inserted` (deletes produce no row).
    */
  def applyChangelog(snapshot: DataFrame, changes: DataFrame, keyCol: String,
                     opCol: String, orderCols: Seq[String], valueCols: Seq[String],
                     tagCol: Option[String] = None): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    require(valueCols.nonEmpty, "valueCols must be non-empty")
    val latest = changes.groupBy(col(keyCol)).agg(
      max_by(struct((opCol +: valueCols).map(col): _*),
        struct(orderCols.map(col): _*)).as("__c"))
    // __s marks snapshot membership: value columns can legitimately be
    // null on existing rows, so row existence needs its own witness
    // coalesce(…, true): a null op is an upsert ("everything else is an
    // upsert" includes null) — without it `!isDelete(null)` is NULL and the
    // filter would silently DELETE any key whose winning change has no op
    val joined = snapshot.withColumn("__s", lit(true))
      .join(latest, Seq(keyCol), "full_outer")
      .filter(col("__c").isNull ||
        coalesce(!isDelete(col("__c").getField(opCol)), lit(true)))
    val changed = col("__c").isNotNull
    val out = snapshot.columns.map { c =>
      if (c == keyCol) col(keyCol)
      else if (valueCols.contains(c)) when(changed, col("__c").getField(c)).otherwise(col(c)).as(c)
      else col(c)
    } ++ tagCol.map { t =>
      when(!changed, "kept")
        .when(col("__s").isNotNull, "updated")
        .otherwise("inserted").as(t)
    }
    joined.select(out.toSeq: _*)
  }

  /** Build an SCD type-2 version history from a change stream: one output
    * row per change carrying `versionCol` (1-based per key, in `orderCols`
    * order), the change's `valueCols`, and a `[fromCol, toCol)` validity
    * interval — `toCol` is the next version's `fromCol`, null on the
    * current version. `tsCol` (one of `orderCols`) supplies the interval
    * endpoints.
    *
    * Scale shape: one window over (`keyCol` × `orderCols`) — a single hash
    * exchange on the key and a per-key sort; per-key history is the only
    * thing that must be co-resident, the same bound any per-key state
    * carries. */
  def scd2(changes: DataFrame, keyCol: String, tsCol: String,
           orderCols: Seq[String], valueCols: Seq[String],
           versionCol: String = "version", fromCol: String = "valid_from",
           toCol: String = "valid_to"): DataFrame = {
    require(orderCols.contains(tsCol), s"tsCol `$tsCol` must be one of orderCols")
    val w = Window.partitionBy(keyCol).orderBy(orderCols.map(col): _*)
    changes.select(
      col(keyCol) +:
        row_number().over(w).cast("long").as(versionCol) +:
        valueCols.map(col) :+
        col(tsCol).as(fromCol) :+
        lead(col(tsCol), 1).over(w).as(toCol): _*)
  }

  /** Row-level diff of two keyed snapshots — the validation step after
    * any migration/backfill/CDC replay: classify every key as `added`
    * (only in `after`), `removed` (only in `before`), `changed` (present
    * in both, any `compareCols` value differs — null-safe, so
    * null -> value and value -> null both count), or `unchanged`.
    * Returns one row per key with the class and both sides' compare
    * values (before_/after_-prefixed).
    *
    * Scale shape: ONE full-outer equi-join on the key, hash-partitioned
    * both sides; the classification is a pure projection on the joined
    * row. Nothing is keyed wider than `keyCol`, no window, no collect —
    * diffing two 100 TB snapshots is exactly one co-partitioned join. */
  def snapshotDiff(before: DataFrame, after: DataFrame, keyCol: String,
                   compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    // explicit presence markers: compare-column nullness cannot signal
    // presence (a present row may carry legitimate nulls)
    val b = before.select(col(keyCol) +: lit(true).as("__in_before") +:
      compareCols.map(c => col(c).as(s"before_$c")): _*)
    val a = after.select(col(keyCol) +: lit(true).as("__in_after") +:
      compareCols.map(c => col(c).as(s"after_$c")): _*)
    val changed = compareCols
      .map(c => not(col(s"before_$c") <=> col(s"after_$c")))
      .reduce(_ || _)
    b.join(a, Seq(keyCol), "full_outer")
      .withColumn("diff_class",
        when(col("__in_before").isNull, lit("added"))
          .when(col("__in_after").isNull, lit("removed"))
          .when(changed, lit("changed"))
          .otherwise(lit("unchanged")))
      .drop("__in_before", "__in_after")
  }

  /** Incremental DISTINCT-count maintenance: combine stored per-key HLL
    * sketch columns with a delta batch's sketches — the one aggregate
    * class [[mergeAggState]]'s sum/min/max combiners cannot express
    * (distinct counts don't sum). Sketch columns are Spark
    * `hll_sketch_agg` binaries; combination is `hll_union`, with the
    * same null policy as mergeAggState (a key absent from one side
    * keeps the other side's sketch). Store the sketch, not the number:
    * the estimate is derived per read via `hll_sketch_estimate`, and
    * tomorrow's delta unions into the same state forever — the 100 TB
    * "distinct users ever" query without ever rescanning history. */
  def mergeSketchState(state: DataFrame, deltaAgg: DataFrame, keys: Seq[String],
                       sketchCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(sketchCols.nonEmpty, "need at least one sketch column")
    val s = state.select(keys.map(k => col(k).as(s"__sk_$k")) ++
      sketchCols.map(c => col(c).as(s"__s_$c")): _*)
    val d = deltaAgg.select(keys.map(k => col(k).as(s"__dk_$k")) ++
      sketchCols.map(c => col(c).as(s"__d_$c")): _*)
    nullSafeFullOuter(s, d, keys)
      .select(keys.map(k => coalesce(col(s"__sk_$k"), col(s"__dk_$k")).as(k)) ++
        sketchCols.map { c =>
          val a = col(s"__s_$c"); val b = col(s"__d_$c")
          when(a.isNull, b).when(b.isNull, a)
            .otherwise(hll_union(a, b)).as(c)
        }: _*)
  }

  /** Incremental equi-join view maintenance (insert-only deltas): the
    * delta of V = A ⋈ B under appends (dA, dB) is exactly
    * dV = dA⋈B ∪ A⋈dB ∪ dA⋈dB — appending dV to the materialized V
    * equals recomputing (A∪dA) ⋈ (B∪dB), and V itself is never
    * touched. This is THE 100 TB join-maintenance move: the standing
    * sides are each scanned once against a delta (which the planner
    * broadcasts when small — the normal ingest shape), so maintenance
    * cost scales with the delta, not the view. Both inputs' key
    * columns must be non-null (equi-join semantics); duplicate keys
    * multiply as in the full join, exactly like the recompute would.
    * Insert-only by contract — deletes/updates need the changelog
    * machinery ([[applyChangelog]]) upstream. */
  def incrementalJoinDelta(a: DataFrame, da: DataFrame,
                           b: DataFrame, db: DataFrame,
                           keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "incrementalJoinDelta needs join keys")
    da.join(b, keys)
      .unionByName(a.join(db, keys))
      .unionByName(da.join(db, keys))
  }

  /** Null-safe full-outer key join of the two pre-renamed state-merge
    * sides. `groupBy` over a nullable column yields a NULL-keyed group,
    * and a plain equi-join would never match it against itself — the
    * merged state would silently carry two rows for the same null key,
    * breaking merge(agg(A), agg(B)) == agg(A ∪ B). `<=>` (EqualNullSafe)
    * is still an equi-join condition to Catalyst, so the plan stays a
    * hash/sort-merge join on the key — no scale change. */
  private def nullSafeFullOuter(s: DataFrame, d: DataFrame,
                                keys: Seq[String]): DataFrame =
    s.join(d, keys.map(k => col(s"__sk_$k") <=> col(s"__dk_$k")).reduce(_ && _),
      "full_outer")

  /** Incremental aggregate maintenance: combine a stored per-key
    * aggregate-state snapshot with the aggregate of a new delta batch,
    * WITHOUT rescanning the historical rows — the materialized-view
    * update step. At 100 TB the historical corpus is the thing you never
    * want to re-aggregate; this is one key-hash full-outer join of the
    * (small) state table against the (small) delta aggregate.
    *
    * Soundness rests on the measures being DECOMPOSABLE: count and sum
    * combine by +, min/max by least/greatest — so
    * `merge(agg(A), agg(B)) == agg(A ∪ B)` exactly (MergeSpec pins it,
    * and the u6 driver query pins it against DuckDB's full recompute).
    * Derived statistics (mean = sum/n) must be computed FROM the merged
    * state, never combined directly. Key matching is NULL-SAFE: the
    * NULL-keyed group a nullable grouping column produces merges with
    * itself like any other key.
    *
    * @param state    prior aggregate state, one row per key
    * @param deltaAgg the delta batch ALREADY aggregated to the same
    *                 (keys, measures) schema
    * @param keys     grouping key columns present on both sides
    * @param combine  measure column -> combiner: "sum" (also for
    *                 counts), "min", or "max" */
  def mergeAggState(state: DataFrame, deltaAgg: DataFrame, keys: Seq[String],
                    combine: Map[String, String]): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val bad = combine.values.toSet -- Set("sum", "min", "max")
    require(bad.isEmpty, s"unknown combiner(s): ${bad.mkString(", ")}")
    val measures = combine.keys.toSeq.sorted
    val s = state.select(keys.map(k => col(k).as(s"__sk_$k")) ++
      measures.map(c => col(c).as(s"__s_$c")): _*)
    val d = deltaAgg.select(keys.map(k => col(k).as(s"__dk_$k")) ++
      measures.map(c => col(c).as(s"__d_$c")): _*)
    nullSafeFullOuter(s, d, keys)
      .select(keys.map(k => coalesce(col(s"__sk_$k"), col(s"__dk_$k")).as(k)) ++
        measures.map { c =>
          val a = col(s"__s_$c"); val b = col(s"__d_$c")
          (combine(c) match {
            // when/when/otherwise instead of coalesce-to-0: preserves the
            // measure's exact type (decimal scale included) and keeps a
            // key absent from one side at its other side's value
            case "sum" => when(a.isNull, b).when(b.isNull, a).otherwise(a + b)
            case "min" => least(a, b) // least/greatest skip nulls
            case "max" => greatest(a, b)
          }).as(c)
        }: _*)
  }
}
