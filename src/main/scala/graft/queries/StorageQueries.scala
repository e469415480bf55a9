package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Query
import graft.Util
import graft.Util.table
import graft.ops.TextAnalysis
import Shared.{jsonlExportCensus, Toks}

/** Sources and sinks (`o*`): partition, z-order, bloom and statistics
  * pruning, compaction, versioned tables, exports and format round-trips,
  * over `orders`, `events` and `documents`. */
object StorageQueries {

  def all: Seq[Query] = Seq(
    Query("o2_zorder_cells", Some({
      // Morton key replay: bit b of x lands at position 2b, of y at
      // 2b+1; the terms touch disjoint bits so + substitutes for | in
      // any engine
      val terms = (0 until 8).flatMap(b => Seq(
        s"(((x >> $b) & 1) << ${2 * b})", s"(((y >> $b) & 1) << ${2 * b + 1})"))
      "WITH g AS (SELECT o_custkey % 256 AS x, o_orderkey % 256 AS y FROM orders), " +
        s"z AS (SELECT x, y, ${terms.mkString(" + ")} AS zkey FROM g) " +
        "SELECT zkey >> 8 AS zcell, count(*)::BIGINT AS n, " +
        "min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y " +
        "FROM z GROUP BY zcell ORDER BY zcell"
    }))((s, dir) => {
      // Z-order layout audit: bucket orders into a 256x256 (custkey,
      // orderkey) grid, compute the Morton key, and report each
      // 16x16-tile z-cell's row count and PER-DIMENSION min/max. The
      // tight two-dimensional bounds per cell ARE the data-skipping
      // property a z-ordered file layout delivers (a Morton-sorted
      // write's file-level parquet stats) —
      // and the key is exact integer bit math DuckDB replays verbatim.
      val orders = table(s, dir, "orders")
        .select(pmod(col("o_custkey"), lit(256L)).as("x"),
          pmod(col("o_orderkey"), lit(256L)).as("y"))
      orders
        .select(graft.sources.Sinks.zorderKey(Seq(col("x"), col("y")), 8).as("zkey"),
          col("x"), col("y"))
        .groupBy(shiftright(col("zkey"), 8).as("zcell"))
        .agg(count(lit(1)).as("n"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("zcell")
    }),
    Query("o3_text_formats", Some(
      // same daily aggregate straight from the parquet, emitted once per
      // text format — identical rows pin both writers AND readers
      ("WITH d AS (SELECT strftime(ts, '%Y-%m-%d') AS day, count(*)::BIGINT AS n, " +
        "round(sum(value) + 5e-10, 6) AS sum_value " +
        "FROM events WHERE event_type = 'click' GROUP BY day) " +
        "SELECT 'csv' AS fmt, day, n, sum_value FROM d " +
        "UNION ALL SELECT 'json' AS fmt, day, n, sum_value FROM d " +
        "ORDER BY fmt, day")))((s, dir) => {
      // JSON-lines + CSV sink/source round-trip — the ingest/egress
      // text formats: the click events land as both, read back under
      // EXPLICIT schemas (no inference scan — at 100 TB schema
      // inference is a full extra pass), and the same daily aggregate
      // runs on each. Doubles survive the text round-trip exactly
      // (Spark writes shortest-round-trip representations), timestamps
      // travel as preformatted strings so no parser/timezone semantics
      // enter the comparison. The oracle computes the aggregate straight
      // from the parquet — a mismatch on either format row means that
      // format's writer or reader changed a value.
      val base = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_text_events").toString
      val src = Util.events(s, dir).filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
        .repartition(4)
      src.write.mode("overwrite").json(s"$base/json")
      src.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
      val schema = "event_id LONG, user_id LONG, value DOUBLE, ts_s STRING"
      def daily(df: DataFrame, fmt: String): DataFrame =
        df.groupBy(substring(col("ts_s"), 1, 10).as("day"))
          .agg(count(lit(1)).as("n"),
            round(sum("value") + lit(5e-10), 6).as("sum_value"))
          .withColumn("fmt", lit(fmt))
      daily(s.read.schema(schema).json(s"$base/json"), "json")
        .unionByName(daily(
          s.read.option("header", "true").schema(schema).csv(s"$base/csv"), "csv"))
        .select(col("fmt"), col("day"), col("n"), col("sum_value"))
        .orderBy("fmt", "day")
    }),
    Query("o1_partition_prune", Some(
      ("SELECT strftime(ts, '%Y-%m-%d') AS day, count(*)::BIGINT AS n, " +
        "ROUND(sum(value) + 5e-10, 6) AS sum_value " +
        "FROM events WHERE event_type = 'error' GROUP BY day ORDER BY day")))((s, dir) => {
      // Hive-layout partitioned sink + directory-pruned scan: events
      // land partitioned by event_type (pre-shuffled -> one file per
      // value, no small-files fanout), and the read-back filters on the
      // partition column, so the scan's PartitionFilters drop every
      // non-error directory before opening a single row group — the
      // layout that turns a 100 TB full scan into a one-partition read.
      val path = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_part_events").toString
      graft.sources.Sinks.writePartitioned(
        Util.events(s, dir).select(col("event_id"), col("ts"),
          col("value"), col("event_type")),
        path, Seq("event_type"))
      s.read.parquet(path).filter(col("event_type") === "error")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")) + lit(5e-10), 6).as("sum_value"))
        .orderBy("day")
    }),

    Query("o7_compaction", Some(
      // content preservation: the compacted read-back must aggregate to
      // the source table exactly (decimal sums, the u6 precedent)
      ("SELECT o_orderpriority, count(*)::BIGINT AS n, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price, " +
        "max(o_orderkey) AS max_key " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority")))((s, dir) => {
      // small-file compaction: orders planted as 64 undersized shards,
      // rewritten to ceil(bytes/target) files via a shuffle-free
      // coalesce; the read-back aggregate must equal the source table's
      // (content preservation IS the oracle; file counts are
      // size-dependent and spec-pinned in SinksSpec instead). Decimal
      // sums — the u6 precedent — so combination order cannot drift.
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val frag = new org.apache.hadoop.fs.Path(wh, "graft_frag_orders").toString
      val packed = new org.apache.hadoop.fs.Path(wh, "graft_compact_orders").toString
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .repartition(64).write.mode("overwrite").parquet(frag)
      graft.sources.Sinks.compact(s, frag, packed, targetFileBytes = 4L << 20)
      s.read.parquet(packed)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("sum_price"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderpriority")
    }),

    Query("o12_compact_pruned_read", Some(
      // the post-compaction pruned read over the bottom key decile must
      // equal the plain source filter; the booleans pin that the loop's
      // file-count and pruning effects actually happened (Spark emits
      // them from the real counts, the oracle demands true)
      ("SELECT o_orderpriority, count(*)::BIGINT AS n, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price, " +
        "max(o_orderkey) AS max_key, true AS compacted, true AS files_pruned " +
        "FROM orders WHERE o_orderkey <= (SELECT max(o_orderkey) FROM orders) // 10 " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")))((s, dir) => {
      // the lakehouse loop CLOSED (round 12): audited fragmented ingest
      // (quality gate + stats) -> compaction TRANSACTION (overwrite
      // version, range-clustered on the prune key, stats republished)
      // -> stats-pruned read of the bottom key decile. The aggregate
      // hash-matches the source table under the same filter, and the
      // in-plan booleans pin that compaction shrank the file count AND
      // that the pruned read actually skipped files — a compaction that
      // lost rows, stats that went stale, or pruning that kept
      // everything each break a column.
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val t = new org.apache.hadoop.fs.Path(wh, "graft_compact_loop_orders").toString
      val fs0 = new org.apache.hadoop.fs.Path(t).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs0.delete(new org.apache.hadoop.fs.Path(t), true) // fresh table per run
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      graft.ops.Quality.auditedCommitWithStats(o.repartition(64), t,
        Seq(graft.ops.Quality.NotNull("o_orderkey"),
          graft.ops.Quality.MatchesRegex("o_orderpriority", "^[1-5]-")),
        statsCols = Seq("o_orderkey"))
      val (_, nBefore, nAfter) = graft.sources.FileSkipping.compactTable(
        s, t, Seq("o_orderkey"), clusterBy = Seq("o_orderkey"),
        targetFiles = Some(8))
      val maxKey = o.agg(max("o_orderkey")).head().getLong(0)
      val (pruned, rep) = graft.sources.FileSkipping.readBetween(
        s, t, "o_orderkey", 0L, maxKey / 10)
      pruned.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("sum_price"),
          max(col("o_orderkey")).as("max_key"))
        .withColumn("compacted", lit(nBefore > nAfter))
        .withColumn("files_pruned", lit(rep.filesKept < rep.filesTotal))
        .orderBy("o_orderpriority")
    }),

    Query("o14_table_history", Some(
      // each version's slice algebra replayed: evens, evens+odds
      // (append accumulation), then the overwrite's fifth slice
      ("WITH v1 AS (SELECT 1::BIGINT AS version, 'append' AS mode, count(*)::BIGINT AS n_rows, " +
        "round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE + 5e-10, 6) AS sum_price " +
        "FROM orders WHERE o_orderkey % 2 = 0), " +
        "v2 AS (SELECT 2::BIGINT, 'append', count(*)::BIGINT, " +
        "round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE + 5e-10, 6) " +
        "FROM orders WHERE o_orderkey IS NOT NULL), " +
        "v3 AS (SELECT 3::BIGINT, 'overwrite', count(*)::BIGINT, " +
        "round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE + 5e-10, 6) " +
        "FROM orders WHERE o_orderkey % 5 = 0) " +
        "SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3 " +
        "ORDER BY version")))((s, dir) => {
      // time-travel history report: plant append/append/overwrite, then
      // one row per surviving version — (version, mode, rows, mass) —
      // every version's content a derivable orders slice, so the oracle
      // pins the WHOLE history, not just the latest snapshot
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val t = new org.apache.hadoop.fs.Path(wh, "graft_history_orders").toString
      val fs0 = new org.apache.hadoop.fs.Path(t).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs0.delete(new org.apache.hadoop.fs.Path(t), true)
      val o = table(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 2 === 0), t)
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 2 === 1), t)
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 5 === 0), t,
        mode = "overwrite")
      graft.sources.VersionedTable.versions(s, t).map { case (v, mode) =>
        graft.sources.VersionedTable.read(s, t, version = Some(v))
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              + lit(5e-10), 6).as("sum_price"))
          .select(lit(v).as("version"), lit(mode).as("mode"),
            col("n_rows"), col("sum_price"))
      }.reduce(_ unionByName _).orderBy("version")
    }),
    Query("o15_jsonl_export", Some(
      // shard assignment replayed: running token total BEFORE each doc
      // (doc_id order) integer-divided by the derived budget
      // max(2000, total div 64); the booleans pin the one-file-per-shard
      // layout and the manifest round-trip, which only Spark can see
      (s"WITH t AS (SELECT doc_id, len($Toks)::BIGINT AS n_tok " +
        "FROM documents WHERE text IS NOT NULL), " +
        "b AS (SELECT greatest(2000, CAST(sum(n_tok) AS BIGINT) // 64) AS budget FROM t), " +
        "w AS (SELECT doc_id, n_tok, coalesce(CAST(sum(n_tok) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prev FROM t) " +
        "SELECT CAST(prev // (SELECT budget FROM b) AS BIGINT) AS shard, " +
        "count(*)::BIGINT AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
        "true AS one_file_per_shard, true AS manifest_match " +
        "FROM w GROUP BY 1 ORDER BY 1")))((s, dir) => {
      // the "export for training" handoff CLOSED: documents land as
      // token-budgeted JSONL shards (one file per shard, budget =
      // max(2000, total div 64) so the layout scales with the corpus),
      // the per-shard census registers as a VersionedTable manifest,
      // and the output is the census of the RE-READ JSONL with tokens
      // RECOMPUTED from the round-tripped text — a lost document, a
      // mangled escape, a drifted shard boundary, a stale manifest, or
      // a shard split across files each break a column
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .filter(col("text").isNotNull)
        .withColumn("n_tok", size(TextAnalysis.tokens(col("text"))).cast("long"))
      jsonlExportCensus(s, d, "graft_export_jsonl", "graft_export_manifest")
    }),
    Query("o13_zero_copy_clone", Some(
      // the two-slice source vs the full three-slice clone, straight
      // off the orders slices the commits planted
      ("WITH s2 AS (SELECT count(*)::BIGINT AS src_rows, " +
        "round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE + 5e-10, 6) AS src_sum " +
        "FROM orders WHERE o_orderkey % 3 = 0 OR o_orderkey % 3 = 1), " +
        "c2 AS (SELECT count(*)::BIGINT AS clone_rows, " +
        "round(sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE + 5e-10, 6) AS clone_sum " +
        "FROM orders WHERE o_orderkey IS NOT NULL) " +
        "SELECT src_rows, src_sum, clone_rows, clone_sum FROM s2, c2")))((s, dir) => {
      // shallow clone: v1+v2 of the source, clone (manifest-only, no
      // data copied), diverge the clone with a third slice — the clone
      // reads all three while the source still reads two, which only
      // holds if the absolute-path manifest resolves the SHARED files
      // and the divergence stayed private
      val wh = s.conf.get("spark.sql.warehouse.dir")
      def pth(n: String) = new org.apache.hadoop.fs.Path(wh, n).toString
      val fs0 = new org.apache.hadoop.fs.Path(wh).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      val src = pth("graft_clone_src"); val tgt = pth("graft_clone_tgt")
      fs0.delete(new org.apache.hadoop.fs.Path(src), true)
      fs0.delete(new org.apache.hadoop.fs.Path(tgt), true)
      val o = table(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 3 === 0), src)
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 3 === 1), src)
      graft.sources.VersionedTable.cloneTable(s, src, tgt)
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 3 === 2), tgt)
      val srcR = graft.sources.VersionedTable.read(s, src)
        .agg(count(lit(1)).as("src_rows"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("src_sum"))
      val tgtR = graft.sources.VersionedTable.read(s, tgt)
        .agg(count(lit(1)).as("clone_rows"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("clone_sum"))
      srcR.crossJoin(broadcast(tgtR))
    }),
    Query("o8_versioned_table", Some(
      // v2 = even-keys commit + odd-keys append = the whole table; the
      // overwrite that followed must be invisible to the v2 read
      ("SELECT o_orderpriority, count(*)::BIGINT AS n, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price, " +
        "max(o_orderkey) AS max_key " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority")))((s, dir) => {
      // snapshot-versioned table: v1 = even orderkeys, v2 = append the
      // odd ones, v3 = overwrite with a decoy slice; the query reads v2
      // BY VERSION NUMBER after v3 landed, so the aggregate equals the
      // full source table only if append accumulation, manifest
      // isolation, and time travel all hold. Decimal sums (u6 precedent).
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val t = new org.apache.hadoop.fs.Path(wh, "graft_versioned_orders").toString
      val fs0 = new org.apache.hadoop.fs.Path(t).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs0.delete(new org.apache.hadoop.fs.Path(t), true) // fresh table per run
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 2 === 0), t)
      graft.sources.VersionedTable.commit(o.filter(col("o_orderkey") % 2 === 1), t)
      graft.sources.VersionedTable.commit(o.limit(10), t, mode = "overwrite")
      graft.sources.VersionedTable.read(s, t, version = Some(2L))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("sum_price"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderpriority")
    }),

    Query("o16_bloom_pruned_read", Some(
      // the bloom-pruned point lookup must equal the plain filter — the
      // bloom decides which files to OPEN, the residual decides rows
      ("SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders " +
        "WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders) " +
        "ORDER BY o_orderkey")))((s, dir) => {
      // per-file Bloom index: point lookup on a key the layout is NOT
      // clustered by (files range-partitioned on totalprice, so key
      // min/max spans everything and only the bloom can prune); blooms
      // build distributed in one scan (mergeable BloomFilterAggregate
      // per file), sized from the row count so fpp holds at any scale.
      // The require pins the prune property; rows are the oracle.
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val t = new org.apache.hadoop.fs.Path(wh, "graft_bloom_orders").toString
      val fs0 = new org.apache.hadoop.fs.Path(t).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs0.delete(new org.apache.hadoop.fs.Path(t), true)
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .repartitionByRange(8, col("o_totalprice"))
      graft.sources.FileSkipping.commitWithBloom(o, t, Seq("o_orderkey"))
      val probe = table(s, dir, "orders")
        .agg(min(col("o_orderkey"))).head().getLong(0)
      val (pruned, rep) = graft.sources.FileSkipping.readEquals(
        s, t, "o_orderkey", probe)
      require(rep.filesKept < rep.filesTotal,
        s"bloom pruning opened all ${rep.filesTotal} files — the index broke")
      require(rep.filesKept >= 1, "bloom pruned the file holding the key")
      pruned.select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .orderBy("o_orderkey")
    }),
    Query("o9_stats_pruned_read", Some(
      // the pruned read must equal the plain full-scan filter — file
      // skipping decides which files to OPEN, never which rows qualify
      ("SELECT o_orderpriority, count(*)::BIGINT AS n, " +
        "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price " +
        "FROM orders WHERE o_orderkey BETWEEN 1000 AND 2500 " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")))((s, dir) => {
      // file-level min/max data skipping over a versioned table: commit
      // orders range-partitioned by o_orderkey (disjoint per-file key
      // ranges — the layout sorted/z-ordered writes produce), record
      // parquet-FOOTER stats per file at commit time (metadata-only, no
      // row data read), then answer a narrow between() by opening ONLY
      // the files whose [min,max] intersects it. The require makes the
      // query self-checking for the prune property at every scale; the
      // row-level gate is the oracle (plain full-scan filter).
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val t = new org.apache.hadoop.fs.Path(wh, "graft_pruned_orders").toString
      val fs0 = new org.apache.hadoop.fs.Path(t).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs0.delete(new org.apache.hadoop.fs.Path(t), true) // fresh table per run
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .repartitionByRange(8, col("o_orderkey"))
      graft.sources.FileSkipping.commitWithStats(o, t, Seq("o_orderkey"))
      val (pruned, rep) = graft.sources.FileSkipping.readBetween(
        s, t, "o_orderkey", 1000L, 2500L)
      require(rep.filesKept < rep.filesTotal,
        s"stats pruning opened all ${rep.filesTotal} files — skipping broke")
      pruned.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            + lit(5e-10), 6).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    Query("o10_zorder_pruned_read", Some(
      // the 2-D pruned read must equal the plain conjunctive filter
      ("SELECT count(*)::BIGINT AS n, " +
        "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) + 5e-10, 6) AS sum_price " +
        "FROM orders WHERE (o_orderkey % 64) BETWEEN 3 AND 5 " +
        "AND (o_custkey % 64) BETWEEN 10 AND 20")))((s, dir) => {
      // the full 2-D data-skipping stack: a z-ordered layout (each file
      // a Morton TILE with tight min/max on BOTH dimensions at once)
      // committed with footer stats, then a conjunctive 2-D range read
      // that opens only the tiles both predicates can touch. A sorted
      // layout prunes one dimension; this prunes both from the same
      // stats — the o2 key + o9 stats composed into the read path.
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val t = new org.apache.hadoop.fs.Path(wh, "graft_zorder_orders").toString
      val fs0 = new org.apache.hadoop.fs.Path(t).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs0.delete(new org.apache.hadoop.fs.Path(t), true) // fresh table per run
      val o = table(s, dir, "orders").select(
        col("o_orderkey"), col("o_totalprice"),
        (col("o_orderkey") % 64).as("d1"),
        (col("o_custkey") % 64).as("d2"))
      val arranged = o
        .withColumn("__z", graft.sources.Sinks.zorderKey(Seq(col("d1"), col("d2")), 6))
        .repartitionByRange(16, col("__z"))
        .sortWithinPartitions("__z").drop("__z")
      graft.sources.FileSkipping.commitWithStats(arranged, t, Seq("d1", "d2"))
      val (pruned, rep) = graft.sources.FileSkipping.readWhere(
        s, t, Seq(("d1", 3L, 5L), ("d2", 10L, 20L)))
      require(rep.filesKept < rep.filesTotal,
        s"z-order 2-D pruning opened all ${rep.filesTotal} files — skipping broke")
      pruned.agg(count(lit(1)).as("n"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          + lit(5e-10), 6).as("sum_price"))
    }),

    // ---- metadata-only scan: parquet aggregate pushdown ----------------
    Query("o5_agg_pushdown", Some(
      ("SELECT count(*)::BIGINT AS n_rows, " +
        "round(min(l_quantity) + 5e-10, 6) AS min_qty, " +
        "round(max(l_quantity) + 5e-10, 6) AS max_qty, " +
        "round(min(l_extendedprice) + 5e-10, 6) AS min_price, " +
        "round(max(l_extendedprice) + 5e-10, 6) AS max_price FROM lineitem")))((s, dir) => {
      // COUNT/MIN/MAX answered from parquet row-group STATISTICS — no
      // data page is read (the 100 TB "profile this table" query as a
      // footer walk). Needs the DSv2 parquet path; a child session
      // isolates the conf flips from the shared verify/bench session
      // (same SparkContext, separate SQL conf). SourcesSpec pins
      // PushedAggregation in the plan so a silent fallback to a full
      // scan cannot masquerade as a pass.
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.useV1SourceList", "")
      s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      Util.table(s2, dir, "lineitem").agg(
          count(lit(1)).as("n_rows"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .select(col("n_rows"),
          round(col("min_qty") + lit(5e-10), 6).as("min_qty"),
          round(col("max_qty") + lit(5e-10), 6).as("max_qty"),
          round(col("min_price") + lit(5e-10), 6).as("min_price"),
          round(col("max_price") + lit(5e-10), 6).as("max_price"))
    }),

    // ---- ingest robustness: corrupt-record capture ---------------------
    Query("o6_corrupt_records", Some(
      ("SELECT count(*)::BIGINT AS n_rows, " +
        "sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_corrupt, " +
        "round(sum(CASE WHEN event_id % 7 <> 0 THEN value ELSE 0 END) + 5e-10, 6) AS sum_good_value " +
        "FROM events WHERE event_type = 'view'")))((s, dir) => {
      // PERMISSIVE CSV ingest with a corrupt-record column: malformed
      // rows (every 7th row's value planted non-numeric) survive the
      // read as null fields + the captured raw line instead of failing
      // the 100 TB job at row 3 billion; the report counts both
      // populations and aggregates only the clean rows. The oracle
      // derives all three numbers from the parquet planting rule.
      val base = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_corrupt_csv").toString
      Util.events(s, dir).filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          when(col("event_id") % 7 === 0, lit("notanumber"))
            .otherwise(col("value").cast("string")).as("value"))
        .repartition(4)
        .write.mode("overwrite").option("header", "true").csv(base)
      val schema = "event_id LONG, user_id LONG, value DOUBLE, _corrupt_record STRING"
      s.read.option("header", "true").option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema).csv(base)
        .agg(count(lit(1)).as("n_rows"),
          count(col("_corrupt_record")).as("n_corrupt"),
          round(sum("value") + lit(5e-10), 6).as("sum_good_value"))
    }),

    // ---- columnar sink/source: ORC -------------------------------------
    Query("o4_orc_roundtrip", Some(
      // the aggregate straight from the parquet — a mismatch means the
      // ORC writer or reader changed a value in flight
      ("SELECT strftime(ts, '%Y-%m-%d') AS day, count(*)::BIGINT AS n, " +
        "round(sum(value) + 5e-10, 6) AS sum_value FROM events " +
        "WHERE event_type = 'purchase' GROUP BY day ORDER BY day")))((s, dir) => {
      // ORC sink + source round-trip (the o3 pattern for the second
      // columnar format): purchase events land as zlib ORC, are read
      // back (ORC embeds its schema — no inference scan), and the daily
      // aggregate must match the oracle computed straight from the
      // parquet. Doubles round-trip exactly in ORC's binary encoding;
      // timestamps travel preformatted (no parser semantics in play).
      val base = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_orc_events").toString
      val src = Util.events(s, dir).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
        .repartition(4)
      src.write.mode("overwrite").option("compression", "zlib").orc(s"$base/orc")
      s.read.orc(s"$base/orc")
        .groupBy(substring(col("ts_s"), 1, 10).as("day"))
        .agg(count(lit(1)).as("n"),
          round(sum("value") + lit(5e-10), 6).as("sum_value"))
        .orderBy("day")
    }),
    Query("o11_schema_merge", Some(
      // straight from the source table: batch 0 rows carry no discount
      // (the column postdates them), batch 1 rows carry theirs
      ("WITH s AS (SELECT o_orderkey % 3 AS batch, " +
        "CASE WHEN o_orderkey % 3 = 1 THEN o_totalprice END AS price " +
        "FROM orders WHERE o_orderkey % 3 IN (0, 1)) " +
        "SELECT batch::BIGINT AS batch, count(*)::BIGINT AS n, " +
        "sum(CASE WHEN price IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_price, " +
        "round(sum(price)::DOUBLE + 5e-10, 6) AS sum_price " +
        "FROM s GROUP BY 1 ORDER BY 1")))((s, dir) => {
      // schema evolution across parquet batches: the v1 history lacks
      // the discount column the v2 writer added; mergeSchema unions the
      // schemas on read and v1 rows surface NULL discounts. The census
      // must match an oracle computed straight from the source table —
      // pinning that evolution loses no rows and invents no values.
      val base = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_schema_merge").toString
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      o.filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_custkey")
        .repartition(2).write.mode("overwrite").parquet(s"$base/v1")
      o.filter(col("o_orderkey") % 3 === 1)
        .repartition(2).write.mode("overwrite").parquet(s"$base/v2")
      s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
        .groupBy((col("o_orderkey") % 3).as("batch"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("n_null_price"),
          round(sum(col("o_totalprice")).cast("double") + lit(5e-10), 6).as("sum_price"))
        .orderBy("batch")
    }),
  )
}
