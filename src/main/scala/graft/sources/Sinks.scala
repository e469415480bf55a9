package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.OrderStatistics

/** Partitioned-layout sinks: Hive-style `partitionBy` parquet with the
  * small-files hazard designed out.
  *
  * At 100 TB the failure mode of a naive `df.write.partitionBy(c)` is not
  * correctness but file count: every task holds an open writer per
  * partition VALUE it sees, so T tasks x P values emits T*P files —
  * thousands of KB-sized parquet files per partition directory, and the
  * next reader drowns in open/seek overhead. Shuffling rows onto their
  * partition value first gives each value a single owning task (skewed
  * values can widen via `filesPerPartition`), so the layout lands as
  * P directories x ~filesPerPartition files regardless of parallelism.
  */
object Sinks {

  /** Write `df` as parquet partitioned by `partitionCols`, pre-shuffled
    * so each partition value is written by `filesPerPartition` tasks
    * (default 1 file per value). Readers filtering on `partitionCols`
    * prune whole directories before touching a row group —
    * `PartitionFilters` in the scan node, verified by SinksSpec. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       filesPerPartition: Int = 1): Unit = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    require(filesPerPartition >= 1, s"filesPerPartition must be >= 1, got $filesPerPartition")
    // deterministic salt (row-content hash) so a huge partition value can
    // spread across several writing tasks; AQE may still merge partitions
    // below the advisory size, which is the right call at scale
    val keys = partitionCols.map(col) ++
      (if (filesPerPartition > 1)
        Seq(pmod(xxhash64(struct(df.columns.map(col).toSeq: _*)),
          lit(filesPerPartition.toLong)))
      else Nil)
    df.repartition(keys: _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
  }

  /** Small-file COMPACTION — the table-maintenance pass every lakehouse
    * runs: rewrite a directory of many undersized parquet files into
    * ceil(totalBytes / targetFileBytes) balanced ones. Small files are
    * the silent 100 TB killer (one scan task + one footer + one open per
    * file; a 10^6-file table spends longer listing than reading).
    *
    * Plan shape: sizing comes from the FileSystem listing (a metadata
    * walk, no data read), and the rewrite defaults to `coalesce` — a
    * narrow merge of read partitions with NO shuffle, the right call for
    * an IO-bound rewrite. `rebalance = true` switches to `repartition`
    * (one full round-robin exchange) for inputs so skewed that merged
    * neighbors would produce lopsided files. Content is preserved
    * row-for-row (spec-pinned; o7 pins it against the source-table
    * oracle).
    *
    * @return (files before, files after) */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
              outPath: String, targetFileBytes: Long = 128L << 20,
              rebalance: Boolean = false): (Int, Int) = {
    require(targetFileBytes >= (1L << 20), s"targetFileBytes must be >= 1 MiB")
    val fs = new org.apache.hadoop.fs.Path(inPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Recursive walk: spark.read.parquet descends into Hive-style
    // partition directories, so sizing must too — a flat listStatus over
    // a partitioned layout sees only subdirectories, reports
    // totalBytes = 0, and the rewrite would collapse the table to one
    // file while both returned counts miss every real data file.
    def parquetFiles(p: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      def walk(d: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(d).toSeq.flatMap { f =>
          if (f.isDirectory) walk(f.getPath)
          else if (f.getPath.getName.endsWith(".parquet")) Seq(f)
          else Nil
        }
      walk(new org.apache.hadoop.fs.Path(p))
    }
    val before = parquetFiles(inPath)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(inPath)
    (if (rebalance) df.repartition(nOut) else df.coalesce(nOut))
      .write.mode("overwrite").parquet(outPath)
    (before.length, parquetFiles(outPath).length)
  }

  /** Morton / Z-order interleave key over `dims` pre-bucketed dimension
    * columns: bit b of dimension j lands at output bit `b * dims.size + j`,
    * so consecutive key values walk a space-filling curve that keeps rows
    * close in EVERY dimension close in the file order. Inputs must be
    * non-negative and < 2^bits (bucket/rank ids, not raw values — callers
    * bucket first; [[writeZOrdered]] applies `pmod` as a safety net).
    * Pure codegen'd bit arithmetic (`bits * dims` shift-and-or terms), no
    * shuffle, and exact integer math an external engine can replay —
    * that is what lets the o2 oracle recompute the key in SQL. */
  def zorderKey(dims: Seq[org.apache.spark.sql.Column], bits: Int): org.apache.spark.sql.Column = {
    require(dims.nonEmpty, "zorderKey needs at least one dimension")
    require(bits >= 1 && bits * dims.size <= 63,
      s"bits * dims must fit a signed long, got $bits * ${dims.size}")
    val k = dims.size
    dims.zipWithIndex.map { case (c, j) =>
      (0 until bits).map { b =>
        shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * k + j)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** Z-order-clustered parquet write — the data-skipping layout for
    * multi-dimensional filters: rows are range-partitioned and sorted by
    * their Morton key, so each output file covers a small TILE of the
    * dimension space and its parquet min/max column statistics are tight
    * on EVERY z dimension at once (a single-column sort gives tight
    * stats on that column only). A reader filtering on any z dimension
    * row-group-prunes most files — at 100 TB this is the difference
    * between a full scan and touching a few tiles. Dimension values are
    * folded into [0, 2^bits) via `pmod`; pre-bucket (e.g. rank/quantile
    * ids) for semantically meaningful tiles. */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
                    bits: Int = 16, numFiles: Int = 0): Unit = {
    require(zCols.nonEmpty, "zCols must be non-empty")
    val key = zorderKey(
      zCols.map(c => pmod(col(c).cast("long"), lit(1L << bits))), bits)
    val keyed = df.withColumn("__z", key)
    val ranged =
      if (numFiles > 0) keyed.repartitionByRange(numFiles, col("__z"))
      else keyed.repartitionByRange(col("__z"))
    ranged.sortWithinPartitions("__z").drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** What [[exportJsonlSharded]] did: the derived per-shard token budget,
    * how many shards landed, how many data files they occupy (the writer
    * contract is exactly one per shard), and the [[VersionedTable]]
    * manifest version the per-shard census was registered under. */
  final case class JsonlExportReport(tokensPerShard: Long, nShards: Long,
                                     nFiles: Long, manifestVersion: Long)

  /** The "export for training" handoff: write `df` as JSONL shards of
    * ~`tokensPerShard` tokens each (trainer-loader-sized units, not
    * task-count-sized files), one file per shard, and register the
    * per-shard (n_docs, n_tokens) census as a [[VersionedTable]]
    * manifest at `manifestTable` so the consumer can verify the handoff
    * without rescanning the corpus.
    *
    * Shard assignment is deterministic and externally replayable: rows
    * are taken in `orderCol` order (must be unique — doc ids), and a row
    * whose running token total BEFORE it is `p` lands in shard
    * `p div tokensPerShard` — shards meet the budget exactly except for
    * the one overshooting document at each boundary. The running total
    * never materializes a global single-partition window: rows are
    * range-partitioned on `orderCol`, each partition cumulates locally,
    * and ≤ #partitions driver prefix offsets stitch the global sum
    * (`graft.ops.OrderStatistics.prefixOffsets`). With `tokensPerShard <= 0` the
    * budget derives from the corpus itself as
    * max(`minShardTokens`, totalTokens div `targetShards`) — the total
    * is free off the same subtotals the offsets need.
    *
    * The write is `repartition(shard)` + `partitionBy(shard)`: every
    * shard is owned by exactly one task, so the layout is one JSONL
    * file per shard directory regardless of parallelism (the
    * [[writePartitioned]] small-files discipline). Returns the report;
    * the caller re-reads `path` with `spark.read.json` (shard is a
    * partition column) and checks its census against the manifest. */
  def exportJsonlSharded(df: DataFrame, path: String, orderCol: String,
                         tokenCol: String, manifestTable: String,
                         tokensPerShard: Long = 0L,
                         minShardTokens: Long = 2000L,
                         targetShards: Int = 64): JsonlExportReport = {
    require(tokensPerShard > 0 || targetShards > 0,
      "either a fixed tokensPerShard or a positive targetShards")
    val spark = df.sparkSession
    // weight 1 is the null gate, summed in the same pass as the token
    // subtotals: a null/uncastable token count would otherwise unbox to
    // a 0 subtotal and flow into shards with zero budget weight — the
    // manifest n_tokens goes null and the budget silently undercounts.
    // An EXPORT must fail loudly, not drop or zero-weight rows.
    val tok = df.withColumn("__tok", col(tokenCol).cast("long"))
    OrderStatistics.prefixOffsets(tok, Seq(col(orderCol)),
        Seq(col("__tok"), col("__tok").isNull.cast("long"))) { (parts, off) =>
      val nNull = off.grand(1)
      require(nNull == 0L,
        s"jsonl export: $nNull rows have null/uncastable $tokenCol — " +
          "filter or repair them upstream; an export must not carry zero-weight rows")
      val total = off.grand(0)
      require(total > 0, s"exportJsonlSharded: no tokens in $tokenCol")
      val budget =
        if (tokensPerShard > 0) tokensPerShard
        else math.max(minShardTokens, total / targetShards)
      require(budget > 0, s"jsonl export: shard budget must be positive, got $budget")
      // (__tok, __pid, __prev, shard), persisted for its two consumers
      // (writer + census) and released before return
      val sharded = parts
        .withColumn("__prev",
          sum("__tok").over(OrderStatistics.cumulative(col(orderCol))) - col("__tok") +
            off.startCol(0))
        .withColumn("shard", expr(s"__prev div ${budget}L"))
        .persist()
      try {
        sharded.drop("__tok", OrderStatistics.Pid, "__prev")
          .repartition(col("shard"))
          .write.mode("overwrite").partitionBy("shard").json(path)
        val census = sharded.groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum("__tok").as("n_tokens"))
        val version = VersionedTable.commit(census, manifestTable,
          mode = "overwrite")
        val hfs = new org.apache.hadoop.fs.Path(path).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        def dataFiles(d: org.apache.hadoop.fs.Path): Long =
          hfs.listStatus(d).map { f =>
            val n = f.getPath.getName
            if (f.isDirectory) dataFiles(f.getPath)
            else if (n.startsWith("_") || n.startsWith(".")) 0L else 1L
          }.sum
        JsonlExportReport(budget, census.count(),
          dataFiles(new org.apache.hadoop.fs.Path(path)), version)
      } finally sharded.unpersist()
    }
  }

  /** Overwrite-by-partition append pattern (the incremental-ingest shape):
    * replaces ONLY the partition directories present in `df`, leaving the
    * rest of the table untouched — dynamic partition overwrite, the batch
    * equivalent of an idempotent re-run of one ingest day. */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    df.repartition(partitionCols.map(col): _*)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)
  }
}
