package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** File-level min/max data skipping over a [[VersionedTable]] — the scan
  * mechanism every production table format (Iceberg manifests, Delta
  * add-file stats) layers on top of partition pruning. At 100 TB the
  * difference between "scan the snapshot" and "scan the 3 files whose
  * [min,max] intersects the predicate" IS the query cost, so the stats
  * live with the table, not with the query:
  *
  *  - [[commitWithStats]] commits a version, then writes ONE stats file
  *    per new data directory (`_stats/<dir>.json`) holding per-file
  *    min/max/nullCount/rowCount for the chosen columns. Stats come from
  *    the PARQUET FOOTERS — a metadata-only read (no row data is
  *    scanned), executed ON THE EXECUTORS (the footer walk is
  *    parallelized over files; the driver collects only the
  *    aggregate-sized stats lines). Append commits write stats only for
  *    the directory they added: stats cost is O(new files), never
  *    O(table).
  *  - [[readBetween]] resolves a version's directories, prunes each
  *    directory's file list against its stats, and hands Spark ONLY the
  *    surviving files, plus the residual filter (stats pruning is
  *    conservative, never a substitute for the predicate). Directories
  *    without stats — crashed stats writes, tables predating stats —
  *    degrade to "keep every file", never to a wrong answer.
  *
  * Stats families: integral columns (int32/int64, dates as epoch days)
  * compare as longs, float/double as doubles, UTF-8 strings as strings
  * (Java lexicographic compare — equivalent to parquet's unsigned byte
  * order for the ASCII data this engine plants; a non-ASCII edge would
  * only ever KEEP extra files, because [[statsLinesForFiles]] skips
  * stats it cannot represent faithfully rather than emitting them).
  * Decimals, booleans and nested types get no stats and are simply
  * unprunable — again conservative, never wrong.
  */
object FileSkipping extends Logging {

  /** One file's stats for one column. `min`/`max` are None when every
    * value in the file is null (`nulls == rows`). */
  final case class ColStats(file: String, column: String, family: String,
                            min: Option[String], max: Option[String],
                            nulls: Long, rows: Long)

  /** What the pruned read decided: total candidate files, files actually
    * handed to the scan, and directories that had no stats (all their
    * files are force-kept). */
  final case class PruneReport(filesTotal: Int, filesKept: Int, dirsWithoutStats: Int)

  private def statsPath(table: String, dirRel: String): Path =
    new Path(new Path(table, "_stats"), dirRel.stripPrefix("data/") + ".json")

  // ---- commit-time: footer walk + stats publish ----------------------

  /** [[VersionedTable.commit]] + footer stats for the new directory.
    * Returns the committed version. The stats write is idempotent
    * (skipped if the file exists) and non-atomic WITH the commit by
    * design: a crash between the two leaves a committed version whose
    * new directory is merely unprunable until [[backfillStats]]. */
  def commitWithStats(df: DataFrame, table: String, statsCols: Seq[String],
                      mode: String = "append"): Long = {
    val spark = df.sparkSession
    val v = VersionedTable.commit(df, table, mode)
    val newDir = VersionedTable.resolveDirs(spark, table, v).last
    writeStatsIfAbsent(spark, table, newDir, statsCols)
    v
  }

  /** Small-file compaction as a TABLE TRANSACTION — the maintenance loop
    * [[graft.ops.Quality.auditedCommitWithStats]] opens and this closes:
    * read the latest version, rewrite its many files into few, and
    * publish the result as an overwrite commit WITH fresh footer stats,
    * so [[readWhere]] prunes the compacted layout immediately. Readers
    * of the old version are untouched (snapshot isolation); the old
    * files stay for time travel until [[VersionedTable.vacuum]].
    *
    * `clusterBy` range-partitions + sorts the rewrite on those columns —
    * compaction is THE moment to establish a prunable layout, because
    * tight per-file min/max on the predicate columns is what the stats
    * pruning feeds on; an unclustered compaction yields files that all
    * span the whole key range and prune nothing. Empty = plain coalesce
    * (IO-bound shuffle-free rewrite, [[graft.sources.Sinks.compact]]'s
    * default shape).
    *
    * Sizing: `targetFiles` pins the output file count (scale-independent
    * fixtures, explicit maintenance plans); otherwise
    * ceil(currentBytes / targetFileBytes) from the FileSystem listing —
    * a metadata walk, no data read.
    *
    * @return (committed version, files before, files after) */
  def compactTable(spark: SparkSession, table: String, statsCols: Seq[String],
                   targetFileBytes: Long = 128L << 20,
                   clusterBy: Seq[String] = Seq.empty,
                   targetFiles: Option[Int] = None): (Long, Int, Int) = {
    require(targetFileBytes >= (1L << 16), "targetFileBytes must be >= 64 KiB")
    targetFiles.foreach(n => require(n >= 1, s"targetFiles must be >= 1, got $n"))
    val v = VersionedTable.latestVersion(spark, table)
    val dirs = VersionedTable.resolveDirs(spark, table, v)
    val f = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = dirs.flatMap { dirRel =>
      f.listStatus(new Path(table, dirRel)).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
    }
    val nOut = targetFiles.getOrElse(
      math.max(1, math.ceil(files.map(_.getLen).sum.toDouble / targetFileBytes).toInt))
    val df = VersionedTable.read(spark, table, Some(v))
    val arranged =
      if (clusterBy.isEmpty) df.coalesce(nOut)
      else df.repartitionByRange(nOut, clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    val v2 = commitWithStats(arranged, table, statsCols, mode = "overwrite")
    val newDir = VersionedTable.resolveDirs(spark, table, v2).last
    val after = f.listStatus(new Path(table, newDir))
      .count(_.getPath.getName.endsWith(".parquet"))
    (v2, files.length, after)
  }

  /** Write stats files for every directory of `version` (default latest)
    * that is missing one — adopt a pre-stats table or repair a crashed
    * stats write. Returns the directories backfilled. */
  def backfillStats(spark: SparkSession, table: String, statsCols: Seq[String],
                    version: Option[Long] = None): Seq[String] = {
    val v = version.getOrElse(VersionedTable.latestVersion(spark, table))
    VersionedTable.resolveDirs(spark, table, v)
      .filter(writeStatsIfAbsent(spark, table, _, statsCols))
  }

  /** True when this call wrote the stats file (false = already present). */
  private def writeStatsIfAbsent(spark: SparkSession, table: String,
                                 dirRel: String, statsCols: Seq[String]): Boolean = {
    val sp = statsPath(table, dirRel)
    val f = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(sp)) return false
    val dirAbs = new Path(table, dirRel)
    val files = f.listStatus(dirAbs).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted.toSeq
    val lines = statsLinesForFiles(spark, files, statsCols.toSet)
    f.mkdirs(sp.getParent)
    val out = try f.create(sp, /* overwrite = */ false) catch {
      case _: java.io.IOException => return false // concurrent backfill won
    }
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
    true
  }

  /** Per-file per-column stats lines from parquet FOOTERS, computed on
    * the executors (one task per slice of the file list; a fresh Hadoop
    * conf is rebuilt from the session's entries, since Configuration is
    * not serializable). Multi-row-group files fold their chunk stats.
    * Only the aggregate-sized JSON lines come back to the driver. */
  private[sources] def statsLinesForFiles(spark: SparkSession, files: Seq[String],
                                          wanted: Set[String]): Seq[String] = {
    if (files.isEmpty) return Nil
    val confMap: Map[String, String] = {
      val it = spark.sessionState.newHadoopConf().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
      b.result()
    }
    val slices = math.min(files.size, spark.sparkContext.defaultParallelism)
    spark.sparkContext.parallelize(files, slices).mapPartitions { it =>
      val conf = new org.apache.hadoop.conf.Configuration(false)
      confMap.foreach { case (k, v) => conf.set(k, v) }
      it.flatMap { fileAbs =>
        // store the bare file name: data dirs are flat by construction,
        // and absolute paths would break across scheme spellings
        // (file:/ URI from listStatus vs plain path at read time)
        val name = new Path(fileAbs).getName
        footerStats(conf, fileAbs, wanted).map(s => statsJson(s.copy(file = name)))
      }
    }.collect().toSeq.sorted
  }

  /** Footer-only stats for one parquet file: open the footer, fold every
    * row group's column-chunk statistics. No row data is read. */
  private[sources] def footerStats(conf: org.apache.hadoop.conf.Configuration,
                                   fileAbs: String, wanted: Set[String]): Seq[ColStats] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(fileAbs), conf))
    try {
      val blocks = reader.getFooter.getBlocks
      // (column -> (family, min, max, nulls, rows)) folded across row groups
      val acc = scala.collection.mutable.Map.empty[String, (String, Option[String], Option[String], Long, Long)]
      // Completeness contract: a file-level ColStats may only be emitted
      // when EVERY row group contributed usable bounds (or was provably
      // all-null). Parquet writers legitimately omit chunk statistics —
      // and drop min/max for oversized binary values while keeping the
      // stats object — and a bound folded from a subset of row groups
      // would let readWhere prune a file that contains matching rows.
      // Any such chunk poisons its column for the whole file: no stats
      // line is written and the reader force-keeps the file.
      val incomplete = scala.collection.mutable.Set.empty[String]
      // getNumNulls returns -1 when the writer never set the null count;
      // folding that into the sum could corrupt the all-null prune test.
      val nullsUnknown = scala.collection.mutable.Set.empty[String]
      var b = 0
      while (b < blocks.size()) {
        val block = blocks.get(b)
        val cols = block.getColumns
        var c = 0
        while (c < cols.size()) {
          val cc = cols.get(c)
          val name = cc.getPath.toDotString
          if (wanted.contains(name)) {
            val pt = cc.getPrimitiveType
            val ann = pt.getLogicalTypeAnnotation
            val family: String = pt.getPrimitiveTypeName match {
              case INT32 | INT64 =>
                ann match {
                  case null => "long"
                  case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation => "long"
                  case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => "long"
                  case _ => null // decimal-as-int etc.: unscaled values, skip
                }
              case FLOAT | DOUBLE => "double"
              case BINARY =>
                ann match {
                  case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => "string"
                  case _ => null
                }
              case _ => null
            }
            if (family != null) {
              val st = cc.getStatistics
              val rows = block.getRowCount
              val nulls = if (st != null && st.isNumNullsSet) st.getNumNulls else -1L
              val allNullProven = nulls >= 0 && nulls == rows
              if (st == null || st.isEmpty || (!st.hasNonNullValue && !allNullProven)) {
                // no usable bounds and not provably all-null: this row
                // group's values are uncovered — poison the column
                incomplete += name
              } else {
                if (nulls < 0) nullsUnknown += name
                def render(v: Any): String = v match {
                  // Binary.toString is a debug repr; decode the UTF-8 payload
                  case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
                  case other => other.toString
                }
                val (mn, mx): (Option[String], Option[String]) =
                  if (!st.hasNonNullValue) (None, None)
                  else (Some(render(st.genericGetMin)), Some(render(st.genericGetMax)))
                acc.get(name) match {
                  case None => acc(name) = (family, mn, mx, math.max(nulls, 0L), rows)
                  case Some((fam, pmn, pmx, pn, pr)) =>
                    acc(name) = (fam, foldBound(fam, pmn, mn, takeMin = true),
                      foldBound(fam, pmx, mx, takeMin = false), pn + math.max(nulls, 0L), pr + rows)
                }
              }
            }
          }
          c += 1
        }
        b += 1
      }
      acc.toSeq.sortBy(_._1)
        .filterNot { case (name, _) => incomplete.contains(name) }
        .map { case (name, (fam, mn, mx, nulls, rows)) =>
          // unknown null count: emit -1 so the reader's all-null test
          // (nulls == rows) can never fire on a fabricated sum
          ColStats(fileAbs, name, fam, mn, mx,
            if (nullsUnknown.contains(name)) -1L else nulls, rows)
        }
    } finally reader.close()
  }

  private def foldBound(family: String, a: Option[String], b: Option[String],
                        takeMin: Boolean): Option[String] = (a, b) match {
    case (None, x) => x
    case (x, None) => x
    case (Some(x), Some(y)) =>
      val xSmaller = cmp(family, x, y) <= 0
      Some(if (xSmaller == takeMin) x else y)
  }

  private def cmp(family: String, a: String, b: String): Int = family match {
    case "long" => java.lang.Long.compare(a.toLong, b.toLong)
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _ => a.compareTo(b)
  }

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    }

  private def statsJson(s: ColStats): String = {
    def opt(v: Option[String]) = v.map(x => "\"" + jsonEscape(x) + "\"").getOrElse("null")
    s"""{"file":"${jsonEscape(s.file)}","col":"${jsonEscape(s.column)}","t":"${s.family}",""" +
      s""""min":${opt(s.min)},"max":${opt(s.max)},"nulls":${s.nulls},"rows":${s.rows}}"""
  }

  private val statsLineRe =
    ("""\{"file":"((?:[^"\\]|\\.)*)","col":"((?:[^"\\]|\\.)*)","t":"(\w+)",""" +
      """"min":(null|"(?:[^"\\]|\\.)*"),"max":(null|"(?:[^"\\]|\\.)*"),""" +
      """"nulls":(-?\d+),"rows":(\d+)\}""").r

  private def jsonUnescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' => sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  private[sources] def parseStatsLines(text: String): Seq[ColStats] =
    text.linesIterator.filter(_.nonEmpty).map { line =>
      statsLineRe.findFirstMatchIn(line) match {
        case Some(m) =>
          def opt(g: String) = if (g == "null") None
            else Some(jsonUnescape(g.substring(1, g.length - 1)))
          ColStats(jsonUnescape(m.group(1)), jsonUnescape(m.group(2)), m.group(3),
            opt(m.group(4)), opt(m.group(5)), m.group(6).toLong, m.group(7).toLong)
        case None => sys.error(s"bad stats line: $line")
      }
    }.toSeq

  // ---- read-time: prune + residual filter -----------------------------

  /** Stats-pruned between-read: scan ONLY the files whose [min,max] for
    * `column` can intersect [lo, hi], with the residual filter applied
    * on top (stats decide which files to open, never which rows
    * qualify). `lo`/`hi` must be a Long/Int, Double/Float, or String to
    * match the column's stats family; a family mismatch keeps every
    * file (conservative). Returns the frame and the prune report. */
  def readBetween(spark: SparkSession, table: String, column: String,
                  lo: Any, hi: Any, version: Option[Long] = None): (DataFrame, PruneReport) =
    readWhere(spark, table, Seq((column, lo, hi)), version)

  /** Conjunctive multi-column pruned read: a file is opened only when
    * EVERY (column, lo, hi) range could match its stats — the read path
    * for z-ordered layouts, whose files are tiles with tight min/max on
    * every z dimension at once (one sorted column prunes one dimension;
    * the Morton layout prunes all of them from the same footer stats).
    * The residual filter is the AND of the betweens. */
  def readWhere(spark: SparkSession, table: String, preds: Seq[(String, Any, Any)],
                version: Option[Long] = None): (DataFrame, PruneReport) = {
    require(preds.nonEmpty, "at least one (column, lo, hi) predicate required")
    val v = version.getOrElse(VersionedTable.latestVersion(spark, table))
    val dirs = VersionedTable.resolveDirs(spark, table, v)
    val f = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wanted = preds.map(_._1).toSet
    var total = 0; var noStats = 0
    val kept = Seq.newBuilder[String]
    dirs.foreach { dirRel =>
      val dirAbs = new Path(table, dirRel)
      val files = f.listStatus(dirAbs).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      total += files.length
      val sp = statsPath(table, dirRel)
      if (!f.exists(sp)) {
        noStats += 1
        files.foreach(p => kept += p.toString)
      } else {
        val byFileCol = parseStatsLines(readFully(f, sp))
          .filter(s => wanted.contains(s.column))
          .groupBy(_.file).view.mapValues(_.map(s => s.column -> s).toMap).toMap
        files.foreach { p =>
          val stats = byFileCol.getOrElse(p.getName, Map.empty)
          val keep = preds.forall { case (c, lo, hi) =>
            stats.get(c) match {
              case None => true // no stats for this column in this file
              case Some(s) => fileCouldMatch(s, lo, hi)
            }
          }
          if (keep) kept += p.toString
        }
      }
    }
    val keptFiles = kept.result()
    val residual: Column = preds.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    val df =
      if (keptFiles.nonEmpty) spark.read.parquet(keptFiles: _*).filter(residual)
      else // every file pruned: empty frame with the TABLE's schema
        VersionedTable.read(spark, table, Some(v)).filter(lit(false))
    (df, PruneReport(total, keptFiles.length, noStats))
  }

  /** Conservative per-file test: false ONLY when the stats prove no row
    * can satisfy lo <= col <= hi (range disjoint, or all-null file). */
  private[sources] def fileCouldMatch(s: ColStats, lo: Any, hi: Any): Boolean = {
    if (s.nulls == s.rows && s.rows > 0) return false // all null: between() never matches
    (s.min, s.max) match {
      case (Some(mn), Some(mx)) =>
        (s.family, lo, hi) match {
          case ("long", l: Number, h: Number) =>
            !(mx.toLong < l.longValue() || mn.toLong > h.longValue())
          case ("double", l: Number, h: Number) =>
            !(mx.toDouble < l.doubleValue() || mn.toDouble > h.doubleValue())
          case ("string", l: String, h: String) =>
            !(mx.compareTo(l) < 0 || mn.compareTo(h) > 0)
          case _ => true // family/predicate type mismatch: keep
        }
      case _ => true // stats present but boundless: keep
    }
  }

  private def readFully(f: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      bytes.toString("UTF-8")
    } finally in.close()
  }

  // ---- per-file Bloom index: equality-lookup pruning ------------------
  //
  // Min/max stats prune RANGE predicates, but on a column the layout is
  // NOT clustered by, every file spans the whole key range and a point
  // lookup opens all of them. A per-file Bloom filter answers "could
  // this file contain key = v" regardless of layout — the secondary-
  // index mechanism (Parquet's own bloom pages, Delta/Iceberg bloom
  // stats) for needle-in-haystack reads at 100 TB.

  private def bloomPath(table: String, dirRel: String): Path =
    new Path(new Path(table, "_bloom"), dirRel.stripPrefix("data/") + ".json")

  /** [[VersionedTable.commit]] + a per-file Bloom sidecar for the new
    * directory (`_bloom/<dir>.json`, one line per (file, column)).
    *
    * The blooms build DISTRIBUTED in ONE scan of the new directory:
    * a groupBy on `input_file_name()` with Spark's own mergeable
    * [[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]]
    * per column (map-side partial blooms OR-merge; the shuffle carries
    * sketches, never rows), sized from the directory's row count at
    * `fpp` — so the false-positive rate, and therefore the prune rate,
    * holds at every scale instead of saturating when files grow.
    * Same crash contract as [[commitWithStats]]: the sidecar write is
    * idempotent and non-atomic with the commit; a crash leaves the new
    * directory merely unprunable. Columns must be integral or string
    * (the aggregate's input domain). */
  def commitWithBloom(df: DataFrame, table: String, bloomCols: Seq[String],
                      fpp: Double = 0.01, mode: String = "append"): Long = {
    require(bloomCols.nonEmpty, "commitWithBloom needs at least one column")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val spark = df.sparkSession
    val v = VersionedTable.commit(df, table, mode)
    writeBloomIfAbsent(spark, table,
      VersionedTable.resolveDirs(spark, table, v).last, bloomCols, fpp)
    v
  }

  private def writeBloomIfAbsent(spark: SparkSession, table: String,
                                 dirRel: String, bloomCols: Seq[String],
                                 fpp: Double): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    val bp = bloomPath(table, dirRel)
    val f = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(bp)) return false
    val dirAbs = new Path(table, dirRel)
    val nFiles = f.listStatus(dirAbs).map(_.getPath)
      .count(_.getName.endsWith(".parquet")).max(1)
    val src = spark.read.parquet(dirAbs.toString)
    // expected items per file from the directory's row count (a footer-
    // metadata count) — the sizing that keeps fpp scale-independent
    val perFile = (src.count() / nFiles).max(1024L)
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(perFile, fpp)
    val aggs = bloomCols.map { c =>
      ColumnBridge.column(new BloomFilterAggregate(
          ColumnBridge.expression(col(c)),
          Literal(perFile), Literal(numBits)).toAggregateExpression())
        .as(s"__bf_$c")
    }
    // BloomFilterAggregate silently CAPS numBits at
    // spark.sql.optimizer.runtime.bloomFilter.maxNumBits (default 64 Mi
    // bits ≈ 7 M rows/file at fpp 0.01) — above that the realized fpp
    // would quietly degrade and the prune rate with it. When our sizing
    // exceeds the cap, the build runs in a NEW session (own SQLConf,
    // shared SparkContext and cache): a set-then-restore on the caller's
    // session would be visible to every query another thread plans in
    // the window — a session-global race for a build-local need.
    // `newSession` starts from the SparkConf defaults, so the caller's
    // runtime SQL confs (e.g. parquet rebase and timestamp semantics) are
    // copied in first: the build reads the directory as the caller does.
    val maxBitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val raiseCap = numBits > spark.conf.get(maxBitsKey).toLong
    val buildSession = if (raiseCap) {
      val s2 = spark.newSession()
      // only runtime-set confs differ, and those are settable
      spark.conf.getAll.foreach { case (k, v) => if (!s2.conf.getOption(k).contains(v)) s2.conf.set(k, v) }
      s2.conf.set(maxBitsKey, numBits.toString)
      logInfo(s"$table: bloom build session with $maxBitsKey" +
        s"=$numBits ($perFile rows/file at fpp=$fpp)")
      s2
    } else spark
    val rows =
      buildSession.read.parquet(dirAbs.toString)
        .withColumn("__file", org.apache.spark.sql.functions.input_file_name())
        .groupBy("__file")
        .agg(aggs.head, aggs.tail: _*)
        .collect()
    val lines = rows.flatMap { r =>
      val name = r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
      bloomCols.zipWithIndex.flatMap { case (c, i) =>
        // an all-null column yields a null (empty) bloom: no line, the
        // file stays unprunable on that column (conservative)
        Option(r.getAs[Array[Byte]](i + 1)).map { bytes =>
          s"""{"file":"${jsonEscape(name)}","column":"${jsonEscape(c)}",""" +
            s""""bloom":"${java.util.Base64.getEncoder.encodeToString(bytes)}"}"""
        }
      }
    }.sorted
    f.mkdirs(bp.getParent)
    val out = try f.create(bp, /* overwrite = */ false) catch {
      case _: java.io.IOException => return false
    }
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
    true
  }

  /** Point-lookup pruned read: open only the files whose Bloom filter
    * says `column = value` COULD match. Files or directories without a
    * bloom entry are kept (conservative — crashed sidecar writes and
    * pre-bloom data degrade to a full scan, never a wrong answer), and
    * the equality predicate is always re-applied as a residual filter
    * (a bloom hit is "maybe", at rate fpp). `value` must be an integral
    * or string key, matching the aggregate's put domain.
    *
    * The probe is HASHED BY THE COLUMN'S TYPE, not the value's runtime
    * class: the bloom was built from the column's encoding (longs for
    * integral columns, UTF-8 bytes for strings), so probing a string
    * column with an Int (or vice versa) would hash the wrong encoding,
    * read "definitely absent", and silently prune matching files — the
    * one failure mode data-skipping must never have. The value is
    * validated against the table schema and coerced within the integral
    * family; a cross-family mismatch fails fast instead of pruning. */
  def readEquals(spark: SparkSession, table: String, column: String,
                 value: Any, version: Option[Long] = None): (DataFrame, PruneReport) = {
    val v = version.getOrElse(VersionedTable.latestVersion(spark, table))
    val schema = VersionedTable.read(spark, table, Some(v)).schema
    val field = schema.find(_.name == column).getOrElse(throw new IllegalArgumentException(
      s"readEquals: column '$column' not in table schema (${schema.fieldNames.mkString(", ")})"))
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType, StringType}
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    val probe: Any = (field.dataType, value) match {
      case (dt, b: Byte) if integral(dt) => b.toLong
      case (dt, s: Short) if integral(dt) => s.toLong
      case (dt, i: Int) if integral(dt) => i.toLong
      case (dt, l: Long) if integral(dt) => l
      case (StringType, s: String) => s
      case (dt, other) => throw new IllegalArgumentException(
        s"readEquals: a ${other.getClass.getSimpleName} value cannot probe the $dt column " +
          s"'$column' — the bloom hashes by the column's type, and a mismatched probe would " +
          "silently prune files that actually match")
    }
    val dirs = VersionedTable.resolveDirs(spark, table, v)
    val f = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    var total = 0; var noBloom = 0
    val kept = Seq.newBuilder[String]
    dirs.foreach { dirRel =>
      val dirAbs = new Path(table, dirRel)
      val files = f.listStatus(dirAbs).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      total += files.length
      val bp = bloomPath(table, dirRel)
      if (!f.exists(bp)) {
        noBloom += 1
        files.foreach(p => kept += p.toString)
      } else {
        val byFile = parseBloomLines(readFully(f, bp))
          .filter(_._2 == column).map { case (file, _, bytes) => file -> bytes }.toMap
        files.foreach { p =>
          val keep = byFile.get(p.getName) match {
            case None => true // no bloom for this file/column: conservative
            case Some(bytes) => bloomMightContain(bytes, probe)
          }
          if (keep) kept += p.toString
        }
      }
    }
    val keptFiles = kept.result()
    val df =
      if (keptFiles.nonEmpty)
        spark.read.parquet(keptFiles: _*).filter(col(column) === lit(value))
      else VersionedTable.read(spark, table, Some(v)).filter(lit(false))
    (df, PruneReport(total, keptFiles.length, noBloom))
  }

  private def bloomMightContain(bytes: Array[Byte], value: Any): Boolean = {
    val bf = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    value match {
      case l: Long => bf.mightContainLong(l)
      case i: Int => bf.mightContainLong(i.toLong)
      case s: Short => bf.mightContainLong(s.toLong)
      case b: Byte => bf.mightContainLong(b.toLong)
      case s: String =>
        bf.mightContainBinary(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case other => throw new IllegalArgumentException(
        s"bloom lookup supports integral/string keys, got ${other.getClass}")
    }
  }

  private[sources] def parseBloomLines(text: String): Seq[(String, String, Array[Byte])] =
    text.split('\n').toSeq.filter(_.nonEmpty).map { line =>
      def grab(key: String): String = {
        val m = ("\"" + key + "\":\"([^\"]*)\"").r.findFirstMatchIn(line)
        m.getOrElse(throw new IllegalStateException(s"bad bloom line: $line")).group(1)
      }
      (jsonUnescape(grab("file")), jsonUnescape(grab("column")),
        java.util.Base64.getDecoder.decode(grab("bloom")))
    }
}
