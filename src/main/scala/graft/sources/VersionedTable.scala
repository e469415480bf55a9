package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-versioned parquet table: the minimal transactional layer the
  * lakehouse mutation family (CDC upsert, SCD2, snapshot diff) writes
  * through when no table format is available — immutable data
  * directories plus an atomically-committed JSON manifest per version,
  * the same two ideas every production table format is built on:
  *
  *  - WRITERS never mutate: each commit writes a fresh data directory
  *    (`data/c<version>-<nonce>/`), then publishes it by creating
  *    `_versions/v<version>.json` with create-exclusive semantics
  *    (`FileSystem.create(overwrite = false)` — one winner per version
  *    number; the loser gets a [[ConcurrentCommitException]] and
  *    retries on the next number). A crash between data write and
  *    manifest create leaves an unreferenced directory, never a
  *    half-visible version.
  *  - READERS are isolated: a read resolves ONE manifest (latest or
  *    time-travel) into a fixed file list; concurrent commits cannot
  *    change what a running query sees, because nothing a manifest
  *    references is ever rewritten.
  *
  * An `append` manifest lists the previous version's directories plus
  * the new one, so append is O(1) metadata — no data rewrite.
  * `overwrite` lists only the new directory; the old data stays on disk
  * for time travel until [[vacuum]] drops versions older than a kept
  * horizon. Manifests are a few hundred bytes; the version chain is
  * driver-side metadata, never row data.
  */
object VersionedTable {

  final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(table: String) = new Path(table, "_versions")
  private def manifestPath(table: String, v: Long) =
    new Path(manifestDir(table), f"v$v%08d.json")

  /** Latest committed version, or 0 when the table does not exist yet. */
  def latestVersion(spark: SparkSession, table: String): Long = {
    val dir = manifestDir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) 0L
    else f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .foldLeft(0L)(math.max)
  }

  /** All committed versions, ascending, with their modes. Enumerated
    * from the actual manifest listing, NOT an assumed contiguous
    * 1..latest chain — [[vacuum]] deletes manifests below its horizon,
    * and a vacuumed table must list its surviving versions rather than
    * throw on the first missing one. */
  def versions(spark: SparkSession, table: String): Seq[(Long, String)] = {
    val dir = manifestDir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted.toSeq
      .map { v => v -> parseManifest(readManifest(f, manifestPath(table, v)))._1 }
  }

  /** [[commit]] with a PINNED version number — the idempotence
    * primitive: a writer that knows which version its work should
    * become (a retry of a known step) calls this, and a replay of an
    * already-committed version surfaces as [[ConcurrentCommitException]]
    * instead of a duplicate append. `expected` must be exactly
    * `latest + 1` — gaps would leave unreadable version numbers. */
  def commitAt(df: DataFrame, table: String, expected: Long,
               mode: String = "append"): Long = {
    val spark = df.sparkSession
    val latest = latestVersion(spark, table)
    if (expected <= latest)
      throw new ConcurrentCommitException(
        s"version $expected of $table was committed by another writer")
    require(expected == latest + 1,
      s"expected version $expected would leave a gap (latest is $latest)")
    commitNext(df, table, mode, latest)
  }

  /** Commit `df` as the next version. `mode` is "append" (new data
    * directory + everything the previous version referenced) or
    * "overwrite" (new data directory only). Returns the committed
    * version number. Throws [[ConcurrentCommitException]] if another
    * writer claimed the version number first (retry to land on the next
    * one); the orphaned data directory a lost race leaves behind is
    * reclaimed by [[vacuum]]. */
  def commit(df: DataFrame, table: String, mode: String = "append"): Long =
    commitNext(df, table, mode, latestVersion(df.sparkSession, table))

  private def commitNext(df: DataFrame, table: String, mode: String, prev: Long): Long = {
    require(mode == "append" || mode == "overwrite",
      s"mode must be append|overwrite, got $mode")
    val spark = df.sparkSession
    val next = prev + 1
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val dataRel = s"data/c$next-$nonce"
    df.write.mode("overwrite").parquet(new Path(table, dataRel).toString)
    val dirs =
      if (mode == "overwrite" || prev == 0L) Seq(dataRel)
      else parseManifest(readManifest(fs(spark, new Path(table)),
        manifestPath(table, prev)))._2 :+ dataRel
    val manifest =
      s"""{"version":$next,"mode":"$mode","dirs":[${dirs.map("\"" + _ + "\"").mkString(",")}]}"""
    publishManifest(spark, table, next, manifest)
    next
  }

  /** The atomic publish step: create-exclusive manifest write. One
    * writer wins a version number; the rest get the typed conflict.
    * private[sources] so the race (two writers resolving the SAME next
    * version) is directly testable without interleaving threads. */
  private[sources] def publishManifest(spark: SparkSession, table: String,
                                       v: Long, manifest: String): Unit = {
    val mp = manifestPath(table, v)
    val f = fs(spark, mp)
    f.mkdirs(manifestDir(table))
    val out = try f.create(mp, /* overwrite = */ false) catch {
      case _: java.io.IOException => throw new ConcurrentCommitException(
        s"version $v of $table was committed by another writer")
    }
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
  }

  /** Read the table at `version` (default: latest). The returned frame
    * is pinned to that version's exact file list — concurrent commits
    * cannot leak into it. */
  def read(spark: SparkSession, table: String, version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, table))
    spark.read.parquet(resolveDirs(spark, table, v).map(d => new Path(table, d).toString): _*)
  }

  /** The data directories (relative to the table root) a version's
    * manifest references — the snapshot-resolution step [[read]] and the
    * stats-pruned read in [[FileSkipping]] share. */
  private[sources] def resolveDirs(spark: SparkSession, table: String, v: Long): Seq[String] = {
    require(v >= 1, s"$table has no committed versions")
    val mp = manifestPath(table, v)
    val f = fs(spark, mp)
    require(f.exists(mp), s"$table has no version $v")
    parseManifest(readManifest(f, mp))._2
  }

  /** Drop manifests STRICTLY older than `keepFrom` and delete every data
    * directory no surviving manifest references (including orphans from
    * lost commit races). Readers of vacuumed versions fail loudly at
    * resolve time; readers already running hold their file list and are
    * unaffected until files physically disappear beneath them — the
    * standard retention trade every table format documents. */
  def vacuum(spark: SparkSession, table: String, keepFrom: Long): Unit = {
    val latest = latestVersion(spark, table)
    require(keepFrom <= latest, s"keepFrom $keepFrom > latest $latest")
    val root = new Path(table)
    val f = fs(spark, root)
    val live = (keepFrom to latest).flatMap { v =>
      parseManifest(readManifest(f, manifestPath(table, v)))._2
    }.toSet
    val dataRoot = new Path(root, "data")
    if (f.exists(dataRoot))
      f.listStatus(dataRoot).map(_.getPath).foreach { p =>
        if (!live.contains(s"data/${p.getName}")) f.delete(p, true)
      }
    (1L until keepFrom).foreach { v => f.delete(manifestPath(table, v), false) }
  }

  private def readManifest(f: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      bytes.toString("UTF-8")
    } finally in.close()
  }

  /** (mode, data dirs) from the manifest JSON. The format is this
    * object's own fixed emission (no nesting, no escapes in dir names —
    * `data/c<v>-<hex>` by construction, or an absolute source path
    * written by [[cloneTable]]), so extracting the `dirs` array block
    * and splitting its quoted entries is exact, not approximate. Fields
    * are matched by name, so a manifest carrying extra fields (older
    * versions also wrote a `batchId`) still reads. */
  private def parseManifest(json: String): (String, Seq[String]) = {
    val mode = "\"mode\":\"([a-z]+)\"".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse(sys.error(s"bad manifest: $json"))
    val dirsBlock = "\"dirs\":\\[([^\\]]*)\\]".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse(sys.error(s"bad manifest: $json"))
    val dirs = "\"([^\"]+)\"".r.findAllMatchIn(dirsBlock).map(_.group(1)).toSeq
    (mode, dirs)
  }

  /** Zero-copy CLONE — the "dev branch from prod" primitive: publish
    * version 1 of `target` whose manifest references the SOURCE
    * snapshot's data directories by ABSOLUTE path. No data file moves
    * or copies; the clone materializes instantly at any source size.
    * Subsequent commits to the clone land under the clone's own
    * `data/` and the source never sees them (divergence); the clone's
    * [[vacuum]] can never touch source files — it only deletes
    * children of the clone's own data root. Caveats, documented not
    * hidden: source and clone must share a filesystem (the manifest
    * stores the resolved path), and vacuuming the SOURCE below the
    * cloned snapshot breaks the clone's pinned version — the standard
    * shallow-clone retention contract (Delta SHALLOW CLONE documents
    * the same). Returns the clone's version (always 1). */
  def cloneTable(spark: SparkSession, src: String, target: String,
                 version: Option[Long] = None): Long = {
    val v = version.getOrElse(latestVersion(spark, src))
    require(v >= 1, s"$src has no committed versions to clone")
    val dirs = resolveDirs(spark, src, v).map(d => new Path(src, d).toString)
    require(latestVersion(spark, target) == 0L,
      s"clone target $target already has committed versions")
    val manifest =
      s"""{"version":1,"mode":"clone","dirs":[${dirs.map("\"" + _ + "\"").mkString(",")}]}"""
    publishManifest(spark, target, 1L, manifest)
    1L
  }
}
