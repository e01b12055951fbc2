package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal snapshot-versioned parquet table: time-travel reads on top of
  * the warehouse sink family ([[Warehouse.applyCdc]]/[[Warehouse.snapshotDiff]]
  * produce the snapshots; this pins them). The classic capability the plain
  * directory sink lacks — "read the table as of version N" — without a
  * heavyweight table format.
  *
  * Layout:
  * {{{
  *   <path>/data/c<N>/part-*.parquet   one immutable directory per commit
  *   <path>/_manifests/v<N>.manifest   newline-separated data-file list
  * }}}
  *
  * A manifest names the exact files composing its version, so:
  *  - APPEND commits reuse every prior file — only the delta is written
  *    (manifest N+1 = manifest N + the new commit's files);
  *  - MERGE commits (a CDC apply materializes the full after-table) write a
  *    full snapshot and reference only it;
  *  - readers never list data dirs — they read one manifest (KB-scale
  *    driver metadata) and hand Spark the file list, so a pinned read costs
  *    the same as reading the live table at that version, and partition
  *    pruning / pushdown apply unchanged.
  *
  * Commit protocol (single-writer, like the reference's loader): data files
  * land first, the manifest is written LAST via create-temp + rename, and
  * the latest version is resolved by scanning manifest names — a reader
  * never observes a version whose data is incomplete, and a crash between
  * data and manifest leaves an orphaned `c<N>` dir that the next commit
  * ignores (garbage, not corruption). At real scale with concurrent
  * writers this is where a table format's conditional commit (Iceberg/
  * Delta-style) takes over; the read path — manifest-pruned file listing —
  * is the same idea those formats industrialize.
  */
object VersionedTable {

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(path: String) = new Path(s"$path/_manifests")

  private val ManifestName = """v(\d+)\.manifest""".r

  /** All committed versions, ascending; empty for a non-table path. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case ManifestName(n) => n.toLong
    }.sorted
  }

  def latestVersion(spark: SparkSession, path: String): Option[Long] =
    versions(spark, path).lastOption

  private def readManifest(spark: SparkSession, path: String, v: Long): Seq[String] = {
    val f = fs(spark, path)
    val mf = new Path(manifestDir(path), s"v$v.manifest")
    require(f.exists(mf), s"version $v does not exist at $path " +
      s"(have: ${versions(spark, path).mkString(", ")})")
    val in = f.open(mf)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.filter(_.nonEmpty)
    finally in.close()
  }

  private def writeManifest(spark: SparkSession, path: String, v: Long,
                            files: Seq[String]): Unit = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    f.mkdirs(dir)
    val tmp = new Path(dir, s".v$v.manifest.tmp")
    val out = f.create(tmp, true)
    try out.write((files.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val mf = new Path(dir, s"v$v.manifest")
    if (!f.rename(tmp, mf)) {
      f.delete(tmp, false)
      throw new java.io.IOException(
        s"VersionedTable: failed to commit manifest $mf (concurrent writer?)")
    }
  }

  /** Write `df` as commit dir `c<v>` and return its data-file paths. */
  private def writeCommitData(spark: SparkSession, path: String, v: Long,
                              df: DataFrame): Seq[String] = {
    val commitDir = s"$path/data/c$v"
    df.write.mode("errorifexists").parquet(commitDir)
    val f = fs(spark, path)
    f.listStatus(new Path(commitDir)).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet"))
      .map(_.toString)
  }

  /** Commit `df` as the next version. `append = true` keeps every file of
    * the previous version and adds the new commit's files (delta-only
    * write); `append = false` makes the new commit a full replacement
    * snapshot (the shape a CDC merge result needs). Returns the new
    * version number (0 for the first commit). */
  def commit(spark: SparkSession, path: String, df: DataFrame,
             append: Boolean): Long = {
    val next = latestVersion(spark, path).map(_ + 1).getOrElse(0L)
    val newFiles = writeCommitData(spark, path, next, df)
    val files =
      if (append && next > 0)
        readManifest(spark, path, next - 1) ++ newFiles
      else newFiles
    writeManifest(spark, path, next, files)
    next
  }

  /** Apply an op-tagged CDC batch ([[Warehouse.applyCdc]] semantics) to the
    * latest version and commit the merged result as a new full snapshot. */
  def commitCdc(spark: SparkSession, path: String, cdc: DataFrame,
                keyCols: Seq[String], seqCol: String, opCol: String): Long = {
    val base = read(spark, path)
    commit(spark, path, Warehouse.applyCdc(base, cdc, keyCols, seqCol, opCol),
      append = false)
  }

  /** Read the table at `version` (default: latest). The returned frame is a
    * plain parquet scan over the manifest's file list — column pruning and
    * filter pushdown reach the files exactly as on an unversioned read. */
  def read(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $path"))
    val files = readManifest(spark, path, v)
    spark.read.parquet(files: _*)
  }

  /** Drop data files no manifest references (crashed commits, compacted-
    * away snapshots) and, optionally, manifests older than `keepVersions`.
    * The vacuum a snapshot-versioned table needs to bound storage. */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int): Unit = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val f = fs(spark, path)
    val all = versions(spark, path)
    val drop = all.dropRight(keepVersions)
    drop.foreach(v => f.delete(new Path(manifestDir(path), s"v$v.manifest"), false))
    val live = versions(spark, path)
      .flatMap(v => readManifest(spark, path, v)).toSet
    val dataRoot = new Path(s"$path/data")
    if (f.exists(dataRoot)) {
      f.listStatus(dataRoot).foreach { c =>
        f.listStatus(c.getPath).foreach { file =>
          if (file.getPath.getName.endsWith(".parquet") &&
              !live.contains(file.getPath.toString))
            f.delete(file.getPath, false)
        }
        if (f.listStatus(c.getPath)
            .forall(s => !s.getPath.getName.endsWith(".parquet")))
          f.delete(c.getPath, true)
      }
    }
  }
}
