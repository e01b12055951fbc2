package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** File-level Bloom index: one native Bloom filter per data file over a
  * LOOKUP key, for layouts where that key is NOT the clustering column —
  * the equality-predicate complement of [[ZoneMap]]. A table clustered by
  * time answers time ranges from its zone map, but a point lookup on id
  * scatters: every file's [min, max] id envelope overlaps, so zone maps
  * prune nothing. The per-file Bloom filter does: files whose filter
  * rejects the key are DEFINITELY free of it (no false negatives, by
  * construction), so a point read opens only the handful of false-positive
  * files plus the true home — at 100 TB, a KB-per-file index instead of a
  * full scan, the same trick Parquet bloom filters / Iceberg puffin files
  * play, here built from the engine's own mergeable aggregate
  * ([[graft.expr.BloomAggregate]]) in ONE grouped pass over the data.
  */
object BloomIndex {

  def bloomAgg(keyCol: Column, numBits: Int, numHashes: Int): Column =
    ColumnBridge.column(graft.expr.BloomAgg(
      ColumnBridge.expression(keyCol), numBits, numHashes)
      .toAggregateExpression())

  def bloomContains(filterCol: Column, itemCol: Column): Column =
    ColumnBridge.column(graft.expr.BloomMightContain(
      ColumnBridge.expression(filterCol), ColumnBridge.expression(itemCol)))

  /** Build the index next to an existing data directory: one grouped pass
    * over `_metadata.file_path` → (file, bloom, n_rows) parquet at
    * `path/bloomindex_<keyCol>`. Stats derive from what is on disk, never
    * trusted from the writer. 2^17 bits / 5 hashes ≈ 16 KB per
    * file, fpp < 1% up to ~18k distinct keys per file. */
  def buildIndex(spark: SparkSession, path: String, keyCol: String): Unit =
    spark.read.parquet(s"$path/data")
      .filter(col(keyCol).isNotNull)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(bloomAgg(col(keyCol).cast("long"), 1 << 17, 5).as("bloom"),
        count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/bloomindex_$keyCol")

  /** Data files whose filter might contain `value` — the driver-side
    * collect is FILE-count sized, never row-count sized. No false
    * negatives: the true home file always survives.
    *
    * SANCTIONED BOUNDED COLLECT (inventory: BloomIndex / ZoneMap /
    * PrefixSum / Dedup.maxDriverEdges): the collected relation has one
    * row per DATA FILE. Arithmetic: 100 TB at the standard 256 MB file
    * size is ~4×10⁵ files ≈ ~40 MB of path strings — driver-safe; at
    * 10× that, shard the index by path prefix before this bound, not the
    * executor plan, becomes the constraint. BloomIndexSpec pins the
    * index and collect cardinality to the file count. */
  def candidateFiles(spark: SparkSession, path: String, keyCol: String,
                     value: Long): Seq[String] =
    spark.read.parquet(s"$path/bloomindex_$keyCol")
      .filter(bloomContains(col("bloom"), lit(value)))
      .select(col("file")).collect().map(_.getString(0)).toSeq

  /** Point read `keyCol = value` via the index: scan only candidate
    * files, then the exact residual filter (false positives and
    * colliding rows drop here — the result is EXACT, the index is purely
    * a file pruner). */
  def pointRead(spark: SparkSession, path: String, keyCol: String,
                value: Long): DataFrame = {
    val files = candidateFiles(spark, path, keyCol, value)
    val base =
      if (files.isEmpty) spark.read.parquet(s"$path/data").filter(lit(false))
      else spark.read.parquet(files: _*)
    base.filter(col(keyCol).cast("long") === value)
  }
}
