package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Multi-format source/sink surface: the engine's tables round-trip through
  * every bundled columnar/text format (parquet is the native warehouse
  * format in [[graft.sink.Warehouse]]; this adds json, orc, and csv — the
  * reference's own ingest format — behind one API), plus the two raw
  * ingestion shapes an LLM corpus pipeline starts from: line/whole-file
  * text ([[readText]]) and binary payloads ([[readBinary]]).
  *
  * Schema discipline: reads always re-apply the WRITER's schema instead of
  * inferring — inference is both a correctness trap (json widens ints,
  * csv strings everything) and a 100 TB anti-pattern (inference is an
  * extra full scan of the data before the real one). */
object Formats {

  val supported: Seq[String] = Seq("parquet", "orc", "json", "csv")

  /** Write `df` to `path` in `format`, read it back with the original
    * schema. Overwrites — callers may reuse a deterministic path. */
  def roundTrip(df: DataFrame, format: String, path: String): DataFrame = {
    require(supported.contains(format), s"unsupported format: $format")
    val w = df.write.mode("overwrite")
    (format match {
      case "csv" => w.option("header", "true")
      case other => w
    }).format(format).save(path)
    read(df.sparkSession, format, path, df.schema)
  }

  /** Schema-applied read of `path` in `format` (no inference pass). */
  def read(spark: SparkSession, format: String, path: String,
           schema: StructType): DataFrame = {
    val r = spark.read.schema(schema)
    (format match {
      case "csv" => r.option("header", "true")
      case other => r
    }).format(format).load(path)
  }

  /** Schema-evolution read: one logical table whose parquet files were
    * written under DIFFERENT schema versions (a long-lived table gains
    * columns over its lifetime). `mergeSchema` unions the file footers'
    * schemas — absent columns surface as NULL, so old files stay readable
    * forever and no backfill rewrite is needed. Spark's default skips the
    * merge (it reads ONE footer for speed, silently dropping late
    * columns from early-listed files); this entry point makes evolution
    * reads explicit and deliberate. Footer merging is driver-side and
    * O(files) — at very large file counts, pin the canonical schema via
    * [[read]] instead once it stops evolving. */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Line-oriented raw-text ingestion — the shape LLM corpus dumps arrive
    * in (one document or record per line, no schema). `wholetext = true`
    * reads each FILE as one row instead (document-per-file corpora).
    * Output: (value) plus the source path for lineage, mirroring the
    * SOURCE_FILE discipline of the CSV ingest. Splittable when
    * line-oriented and uncompressed, so 100 TB parallelizes by block;
    * whole-file mode is one task per file by construction. */
  def readText(spark: SparkSession, path: String,
               wholeText: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.input_file_name
    spark.read.option("wholetext", wholeText.toString).text(path)
      .withColumn("source_file", input_file_name())
  }

  /** Binary-payload ingestion for the multimodal pipeline: each matched
    * file becomes (path, modificationTime, length, content BINARY) — the
    * input shape [[graft.operators.Multimodal]] parses. `pathGlobFilter`
    * prunes at LISTING time (no read of non-matching files).
    *
    * `maxBytesPerFile` fails fast on a stray huge blob WITHOUT ever
    * materializing its bytes: the eager guard runs a length-only
    * projection (binaryFile supports column pruning, so the content
    * column — hence the file body — is never read) and names the first
    * offender. A file that lands AFTER this check still fails LOUDLY at
    * action time through an in-plan raise_error on the length metadata —
    * never a silent drop (that row's bytes do get materialized first,
    * the price of failing rather than skipping; the session-default
    * `binaryFile.maxLength` cap still bounds it). Deliberately NOT a
    * mutation of that session conf: DataFrames are lazy, so a conf set
    * here would apply whatever value the conf holds at ACTION time to
    * every interleaved read and leak into the rest of the session. One
    * row per file — parallelism is file-count-bounded, the right shape
    * for image/audio shards. */
  def readBinary(spark: SparkSession, path: String,
                 globFilter: String,
                 maxBytesPerFile: Long = 64L * 1024 * 1024): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, lit, raise_error, when}
    val base = spark.read.format("binaryFile")
      .option("pathGlobFilter", globFilter)
      .load(path)
    val oversize = base.select(col("path"), col("length"))
      .filter(col("length") > maxBytesPerFile)
      .head(1)
    if (oversize.nonEmpty)
      throw new IllegalArgumentException(
        s"readBinary: file exceeds $maxBytesPerFile bytes: " +
          oversize.head.getString(0))
    base.withColumn("content",
      when(col("length") <= maxBytesPerFile, col("content"))
        .otherwise(raise_error(concat(
          lit(s"readBinary: file exceeds $maxBytesPerFile bytes: "),
          col("path")))))
  }
}
