package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** JSONL import/export — the lingua franca at both ends of a training-data
  * pipeline: upstream dumps (crawlers, annotation vendors) arrive as
  * .jsonl with real-world dirt (truncated lines, schema drift), and the
  * curated corpus ships to the trainer as JSONL shards. Beyond-reference
  * extension, completing the source/sink format family (CSV, parquet,
  * WARC, JSONL).
  *
  * Scale shape: export is the text sink behind one hash repartition on
  * the shard key (each shard lands wholly in one task ⇒ exactly one file
  * per shard dir, rows in sorted order); import is Spark's JSON source
  * with PERMISSIVE corrupt-record capture — schema-projected, splittable,
  * embarrassingly parallel.
  */
object Jsonl {

  /** Write `df` as deterministic JSONL shards: `value` = to_json of the
    * given columns (field order = argument order), shard =
    * `shardKey % nShards` as a partition directory, one file per shard
    * (the repartition pins each shard to one task), lines ordered by
    * `sortCol` within the shard. */
  def writeShards(df: DataFrame, outDir: String, jsonCols: Seq[Column],
                  shardKey: Column, sortCol: Column, nShards: Int): Unit = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    df.withColumn("shard", pmod(shardKey, lit(nShards.toLong)))
      .withColumn("value", to_json(struct(jsonCols: _*)))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), sortCol)
      .select(col("value"), col("shard"))
      .write.partitionBy("shard").mode("overwrite").text(outDir)
  }

  /** Read JSONL shards back: (shard, value) — partition discovery
    * recovers the shard column from the directory layout. */
  def readShards(spark: SparkSession, dir: String): DataFrame =
    spark.read.text(dir).select(col("shard").cast("long").as("shard"),
      col("value"))

  /** Read a dirty JSONL dump under an expected schema: PERMISSIVE mode,
    * malformed lines survive as NULL fields plus the raw line in
    * `_corrupt_record` — the crawl-ops contract (never drop silently,
    * never fail the job on one truncated line; quarantine downstream
    * like the reference's invalid-records sink). */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
}
