package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The group-complete-file contract of
  * [[StreamingIngest.runStreamGroupedBounded]] is CHECKED, not assumed:
  * a source whose group spans two files produces different partial
  * aggregates under one key, and the runner must fail loudly instead of
  * letting the replay-dedup keep an arbitrary partial. */
class GroupedRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def groupSum: DataFrame => DataFrame = batch =>
    batch.groupBy("g").agg(sum($"v").as("total"))

  private def tmp(tag: String): String = s"${tempDir(s"graft_grptest_$tag")}/src"

  test("range-partitioned source: per-batch aggregates union exactly") {
    val src = tmp("ok")
    Seq((1L, 10L), (1L, 5L), (2L, 7L), (3L, 1L), (3L, 2L))
      .toDF("g", "v")
      .repartitionByRange(2, $"g")
      .write.mode("overwrite").parquet(src)
    val got = StreamingIngest.runStreamGroupedBounded(spark, src,
        groupSum, Seq("g"), maxFilesPerTrigger = 1)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 15L), (2L, 7L), (3L, 3L)))
  }

  test("group spanning two files fails LOUDLY, never an arbitrary partial") {
    val src = tmp("bad")
    // two single-row files, same group: each micro-batch emits a
    // different partial total for g=1
    Seq((1L, 10L)).toDF("g", "v").write.mode("overwrite").parquet(src)
    Seq((1L, 32L)).toDF("g", "v").write.mode("append").parquet(src)
    val ex = intercept[IllegalArgumentException] {
      StreamingIngest.runStreamGroupedBounded(spark, src, groupSum,
        Seq("g"), maxFilesPerTrigger = 1).collect()
    }
    assert(ex.getMessage.contains("group-complete"),
      s"wrong failure: ${ex.getMessage}")
  }

  test("interleaved-pack stage 1 on a split document fails loudly") {
    // the q_stream_interleaved_pack shape: per-batch item collection
    // under the doc-complete contract — a document whose items span two
    // files would yield two partial item arrays under one doc_id, and
    // the runner must refuse rather than pack either partial
    val src = tmp("ilp")
    Seq((1L, 0L, "text", "alpha beta"), (1L, 1L, "image", ""))
      .toDF("doc_id", "pos", "kind", "text")
      .write.mode("overwrite").parquet(src)
    Seq((1L, 2L, "text", "gamma"))
      .toDF("doc_id", "pos", "kind", "text")
      .write.mode("append").parquet(src)
    val ex = intercept[IllegalArgumentException] {
      StreamingIngest.runStreamGroupedBounded(spark, src,
        batch => graft.operators.Packing.collectInterleavedDocs(
          batch.withColumn("__c",
            graft.operators.Packing.interleavedCost("kind", "text", 64L)),
          "doc_id", "pos", "kind", "__c"),
        Seq("doc_id"), maxFilesPerTrigger = 1).collect()
    }
    assert(ex.getMessage.contains("group-complete"),
      s"wrong failure: ${ex.getMessage}")
  }

  test("IDENTICAL partial aggregates across two files still fail loudly") {
    val src = tmp("twin")
    // the same (g, v) row in two files: each micro-batch emits the
    // byte-identical partial (1, 5) — indistinguishable from a replay
    // under a distinct-rows signature, but the batch-id check knows the
    // key was aggregated in two micro-batches and the true total is 10
    Seq((1L, 5L)).toDF("g", "v").write.mode("overwrite").parquet(src)
    Seq((1L, 5L)).toDF("g", "v").write.mode("append").parquet(src)
    val ex = intercept[IllegalArgumentException] {
      StreamingIngest.runStreamGroupedBounded(spark, src, groupSum,
        Seq("g"), maxFilesPerTrigger = 1).collect()
    }
    assert(ex.getMessage.contains("group-complete"),
      s"wrong failure: ${ex.getMessage}")
  }
}
