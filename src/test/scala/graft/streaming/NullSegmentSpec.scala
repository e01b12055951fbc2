package graft.streaming

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** NULL-segment hardening for the WHOLE streaming-gate family (round-10
  * advice generalized): the q_stream_bloom fix patched ONE instance of a
  * plain-equality stream-vs-batch join missing NULL-keyed rows; this
  * suite PROVES the property for every `q_stream_*_verify` gate by
  * running each one over a fixture whose segment/key/value columns carry
  * injected NULLs — a gate that compares its stream against its batch
  * twin with null-unsafe keys (or whose two sides disagree on how NULL
  * keys group) produces violation rows here and fails.
  *
  * Event TIMES stay non-null by contract: watermark semantics need an
  * event time, so null-ts handling is an ingest-validation concern (the
  * reference's quarantine path), not a streaming-gate one. */
class NullSegmentSpec extends SparkSpec {

  /** sf0.001 tables with NULLs injected into every column a streaming
    * gate groups, joins, distincts, or aggregates on. Deterministic
    * (modulus rules on ids), written once per suite run. */
  private lazy val fixtureDir: String = {
    val dir = tempDir("graft_nullfix")
    val src = testDataDir("0.001")
    spark.read.parquet(s"$src/events.parquet")
      .withColumn("event_type",
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("event_type")))
      .withColumn("user_id",
        when(col("event_id") % 11 === 0, lit(null)).otherwise(col("user_id")))
      .withColumn("value",
        when(col("event_id") % 13 === 0, lit(null)).otherwise(col("value")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.read.parquet(s"$src/documents.parquet")
      .withColumn("lang",
        when(col("doc_id") % 9 === 0, lit(null)).otherwise(col("lang")))
      .withColumn("text",
        when(col("doc_id") % 47 === 0, lit(null)).otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // embeddings pass through: vectors carry no segment concept, and the
    // ANN gate's null-robustness lever is the query/corpus id filter
    spark.read.parquet(s"$src/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private val gates = Seq(
    "q_stream_hotkeys_verify", "q_stream_hll_verify", "q_stream_cms_verify",
    "q_stream_kmv_verify", "q_stream_bloom_verify", "q_stream_quantile_verify",
    "q_stream_curate_fuzzy_verify", "q_stream_ann_verify")

  test("the gate list matches the harness (a new stream gate must join this spec)") {
    val harness = SparkEntry.queries.keySet
      .filter(n => n.startsWith("q_stream") && n.endsWith("_verify"))
    assert(harness === gates.toSet,
      s"unlisted stream gates: ${harness -- gates.toSet}; " +
        s"stale entries: ${gates.toSet -- harness}")
  }

  for (gate <- gates)
    test(s"$gate stays empty over the NULL-segment fixture") {
      val out = SparkEntry.queries(gate)(spark, fixtureDir)
      val rows = out.limit(20).collect()
      assert(rows.isEmpty,
        s"$gate reported violations under NULL segments:\n" +
          rows.mkString("\n"))
    }
}
