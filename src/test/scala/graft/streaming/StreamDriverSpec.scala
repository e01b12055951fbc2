package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The bounded-stream drivers behind every `StreamingIngest.run*` twin
  * under failure: the error reaches the caller, no query is left running,
  * and the session's shuffle-partition setting is restored. Plus the
  * `maxFilesPerTrigger <= 0` rule on a runner that once set the option
  * unconditionally. */
class StreamDriverSpec extends SparkSpec {

  private val key = "spark.sql.shuffle.partitions"

  /** A 3-file copy of the `sf` events table in a temporary directory,
    * deleted after `f`. */
  private def withEvents[T](sf: String)(f: String => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-driver").toString
    try {
      val src = s"$tmp/events"
      spark.read.parquet(s"${testDataDir(sf)}/events.parquet")
        .repartition(3).write.parquet(src)
      f(src)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** Run `body`, which must fail with a stream error whose cause chain
    * names `marker`; then check that no query runs and the shuffle
    * partitions are back at their previous value. */
  private def failsCleanly(marker: String)(body: => Any): Unit = {
    val prev = spark.conf.get(key)
    val err = intercept[StreamingQueryException](body)
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains(marker)),
      s"the failure did not reach the caller: $err")
    assert(spark.streams.active.isEmpty,
      s"left running: ${spark.streams.active.map(_.name).mkString(", ")}")
    assert(spark.conf.get(key) == prev)
  }

  test("a failing per-batch body reaches the caller and stops its query") {
    withEvents("0.001") { src =>
      failsCleanly("boom in build") {
        StreamingIngest.runStreamRowMapBounded(spark, src,
          (_: org.apache.spark.sql.DataFrame) =>
            throw new IllegalStateException("boom in build"),
          keyCols = Seq("event_id"))
      }
    }
  }

  test("a failing memory-sink query reaches the caller and restores the session") {
    withEvents("0.001") { src =>
      failsCleanly("boom in query") {
        StreamingIngest.runStreamAucBounded(spark, src,
          raise_error(lit("boom in query")), col("value"),
          col("event_type") === "purchase")
      }
    }
  }

  test("rate anomalies: maxFilesPerTrigger 0 (no cap) and 1 give the same rows") {
    // sf0.01: the smallest fixture with real anomalies
    withEvents("0.01") { src =>
      def run(maxFiles: Int) = StreamingIngest
        .runStreamRateAnomaliesBounded(spark, src, "event_type",
          bucketMicros = 3600L * 1000 * 1000, window = 24, k = 3,
          maxFilesPerTrigger = maxFiles)
        .collect().map(_.toSeq).toSet
      val uncapped = run(0)
      assert(uncapped.nonEmpty)
      assert(uncapped == run(1))
    }
  }
}
