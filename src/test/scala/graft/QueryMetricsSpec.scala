package graft

import graft.streaming.StreamingIngest
import org.apache.spark.graft.BusListeners
import org.apache.spark.sql.functions.{lit, raise_error}

/** [[QueryMetrics.measure]]: the shuffle, job and stage counts of a known
  * plan, the listener's removal when the body throws, and the scoping
  * rule that counts a streaming twin's micro-batch jobs. */
class QueryMetricsSpec extends SparkSpec {

  test("a repartitioned count: 1,000 rows through the repartition's shuffle, one job per map stage") {
    val (n, report) = QueryMetrics.measure(spark)(spark.range(1000).repartition(4).count())
    assert(n == 1000)
    // adaptive execution runs each shuffle map stage as a job of its own;
    // each later job lists the earlier stages as skipped
    assert(report.jobs.map(_.stages) == Seq(1, 2, 3))
    // the repartition writes every row, the partial count one row per partition
    assert(report.stages.map(_.shuffleWriteRecords) == Seq(1000, 4, 0))
    assert(report.shuffleReadBytes == report.shuffleWriteBytes)
    assert(report.jobs.forall(_.wallMs >= 0) && report.stages.forall(_.wallMs >= 0))
  }

  test("a body that throws: the exception reaches the caller, no listener is left behind") {
    val sc = spark.sparkContext
    val before = BusListeners.count(sc)
    val err = intercept[Exception](QueryMetrics.measure(spark)(
      spark.range(1).select(raise_error(lit("boom in body"))).collect()))
    assert(err.getMessage.contains("boom in body"), err.getMessage)
    assert(BusListeners.count(sc) == before)
  }

  test("a streaming twin's micro-batch jobs count, though they run on the stream's thread") {
    val src = s"${tempDir("graft-metrics")}/events"
    val events = spark.read.parquet(s"${testDataDir()}/events.parquet")
    events.repartition(3).write.parquet(src)
    val (rows, report) = QueryMetrics.measure(spark) {
      StreamingIngest.runStreamRowMapBounded(spark, src, identity, Seq("event_id"),
        maxFilesPerTrigger = 1).count()
    }
    assert(rows == events.count())
    // one file per micro-batch; each batch's jobs carry the stream's batch description
    val batch = """batch = (\d+)""".r
    val batches = report.jobs.flatMap(j => batch.findFirstMatchIn(j.description)).map(_.group(1).toInt)
    assert(batches.distinct == Seq(0, 1, 2), report.jobs.map(_.description))
  }
}
