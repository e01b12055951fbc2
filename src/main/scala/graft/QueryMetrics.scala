package graft

import org.apache.spark.graft.ListenerFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What a block of Spark work cost, job by job and stage by stage: the
  * engine's one query-metrics listener. Bench's shuffle telemetry, the
  * test suites' job counts and `tools/profile.scala` all read it through
  * [[measure]].
  *
  * Scoping: a job belongs to the block when it starts between the two
  * listener-bus flushes around it, whatever thread or job group runs it,
  * so a streaming twin's micro-batch jobs, which run on the stream's own
  * thread under its own job group, count. A stage belongs to the block
  * when it completes between them; a skipped stage never completes, so it
  * is counted in its job's `stages` but has no [[Stage]] entry.
  *
  * Retries: a retried or speculatively re-run stage completes once per
  * attempt. A successful attempt always wins (the last one overwrites); a
  * failed attempt is kept only while no attempt of the stage has succeeded,
  * as a lower bound. Keeping attempt 0 instead would, when it fails
  * mid-stage, count its partial metrics and drop the retry that did the
  * real shuffle work. */
object QueryMetrics {

  /** One job. `stages` and `tasks` include skipped stages; `wallMs` is -1
    * when the job had not ended by the second flush. */
  final case class Job(id: Int, description: String, wallMs: Long,
                       stages: Int, tasks: Int)

  /** One stage's last successful attempt (see the retry rule above).
    * `wallMs` is -1 when Spark reported no submission or completion time. */
  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int,
                         shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                         shuffleReadBytes: Long)

  /** Jobs in start order, stages in first-completion order. */
  final case class Report(jobs: Seq[Job], stages: Seq[Stage]) {
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def shuffleWriteRecords: Long = stages.map(_.shuffleWriteRecords).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
  }

  /** Runs `body` and returns its result with what it cost. The listener is
    * removed even when `body` throws; the exception then reaches the
    * caller and the metrics are dropped. */
  def measure[T](spark: SparkSession)(body: => T): (T, Report) = {
    val sc = spark.sparkContext
    val listener = new Listener
    sc.addSparkListener(listener)
    try {
      ListenerFlush.flush(sc)
      listener.open = true
      val out = body
      ListenerFlush.flush(sc)
      (out, listener.report)
    } finally sc.removeSparkListener(listener)
  }

  /** Events arrive on the listener-bus thread; [[report]] is read on the
    * caller's thread after a flush. */
  private final class Listener extends SparkListener {
    @volatile var open = false
    private case class Started(desc: String, startMs: Long, stages: Int, tasks: Int)
    private val started = mutable.LinkedHashMap.empty[Int, Started]
    private val ended = mutable.Map.empty[Int, Long]
    private val stages = mutable.LinkedHashMap.empty[Int, (Boolean, Stage)]

    override def onJobStart(e: SparkListenerJobStart): Unit = if (open) synchronized {
      val props = Option(e.properties)
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse(e.stageInfos.headOption.map(_.name).getOrElse(""))
      started(e.jobId) = Started(desc, e.time, e.stageInfos.size, e.stageInfos.map(_.numTasks).sum)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (started.contains(e.jobId)) ended(e.jobId) = e.time
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (open) synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) {
        val ok = si.failureReason.isEmpty
        val wallMs = (for (end <- si.completionTime; start <- si.submissionTime)
          yield end - start).getOrElse(-1L)
        val stage = Stage(si.stageId, si.name, wallMs, si.numTasks,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead)
        if (ok || !stages.get(si.stageId).exists(_._1)) stages(si.stageId) = (ok, stage)
      }
    }

    def report: Report = synchronized {
      Report(
        started.toSeq.map { case (id, j) =>
          Job(id, j.desc, ended.get(id).fold(-1L)(_ - j.startMs), j.stages, j.tasks)
        },
        stages.values.map(_._2).toSeq)
    }
  }
}
