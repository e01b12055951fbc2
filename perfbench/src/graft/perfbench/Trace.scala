package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into the program: a name, its interval, and the span
  * that caused it. Spark jobs started inside it carry its id as their job
  * group, so the listener can charge jobs, stages and tasks to it. */
final case class Span(id: String, name: String, parent: Option[String],
                      startMs: Double, var endMs: Double = Double.NaN) {
  def durMs: Double = endMs - startMs
}

/** Counters of one Spark job, summed over the tasks of its stages. For a
  * retried stage every attempt's tasks are counted: that work was done. */
final class JobStats(val jobId: Int, val group: String, val startMs: Long) {
  var endMs: Long = startMs
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var shuffleWriteBytes = 0L
  var recordsRead = 0L
  var bytesRead = 0L
}

/** Listener that keeps per-job counters for jobs run under a span's job
  * group. Events arrive on Spark's listener thread; readers call
  * [[Tracer.flush]] first. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobStats]
  private val stageToJob = new ConcurrentHashMap[Int, Int]

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    val group = Option(ev.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(ev.jobId, new JobStats(ev.jobId, group, ev.time))
    ev.stageIds.foreach(s => stageToJob.put(s, ev.jobId))
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit =
    Option(jobs.get(ev.jobId)).foreach(_.endMs = ev.time)

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    val m = ev.taskMetrics
    Option(stageToJob.get(ev.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.recordsRead += m.inputMetrics.recordsRead
          j.bytesRead += m.inputMetrics.bytesRead
        }
      }
    }
  }
}

/** In-memory spans around the benchmark's calls into each module, with
  * Spark job attribution through job groups. Spans are written as JSON
  * when the run ends; the listener is attached only while traced work
  * runs. */
final class Tracer(sc: SparkContext) {
  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  val listener = new JobListener

  private def nowMs: Double = (System.nanoTime() - t0) / 1e6

  /** Runs `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val s = Span(s"s${spans.size}", name, stack.headOption.map(_.id), nowMs)
    spans += s
    stack = s :: stack
    sc.setJobGroup(s.id, name, interruptOnCancel = false)
    try {
      val out = body
      (out, s)
    } finally {
      s.endMs = nowMs
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def flush(): Unit = org.apache.spark.perfbench.Bus.flush(sc)

  /** Runs `body` with the listener attached; untraced work runs without it,
    * so its cost is part of the measured tracing overhead. */
  def attached[T](body: => T): T = {
    sc.addSparkListener(listener)
    try body
    finally {
      flush()
      sc.removeSparkListener(listener)
    }
  }

  /** Spans under `root`, root included. */
  def subtree(root: Span): Seq[Span] = {
    val ids = scala.collection.mutable.Set(root.id)
    spans.filter { s =>
      val in = s.id == root.id || s.parent.exists(ids.contains)
      if (in) ids += s.id
      in
    }.toSeq
  }

  /** Jobs started directly or indirectly under `root`. */
  def jobsUnder(root: Span): Seq[JobStats] = {
    val ids = subtree(root).map(_.id).toSet
    listener.jobs.values.asScala.filter(j => ids.contains(j.group)).toSeq
  }

  /** Jobs that started while `s` was open, whatever their job group:
    * also those a query runs on threads of its own, such as streaming
    * micro-batches, which set job groups of their own. */
  def jobsDuring(s: Span): Seq[JobStats] = {
    val offset = System.currentTimeMillis() - nowMs
    listener.jobs.values.asScala.filter { j =>
      val start = j.startMs - offset
      start >= s.startMs && start <= s.endMs
    }.toSeq
  }

  /** Duration minus the part of it covered by the span's children. */
  def selfMs(s: Span): Double =
    s.durMs - unionMs(spans.filter(_.parent.contains(s.id)).map(c => (c.startMs, c.endMs)).toSeq)

  /** Wall time of `s` not covered by any of its jobs: driver-side work
    * between and around jobs. Job times are listener wall-clock
    * milliseconds, mapped onto the span clock through one offset. */
  def driverGapMs(s: Span, jobs: Seq[JobStats]): Double = {
    val offset = System.currentTimeMillis() - nowMs
    val ivs = jobs.map(j => (j.startMs - offset, j.endMs - offset))
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }
    s.durMs - unionMs(ivs)
  }

  private def unionMs(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def toJson: Any = Map(
    "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent.orNull, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "self_ms" -> selfMs(s))).toSeq,
    "jobs" -> listener.jobs.values.asScala.toSeq.sortBy(_.jobId).map(j => Map(
      "id" -> j.jobId, "span" -> j.group, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "tasks" -> j.tasks, "cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs,
      "spill_bytes" -> j.spillBytes, "peak_exec_mem" -> j.peakExecMem,
      "shuffle_write_bytes" -> j.shuffleWriteBytes, "records_read" -> j.recordsRead,
      "bytes_read" -> j.bytesRead)))
}
