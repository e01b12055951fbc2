package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{Pipeline, SparkEntry}
import graft.ingest.Harmonizer
import graft.sink.Warehouse
import graft.validate.Validator
import graft.views.CountryViews

/** One view request of the plan: a whole-country scan or a one-customer
  * lookup in a country view. */
final case class Request(kind: String, country: String, customer: String)

/** The JVM side of the benchmark: sets up a session, runs one workload's
  * timed loop against the program's public API, and writes what it
  * observed (timings, output counts, trace counters) as JSON. Whether the
  * outputs are correct is judged by the caller against the generator's
  * manifest and the recorded surface results.
  *
  * Every workload runs the same shape. Set-up, once and cold: session
  * start, one `Pipeline.run` over the workload's input, one request of
  * each kind. Then the loop, of a fixed size: on `etl_*` a number of
  * `Pipeline.run`s followed by an analyst's lookups in the views of the
  * last load; on `views_read` the closed-loop request plan against the
  * warehouse the set-up wrote. Last, one pass over the query-surface
  * sample, one query per registry.
  */
object Main {

  /** One-customer lookups the analyst makes after the `etl_*` loop. */
  val AnalystLookups = 30

  /** Nominal step times on the reference machine. The loop's size is
    * fixed from `--seconds` through them, never from the clock, so every
    * run takes the same number of samples and reports the same
    * percentiles whatever the speed of the program. */
  val NominalLoadS = 3.0
  val NominalRequestMs = 200.0

  /** Untraced and traced `Pipeline.run` pairs a traced load makes to
    * measure the tracing overhead; the order within a pair alternates. */
  val OverheadPairs = 2

  /** A traced run asks each request twice, so it asks fewer of them; its
    * traced load, with loads of its own, replaces the `etl_*` loop. */
  val TracedRequests = 10

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val surface = opt("surface").split(",").toSeq
    val etl = workload.startsWith("etl_")
    val out = new Bench(opt("csv"), opt("tables"), opt("work"), opt("cpus").toInt,
      readRequests(opt("requests")))

    // Set-up, once and cold: session start, one load and one request of
    // each kind, so lazy initialisation is done and the views exist.
    val t0 = System.nanoTime()
    out.startSession()
    val setupLoad = out.load("setup")
    out.request(Request("scan", out.firstCountry(setupLoad), null))
    out.request(Request("lookup", out.firstCountry(setupLoad), "C0000000"))
    val setupS = (System.nanoTime() - t0) / 1e9
    // The set-up load gets the full output check (quarantine reasons, view
    // sizes); its warehouse serves `views_read`.
    val setupObs = out.checkLoad(setupLoad, full = true)

    val loads = ArrayBuffer.empty[Map[String, Any]]
    val reqs = ArrayBuffer.empty[Map[String, Any]]
    val tracer = if (traced) Some(new Tracer(out.spark.sparkContext)) else None
    var last = setupLoad.name
    def keep(ld: Load): Load = {
      out.deleteOutput(last)
      last = ld.name
      ld
    }

    if (etl) {
      val n = if (traced) 0 else math.max(2, math.ceil(seconds / NominalLoadS).toInt)
      for (i <- 0 until n) loads += out.checkLoad(keep(out.load(s"op$i")), full = false)
    }
    val layers = ArrayBuffer.empty[Map[String, Double]]
    val loadOverhead = ArrayBuffer.empty[(Double, Double)]
    val requestOverhead = ArrayBuffer.empty[(Double, Double)]
    tracer.foreach { t =>
      val tl = out.tracedLoad(t, "traced", last)
      layers += tl.layers
      loadOverhead ++= tl.pairs
      loads ++= tl.loads
      last = tl.last
    }

    // The loop's requests: on `etl_*` the analyst's lookups in the views of
    // the last load, on `views_read` the plan. Traced runs add one scan, so
    // the views layer always has a scan time, and ask each request twice,
    // untraced and traced, alternating which goes first.
    val plan =
      if (etl) out.nextLookups(AnalystLookups)
      else Seq.fill(math.max(1, math.ceil(seconds * 1000 / NominalRequestMs).toInt))(out.nextRequest())
    val asked =
      if (traced) plan.take(TracedRequests) :+ Request("scan", out.plannedCountry, null)
      else plan
    asked.zipWithIndex.foreach { case (r, i) =>
      if (traced) {
        val order = if (i % 2 == 0) Seq(None, tracer) else Seq(tracer, None)
        val Seq(x, y) = order.map(tr => out.timedRequest(r, tr))
        reqs += x; reqs += y
        val (a, b) = if (i % 2 == 0) (x, y) else (y, x)
        requestOverhead += ((a("ms").asInstanceOf[Double], b("ms").asInstanceOf[Double]))
      } else reqs += out.timedRequest(r, None)
    }

    val (surfaceS, queries, surfaceLayers) = out.surfacePass(surface, tracer)

    val heap = out.heapRetained()
    val result = Map(
      "setup_s" -> setupS,
      "setup_load" -> setupObs,
      "loads" -> loads.toSeq,
      "requests" -> reqs.toSeq,
      "surface_s" -> surfaceS,
      "surface" -> queries,
      "heap_retained_mb" -> (heap("heap_mb") + heap("blocks_mb")),
      "heap" -> heap,
      "layers" -> layers.toSeq,
      "surface_layers" -> surfaceLayers,
      "load_overhead" -> loadOverhead.map { case (a, b) => Seq(a, b) }.toSeq,
      "request_overhead" -> requestOverhead.map { case (a, b) => Seq(a, b) }.toSeq)
    Files.writeString(Paths.get(opt("work"), "observed.json"), Json.write(result))
    tracer.foreach(t => Files.writeString(Paths.get(opt("work"), "trace.json"), Json.write(t.toJson)))
    out.stopSession()
  }

  private def readRequests(path: String): IndexedSeq[Request] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path))
    tree.elements().asScala.map { n =>
      Request(n.get("kind").asText, n.get("country").asText,
        Option(n.get("customer")).map(_.asText).orNull)
    }.toIndexedSeq
  }
}

/** One timed `Pipeline.run`: its result, or the error it failed with. */
final case class Load(name: String, ms: Double, result: Option[Pipeline.Result],
                      error: Option[String])

/** Session and operations of one benchmark run. */
final class Bench(csvDir: String, tables: String, work: String, cpus: Int,
                  plan: IndexedSeq[Request]) {
  var spark: SparkSession = _
  private var planPos = 0

  def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  def stopSession(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def outDir(name: String) = s"$work/out/$name"

  def deleteOutput(name: String): Unit = deleteTree(new File(outDir(name)))

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** One `Pipeline.run`, timed. A failure is recorded, not thrown. */
  def load(name: String): Load = {
    val t0 = System.nanoTime()
    try {
      val r = Pipeline.run(spark, csvDir, outDir(name))
      Load(name, (System.nanoTime() - t0) / 1e6, Some(r), None)
    } catch {
      case e: Exception => Load(name, (System.nanoTime() - t0) / 1e6, None, Some(e.toString))
    }
  }

  def firstCountry(ld: Load): String =
    ld.result.flatMap(_.countries.headOption).getOrElse("")

  /** What a load produced: counts from its result and the warehouse's
    * parquet bytes; with `full`, also quarantine rows per reason class read
    * back from the quarantine CSV and the row count of every country view.
    * Untimed. */
  def checkLoad(ld: Load, full: Boolean): Map[String, Any] = {
    val base = Map[String, Any]("ms" -> ld.ms, "error" -> ld.error.orNull)
    val obs: Map[String, Any] = ld.result match {
      case None => Map.empty
      case Some(r) if full =>
        val byReason = r.quarantinePath.map { p =>
          val msg = col("Validation_Error")
          spark.read.option("header", "true").csv(p)
            .select(when(msg.startsWith("Unable to parse date"), lit("Unable to parse date"))
              .otherwise(substring_index(msg, ":", 1)).as("reason"))
            .groupBy("reason").count().collect()
            .map(row => row.getString(0) -> row.getLong(1)).toMap
        }.getOrElse(Map.empty)
        // Row count of every country view in one query; the branches
        // share the ranked warehouse, so the shuffle is planned once.
        val viewRows = r.views.map(v => spark.table(v).select(lit(v).as("view")))
          .reduceOption(_ union _)
          .map(_.groupBy("view").count().collect()
            .map(row => row.getString(0).stripPrefix("VIEW_") -> row.getLong(1)).toMap)
          .getOrElse(Map.empty)
        counts(ld, r) ++ Map("view_rows" -> viewRows, "quarantine_by_reason" -> byReason)
      case Some(r) => counts(ld, r)
    }
    base ++ obs
  }

  private def counts(ld: Load, r: Pipeline.Result): Map[String, Any] = Map(
    "valid" -> r.validCount,
    "quarantined" -> r.quarantineCount,
    "countries" -> r.countries,
    "views" -> r.views,
    "warehouse_bytes" -> parquetBytes(new File(s"${outDir(ld.name)}/warehouse")))

  private def parquetFiles(f: File): Seq[File] =
    Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { c =>
      if (c.isDirectory) parquetFiles(c)
      else if (c.getName.endsWith(".parquet")) Seq(c) else Nil
    }

  private def parquetBytes(dir: File): Long = parquetFiles(dir).map(_.length).sum

  /** One view request as an analyst issues it: all rows of a country view,
    * or one customer's row in it. Returns the rows received. */
  def request(r: Request): Long = {
    val view = spark.table(CountryViews.viewName(r.country))
    val df = if (r.kind == "scan") view else view.filter(col("CUST_I") === r.customer)
    df.collect().length.toLong
  }

  def nextRequest(): Request = {
    val r = plan(planPos % plan.size)
    planPos += 1
    r
  }

  /** A country of the plan, for requests outside it. */
  def plannedCountry: String = plan.head.country

  def nextLookups(n: Int): Seq[Request] =
    Iterator.continually(nextRequest()).filter(_.kind == "lookup").take(n).toSeq

  def timedRequest(r: Request, tracer: Option[Tracer]): Map[String, Any] = {
    val t0 = System.nanoTime()
    var counters = Map.empty[String, Any]
    val (rows, err) =
      try {
        val n = tracer match {
          case Some(t) => t.attached {
            val (n, s) = t.span(s"views.${r.kind}")(request(r))
            t.flush()
            val jobs = t.jobsUnder(s)
            counters = Map("records_read" -> jobs.map(_.recordsRead).sum,
              "shuffle_write_bytes" -> jobs.map(_.shuffleWriteBytes).sum)
            n
          }
          case None => request(r)
        }
        (n, null)
      } catch { case e: Exception => (-1L, e.toString) }
    Map("kind" -> r.kind, "country" -> r.country, "customer" -> r.customer,
      "ms" -> (System.nanoTime() - t0) / 1e6, "rows" -> rows, "error" -> err,
      "traced" -> tracer.isDefined) ++ counters
  }

  /** Per-layer readings of one traced load, the output observations of
    * its `Pipeline.run`s, the (untraced, traced) time pairs of the tracing
    * overhead, and the run whose output is kept. First the public calls
    * `Pipeline.run` makes are repeated one span each, and two isolation
    * probes consume the harmonized frame and the annotated frame to
    * `noop`, so the scan and the date parse, fused into other stages in the
    * real run, get times of their own. Then the real `Pipeline.run` runs in
    * untraced and traced pairs, alternating which goes first so the
    * load-to-load warm-up drift cancels; the first traced run gives the
    * pipeline counters. Every run's output but the latest is deleted. */
  def tracedLoad(t: Tracer, name: String, previous: String): TracedLoad = {
    val layers = t.attached(tracedSteps(t, name))
    val loads = ArrayBuffer.empty[Map[String, Any]]
    var last = previous
    var runSpan: Option[(Load, Span)] = None
    def done(ld: Load): Load = {
      loads += checkLoad(ld, full = false)
      deleteOutput(last)
      last = ld.name
      ld
    }
    def untraced(i: Int) = done(load(s"$name-u$i"))
    def traced(i: Int) = done(t.attached {
      val (ld, s) = t.span("pipeline.run")(load(s"$name-t$i"))
      t.flush()
      if (runSpan.isEmpty) runSpan = Some((ld, s))
      ld
    })
    val pairs = (0 until Main.OverheadPairs).map { i =>
      if (i % 2 == 0) { val u = untraced(i); (u.ms, traced(i).ms) }
      else { val tr = traced(i); (untraced(i).ms, tr.ms) }
    }
    val (run, span) = runSpan.get
    val runJobs = t.jobsUnder(span)
    val result = run.result.getOrElse(throw new IllegalStateException(s"traced load failed: ${run.error}"))
    val counters = Map(
      "validate.rows_valid" -> result.validCount.toDouble,
      "validate.rows_quarantined" -> result.quarantineCount.toDouble,
      "pipeline.run_ms" -> span.durMs,
      "pipeline.jobs" -> runJobs.size.toDouble,
      "pipeline.tasks" -> runJobs.map(_.tasks).sum.toDouble,
      "pipeline.driver_gap_s" -> t.driverGapMs(span, runJobs) / 1e3,
      "pipeline.executor_cpu_s" -> runJobs.map(_.cpuNs).sum / 1e9,
      "pipeline.gc_s" -> runJobs.map(_.gcMs).sum / 1e3,
      "pipeline.spill_mb" -> runJobs.map(_.spillBytes).sum / 1e6,
      "pipeline.peak_exec_mem_mb" ->
        runJobs.map(_.peakExecMem).foldLeft(0L)(math.max) / 1e6,
      // Share of the run spent on row work: the scan and the date parse
      // from the isolation probes, and the warehouse write.
      "pipeline.row_work_share" -> (layers("ingest.scan_s") + layers("validate.parse_s") +
        layers("sink.write_s")) * 1e3 / span.durMs)
    TracedLoad(layers ++ counters, loads.toSeq, pairs, last)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def tracedSteps(t: Tracer, name: String): Map[String, Double] = {
    val stepsDir = outDir(s"$name-steps")
    val (steps, _) = t.span("pipeline.steps") {
      val (groups, layoutProbe) = t.span("ingest.layout_probe")(Harmonizer.groupByLayout(spark, csvDir))
      val (raw, plan) = t.span("ingest.plan")(Harmonizer.loadGrouped(spark, groups))
      val validated = Validator.validate(raw)
      val annotated = validated.annotated.persist(StorageLevel.MEMORY_AND_DISK)
      val (_, quarantine) = t.span("validate.quarantine_write") {
        Validator.saveInvalidRecords(validated.quarantine, s"$stepsDir/invalid_records")
        validated.quarantine.count()
      }
      val (_, write) = t.span("sink.write") {
        Warehouse.write(Warehouse.toWarehouse(validated.validRecords), s"$stepsDir/warehouse",
          mode = "overwrite")
      }
      val (countries, countriesSpan) = t.span("views.countries") {
        CountryViews.distinctCountries(spark.read.parquet(s"$stepsDir/warehouse"))
      }
      val (_, register) = t.span("views.register") {
        val wh = spark.read.parquet(s"$stepsDir/warehouse")
        CountryViews.registerCountryViews(spark, wh, countries)
      }
      annotated.unpersist()
      (groups, layoutProbe, plan, quarantine, write, countriesSpan, register)
    }
    // Each probe runs twice, interleaved, and the faster run counts, so
    // neither absorbs the other's first-run costs.
    val (df, _) = t.span("probe.load")(Harmonizer.loadSourceData(spark, csvDir))
    val probes = Seq.fill(2) {
      (t.span("probe.scan")(noop(df))._2,
        t.span("probe.parse")(noop(Validator.validate(df).annotated))._2)
    }
    val scanConsume = probes.map(_._1).minBy(_.durMs)
    val parse = probes.map(_._2).minBy(_.durMs)
    t.flush()

    val (groups, layoutProbe, plan, quarantine, write, countriesSpan, register) = steps
    def jobs(s: Span) = t.jobsUnder(s)
    val whFiles = parquetFiles(new File(s"$stepsDir/warehouse"))
    val whBytes = whFiles.map(_.length).sum
    deleteOutput(s"$name-steps")
    Map(
      "ingest.layout_probe_s" -> layoutProbe.durMs / 1e3,
      "ingest.plan_s" -> plan.durMs / 1e3,
      "ingest.scan_s" -> scanConsume.durMs / 1e3,
      "ingest.files" -> groups.values.map(_.size).sum.toDouble,
      "ingest.layouts" -> groups.size.toDouble,
      "ingest.jobs" -> (jobs(layoutProbe) ++ jobs(plan)).size.toDouble,
      "ingest.input_mb" -> jobs(scanConsume).map(_.bytesRead).sum / 1e6,
      "validate.parse_s" -> (parse.durMs - scanConsume.durMs) / 1e3,
      "validate.quarantine_write_s" -> quarantine.durMs / 1e3,
      "sink.write_s" -> write.durMs / 1e3,
      "sink.files_written" -> whFiles.size.toDouble,
      "sink.bytes_written_mb" -> whBytes / 1e6,
      "sink.tasks" -> jobs(write).map(_.tasks).sum.toDouble,
      "views.countries_s" -> countriesSpan.durMs / 1e3,
      "views.register_s" -> register.durMs / 1e3)
  }

  /** One pass over the query-surface sample: each query is built against
    * the surface tables and its rows are collected, the way an analyst
    * receives them. Returns the pass time in seconds; per query its
    * registry, time, row count and an order-insensitive hash of its rows
    * (hashed after the pass, untimed); and with a tracer the surface
    * layer's metrics. Temporary views a query leaves are dropped after its
    * clock stops. */
  def surfacePass(names: Seq[String], tracer: Option[Tracer])
      : (Double, Seq[Map[String, Any]], Map[String, Double]) = {
    val registryOf = names.map { q =>
      q -> SparkEntry.registries.find(_.queries.contains(q))
        .map(_.getClass.getSimpleName.stripSuffix("$")).getOrElse("none")
    }.toMap
    def tempViews() = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    def run(q: String): (Array[Row], Double, String) = {
      val before = tempViews()
      val q0 = System.nanoTime()
      val (rows, err) =
        try (SparkEntry.queries(q)(spark, tables).collect(), null)
        catch { case e: Exception => (null, e.toString) }
      val ms = (System.nanoTime() - q0) / 1e6
      (tempViews() -- before).foreach(spark.catalog.dropTempView)
      (rows, ms, err)
    }
    def pass(t: Option[Tracer]) = names.map { q =>
      t match {
        case Some(tr) =>
          val (r, s) = tr.span(s"surface.${registryOf(q)}")(run(q))
          (r, Some(s))
        case None => (run(q), None)
      }
    }
    val t0 = System.nanoTime()
    val (results, layers) = tracer match {
      case Some(t) => t.attached {
        val (rs, passSpan) = t.span("surface.pass")(pass(tracer))
        t.flush()
        val jobs = t.jobsDuring(passSpan)
        val perRegistry = rs.zip(names).map { case ((_, s), q) =>
          s"surface.${registryOf(q)}_s" -> s.get.durMs / 1e3
        }
        (rs.map(_._1), (perRegistry ++ Seq(
          "surface.jobs" -> jobs.size.toDouble,
          "surface.shuffle_write_mb" -> jobs.map(_.shuffleWriteBytes).sum / 1e6,
          "surface.driver_gap_s" -> t.driverGapMs(passSpan, jobs) / 1e3)).toMap)
      }
      case None => (pass(None).map(_._1), Map.empty[String, Double])
    }
    val passS = (System.nanoTime() - t0) / 1e9
    val obs = names.zip(results).map { case (q, (rows, ms, err)) =>
      Map[String, Any]("query" -> q, "registry" -> registryOf(q), "ms" -> ms, "error" -> err,
        "rows" -> Option(rows).map(_.length.toLong).getOrElse(-1L),
        "hash" -> Option(rows).map(r => f"${RowHash.of(r)}%016x").orNull)
    }
    (passS, obs, layers)
  }

  /** Heap still used after a full collection, plus storage memory the
    * block manager still holds, in MB. Blocks of dropped results (local
    * checkpoints, broadcasts) are released by Spark's context cleaner only
    * after a collection has found them unreferenced, so the reading is
    * repeated until it settles. */
  def heapRetained(): Map[String, Double] = {
    def read() = {
      System.gc()
      Thread.sleep(200)
      val rt = Runtime.getRuntime
      val blocks = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, remaining) => max - remaining }.sum
      ((rt.totalMemory() - rt.freeMemory()) / 1e6, blocks / 1e6)
    }
    var prev = read()
    var cur = read()
    var n = 2
    while (n < 8 && math.abs(cur._1 + cur._2 - prev._1 - prev._2) > 0.01 * (cur._1 + cur._2)) {
      prev = cur
      cur = read()
      n += 1
    }
    Map("heap_mb" -> cur._1, "blocks_mb" -> cur._2, "readings" -> n.toDouble)
  }

}

/** Readings of one traced load; see [[Bench.tracedLoad]]. */
final case class TracedLoad(layers: Map[String, Double], loads: Seq[Map[String, Any]],
                            pairs: Seq[(Double, Double)], last: String)

/** Order-insensitive 64-bit hash of a query result: the wrapping sum of a
  * hash of each row's canonical text. Floating-point values are written
  * with six significant digits, so a different summation order across
  * partitions does not change the hash; map entries are sorted. */
object RowHash {
  import scala.util.hashing.MurmurHash3

  def of(rows: Array[Row]): Long = rows.foldLeft(0L) { (acc, r) =>
    val s = canon(r)
    acc + ((MurmurHash3.stringHash(s, 17).toLong << 32) | (MurmurHash3.stringHash(s, 71) & 0xffffffffL))
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d == 0.0) "0" else if (d.isNaN || d.isInfinite) d.toString
      else String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
