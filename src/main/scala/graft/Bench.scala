package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Consume one query through a `noop`-format write (NOT `.count()`: under
    * a count, Catalyst's EliminateSorts removes each query's final orderBy,
    * so a count-based bench under-measures sort-heavy queries; the noop sink
    * consumes every row of the full plan and writes nothing). */
  private def consume(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Post-query hygiene so query N's leftovers don't tax query N+1:
    * memory-sink temp views from the streaming queries are dropped every
    * time, and a periodic GC nudge lets the ContextCleaner reclaim
    * now-unreferenced localCheckpoint blocks (weak-ref cleaned, so they
    * linger until a GC runs — that lingering is what inflated later
    * queries under the old small heap). Periodic, not per-query: a full
    * GC on a large heap costs real wall-clock, and with headroom the
    * blocks only need to be released often enough to never accumulate
    * across tens of queries. */
  private var sinceGc = 0
  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.listTables().collect()
      .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
    sinceGc += 1
    if (sinceGc >= 8) { sinceGc = 0; System.gc() }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session (codegen compiler, parquet reader, shuffle machinery)
    // so the first timed query doesn't absorb one-time JVM startup cost.
    try spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().count()
    catch { case _: Throwable => }
    // Steady-state timing: each query is measured `runs` times and reports
    // its MINIMUM — the standard steady-state methodology. The minimum is
    // the real cost of the plan; the gap between passes is JIT/page-cache
    // warmup plus whatever else shares this box (the driver harness runs
    // concurrently; single-shot totals here swing up to 5x under its load).
    // optional local-iteration filter: comma-separated name substrings
    // (the driver never sets it = run everything, same as Verify's arg 3)
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(pats) =>
        val ps = pats.split(",")
        SparkEntry.queries.keys.toSeq.sorted.filter(n => ps.exists(n.contains))
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    val best = scala.collection.mutable.Map.empty[String, Double]
    val worst = scala.collection.mutable.Map.empty[String, Double]
    val failedTime = scala.collection.mutable.Map.empty[String, Double]
    // shuffle telemetry (graft.QueryMetrics): the shuffle write bytes,
    // write records and read bytes of the run that set the query's min
    // time. Every groupBy/join/repartition pays here, so a plan that barely
    // moves sf0.1 wall-clock but would drown a 100 TB run in exchange
    // volume shows up as a shuffle-bytes jump in the BENCH json.
    val shuffle = scala.collection.mutable.Map.empty[String, QueryMetrics.Report]
    for (_ <- 1 to runs; name <- names) {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      // a failed run must NOT feed the min — a fast failure would silently
      // replace a successful run's real time; it is tracked separately and
      // only reported when the query never succeeds
      try {
        val (dt, cost) = QueryMetrics.measure(spark) {
          val t = System.nanoTime()
          consume(fn(spark, sfDir))
          (System.nanoTime() - t) / 1e9
        }
        if (dt < best.getOrElse(name, Double.MaxValue)) {
          best(name) = dt
          shuffle(name) = cost
        }
        worst(name) = math.max(worst.getOrElse(name, 0.0), dt)
      } catch {
        case e: Throwable =>
          failedTime(name) = (System.nanoTime() - t0) / 1e9
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      cleanup(spark)
    }
    def timeOf(k: String): Double =
      best.getOrElse(k, failedTime.getOrElse(k, 0.0))
    // 3-decimal rounding (Locale.ROOT: no grouping separators) and a
    // deliberate ORDER, twice over: the harness that collects this line
    // keeps only the last ~2000 characters of output, so (a) everything
    // that must survive — the per-query min map, the total, the agg
    // contract — goes LAST with the spread map in front where truncation
    // costs least, and (b) the min map itself is sorted by DESCENDING
    // time, so when it still overflows the window the cut falls on
    // sub-half-second trivia — and any query that regresses becomes
    // expensive and thereby enters the visible window automatically.
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val byCost = names.sortBy(k => (-timeOf(k), k))
    val qs = byCost.map(k => s"\"" + k + "\":" + fmt(timeOf(k))).mkString("{", ",", "}")
    val qsMax = byCost.map(k =>
      s"\"" + k + "\":" + fmt(worst.getOrElse(k, timeOf(k)))).mkString("{", ",", "}")
    // shuffle telemetry: top queries by shuffle-WRITE bytes, in MB —
    // placed FIRST on the line (the harness keeps the tail, so the
    // timing contract survives truncation; full tallies live in the
    // quiet-stamp BASELINE.md table)
    val topShuffle = shuffle.toSeq.sortBy { case (k, c) => (-c.shuffleWriteBytes, k) }
      .take(20)
    val shJson = topShuffle.map { case (k, c) =>
      s"\"" + k + "\":{\"write_mb\":" + fmt(c.shuffleWriteBytes / 1e6) +
        ",\"write_rows\":" + c.shuffleWriteRecords + ",\"read_mb\":" + fmt(c.shuffleReadBytes / 1e6) + "}"
    }.mkString("{", ",", "}")
    val total = names.map(timeOf).sum
    val neverSucceeded = names.filterNot(best.contains)
    val failedJson =
      if (neverSucceeded.isEmpty) ""
      else neverSucceeded.map("\"" + _ + "\"")
        .mkString(""","failed":[""", ",", "]")
    val fullLine = s"""{"metric":"total","unit":"sec","sf":"$sfDir","runs":$runs,"shuffle_top":$shJson,"queries_max":$qsMax$failedJson,"queries":$qs,"value":${fmt(total)},"agg":"min"}"""
    // The harness keeps only the last ~2000 characters of output and
    // JSON-parses what it finds there; the full per-query line (288
    // queries ≈ 7 KB) can never fit, and even a truncated fragment of it
    // in the window could confuse the parse — so the full map goes ONLY
    // to a stamp file, and stdout carries one COMPACT contract line:
    // headline total plus the top-40 slowest queries, sized to fit the
    // tail window whole.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      "tools/stamps/bench_full_latest.json")
    try {
      val p = java.nio.file.Paths.get(fullPath)
      Option(p.getParent)
        .foreach(d => { java.nio.file.Files.createDirectories(d); () })
      java.nio.file.Files.write(p,
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] full-json write failed: ${e.getMessage}")
    }
    val topQs = byCost.take(40)
      .map(k => "\"" + k + "\":" + fmt(timeOf(k))).mkString("{", ",", "}")
    val filtered = sys.env.contains("SPARK_GRAFT_BENCH_ONLY")
    // an honest note: a FILTERED local-iteration run is a spot stamp of
    // exactly n_queries queries, not "the top-40 of the surface"
    val note =
      if (filtered) s"FILTERED run (${names.length} queries); full map in $fullPath"
      else s"top-40 by min time; full map in $fullPath"
    val compactLine = s"""{"metric":"total","unit":"sec","sf":"$sfDir","runs":$runs,"n_queries":${names.length},"queries_note":"$note","queries":$topQs$failedJson,"value":${fmt(total)},"agg":"min"}"""
    // Second landing spot for the contract line (belt to the stdout
    // braces): the driver-facing compact JSON also goes to a fixed stamp
    // path so the structured map survives even if some future harness
    // truncates or re-prefixes stdout again. FILTERED runs do NOT
    // overwrite it — the fixed path must always describe a full-surface
    // run (the correctness_latest.json discipline); spot stamps land
    // only where SPARK_GRAFT_BENCH_FULL points.
    try if (!filtered) {
      val p = java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_DRIVER", "tools/stamps/bench_driver_latest.json"))
      Option(p.getParent)
        .foreach(d => { java.nio.file.Files.createDirectories(d); () })
      java.nio.file.Files.write(p,
        (compactLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] driver-json write failed: ${e.getMessage}")
    }
    println(compactLine)
    spark.stop()
  }
}
