package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Structured Streaming extension (SURVEY.md §2.9/§7.1.9): the reference is
  * strictly batch; this adds the streaming ingest+aggregate shape a
  * continuous pipeline needs — file-source stream, event-time watermark,
  * tumbling-window aggregation.
  *
  * At scale the same plan runs over a Kafka/file stream with checkpointing;
  * locally every `run*` twin replays a BOUNDED source synchronously for
  * tests and the correctness harness, through one of three drivers:
  *
  *  - [[eachBatch]]: an append-mode `foreachBatch` query run to
  *    `processAllAvailable` and stopped in `finally`. Runners that keep
  *    several per-batch maps (curate, ER, DSIR, Pareto) use it directly.
  *  - [[collectBatches]]: `eachBatch` plus one materialized frame per
  *    batch, unioned at the end; no batch at all is an error.
  *  - [[memorySnapshot]]: a complete- or append-mode memory-sink query
  *    whose final table is the result.
  *
  * Bounded replay: a source is listed once. `maxFilesPerTrigger <= 0`
  * sets no cap, so the whole input is ONE micro-batch; a positive value
  * forces one batch per N files, which the cross-batch-state twins use to
  * make their state genuinely carry across batches. Every per-batch
  * result is keyed by its batch id, so a redelivered batch overwrites its
  * own entry instead of adding a second copy. Stateful queries run under
  * 8 state partitions (see [[withStatePartitions]]), and a memory-sink
  * run fails if any state operator dropped a row as late: each twin is
  * built so that nothing can be late on a bounded replay.
  *
  * Each runner's scaladoc carries only its own stream ≡ batch argument.
  */
object StreamingIngest {

  /** Tumbling one-hour-window counts/sums per event type, under a
    * two-hour watermark. Returns the *streaming* DataFrame (caller
    * attaches the sink). */
  def windowedEventAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        cast_sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Exact decimal sum surfaced as double — deterministic across engines. */
  private def cast_sum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,4)")).cast("double")

  /** Normalize `ts` into a TIMESTAMP (LTZ) whatever the fixture's physical
    * encoding — int64 nanos (read via
    * `spark.sql.legacy.parquet.nanosAsLong=true`) or TIMESTAMP_NTZ micros.
    * Watermarks require LTZ; [[graft.functions.EventTime]] is the single
    * branch point on the encoding. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.withColumn("ts", graft.functions.EventTime.timestamp(df))

  /** Streaming variant of the reference's own ETL (ingest → harmonize →
    * validate → warehouse/quarantine): a file-source CSV stream of one
    * layout, harmonized per micro-batch and split via `foreachBatch` into
    * appended warehouse parquet and quarantine CSV. Checkpointed — restart
    * resumes at the last committed batch, which is the exactly-once story a
    * continuous 100 TB ingest needs (per-layout streams run in parallel).
    *
    * `sourceColumns` is the layout's header (streaming sources need a
    * declared schema; all-string, matching the batch path's semantics). */
  def streamingEtl(spark: SparkSession, csvDir: String,
                   sourceColumns: Seq[String], outDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import graft.ingest.Harmonizer
    import graft.validate.Validator
    import graft.sink.Warehouse
    val schema = StructType(sourceColumns.map(StructField(_, StringType, nullable = true)))
    val raw = spark.readStream.option("header", "true").schema(schema).csv(csvDir)
    // Lineage must be captured in the streaming plan: input_file_name() is
    // empty once foreachBatch detaches the batch from the file source.
    val harmonized = Harmonizer
      .harmonizeWith(raw, Some(Harmonizer.countryFromFileName))
      .withColumn("Source_File", input_file_name())
    harmonized.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val validated = Validator.Validated(Materialize(Validator.validate(batch.toDF()).annotated))
        try {
          validated.quarantine.write.mode("append").option("header", "true")
            .csv(s"$outDir/invalid_records")
          Warehouse.write(Warehouse.toWarehouse(validated.validRecords),
            s"$outDir/warehouse", mode = "append")
        } finally Materialize.release(validated.annotated)
        ()
      }
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .start()
  }

  /** Streaming EXACT dedup with custom state: emit only the FIRST record
    * ever seen per key across all micro-batches, suppress every later
    * duplicate — `flatMapGroupsWithState` keeping one boolean per key.
    *
    * Scale notes: state lives in the per-partition state store (RocksDB-
    * backed on a real cluster), sharded by the groupBy key hash, so the
    * seen-set never centralizes. For unbounded key spaces production sets a
    * `GroupStateTimeout` (and withWatermark) so state for stale keys ages
    * out — bounded fixtures keep NoTimeout for determinism. Within a single
    * micro-batch the representative row for a brand-new key is the first
    * iterator element (partition order); callers needing a total rule
    * should pre-aggregate the batch. */
  def streamingDedup(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val rowEnc = Encoders.row(df.schema)
    implicit val keyEnc = Encoders.STRING
    implicit val boolEnc = Encoders.scalaBoolean
    df.as(rowEnc)
      .groupByKey((r: Row) => String.valueOf(r.getAs[Any](keyCol)))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[Row], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); rows.take(1) })
  }

  /** Streaming dedup via the BUILT-IN `dropDuplicatesWithinWatermark` —
    * the bounded-state counterpart of [[streamingDedup]]: per-key state is
    * evicted once the event-time watermark passes it, so state is bounded
    * by (key arrival rate × delay) instead of growing with the key space.
    * The contract weakens accordingly: duplicates are only guaranteed
    * suppressed when they arrive within `delay` of each other — the right
    * trade for unbounded streams where exact forever-dedup state cannot
    * fit (production pairs it with a periodic batch [[graft.operators.Dedup]]
    * sweep). A bounded replay with `delay` ≥ the data span suppresses
    * every duplicate and equals batch DISTINCT — that equivalence is what
    * the harness oracles. */
  def dedupWithinWatermark(df: DataFrame, keyCols: Seq[String], tsCol: String,
                           delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming sessionization: the `session_window` twin of the batch
    * [[graft.operators.Sessionize]] — and semantically IDENTICAL to it:
    * Spark merges session windows that overlap or TOUCH (inclusive end),
    * so two events exactly `gap` apart share a session and a session
    * splits only when the inter-event gap is strictly greater — the same
    * strict-`>` rule as the batch operator (verified by the exact-gap spec
    * case). State is the per-key open-session set in the
    * sharded state store; the watermark finalizes and evicts sessions, so
    * state stays bounded by ACTIVE sessions regardless of stream length.
    * Returns the streaming frame; caller attaches the sink. */
  def sessionizedEvents(events: DataFrame, gapMicros: Long,
                        keyCol: String,
                        tsCol: String,
                        watermark: String = "0 seconds"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), s"$gapMicros microseconds"), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("first_ev"), max(col(tsCol)).as("last_ev"))
      .select(col(keyCol),
        unix_micros(col("first_ev")).as("session_start"),
        unix_micros(col("last_ev")).as("session_last"),
        col("n_events"))

  /** Drive [[sessionizedEvents]] over a BOUNDED parquet path of events
    * keyed by `user_id` (LONG) and timed by `ts`, and return the final
    * sessions as a batch frame. Bounded-stream finalization: append-
    * mode session windows emit only once the watermark passes their end,
    * and a finite stream's watermark stops at its max event time — the
    * tail sessions would be withheld forever. The standard fix: union the
    * source stream with a staged ONE-row far-future sentinel (key -1),
    * which advances the global watermark past every real session end; the
    * sentinel's own session is filtered from the result.
    * Production (unbounded) streams need none of this — later events
    * advance the watermark naturally. */
  def runSessionizeBounded(spark: SparkSession, parquetPath: String,
                           gapMicros: Long): DataFrame = {
    val keyCol = "user_id"
    val tsCol = "ts"
    val ev = spark.read.parquet(parquetPath)
    require(ev.schema(keyCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"$keyCol must be LONG (the sentinel session is keyed -1)")
    // ts may be LONG nanos or TIMESTAMP_NTZ micros — EventTime adapts; an
    // unsupported encoding fails fast inside EventTime with a clear message.
    val tsType = ev.schema(tsCol).dataType
    // Empty input: no sessions, and no max(ts) for the sentinel — return
    // the empty result frame instead of NPE-ing on a null aggregate.
    if (ev.isEmpty) {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField(keyCol, LongType), StructField("session_start", LongType),
          StructField("session_last", LongType), StructField("n_events", LongType))))
    }
    // Sentinel-ONLY staging: the input streams straight from its source
    // glob and a second one-row file source carries the sentinel, unioned
    // into one streaming plan — copying the whole input to the stage dir
    // (the previous design) paid a full write job per run for data that
    // already sits in readable parquet. ORDER IS THE INVARIANT HERE: the
    // design is correct because the default file source lists ALL
    // available files at query start, so every real row is processed in
    // (or before) the batch that processes the sentinel. A sentinel
    // processed EARLY (e.g. if someone adds maxFilesPerTrigger to these
    // sources) would advance the watermark 3 gaps past max event time
    // and real rows arriving later would be silently dropped as late —
    // which memorySnapshot's no-late-rows check turns into a failure.
    val stage = java.nio.file.Files.createTempDirectory("graft-sess-stage").toString
    val maxUs = ev.agg(max(graft.functions.EventTime.microsFor(tsType, tsCol)))
      .head().getLong(0)
    // 3 gaps past the max event time is safely beyond every real session
    // end; the sentinel literal is written back in the SOURCE encoding so
    // the staged file unions with the raw-schema stream.
    ev.limit(1)
      .withColumn(keyCol, lit(-1L))
      .withColumn(tsCol,
        graft.functions.EventTime.literalFor(tsType, maxUs + 3 * gapMicros))
      .coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val stream = boundedStream(spark, parquetPath, ev.schema, 0)
      .union(spark.readStream.schema(ev.schema).parquet(stage + "/*.parquet"))
      .withColumn("__tsm", graft.functions.EventTime.timestampFor(tsType, tsCol))
    // the memory sink holds the result; the staged copy is disposable
    try memorySnapshot(sessionizedEvents(stream, gapMicros, keyCol, "__tsm"), "append")
      .filter(col(keyCol) >= 0)
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
  }

  /** Stream-stream interval join — the attribution shape ("purchase within
    * H hours of a view, same user"). Both sides are unbounded streams, so
    * this is the stateful join Structured Streaming exists for: rows buffer
    * in the keyed state store until the OTHER side's watermark passes the
    * interval bound, then age out — state is bounded by the interval × rate,
    * not the stream length. Inner-join matches emit as soon as both rows
    * have arrived (no watermark wait on the emit path).
    *
    * `left`/`right` carry distinct column names (callers rename before the
    * join); `window_` is the max `rightTs - leftTs` (SQL interval string,
    * e.g. "2 hours"); watermarks must already be attached by the caller —
    * Spark requires them for state EVICTION on both sides, and the join
    * range condition is what lets it compute the eviction bound. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTs: String, rightTs: String,
                   window_ : String): DataFrame =
    left.join(right,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"interval $window_"))

  /** Drive [[intervalJoin]] over a BOUNDED events parquet as the
    * view→purchase attribution join; returns the matched pairs as a batch
    * frame. Unlike the sessionize runner, inner-join results emit
    * immediately on match — no sentinel row needed. Replay caveat: the two
    * file sources batch files INDEPENDENTLY, so a row can arrive after the
    * other side's watermark has already advanced past it and be dropped as
    * late — a pure replay artifact (a live stream is roughly ordered). The
    * bounded runner therefore sets the watermark delay to the full data
    * span + window, under which nothing is ever late and no state is
    * evicted; production uses a delay sized to real out-of-orderness.
    * (One residual boundary: a row at EXACTLY epoch 0 is evicted against
    * the initial state watermark, also 0 — real event time never is.) */
  def runAttributionBounded(spark: SparkSession, parquetPath: String,
                            windowMicros: Long): DataFrame = {
    val ev = spark.read.parquet(parquetPath)
    val evUs = graft.functions.EventTime.micros(ev)
    val window_ = s"$windowMicros microseconds"
    val span = ev.agg((max(evUs) - min(evUs)).as("s")).head()
    val delay =
      if (span.isNullAt(0)) window_
      else s"${span.getLong(0) + windowMicros + 1} microseconds"
    // No staging: unlike the sessionize runner there is no sentinel to
    // inject, so both sides stream straight from the source glob — the
    // previous staged copy paid a full write job per run for nothing.
    def side(eventType: String, prefix: String): DataFrame =
      boundedStream(spark, parquetPath, ev.schema, 0)
        .filter(col("event_type") === eventType)
        .select(col("user_id").as(s"${prefix}_user_id"),
          col("event_id").as(s"${prefix}_event_id"),
          graft.functions.EventTime.timestamp(ev).as(s"${prefix}_tsm"))
        .withWatermark(s"${prefix}_tsm", delay)
    val joined = intervalJoin(
      side("view", "v"), side("purchase", "p"),
      "v_user_id", "p_user_id", "v_tsm", "p_tsm", window_)
    memorySnapshot(joined, "append")
      .select(col("v_user_id").as("user_id"),
        col("v_event_id").as("view_event_id"),
        col("p_event_id").as("purchase_event_id"),
        (unix_micros(col("p_tsm")) - unix_micros(col("v_tsm"))).as("delta_us"))
  }

  /** File-source glob for a bounded parquet path. The streaming file
    * source REJECTS a bare file path ("Option 'basePath' must be a
    * directory"), so a trailing `*` turns it into a glob anchored in the
    * parent directory. Caveat (accepted, single point): the glob is a
    * PREFIX match, so a sibling named `<path>whatever` would also be
    * picked up — the driver-controlled testdata dirs contain no such
    * siblings, and exact-path matching is not expressible through this
    * API. */
  private def streamGlob(parquetPath: String): String =
    if (parquetPath.endsWith("*")) parquetPath else parquetPath + "*"

  /** Bounded file-source stream, parquet unless `format` says otherwise
    * (see the object scaladoc for the `maxFilesPerTrigger` rule). One
    * micro-batch is the default for the batch-count-INVARIANT twins: there
    * the batch count is pure execution overhead (4 micro-batches cost
    * ~2.4 s of planning and commit per stream query, on top of 4× the
    * per-batch checkpoint jobs). */
  private def boundedStream(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int, format: String = "parquet",
      options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.readStream.format(format).schema(schema).options(options)
    val r2 = if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger.toString) else r
    r2.load(streamGlob(path))
  }

  /** [[boundedStream]] over parquet, with the schema its files carry. */
  private def boundedStream(spark: SparkSession, parquetPath: String,
      maxFilesPerTrigger: Int): DataFrame =
    boundedStream(spark, parquetPath, spark.read.parquet(parquetPath).schema, maxFilesPerTrigger)

  /** Run `stream` to the end of its bounded input as an append-mode
    * `foreachBatch` query, handing `body` each micro-batch and its id. The
    * query is stopped even when a batch fails; the failure reaches the
    * caller from `processAllAvailable`. */
  private def eachBatch(stream: DataFrame)(body: (DataFrame, Long) => Unit): Unit = {
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch(body)
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  private def byBatchId() = new ConcurrentHashMap[java.lang.Long, DataFrame]()

  /** [[eachBatch]] keeping ONE frame per batch id: `f`'s result is
    * materialized (it must outlive the batch frame) and put under its
    * batch id, and the union of all of them is returned. A stream that
    * produced no batch fails, naming `who`. */
  private def collectBatches(stream: DataFrame, who: String)(
      f: (DataFrame, Long) => DataFrame): DataFrame = {
    val results = byBatchId()
    eachBatch(stream)((batch, bid) => results.put(bid, Materialize(f(batch, bid))))
    require(!results.isEmpty, s"$who: stream produced no batches")
    results.values.asScala.reduce(_ unionByName _)
  }

  private val sinkNames = new java.util.concurrent.atomic.AtomicLong(0)

  /** Run `frame` to the end of its bounded input into a memory sink, in
    * `outputMode`, under 8 state partitions, and return the sink's final
    * table. The sink's name is drawn from a JVM-wide counter, so back-to-
    * back runs never share a table. Fails if any state operator dropped a
    * row as late: on a bounded replay that is a bug in the runner's
    * design (sentinel order, watermark delay), not data skew. */
  private[graft] def memorySnapshot(frame: DataFrame, outputMode: String): DataFrame = {
    val spark = frame.sparkSession
    val name = s"graft_stream_${sinkNames.incrementAndGet()}"
    val progress = withStatePartitions(spark, 8) {
      val q = frame.writeStream.outputMode(outputMode).format("memory")
        .queryName(name).start()
      try q.processAllAvailable()
      finally q.stop()
      q.recentProgress
    }
    val dropped = progress.iterator
      .flatMap(_.stateOperators.iterator)
      .map(_.numRowsDroppedByWatermark).sum
    require(dropped == 0,
      s"$name: $dropped rows dropped as late on a bounded replay")
    spark.table(name)
  }

  /** Run a thunk with `spark.sql.shuffle.partitions` temporarily set to
    * `n`, restoring the previous value after. Stateful streaming queries
    * materialize one state-store instance per shuffle partition at their
    * FIRST batch and keep that layout for life — so state partitioning is a
    * deliberate sizing decision keyed to state cardinality (number of
    * distinct groups), not a session-wide default. A few thousand groups do
    * not need (or want) the batch session's partition count: every extra
    * state store is per-batch open/commit/maintenance overhead. */
  private def withStatePartitions[T](spark: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** Continuous upsert into a parquet warehouse table: every micro-batch
    * merges into the standing table through
    * [[graft.sink.Warehouse.upsertLatest]] (latest-wins per key) and the
    * rewritten table swaps into place with checked renames — the
    * stream-to-serving-table composition (CDC-style ingest).
    *
    * Exactly-once WITHOUT a transactional sink: the merge is idempotent —
    * replaying a batch after a crash re-merges rows that already won (or
    * already lost) the latest-wins ranking, leaving the table unchanged —
    * so at-least-once foreachBatch delivery composes to exactly-once table
    * state. The full-table rewrite per batch is the parquet-directory
    * simplification; at scale the same foreachBatch body targets a table
    * format's MERGE and everything else stands.
    *
    * Scale shape: one key shuffle per batch (the upsert window), table
    * read is a plain parquet scan; state lives in the TABLE, not the
    * state store — no streaming state grows with key cardinality.
    *
    * SINGLE-HOST RESTRICTION: the crash-debris healing below identifies
    * a leftover's owner by LOCAL pid liveness (`ProcessHandle`), which
    * means nothing for a writer on another host. If `tablePath` is on a
    * shared filesystem (HDFS/S3/NFS) with writers on multiple hosts, a
    * live remote writer's `__upserting`/`__old` state would be
    * misclassified as dead debris and deleted, destroying its in-flight
    * swap. All writers to one table must run on one host (any number of
    * JVMs — the pid tag + start-instant check handles those); for
    * multi-host ingest, target a table format whose MERGE takes a
    * distributed lock/lease instead of this parquet-directory swap. */
  def streamUpsertToWarehouse(stream: DataFrame, tablePath: String,
                              keyCols: Seq[String],
                              orderCols: Seq[org.apache.spark.sql.Column],
                              checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // SAME-JVM writers share a pid, so the pid tag below cannot tell
        // them apart — instead their batch bodies SERIALIZE on a per-table
        // JVM lock, which makes same-JVM concurrency safe outright: each
        // batch reads the current table (including the other query's
        // merges) and latest-wins merging is commutative across batches.
        // The lock also means any pid==mine leftover found below is crash
        // debris from an earlier batch, never a live sibling's in-flight
        // state.
        upsertLocks.computeIfAbsent(tablePath, _ => new Object).synchronized {
        val spark = batch.sparkSession
        val fs = new org.apache.hadoop.fs.Path(tablePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val table = new org.apache.hadoop.fs.Path(tablePath)
        // Swap-state names carry the WRITER's pid, which separates the two
        // cases a bare name cannot: leftovers whose pid is ours, or whose
        // owner is gone (Scratch.ownerGone), are crash debris and SELF-HEAL (a stray tmp is a partial write — discard;
        // a bak with no table is the mid-swap crash — restore; a bak with
        // a table is the post-swap crash — superseded, discard); leftovers
        // whose pid is a genuinely LIVE other process are a CONCURRENT
        // WRITER on the same table and deleting them would destroy its
        // in-flight swap, so that is a hard stop instead. Bare pre-pid-tag
        // names (`__upserting`/`__old` exactly) heal like dead-pid debris
        // — nothing running this code writes them. Healing runs BEFORE
        // the table is read — a mid-swap crash would otherwise read as an
        // empty table and drop pre-crash history. All healing is
        // idempotent, so foreachBatch redelivery converges.
        val mine = graft.Scratch.pid
        val pidOf = "_p(\\d+)$".r
        def leftovers(kind: String): Seq[org.apache.hadoop.fs.Path] = {
          val tagged = Option(fs.globStatus(new org.apache.hadoop.fs.Path(
            tablePath + kind + "_p*"))).getOrElse(Array.empty)
            .map(_.getPath).toSeq
          val bare = new org.apache.hadoop.fs.Path(tablePath + kind)
          tagged ++ (if (fs.exists(bare)) Seq(bare) else Nil)
        }
        def healable(p: org.apache.hadoop.fs.Path): Boolean =
          pidOf.findFirstMatchIn(p.getName) match {
            case None => true // bare legacy name: no live writer emits it
            case Some(m) =>
              val pid = m.group(1).toLong
              pid == mine || graft.Scratch.ownerGone(pid, scala.util.Try(
                fs.getFileStatus(p).getModificationTime).getOrElse(0L)) || {
                throw new java.io.IOException(
                  s"upsert: live concurrent writer (pid $pid) owns $p — " +
                    "two processes must not target one table") }
          }
        leftovers("__upserting").filter(healable).foreach(fs.delete(_, true))
        leftovers("__old").filter(healable).foreach { p =>
          if (!fs.exists(table)) {
            if (!fs.rename(p, table))
              throw new java.io.IOException(s"upsert: failed to restore $p")
          } else fs.delete(p, true)
        }
        val tmp = new org.apache.hadoop.fs.Path(tablePath + s"__upserting_p$mine")
        val bak = new org.apache.hadoop.fs.Path(tablePath + s"__old_p$mine")
        val existing =
          if (fs.exists(table)) spark.read.parquet(tablePath)
          else batch.limit(0)
        val merged = graft.sink.Warehouse.upsertLatest(
          existing, batch, keyCols, orderCols)
        // the merged plan READS the live table, so it cannot overwrite it
        // in place: write aside, then swap with checked renames (the
        // Warehouse.compact discipline — no failure ordering loses data)
        merged.write.mode("overwrite").parquet(tmp.toString)
        val hadTable = fs.exists(table)
        if (hadTable && !fs.rename(table, bak))
          throw new java.io.IOException(s"upsert: failed to move $table aside")
        if (!fs.rename(tmp, table)) {
          val restored = !hadTable || fs.rename(bak, table)
          throw new java.io.IOException(
            s"upsert: failed to move $tmp into place" +
              (if (restored) "; original restored" else s"; ORIGINAL LEFT AT $bak"))
        }
        if (hadTable) fs.delete(bak, true)
        }
        ()
      }
      .start()

  /** One lock object per upsert table path in this JVM — see the
    * same-JVM serialization note in [[streamUpsertToWarehouse]]. */
  private val upsertLocks =
    new ConcurrentHashMap[String, Object]()

  /** Bounded-stream driver for [[streamUpsertToWarehouse]]: streams a
    * parquet path (a positive `maxFilesPerTrigger` forces MULTIPLE
    * micro-batches through the merge) and returns the final table. */
  def runStreamUpsertBounded(spark: SparkSession, parquetPath: String,
                             tablePath: String, keyCols: Seq[String],
                             orderCols: Seq[org.apache.spark.sql.Column],
                             maxFilesPerTrigger: Int = 0): DataFrame = {
    val stream = normalizeTs(boundedStream(spark, parquetPath, maxFilesPerTrigger))
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft-upsert-ckpt").toString
    val q = streamUpsertToWarehouse(stream, tablePath, keyCols, orderCols, checkpoint)
    try q.processAllAvailable()
    finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoint))
    }
    spark.read.parquet(tablePath)
  }

  /** Streaming MODEL INFERENCE: classify a document stream under a
    * batch-trained multinomial NB model (graft.operators.Classify) — the
    * standard train-once/score-forever serving shape. The model tables are
    * materialized ONCE ([[graft.Materialize]]) before the stream starts; each
    * micro-batch scores its documents (a document is one row, so scoring
    * needs no cross-batch state). Scoring is a pure deterministic function
    * of (doc, model), so the batch-id-keyed results are replay-idempotent
    * and a final per-doc dedup leaves exactly the batch scores.
    *
    * 100-TB posture: the model is vocabulary-sized and broadcasts into
    * every batch; per-batch cost is the batch's own (doc,·)-keyed
    * exchanges. Returns the final scored table as a batch DataFrame. */
  def runStreamClassifyBounded(spark: SparkSession, trainDf: DataFrame,
                               scoreParquetPath: String, idCol: String,
                               textCol: String, labelCol: String,
                               maxFilesPerTrigger: Int = 0): DataFrame = {
    val model = graft.operators.Classify
      .trainNaiveBayes(trainDf, textCol, labelCol).materialize
    val stream = boundedStream(spark, scoreParquetPath, maxFilesPerTrigger)
    collectBatches(stream, "runStreamClassifyBounded") { (batch, _) =>
      graft.operators.Classify.scoreNaiveBayes(model, batch, idCol, textCol)
    }.dropDuplicates(idCol)
  }

  /** Streaming CORPUS CURATION — the incremental form of the curate
    * ladder's first two rungs (quality gate → exact n-gram near-dup
    * dedup), run as a continuously-fed stream with the STANDING CORPUS as
    * cross-batch state. This is the production shape of a training-data
    * pipeline: documents arrive in micro-batches, each batch is
    * quality-gated statelessly, then deduped against everything already
    * seen via [[graft.operators.Dedup.incrementalNgramPairs]] —
    * new-vs-corpus and new-vs-new pairs only, the standing corpus NEVER
    * re-joined against itself — and the accepted set (and pair ledger)
    * grows monotonically.
    *
    * Stream ≡ batch by construction: a qualifying pair is discovered
    * exactly once — when its LATER-arriving member lands (the earlier one
    * is then in the standing corpus, or the same batch) — so the union of
    * per-batch pair sets equals the full batch pair set over all
    * quality-passers REGARDLESS of arrival order, and the survivor rule
    * ("a doc is a duplicate iff some qualifying pair orients it as the
    * larger id") is replay- and order-invariant. That is what lets the
    * harness gate this stream with the full-hash BATCH oracle rather than
    * a weaker property check.
    *
    * Output: one row per input doc — (doc_id, status) with status ∈
    * quality | duplicate | curated. State held per batch: the
    * quality-passing corpus frame + the accumulated pair ledger, each
    * materialized ([[graft.Materialize]]).
    *
    * Scale note (honest cost model): each batch's incrementalNgramPairs
    * call re-derives the global document-frequency order over
    * corpus + delta — per-batch cost therefore grows with the standing
    * corpus. That is the documented modeling simplification of
    * [[graft.operators.Dedup.incrementalNgramPairs]]; at production
    * steady state the df table and prefix postings are MAINTAINED
    * incrementally (new shingles only bump counts; postings append), at
    * which point per-batch cost is linear in the delta. The pair-set
    * semantics — and therefore the stream ≡ batch gate — are identical
    * either way, because prefix completeness holds under any consistent
    * df order. */
  def runStreamCurateBounded(spark: SparkSession, parquetPath: String,
                             idCol: String, textCol: String,
                             minTokens: Int, n: Int,
                             threshold: Double,
                             maxFilesPerTrigger: Int = 0): DataFrame = {
    import graft.operators.Dedup
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger)
    // The standing corpus for batch b is rebuilt as the union of slices
    // with id < b, so a replayed batch sees the same corpus it saw first.
    val statuses = byBatchId()
    val pairLedger = byBatchId()
    // the standing dedup INDEX: each batch's hashed shingle sets, computed
    // once and checkpointed — later batches reuse them, so corpus text is
    // never re-shingled/re-hashed/re-sorted per batch (the steady-state
    // form of the old "re-derive over corpus+delta" cost model; only the
    // cheap long-keyed df/prefix derivation re-runs, which the batch-
    // equality gate requires for ONE consistent global order)
    val shingleSlices = byBatchId()
    eachBatch(stream) { (batch, bid) =>
      val docs = batch.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).cast("string").as("text"))
      val gated = Materialize(docs.withColumn("__pass",
        size(Dedup.cleanTokens(col("text"))) >= minTokens))
      statuses.put(bid, gated.select(col("doc_id"), col("__pass")))
      val passers = gated.filter(col("__pass")).select(col("doc_id"), col("text"))
      val deltaSh = Materialize(Dedup.hashedShingles(passers, "doc_id", "text", n))
      val corpusSh = shingleSlices.asScala.toSeq
        .filter(_._1 < bid).map(_._2)
        .reduceOption(_ unionByName _)
        .getOrElse(deltaSh.limit(0))
      val pairs = Dedup.incrementalNgramPairsFromSets(corpusSh, deltaSh, threshold)
      pairLedger.put(bid, Materialize(pairs.select(col("idA"), col("idB"))))
      shingleSlices.put(bid, deltaSh)
    }
    val allStatuses = statuses.values.asScala.toSeq
    require(allStatuses.nonEmpty, "runStreamCurateBounded: no batches")
    val docs = allStatuses.reduce(_ unionByName _).dropDuplicates("doc_id")
    val dups = pairLedger.values.asScala.toSeq.reduce(_ unionByName _)
      .select(col("idB").as("doc_id")).distinct()
    docs.join(dups.withColumn("__dup", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!col("__pass"), lit("quality"))
          .when(col("__dup").isNotNull, lit("duplicate"))
          .otherwise(lit("curated")).as("status"))
  }

  /** Streaming FUZZY curation — the MinHash sibling of
    * [[runStreamCurateBounded]]: quality gate, then near-dup detection
    * against the standing corpus via
    * [[graft.operators.Dedup.incrementalMinhashPairs]] — each batch's
    * SIGNATURES are computed once, checkpointed, and become the
    * standing-corpus side of every later batch (signatures are pure
    * per-doc functions under the fixed permutation seed, so cached frames
    * never go stale — the "maintain the index incrementally" steady state
    * the n-gram twin only models). Per-batch cost: the delta's signature
    * pass + its band join against the standing band index; the corpus is
    * never re-signed and never banded against itself.
    *
    * Stream ≡ batch: uncapped pair discovery is arrival-order-invariant
    * (see incrementalMinhashPairs), so the union of per-batch pair
    * ledgers equals the batch [[graft.operators.Dedup.minhashNearDupPairs]]
    * pair set and the statuses gate against the batch twin verbatim. */
  def runStreamCurateFuzzyBounded(spark: SparkSession, parquetPath: String,
                                  idCol: String, textCol: String,
                                  minTokens: Int, n: Int, k: Int,
                                  bands: Int, threshold: Double): DataFrame = {
    import graft.operators.Dedup
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger = 0)
    val statuses = byBatchId()
    val pairLedger = byBatchId()
    val sigSlices = byBatchId()
    eachBatch(stream) { (batch, bid) =>
      val docs = batch.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).cast("string").as("text"))
      val gated = Materialize(docs.withColumn("__pass",
        size(Dedup.cleanTokens(col("text"))) >= minTokens))
      statuses.put(bid, gated.select(col("doc_id"), col("__pass")))
      val passers = gated.filter(col("__pass")).select(col("doc_id"), col("text"))
      // sign the DELTA once; the checkpoint is what later batches reuse
      val deltaSigs = Materialize(
        Dedup.minhashSignatures(passers, "doc_id", "text", n, k))
      val corpusSigs = sigSlices.asScala.toSeq
        .filter(_._1 < bid).map(_._2)
        .reduceOption(_ unionByName _)
      val pairs = corpusSigs match {
        case None => Dedup.incrementalMinhashPairs(
          deltaSigs.limit(0), deltaSigs, "doc_id", k, bands, threshold)
        case Some(corpus) => Dedup.incrementalMinhashPairs(
          corpus, deltaSigs, "doc_id", k, bands, threshold)
      }
      pairLedger.put(bid, Materialize(pairs.select(col("idA"), col("idB"))))
      sigSlices.put(bid, deltaSigs)
    }
    val allStatuses = statuses.values.asScala.toSeq
    require(allStatuses.nonEmpty, "runStreamCurateFuzzyBounded: no batches")
    val docs = allStatuses.reduce(_ unionByName _).dropDuplicates("doc_id")
    val dups = pairLedger.values.asScala.toSeq.reduce(_ unionByName _)
      .select(col("idB").as("doc_id")).distinct()
    docs.join(dups.withColumn("__dup", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!col("__pass"), lit("quality"))
          .when(col("__dup").isNotNull, lit("duplicate"))
          .otherwise(lit("curated")).as("status"))
  }

  /** Streaming ANN SERVING — the retrieval form of the
    * train-once/score-forever pattern ([[runStreamClassifyBounded]]):
    * IVF+PQ quantizers train ONCE, persist via
    * [[graft.operators.IvfPq.saveModels]], and every micro-batch of
    * arriving queries is scored in foreachBatch against the RELOADED
    * models and the once-built code index — the full production
    * lifecycle (build index → ship artifact → serve stream) inside one
    * bounded run. The serving settings are fixed: the queries are the
    * `vec_id < 16` rows, each gets its top 10 through 4 probed cells and
    * a 32-row shortlist, and the trained models are 16 IVF cells and 16
    * PQ sub-blocks of 64 codes.
    *
    * Stream ≡ batch EXACTLY: a query's top-k is a pure deterministic
    * function of (query vector, frozen models, frozen index) — no
    * cross-batch state, no arrival-order dependence — so the union of
    * per-batch results equals the batch [[graft.operators.IvfPq
    * .topKIndexed]] run verbatim, and the harness gates with strict
    * equality, not a recall floor.
    *
    * 100-TB posture: the models are model-sized broadcasts, the index is
    * codes-at-ingest (m bytes/row), and each batch pays only its own
    * cell-pruned candidate join — the corpus is never rescanned per batch.
    *
    * `pretrained` lets the verify twin inject the exact models both
    * sides must share; either way the models go through save→load so the
    * persistence path is exercised on every run.
    *
    * Returns (served results, the checkpointed code index): the index is
    * a pure function of (corpus, the models as RELOADED from
    * `modelPath`), which is exactly what the callers' batch twins score
    * against — so handing it back lets them skip a SECOND full-corpus
    * `IvfPq.index` pass (assign + PQ-encode + checkpoint) per query
    * (guide §2.4 — share one materialization; the bipartite-edge-cache
    * discipline applied inside a single query). */
  def runStreamAnnBounded(spark: SparkSession, parquetPath: String,
                          modelPath: String,
                          pretrained: Option[(graft.operators.IvfIndex.Model,
                            graft.operators.ProductQuantize.Model)] = None)
      : (DataFrame, DataFrame) = {
    import graft.operators.{IvfIndex, IvfPq, ProductQuantize}
    val corpus = spark.read.parquet(parquetPath)
    val (ivf0, pq0) = pretrained.getOrElse((
      IvfIndex.train(corpus, "vec_id", "embedding", k = 16),
      ProductQuantize.train(corpus, "vec_id", "embedding", m = 16, k = 64)))
    IvfPq.saveModels(spark, modelPath, ivf0, pq0)
    val (ivf, pq) = IvfPq.loadModels(spark, modelPath)
    val indexed = Materialize(IvfPq.index(corpus, ivf, pq))
    val stream = boundedStream(spark, parquetPath, corpus.schema, maxFilesPerTrigger = 0)
    val served = collectBatches(stream, "runStreamAnnBounded") { (batch, _) =>
      val queries = batch.filter(col("vec_id") < 16)
      IvfPq.topKIndexed(queries, indexed, corpus, ivf, pq,
        k = 10, nprobe = 4, shortlist = 32)
    }
    (served.dropDuplicates("query_id", "rank"), indexed)
  }

  /** Generic per-row streaming twin: apply a PURE row-local projection
    * (exploding allowed) to each micro-batch and union the results —
    * per-row purity is what makes stream ≡ batch VERBATIM, so the twin
    * shares the batch query's oracle unchanged (HTML→text extraction and
    * multimodal feature extraction run here). `keyCols` dedupe the
    * file-overlap replays of a restarted stream. */
  def runStreamRowMapBounded(spark: SparkSession, parquetPath: String,
                             build: DataFrame => DataFrame,
                             keyCols: Seq[String],
                             maxFilesPerTrigger: Int = 0): DataFrame = {
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger)
    collectBatches(stream, "runStreamRowMapBounded")((batch, _) => build(batch))
      .dropDuplicates(keyCols)
  }

  /** Streaming twin for GROUP-LOCAL aggregations — the contract one
    * notch wider than [[runStreamRowMapBounded]]'s per-row purity: the
    * per-batch `build` may aggregate, PROVIDED every group is file-local
    * (the source was written `repartitionByRange` on the group key, so
    * no group ever spans two files = two micro-batches). Batch-wise
    * aggregation then unions to the global result exactly, and the twin
    * still shares the batch query's oracle verbatim. The SFT assembly
    * twin runs here: conversations arrive whole, per shard. */
  def runStreamGroupedBounded(spark: SparkSession, parquetPath: String,
                              build: DataFrame => DataFrame,
                              keyCols: Seq[String],
                              maxFilesPerTrigger: Int = 0): DataFrame = {
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger)
    // tag each batch's aggregates with the micro-batch id — the contract
    // check below keys on it
    val unioned = collectBatches(stream, "runStreamGroupedBounded") {
      (batch, bid) => build(batch).withColumn("__graft_bid", lit(bid))
    }
    // CONTRACT CHECK, loud not silent, keyed on the BATCH ID: with a
    // positive maxFilesPerTrigger every micro-batch is one source file
    // processed exactly once (no restart), so a group-complete source
    // puts each key's rows in EXACTLY one distinct batch. A key seen in
    // two batches is a split group — even when the partial aggregates
    // happen to be byte-identical (sum 5 in file A + sum 5 in file B),
    // the false negative the earlier distinct-rows-per-key signature had.
    val bad = unioned
      .groupBy(keyCols.map(col): _*)
      .agg(countDistinct(col("__graft_bid")).as("__n"))
      .filter(col("__n") > 1).count()
    require(bad == 0,
      s"runStreamGroupedBounded: $bad keys appeared in more than one " +
        "micro-batch — the source is not group-complete per file " +
        "(write it repartitionByRange on the group key)")
    unioned.drop("__graft_bid").dropDuplicates(keyCols)
  }

  /** Streaming dirty-JSONL ingestion — the dump arrives file by file and
    * is parsed ON THE STREAM by Spark's native JSON file source under
    * the expected schema: PERMISSIVE mode, so a truncated line surfaces
    * immediately as NULL fields + the verbatim raw in `_corrupt_record`
    * instead of failing the micro-batch (the crawl-ops contract,
    * [[graft.sink.Jsonl.readJsonl]]'s semantics applied to a stream).
    * Parsing is pure per-row ⇒ stream ≡ batch verbatim and the harness
    * gates the twin with the batch oracle. */
  def runStreamJsonlBounded(spark: SparkSession, srcDir: String,
                            schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.types.StringType
    val stream = boundedStream(spark, srcDir,
      schema.add("_corrupt_record", StringType), maxFilesPerTrigger = 0,
      format = "json",
      options = Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record"))
    collectBatches(stream, "runStreamJsonlBounded")((batch, _) => batch)
  }

  /** Streaming anchor-text aggregation — link records arrive in
    * micro-batches; each batch's slice is checkpointed and the
    * aggregation ([[graft.operators.WebCuration.topAnchors]]) runs over
    * the accumulated link set, so the final table equals the batch
    * operator on the union (anchor frequencies and inlink totals are
    * pure aggregates of the links — arrival order cannot matter) and the
    * harness gates the twin with the batch oracle verbatim. The standing
    * state is the per-batch link slices — the incremental-curation
    * pattern; a production deployment would fold slices into the
    * warehouse table the batch operator reads. */
  def runStreamAnchorsBounded(spark: SparkSession, parquetPath: String,
                              k: Int): DataFrame = {
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger = 0)
    graft.operators.WebCuration.topAnchors(
      collectBatches(stream, "runStreamAnchorsBounded")((batch, _) => batch),
      "src", "dst", "anchor", k)
  }

  /** Streaming DISCOVERY seeds — feed documents (RSS/Atom XML polled
    * per site) arrive in micro-batches; each batch is parsed per-row
    * ([[graft.operators.Feeds.parseEntries]]), normalized to the
    * url-entry shape, and anti-joined against the STATIC crawled set on
    * arrival (stream-static with a broadcast-scale static side — the
    * robots-gate shape: no state store, no stream-side shuffle). The
    * per-domain seed rank is a pure window over the accumulated
    * survivor set (newest-first, loc tie-break), so arrival order
    * cannot matter and the bounded stream shares the batch q_feed_seeds
    * oracle VERBATIM (the runStreamAnchorsBounded discipline for the
    * rank, the robots-gate discipline for the join). */
  def runStreamSeedsBounded(spark: SparkSession, parquetPath: String,
                            xmlCol: String, domainCol: String,
                            crawled: DataFrame, crawledUrlCol: String): DataFrame = {
    import graft.operators.{Feeds, Sitemap}
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger = 0)
    val survivors = collectBatches(stream, "runStreamSeedsBounded") { (batch, _) =>
      val entries = Feeds.parseEntries(batch, xmlCol)
        .select(col(domainCol), col("kind").as("feed_kind"),
          lit("url").as("kind"), col("link").as("loc"),
          col("published").as("lastmod"))
      Sitemap.seedSurvivors(entries, domainCol, crawled, crawledUrlCol)
    }
    Sitemap.rankSeeds(survivors, domainCol)
  }

  /** Streaming robots.txt politeness gate — discovered URLs arrive in
    * micro-batches and are allow/disallow-decided on arrival against the
    * STATIC per-domain decision table (robots.txt is origin metadata
    * fetched out-of-band, not stream state): a stream-static broadcast
    * join plus a row-local longest-match fold
    * ([[graft.operators.RobotsTxt.gate]]), no state store, no shuffle on
    * the stream side — so stream ≡ batch VERBATIM and the harness gates
    * this twin with the batch query's full hash oracle. */
  def runStreamRobotsGateBounded(spark: SparkSession, parquetPath: String,
                                 idCol: String, rules: DataFrame,
                                 userAgent: String): DataFrame = {
    import graft.operators.RobotsTxt
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger = 0)
    collectBatches(stream, "runStreamRobotsGateBounded") { (batch, _) =>
      RobotsTxt.gate(batch, "url", rules, userAgent)
    }.dropDuplicates(idCol)
  }

  /** Streaming ENTITY RESOLUTION — records arrive in micro-batches and
    * are linked incrementally: each batch's block-key table
    * ([[graft.operators.EntityResolution.blockKeys]]) is computed once,
    * checkpointed, and becomes part of the standing block index; the
    * delta joins against that index plus itself
    * ([[graft.operators.EntityResolution.incrementalMatches]]), so the
    * corpus is never re-keyed and never self-joined per batch — the
    * incremental-curation cost model applied to record linkage. Every
    * record arrives exactly once, so each matched pair surfaces exactly
    * once (in its later member's batch) and the accumulated ledger
    * equals the batch pair set regardless of arrival order; entities
    * finalize through the SAME connected-components code as the batch
    * path, so stream ≡ batch VERBATIM and the harness gates this with
    * the batch query's full hash oracle (the q_stream_classify
    * discipline). The standing index for batch b is rebuilt as the union
    * of slices with id < b — identical on first delivery and on replay. */
  def runStreamErBounded(spark: SparkSession, parquetPath: String,
                         idCol: String, nameCol: String, maxDist: Int,
                         maxFilesPerTrigger: Int = 0): DataFrame = {
    import graft.operators.EntityResolution
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger)
    val keySlices = byBatchId()
    val recordSlices = byBatchId()
    val pairLedger = byBatchId()
    eachBatch(stream) { (batch, bid) =>
      val deltaKeyed = Materialize(EntityResolution
        .blockKeys(batch, idCol, nameCol, blockChars = 4))
      val corpusKeyed = keySlices.asScala.toSeq
        .filter(_._1 < bid).map(_._2)
        .reduceOption(_ unionByName _)
        .getOrElse(deltaKeyed.limit(0))
      pairLedger.put(bid, Materialize(EntityResolution
        .incrementalMatches(corpusKeyed, deltaKeyed, maxDist)))
      keySlices.put(bid, deltaKeyed)
      recordSlices.put(bid,
        Materialize(batch.select(col(idCol))))
    }
    val recs = recordSlices.values.asScala.toSeq
    require(recs.nonEmpty, "runStreamErBounded: stream produced no batches")
    val records = recs.reduce(_ unionByName _).dropDuplicates(idCol)
    val matches = pairLedger.values.asScala.toSeq
      .reduce(_ unionByName _).dropDuplicates("idA", "idB")
    EntityResolution.entities(records, idCol, matches)
  }

  /** Streaming Pareto front — the incremental skyline: the standing
    * FRONT is the ENTIRE cross-batch state, because dominance is
    * mergeable — front(A ∪ B) = front(front(A) ∪ front(B)) (a point
    * dominated in the union is dominated by some union-front point, and
    * fronts only shrink candidates, never verdicts). Each micro-batch
    * recomputes the front of (standing front ∪ delta) through the SAME
    * [[graft.operators.DataSelect.paretoFront2D]] code as batch, so the
    * final state equals the one-shot batch front VERBATIM regardless of
    * arrival order, and the harness gates this stream with the batch
    * query's full hash oracle (the q_stream_classify discipline). State
    * size is the front itself — domain-bounded, typically tiny — not the
    * corpus. The standing front for batch b is rebuilt from the latest
    * slice with id < b, so a replayed batch sees the front it saw first. */
  def runStreamParetoBounded(spark: SparkSession, parquetPath: String,
                             xCol: String, yCol: String,
                             maxFilesPerTrigger: Int = 0): DataFrame = {
    import graft.operators.DataSelect
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger)
    val fronts = byBatchId()
    eachBatch(stream) { (batch, bid) =>
      val standing = fronts.asScala.toSeq.filter(_._1 < bid)
        .sortBy(-_._1).headOption.map(_._2)
        .getOrElse(batch.limit(0))
      fronts.put(bid, Materialize(DataSelect
        .paretoFront2D(standing.unionByName(batch), xCol, yCol)))
    }
    val last = fronts.asScala.toSeq.sortBy(-_._1).headOption
    require(last.nonEmpty, "runStreamParetoBounded: stream produced no batches")
    last.get._2
  }

  /** Streaming DSIR scoring — the continuously-fed form of
    * [[graft.operators.DataSelect.dsirWeights]]: raw documents arrive in
    * micro-batches and the expensive narrow work (tokenize → n-gram →
    * bucket-hash feature extraction) runs PER BATCH as they land; the
    * B-row raw-distribution state and the per-doc scores finalize on
    * demand from the accumulated frames. Because bucket counts are pure
    * multiset functions of the input — no arrival-order dependence
    * anywhere — the final weights are replay- and order-invariant, so
    * the harness gates this stream with the batch q_dsir_weights oracle
    * verbatim (full hash), the same discipline as q_stream_classify. */
  def runStreamDsirBounded(spark: SparkSession, rawParquetPath: String,
                           target: DataFrame, idCol: String, textCol: String,
                           buckets: Int, maxFilesPerTrigger: Int = 0): DataFrame = {
    import graft.operators.DataSelect
    val stream = boundedStream(spark, rawParquetPath, maxFilesPerTrigger)
    val feats = byBatchId()
    val ids = byBatchId()
    eachBatch(stream) { (batch, bid) =>
      ids.put(bid, Materialize(batch.select(col(idCol))))
      feats.put(bid, Materialize(DataSelect
        .featureBuckets(batch, idCol, textCol, buckets)))
    }
    val featFrames = feats.values.asScala.toSeq
    val idFrames = ids.values.asScala.toSeq
    require(idFrames.nonEmpty, "runStreamDsirBounded: stream produced no batches")
    DataSelect.weightsFromFeatures(
      featFrames.reduce(_ unionByName _),
      idFrames.reduce(_ unionByName _).dropDuplicates(idCol),
      target, idCol, textCol, buckets)
  }

  /** Streaming hot-key detection: the SAME native Misra–Gries aggregate as
    * batch [[graft.operators.HeavyHitters]] runs as a streaming GLOBAL
    * aggregate — the capacity-sized mergeable buffer IS the streaming
    * state, serialized into the state store between micro-batches (the
    * TypedImperativeAggregate serialize/merge contract is exactly what
    * stateful streaming aggregation requires; `percentile_approx` streams
    * the same way). Map-side partials still apply per batch, so each
    * trigger shuffles only summaries, never keys.
    *
    * Complete output mode re-emits the one-row summary every trigger; the
    * memory sink's final snapshot is the whole stream's summary, returned
    * exploded as (item, est, n, sub). Estimates are arrival-order-
    * dependent (MG semantics) — the stream result equals SOME valid MG
    * run, which is why the harness gates it with the guarantee check
    * ([[graft.operators.HeavyHitters.violationsAgainst]]) instead of a
    * hash oracle. */
  def runStreamHotKeysBounded(spark: SparkSession, parquetPath: String,
                              itemCol: String, capacity: Int): DataFrame = {
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger = 1)
    graft.operators.HeavyHitters.itemsFromSummary(memorySnapshot(
      stream
        .select(col(itemCol).cast("long").as("item"))
        .agg(graft.operators.HeavyHitters.summary(col("item"), capacity).as("mg")),
      "complete"))
  }

  /** Streaming distinct-count rollup over the NATIVE HLL aggregate
    * ([[graft.expr.HllSketchAgg]]): per-segment sketches as streaming
    * state — the m-byte register array is the state-store payload across
    * micro-batches, exactly like the Misra–Gries buffer in
    * [[runStreamHotKeysBounded]]. The difference is the guarantee:
    * register-wise max makes the sketch a pure function of the input SET,
    * so the streaming result must equal the batch rollup BIT-EXACTLY no
    * matter how the replay batches — the harness gates that equality, a
    * stronger claim than MG's arrival-order-dependent bounds. */
  def runStreamDistinctBounded(spark: SparkSession, parquetPath: String,
                               segCol: String, valueCol: String, lgK: Int): DataFrame = {
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger = 1)
    // the SAME perSeg + __TOTAL__ derivation as the batch rollup, shared
    // verbatim — the bit-exact stream ≡ batch gate depends on it
    graft.operators.Profiler.rollupFromSketches(memorySnapshot(
      stream.filter(col(valueCol).isNotNull)
        .groupBy(col(segCol).cast("string").as("segment"))
        .agg(graft.operators.Profiler
          .hllSketch(col(valueCol).cast("long"), lgK).as("__sk")),
      "complete"))
  }

  /** Streaming crawl-trap ledger over KMV sketch state
    * ([[graft.operators.WebCuration.crawlTrapsSketch]]'s twin): pages
    * arrive in micro-batches (`build` maps the raw document stream to
    * its (url, fingerprint) page frame — plain Column ops, no closure
    * state), the per-template state is two bounded k-smallest-hash sets,
    * and the final ledger derivation is shared VERBATIM with the batch
    * form — KMV state is a set function, so the streaming ledger equals
    * the batch one bit-exactly regardless of how the replay batched,
    * and both share one oracle. */
  def runStreamTrapLedger(spark: SparkSession, parquetPath: String,
                          build: DataFrame => DataFrame, urlCol: String,
                          fingerprintCol: String, k: Int, minUrls: Int,
                          maxDiversity: Double): DataFrame = {
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger = 1)
    val sketches = memorySnapshot(
      graft.operators.WebCuration
        .trapKeyed(build(stream), urlCol, col(fingerprintCol))
        .groupBy(col("template"))
        .agg(graft.operators.SetSketch.kmvSketch(col("__u"), k).as("__sku"),
          graft.operators.SetSketch.kmvSketch(col("__f"), k).as("__skf")),
      "complete")
    graft.operators.WebCuration.trapLedgerFromSketches(sketches, minUrls, maxDiversity)
  }

  /** Streaming segment set-OVERLAP over the native KMV (theta) sketch
    * ([[graft.expr.KmvSketchAgg]]): per-segment k-smallest-hash sets as
    * streaming state, pairwise union/intersection/difference/Jaccard
    * derived from the final state. Like HLL (and unlike MG/KLL) the k
    * smallest distinct hashes are a pure function of the input SET, so
    * the streaming pair-overlap must equal the batch one BIT-EXACTLY no
    * matter how the replay batches — the harness gates that equality. */
  def runStreamOverlapBounded(spark: SparkSession, parquetPath: String,
                              segCol: String, valueCol: String, k: Int): DataFrame = {
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger = 1)
    // the SAME pairwise derivation as the batch operator, shared verbatim
    // — the bit-exact stream ≡ batch gate depends on it
    graft.operators.SetSketch.pairOverlapFromSketches(memorySnapshot(
      stream.filter(col(valueCol).isNotNull)
        .groupBy(col(segCol).cast("string").as("segment"))
        .agg(graft.operators.SetSketch
          .kmvSketch(col(valueCol).cast("long"), k).as("__sk")),
      "complete"))
  }

  /** Streaming model-quality monitoring: per-group tie-aware AUC over a
    * bounded replay. The streaming state is the (group, score) POSITIVE/
    * TOTAL count grid — exact sums, mergeable across micro-batches — and
    * the rank-walk U-statistic derivation runs over the final state via
    * the SAME code path as the batch operator. Because every figure is an
    * exact integer, the streaming result equals the batch result
    * IDENTICALLY (no tolerance gate needed): the harness oracles it with
    * the plain batch SQL. State size is |group|×|score domain| — feed it
    * quantized scores, same contract as the batch operator. */
  def runStreamAucBounded(spark: SparkSession, parquetPath: String,
                          groupExpr: Column, scoreExpr: Column,
                          labelExpr: Column): DataFrame = {
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger = 1)
    graft.operators.Eval.aucFromCounts(memorySnapshot(
      stream
        .select(groupExpr.cast("string").as("grp"),
          scoreExpr.cast("long").as("__s"),
          labelExpr.cast("boolean").as("__l"))
        .filter(col("__s").isNotNull && col("__l").isNotNull)
        .groupBy(col("grp"), col("__s"))
        .agg(sum(when(col("__l"), 1L).otherwise(0L)).as("__p"),
          count(lit(1)).as("__c")),
      "complete"))
  }

  /** Streaming quantile summary over the NATIVE KLL aggregate
    * ([[graft.expr.KllSketchAgg]]): per-segment compactor stacks as
    * streaming state — the k·log-sized buffer is the state-store payload
    * across micro-batches, like the Misra–Gries buffer in
    * [[runStreamHotKeysBounded]]. Like MG (and unlike HLL/CMS) the summary
    * content is arrival-order-dependent, so the stream result equals SOME
    * valid KLL run rather than the batch run bit-for-bit — which is why
    * the harness gates it with the self-reported worst-case rank bound
    * ([[graft.operators.QuantileSketch.violations]]) instead of a
    * stream ≡ batch equality. */
  def runStreamQuantileBounded(spark: SparkSession, parquetPath: String,
                               segCol: String, valueExpr: Column, k: Int,
                               ps: Seq[Double]): DataFrame = {
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger = 1)
    val summaries = memorySnapshot(
      stream
        .select(col(segCol).cast("string").as("segment"),
          valueExpr.cast("long").as("__v"))
        .filter(col("__v").isNotNull)
        .groupBy(col("segment"))
        .agg(graft.operators.QuantileSketch.summary(col("__v"), k).as("__sk")),
      "complete")
    // the SAME summary→estimate expansion as the batch operator, shared
    // verbatim — the guarantee gate depends on comparing like for like
    graft.operators.QuantileSketch.quantilesFromSummaries(summaries, ps)
  }

  /** Streaming point-frequency sketch over the NATIVE Count-Min aggregate:
    * the depth×width counter grid is the streaming state (complete-mode
    * global aggregation, grid merged across micro-batches), probed after
    * the stream ends with the exact top-`k` items. Elementwise-sum merge
    * makes CMS — like HLL, unlike MG — a pure function of the input
    * multiset, so the streaming result must equal the batch
    * [[graft.operators.FreqSketch.topItemEstimates]] BIT-EXACTLY no
    * matter how the replay batched; the harness gates that equality. */
  def runStreamFreqBounded(spark: SparkSession, parquetPath: String,
                           itemCol: String, k: Int,
                           depth: Int, width: Int): DataFrame = {
    import graft.operators.FreqSketch
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger = 1)
    val grid = memorySnapshot(
      stream.filter(col(itemCol).isNotNull)
        .select(col(itemCol).cast("long").as("item"))
        .agg(FreqSketch.cmsSketch(col("item"), depth, width).as("__sk")),
      "complete")
    // the SAME exact-top-k probe as the batch operator, shared verbatim —
    // the bit-exact stream ≡ batch gate depends on it
    val items = spark.read.parquet(parquetPath)
      .filter(col(itemCol).isNotNull)
      .select(col(itemCol).cast("long").as("item"))
    FreqSketch.probeTopK(items, grid, k)
  }

  /** Streaming PMI collocations: the (w1, w2) pair counts run as
    * complete-mode streaming state (vocab²-bounded, sum-mergeable across
    * micro-batches — plain counts), then the batch PMI derivation
    * ([[graft.operators.TextAnalysis.pmiFromPairCounts]]) runs over the
    * final snapshot, shared verbatim. Counts are EXACT integers, so the
    * streaming result is bit-identical to the batch operator and shares
    * its DuckDB oracle verbatim — the same full-hash-oracle pattern as
    * q_stream_anomalies / q_stream_auc, the strongest streaming claim
    * the harness can make. */
  def runStreamPmiBounded(spark: SparkSession, parquetPath: String,
                          textCol: String, minCount: Long, topK: Int): DataFrame = {
    import graft.operators.TextAnalysis
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger = 1)
    val counts = memorySnapshot(
      TextAnalysis.bigramPairs(stream, textCol)
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12")),
      "complete")
    // snapshot the state table: the derivation self-joins it three ways
    // (marginals + pair filter), and the memory-sink view resolves every
    // branch to the SAME MemoryPlan instance — ambiguous references
    // without this copy (vocab²-bounded, so the checkpoint is small)
    TextAnalysis.pmiFromPairCounts(Materialize(counts), minCount, topK)
  }

  /** Streaming per-class discriminative keywords: the (cls, term) token
    * counts run as complete-mode streaming state (vocab·|classes|-bounded,
    * sum-mergeable exact integers), then the batch odds-ratio derivation
    * ([[graft.operators.TextAnalysis.keywordsFromCounts]]) runs over the
    * final snapshot, shared verbatim — stream ≡ batch identically, so the
    * query shares the batch oracle (full hash gate), the same pattern as
    * [[runStreamPmiBounded]]. */
  def runStreamKeywordsBounded(spark: SparkSession, parquetPath: String,
                               classCol: String, textCol: String,
                               minCount: Long, topK: Int): DataFrame = {
    import graft.operators.TextAnalysis
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger = 1)
    val counts = memorySnapshot(
      TextAnalysis.classTermTokens(stream, classCol, textCol)
        .groupBy(col("cls"), col("term"))
        .agg(count(lit(1)).as("a")),
      "complete")
    // snapshot: the derivation self-joins the state table (marginals),
    // and memory-sink views resolve every branch to one MemoryPlan —
    // see runStreamPmiBounded
    TextAnalysis.keywordsFromCounts(Materialize(counts), minCount, topK)
  }

  /** Streaming per-segment Bloom filter over the native OR-merge
    * aggregate ([[graft.sink.BloomIndex.bloomAgg]]): segment filters as
    * complete-mode streaming state (numBits/8 bytes per segment,
    * regardless of event volume). Bitwise-OR merge makes the filter a
    * pure function of the input SET — like HLL/KMV the streaming bits
    * must equal the batch bits EXACTLY however the replay batches, and
    * the `_verify` gate compares the raw filter bytes per segment.
    * Output: (segment, bloom). */
  def runStreamBloomBounded(spark: SparkSession, parquetPath: String,
                            segCol: String, valueCol: String,
                            numBits: Int, numHashes: Int): DataFrame = {
    val stream = boundedStream(spark, parquetPath, maxFilesPerTrigger = 1)
    memorySnapshot(
      stream.filter(col(valueCol).isNotNull)
        .groupBy(col(segCol).cast("string").as("segment"))
        .agg(graft.sink.BloomIndex
          .bloomAgg(col(valueCol).cast("long"), numBits, numHashes).as("bloom")),
      "complete")
  }

  /** Streaming ingest-rate anomaly gate: per-(key, bucket) counts run as
    * complete-mode streaming state (grid-sized — |keys| · span buckets —
    * regardless of event volume; plain counts are sum-mergeable across
    * micro-batches), then the batch densify + integer z-test from
    * [[graft.operators.TimeSeries]] runs over the final snapshot. Counts
    * are EXACT, so the streaming result is bit-identical to the batch
    * operator and shares its DuckDB oracle verbatim — no tolerance gate
    * needed, the stronger claim the integer-exact design buys. */
  def runStreamRateAnomaliesBounded(spark: SparkSession, parquetPath: String,
                                    keyCol: String, bucketMicros: Long,
                                    window: Int, k: Int,
                                    maxFilesPerTrigger: Int = 1): DataFrame = {
    val ev = spark.read.parquet(parquetPath)
    val bucket = graft.operators.TimeSeries.bucketExpr(
      graft.functions.EventTime.micros(ev), bucketMicros)
    val stream = boundedStream(spark, parquetPath, ev.schema, maxFilesPerTrigger)
    val snapshot = memorySnapshot(
      stream
        .select(col(keyCol).cast("string").as("key"), bucket.as("bucket"))
        .groupBy(col("key"), col("bucket"))
        .agg(count(lit(1)).as("cnt")),
      "complete")
    // materialized: densify self-joins the counts frame, and a memory-
    // sink table's lineage trips analyzer reference-dedup; the snapshot is
    // grid-sized (keys × buckets), so materializing it is free
    val counts = Materialize(snapshot)
    graft.operators.TimeSeries.anomaliesFromCounts(
      graft.operators.TimeSeries.densify(counts), window, k)
  }

  /** Run the windowed aggregation over a parquet path as a bounded stream;
    * returns the final result as a batch DataFrame. */
  def runWindowedEventAgg(spark: SparkSession, parquetPath: String): DataFrame = {
    val stream = normalizeTs(boundedStream(spark, parquetPath, 0))
    memorySnapshot(windowedEventAgg(stream), "complete")
  }
}
