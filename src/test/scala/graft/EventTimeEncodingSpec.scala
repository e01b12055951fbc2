package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import graft.functions.EventTime

/** Regression guard for the events fixture's PHYSICAL time encoding.
  *
  * The driver has shipped `events.ts` two ways across rounds: parquet
  * TIMESTAMP(NANOS) (Spark reads int64 nanos under
  * `spark.sql.legacy.parquet.nanosAsLong=true`) and parquet
  * TIMESTAMP_MICROS without a zone (Spark reads TIMESTAMP_NTZ). Round 7
  * silently lost 13 queries to that drift because every consumer hard-coded
  * one encoding. This spec writes the SAME tiny events table in BOTH
  * encodings and drives the time-consuming operator families over each, so
  * the next encoding change fails here instead of zeroing a query family at
  * verify time.
  */
class EventTimeEncodingSpec extends SparkSpec {
  import spark.implicits._

  /** (user, event_id, micros, event_type, value) — two users, one exact-gap
    * boundary (events 30 min apart share a session; >30 min splits). */
  private val base = Seq(
    (1L, 10L, 1000000000000L, "view", 1.0),
    (1L, 11L, 1000000600000L, "click", 2.0),
    (1L, 12L, 1000000600000L + 1800L * 1000 * 1000, "purchase", 3.0), // exact gap: same session
    (1L, 13L, 5000000000000L, "view", 4.0),                           // far later: new session
    (2L, 20L, 1000000300000L, "view", 5.0),
    (2L, 21L, 9000000000000L, "click", 6.0))

  private def writeBoth(dir: String): (String, String) = {
    val df = base.toDF("user_id", "event_id", "us", "event_type", "value")
    val nanosPath = s"$dir/events_nanos.parquet"
    val ntzPath = s"$dir/events_ntz.parquet"
    // legacy encoding: int64 nanos read back as LongType
    df.select(col("user_id"), col("event_id"), col("event_type"),
        (col("us") * 1000L).as("ts"), col("value"))
      .write.mode("overwrite").parquet(nanosPath)
    // current encoding: TIMESTAMP_MICROS without zone reads as TIMESTAMP_NTZ
    df.select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"), col("value"))
      .write.mode("overwrite").parquet(ntzPath)
    (nanosPath, ntzPath)
  }

  private def withBoth(f: (String, String) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ts-enc").toString
    try { val (a, b) = writeBoth(dir); f(a, b) }
    finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("both encodings round-trip to the same epoch micros") {
    withBoth { (nanosPath, ntzPath) =>
      val n = spark.read.parquet(nanosPath)
      val z = spark.read.parquet(ntzPath)
      assert(n.schema("ts").dataType == LongType)
      assert(z.schema("ts").dataType == TimestampNTZType)
      def us(df: DataFrame): Seq[(Long, Long)] = df
        .select(col("event_id"), EventTime.micros(df).as("us"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val want = base.map(r => (r._2, r._3)).sorted
      assert(us(n) == want, "nanos-long encoding")
      assert(us(z) == want, "TIMESTAMP_NTZ encoding")
      // timestamp shape agrees too (UTC session: NTZ cast is the identity)
      def tsm(df: DataFrame): Seq[(Long, Long)] = df
        .select(col("event_id"), unix_micros(EventTime.timestamp(df)).as("us"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(tsm(n) == want)
      assert(tsm(z) == want)
    }
  }

  test("batch sessionize and decay agg are encoding-invariant") {
    withBoth { (nanosPath, ntzPath) =>
      def sessions(path: String): Seq[Seq[Any]] = {
        val ev0 = spark.read.parquet(path)
        val ev = ev0.select(col("user_id"), col("event_id"),
          EventTime.micros(ev0).as("us"))
        operators.Sessionize.sessionize(ev, Seq("user_id"), tsCol = "us",
            tieCol = "event_id", gap = 1800L * 1000 * 1000)
          .orderBy("user_id", "session_seq")
          .collect().map(_.toSeq).toSeq
      }
      val (sn, sz) = (sessions(nanosPath), sessions(ntzPath))
      assert(sn == sz)
      // the exact-gap boundary landed in ONE session (strict-> split rule)
      assert(sn.nonEmpty)
      def decay(path: String): Seq[Seq[Any]] = {
        val ev0 = spark.read.parquet(path)
        operators.TimeDecay.decayedAgg(
            ev0.select(col("user_id"), EventTime.micros(ev0).as("us"), col("value")),
            "user_id", "us", "value",
            asOfMicros = 5000000000000L, halfLifeDays = 7.0)
          .orderBy("user_id").collect().map(_.toSeq).toSeq
      }
      assert(decay(nanosPath) == decay(ntzPath))
    }
  }

  test("as-of join is encoding-invariant") {
    withBoth { (nanosPath, ntzPath) =>
      def asof(path: String): Seq[Seq[Any]] = {
        val ev0 = spark.read.parquet(path)
        val ev = ev0.withColumn("ts", EventTime.timestamp(ev0))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id").as("vid"))
        operators.AsOfJoin.asOfBackward(clicks, views, Seq("user_id"),
            "ts", "ts", Seq("vid"), "vid")
          .select(col("event_id"), col("vid"))
          .orderBy("event_id").collect().map(_.toSeq).toSeq
      }
      val got = asof(nanosPath)
      assert(got == asof(ntzPath))
      assert(got.nonEmpty)
    }
  }

  test("watermarked streaming sessionize runs on both encodings, equal results") {
    withBoth { (nanosPath, ntzPath) =>
      def run(path: String, tag: String): Seq[Seq[Any]] =
        streaming.StreamingIngest.runSessionizeBounded(spark, path,
            gapMicros = 1800L * 1000 * 1000)
          .orderBy("user_id", "session_start")
          .collect().map(_.toSeq).toSeq
      val (a, b) = (run(nanosPath, "nanos"), run(ntzPath, "ntz"))
      assert(a == b, "stream sessions diverge across encodings")
      assert(a.nonEmpty)
    }
  }
}
