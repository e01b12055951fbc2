package graft.expr

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Profiler

class HllAggregateSpec extends SparkSpec {
  import spark.implicits._

  test("buffer: serialize round-trips registers, n, and precision") {
    val buf = new HllBuffer(10)
    (1L to 5000L).foreach(v => buf.add(v * 2654435761L))
    val back = HllBuffer.deserialize(buf.serialize())
    assert(back.lgK == 10 && back.n == buf.n)
    assert(back.registers.sameElements(buf.registers))
    assert(back.estimate == buf.estimate)
  }

  test("estimate within the 3-sigma RSE bound, large and small range") {
    // large range: 100k distinct at lgK=12 (RSE ~1.6%)
    val big = new HllBuffer(12)
    (1L to 100000L).foreach(big.add)
    assert(math.abs(big.estimate - 100000.0) <= 3 * HllBuffer.rse(12) * 100000.0)
    // small range: 60 distinct hits the linear-counting branch, near-exact
    val small = new HllBuffer(12)
    (1L to 60L).foreach(v => { small.add(v); small.add(v) }) // dups ignored
    assert(math.abs(small.estimate - 60.0) <= 2.0)
    assert(small.n == 120) // n is the exact ROW count, not distinct
  }

  test("register-wise max merge equals the single-pass sketch, bit-exact") {
    val all = new HllBuffer(11)
    val (a, b, c) = (new HllBuffer(11), new HllBuffer(11), new HllBuffer(11))
    (1L to 30000L).foreach { v =>
      all.add(v)
      // overlapping thirds — merge must not double-count the overlap
      if (v <= 15000) a.add(v)
      if (v > 5000 && v <= 25000) b.add(v)
      if (v > 20000) c.add(v)
    }
    a.mergeIn(b); a.mergeIn(c)
    assert(a.registers.sameElements(all.registers),
      "merged registers diverge from the single-pass sketch")
    assert(a.estimate == all.estimate)
    // precision mismatch is an error, not a silent downgrade
    intercept[IllegalArgumentException] {
      a.mergeIn(new HllBuffer(12))
    }
  }

  test("aggregate is partitioning-invariant and ignores nulls") {
    // null pattern period 13 is coprime to the value period 3000, so every
    // residue keeps surviving rows and the true distinct stays exactly 3000
    // (a %10 pattern would silently erase whole residue classes: 3000≡0
    // mod 10)
    val kept = (1 to 20000).count(_ % 13 != 0)
    val df = (1 to 20000)
      .map(i => (if (i % 13 == 0) None else Some((i % 3000).toLong), i))
      .toDF("v", "i")
    def est(parts: Int): (Long, Long) = {
      val r = df.repartition(parts)
        .agg(Profiler.hllSketch(col("v"), 12).as("sk"))
        .select(Profiler.hllEstimate(col("sk")).as("e"))
        .select(col("e.n"), col("e.est")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (n1, e1) = est(1)
    val (n7, e7) = est(7)
    assert(n1 == kept && n7 == kept, "n must count exactly the non-nulls")
    assert(e1 == e7, "estimate must not depend on partitioning")
    assert(math.abs(e1 - 3000.0) <= 3 * HllBuffer.rse(12) * 3000.0)
  }

  test("sketch-union aggregate over per-segment sketches equals direct global") {
    val df = (1L to 12000L).map(v => (v % 4, v % 2500)).toDF("seg", "v")
    val sk = df.groupBy(col("seg"))
      .agg(Profiler.hllSketch(col("v"), 10).as("sk"))
    val merged = sk.agg(Profiler.hllMerge(col("sk")).as("u"))
      .select(Profiler.hllEstimate(col("u")).getField("est")).head().getLong(0)
    val direct = df.agg(Profiler.hllSketch(col("v"), 10).as("g"))
      .select(Profiler.hllEstimate(col("g")).getField("est")).head().getLong(0)
    assert(merged == direct, "sketch union must be bit-consistent with direct")
    // empty merge input → empty-marker sketch → estimate 0
    val empty = sk.filter(col("seg") < 0)
      .agg(Profiler.hllMerge(col("sk")).as("u"))
      .select(Profiler.hllEstimate(col("u")).getField("est")).head().getLong(0)
    assert(empty == 0L)
  }

  test("streaming sketch state carries across micro-batches, ≡ batch bit-exact") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-hll-stream").toString
    try {
      val src = s"$tmp/events"
      spark.read.parquet(s"${testDataDir()}/events.parquet")
        .repartition(3).write.parquet(src) // 3 files → 3 micro-batches
      val stream = graft.streaming.StreamingIngest
        .runStreamDistinctBounded(spark, src, "event_type", "user_id",
          lgK = 12)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val batch = Profiler
        .nativeDistinctRollup(spark.read.parquet(src), "event_type", "user_id")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(stream == batch,
        "streaming rollup diverged from batch — the sketch must be a pure set function")
      assert(stream.contains("__TOTAL__") && stream.size >= 2)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(tmp))
  }

  test("NULL segment is a real segment: no spurious violations, rollup row kept") {
    val df = (1 to 3000)
      .map(i => (if (i % 3 == 0) None else Some(s"s${i % 2}"),
        (i % 400).toLong))
      .toDF("seg", "v")
    val roll = Profiler.nativeDistinctRollup(df, "seg", "v")
      .collect().map(r => Option(r.getString(0)) -> r.getLong(2)).toMap
    assert(roll.contains(None), "null segment dropped from the rollup")
    assert(roll.contains(Some("__TOTAL__")))
    // the gate must pair the NULL-segment estimate with its exact twin —
    // a plain equi-join orphans both into spurious violations
    val viol = Profiler.nativeDistinctViolations(df, "seg", "v")
    assert(viol.isEmpty, s"violations: ${viol.collect().mkString(", ")}")
  }

  test("rollup scans rows ONCE at runtime: AQE reuses the sketch exchange") {
    // The rollup unions per-segment estimates with the sketch-union total;
    // statically that is two scans of the input, but both branches share
    // an identical partial-sketch exchange, and AQE's exchange reuse must
    // collapse them at runtime — at 100 TB this is scan-once vs
    // scan-twice, so it is guarded, not assumed.
    val ev = spark.read.parquet(s"${testDataDir()}/events.parquet")
    val roll = Profiler.nativeDistinctRollup(ev, "event_type", "user_id")
    roll.collect()
    val executed = roll.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      s"sketch exchange not reused — the union re-scans the input:\n$executed")
  }

  test("fixture gate: rollup violations empty; estimates match shape") {
    val ev = spark.read.parquet(s"${testDataDir()}/events.parquet")
    val viol = Profiler.nativeDistinctViolations(ev, "event_type", "user_id")
    assert(viol.isEmpty, s"violations: ${viol.collect().mkString(", ")}")
    val roll = Profiler.nativeDistinctRollup(ev, "event_type", "user_id")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(roll.contains("__TOTAL__"))
    assert(roll.size >= 2)
    // the total cannot estimate below any single segment by more than noise
    val maxSeg = (roll - "__TOTAL__").values.max
    assert(roll("__TOTAL__") >= (maxSeg * 0.9).toLong)
  }
}
