package graft.expr

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.FreqSketch

class CountMinAggregateSpec extends SparkSpec {
  import spark.implicits._

  test("buffer: serde round-trip, exact on sparse input, never undercounts") {
    val buf = new CmsBuffer(8, 1024)
    (1L to 50L).foreach(v => (0 until v.toInt).foreach(_ => buf.add(v)))
    val back = CmsBuffer.deserialize(buf.serialize())
    assert(back.depth == 8 && back.width == 1024 && back.n == buf.n)
    assert(back.counters.sameElements(buf.counters))
    // 50 items in 1024 slots: collisions possible per row but the MIN over
    // 8 independent rows is exact with overwhelming probability — and the
    // lower bound is deterministic either way
    (1L to 50L).foreach { v =>
      assert(buf.estimate(v) >= v, s"undercount for $v")
      assert(buf.estimate(v) <= v + 2, s"gross overcount for $v: ${buf.estimate(v)}")
    }
    assert(buf.estimate(9999L) <= 2, "absent item should estimate near zero")
  }

  test("merge is elementwise sum: bit-equal to single pass, shape-checked") {
    val all = new CmsBuffer(6, 512)
    val (a, b) = (new CmsBuffer(6, 512), new CmsBuffer(6, 512))
    (1L to 10000L).foreach { v =>
      val item = v % 700
      all.add(item)
      if (v % 2 == 0) a.add(item) else b.add(item)
    }
    a.mergeIn(b)
    assert(a.n == all.n)
    assert(a.counters.sameElements(all.counters))
    intercept[IllegalArgumentException] { a.mergeIn(new CmsBuffer(6, 256)) }
  }

  test("aggregate: partitioning-invariant, null-safe, estimates bounded") {
    val df = (1 to 30000)
      .map(i => (if (i % 11 == 0) None else Some((i % 500).toLong), i))
      .toDF("v", "i")
    def run(parts: Int): Map[Long, Long] =
      FreqSketch.topItemEstimates(df.repartition(parts), "v", k = 20)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val (e1, e9) = (run(1), run(9))
    assert(e1 == e9, "estimates must not depend on partitioning")
    val exact = FreqSketch.topItemEstimates(df, "v", k = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    e1.foreach { case (item, est) =>
      assert(est >= exact(item), s"undercount for $item")
    }
  }

  test("streaming CMS state carries across micro-batches, ≡ batch bit-exact") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cms-stream").toString
    try {
      val src = s"$tmp/events"
      spark.read.parquet(s"${testDataDir()}/events.parquet")
        .repartition(3).write.parquet(src) // 3 files → 3 micro-batches
      val stream = graft.streaming.StreamingIngest
        .runStreamFreqBounded(spark, src, "user_id", k = 20,
          depth = 10, width = 2048)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val batch = FreqSketch
        .topItemEstimates(spark.read.parquet(src), "user_id", k = 20)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(stream == batch,
        "streaming CMS diverged from batch — elementwise sum must be a pure multiset function")
      // sf0.001 has 15 distinct users — fewer than k, all of them probed
      assert(stream.nonEmpty && stream.size <= 20)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(tmp))
  }

  test("fixture gate: violations empty on events") {
    val ev = spark.read.parquet(s"${testDataDir()}/events.parquet")
    val viol = FreqSketch.violations(ev, "user_id", "event_type")
    assert(viol.isEmpty, s"violations: ${viol.collect().mkString(", ")}")
  }

  test("inner product: exact join size when collision-free, never under") {
    // A: key k occurs k times (k=1..20); B: every key once plus key 7
    // three extra times -> true join size = sum(k) + 3*7 = 210 + 21
    val a = new CmsBuffer(8, 4096)
    (1L to 20L).foreach(k => (1L to k).foreach(_ => a.add(k)))
    val b = new CmsBuffer(8, 4096)
    (1L to 20L).foreach(b.add); (1 to 3).foreach(_ => b.add(7L))
    val trueSize = (1 to 20).sum + 3 * 7
    val est = a.innerProduct(b)
    assert(est >= trueSize, "CMS inner product must never undercount")
    // 20 keys in 4096 slots: collisions possible per row, but the min
    // over 8 rows is within the published bound with huge margin
    assert(est <= trueSize + math.E / 4096 * a.n * b.n + 1)
    // shape mismatch refuses
    intercept[IllegalArgumentException] {
      a.innerProduct(new CmsBuffer(8, 2048))
    }
  }

  test("join-size estimate operator: gate empty, exact self-join F2") {
    val ev = spark.read.parquet(s"${testDataDir()}/events.parquet")
    val viol = FreqSketch.joinSizeViolations(ev, "user_id", ev, "user_id")
      .collect()
    assert(viol.isEmpty, viol.mkString("; "))
    val est = FreqSketch.joinSizeEstimate(ev, "user_id", ev, "user_id")
      .head()
    val exact = {
      import spark.implicits._
      val k = ev.select(col("user_id").cast("long").as("k"))
        .filter(col("k").isNotNull)
      k.join(k, Seq("k")).count()
    }
    assert(est.getAs[Long]("est") >= exact)
    assert(est.getAs[Long]("n_a") == est.getAs[Long]("n_b"))
  }
}
