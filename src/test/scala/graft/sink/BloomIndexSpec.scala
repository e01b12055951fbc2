package graft.sink

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.expr.BloomBuffer

class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String = tempDir("graft_bi_spec_")

  test("buffer: no false negatives ever; fpp near theory; serde round-trip") {
    val buf = new BloomBuffer(1 << 14, 5)
    (1L to 2000L).foreach(buf.add)
    (1L to 2000L).foreach(v => assert(buf.mightContain(v),
      s"false NEGATIVE for $v — breaks the skipping contract"))
    val falsePos = (100001L to 110000L).count(buf.mightContain)
    val expected = BloomBuffer.fpp(1 << 14, 5, 2000) * 10000
    assert(falsePos <= expected * 3 + 10, s"fpp way over theory: $falsePos")
    val back = BloomBuffer.deserialize(buf.serialize())
    assert(back.words.sameElements(buf.words) && back.n == buf.n)
  }

  test("OR-merge equals the single-pass filter byte-exactly") {
    val all = new BloomBuffer(4096, 4)
    val (a, b) = (new BloomBuffer(4096, 4), new BloomBuffer(4096, 4))
    (1L to 3000L).foreach { v =>
      all.add(v)
      if (v <= 2000) a.add(v)
      if (v > 1000) b.add(v) // overlapping halves
    }
    a.mergeIn(b)
    assert(a.words.sameElements(all.words),
      "merged bits diverge from single pass — not a pure set function")
    intercept[IllegalArgumentException] { a.mergeIn(new BloomBuffer(2048, 4)) }
  }

  test("aggregate is partitioning-invariant and ignores nulls") {
    val df = (1 to 10000)
      .map(i => (if (i % 13 == 0) None else Some((i % 900).toLong), i))
      .toDF("v", "i")
    def bits(parts: Int): Array[Byte] =
      df.repartition(parts, col("i"))
        .agg(BloomIndex.bloomAgg(col("v"), 1 << 14, 5).as("b"))
        .head().getAs[Array[Byte]]("b")
    val one = bits(1)
    assert(one.sameElements(bits(7)))
    assert(BloomBuffer.deserialize(one).n == (1 to 10000).count(_ % 13 != 0))
  }

  test("point read skips most files and equals the plain filter exactly") {
    val base = freshDir()
    // clustered by t; looked up by k, which scatters across every file
    val df = (1L to 20000L).map(v => (v, v * 31 % 4096, s"p$v"))
      .toDF("t", "k", "payload")
    ZoneMap.writeClustered(df, base, "t", nFiles = 16)
    BloomIndex.buildIndex(spark, base, "k")
    // sanctioned-bounded-collect pin (see candidateFiles scaladoc): the
    // index relation — the superset of anything the driver collects — is
    // FILE-count sized, never row-count sized
    val idx = spark.read.parquet(s"$base/bloomindex_k").collect()
    assert(idx.length == 16)
    // zone maps CANNOT prune this lookup (every file's k-envelope is
    // full-range); the bloom index must — k=77 lives in ~5 of 16 files
    val cands = BloomIndex.candidateFiles(spark, base, "k", 77L)
    assert(cands.nonEmpty && cands.length < 16,
      s"no files skipped: ${cands.length} of 16")
    val got = BloomIndex.pointRead(spark, base, "k", 77L)
      .select(col("t")).collect().map(_.getLong(0)).sorted
    val want = (1L to 20000L).filter(v => v * 31 % 4096 == 77L).sorted
    assert(got.toSeq == want)
  }

  test("absent key: read returns empty, schema intact, maybe zero files") {
    val base = freshDir()
    ZoneMap.writeClustered((1L to 500L).map(v => (v, v)).toDF("t", "k"),
      base, "t", nFiles = 4)
    BloomIndex.buildIndex(spark, base, "k")
    val out = BloomIndex.pointRead(spark, base, "k", 999999L)
    assert(out.columns.toSeq == Seq("t", "k"))
    assert(out.count() == 0)
  }

  test("streaming filter state carries across micro-batches, ≡ batch bit-exact") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bloom-stream").toString
    try {
      val src = s"$tmp/events"
      spark.read.parquet(s"${testDataDir()}/events.parquet")
        .repartition(3).write.parquet(src) // 3 files → 3 micro-batches
      val stream = graft.streaming.StreamingIngest
        .runStreamBloomBounded(spark, src, "event_type", "user_id",
          numBits = 1 << 14, numHashes = 7)
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq)
        .toMap
      val ev = spark.read.parquet(src).filter(col("user_id").isNotNull)
      val batch = ev
        .groupBy(col("event_type").cast("string").as("segment"))
        .agg(BloomIndex.bloomAgg(col("user_id").cast("long"), 1 << 14, 7)
          .as("bloom"))
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq)
        .toMap
      assert(stream.keySet === batch.keySet)
      assert(stream === batch,
        "streamed Bloom bits diverged from batch — OR-merge must be replay-invariant")
      // the Bloom contract on the streamed state: every true member probes TRUE
      val members = ev.select(col("event_type").cast("string"),
        col("user_id").cast("long")).distinct().collect()
        .map(r => r.getString(0) -> r.getLong(1))
      members.foreach { case (seg, u) =>
        val buf = graft.expr.BloomBuffer.deserialize(stream(seg).toArray)
        assert(buf.mightContain(u), s"false negative for ($seg, $u)")
      }
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(tmp))
  }
}
