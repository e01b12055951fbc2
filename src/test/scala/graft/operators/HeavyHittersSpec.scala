package graft.operators

import graft.SparkSpec
import graft.expr.MisraGriesAgg
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  test("a key above the n/(k+1) threshold is always tracked, with tight bounds") {
    // 1000 rows: key 7 appears 400 times; 60 tail keys ~10 each
    val rows = Seq.fill(400)(7L) ++ (0 until 600).map(i => 100L + i % 60)
    val df = rows.toDF("k").repartition(8)
    val out = HeavyHitters.topItems(df, "k", capacity = 8)
      .as[(Long, Long, Long, Long)].collect()
    val n = out.head._3
    val sub = out.head._4
    assert(n === 1000L)
    assert(sub * 9 <= n)
    val hot = out.find(_._1 == 7L).getOrElse(fail("hot key 7 not tracked"))
    assert(hot._2 <= 400L && 400L <= hot._2 + sub)
  }

  test("violations() is empty across partitionings and capacities") {
    val rows = (0 until 2000).map(i => (i.toLong, (i * i * 31 + i) % 97))
    val df = rows.toDF("id", "k")
    for (parts <- Seq(1, 5, 32); cap <- Seq(4, 16, 64)) {
      val v = HeavyHitters.violations(df.repartition(parts), "k", cap)
      assert(v.isEmpty, s"parts=$parts cap=$cap: ${v.collect().mkString(";")}")
    }
  }

  test("nulls are skipped; n counts only non-null items") {
    val df = Seq[java.lang.Long](1L, null, 2L, null, 1L).toDF("k")
    val out = HeavyHitters.topItems(df, "k", capacity = 4)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.head._3 === 3L)
    assert(out.map(r => r._1 -> r._2).toMap === Map(1L -> 2L, 2L -> 1L))
  }

  test("serialize/deserialize round-trips the buffer exactly") {
    val agg = MisraGriesAgg(Literal(0L), capacity = 5)
    val buf = agg.createAggregationBuffer()
    Seq(1L, 2L, 1L, 3L, 4L, 5L, 6L, 1L).foreach(buf.add)
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.capacity === buf.capacity && back.n === buf.n &&
      back.sub === buf.sub && back.counts.toMap === buf.counts.toMap)
  }

  test("streaming MG: state carries across micro-batches, guarantees hold") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hotkeys").toString
    // 4 files = 4 micro-batches at maxFilesPerTrigger=1; key 42 is hot in
    // every batch, so its count only reaches 200 if state survives batches
    val rows = (0 until 1000).map(i => if (i % 5 == 0) 42L else (i % 37).toLong)
    rows.toDF("user_id").repartition(4).write.mode("overwrite").parquet(dir)
    try {
      val sk = graft.streaming.StreamingIngest.runStreamHotKeysBounded(
        spark, dir, "user_id", capacity = 8)
        .as[(Long, Long, Long, Long)].collect()
      assert(sk.head._3 === 1000L, "n must count the whole stream")
      val sub = sk.head._4
      val hot = sk.find(_._1 == 42L).getOrElse(fail("hot key lost across batches"))
      assert(hot._2 <= 200L && 200L <= hot._2 + sub)
      val items = rows.toDF("k").select(col("k").as("item"))
      assert(HeavyHitters.violationsAgainst(
        graft.streaming.StreamingIngest.runStreamHotKeysBounded(
          spark, dir, "user_id", capacity = 8),
        items, capacity = 8).isEmpty)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("per-group summaries: hot key per group tracked, violations empty") {
    import org.apache.spark.sql.functions.col
    // group A: key 7 ×300 over 100 tail rows; group B: key 9 ×200 over 80
    val rows = (Seq.fill(300)(7L) ++ (0 until 100).map(i => 100L + i % 20))
      .map(("A", _)) ++
      (Seq.fill(200)(9L) ++ (0 until 80).map(i => 200L + i % 16)).map(("B", _))
    val df = rows.toDF("g", "k").repartition(8)
    val out = HeavyHitters.topItemsByGroup(df, "g", "k", capacity = 8)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val byGrp = out.groupBy(_._1)
    assert(byGrp.keySet === Set("A", "B"))
    // per-group stream lengths and per-group hot keys with MG bounds
    assert(byGrp("A").head._4 === 400L && byGrp("B").head._4 === 280L)
    val hotA = byGrp("A").find(_._2 == 7L).getOrElse(fail("A hot key missing"))
    assert(hotA._3 <= 300L && 300L <= hotA._3 + hotA._5)
    val hotB = byGrp("B").find(_._2 == 9L).getOrElse(fail("B hot key missing"))
    assert(hotB._3 <= 200L && 200L <= hotB._3 + hotB._5)
    // the grouped certificate is empty across partitionings
    for (parts <- Seq(1, 7)) {
      val v = HeavyHitters.violationsByGroup(df.repartition(parts), "g", "k", 8)
      assert(v.isEmpty, v.collect().mkString(";"))
    }
    // and it catches a forged group: corrupting one group's estimate fires
    val fxV = HeavyHitters.violationsByGroup(
      spark.read.parquet(s"${testDataDir()}/events.parquet"),
      "event_type", "user_id", 16)
    assert(fxV.isEmpty, fxV.collect().mkString(";"))
    assert(HeavyHitters.topItemsByGroup(
      spark.read.parquet(s"${testDataDir()}/events.parquet"),
      "event_type", "user_id", 16)
      .select(col("grp")).distinct().count() >= 2)
  }

  test("empty-summary group still emits a carrier row and stays certified") {
    // capacity 1, two distinct singletons: insert 1 → {1:1}; insert 2 →
    // buffer full → decrement-all clears it. The group's summary ends
    // EMPTY — explode would drop it entirely; explode_outer keeps one
    // (grp, null, null, n, sub) carrier so the certificate still sees it.
    val rows = Seq(("E", 1L), ("E", 2L), ("F", 7L), ("F", 7L), ("F", 8L))
    val df = rows.toDF("g", "k")
    val out = HeavyHitters.topItemsByGroup(df, "g", "k", capacity = 1)
      .collect()
    val eRows = out.filter(_.getString(0) == "E")
    assert(eRows.length === 1, "empty-summary group must emit one carrier")
    assert(eRows.head.isNullAt(1), "carrier row item must be NULL")
    assert(eRows.head.getLong(3) === 2L, "carrier n must be the stream length")
    assert(eRows.head.getLong(4) === 1L, "carrier must keep the decrement count")
    // the carrier must not be misread as a phantom item, and the stats
    // checks (bad_stream_length / sub_bound) still run for group E
    val v = HeavyHitters.violationsByGroup(df, "g", "k", capacity = 1)
    assert(v.isEmpty, v.collect().mkString(";"))
  }

  test("merge keeps at most capacity items and the MG invariant") {
    val agg = MisraGriesAgg(Literal(0L), capacity = 3)
    val a = agg.createAggregationBuffer()
    val b = agg.createAggregationBuffer()
    (Seq.fill(50)(1L) ++ Seq.fill(30)(2L) ++ Seq(3L, 4L, 5L)).foreach(a.add)
    (Seq.fill(40)(1L) ++ Seq.fill(20)(6L) ++ Seq(7L, 8L, 9L)).foreach(b.add)
    a.mergeIn(b)
    assert(a.counts.size <= 3)
    assert(a.n === 50 + 30 + 3 + 40 + 20 + 3)
    // the overall hottest key must survive the merge trim
    assert(a.counts.contains(1L))
    val est1 = a.counts(1L)
    assert(est1 <= 90L && 90L <= est1 + a.sub)
  }
}
