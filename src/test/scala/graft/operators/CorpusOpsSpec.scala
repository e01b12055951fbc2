package graft.operators

import org.apache.spark.sql.functions._

/** Specs for the round-3 corpus operators: sessionization, TF-IDF,
  * deterministic sampling, PII redaction. */
class CorpusOpsSpec extends graft.SparkSpec {

  test("sessionize: gap splits, exact-gap continues, ties deterministic") {
    import spark.implicits._
    val gap = 100L
    val ev = Seq(
      // user 1: gap of exactly 100 continues, 101 splits
      (1L, 10L, 0L), (1L, 11L, 100L), (1L, 12L, 201L), (1L, 13L, 250L),
      // user 2: single event
      (2L, 20L, 5L),
      // user 1 tie on ts: ordered by event_id
      (1L, 14L, 250L),
    ).toDF("user_id", "event_id", "us")
    val labeled = Sessionize.withSessionIds(ev, Seq("user_id"), "us", "event_id", gap)
      .select("user_id", "event_id", "session_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(labeled((1L, 10L)) == 1 && labeled((1L, 11L)) == 1) // exact gap continues
    assert(labeled((1L, 12L)) == 2 && labeled((1L, 13L)) == 2)
    assert(labeled((1L, 14L)) == 2) // tie at 250 joins the same session
    assert(labeled((2L, 20L)) == 1)

    val sess = Sessionize.sessionize(ev, Seq("user_id"), "us", "event_id", gap)
      .orderBy("user_id", "session_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(sess.toSeq == Seq(
      (1L, 1L, 0L, 100L, 2L), (1L, 2L, 201L, 250L, 3L), (2L, 1L, 5L, 5L, 1L)))
  }

  test("sessionize plan: one Window exchange, flag and running sum fused") {
    import spark.implicits._
    val ev = Seq((1L, 1L, 0L)).toDF("user_id", "event_id", "us")
    val plan = Sessionize.withSessionIds(ev, Seq("user_id"), "us", "event_id", 10L)
      .queryExecution.executedPlan.toString
    // the lag flag and running sum plan as two stacked Window operators —
    // what matters is that they share ONE exchange (same partitioning)
    assert(plan.split("Exchange").length - 1 <= 1, s"extra exchanges in:\n$plan")
  }

  test("streaming sessionize: exact-gap merge, sentinel filtered, ends emitted") {
    import spark.implicits._
    // SECOND-scale times: Spark tracks watermarks in milliseconds, so
    // sub-millisecond event spans never advance the watermark and no
    // session would ever finalize.
    val gapUs = 100L * 1000 * 1000 // 100 s
    val s1 = 1000L * 1000 * 1000 * 1000 // 1000 s in nanos
    def ns(sec: Long) = sec * 1000L * 1000 * 1000
    val ev = Seq(
      (10L, 1L, ns(1000)), (11L, 1L, ns(1100)),      // exactly gap apart -> MERGES (touching windows)
      (12L, 1L, ns(1300)), (13L, 2L, ns(1050)),      // 200 s after 1100 -> splits
    ).toDF("event_id", "user_id", "ts")
    val dir = java.nio.file.Files.createTempDirectory("sess-spec").toString
    ev.write.mode("overwrite").parquet(dir + "/events.parquet")
    def us(sec: Long) = sec * 1000L * 1000
    val out = graft.streaming.StreamingIngest.runSessionizeBounded(
        spark, dir + "/events.parquet", gapUs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out == Set(
      (1L, us(1000), us(1100), 2L), // exactly-gap events merge (touching windows)
      (1L, us(1300), us(1300), 1L), // 200 s > gap splits
      (2L, us(1050), us(1050), 1L)))
    assert(!out.exists(_._1 == -1L), "sentinel must be filtered")
  }

  test("tfidf: hand-computed scores, rank ties break by term") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),   // tf(apple)=2, tf(banana)=1
      (2L, "banana cherry"),        // both df=2 → genuine score tie
      (3L, "durian cherry"),
    ).toDF("doc_id", "text")
    val out = TfIdf.topTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val n = 3.0
    def s(tf: Int, df: Int): Double =
      BigDecimal(tf * math.log(n / df)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: apple 2*ln(3/1)=2.197, banana 1*ln(3/2)=0.405
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, "apple", 1L, s(2, 1)), (1L, "banana", 2L, s(1, 2))))
    // doc 2: banana and cherry both tf=1 df=2 → equal score, term asc
    assert(out.filter(_._1 == 2L).map(t => (t._2, t._3)).toSeq ==
      Seq(("banana", 1L), ("cherry", 2L)))
    // doc 3: durian (df=1) outranks the shared cherry
    assert(out.filter(_._1 == 3L).toSeq == Seq(
      (3L, "durian", 1L, s(1, 1)), (3L, "cherry", 2L, s(1, 2))))
  }

  test("rateAnomalies: planted spike and dead-source collapse flagged, steady state not") {
    val s = spark; import s.implicits._
    // key A: 2 events/bucket for buckets 0..29, EXCEPT silence at bucket
    // 15 (dead source) and a spike of 12 at bucket 25; key B: steady 3.
    val rows = for {
      b <- 0 until 30
      (key, n) <- Seq(
        ("A", if (b == 25) 12 else if (b == 15) 0 else 2),
        ("B", 3))
      i <- 0 until n
    } yield (key, b.toLong * 1000000L + i)
    val df = rows.toDF("k", "us")
    val got = TimeSeries.rateAnomalies(df, "k", col("us"),
        bucketMicros = 1000000L, window = 10, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // collapse at 15: trailing 5..14 is constant-2, σ=0 → (0−20)²>0 flags.
    // spike at 25: trailing 15..24 = {0, 2×9}: (120−18)²=10404 >
    // 9·(10·36−324)=324 flags. Neighbors of both stay inside their
    // (contaminated, wider-σ) baselines; B never deviates.
    assert(got == Set(("A", 15L, 0L), ("A", 25L, 12L)), s"got: $got")
    // zero-filled gap: a key absent from a bucket still yields a row in
    // the densified grid (the collapse above IS that case)
    val filled = TimeSeries.bucketCounts(df, "k", col("us"), 1000000L)
    assert(filled.count() == 60L) // 2 keys x 30 buckets, gaps included
  }

  test("streaming rate anomalies ≡ batch bit-exact across micro-batches") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-anom-stream").toString
    try {
      val src = s"$tmp/events"
      spark.read.parquet(s"${testDataDir("0.01")}/events.parquet")
        .repartition(3).write.parquet(src) // 3 files → 3 micro-batches
      val stream = graft.streaming.StreamingIngest
        .runStreamRateAnomaliesBounded(spark, src, "event_type",
          bucketMicros = 3600L * 1000 * 1000, window = 24, k = 3)
        .collect().map(_.toSeq).toSet
      val ev = spark.read.parquet(src)
      val batch = TimeSeries.rateAnomalies(ev, "event_type",
          graft.functions.EventTime.micros(ev),
          bucketMicros = 3600L * 1000 * 1000, window = 24, k = 3)
        .collect().map(_.toSeq).toSet
      assert(stream == batch, "streaming anomalies diverged from batch")
      assert(stream.nonEmpty, "expected real anomalies at sf0.01")
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(tmp))
  }

  test("keepBestByKey: highest score wins, ties to largest id, null score loses") {
    val s = spark; import s.implicits._
    val rows = Seq(
      (1L, "a", 10L), (2L, "a", 30L), (3L, "a", 30L),   // tie at 30 → id 3
      (4L, "b", 5L),                                     // singleton
      (5L, "c", -1L), (6L, "c", -1L)                     // tie → id 6
    ).toDF("id", "k", "score")
    val got = Dedup.keepBestByKey(rows, Seq("k"), col("score"), "id")
      .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(got == Map("a" -> 3L, "b" -> 4L, "c" -> 6L))
    // a null score never beats a scored row; an all-null group still
    // elects deterministically (largest id)
    val withNull = Seq(
      (1L, "a", Some(10L)), (2L, "a", None),
      (3L, "n", None), (4L, "n", None)
    ).toDF("id", "k", "score")
    val got2 = Dedup.keepBestByKey(withNull, Seq("k"), col("score"), "id")
      .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(got2 == Map("a" -> 1L, "n" -> 4L))
    // partitioning invariance (the partial/final merge path)
    val again = Dedup.keepBestByKey(rows.repartition(7), Seq("k"), col("score"), "id")
      .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(again == got)
  }

  test("temporalSplit: boundary-exact three-way labels, zero-embargo collapse") {
    val s = spark; import s.implicits._
    val rows = Seq(1L -> 50L, 2L -> 100L, 3L -> 101L, 4L -> 150L,
      5L -> 200L, 6L -> 201L).toDF("id", "us")
    val got = Sampling.temporalSplit(rows, "us",
        cutoffMicros = 100L, embargoMicros = 100L)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // <=cutoff → train (inclusive at 100); (cutoff, cutoff+embargo] →
    // embargo (inclusive at 200); strictly after → test
    assert(got == Map(1L -> "train", 2L -> "train", 3L -> "embargo",
      4L -> "embargo", 5L -> "embargo", 6L -> "test"))
    // zero embargo degenerates to a plain two-way temporal cut
    val two = Sampling.temporalSplit(rows, "us", 100L, 0L)
      .collect().map(r => r.getString(2)).toSet
    assert(two == Set("train", "test"))
  }

  test("upsampleByEpochs: expected multiplicity, deterministic repeat subset") {
    val s = spark; import s.implicits._
    val docs = (0L until 1000L).map(i => (i, if (i < 500) "books" else "web"))
      .toDF("doc_id", "source")
    val out = Sampling.upsampleByEpochs(docs, "doc_id", "source",
      Map("books" -> 2.3, "web" -> 0.5))
    val counts = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // per-mille slots are uniform-ish: books ~ 500*2.3, web ~ 500*0.5
    assert(counts("books") > 1000 && counts("books") < 1300, s"$counts")
    assert(counts("web") > 180 && counts("web") < 320, s"$counts")
    // every doc's copies are contiguous epochs 0..n-1 and n in {floor, ceil}
    val perDoc = out.collect().groupBy(_.getLong(0))
    perDoc.foreach { case (id, rows) =>
      val epochs = rows.map(_.getLong(2)).sorted
      assert(epochs === (0L until epochs.length).toArray, s"doc $id: $epochs")
      val src = rows.head.getString(1)
      val allowed = if (src == "books") Set(2, 3) else Set(1)
      assert(allowed.contains(epochs.length), s"doc $id x${epochs.length}")
    }
    // repartitioning must not change which docs got the extra copy
    val again = Sampling.upsampleByEpochs(docs.repartition(7), "doc_id", "source",
      Map("books" -> 2.3, "web" -> 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(again === out.collect().map(r => (r.getLong(0), r.getLong(2))).toSet)
  }

  test("decayedAgg: hand-computed weights, future events excluded") {
    val s = spark; import s.implicits._
    val day = 86400000000L // one day of microseconds
    val asOf = 100L * day
    val ev = Seq(
      (1L, asOf, 10.0),            // age 0: weight 1
      (1L, asOf - 7 * day, 10.0),  // age = half-life: weight 0.5
      (1L, asOf + day, 999.0),     // FUTURE: must be excluded
      (2L, asOf - 14 * day, 8.0))  // two half-lives: weight 0.25
      .toDF("user_id", "us", "value")
    val out = TimeDecay.decayedAgg(ev, "user_id", "us", "value",
        asOfMicros = asOf, halfLifeDays = 7.0)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L)._1 === 2L, "future event must not be aggregated")
    assert(math.abs(out(1L)._2 - 15.0) < 1e-6)   // 10*1 + 10*0.5
    assert(math.abs(out(1L)._3 - 1.5) < 1e-6)
    assert(math.abs(out(2L)._2 - 2.0) < 1e-6)    // 8*0.25
  }

  test("charEntropy: hand-computed, uniform beats repeated, empty is null") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "aabb"),   // two chars, p=1/2 each -> H = ln 2
      (2L, "aaaa"),   // single char -> H = 0
      (3L, "abcd"),   // uniform over 4 -> H = ln 4
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) === ((4L, 2L, Some(2 * r6(0.5 * math.log(2))))))
    assert(out(2L) === ((4L, 1L, Some(0.0))))
    assert(out(3L) === ((4L, 4L, Some(4 * r6(0.25 * math.log(4))))))
    assert(out(4L) === ((0L, 0L, None)), "empty text: zero chars, null entropy")
    assert(out(3L)._3.get > out(1L)._3.get && out(1L)._3.get > out(2L)._3.get,
      "entropy must order uniform > binary > constant")
  }

  test("stratified sample: deterministic, repartition-invariant, rate-shaped") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "stratum")
    val rates = Map("a" -> 250, "b" -> 1000)
    val kept = Sampling.stratifiedSample(df, "id", "stratum", rates)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // all of stratum b survives, ~25% of stratum a
    assert(kept.count(_._2 == "b") == 1000)
    val aKept = kept.count(_._2 == "a")
    assert(aKept > 150 && aKept < 350, s"a-stratum kept $aKept of 1000")
    // repartitioning must not change the sample (df.sample would)
    val kept2 = Sampling.stratifiedSample(df.repartition(13), "id", "stratum", rates)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSet == kept2.toSet)
    // default rate drops unknown strata
    val kept3 = Sampling.stratifiedSample(
      df.withColumn("stratum", lit("zz")), "id", "stratum", rates)
    assert(kept3.count() == 0)
  }

  test("profiler: hand-computed per-column stats, one scan, approx drops the Expand") {
    import spark.implicits._
    val d = Seq(
      (Some(1L), Some("a")), (Some(2L), None),
      (Some(2L), Some("b")), (None, Some("a")))
      .toDF("k", "v")
    val got = Profiler.profile(d).orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    assert(got.toSeq === Seq(
      ("k", 4L, 1L, 2L, "1", "2"),
      ("v", 4L, 1L, 2L, "a", "b")))
    // exactly one scan feeds the whole profile
    val plan = Profiler.profile(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), "profile must be one aggregation, not a per-column union")
    // approx mode: HLL++ sketches, no COUNT(DISTINCT) Expand in the plan
    val approxPlan = Profiler.profile(d, exact = false)
      .queryExecution.executedPlan.toString
    assert(approxPlan.contains("approx_count_distinct"))
    assert(!approxPlan.contains("Expand"),
      "approx profile must not pay the multi-distinct Expand")
    val approx = Profiler.profile(d, exact = false).orderBy("col_name").collect()
    assert(approx.map(_.getLong(3)).toSeq === Seq(2L, 2L),
      "at this cardinality the sketch is exact")
    // unknown column fails fast
    intercept[IllegalArgumentException] { Profiler.profile(d, Seq("nope")) }
  }

  test("shuffleIntoShards: a permutation, repartition-invariant, seed-sensitive") {
    val docs = spark.read.parquet(s"${testDataDir("0.01")}/documents.parquet")
      .select(col("doc_id"))
    val out = Sampling.shuffleIntoShards(docs, "doc_id", numShards = 8, seed = 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // permutation: every doc exactly once
    assert(out.map(_._1).sorted.toSeq ===
      docs.collect().map(_.getLong(0)).sorted.toSeq)
    // (shard, pos) is a dense unique key
    assert(out.map(t => (t._2, t._3)).distinct.length === out.length)
    for ((shard, rows) <- out.groupBy(_._2))
      assert(rows.map(_._3).sorted.toSeq === (0L until rows.length).toSeq,
        s"shard $shard positions must be dense from 0")
    // every shard populated, none dominant (uniform hash spread)
    val sizes = out.groupBy(_._2).view.mapValues(_.length)
    assert(sizes.size === 8 && sizes.values.max < out.length / 2)
    // pure function of ids: any partitioning, same rows
    val re = Sampling.shuffleIntoShards(docs.repartition(13), "doc_id", 8, 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(re.sorted.toSeq === out.sorted.toSeq)
    // a different seed produces a genuinely different order
    val other = Sampling.shuffleIntoShards(docs, "doc_id", 8, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(other.sorted.toSeq !== out.sorted.toSeq)
  }

  test("trainValTestSplit: total partition, ~weights, repartition-invariant, seeds disjoint") {
    val docs = spark.read.parquet(s"${testDataDir("0.01")}/documents.parquet")
      .select(col("doc_id"))
    val out = Sampling.trainValTestSplit(docs, "doc_id", Seq(800, 100, 100), 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = out.length
    // every doc in exactly one split; only splits 0..2 occur
    assert(out.map(_._1).distinct.length === n)
    assert(out.map(_._2).forall(s => s >= 0 && s <= 2))
    // proportions near 80/10/10 (hash-uniform; generous tolerance at n=500)
    val sizes = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(math.abs(sizes.getOrElse(0L, 0) - 0.8 * n) < 0.08 * n, sizes.toString)
    assert(math.abs(sizes.getOrElse(1L, 0) - 0.1 * n) < 0.06 * n, sizes.toString)
    // pure function of ids — partitioning-invariant (the randomSplit bug)
    val re = Sampling.trainValTestSplit(docs.repartition(13), "doc_id",
      Seq(800, 100, 100), 42L).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(re.sorted.toSeq === out.sorted.toSeq)
    // different seed re-deals membership
    val other = Sampling.trainValTestSplit(docs, "doc_id", Seq(800, 100, 100), 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(other.sorted.toSeq !== out.sorted.toSeq)
    // zero-weight split never assigned; bad weights rejected
    val noVal = Sampling.trainValTestSplit(docs, "doc_id", Seq(900, 0, 100), 42L)
      .collect().map(_.getLong(1))
    assert(!noVal.contains(1L))
    intercept[IllegalArgumentException] {
      Sampling.trainValTestSplit(docs, "doc_id", Seq(500, 100), 42L)
    }
  }

  test("prioritySample: exactly k, weight-biased, deterministic, reference-exact") {
    import spark.implicits._
    // weights: ids 0..99 weight 1, ids 100..119 weight 1000 (the heavy set)
    val rows = (0L until 100L).map(i => (i, 1L)) ++
      (100L until 120L).map(i => (i, 1000L))
    val df = rows.toDF("id", "w")
    val got = Sampling.prioritySample(df, "id", "w", k = 30, seed = 7L)
      .as[(Long, Long)].collect()
    assert(got.length === 30)
    // DLT reference computed with the same integer hash + double priority
    def slot(id: Long, seed: Long): Long = {
      def k32(x: Long): Long = {
        val v = x % 4294967296L
        ((v >> 16) * 2654435761L % 65536L * 65536L + (v % 65536L) * 2654435761L) % 4294967296L
      }
      k32(k32(id) + seed)
    }
    val ref = rows.map { case (id, w) =>
      (id, w, w.toDouble * 4294967296.0 / (slot(id, 7L) + 1).toDouble)
    }.sortBy { case (id, _, q) => (-q, id) }.take(30).map(t => (t._1, t._2))
    assert(got.sortBy(_._1).toSeq === ref.sortBy(_._1).toSeq)
    // heavy items dominate: at 1000x weight nearly all 20 make the top-30
    assert(got.count(_._2 == 1000L) >= 18)
    // partitioning-invariant
    val re = Sampling.prioritySample(df.repartition(11), "id", "w", 30, 7L)
      .as[(Long, Long)].collect()
    assert(re.sortBy(_._1).toSeq === got.sortBy(_._1).toSeq)
  }

  test("token-budget mix: rates track targets, unlisted sources dropped, saturated kept whole") {
    import spark.implicits._
    // a: 2000 docs x 10 tokens = 20000; share 0.5 of 20000 -> target 10000, rate 0.5
    // b: unlisted -> dropped; c: 10 docs, share 0.25 -> target 5000 >> 100 -> rate 1
    val docs = ((0L until 2000L).map(i => (i, "a", 10L)) ++
      (10000L until 12000L).map(i => (i, "b", 10L)) ++
      (20000L until 20010L).map(i => (i, "c", 10L)))
      .toDF("doc_id", "source", "n_tok")
    val kept = Sampling.mixByTokenBudget(docs, "doc_id", "source", "n_tok",
      Map("a" -> 0.5, "c" -> 0.25), totalTokenBudget = 20000L)
      .collect().map(r => (r.getLong(1), r.getString(0)))
    assert(kept.count(_._2 == "b") == 0)
    assert(kept.count(_._2 == "c") == 10)
    // exactly the docs whose Knuth slot clears the half-range threshold
    val aExpected = (0L until 2000L).filter(i =>
      java.lang.Math.floorMod(i * Sampling.KnuthMultiplier, 4294967296L) < (1L << 31))
    assert(kept.filter(_._2 == "a").map(_._1).sorted.toSeq == aExpected)
    // sampled token mass tracks the target within sampling noise
    val aTokens = kept.count(_._2 == "a") * 10L
    assert(aTokens > 8000 && aTokens < 12000, s"a tokens $aTokens vs target 10000")
  }

  test("approx quantiles: rank guarantee holds, tight accuracy is near-exact") {
    val s = spark; import s.implicits._
    val df = (1L to 10000L).map(i => (i, i.toDouble)).toDF("id", "x")
    val ps = Seq(0.1, 0.5, 0.9)
    // the in-engine gate finds no violations on a clean uniform column
    assert(Profiler.approxQuantileViolations(df, "x", ps, accuracy = 100)
      .count() === 0L)
    // with high accuracy the sketch lands within eps*n ranks of truth
    val got = Profiler.approxQuantiles(df, "x", ps, accuracy = 10000)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    for (p <- ps)
      assert(math.abs(got(p) - p * 10000) <= 2.0, s"p=$p got ${got(p)}")
    // nulls are excluded from ranks, not counted as low values
    val withNulls = ((1L to 100L).map(i => (i, Some(i.toDouble))) ++
      (101L to 200L).map(i => (i, None: Option[Double]))).toDF("id", "x")
    assert(Profiler.approxQuantileViolations(withNulls, "x", Seq(0.5), 100)
      .count() === 0L)
  }

  test("hll rollup: segment estimates + unioned total within bound, violations empty") {
    val events = spark.read.parquet(s"${testDataDir("0.01")}/events.parquet")
    val got = Profiler.segmentDistinctRollup(events, "event_type", "user_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // one row per event type + the union total, which must be at least the
    // largest segment (a union can't shrink) and at most the sum
    val segs = got.filter(_._1 != "__TOTAL__")
    assert(segs.nonEmpty && got.contains("__TOTAL__"))
    assert(got("__TOTAL__") >= segs.values.max)
    assert(got("__TOTAL__") <= segs.values.sum)
    assert(Profiler.segmentDistinctViolations(events, "event_type", "user_id")
      .isEmpty)
  }

  test("approx distinct: within the configured relative error of exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val df = (0 until 20000).map(_ => (rnd.nextInt(3).toString, rnd.nextInt(1500).toLong))
      .toDF("grp", "uid")
    val exact = df.groupBy("grp").agg(countDistinct(col("uid")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = df.groupBy("grp")
      .agg(approx_count_distinct(col("uid"), rsd = 0.01).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, n) =>
      val a = approx(g)
      assert(math.abs(a - n).toDouble / n < 0.02,
        s"group $g: approx $a vs exact $n exceeds 2% relative error")
    }
  }

  test("pii redact: counts and placeholders, clean text untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact bob@corp.io or 555-123-4567 from 192.168.0.1 ok"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.co c@d.org and 10.0.0.1"),
    ).toDF("doc_id", "text")
    val out = PiiRedact.redact(docs, "text")
      .select("doc_id", "n_emails", "n_phones", "n_ips", "redacted")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == ((1L, 1L, 1L, "contact <EMAIL> or <PHONE> from <IP> ok")))
    assert(out(2L) == ((0L, 0L, 0L, "no pii here at all")))
    assert(out(3L) == ((2L, 0L, 1L, "two mails <EMAIL> <EMAIL> and <IP>")))
  }

  test("pii synthetic fixture: every doc gets an email, periodic phone/ip") {
    import spark.implicits._
    val docs = Seq((0L, "alpha"), (1L, "beta"), (3L, "gamma"), (4L, "delta"))
      .toDF("doc_id", "text")
    val out = PiiRedact.redact(
        PiiRedact.withSyntheticPii(docs, "doc_id", "text"), "pii_text")
      .select("doc_id", "n_emails", "n_phones", "n_ips")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0L) == ((1L, 1L, 1L))) // 0 % 3 == 0 and 0 % 4 == 0
    assert(out(1L) == ((1L, 0L, 0L)))
    assert(out(3L) == ((1L, 1L, 0L)))
    assert(out(4L) == ((1L, 0L, 1L)))
  }

  test("connectedComponents: driver and iterative paths agree across the maxDriverEdges boundary") {
    import spark.implicits._
    // chains, a star, cross-links, random clutter, isolated singletons,
    // and one edge to an id absent from `nodes` (must still be labeled)
    val rnd = new scala.util.Random(17)
    val pairs = (
      (0L until 30L).map(i => (i, i + 1)) ++
      (101L to 110L).map(i => (100L, i)) ++
      Seq((31L, 200L), (200L, 201L), (10L, 105L), (5L, 1000L)) ++
      Seq.fill(40)((300L + rnd.nextInt(50), 300L + rnd.nextInt(50)))
        .filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
    ).distinct
    val pdf = pairs.toDF("idA", "idB")
    val nodes = (0L until 400L).toDF("id")
    val nEdges = pairs.size.toLong

    // ground truth: the shared min-root union-find reference
    val find = UnionFindRef.components(pairs)
    val expected = ((0L until 400L) ++ Seq(1000L)).map(i => i -> find(i)).toMap

    // ONE edge either side of the adaptive threshold: nPairs <= maxDriverEdges
    // picks the collected union-find, anything larger the distributed rounds
    val viaDriver = Dedup.connectedComponents(nodes, pdf, "id",
        maxDriverEdges = nEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaIterative = Dedup.connectedComponents(nodes, pdf, "id",
        maxDriverEdges = nEdges - 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == expected, "driver union-find path diverges from reference")
    assert(viaIterative == expected, "iterative path diverges from reference")
    assert(viaDriver == viaIterative)
  }

  test("temperature mix: isqrt budgets, hash-order take, budget never exceeded") {
    import spark.implicits._
    // hi: 9 docs x 100 tok = 900; lo: 4 docs x 25 tok = 100.
    // alpha=1/2 weights: isqrt(900)=30, isqrt(100)=10 -> budgets of 400:
    // hi 400*30/40 = 300 (3 docs), lo 400*10/40 = 100 (all 4 docs) —
    // the low-resource lang is upsampled from a 10% natural share to 25%.
    val docs = ((0L until 9L).map(i => (i, "hi", 100L)) ++
      (100L until 104L).map(i => (i, "lo", 25L)))
      .toDF("doc_id", "lang", "tok")
    val got = Sampling.temperatureMix(docs, "doc_id", "lang", col("tok"),
      totalTokenBudget = 400L).collect()
    val byLang = got.groupBy(_.getString(1))
    assert(byLang("hi").length === 3)
    assert(byLang("lo").length === 4)
    // inclusive running totals never exceed the budget
    got.foreach(r => assert(
      r.getAs[Long]("running") <= r.getAs[Long]("lang_budget")))
    // deterministic: same selection on re-run
    val again = Sampling.temperatureMix(docs, "doc_id", "lang", col("tok"),
      totalTokenBudget = 400L).collect().map(_.getLong(0)).sorted
    assert(again.toSeq === got.map(_.getLong(0)).sorted.toSeq)
    // alpha = 1/4 upsamples harder: iroot4(900)=5, iroot4(100)=3 ->
    // lo budget 400*3/8 = 150 — above its whole 100-token corpus
    val q = Sampling.temperatureMix(docs, "doc_id", "lang", col("tok"),
      totalTokenBudget = 400L, quarterRoot = true).collect()
    assert(q.count(_.getString(1) == "lo") === 4)
  }

  test("temperature mix: web-scale budgets do not overflow Long") {
    import spark.implicits._
    // budget 1e13 x isqrt weights ~3e6 would overflow a Long product
    // (3e19 > 9.2e18); the BigInt intermediate must keep every
    // per-language budget positive and <= the total
    val docs = ((1L to 9L).map(i => (i, "hi", 1000000000000L)) :+ // sum 9e12, isqrt 3e6
      (100L, "lo", 1000000000000L))                               // sum 1e12, isqrt 1e6
      .toDF("doc_id", "lang", "tok")
    val budget = 10000000000000L // 1e13
    val got = Sampling.temperatureMix(docs, "doc_id", "lang", col("tok"),
        totalTokenBudget = budget)
      .select("lang", "lang_budget").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("hi") === budget * 3 / 4)
    assert(got("lo") === budget / 4)
    got.values.foreach(b => assert(b > 0 && b <= budget))
  }

  test("stream-stream interval join: inclusive 2h bound, no backwards match") {
    import spark.implicits._
    import graft.streaming.StreamingIngest
    // base of +1 day: a row at EXACTLY epoch 0 is evicted against the
    // join's initial state watermark (also 0) before it can match —
    // a non-strict boundary compare inside StreamingSymmetricHashJoin.
    // Real event time is never at epoch; keep fixtures off the origin.
    def ns(sec: Long) = (86400L + sec) * 1000000000L
    val ev = Seq(
      (1L, ns(0), 10L, "view"),
      (2L, ns(100), 10L, "purchase"),  // within 2h of views 1 and 5
      (3L, ns(7200), 10L, "purchase"), // exactly at the bound — inclusive
      (4L, ns(7201), 10L, "purchase"), // past the bound for view 1 only
      (5L, ns(50), 10L, "view"),
      (6L, ns(30), 20L, "purchase"),   // before user 20's view — no match
      (7L, ns(40), 20L, "view"),
      (8L, ns(39), 20L, "purchase"),   // before the view — no match
    ).toDF("event_id", "ts", "user_id", "event_type")
    val dir = java.nio.file.Files.createTempDirectory("graft-ssj-spec").toString
    try {
      ev.write.mode("overwrite").parquet(dir)
      val got = StreamingIngest.runAttributionBounded(spark, dir, 7200000000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val M = 1000000L // seconds -> micros
      assert(got == Set(
        (10L, 1L, 2L, 100L * M), (10L, 1L, 3L, 7200L * M),
        (10L, 5L, 2L, 50L * M), (10L, 5L, 3L, 7150L * M),
        (10L, 5L, 4L, 7151L * M)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
