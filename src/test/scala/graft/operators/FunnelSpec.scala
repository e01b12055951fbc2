package graft.operators

import org.apache.spark.sql.functions._

class FunnelSpec extends graft.SparkSpec {

  private def steps = Seq(
    "a" -> (col("typ") === "a"),
    "b" -> (col("typ") === "b"),
    "c" -> (col("typ") === "c"))

  test("funnel: greedy earliest chain, strict ordering, depth") {
    import spark.implicits._
    val ev = Seq(
      // user 1: full ordered chain
      (1L, "a", 10L), (1L, "b", 20L), (1L, "c", 30L),
      // user 2: b before a — chain stops at depth 1
      (2L, "b", 5L), (2L, "a", 10L),
      // user 3: simultaneous a/b (strict > excludes the tie), later b ok
      (3L, "a", 10L), (3L, "b", 10L), (3L, "b", 15L),
      // user 4: no step-1 event at all
      (4L, "c", 1L),
      // user 5: chain via LATER a — greedy t_a=2 still finds b@8, c@9
      (5L, "a", 2L), (5L, "b", 8L), (5L, "a", 7L), (5L, "c", 9L),
    ).toDF("user_id", "typ", "us")
    val out = Funnel.funnel(ev, Seq("user_id"), "us", steps)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3))), r.getLong(4))).toMap
    assert(out(1L) == (((Some(10L), Some(20L), Some(30L)), 3L)))
    assert(out(2L) == (((Some(10L), None, None), 1L)))
    assert(out(3L) == (((Some(10L), Some(15L), None), 2L)))
    assert(out(4L) == (((None, None, None), 0L)))
    assert(out(5L) == (((Some(2L), Some(8L), Some(9L)), 3L)))
  }

  test("funnel: completeness — depth 3 iff an ordered a<b<c subsequence exists") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val types = Array("a", "b", "c")
    val events = for {
      u <- 0L until 60L
      _ <- 0 until rnd.nextInt(8)
    } yield (u, types(rnd.nextInt(3)), rnd.nextInt(50).toLong)
    val df = events.toDF("user_id", "typ", "us")
    val depths = Funnel.funnel(df, Seq("user_id"), "us", steps)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    val byUser = events.groupBy(_._1)
    byUser.foreach { case (u, evs) =>
      // brute force: longest prefix of (a,b,c) realizable strictly increasing
      def reach(step: Int, after: Long): Int =
        if (step >= 3) 3
        else {
          val nexts = evs.filter(e => e._2 == types(step) && e._3 > after).map(_._3)
          if (nexts.isEmpty) step
          else reach(step + 1, nexts.min)
        }
      // brute force must consider ANY qualifying event, not only the min —
      // but greedy-min is complete (see Funnel scaladoc), so min suffices
      // for the recursive oracle exactly as it does for the operator; the
      // assertion is that both agree on every random case.
      val expected = reach(0, Long.MinValue)
      assert(depths(u) == expected.toLong, s"user $u: $evs")
    }
  }

  test("funnel plan: window chain shares one exchange") {
    import spark.implicits._
    val ev = Seq((1L, "a", 1L)).toDF("user_id", "typ", "us")
    val plan = Funnel.funnel(ev, Seq("user_id"), "us", steps)
      .queryExecution.executedPlan.toString
    val exchanges = plan.split("Exchange hashpartitioning").length - 1
    assert(exchanges <= 1, s"funnel should shuffle once, plan:\n$plan")
  }

  test("as-of join: null right times ignored, string ties ordered, null tie loses") {
    import spark.implicits._
    val clicks = Seq((1L, 100L, 50L)).toDF("user_id", "event_id", "ts")
    val views = Seq(
      (1L, "a", Some(40L)),          // candidate
      (1L, "zz", None: Option[Long]), // null time: must be ignored entirely
      (1L, "b", Some(40L)),          // same time, higher string tie -> wins
      (1L, null.asInstanceOf[String], Some(40L)), // null tie loses to any non-null
    ).toDF("user_id", "vid", "ts")
    val out = AsOfJoin.asOfBackward(clicks, views, Seq("user_id"),
        leftTime = "ts", rightTime = "ts", rightPayload = Seq("vid"), tieCol = "vid")
      .select("event_id", "vid").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((100L, "b")))
    // a left row earlier than every (non-null-time) view matches nothing,
    // even when a null-time view exists
    val early = Seq((1L, 200L, 10L)).toDF("user_id", "event_id", "ts")
    val out2 = AsOfJoin.asOfBackward(early, views, Seq("user_id"),
        "ts", "ts", Seq("vid"), "vid")
      .select("event_id", "vid").collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(out2.toSeq == Seq((200L, None)))
  }

  test("incremental ngram dedup ≡ delta-touching slice of the full pair set") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a % 5 == 0 || b % 5 == 0 }.toSet
    val inc = Dedup.incrementalNgramPairs(corpus, delta, "doc_id", "text", 3, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == full, s"incremental=${inc.size} expected=${full.size}")
    // and never a corpus-corpus pair
    assert(inc.forall { case (a, b, _) => a % 5 == 0 || b % 5 == 0 })
  }

  test("range join: degenerate intervals are dropped, not exploded") {
    import spark.implicits._
    val points = Seq((1L, 100L, 55L)).toDF("user_id", "pid", "p")
    val intervals = Seq(
      (1L, 10L, 50L, 60L),                  // valid: contains the point
      (1L, 11L, 70L, 70L),                  // empty: end == start
      (1L, 12L, 1000000L, 0L),              // inverted: would explode 10^5 bins
    ).toDF("user_id", "iid", "s", "e")
    val out = RangeJoin.pointInIntervalJoin(points, intervals, Seq("user_id"),
        pointCol = "p", startCol = "s", endCol = "e", bucketWidth = 10L)
      .select("iid", "pid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((10L, 100L)))
    val ov = RangeJoin.intervalOverlapJoin(
        Seq((1L, 20L, 50L, 60L)).toDF("user_id", "aid", "as", "ae"),
        Seq((1L, 30L, 55L, 65L), (1L, 31L, 58L, 58L)).toDF("user_id", "bid", "bs", "be"),
        Seq("user_id"), "as", "ae", "bs", "be", bucketWidth = 10L)
      .select("l_aid", "r_bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    // the empty interval 31 overlaps nothing even though 58 lies inside [50,60)
    assert(ov.toSeq == Seq((20L, 30L)))
  }

  test("connected components: empty pair set yields all singletons") {
    import spark.implicits._
    val nodes = (1L to 10L).toDF("id")
    val noPairs = Seq.empty[(Long, Long)].toDF("idA", "idB")
    val cc = Dedup.connectedComponents(nodes, noPairs, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cc == (1L to 10L).map(i => (i, i)).toSet)
  }

  test("connected components: fast path ≡ iterative path") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val nodes = (1L to 200L).toDF("id")
    val pairs = (0 until 80)
      .map(_ => (1L + rnd.nextInt(200), 1L + rnd.nextInt(200)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("idA", "idB")
    val fast = Dedup.connectedComponents(nodes, pairs, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val iterative = Dedup.connectedComponents(nodes, pairs, "id",
        maxDriverEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == iterative)
    // pair ids ABSENT from nodes must appear identically on both paths
    val extra = Seq((500L, 501L), (501L, 502L)).toDF("idA", "idB")
    val fast2 = Dedup.connectedComponents(nodes, extra, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val iter2 = Dedup.connectedComponents(nodes, extra, "id", maxDriverEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast2 == iter2)
    assert(fast2.contains((502L, 500L)), "pair-only ids must be labeled")
  }

  /** The reliable checkpoint files a frame still reads: the files behind
    * every checkpointed leaf of its plan. */
  private def checkpointFilesReadBy(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.getCheckpointFile
    }.flatten.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath)

  private def filesUnder(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) filesUnder(f) else Seq(f))

  test("connected components: identical under reliable checkpoint dir") {
    import spark.implicits._
    val nodes = (1L to 50L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 20L), (20L, 30L), (30L, 40L))
      .toDF("idA", "idB")
    // a chain with a tail and a dense core: kCore peels several rounds,
    // the distance loops relax several rounds
    val edges = ((1L to 11L).map(i => (i, i + 1L)) ++
      (for (a <- 20L to 24L; b <- 20L to 24L if a < b) yield (a, b)) ++
      Seq((12L, 20L), (3L, 22L)))
      .toDF("src", "dst")
    val weighted = edges.withColumn("w", (col("src") % 3) + 1L)
    val seeds = Seq(1L).toDF("seed")
    // each loop is forced past its first round cut; maxDriverEdges = 0
    // forces CC's ITERATIVE path, the only one that checkpoints rounds
    val cases = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "connectedComponents" ->
        (() => Dedup.connectedComponents(nodes, pairs, "id", maxDriverEdges = 0)),
      "pageRank" ->
        (() => Graph.pageRank(edges.union(edges.select(col("dst"), col("src"))),
          "src", "dst", iters = 7, checkpointEvery = 2)),
      "labelPropagation" ->
        (() => Graph.labelPropagation(edges, "src", "dst", iters = 5,
          checkpointEvery = 2)),
      "weightedDistances" ->
        (() => Graph.weightedDistances(weighted, "src", "dst", "w", seeds, "seed",
          maxRounds = 6)),
      "kCore" ->
        (() => Graph.kCore(edges, "src", "dst", k = 3, checkpointEvery = 1)))
    for ((name, run) <- cases) {
      val local = run().collect().toSet
      val dir = java.nio.file.Files.createTempDirectory("ckpt-" + name).toFile
      spark.sparkContext.setCheckpointDir(dir.getPath)
      try {
        val out = run()
        assert(out.collect().toSet == local, s"$name: reliable != local")
        val live = checkpointFilesReadBy(out)
        val files = filesUnder(dir)
        assert(files.nonEmpty, s"$name: checkpoint dir unused")
        val leaked = files.map(_.getPath)
          .filterNot(f => live.exists(l => f.startsWith(l + "/")))
        assert(leaked.isEmpty, s"$name: files of superseded rounds left behind: $leaked")
      } finally spark.sparkContext.setCheckpointDir(null)
    }
  }
}
