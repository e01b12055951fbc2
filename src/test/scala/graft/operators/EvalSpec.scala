package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class EvalSpec extends SparkSpec {
  import spark.implicits._

  private def auc(rows: Seq[(String, Long, Boolean)]) =
    Eval.aucByGroup(rows.toDF("g", "s", "l"), "g", col("s"), col("l"))
      .orderBy(col("grp"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))

  test("perfect, inverted, and random-tie classifiers hit the exact AUC") {
    val rows =
      // perfect: all positives score above all negatives -> AUC 1
      Seq(("perfect", 10L, true), ("perfect", 9L, true),
        ("perfect", 2L, false), ("perfect", 1L, false),
        // inverted -> AUC 0
        ("inv", 1L, true), ("inv", 9L, false),
        // one shared score -> every pair ties -> AUC 1/2
        ("flat", 5L, true), ("flat", 5L, false), ("flat", 5L, false))
    assert(auc(rows) === Seq(
      ("flat", 1L, 2L, 2L, Some(500000L)),
      ("inv", 1L, 1L, 0L, Some(0L)),
      ("perfect", 2L, 2L, 8L, Some(1000000L))))
  }

  test("u2 equals the brute-force tie-aware pair count on random data") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(400)(("g", rnd.nextInt(12).toLong, rnd.nextBoolean()))
    val Seq(("g", nPos, nNeg, u2, Some(ppm))) = auc(rows).toSeq
    val pos = rows.collect { case (_, s, true) => s }
    val neg = rows.collect { case (_, s, false) => s }
    assert(nPos == pos.size && nNeg == neg.size)
    val bruteU2 = (for (p <- pos; n <- neg) yield
      if (p > n) 2L else if (p == n) 1L else 0L).sum
    assert(u2 == bruteU2, "rank-sum disagrees with pairwise counting")
    assert(ppm == 1000000L * bruteU2 / (2L * pos.size * neg.size))
  }

  test("a single-class group reports NULL AUC, not a division error") {
    val r = auc(Seq(("onlypos", 3L, true), ("onlypos", 4L, true),
      ("both", 2L, true), ("both", 1L, false)))
    assert(r === Seq(("both", 1L, 1L, 2L, Some(1000000L)),
      ("onlypos", 2L, 0L, 0L, None))) // zero negatives -> U is 0 pairs won
  }

  test("rows collapse before ranking: the window input is score-distinct") {
    // 10k rows, 5 distinct scores — the plan must group first; verify via
    // the exact result (ties averaged correctly at volume)
    val rows = (1 to 10000).map(i => ("g", (i % 5).toLong, i % 2 == 0))
    val Seq(("g", nPos, nNeg, u2, Some(ppm))) = auc(rows).toSeq
    assert(nPos == 5000 && nNeg == 5000)
    // each score class is half positive — label independent of score, and
    // with exact average-rank ties AUC must be exactly 1/2
    assert(ppm == 500000L, s"ppm $ppm")
    assert(u2 == 2L * 5000L * 5000L / 2L)
  }

  test("calibration bins: clamped fixed-width bins, exact integer sums") {
    val rows = Seq(("a", -5L, true), ("a", 0L, false), ("a", 99L, true),
      ("a", 100L, true), ("a", 599L, false), ("a", 600L, true),
      ("a", 10000L, false))
    val out = Eval.calibrationBins(rows.toDF("g", "s", "l"), "g",
        col("s"), col("l"), nBins = 6, lo = 0L, hi = 600L)
      .orderBy(col("bin")).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out === Seq(
      (0L, 3L, 2L, -5L + 0L + 99L), // -5 clamps into bin 0
      (1L, 1L, 1L, 100L),
      (5L, 3L, 1L, 599L + 600L + 10000L))) // >= hi clamps into the top bin
  }

  test("streaming AUC over micro-batches equals batch identically") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-auc-stream").toString
    try {
      val src = s"$tmp/events"
      spark.read.parquet(s"${testDataDir()}/events.parquet")
        .repartition(3).write.parquet(src) // 3 files -> 3 micro-batches
      val stream = graft.streaming.StreamingIngest.runStreamAucBounded(
          spark, src, pmod(col("user_id"), lit(3)),
          floor(col("value") * 1000), col("event_type") === "purchase")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val batch = Eval.aucByGroup(
          spark.read.parquet(src).withColumn("__g", pmod(col("user_id"), lit(3))),
          "__g", floor(col("value") * 1000), col("event_type") === "purchase")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(stream == batch,
        "streaming AUC diverged from batch — counts must be exact sums")
      assert(stream.nonEmpty)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(tmp))
  }

  test("auc matches the oracle derivation on the real lineitem fixture") {
    val li = spark.read.parquet(s"${testDataDir()}/lineitem.parquet")
    val out = Eval.aucByGroup(li, "l_linestatus",
        col("l_quantity"), col("l_returnflag") === "R")
      .orderBy(col("grp")).collect()
    assert(out.length == 2)
    out.foreach { r =>
      val (nPos, nNeg, u2) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nPos > 0 && nNeg > 0)
      assert(u2 >= 0 && u2 <= 2 * nPos * nNeg)
      // quantity is independent of returnflag by construction -> near 1/2
      val ppm = r.getLong(4)
      assert(math.abs(ppm - 500000L) < 100000L, s"ppm $ppm")
    }
  }

  private def ndcg(rows: Seq[(Long, Int, Long)], k: Int = 10) =
    Eval.ndcgAtK(rows.toDF("q", "rank", "rel"), "q", "rank", "rel", k)
      .orderBy(col("query")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))

  test("ndcg@k: hand-computed DCG/IDCG on a graded ranking") {
    // rels by system rank: 1,3,0,2 — ideal order 3,2,1,0
    val out = ndcg(Seq((1L, 1, 1L), (1L, 2, 3L), (1L, 3, 0L), (1L, 4, 2L)))
    val d = Eval.NdcgDiscountPpm
    val dcg = 1 * d(0) + 3 * d(1) + 0 * d(2) + 2 * d(3)
    val idcg = 3 * d(0) + 2 * d(1) + 1 * d(2) + 0 * d(3)
    assert(out === Seq((1L, 4L, dcg, idcg, Some(1000000L * dcg / idcg))))
    assert(dcg < idcg, "the scrambled ranking must score below ideal")
  }

  test("ndcg@k: perfect ranking scores exactly 10^6, all-zero rel is NULL") {
    val out = ndcg(Seq(
      (1L, 1, 3L), (1L, 2, 2L), (1L, 3, 1L), // already ideal
      (2L, 1, 0L), (2L, 2, 0L))) // nothing relevant => IDCG 0
    assert(out(0)._5 === Some(1000000L))
    assert(out(1) === ((2L, 2L, 0L, 0L, None)))
  }

  test("ndcg@k: ranks beyond k are ignored and ties re-rank stably") {
    // rel ties (2,2) keep system-rank order in the ideal sort, so a
    // ranking that is ideal-up-to-ties still scores 10^6
    val out = ndcg(Seq((5L, 1, 2L), (5L, 2, 2L), (5L, 3, 1L), (5L, 11, 9L)), k = 10)
    assert(out === Seq((5L, 3L,
      2 * Eval.NdcgDiscountPpm(0) + 2 * Eval.NdcgDiscountPpm(1) + Eval.NdcgDiscountPpm(2),
      2 * Eval.NdcgDiscountPpm(0) + 2 * Eval.NdcgDiscountPpm(1) + Eval.NdcgDiscountPpm(2),
      Some(1000000L))))
  }

  test("ndcg@k rejects k beyond the frozen discount table") {
    intercept[IllegalArgumentException] {
      Eval.ndcgAtK(Seq((1L, 1, 1L)).toDF("q", "rank", "rel"),
        "q", "rank", "rel", k = 11)
    }
  }

  test("rank metrics: rr/precision/recall hand-checked, including misses") {
    val ranked = Seq(
      // q1: first hit at rank 3, 2 hits in top 5
      (1L, 1, 0L), (1L, 2, 0L), (1L, 3, 2L), (1L, 4, 0L), (1L, 5, 1L),
      // q2: nothing relevant retrieved
      (2L, 1, 0L), (2L, 2, 0L),
      // q3: perfect first hit; rank 6 is beyond k and must be ignored
      (3L, 1, 3L), (3L, 6, 3L)).toDF("q", "rank", "rel")
    val totals = Seq((1L, 4L), (2L, 7L), (3L, 0L)).toDF("query", "n_rel")
    val out = Eval.rankMetricsAtK(ranked, "q", "rank", "rel", k = 5, totals)
      .orderBy(col("query")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7))))
    assert(out === Seq(
      (1L, 5L, 2L, Some(3L), Some(333333L), 400000L, 4L, Some(500000L)),
      (2L, 2L, 0L, None, None, 0L, 7L, Some(0L)),
      // n_rel = 0 -> recall undefined, not 10^6
      (3L, 1L, 1L, Some(1L), Some(1000000L), 200000L, 0L, None)))
  }

  test("average precision: hand-checked fixed-point terms and MAP denominator") {
    val ranked = Seq(
      // hits at ranks 1 and 3: terms 10^6*1/1 and 10^6*2/3 (floored)
      (1L, 1, 1L), (1L, 2, 0L), (1L, 3, 2L), (1L, 4, 0L),
      // no hits at all
      (2L, 1, 0L), (2L, 2, 0L)).toDF("q", "rank", "rel")
    val totals = Seq((1L, 4L), (2L, 6L)).toDF("query", "n_rel")
    val out = Eval.apAtK(ranked, "q", "rank", "rel", k = 10, totals)
      .orderBy(col("query")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val t1 = 1000000L * 1 / 1 + 1000000L * 2 / 3
    assert(out === Seq((1L, 2L, 4L, Some(t1 / 4)),
      (2L, 0L, 6L, Some(0L))))
  }

  test("average precision: perfect retrieval of all relevant == 10^6") {
    // 3 hits at ranks 1..3, n_rel = 3 -> every term is 10^6, AP = 10^6
    val ranked = Seq((1L, 1, 1L), (1L, 2, 1L), (1L, 3, 1L)).toDF("q", "rank", "rel")
    val totals = Seq((1L, 3L)).toDF("query", "n_rel")
    val r = Eval.apAtK(ranked, "q", "rank", "rel", 10, totals).collect()(0)
    assert(r.getLong(3) === 1000000L)
    // n_rel = 0 -> undefined
    val r0 = Eval.apAtK(ranked, "q", "rank", "rel", 10,
      Seq((1L, 0L)).toDF("query", "n_rel")).collect()(0)
    assert(r0.isNullAt(3))
  }

  test("rank metrics: a query missing from totalRel gets n_rel 0, NULL recall") {
    val ranked = Seq((9L, 1, 1L)).toDF("q", "rank", "rel")
    val totals = Seq((1L, 3L)).toDF("query", "n_rel")
    val r = Eval.rankMetricsAtK(ranked, "q", "rank", "rel", 5, totals).collect()(0)
    assert(r.getLong(6) === 0L && r.isNullAt(7))
  }

  // ------------------------------------------------------ generation eval

  private def pairDf(c: Seq[String], r: Seq[String]) =
    Seq((1L, c, r)).toDF("id", "cand", "ref")

  test("BLEU: hand-computed clipped counts, precisions, and exact 4th root") {
    // cand: the cat the cat on the mat   (7 tokens)
    // ref:  the cat sat on the mat       (6 tokens)
    // unigrams: the×3 (clip 2), cat×2 (clip 1), on 1, mat 1 -> a1=5, b1=7
    // bigrams: "the cat"×2 (clip 1), "cat the" 0, "cat on" 0, "on the" 1,
    //          "the mat" 1 -> a2=3, b2=6
    // trigrams: "on the mat" 1 -> a3=1, b3=5
    // 4-grams: none match -> a4=0 -> bleu_milli=0
    val df = pairDf(Seq("the", "cat", "the", "cat", "on", "the", "mat"),
      Seq("the", "cat", "sat", "on", "the", "mat"))
    val row = Eval.bleuUpTo4(df, "id", "cand", "ref").collect()(0)
    val m = row.getValuesMap[Any](row.schema.fieldNames)
    assert(m("a1") === 5L && m("b1") === 7L && m("p1_ppm") === 714285L)
    assert(m("a2") === 3L && m("b2") === 6L && m("p2_ppm") === 500000L)
    assert(m("a3") === 1L && m("b3") === 5L && m("p3_ppm") === 200000L)
    assert(m("a4") === 0L && m("b4") === 4L && m("p4_ppm") === 0L)
    assert(m("bleu_milli") === 0L)
    // identical 5-token pair: all precisions 10^6, bleu_milli = 1000
    val same = Seq("a", "b", "c", "d", "e")
    val r2 = Eval.bleuUpTo4(pairDf(same, same), "id", "cand", "ref").collect()(0)
    assert(r2.getAs[Long]("bleu_milli") === 1000L)
    // a 6v6 with one 4-gram hit: a=(4,3,2,1), b=(6,5,4,3)
    // A=24, B=360 -> 10^12*24/360 = 66666666666 -> isqrt=258198
    // (258199^2=66666723601 overshoots), isqrt(258198)=508
    val c3 = Seq("a", "b", "c", "d", "x", "y")
    val r3t = Seq("a", "b", "c", "d", "p", "q")
    val r3 = Eval.bleuUpTo4(pairDf(c3, r3t), "id", "cand", "ref").collect()(0)
    assert(r3.getAs[Long]("a4") === 1L && r3.getAs[Long]("bleu_milli") === 508L)
  }

  test("BLEU: empty/short sides are total (zero counts, zero score)") {
    val r = Eval.bleuUpTo4(pairDf(Seq("a"), Seq.empty), "id", "cand", "ref")
      .collect()(0)
    assert(r.getAs[Long]("a1") === 0L && r.getAs[Long]("b1") === 1L)
    assert(r.getAs[Long]("b4") === 0L && r.isNullAt(r.fieldIndex("p4_ppm")))
    assert(r.getAs[Long]("bleu_milli") === 0L)
  }

  test("isqrt/iroot4 are exact at the double-precision boundary") {
    import graft.expr.GenEvalOps.{isqrt, iroot4}
    for (n <- Seq(0L, 1L, 2L, 3L, 4L, 15L, 16L, 17L,
        (1L << 53) - 1, 1L << 53, (1L << 53) + 1,
        17160L * 1000000000000L, Long.MaxValue)) {
      val s = isqrt(n)
      assert(s * s <= n, s"isqrt($n)=$s overshoots")
      assert(s + 1 > n / (s + 1), s"isqrt($n)=$s undershoots")
      val q = iroot4(n)
      assert(q * q * q * q <= n)
    }
  }

  test("chrF: hand-computed char n-gram clip, inclusion rule, F floor") {
    def strPair(c: String, r: String) =
      Seq((1L, c, r)).toDF("id", "cand", "ref")
    // cand "abab" vs ref "ab": n=1 m=2/c=4/r=2, n=2 m=1/c=3/r=1,
    // n>=3 excluded (ref side empty). P=(500000+333333)/2=416666,
    // R=(10^6+10^6)/2=10^6, F=5PR/(4P+R)=781249 (floor)
    val row = Eval.chrF(strPair("abab", "ab"), "id", "cand", "ref").collect()(0)
    assert(row.getAs[Long]("m1") === 2L && row.getAs[Long]("c1") === 4L &&
      row.getAs[Long]("r1") === 2L)
    assert(row.getAs[Long]("m2") === 1L && row.getAs[Long]("c2") === 3L &&
      row.getAs[Long]("r2") === 1L)
    assert(row.getAs[Long]("m3") === 0L && row.getAs[Long]("r3") === 0L)
    assert(row.getAs[Long]("chrf_ppm") === 781249L)
    // whitespace stripped before gramming: "a b ab" ≡ "abab"
    val ws = Eval.chrF(strPair("a b ab", "\tab\n"), "id", "cand", "ref").collect()(0)
    assert(ws.getAs[Long]("chrf_ppm") === 781249L)
    // identical strings -> F = 10^6; disjoint -> 0; both empty -> NULL
    assert(Eval.chrF(strPair("hello", "hello"), "id", "cand", "ref")
      .collect()(0).getAs[Long]("chrf_ppm") === 1000000L)
    assert(Eval.chrF(strPair("aaa", "bbb"), "id", "cand", "ref")
      .collect()(0).getAs[Long]("chrf_ppm") === 0L)
    val e = Eval.chrF(strPair("", ""), "id", "cand", "ref").collect()(0)
    assert(e.isNullAt(e.fieldIndex("chrf_ppm")))
  }

  test("ROUGE-L: hand-computed LCS and exactly-rational ppms") {
    // cand: a b c d e f ; ref: b a c e d f -> LCS = a c d f or b c d f = 4
    val r = Eval.rougeL(pairDf(Seq("a", "b", "c", "d", "e", "f"),
      Seq("b", "a", "c", "e", "d", "f")), "id", "cand", "ref").collect()(0)
    assert(r.getAs[Long]("lcs") === 4L)
    assert(r.getAs[Long]("rouge_p_ppm") === 666666L) // (4*10^6) div 6
    assert(r.getAs[Long]("rouge_r_ppm") === 666666L)
    assert(r.getAs[Long]("rouge_f_ppm") === 666666L) // 2*4*10^6 div 12
    // disjoint -> 0; empty side -> NULL p, 0 f against nonempty
    val z = Eval.rougeL(pairDf(Seq("x"), Seq("y")), "id", "cand", "ref").collect()(0)
    assert(z.getAs[Long]("lcs") === 0L && z.getAs[Long]("rouge_f_ppm") === 0L)
    val e = Eval.rougeL(pairDf(Seq.empty, Seq("y")), "id", "cand", "ref").collect()(0)
    assert(e.isNullAt(e.fieldIndex("rouge_p_ppm")) &&
      e.getAs[Long]("rouge_f_ppm") === 0L)
  }

  test("LCS property: expression equals recursive reference on random pairs") {
    def lcsRef(a: List[String], b: List[String]): Int = (a, b) match {
      case (x :: xs, y :: ys) if x == y => 1 + lcsRef(xs, ys)
      case (x :: xs, y :: ys) => math.max(lcsRef(xs, y :: ys), lcsRef(x :: xs, ys))
      case _ => 0
    }
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d")
    for (_ <- 1 to 40) {
      val c = List.fill(rnd.nextInt(9))(vocab(rnd.nextInt(4)))
      val r = List.fill(rnd.nextInt(9))(vocab(rnd.nextInt(4)))
      val got = Eval.rougeL(pairDf(c, r), "id", "cand", "ref")
        .collect()(0).getAs[Long]("lcs")
      assert(got === lcsRef(c, r).toLong, s"LCS mismatch on $c vs $r")
    }
  }

  test("WER: hand-computed edit distance and ppm; empty-side conventions") {
    // cand: a b c d ; ref: a x c -> sub(b->x) + del(d) = 2; wer = 2/3
    val r = Eval.wer(pairDf(Seq("a", "b", "c", "d"), Seq("a", "x", "c")),
      "id", "cand", "ref").collect()(0)
    assert(r.getAs[Long]("edit_dist") === 2L)
    assert(r.getAs[Long]("wer_ppm") === 666666L)
    // identical -> 0; empty ref -> dist = |cand|, NULL ppm; empty cand -> |ref|
    val z = Eval.wer(pairDf(Seq("a", "b"), Seq("a", "b")), "id", "cand", "ref")
      .collect()(0)
    assert(z.getAs[Long]("edit_dist") === 0L && z.getAs[Long]("wer_ppm") === 0L)
    val er = Eval.wer(pairDf(Seq("a", "b"), Seq.empty), "id", "cand", "ref")
      .collect()(0)
    assert(er.getAs[Long]("edit_dist") === 2L &&
      er.isNullAt(er.fieldIndex("wer_ppm")))
    val ec = Eval.wer(pairDf(Seq.empty, Seq("a", "b", "c")), "id", "cand", "ref")
      .collect()(0)
    assert(ec.getAs[Long]("edit_dist") === 3L &&
      ec.getAs[Long]("wer_ppm") === 1000000L)
  }

  test("token edit distance property: expression equals recursive reference") {
    def edRef(a: List[String], b: List[String]): Int = (a, b) match {
      case (Nil, ys) => ys.length
      case (xs, Nil) => xs.length
      case (x :: xs, y :: ys) =>
        val sub = edRef(xs, ys) + (if (x == y) 0 else 1)
        math.min(sub, math.min(edRef(xs, y :: ys) + 1, edRef(x :: xs, ys) + 1))
    }
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c")
    for (_ <- 1 to 40) {
      val c = List.fill(rnd.nextInt(8))(vocab(rnd.nextInt(3)))
      val r = List.fill(rnd.nextInt(8))(vocab(rnd.nextInt(3)))
      val got = Eval.wer(pairDf(c, r), "id", "cand", "ref")
        .collect()(0).getAs[Long]("edit_dist")
      assert(got === edRef(c, r).toLong, s"edit distance mismatch on $c vs $r")
    }
  }

  test("token F1: clipped unigram overlap, exactly-rational ppms") {
    // cand: the cat the cat on the mat (7) ; ref: the cat sat on the mat (6)
    // clipped overlap: the x3 clip 2, cat x2 clip 1, on 1, mat 1 -> 5
    val r = Eval.tokenF1(
      pairDf(Seq("the", "cat", "the", "cat", "on", "the", "mat"),
        Seq("the", "cat", "sat", "on", "the", "mat")),
      "id", "cand", "ref").collect()(0)
    assert(r.getAs[Long]("overlap") === 5L)
    assert(r.getAs[Long]("f1_p_ppm") === 714285L) // 5e6 div 7
    assert(r.getAs[Long]("f1_r_ppm") === 833333L) // 5e6 div 6
    assert(r.getAs[Long]("f1_ppm") === 769230L)   // 10e6 div 13
    val e = Eval.tokenF1(pairDf(Seq.empty, Seq("x")), "id", "cand", "ref")
      .collect()(0)
    assert(e.isNullAt(e.fieldIndex("f1_p_ppm")) &&
      e.getAs[Long]("f1_ppm") === 0L)
  }

  test("ROUGE-N recall: clipped matches over reference n-gram totals") {
    val r = Eval.rougeN(
      pairDf(Seq("the", "cat", "the", "cat", "on", "the", "mat"),
        Seq("the", "cat", "sat", "on", "the", "mat")),
      "id", "cand", "ref").collect()(0)
    assert(r.getAs[Long]("a1") === 5L && r.getAs[Long]("t1") === 6L)
    assert(r.getAs[Long]("rouge1_r_ppm") === 833333L)
    // bigrams clipped: "the cat" x2 clip 1, "on the" 1, "the mat" 1 -> 3 of 5
    assert(r.getAs[Long]("a2") === 3L && r.getAs[Long]("t2") === 5L)
    assert(r.getAs[Long]("rouge2_r_ppm") === 600000L)
  }

  test("CER: builtin levenshtein wiring and ppm floor") {
    import spark.implicits._
    val df = Seq((1L, "kitten", "sitting")).toDF("id", "cand", "ref")
    val r = Eval.cer(df, "id", "cand", "ref").collect()(0)
    assert(r.getAs[Long]("edit_dist") === 3L)
    assert(r.getAs[Long]("len_r") === 7L)
    assert(r.getAs[Long]("cer_ppm") === 428571L) // (3*10^6) div 7
  }
}
