package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class UnigramTokenizerSpec extends SparkSpec {

  private lazy val vocab = UnigramTokenizer.frozenVocab
  private lazy val cost = vocab.toMap

  test("frozen vocab: required a-z0-9 coverage, costs positive, pieces unique") {
    UnigramTokenizer.RequiredChars.foreach(c =>
      assert(cost.contains(c.toString), s"required char $c missing"))
    assert(vocab.map(_._1).distinct.size === vocab.size)
    assert(vocab.forall(_._2 > 0), "milli-nat costs must be positive")
    // multi-char pieces exist (training did not collapse to chars-only)
    assert(vocab.exists(_._1.length > 1))
    // map literals embed into SQL unquoted-safe
    assert(vocab.forall(p => !p._1.contains("'")))
  }

  test("viterbi: reconstruction, vocab membership, optimality vs exhaustive") {
    def allSegs(w: String): Seq[Seq[String]] =
      if (w.isEmpty) Seq(Seq.empty)
      else (1 to math.min(UnigramTokenizer.MaxPieceLen, w.length)).flatMap { l =>
        val (h, t) = w.splitAt(l)
        if (cost.contains(h)) allSegs(t).map(h +: _) else Seq.empty
      }
    for (w <- Seq("the", "window", "customer", "join", "spark", "aggregate",
      "that", "which", "a", "x7b")) {
      val got = UnigramTokenizer.viterbi(w, cost)
      assert(got.map(_._1).mkString === w, s"pieces must rebuild '$w'")
      assert(got.forall(p => cost.contains(p._1)))
      assert(got.forall(p => p._2 === cost(p._1)))
      val gotCost = got.map(_._2).sum
      val bestExhaustive = allSegs(w).map(_.map(cost).sum).min
      assert(gotCost === bestExhaustive,
        s"'$w': viterbi $gotCost vs exhaustive optimum $bestExhaustive")
    }
  }

  test("viterbi tie-break prefers the longer last piece") {
    // synthetic vocab engineered so 'ab' (4) ties 'a'+'b' (2+2)
    val v = Map("a" -> 2L, "b" -> 2L, "ab" -> 4L)
    assert(UnigramTokenizer.viterbi("ab", v).map(_._1) === Seq("ab"))
  }

  test("unknown chars fall back to single-char pieces at UnknownCostMilli") {
    val got = UnigramTokenizer.viterbi("aéb", cost)
    assert(got.map(_._1) === Seq("a", "é", "b"))
    assert(got(1)._2 === UnigramTokenizer.UnknownCostMilli)
  }

  test("tokenizeWith: widx/pidx indexing and empty-token filtering") {
    import spark.implicits._
    val df = Seq((1L, "the  window"), (2L, "")).toDF("id", "text")
    val got = UnigramTokenizer.tokenizeWith(df, "id", "text", vocab)
      .orderBy("id", "widx", "pidx").collect()
    // doc 2 has no tokens; doc 1 has 2 words despite the double space
    assert(got.forall(_.getLong(0) == 1L))
    assert(got.map(r => (r.getLong(1), r.getLong(2), r.getString(3))).toSeq ===
      Seq((0L, 0L, "the"), (1L, 0L, "w"), (1L, 1L, "in"), (1L, 2L, "d"),
        (1L, 3L, "o"), (1L, 4L, "w")))
  }

  test("vocab persistence: load after save is the identity") {
    val path = tempDir("graft_unigram_spec") + "/v"
    UnigramTokenizer.saveVocab(spark, vocab, path)
    assert(UnigramTokenizer.loadVocab(spark, path) === vocab)
  }

  test("viterbi property: optimal vs exhaustive on random words") {
    def allSegs(w: String): Seq[Long] =
      if (w.isEmpty) Seq(0L)
      else (1 to math.min(UnigramTokenizer.MaxPieceLen, w.length)).flatMap { l =>
        val (h, t) = w.splitAt(l)
        if (cost.contains(h)) allSegs(t).map(cost(h) + _) else Seq.empty
      }
    val rnd = new scala.util.Random(13)
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    for (_ <- 1 to 60) {
      val w = (1 to (1 + rnd.nextInt(9)))
        .map(_ => alpha(rnd.nextInt(26))).mkString
      val got = UnigramTokenizer.viterbi(w, cost)
      assert(got.map(_._1).mkString === w)
      assert(got.map(_._2).sum === allSegs(w).min,
        s"'$w': viterbi not optimal")
    }
  }

  test("training is deterministic and prunes unused multi-char candidates") {
    val again = UnigramTokenizer.trainFrozen(BpeTokenizer.seedWordCounts, 48)
    assert(again === vocab)
    // every surviving multi-char piece is reachable: it appears inside
    // some seed word (sanity that the E-step counts drove the vocab)
    val seedWords = BpeTokenizer.seedWordCounts.map(_._1)
    vocab.filter(_._1.length > 1).foreach { case (p, _) =>
      assert(seedWords.exists(_.contains(p)), s"orphan piece $p")
    }
  }
}
