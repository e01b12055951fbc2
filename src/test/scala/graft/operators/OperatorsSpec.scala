package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** In-JVM oracles for the operators whose semantics aren't ANSI-SQL
  * expressible (LSH family, hashes, language ID) — the DuckDB harness only
  * rows-checks these, so the real guarantees are asserted here. */
class OperatorsSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"${testDataDir()}/documents.parquet")
  private lazy val emb = spark.read.parquet(s"${testDataDir()}/embeddings.parquet")

  test("minhash LSH pairs are a high-recall subset of brute-force Jaccard") {
    val brute = Dedup.bruteJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.2)
      .select("idA", "idB", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      n = 3, k = 64, bands = 16, threshold = 0.2)
      .select("idA", "idB", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // verification step makes LSH output a subset with *identical* jaccard
    lsh.foreach { case (pair, j) =>
      assert(brute.contains(pair), s"LSH returned non-pair $pair")
      assert(math.abs(brute(pair) - j) < 1e-12)
    }
    if (brute.nonEmpty) {
      val recall = lsh.size.toDouble / brute.size
      // 16 bands × 4 rows → ~89% expected recall at j=0.2's s-curve for
      // j≥0.5; most of these fixture pairs sit well above threshold
      assert(recall >= 0.5, s"recall $recall too low (${lsh.size}/${brute.size})")
    }
  }

  test("inverted-index Jaccard equals brute-force cross-join exactly") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    val brute = Dedup.bruteJaccardPairs(docs, "doc_id", "text", 3, 0.2)
      .collect().map(key).toSet
    val indexed = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.2)
      .collect().map(key).toSet
    assert(brute.nonEmpty)
    assert(indexed == brute)
  }

  test("containment pairs equal the brute-force directional reference") {
    val sets = docs
      .select(col("doc_id"), array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val t = 0.6
    val brute = (for {
      (a, sa) <- sets; (b, sb) <- sets
      if a != b && sa.nonEmpty
      c = (sa & sb).size
      if c.toDouble / sa.size >= t
    } yield (a, b, math.round(c.toDouble / sa.size * 1e9))).toSet
    val got = Dedup.containmentPairs(docs, "doc_id", "text", 3, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
      .toSet
    assert(brute.nonEmpty, "fixture must exercise containment")
    assert(got === brute)
    // directional scores genuinely differ (fixture dup families are
    // mutual at 0.6 but never equal-sized): c/|A| != c/|B| somewhere
    val scores = got.map { case (a, b, s) => (a, b) -> s }.toMap
    assert(scores.exists { case ((a, b), s) =>
      scores.get((b, a)).exists(_ != s) })
  }

  test("containment finds short-inside-long pairs that jaccard misses") {
    import spark.implicits._
    val quote = "the quick brown fox jumps over the lazy dog"
    val page = ("lorem ipsum dolor sit amet " * 8) + quote +
      (" consectetur adipiscing elit sed do eiusmod tempor " * 8)
    val df = Seq((1L, quote), (2L, page)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text", 3, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // quote's shingles all occur in page → containment(1→2) = 1.0;
    // page is nowhere near inside quote → no reverse row
    assert(got.map(t => (t._1, t._2)).toSet === Set((1L, 2L)))
    assert(got.head._3 === 1.0)
    // and jaccard at even a loose threshold misses the pair entirely
    assert(Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5).count() === 0L)
  }

  test("simhash near-dup pairs verified against direct popcount") {
    val sigs = Dedup.withSimhash(docs.select(col("doc_id"), col("text")))
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 12)
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (a, b, h) = (r.getLong(0), r.getLong(1), r.getInt(2))
      assert(java.lang.Long.bitCount(sigs(a) ^ sigs(b)) == h)
      assert(h <= 12 && a < b)
    }
    // recall guarantee: 7 disjoint chunks guarantee every hamming<=6 pair
    // (pigeonhole: <=6 differing bits can touch at most 6 of 7 chunks)
    val close = for {
      (a, sa) <- sigs.toSeq; (b, sb) <- sigs.toSeq if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 6
    } yield (a, b)
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    close.foreach(p => assert(found.contains(p), s"missed guaranteed pair $p"))
  }

  test("embedding LSH near-dup pairs are a subset of exact with identical cosine") {
    val exact = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.2, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.2, exact = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.foreach { case (pair, c) =>
      assert(exact.contains(pair), s"LSH returned non-pair $pair")
      assert(math.abs(exact(pair) - c) < 1e-12, s"cosine mismatch on $pair")
    }
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    info(s"embedding LSH near-dup recall: $recall (${lsh.size}/${exact.size})")
    assert(recall >= 0.2, s"recall $recall collapsed — bucketing broken?")
  }

  test("IVF-cell near-dup pairs: subset of exact, identical cosine, better loose-threshold recall") {
    val exact = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.2, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Dedup.ivfNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.2, k = 16, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ivf.foreach { case (pair, c) =>
      assert(exact.contains(pair), s"IVF returned non-pair $pair")
      assert(math.abs(exact(pair) - c) < 1e-12)
    }
    val lsh = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.2, exact = false).count().toDouble
    val recallIvf = ivf.size.toDouble / exact.size
    val recallLsh = lsh / exact.size
    info(f"IVF recall $recallIvf%.3f vs hyperplane-LSH recall $recallLsh%.3f")
    assert(recallIvf >= 0.3, s"IVF recall $recallIvf collapsed")
  }

  test("semantic dedup: exact path equals brute reference; approximate refines it") {
    // reference: union-find over the exact pair set
    val ids = emb.select("vec_id").collect().map(_.getLong(0))
    val exactPairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.2, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val find = UnionFindRef.components(exactPairs)
    val refComp = ids.map(i => i -> find(i)).toMap

    val exactOut = Dedup.semanticDedup(emb, "vec_id", "embedding",
      threshold = 0.2, exact = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(exactOut.keySet == ids.toSet)
    exactOut.foreach { case (id, (comp, surv)) =>
      assert(comp == refComp(id), s"id $id: component $comp != ${refComp(id)}")
      assert(surv == (comp == id))
    }

    // the cell-bounded path only ever MISSES pairs, so its clustering is a
    // REFINEMENT of the exact one: same-cluster under IVF ⇒ same-cluster
    // under exact; and its survivors are still component minima
    val semOut = Dedup.semanticDedup(emb, "vec_id", "embedding",
      threshold = 0.2, k = 16, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(semOut.map(_._1).toSet == ids.toSet)
    val byComp = semOut.groupBy(_._2)
    byComp.foreach { case (comp, members) =>
      assert(members.map(_._1).min == comp, s"label $comp is not the min member")
      val exactComps = members.map(m => refComp(m._1)).distinct
      assert(exactComps.size == 1,
        s"IVF cluster $comp spans exact clusters $exactComps — invented a pair")
    }
    semOut.foreach { case (id, comp, surv) => assert(surv == (comp == id)) }
    // and it deduplicates something on this fixture (not vacuous)
    assert(semOut.count(!_._3) > 0, "no duplicates found at all")
  }

  test("null/empty text is safe across dedup signatures") {
    import spark.implicits._
    val df = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "a b c"))
      .toDF("doc_id", "text")
    // none of these may NPE; null text maps to the empty-document signature
    // (empty STRING differs: split("") is [""], one empty token — fine)
    val sim = Dedup.withSimhash(df).select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sim(1L) == 0L)
    val mh = df.select(col("doc_id"),
        Dedup.minhashSignatureUdf(16)(Dedup.shingles(col("text"), 3)).as("sig"))
      .collect()
    assert(mh.length == 3)
    assert(Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.2).count() >= 0)
  }

  test("connected components equal union-find; survivors are component minima") {
    import spark.implicits._
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.2)
    val collected = pairs.select("idA", "idB").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val find = UnionFindRef.components(collected)
    val expected = docs.select("doc_id").collect().map(_.getLong(0))
      .map(id => id -> find(id)).toMap
    val got = Dedup.connectedComponents(docs.select(col("doc_id")), pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == expected.size)
    expected.foreach { case (id, comp) =>
      assert(got(id) == comp, s"component of $id") }
    // survivor pick: one row per component, the min id; singletons survive
    val survivors = Dedup.nearDupSurvivors(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == expected.values.toSet)
    assert(survivors.size == expected.values.toSet.size)
    // sanity: dup clusters exist in the fixture, so dedup actually drops rows
    assert(survivors.size < expected.size)
  }

  test("LSH top-k recall vs brute-force cosine") {
    val queries = emb.filter(col("vec_id") < 16)
    val exact = Similarity.cosineTopK(queries, emb, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.lshCosineTopK(queries, emb, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"LSH top-k recall: $recall")
    assert(recall >= 0.2, s"recall $recall collapsed — bucketing broken?")
    // sanity: approx similarities are genuine (recomputed on a sample)
    assert(approx.nonEmpty)
  }

  test("MMR re-rank: greedy selection equals an independent in-JVM replay") {
    val queries = emb.filter(col("vec_id") < 8)
    val got = Similarity.mmrRerank(queries, emb, k = 4, topN = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .sortBy(t => (t._1, t._2))
    assert(got.nonEmpty)
    // independent replay: brute-force candidates + greedy in plain Scala
    val vecs = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    def micro(x: Double): Long =
      (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (0L until 8L).flatMap { qid =>
      val qv = vecs(qid)
      val cands = vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (cos(qv, v), id, v) }
        .sortBy(t => (-t._1, t._2)).take(8)
        .map { case (c, id, v) => (id, micro(c * 1e6), v) }
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
      (1 to 4).map { step =>
        val scoredRemaining = cands.filterNot(c => sel.exists(_._1 == c._1))
          .map { case (id, rel, v) =>
            val ms = if (sel.isEmpty) 0L
                     else sel.map(s => micro(cos(v, s._2) * 1e6)).max
            (700000L * rel - 300000L * ms, id, rel, ms, v)
          }
        val best = scoredRemaining.minBy(t => (-t._1, t._2))
        sel += ((best._2, best._5))
        (qid, step.toLong, best._2, best._3, best._4, best._1)
      }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == expected,
      s"MMR divergence; first got=${got.take(2).toSeq} exp=${expected.take(2)}")
    // step 1 is always the pure-relevance argmax (empty selected set)
    got.filter(_._2 == 1L).foreach(t => assert(t._5 == 0L))
  }

  test("hard negatives: labels always differ, ranks contiguous, subset of cross-label brute force") {
    val queries = emb.filter(col("vec_id") < 8)
    val got = Similarity.hardNegatives(queries, emb, k = 5).collect()
    assert(got.nonEmpty)
    // every mined negative crosses labels
    assert(got.forall(r => r.getInt(1) != r.getInt(4)),
      "a hard negative shares its query's label")
    // per query: ranks are 1..n contiguous and cosines non-increasing
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq == (1 to sorted.length).toSeq)
      val cos = sorted.map(_.getDouble(5))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
    // brute-force check: the top hard negative really is the max-cosine
    // cross-label neighbor (recomputed in JVM double math)
    val vecs = emb.collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getSeq[Float](1).toArray)).toSeq
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    for ((qid, qlabel, qv) <- vecs.filter(_._1 < 8)) {
      val best = vecs.filter(v => v._1 != qid && v._2 != qlabel)
        .map(v => (cosine(qv, v._3), v._1)).maxBy(t => (t._1, -t._2))
      val top = got.filter(r => r.getLong(0) == qid && r.getInt(2) == 1).head
      assert(top.getLong(3) == best._2,
        s"query $qid: top negative ${top.getLong(3)} != brute-force ${best._2}")
    }
  }

  test("unigram log-prob: matches hand computation, empty doc gets null score") {
    import spark.implicits._
    // corpus: 6 tokens total — p(a)=3/6, p(b)=2/6, p(c)=1/6
    val df = Seq((1L, "a a b"), (2L, "b c a"), (3L, "   ")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    def lp(p: Double): BigDecimal =
      BigDecimal(math.log(p)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val d1 = (lp(0.5) * 2 + lp(2.0 / 6)).toDouble / 3
    val d2 = (lp(2.0 / 6) + lp(1.0 / 6) + lp(0.5)).toDouble / 3
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(got(0).getLong(1) == 3 && math.abs(got(0).getDouble(2) - d1) < 1e-12)
    assert(got(1).getLong(1) == 3 && math.abs(got(1).getDouble(2) - d2) < 1e-12)
    assert(got(2).getLong(1) == 0 && got(2).isNullAt(2))
    // rarer tokens score lower on the fixture corpus
    val fx = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
    assert(fx.filter(col("avg_lp").isNotNull).count() > 0)
  }

  test("bigram log-prob: matches hand computation, short doc gets null score") {
    import spark.implicits._
    // bigram counts: "a b"=2, "b c"=1, "a c"=1 — heads: a·=3, b·=1
    val df = Seq((1L, "a b c"), (2L, "a c"), (3L, "a b"), (4L, "z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    def lp(n: Long, d: Long): BigDecimal =
      BigDecimal(math.log(n.toDouble / d)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    // doc 1: P(b|a)=2/3, P(c|b)=1/1
    assert(got(0).getLong(1) == 2 &&
      math.abs(got(0).getDouble(2) - (lp(2, 3) + lp(1, 1)).toDouble / 2) < 1e-12)
    // doc 2: P(c|a)=1/3
    assert(got(1).getLong(1) == 1 &&
      math.abs(got(1).getDouble(2) - lp(1, 3).toDouble) < 1e-12)
    // doc 3: P(b|a)=2/3
    assert(got(2).getLong(1) == 1 &&
      math.abs(got(2).getDouble(2) - lp(2, 3).toDouble) < 1e-12)
    // single-token doc: no bigrams, null score
    assert(got(3).getLong(1) == 0 && got(3).isNullAt(2))
    // fixture corpus sanity: scores exist and are non-positive
    val fx = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
    assert(fx.filter(col("avg_lp2").isNotNull && col("avg_lp2") <= 0).count() > 0)
  }

  test("trigram log-prob: hand-computed interpolation, short doc gets null") {
    import spark.implicits._
    // tokens: a:4 b:4 c:2 z:1, N=11; pairs: (a,b)=3 (b,c)=2 (c,a)=2,
    // heads a·=3 b·=2 c·=2; trigrams: (a,b,c)=1 (b,c,a)=2 (c,a,b)=1,
    // prefixes (a,b)=1 (b,c)=2 (c,a)=1
    val df = Seq((1L, "a b c a b"), (2L, "b c a"), (3L, "a b"), (4L, "z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.trigramLogProb(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    def lp(p3: Double, p2: Double, p1: Double): BigDecimal =
      BigDecimal(math.log((70 * p3 + 20 * p2 + 10 * p1) / 100))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    // doc 1: (a,b,c): p3=1/1 p2=2/2 p1=2/11; (b,c,a): 2/2, 2/2, 4/11;
    //        (c,a,b): 1/1, 3/3, 4/11
    val d1 = (lp(1, 1, 2.0 / 11) + lp(1, 1, 4.0 / 11) +
      lp(1, 1, 4.0 / 11)).toDouble / 3
    assert(got(0).getLong(1) == 3 && math.abs(got(0).getDouble(2) - d1) < 1e-12)
    // doc 2: one trigram (b,c,a)
    assert(got(1).getLong(1) == 1 &&
      math.abs(got(1).getDouble(2) - lp(1, 1, 4.0 / 11).toDouble) < 1e-12)
    // < 3 tokens: no trigrams, null score
    assert(got(2).getLong(1) == 0 && got(2).isNullAt(2))
    assert(got(3).getLong(1) == 0 && got(3).isNullAt(2))
    // partitioning invariance (decimal sums have no order tail)
    val rep = TextAnalysis.trigramLogProb(df.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(rep.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      got.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(math.abs(rep(0).getDouble(2) - got(0).getDouble(2)) == 0.0)
    // fixture sanity: interpolated probs ≤ 1 so scores are non-positive
    val fx = TextAnalysis.trigramLogProb(docs, "doc_id", "text")
    assert(fx.filter(col("avg_lp3").isNotNull && col("avg_lp3") <= 0).count() > 0)
    assert(fx.filter(col("avg_lp3") > 0).count() === 0)
  }

  test("tokenizer fertility: hand counts per group, ppm floor division") {
    import spark.implicits._
    // grp A: "ab cd" → 2 words, 2 pieces, 5 chars; "a-b" → 1 word,
    // 3 pieces (a, -, b), 3 chars. totals: w=3, p=5, c=8
    val df = Seq(("A", "ab cd"), ("A", "a-b"), ("B", "xy")).toDF("g", "text")
    val got = TextAnalysis.tokenizerFertility(df, "g", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got("A") == ((2L, 3L, 5L, 5L * 1000000 / 3, 8L * 1000000 / 5)),
      got.toString)
    assert(got("B") == ((1L, 1L, 1L, 1000000L, 2000000L)))
    // fixture sanity: every lang present, fertility ≥ 1e6 (a word is
    // at least one piece under the BPE-ish split)
    val fx = TextAnalysis.tokenizerFertility(docs, "lang", "text").collect()
    assert(fx.length >= 2 && fx.forall(_.getLong(4) >= 1000000L))
  }

  test("ngram diversity: hand counts, repetition collapses the ppm score") {
    import spark.implicits._
    // "a b a b a b": 3-grams = {aba, bab, aba, bab} → 4 total, 2 distinct
    val df = Seq(
      (1L, "a b a b a b"),
      (2L, "all words here are fully distinct tokens"),
      (3L, "x y")).toDF("doc_id", "text")
    val got = TextAnalysis.ngramDiversity(df, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got(1L) == ((4L, 2L, 500000L)), got.toString)
    // fully distinct doc scores exactly 1e6
    assert(got(2L)._1 == got(2L)._2 && got(2L)._3 == 1000000L)
    // too short: zero totals, NULL ppm
    assert(got(3L) == ((0L, 0L, -1L)))
    // fixture sanity: repetitive docs score strictly below diverse ones
    val fx = TextAnalysis.ngramDiversity(docs, "doc_id", "text")
    assert(fx.filter(col("distinct_ppm").isNotNull).count() > 0)
    assert(fx.filter(col("distinct_ppm") > 1000000L).count() === 0)
  }

  test("perplexity buckets: terciles split scored docs, short docs isolated") {
    import spark.implicits._
    val fx = TextAnalysis.perplexityBuckets(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2), r.getString(3)))
    assert(fx.length == docs.count())
    val byBucket = fx.groupBy(_._4).view.mapValues(_.length).toMap
    // every scored tercile is populated and within a tolerant band of n/3
    val scored = fx.count(_._2 > 0)
    for (b <- Seq("head", "middle", "tail")) {
      val n = byBucket.getOrElse(b, 0)
      assert(n > 0 && math.abs(n - scored / 3.0) <= scored * 0.2 + 2,
        s"bucket $b holds $n of $scored scored docs")
    }
    // bucket order respects the score order: min(head) ≥ max(middle) is
    // too strict at ties; instead every head score ≥ every tail score
    val headMin = fx.filter(_._4 == "head").map(_._3).min
    val tailMax = fx.filter(_._4 == "tail").map(_._3).max
    assert(headMin >= tailMax)
    // docs with < 3 tokens are unscored, never in a tercile
    assert(fx.filter(_._2 == 0).forall(_._4 == "unscored"))
    val short = Seq((1L, "one two"), (2L, "a b c d e f g h")).toDF("doc_id", "text")
    val sb = TextAnalysis.perplexityBuckets(short, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(sb(1L) == "unscored" && sb(2L) != "unscored")
  }

  test("PMI collocations: hand-computed ratios, min-count cut, total order") {
    import spark.implicits._
    // bigrams ×6: "x y"=6; ×5: "a b"=5; plus "b a"=5 fillers to shape
    // marginals. Corpus: doc per pair occurrence.
    val rows = Seq.fill(6)("x y") ++ Seq.fill(5)("a b") ++ Seq.fill(5)("b a")
    val df = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(df, "text", minCount = 5, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // N2 = 16; "x y": c12=6, c1h(x·)=6, c2t(·y)=6 → 6*1e6*16/36 = 2666666
    // "a b": c12=5, c1h(a·)=5, c2t(·b)=5 → 5*1e6*16/25 = 3200000
    // "b a": symmetric to "a b" → 3200000
    assert(got.toSet === Set(("a", "b", 5L, 3200000L), ("b", "a", 5L, 3200000L),
      ("x", "y", 6L, 2666666L)))
    // order: pmi desc, then c12 desc, then w1 — ties (a b)/(b a) by w1
    assert(got.map(t => (t._1, t._2)).toSeq ===
      Seq(("a", "b"), ("b", "a"), ("x", "y")))
    // min-count: a 4-occurrence pair must not surface
    val small = (rows ++ Seq.fill(4)("q r")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    assert(!TextAnalysis.pmiCollocations(small, "text", minCount = 5, topK = 10)
      .collect().exists(_.getString(0) == "q"))
    // fixture sanity: collocations exist and scores are positive integers
    val fx = TextAnalysis.pmiCollocations(docs, "text").collect()
    assert(fx.nonEmpty && fx.forall(_.getLong(3) >= 0))
  }

  test("class keywords: hand-computed smoothed odds, per-class cut") {
    import spark.implicits._
    // X tokens: a,a,b (nc=3); Y: b,c,c (nc=3); N=6
    val df = Seq(("X", "a a b"), ("Y", "b c c")).toDF("lang", "text")
    val got = TextAnalysis.classKeywords(df, "lang", "text",
        minCount = 1, topK = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    // (X,a): a=2 b=0 g=1 d=3 → (3·4·1e6)//(1·2) = 6e6; (X,b): a=1 b=1 g=2
    // d=2 → (2·3·1e6)//(2·3) = 1e6; Y symmetric with c
    assert(got === Set(("X", "a", 2L, 6000000L), ("X", "b", 1L, 1000000L),
      ("Y", "c", 2L, 6000000L), ("Y", "b", 1L, 1000000L)))
    // fixture: ≤ topK rows per class, and every class in the corpus shows up
    val fx = TextAnalysis.classKeywords(docs, "lang", "text").collect()
    val perCls = fx.groupBy(_.getString(0)).view.mapValues(_.length)
    assert(perCls.nonEmpty && perCls.values.forall(_ <= 20))
    assert(fx.forall(_.getLong(3) >= 0))
  }

  test("streaming PMI state carries across micro-batches, ≡ batch exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pmi-stream").toString
    try {
      val src = s"$tmp/docs"
      docs.repartition(3).write.parquet(src) // 3 files → 3 micro-batches
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
      val stream = graft.streaming.StreamingIngest
        .runStreamPmiBounded(spark, src, "text", minCount = 5, topK = 100)
        .collect().map(key)
      val batch = TextAnalysis
        .pmiCollocations(spark.read.parquet(src), "text", 5, 100)
        .collect().map(key)
      assert(stream.nonEmpty && stream.toSeq === batch.toSeq,
        "streamed PMI diverged from batch — exact counts must be replay-invariant")
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(tmp))
  }

  test("streaming curation: cross-batch dedup state, statuses ≡ batch rule") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-curate-stream").toString
    try {
      val src = s"$tmp/docs"
      import spark.implicits._
      // doc 1 and doc 11 are near-identical but land in DIFFERENT files
      // (different micro-batches): the duplicate verdict on 11 can only
      // come from the standing-corpus state. doc 20 fails quality.
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
      val b1 = Seq((1L, base + " one"), (2L, "totally different words " +
        "entirely unrelated content stream passing the quality floor " +
        "with plenty of tokens to spare here today")).toDF("doc_id", "text")
      val b2 = Seq((11L, base + " two"), (20L, "too short")).toDF("doc_id", "text")
      // one part-file per batch frame → one micro-batch each at
      // maxFilesPerTrigger=1, so 1 and 11 genuinely cross a batch boundary
      b1.coalesce(1).write.parquet(src)
      b2.coalesce(1).write.mode("append").parquet(src)
      val got = graft.streaming.StreamingIngest
        .runStreamCurateBounded(spark, src, "doc_id", "text",
          minTokens = 15, n = 3, threshold = 0.5, maxFilesPerTrigger = 1)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got(20L) == "quality", s"short doc must fail the gate: $got")
      assert(got(1L) == "curated" && got(11L) == "duplicate",
        s"larger id of a cross-batch near-dup pair must lose: $got")
      assert(got(2L) == "curated", got.toString)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(tmp))
  }

  test("streaming keywords state carries across micro-batches, ≡ batch exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-kw-stream").toString
    try {
      val src = s"$tmp/docs"
      docs.repartition(3).write.parquet(src) // 3 files → 3 micro-batches
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
      val stream = graft.streaming.StreamingIngest
        .runStreamKeywordsBounded(spark, src, "lang", "text",
          minCount = 5, topK = 20)
        .orderBy(col("cls"), col("odds_ppm").desc, col("a").desc, col("term"))
        .collect().map(key)
      val batch = TextAnalysis
        .classKeywords(spark.read.parquet(src), "lang", "text", 5, 20)
        .orderBy(col("cls"), col("odds_ppm").desc, col("a").desc, col("term"))
        .collect().map(key)
      assert(stream.nonEmpty && stream.toSeq === batch.toSeq,
        "streamed keywords diverged from batch — exact counts must be replay-invariant")
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(tmp))
  }

  test("IVF top-k recall beats hyperplane LSH at nprobe=4/16") {
    val queries = emb.filter(col("vec_id") < 16)
    val exact = Similarity.cosineTopK(queries, emb, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val model = IvfIndex.train(emb, "vec_id", "embedding", k = 16)
    assert(model.centroids.length == 16)
    val ivf = IvfIndex.topK(queries, emb, model, k = 10, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    info(s"IVF top-k recall: $recall")
    assert(recall >= 0.25, s"IVF recall $recall collapsed")
    // determinism: same train+query → same result set
    val ivf2 = IvfIndex.topK(queries, emb,
      IvfIndex.train(emb, "vec_id", "embedding", k = 16), k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf == ivf2)
    // nprobe = k probes every list ⇒ IVF degrades gracefully to EXACT:
    // row-for-row identical to brute force (ranks, ids, cosines)
    val full = IvfIndex.topK(queries, emb, model, k = 10, nprobe = 16)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val exactRows = Similarity.cosineTopK(queries, emb, k = 10)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(full == exactRows)
  }

  test("document chunking covers every char with exact overlap; reconstruction") {
    import spark.implicits._
    val cases = Seq((1L, "a" * 1000), (2L, "short"), (3L, ""),
      (4L, "x" * 200), (5L, "y" * 201), (6L, "z" * 150))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocuments(cases, "doc_id", "text",
      chunkChars = 200, overlap = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val texts = cases.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, text) =>
      val cs = chunks(id)
      assert(cs.nonEmpty, s"doc $id yielded no chunks")
      // drop each successor's leading overlap and concatenate → original
      val rebuilt = cs.head + cs.tail.map(_.drop(50)).mkString
      // trailing chunks can't extend past the text, so rebuilt == text
      assert(rebuilt == text, s"doc $id reconstruction")
      cs.dropRight(1).foreach(c => assert(c.length == 200))
      // consecutive chunks share exactly the 50-char overlap
      cs.sliding(2).foreach {
        case Seq(a, b) => assert(a.takeRight(50) == b.take(50))
        case _ =>
      }
    }
    assert(chunks(3L) == Seq("")) // empty doc → one empty chunk
  }

  test("content-defined chunking: lossless, bounded, and edit-resynchronizing") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val body = (0 until 5000).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val docs = Seq((1L, body), (2L, "PREFIX INSERTED AT FRONT " + body), (3L, ""))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.contentDefinedChunks(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // lossless: chunks concatenate back to the document
    assert(chunks(1L).mkString == body)
    assert(chunks(3L) == Seq(""))
    // bounds: every non-final chunk within [minChunk, maxChunk]
    chunks(1L).dropRight(1).foreach(c =>
      assert(c.length >= 64 && c.length <= 1024, s"chunk len ${c.length}"))
    // re-sync: boundaries depend on local content, so after the edit the
    // chunk streams must share their entire tail (all but a bounded prefix)
    val tail1 = chunks(1L).tails.flatten.toSet
    val shared = chunks(2L).count(tail1.contains)
    assert(shared >= chunks(2L).size - 2,
      s"only $shared/${chunks(2L).size} chunks survived the front edit")
    assert(chunks(2L).takeRight(2) == chunks(1L).takeRight(2))
  }

  test("winnowing: shared substrings >= w+k-1 guarantee a shared fingerprint") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    def randStr(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val k = 8; val w = 4
    val shared = randStr(k + w - 1) // minimal guaranteed-detectable overlap
    val long = randStr(300)
    val docs = Seq(
      (1L, randStr(100) + shared + randStr(100)),
      (2L, randStr(80) + shared + randStr(120)),
      (3L, long), (4L, randStr(40) + long.substring(50, 200) + randStr(40)),
      (5L, randStr(200)), // unrelated
      (6L, "tiny"), (7L, ""),
    ).toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
        TextAnalysis.winnowingFingerprints(col("text"), k, w).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // the winnowing guarantee, at exactly the minimal length and for a
    // 150-char shared passage
    assert((fps(1L) & fps(2L)).nonEmpty, "minimal shared substring missed")
    assert((fps(3L) & fps(4L)).nonEmpty, "long shared passage missed")
    // unrelated random docs share nothing (64-bit hashes)
    assert((fps(5L) & fps(1L)).isEmpty)
    // density ~2/(w+1) of positions, not one-per-char and not empty
    assert(fps(3L).size > 300 / (w + 1) / 2 && fps(3L).size < 300)
    assert(fps(6L).isEmpty && fps(7L).isEmpty) // shorter than k
  }

  test("rolling hash slides in O(1): h' = (h - cpOut*B^(w-1))*B + cpIn") {
    import graft.expr.RollingHash.{Base, Seed, hash}
    val s = "abcdefghij"
    val w = 4
    def pow(b: Long, e: Int): Long = (0 until e).foldLeft(1L)((a, _) => a * b)
    // windowed hash WITHOUT the seed term (seed cancels under sliding)
    def win(i: Int): Long = hash(s.substring(i, i + w)) - Seed * pow(Base, w)
    var h = win(0)
    for (i <- 1 to s.length - w) {
      h = (h - s.charAt(i - 1).toLong * pow(Base, w - 1)) * Base + s.charAt(i + w - 1)
      assert(h == win(i), s"slide to window $i")
    }
  }

  test("fingerprint is stable and collision-free on distinct fixture docs") {
    val fp = TextAnalysis.withFingerprint(docs).select("doc_id", "fingerprint")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(fp.map(_._2).distinct.length == fp.length) // 500 docs, no collision
    // stability: same input → same value across runs/sessions
    import spark.implicits._
    val v = TextAnalysis.withFingerprint(Seq("hello  WORLD ").toDF("text"))
      .select("fingerprint").head().getLong(0)
    val v2 = TextAnalysis.withFingerprint(Seq("Hello world").toDF("text"))
      .select("fingerprint").head().getLong(0)
    assert(v == v2) // case- and whitespace-normalized
  }

  test("language ID picks marker-dominant language, ties alphabetical") {
    import spark.implicits._
    val samples = Seq(
      ("der hund und die katze ist da", "de"),
      ("the cat and the dog is here", "en"),
      ("el gato es que la casa", "es"),
      ("le chat et la maison est", "fr"),
      ("none matches anything here", "de"), // all-zero tie → alphabetical first
    ).toDF("text", "expected")
    val got = TextAnalysis.withLangId(samples).collect()
    got.foreach(r => assert(r.getAs[String]("lang_pred") == r.getAs[String]("expected"),
      s"text '${r.getAs[String]("text")}'"))
  }

  test("container header parsing: PNG/GIF/WAV/JPEG round-trip, fallback on junk") {
    // synthetic payloads parse back to their construction parameters
    for (id <- 0L until 300L) {
      val bytes = Multimodal.syntheticPayload(id)
      val (w, h, c) = Multimodal.decodeHeader(bytes).get
      (id % 3) match {
        case 0 =>
          assert(w == 64 + id % 512 && h == 64 + (id * 31) % 512 && c == 3)
        case 1 =>
          assert(w == 32 + id % 256 && h == 32 + (id * 7) % 256 && c == 3)
        case _ =>
          assert(w == 8000 + (id % 8) * 1000 && h == 16 && c == 1 + id % 2)
      }
      assert(bytes.length ==
        (id % 3 match { case 0 => 33; case 1 => 13; case _ => 44 }) + id % 100)
    }
    // JPEG: SOF0 after an APP0 segment — marker scan must skip by length
    val jpeg = Array[Int](0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46, // APP0, len 4
      0xff, 0xc0, 0x00, 0x0b, 0x08, 0x01, 0x40, 0x02, 0x80, 0x03, 0x01, 0x22, 0x00
    ).map(_.toByte)
    assert(Multimodal.decodeHeader(jpeg).contains((640, 320, 3)))
    // unrecognized bytes fall back to the stub path
    assert(Multimodal.decodeHeader("not a container".getBytes).isEmpty)
    assert(Multimodal.decodeHeader(Array.empty[Byte]).isEmpty)
  }

  test("multimodal feature extraction preserves ids and batch shape") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val media = Multimodal.asMediaRecords(docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(media, batchSize = 7).collect()
    assert(feats.length == docs.count())
    feats.foreach { f =>
      assert(f.width == 64 + f.n_bytes % 512)
      assert(f.channels == 3)
      assert(f.frame_offsets.length == math.min(8, f.n_bytes / 100 + 1))
    }
    val resized = Multimodal.resizeFeatures(
      Multimodal.extractFeatures(media), maxDim = 128).collect()
    resized.foreach(f => assert(math.max(f.width, f.height) <= 128))
  }

  test("connected components converge on a 60-node chain (pointer jumping)") {
    import spark.implicits._
    // path graph: diameter 59 — one-hop propagation would need 59 rounds
    // and silently truncate at the old 20-round cap; pointer jumping
    // converges in O(log n) rounds
    val nodes = (0L until 60L).toDF("id")
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("idA", "idB")
    val cc = Dedup.connectedComponents(nodes, chain, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length == 60)
    assert(cc.forall(_._2 == 0L), "every chain node must reach component 0")
  }

  test("minhash exact duplicates survive the bucket cap via signature stars") {
    import spark.implicits._
    // 30 identical docs with maxBucket=10: every band bucket of the group
    // is over-cap and dropped from the candidate join, so only the
    // identical-signature star path can link them
    val docs = ((0L until 30L).map(i => (i, "all these documents are the same"))
      ++ Seq((100L, "totally different content here okay"))).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      n = 3, k = 16, bands = 4, threshold = 0.9, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    (1L until 30L).foreach(i =>
      assert(pairSet.contains((0L, i)), s"duplicate pair (0,$i) lost to the cap"))
    pairs.filter(p => p._1 == 0L).foreach(p => assert(p._3 == 1.0))
    assert(!pairs.exists(p => p._1 == 100L || p._2 == 100L))
  }

  test("simhash exact duplicates survive the bucket cap via star pairs") {
    import spark.implicits._
    // 40 identical docs + 2 distinct: with maxBucket=10 every band bucket of
    // the identical group is over-cap and dropped from the join, but the
    // identical-signature star pass must still link all 40 (hamming 0)
    val docs = ((0L until 40L).map(i => (i, "same same same text body here")) ++
      Seq((100L, "completely different words entirely"),
          (101L, "another unrelated document text"))).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
      maxHamming = 3, maxBucket = 10).collect()
    val zeroPairs = pairs.filter(_.getInt(2) == 0)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // star from representative 0 covers every duplicate
    (1L until 40L).foreach(i => assert(zeroPairs.contains((0L, i)),
      s"exact duplicate pair (0,$i) lost to the bucket cap"))
    // components over the stars reconstruct the full cluster
    val cc = Dedup.connectedComponents(docs.select(col("doc_id").as("id")),
      pairs.toSeq.map(r => (r.getLong(0), r.getLong(1)))
        .toDF("idA", "idB"), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 40L).foreach(i => assert(cc(i) == 0L))
    assert(cc(100L) == 100L && cc(101L) == 101L)
  }

  test("as-of join property: 50 random frames equal brute force (ties included)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 0 until 50) {
      // small key/time domains force collisions, equal-time ties, and
      // left-outer misses; tie ids unique per right row
      val nl = 1 + rnd.nextInt(12); val nr = rnd.nextInt(12)
      val lrows = (0 until nl).map(i =>
        (rnd.nextInt(4).toLong, rnd.nextInt(10).toLong, i.toLong))
      val rrows = (0 until nr).map(i =>
        (rnd.nextInt(4).toLong, rnd.nextInt(10).toLong, i.toLong))
      val left = lrows.toDF("k", "t", "lid")
      val right = rrows.toDF("k", "t", "rid")
      val got = AsOfJoin.asOfBackward(left, right, Seq("k"),
        "t", "t", Seq("rid"), "rid")
        .select("k", "t", "lid", "rid").collect()
        .map(r => r.getLong(2) ->
          (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      val expected = lrows.map { case (k, t, lid) =>
        lid -> rrows.filter(r => r._1 == k && r._2 <= t)
          .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
      }.toMap
      assert(got == expected, s"trial $trial: left=$lrows right=$rrows")
    }
  }

  test("as-of join equals per-row brute-force latest-at-or-before lookup") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "l10"), (1L, 20L, "l20"), (1L, 5L, "l5"),
      (2L, 15L, "m15"), (3L, 7L, "n7"),
    ).toDF("k", "t", "lv")
    val right = Seq(
      (1L, 10L, "r10"), (1L, 18L, "r18"), (1L, 25L, "r25"),
      (2L, 1L, "s1"), (2L, 15L, "s15"), (9L, 3L, "z3"),
    ).toDF("k", "t", "rv")
      .withColumn("rid", monotonically_increasing_id())
    val got = AsOfJoin.asOfBackward(left, right, Seq("k"),
      "t", "t", Seq("rv"), "rid")
      .select("k", "t", "lv", "rv").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(3)).toMap
    // inclusive at equal time; left-outer when no right row precedes
    assert(got((1L, 10L)) == "r10")
    assert(got((1L, 20L)) == "r18")
    assert(got((1L, 5L)) == null)
    assert(got((2L, 15L)) == "s15")
    assert(got((3L, 7L)) == null)
    // fixture-scale brute force over events
    val ev0 = spark.read.parquet(s"${testDataDir()}/events.parquet")
    val ev = ev0.withColumn("ts", graft.functions.EventTime.micros(ev0))
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val expected = clicks.map { case (u, cid, ct) =>
      cid -> views.getOrElse(u, Array.empty).filter(_._3 <= ct)
        .sortBy(v => (v._3, v._2)).lastOption.map(_._2)
    }.toMap
    val dist = AsOfJoin.asOfBackward(
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts")),
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("vid")),
      Seq("user_id"), "ts", "ts", Seq("vid"), "vid")
      .select("event_id", "vid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(dist == expected)
  }

  test("bucketized range join equals brute-force inequality join, no dup pairs") {
    val ev0 = spark.read.parquet(s"${testDataDir()}/events.parquet")
    val ev = ev0.withColumn("us", graft.functions.EventTime.micros(ev0))
    val win = 600L * 1000 * 1000
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("vid"),
        col("us").as("s"), (col("us") + win).as("e"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("cid"), col("us").as("p"))
    // brute force via collected loops
    val vRows = views.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val cRows = clicks.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = (for {
      (vu, vid, s, e) <- vRows
      (cu, cid, p) <- cRows if cu == vu && p >= s && p < e
    } yield (vid, cid)).toSet
    // odd bucket width forces intervals to straddle bins — dedup-free claim
    for (width <- Seq(win, win / 3 + 7, win * 4)) {
      val got = RangeJoin.pointInIntervalJoin(clicks, views, Seq("user_id"),
        "p", "s", "e", width).select("vid", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.toSet.size, s"width=$width produced duplicate pairs")
      assert(got.toSet == expected, s"width=$width")
    }
  }

  test("interval overlap join equals brute force, duplicate-free at any width") {
    val ev0 = spark.read.parquet(s"${testDataDir()}/events.parquet")
    val ev = ev0.withColumn("us", graft.functions.EventTime.micros(ev0))
    val win = 3600L * 1000 * 1000 // 1h windows around each event
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("vid"),
        col("us").as("vs"), (col("us") + win).as("ve"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        col("us").as("ps"), (col("us") + win).as("pe"))
    val vRows = views.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val pRows = purchases.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = (for {
      (vu, vid, vs, ve) <- vRows
      (pu, pid, ps, pe) <- pRows if pu == vu && vs < pe && ps < ve
    } yield (vid, pid)).toSet
    assert(expected.nonEmpty)
    for (width <- Seq(win, win / 3 + 7, win * 5)) {
      val got = RangeJoin.intervalOverlapJoin(views, purchases, Seq("user_id"),
        "vs", "ve", "ps", "pe", width)
        .select("l_vid", "r_pid").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.toSet.size, s"width=$width duplicate pairs")
      assert(got.toSet == expected, s"width=$width")
    }
  }

  test("distributed prefix sum equals the single-partition global window") {
    import org.apache.spark.sql.expressions.Window
    val withToks = docs.select(col("doc_id"),
      TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_tok"))
    val global = withToks
      .withColumn("cum", sum("n_tok").over(Window.orderBy("doc_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    for (buckets <- Seq(1, 7, 32)) {
      val dist = PrefixSum.withPrefixSum(withToks, "doc_id", "n_tok",
        out = "cum", buckets = buckets)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(dist == global, s"buckets=$buckets")
    }
    // budget selection: maximal prefix within budget, first overflow excluded
    val budget = global.values.toSeq.sorted.apply(global.size / 2) // mid-corpus
    val kept = PrefixSum.selectWithinBudget(withToks, "doc_id", "n_tok", budget)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = global.filter(_._2 <= budget).keySet
    assert(kept == expected)
    // sanctioned-bounded-collect pin (see the withPrefixSum scaladoc):
    // what ships back from the driver is the offset MAP LITERAL — its
    // entry count in the plan must stay ≤ 2·buckets however many rows
    // flow through (here 10⁰× more rows than buckets)
    val plan = PrefixSum.withPrefixSum(withToks, "doc_id", "n_tok",
      out = "cum", buckets = 4).queryExecution.analyzed.toString
    val mapLit = "map\\(([^)]*)\\)".r.findFirstMatchIn(plan)
    assert(mapLit.isDefined, s"offset map literal missing from plan:\n$plan")
    val entries = mapLit.get.group(1).split(",").length
    assert(entries <= 8, s"offset map grew past 2·buckets: $entries entries")
  }

  test("prefix sum rejects a STRING order key loudly, not via approxQuantile") {
    // a UUID-style conversation id would otherwise die inside
    // approxQuantile with an obscure type error mid-plan
    val stringKeyed = docs.select(col("source").as("k"), lit(1L).as("v"))
    val ex = intercept[IllegalArgumentException] {
      PrefixSum.withPrefixSum(stringKeyed, "k", "v")
    }
    assert(ex.getMessage.contains("must be numeric"), ex.getMessage)
    assert(ex.getMessage.contains("xxhash64"), ex.getMessage)
  }

  test("streaming stateful dedup suppresses duplicate keys across micro-batches") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val inDir = java.nio.file.Files.createTempDirectory("graft-sdedup-in").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/b1.csv"),
      "k,v\n1,a\n2,b\n3,c\n2,b2\n".getBytes)
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val stream = spark.readStream.option("header", "true").schema(schema).csv(inDir)
    val q = graft.streaming.StreamingIngest.streamingDedup(stream, "k")
      .writeStream.outputMode("append").format("memory").queryName("t_sdedup").start()
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("t_sdedup").select("k").collect().map(_.getLong(0)).sorted
      assert(afterB1.toSeq == Seq(1L, 2L, 3L)) // in-batch duplicate of 2 suppressed
      // second micro-batch: 2,3 are cross-batch duplicates, 4 is new
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/b2.csv"),
        "k,v\n2,x\n4,d\n3,y\n4,d2\n".getBytes)
      q.processAllAvailable()
      val afterB2 = spark.table("t_sdedup").select("k").collect().map(_.getLong(0)).sorted
      assert(afterB2.toSeq == Seq(1L, 2L, 3L, 4L))
      // the surviving row for key 2 is from batch 1, not the later duplicate
      val v2 = spark.table("t_sdedup").filter(col("k") === 2).select("v").head.getString(0)
      assert(v2 == "b" || v2 == "b2") // batch-1 representative
    } finally q.stop()
  }

  test("watermark dedup suppresses within-delay duplicates, evicts state after") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val inDir = java.nio.file.Files.createTempDirectory("graft-wmdedup-in").toString
    // event times in seconds; watermark delay 10s
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/b1.csv"),
      "k,sec\nA,0\nB,1\nA,2\n".getBytes)
    val schema = StructType(Seq(StructField("k", StringType), StructField("sec", LongType)))
    val stream = spark.readStream.option("header", "true").schema(schema).csv(inDir)
      .select(col("k"), timestamp_seconds(col("sec")).as("tsm"))
    val q = graft.streaming.StreamingIngest
      .dedupWithinWatermark(stream, Seq("k"), "tsm", "10 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("t_wmdedup").start()
    try {
      q.processAllAvailable()
      // in-batch duplicate of A suppressed
      assert(spark.table("t_wmdedup").select("k").collect()
        .map(_.getString(0)).sorted.toSeq == Seq("A", "B"))
      // batch 2: A at t=5 is within the delay of the kept A -> suppressed;
      // the max event time advances the watermark far past A's state
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/b2.csv"),
        "k,sec\nA,5\nC,100\n".getBytes)
      q.processAllAvailable()
      assert(spark.table("t_wmdedup").select("k").collect()
        .map(_.getString(0)).sorted.toSeq == Seq("A", "B", "C"))
      // batch 3: A's state was evicted (watermark 100-10 > A's expiry) — a
      // NEW A re-emits: the documented bounded-state trade vs streamingDedup
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/b3.csv"),
        "k,sec\nA,101\n".getBytes)
      q.processAllAvailable()
      assert(spark.table("t_wmdedup").filter(col("k") === "A").count() == 2)
    } finally q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(inDir))
  }

  test("watermark dedup state is bounded by the horizon, not the key space") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val inDir = java.nio.file.Files.createTempDirectory("graft-wmstate-in").toString
    // batch 1: 50 distinct keys near t=0 — all land in the state store
    val b1 = "k,sec\n" + (0 until 50).map(i => s"k$i,$i").mkString("\n") + "\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/b1.csv"), b1.getBytes)
    val schema = StructType(Seq(StructField("k", StringType), StructField("sec", LongType)))
    val stream = spark.readStream.option("header", "true").schema(schema).csv(inDir)
      .select(col("k"), timestamp_seconds(col("sec")).as("tsm"))
    val q = graft.streaming.StreamingIngest
      .dedupWithinWatermark(stream, Seq("k"), "tsm", "10 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("t_wmstate").start()
    // the post-watermark no-data batch applies eviction; it usually runs
    // inside processAllAvailable but is not strictly synchronous with it —
    // poll (bounded) until the store reflects it instead of racing
    def stateRowsWithin(bound: Long): Long = {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def rows: Long =
        Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      var r = rows
      while ((r < 0 || r > bound) && System.nanoTime() < deadline) {
        Thread.sleep(200); r = rows
      }
      r
    }
    try {
      q.processAllAvailable()
      // batch-1 state trims to the IN-HORIZON keys — those within `delay`
      // of the max event time (expiry i+10 > watermark 39 ⇒ i in 30..49 ⇒
      // 20 keys), not the 50 keys seen
      val afterB1 = stateRowsWithin(20L)
      assert(afterB1 > 0L && afterB1 <= 20L,
        s"batch-1 state should hold only in-horizon keys (<=20), got $afterB1")
      // batch 2 jumps event time far ahead: watermark passes every batch-1
      // key's expiry (0..49 + 10s), so the contract is that their state is
      // EVICTED — rows in the store track the watermark horizon (keys seen
      // within `delay` of the max event time), not the corpus's key space
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/b2.csv"),
        ("k,sec\n" + (0 until 5).map(i => s"new$i,${10000 + i}").mkString("\n") + "\n").getBytes)
      q.processAllAvailable()
      // one more micro-batch so the advanced watermark is applied to state
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/b3.csv"),
        "k,sec\nlast,10010\n".getBytes)
      q.processAllAvailable()
      val finalRows = stateRowsWithin(6L)
      assert(finalRows > 0L && finalRows <= 6L,
        s"state not evicted past the watermark: $finalRows rows for 56 keys seen")
    } finally q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(inDir))
  }

  test("session-window state holds open sessions only, finalized ones evicted") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val inDir = java.nio.file.Files.createTempDirectory("graft-sessstate-in").toString
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("us", LongType)))
    // batch 1: 100 users, one short session each near t=0
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0L until 100L).map(u => org.apache.spark.sql.Row(u, u * 1000L))),
      schema).write.mode("overwrite").parquet(s"$inDir/b1.parquet")
    val stream = spark.readStream.schema(schema).parquet(s"$inDir/*.parquet")
      .select(col("user_id"), timestamp_micros(col("us")).as("tsm"))
    val q = graft.streaming.StreamingIngest
      .sessionizedEvents(stream, gapMicros = 1000000L, keyCol = "user_id",
        tsCol = "tsm", watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("t_sessstate").start()
    try {
      q.processAllAvailable()
      val afterB1 = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(afterB1 >= 100L, s"expected >=100 open sessions in state, got $afterB1")
      // batch 2 far in the future: watermark passes every batch-1 session
      // end + gap, finalizing and EVICTING them — the state store holds
      // in-horizon (open) sessions, not the history of all sessions
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq(org.apache.spark.sql.Row(7777L, 3600L * 1000000L))),
        schema).write.mode("overwrite").parquet(s"$inDir/b2.parquet")
      q.processAllAvailable()
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq(org.apache.spark.sql.Row(8888L, 3601L * 1000000L))),
        schema).write.mode("overwrite").parquet(s"$inDir/b3.parquet")
      q.processAllAvailable()
      // bounded poll: the eviction-applying batch is not strictly
      // synchronous with processAllAvailable (see the dedup-state test)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def rows: Long =
        Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      var finalRows = rows
      while ((finalRows < 0 || finalRows > 2L) && System.nanoTime() < deadline) {
        Thread.sleep(200); finalRows = rows
      }
      assert(finalRows > 0L && finalRows <= 2L,
        s"finalized sessions not evicted: $finalRows state rows for 102 sessions")
      // and the finalized sessions were emitted downstream
      assert(spark.table("t_sessstate").count() >= 100L)
    } finally q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(inDir))
  }

  test("streaming hourly agg equals batch aggregation") {
    val streamed = graft.streaming.StreamingIngest
      .runWindowedEventAgg(spark, s"${testDataDir()}/events.parquet")
    val events0 = spark.read.parquet(s"${testDataDir()}/events.parquet")
    val events = events0
      .withColumn("ts", graft.functions.EventTime.timestamp(events0))
    val batch = events.groupBy(date_trunc("hour", col("ts")).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
    val a = streamed.orderBy("window_start", "event_type").collect().toSeq
    val b = batch.orderBy("window_start", "event_type").collect().toSeq
    assert(a == b)
  }
}
