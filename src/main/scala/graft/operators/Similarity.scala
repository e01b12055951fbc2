package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns — the
  * similarity-search extension (SURVEY.md §7.1.9).
  *
  * Two paths:
  *  - [[cosineTopK]]: brute-force baseline — broadcast the (small) query set
  *    against the corpus, one narrow pass + one shuffle for the per-query
  *    top-k window. Exact; cost O(|Q|·|corpus|), the right plan when |Q| is
  *    bounded (the broadcast side) no matter how large the corpus.
  *  - [[lshCosineTopK]]: scale path — random-hyperplane signatures bucket
  *    both sides; only bucket-mates are scored. Sub-linear candidate sets,
  *    recall tested against the brute-force oracle in SimilaritySpec.
  *
  * All arithmetic is double-precision with a fixed (sequential) accumulation
  * order, so results are deterministic and oracle-comparable.
  */
object Similarity {

  /** Sequential-order double dot product / norm over float-array columns —
    * native codegen'd Catalyst expressions operating straight on Tungsten
    * ArrayData ([[graft.expr.FloatVecDot]]): no per-element boxing (a Scala
    * UDF pays Seq[Float] conversion per call) and no interpreted lambda (a
    * zip_with/aggregate HOF pays per-element interpretation). Accumulation
    * order (left-to-right, double) is part of the contract: the DuckDB
    * oracles reproduce it bit-for-bit. */
  def dot(a: Column, b: Column): Column =
    graft.expr.VectorExpressions.float_vec_dot(a, b)
  def l2norm(v: Column): Column =
    graft.expr.VectorExpressions.float_vec_norm(v)

  /** Cosine similarity between two array<float> columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** The one scoring projection of a (`vec_id`, `embedding`) side: the
    * id as `id`, then `extra`, then the embedding as `array<float>`
    * named `<side>v` and its L2 norm named `<side>n`. */
  private[operators] def normed(df: DataFrame, id: Column, side: String,
                                extra: Column*): DataFrame =
    df.select((id +: extra :+
        col("embedding").cast("array<float>").as(s"${side}v")): _*)
      .withColumn(s"${side}n", l2norm(col(s"${side}v")))

  /** Shared exact-scoring core: broadcast the (bounded) projected query
    * frame against the streamed corpus frame, score surviving pairs, rank
    * per query, keep top-k. `q`/`c` must already carry qv/qn resp. cv/cn;
    * `pairFilter` is the extra pair predicate (lit(true) for plain top-k).
    * Zero-norm vectors have no defined cosine (Spark Divide yields null on
    * a 0 divisor, and null rows would still receive ranks) — excluded. */
  private def exactTopK(q: DataFrame, c: DataFrame, k: Int,
                        pairFilter: Column, outCols: Seq[Column]): DataFrame = {
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(pairFilter)
      .filter(col("qn") > 0 && col("cn") > 0)
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(outCols: _*)
  }

  /** Hashed-feature text embedding ("hashing trick", Weinberger et al.
    * ICML'09): tokens (lower/trim/whitespace — the [[Dedup.cleanTokens]]
    * rule) hash into `dim` signed buckets by a FIXED arithmetic formula
    * over (length, first/last code point), giving every engine the same
    * vector with no model to ship — bucket
    * `(3·len + 7·cp_first + 13·cp_last) mod dim`, sign
    * `(len + cp_first) mod 2`. Components are small integers (exact in
    * float), so cosine over these vectors is bit-replayable in SQL —
    * what makes the RAG capstone hash-oracle-able end-to-end. Per-row
    * HOF arithmetic, zero shuffle; the per-token (bucket, sign) pairs
    * feed ONE aggregate pass whose state is the accumulating vector, so
    * token hashing is evaluated once per row — not once per dimension
    * (the bigramLogProb O(n²) re-evaluation trap).
    *
    * CONTRACT — BMP text only for cross-engine replay: Spark's
    * `ascii`/`substr` index UTF-16 code units while DuckDB's
    * `unicode`/`substring` index code points, so a token that starts or
    * ends with a supplementary-plane character (emoji) hashes the
    * surrogate here and the real code point in the oracle, silently
    * diverging bucket and sign. On ASCII/BMP input (all graft fixtures)
    * the two are identical; feed non-BMP text only where no SQL replay
    * is required. */
  def hashedEmbedding(text: Column, dim: Int): Column = {
    require(dim > 0, s"hashedEmbedding: dim must be positive, got $dim")
    val pairs = transform(Dedup.cleanTokens(text), t => {
      val cpFirst = ascii(t).cast("long")
      val cpLast = ascii(t.substr(length(t), lit(1))).cast("long")
      val len = length(t).cast("long")
      struct(
        pmod(lit(3L) * len + lit(7L) * cpFirst + lit(13L) * cpLast,
          lit(dim.toLong)).cast("int").as("b"),
        when(pmod(len + cpFirst, lit(2L)) === 0L, lit(1.0))
          .otherwise(lit(-1.0)).as("s"))
    })
    aggregate(pairs, array_repeat(lit(0.0), lit(dim)),
      (acc, p) => transform(acc, (v, i) =>
        v + when(p.getField("b") === i, p.getField("s")).otherwise(0.0)))
  }

  /** Exact top-k cosine neighbors for each query vector.
    * Output: (query_id, rank, neighbor_id, cosine) — cosine rounded to 6dp
    * so double-summation-order differences vs other engines can't flip a
    * hash comparison. Self-matches excluded. Both sides carry (`vec_id`,
    * `embedding`), as in every search here. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = normed(queries, col("vec_id").as("query_id"), "q")
    val c = normed(corpus, col("vec_id").as("neighbor_id"), "c")
    exactTopK(q, c, k, lit(true),
      Seq(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine")))
  }

  // ------------------------------------------------- hyperplane LSH buckets

  /** Bucketing geometry: 4 bands × 4 bits = 16 buckets per band. Candidate
    * volume is ~n²/16 per band in the worst case — LSH's selectivity knob
    * is rows-per-band, and the right setting depends on the similarity
    * threshold: at genuine near-dup thresholds (cosine ≥ 0.9, per-bit match
    * p ≈ 0.86) widening to 8-bit buckets keeps ~29% recall per band with
    * 256× selectivity, but at loose thresholds (0.2, p ≈ 0.56) ANY
    * selective geometry collapses recall (p^8 ≈ 1%) — there the honest
    * scale path is IVF cluster-bounded pairing, not hyperplane banding.
    * These defaults favor recall on the loose-threshold fixtures; tighten
    * rows-per-band as the threshold rises. */
  val SignatureBits = 16
  val Bands = 4
  private val RowsPerBand = SignatureBits / Bands

  /** Deterministic random hyperplanes (seed 7), dim x bits — cached per dim
    * so executors build them once, not per row. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()
  /** Public (read-only) accessor: the oracle harness re-derives the exact
    * signature computation in SQL from these data-independent constants. */
  def hyperplanesFor(dim: Int): Array[Array[Double]] = hyperplanes(dim).map(_.clone())
  private def hyperplanes(dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent(dim, d => {
      val rnd = new scala.util.Random(7)
      Array.fill(SignatureBits)(Array.fill(d)(rnd.nextGaussian()))
    })

  /** Per-row signature bits → (band, bucket) rows. Signature via one compact
    * UDF (tight loop over dim×bits); banding via expressions. */
  def withHyperplaneBands(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val sigUdf = udf { (v: Seq[Float]) =>
      val planes = hyperplanes(v.length)
      var sig = 0L
      var i = 0
      while (i < SignatureBits) {
        var s = 0.0; var j = 0
        val p = planes(i)
        while (j < v.length) { s += p(j) * v(j); j += 1 }
        if (s > 0) sig |= (1L << i)
        i += 1
      }
      sig
    }
    val withSig = df.withColumn("__sig", sigUdf(col(vecCol)))
    val chunks = array((0 until Bands).map { j =>
      struct(lit(j).as("band"),
        shiftrightunsigned(col("__sig"), j * RowsPerBand)
          .bitwiseAND(lit((1L << RowsPerBand) - 1)).as("bucket"))
    }: _*)
    withSig.select(df.columns.map(col) :+ explode(chunks).as("bb"): _*)
      .select(df.columns.map(col) :+ col("bb.band") :+ col("bb.bucket"): _*)
  }

  /** LSH-bucketed approximate top-k: score only bucket-mates. Same output
    * shape as [[cosineTopK]]; recall < 1 by construction, measured in tests. */
  def lshCosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = normed(queries, col("vec_id").as("query_id"), "q")
    val c = normed(corpus, col("vec_id").as("neighbor_id"), "c")
    val qb = withHyperplaneBands(q.select(col("query_id"), col("qv")), "qv", "query_id")
    val cb = withHyperplaneBands(c.select(col("neighbor_id"), col("cv")), "cv", "neighbor_id")
    // Dedup multi-band collisions on the ID PAIR ALONE, then join the
    // vectors back — a distinct over rows carrying both float arrays would
    // shuffle and compare the heavy payloads just to drop duplicates (the
    // same lesson as the ngram candidate stream).
    val cands = qb.select(col("band"), col("bucket"), col("query_id"))
      .join(cb.select(col("band"), col("bucket"), col("neighbor_id")),
        Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val scored = cands
      .join(q, "query_id").join(c, "neighbor_id")
      .filter(col("qn") > 0 && col("cn") > 0)
      .withColumn("cosine",
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** DuckDB-style ROUND half-away-from-zero — the cross-engine rounding
    * contract for micro-quantization (Spark SQL `round` and DuckDB
    * `round` both round halves away from zero; `Math.round` would round
    * -0.5 toward positive infinity and silently diverge). */
  private def microAway(x: Double): Long =
    (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98): from each query's exact top-`topN` cosine candidates,
    * greedily select `k` maximizing
    * `λ·rel(c) − (1−λ)·max over selected s of sim(c, s)` — the standard
    * diversity re-rank for retrieval-augmented sampling (top-k alone
    * returns near-duplicates; MMR trades relevance for coverage).
    *
    * Fixed-point contract: relevance and pairwise sims are quantized to
    * integer MICRO units (round(cos·10⁶), half away from zero) BEFORE the
    * greedy loop, and the objective is pure integer arithmetic
    * (`mmr_units = λppm·rel_micro − (10⁶−λppm)·maxsim_micro`, λppm =
    * 700000), so the
    * selection is bit-reproducible and the whole iterative operator is
    * hash-oracled (the oracle replays the greedy as a recursive CTE).
    * Ties break on smaller neighbor_id.
    *
    * Scale shape: candidate generation is [[cosineTopK]]'s broadcast-
    * bounded-queries plan (swap in IVF/LSH candidates at 100 TB — the
    * re-rank stage is unchanged); the greedy runs inside one task per
    * query over ≤ topN candidates (k·topN dot products of dim d), after
    * one query-keyed shuffle of the bounded candidate structs.
    *
    * Output: (query_id, step 1..k, neighbor_id, rel_micro, maxsim_micro,
    * mmr_units). */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, k: Int,
                topN: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(topN >= k, s"topN ($topN) must be >= k ($k)")
    val q = normed(queries, col("vec_id").as("query_id"), "q")
    val c = normed(corpus, col("vec_id").as("neighbor_id"), "c")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(col("qn") > 0 && col("cn") > 0)
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val cands = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine") * 1000000).cast("long").as("rel_micro"),
        col("cv"))
    val kk = k
    val lam = 700000L
    val mu = 1000000L - lam
    val greedy = udf { (rows: Seq[org.apache.spark.sql.Row]) =>
      val cs = rows.map { r =>
        (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray)
      }.toArray
      val n = cs.length
      // per-candidate norms once (left-to-right double accumulation, the
      // FloatVecDot contract)
      val norms = cs.map { case (_, _, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
        math.sqrt(s)
      }
      def simMicro(a: Int, b: Int): Long = {
        val va = cs(a)._3; val vb = cs(b)._3
        var s = 0.0; var i = 0
        while (i < va.length) { s += va(i).toDouble * vb(i).toDouble; i += 1 }
        microAway(s / (norms(a) * norms(b)) * 1000000.0)
      }
      val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long)]
      var step = 1
      while (step <= kk && selected.length < n) {
        var bestIdx = -1; var bestUnits = 0L; var bestId = 0L; var bestMs = 0L
        var p = 0
        while (p < n) {
          if (!selected.contains(p)) {
            val ms = if (selected.isEmpty) 0L
                     else selected.map(simMicro(p, _)).max
            val units = lam * cs(p)._2 - mu * ms
            val better = bestIdx < 0 || units > bestUnits ||
              (units == bestUnits && cs(p)._1 < bestId)
            if (better) { bestIdx = p; bestUnits = units; bestId = cs(p)._1; bestMs = ms }
          }
          p += 1
        }
        selected += bestIdx
        out += ((step.toLong, cs(bestIdx)._1, cs(bestIdx)._2, bestMs, bestUnits))
        step += 1
      }
      out.toSeq
    }
    cands.groupBy(col("query_id"))
      .agg(collect_list(struct(col("neighbor_id"), col("rel_micro"),
        col("cv"))).as("__c"))
      .select(col("query_id"), explode(greedy(col("__c"))).as("m"))
      .select(col("query_id"), col("m._1").as("step"),
        col("m._2").as("neighbor_id"), col("m._3").as("rel_micro"),
        col("m._4").as("maxsim_micro"), col("m._5").as("mmr_units"))
  }

  /** Hard-negative mining for embedding-model training: each query's top-k
    * most-similar corpus vectors with a DIFFERENT label — the
    * near-but-wrong examples contrastive training wants. [[cosineTopK]]'s
    * exact shape (broadcast bounded query set vs streamed corpus, map-side
    * WindowGroupLimit heaps) plus the label-mismatch predicate applied
    * BEFORE scoring, so same-label rows never pay the dot product.
    * Both sides carry `label`. Output: (query_id, query_label, rank,
    * neighbor_id, neighbor_label, cosine·6dp). */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = normed(queries, col("vec_id").as("query_id"), "q",
      col("label").as("query_label"))
    val c = normed(corpus, col("vec_id").as("neighbor_id"), "c",
      col("label").as("neighbor_label"))
    exactTopK(q, c, k, col("query_label") =!= col("neighbor_label"),
      Seq(col("query_id"), col("query_label"), col("rank"),
        col("neighbor_id"), col("neighbor_label"),
        round(col("cosine"), 6).as("cosine")))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk ACL'19 — the
    * CCMatrix/NLLB parallel-corpus shape): score every (src, tgt)
    * candidate by its cosine RATIO to the average of each side's k
    * nearest neighbors — raw cosine alone over-accepts hub vectors that
    * are close to everything; the margin denominator cancels hubness —
    * then keep each src's best-margin tgt, accepted iff the margin
    * clears `minMarginPpm` (1.05 ≈ 1,050,000).
    *
    * Everything after the 6dp-stable cosine is micro-quantized integer
    * arithmetic (the q_sim_mmr discipline): cosines become ppm longs,
    * neighbor averages stay as (sum, count) pairs, and
    * `margin_ppm = 10⁶·c·2·kA·kB / (A·kB + B·kA)` is one BIGINT
    * truncating division with a positive numerator and denominator
    * (negative-cosine or empty-neighborhood rows get a NULL margin and
    * are never accepted) — so ranks, margins, and accept bits are
    * hash-exact cross-engine.
    *
    * Scale: the exact S×T cross is the LABELED-oracle path, bounded by
    * the mined src sample (the q_rag_pipeline discipline); an at-scale
    * run swaps the cross for IVF-PQ shortlists per src and reuses the
    * same margin arithmetic over the shortlist frame. Both window
    * rankings and both aggregates ride the one bounded S×T frame; the
    * src side broadcasts. */
  def bitextMine(src: DataFrame, tgt: DataFrame, k: Int, minMarginPpm: Long): DataFrame = {
    require(k > 0, s"bitextMine: k must be positive, got $k")
    require(minMarginPpm > 0,
      s"bitextMine: minMarginPpm must be positive, got $minMarginPpm")
    marginMine(bitextScore(src, tgt), k, minMarginPpm)
  }

  /** The scoring half of [[bitextMine]]: broadcast the (bounded) src
    * side against the tgt frame and emit micro-quantized candidate
    * cosines (src_id, tgt_id, c_ppm). Per-tgt-row pure projection —
    * each tgt row maps to its |S| candidate rows independently of every
    * other tgt row — which is what lets the streaming twin score
    * micro-batches of the corpus under the row-map contract and leave
    * only [[marginMine]] as the bounded epilogue. */
  def bitextScore(src: DataFrame, tgt: DataFrame): DataFrame = {
    val q = normed(src, col("vec_id").cast("long").as("src_id"), "q")
    val c = normed(tgt, col("vec_id").cast("long").as("tgt_id"), "c")
    c.crossJoin(broadcast(q))
      .filter(col("qn") > 0 && col("cn") > 0)
      .withColumn("c_ppm",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")) * 1e6)
          .cast("long"))
      .select(col("src_id"), col("tgt_id"), col("c_ppm"))
  }

  /** The margin arithmetic of [[bitextMine]] over ANY
    * (src_id, tgt_id, c_ppm) candidate frame — shared between the exact
    * miner (full S×T candidates) and the IVF-shortlist serving path
    * (per-src ANN candidates only; each side's k-NN average is then
    * taken over the VISIBLE candidates — the standard shortlist-margin
    * approximation, agreement-gated against the exact miner by its
    * caller). */
  def marginMine(scored: DataFrame, k: Int, minMarginPpm: Long): DataFrame = {
    val wS = Window.partitionBy(col("src_id"))
      .orderBy(col("c_ppm").desc, col("tgt_id").asc)
    val wT = Window.partitionBy(col("tgt_id"))
      .orderBy(col("c_ppm").desc, col("src_id").asc)
    val nnS = scored.withColumn("r", row_number().over(wS))
      .filter(col("r") <= k).groupBy("src_id")
      .agg(sum("c_ppm").as("nn_src"), count(lit(1)).as("k_src"))
    val nnT = scored.withColumn("r", row_number().over(wT))
      .filter(col("r") <= k).groupBy("tgt_id")
      .agg(sum("c_ppm").as("nn_tgt"), count(lit(1)).as("k_tgt"))
    val margins = scored.join(nnS, "src_id").join(nnT, "tgt_id")
      .withColumn("margin_ppm",
        when(col("c_ppm") >= 0 &&
            (col("nn_src") * col("k_tgt") + col("nn_tgt") * col("k_src")) > 0,
          expr("(2000000 * c_ppm * k_src * k_tgt) div " +
            "(nn_src * k_tgt + nn_tgt * k_src)")))
    val wBest = Window.partitionBy(col("src_id"))
      .orderBy(col("margin_ppm").desc_nulls_last, col("tgt_id").asc)
    margins.withColumn("__b", row_number().over(wBest))
      .filter(col("__b") === 1)
      .select(col("src_id"), col("tgt_id"), col("c_ppm").as("cos_ppm"),
        col("margin_ppm"),
        coalesce(col("margin_ppm") >= minMarginPpm, lit(false)).as("accepted"))
  }
}
