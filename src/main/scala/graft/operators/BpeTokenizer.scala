package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer (Sennrich et al., "Neural Machine
  * Translation of Rare Words with Subword Units", ACL 2016) — the REAL
  * subword tokenizer behind every modern LM corpus pipeline, upgrading the
  * whitespace/regex token counting used elsewhere: merges are LEARNED from
  * corpus statistics, application is deterministic greedy best-rank
  * merging, and token counts downstream (packing, budgeting) become the
  * counts a trainer would actually see.
  *
  * Scale shape:
  *   - LEARN: word frequencies are ONE distributed (word)-keyed count
  *     (map-side combined — the aggregate is vocabulary-sized, never
  *     corpus-sized); only the top-[[MaxWords]] (count desc, word) rows are
  *     collected — a bounded driver collect, the IvfIndex/ProductQuantize
  *     training precedent. Merge learning is the classic O(merges·vocab)
  *     driver loop over that bounded table.
  *   - APPLY: the ordered merge list broadcasts (numMerges strings); each
  *     row tokenizes independently in a per-row UDF with a per-partition
  *     word memo (real corpora repeat words heavily) — embarrassingly
  *     parallel, no shuffle.
  *
  * Determinism: merge learning breaks count ties lexicographically, so the
  * merge table is a pure function of the word-count table; application is
  * a pure function of (word, merge ranks). The round-trip identity
  * (detokenized tokens == cleaned words) is gated in-engine by
  * q_bpe_learned_verify against the empty relation.
  *
  * End-of-word is marked by the `</w>` suffix on a word's final symbol
  * (the Sennrich convention): "hello" → e.g. ["he", "llo</w>"]. Input
  * words containing a literal "</w>" would confuse detokenization only in
  * the verify query's reassembly, not in tokenization itself.
  */
object BpeTokenizer {

  val EndOfWord = "</w>"

  /** Size of the vocabulary head merges are learned from: the top words
    * by (count desc, word), the bound on the driver collect. */
  private val MaxWords = 50000

  /** Learn `numMerges` BPE merges from the corpus: distributed word count,
    * bounded top-[[MaxWords]] collect, driver merge loop. Returns merges in
    * priority order (rank 0 = first learned = highest priority). */
  def learnMerges(df: DataFrame, textCol: String,
                  numMerges: Int): Seq[(String, String)] = {
    val wordCounts = df
      .select(explode(Dedup.cleanTokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(MaxWords) // bounded driver collect: vocabulary head only
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toSeq
    learnMergesFromCounts(wordCounts, numMerges)
  }

  /** The driver merge loop over an in-memory word-count table — the pure
    * function both [[learnMerges]] (corpus counts) and [[frozenMerges]]
    * (seed counts) share. Deterministic: count ties break
    * lexicographically. */
  def learnMergesFromCounts(wordCounts: Seq[(String, Long)],
                            numMerges: Int): Seq[(String, String)] = {
    require(numMerges > 0, "learnMerges: numMerges must be positive")
    // represent each word as its symbol sequence (byte fallback for
    // non-ASCII, matching encodeWord — learning and application must
    // share one symbol alphabet), last symbol marked </w>
    val words = mutable.ArrayBuffer.from(wordCounts.map { case (w, c) =>
      val syms = initialSymbols(w)
      if (syms.nonEmpty) syms(syms.length - 1) += EndOfWord
      (syms, c)
    })
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var iter = 0
    var done = false
    while (iter < numMerges && !done) {
      val pairCounts = mutable.HashMap.empty[(String, String), Long]
      for ((syms, c) <- words if syms.length >= 2; i <- 0 until syms.length - 1)
        pairCounts.updateWith((syms(i), syms(i + 1)))(p => Some(p.getOrElse(0L) + c))
      if (pairCounts.isEmpty) done = true
      else {
        // max count, ties broken lexicographically — deterministic
        val best = pairCounts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        val (x, y) = best
        val xy = x + y
        for (idx <- words.indices) {
          val (syms, c) = words(idx)
          if (syms.length >= 2) {
            val out = mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == x && syms(i + 1) == y) {
                out += xy; i += 2
              } else { out += syms(i); i += 1 }
            }
            if (out.length != syms.length) words(idx) = (out.toArray, c)
          }
        }
      }
      iter += 1
    }
    merges.toSeq
  }

  /** Initial symbol sequence of a word with BYTE FALLBACK
    * (SentencePiece `byte_fallback`, the closed-vocabulary move GPT-2
    * makes by construction): ASCII code points stay single-char
    * symbols; any code point ≥ 128 expands to one literal token per
    * UTF-8 byte — `<0xNN>`, uppercase hex — so every string tokenizes
    * under any merge table instead of washing out as open-class unicode
    * symbols. Walks CODE POINTS, not UTF-16 units, so supplementary-
    * plane characters encode as their real 4-byte UTF-8 sequence, never
    * CESU-8 surrogate halves. [[decodeByteFallback]] inverts it. */
  private[operators] def initialSymbols(word: String): Array[String] = {
    val buf = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      if (cp < 128) buf += word.substring(i, i + 1)
      else new String(Character.toChars(cp), 0, Character.charCount(cp))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .foreach(b => buf += f"<0x${b & 0xff}%02X>")
      i += Character.charCount(cp)
    }
    buf.toArray
  }

  /** Invert [[initialSymbols]]' byte fallback on a reassembled token
    * string: every maximal `<0xNN>` run decodes as UTF-8; everything
    * else passes through. Contract: the input text itself must not
    * contain a literal `<0xNN>` substring (true of every graft
    * fixture); production systems reserve those codepoints up front. */
  def decodeByteFallback(s: String): String = {
    if (s == null || !s.contains("<0x")) return s
    val bytes = mutable.ArrayBuffer.empty[Byte]
    val out = new StringBuilder
    def flush(): Unit = if (bytes.nonEmpty) {
      out.append(new String(bytes.toArray,
        java.nio.charset.StandardCharsets.UTF_8))
      bytes.clear()
    }
    var i = 0
    while (i < s.length) {
      if (i + 5 < s.length && s.startsWith("<0x", i) && s.charAt(i + 5) == '>' &&
          Character.digit(s.charAt(i + 3), 16) >= 0 &&
          Character.digit(s.charAt(i + 4), 16) >= 0) {
        bytes += Integer.parseInt(s.substring(i + 3, i + 5), 16).toByte
        i += 6
      } else { flush(); out.append(s.charAt(i)); i += 1 }
    }
    flush()
    out.toString
  }

  /** Tokenize one word (already lowercased) with the given merge ranks:
    * greedy repeated merging of the best-rank (lowest) pair present.
    * Symbols start from [[initialSymbols]] (byte fallback for non-ASCII
    * code points). */
  private[operators] def encodeWord(word: String,
      ranks: Map[(String, String), Int]): Array[String] = {
    if (word.isEmpty) return Array.empty
    var syms = initialSymbols(word)
    syms(syms.length - 1) += EndOfWord
    var continue = syms.length >= 2
    while (continue) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      for (i <- 0 until syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestIdx = i }
      }
      if (bestIdx < 0) continue = false
      else {
        val merged = syms(bestIdx) + syms(bestIdx + 1)
        val out = mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == syms(bestIdx) &&
              syms(i + 1) == syms(bestIdx + 1)) { out += merged; i += 2 }
          else { out += syms(i); i += 1 }
        }
        syms = out.toArray
        continue = syms.length >= 2
      }
    }
    syms
  }

  /** Column of BPE tokens for `textCol` under the learned `merges`: the
    * concatenation of per-word encodings, in order. Broadcast-applied,
    * shuffle-free; a PER-TASK word memo (@transient lazy in the
    * deserialized closure — each Spark task gets its own instance, and
    * tasks are single-threaded) caches repeated words across the whole
    * task, not just one row. Memo size is bounded by the task's
    * distinct-word count (vocabulary-shaped, not corpus-shaped). */
  def tokensColumn(merges: Seq[(String, String)], textCol: Column): Column = {
    val ranks = merges.zipWithIndex.toMap
    val f = new (Seq[String] => Seq[String]) with Serializable {
      @transient private lazy val memo =
        mutable.HashMap.empty[String, Array[String]]
      def apply(words: Seq[String]): Seq[String] =
        if (words == null) Seq.empty[String]
        else words.flatMap(w => memo.getOrElseUpdate(w, encodeWord(w, ranks)))
    }
    udf(f).apply(Dedup.cleanTokens(textCol))
  }

  /** Token COUNT of `textCol` under the learned `merges` — the
    * budgeting shape ([[Sft.assembleTokenSpans]] spans, interleaved
    * packing costs): counts without materializing a token array per
    * row, same per-task memo as [[tokensColumn]]. Value-identical to
    * `size(tokensColumn(merges, textCol))` by construction (the memo
    * stores each word's encoded LENGTH). */
  def tokenCountColumn(merges: Seq[(String, String)], textCol: Column): Column = {
    val ranks = merges.zipWithIndex.toMap
    val f = new (Seq[String] => Int) with Serializable {
      @transient private lazy val memo = mutable.HashMap.empty[String, Int]
      def apply(words: Seq[String]): Int =
        if (words == null) 0
        else {
          var n = 0
          words.foreach(w =>
            n += memo.getOrElseUpdate(w, encodeWord(w, ranks).length))
          n
        }
    }
    udf(f).apply(Dedup.cleanTokens(textCol))
  }

  /** (idCol, pos, token) exploded tokenization of the corpus under
    * corpus-learned merges — the harness surface. */
  def tokenize(df: DataFrame, idCol: String, textCol: String,
               numMerges: Int): DataFrame =
    tokenizeWith(df, idCol, textCol, learnMerges(df, textCol, numMerges))

  /** Apply-only tokenization under an EXPLICIT merge table — the
    * production shape: the model trains once (or ships frozen) and every
    * scoring pass is a shuffle-free broadcast application. */
  def tokenizeWith(df: DataFrame, idCol: String, textCol: String,
                   merges: Seq[(String, String)]): DataFrame =
    df.select(col(idCol),
        posexplode(tokensColumn(merges, col(textCol))).as(Seq("pos", "token")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("token"))

  // --------------------------------------------------- frozen seed model

  /** Deterministic seed word-frequency table for [[frozenMerges]] — a
    * hand-fixed mini-corpus (common English function/content words at
    * Zipf-ish counts). It is a CONSTANT, so the merges learned from it
    * are a pure function of this source file: the oracle SQL literalizes
    * them and both engines agree forever, the same constant-model idiom
    * as the LSH hyperplane seeds. */
  val seedWordCounts: Seq[(String, Long)] = Seq(
    "the" -> 900L, "of" -> 520L, "and" -> 480L, "to" -> 440L, "a" -> 420L,
    "in" -> 380L, "that" -> 300L, "is" -> 280L, "was" -> 250L, "he" -> 240L,
    "for" -> 230L, "it" -> 220L, "with" -> 210L, "as" -> 200L, "his" -> 190L,
    "on" -> 180L, "be" -> 170L, "at" -> 160L, "by" -> 150L, "had" -> 140L,
    "not" -> 130L, "are" -> 125L, "but" -> 120L, "from" -> 115L,
    "or" -> 110L, "have" -> 105L, "an" -> 100L, "they" -> 95L,
    "which" -> 90L, "one" -> 85L, "you" -> 80L, "were" -> 75L,
    "her" -> 70L, "all" -> 65L, "she" -> 60L, "there" -> 55L,
    "would" -> 50L, "their" -> 48L, "we" -> 46L, "him" -> 44L,
    "been" -> 42L, "has" -> 40L, "when" -> 38L, "who" -> 36L,
    "will" -> 34L, "more" -> 32L, "no" -> 30L, "if" -> 28L, "out" -> 26L,
    "so" -> 24L, "said" -> 22L, "what" -> 20L, "up" -> 18L, "its" -> 16L,
    "about" -> 14L, "into" -> 12L, "than" -> 10L, "them" -> 9L,
    "can" -> 8L, "only" -> 7L, "other" -> 6L, "new" -> 5L, "some" -> 4L,
    "could" -> 3L, "time" -> 2L, "these" -> 1L)

  /** The frozen 40-merge table learned from [[seedWordCounts]] — the
    * shipped-artifact tokenizer every engine can replay: the harness
    * applies it shuffle-free and the DuckDB oracle applies the SAME
    * literal merges with a recursive CTE, so token streams hash-match. */
  lazy val frozenMerges: Seq[(String, String)] =
    learnMergesFromCounts(seedWordCounts, 40)

  // ------------------------------------------------------- persistence

  /** Persist a merge table as plain parquet (rank, x, y) — rank is the
    * priority order, so load ∘ save is the identity (spec-pinned):
    * strings round-trip parquet bit-exactly. */
  def saveMerges(spark: org.apache.spark.sql.SparkSession,
                 merges: Seq[(String, String)], path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((x, y), r) => (r, x, y) }
      .toDF("rank", "x", "y")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Rebuild a merge table from [[saveMerges]] output, in priority order. */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
                 path: String): Seq[(String, String)] =
    spark.read.parquet(path).orderBy(col("rank"))
      .collect().map(r => (r.getAs[String]("x"), r.getAs[String]("y"))).toSeq

  /** Reload gate (empty relation when correct): tokenize under the
    * train-fresh merges vs under save→load merges — any row where the two
    * token streams differ. Exercises the full persistence path inside one
    * hash-gated harness query. */
  def reloadViolations(df: DataFrame, idCol: String, textCol: String,
                       numMerges: Int, modelPath: String)
                      (implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val fresh = learnMerges(df, textCol, numMerges)
    saveMerges(spark, fresh, modelPath)
    val reloaded = loadMerges(spark, modelPath)
    val a = tokenizeWith(df, idCol, textCol, fresh)
    val b = tokenizeWith(df, idCol, textCol, reloaded)
    a.exceptAll(b).withColumn("side", lit("fresh_only"))
      .unionAll(b.exceptAll(a).withColumn("side", lit("reloaded_only")))
  }

  /** Deterministic vocabulary for a merge table: every reachable token —
    * single symbols (with and without the `</w>` marker) plus one entry
    * per merge — assigned contiguous ids ordered by (kind, rank/symbol):
    * base symbols first (lexicographic), then merged tokens in merge-rank
    * order, the convention real BPE vocabs use. A pure function of the
    * merge table, so ids are stable across engines and runs. */
  def vocabulary(merges: Seq[(String, String)],
                 baseSymbols: Seq[String]): Map[String, Int] = {
    val bases = baseSymbols.distinct.sorted.flatMap(s =>
      Seq(s, s + EndOfWord))
    val merged = merges.map { case (a, b) => a + b }
    (bases ++ merged).zipWithIndex.toMap
  }

  /** (idCol, pos, token_id) — the id-typed tokenization trainers consume:
    * learn merges, derive the vocabulary from the same word-count basis,
    * encode, and map tokens to ids. Unknown symbols (characters absent
    * from the sampled vocabulary head) map to -1, the explicit UNK id. */
  def tokenizeToIds(df: DataFrame, idCol: String, textCol: String,
                    numMerges: Int): DataFrame = {
    val merges = learnMerges(df, textCol, numMerges)
    // base symbols: all single characters of the sampled vocabulary head —
    // the same bounded basis the merges were learned from
    val baseChars = df
      .select(explode(Dedup.cleanTokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(MaxWords)
      .collect().flatMap(_.getString(0).map(_.toString)).distinct.toSeq
    val vocab = vocabulary(merges, baseChars)
    val toIds = udf { (toks: Seq[String]) =>
      toks.map(t => vocab.getOrElse(t, -1))
    }
    df.select(col(idCol), toIds(tokensColumn(merges, col(textCol))).as("__ids"))
      .select(col(idCol), posexplode(col("__ids")).as(Seq("pos", "token_id")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        col("token_id").cast("int").as("token_id"))
  }

  /** Round-trip violations (empty relation when correct): per document,
    * the tokens reassembled by stripping `</w>` markers must equal the
    * cleaned word sequence — an independent builtin-expression path from
    * the UDF that produced the tokens. */
  def roundTripViolations(df: DataFrame, idCol: String, textCol: String,
                          numMerges: Int): DataFrame = {
    val merges = learnMerges(df, textCol, numMerges)
    val toks = tokensColumn(merges, col(textCol))
    df.select(col(idCol),
        concat_ws(" ", Dedup.cleanTokens(col(textCol))).as("__want"),
        trim(replace(concat_ws("", toks), lit(EndOfWord), lit(" "))).as("__got"))
      .filter(not(col("__want") <=> col("__got")))
      .select(col(idCol), lit("roundtrip_mismatch").as("issue"))
  }
}
