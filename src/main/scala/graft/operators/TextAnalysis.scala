package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-corpus analysis operators for large-scale training-data pipelines —
  * beyond-reference extensions (SURVEY.md §7.1.9), all expressed as narrow
  * per-row projections over built-in codegen'd functions (no UDFs in the hot
  * path, no shuffles), so they scale linearly with input splits at 100 TB.
  */
object TextAnalysis {

  /** The fused single-pass profile struct (see [[graft.expr.TextOps]]): all
    * quality stats and language scores from ONE scan of the text — at corpus
    * scale this replaces 7 per-row Java-regex passes, the difference between
    * IO-bound and regex-bound on the 100 TB hot path. Semantics are
    * regex-equivalent, property-tested in TextExprPropsSpec. */
  def profile(text: Column): Column = graft.expr.TextExpressions.text_profile(text)

  /** Whitespace token count: number of elements of split(trim(text), "\s+")
    * (empty/null → 0), computed from the fused profile. */
  def tokenCount(text: Column): Column =
    coalesce(profile(text).getField("n_tokens"), lit(0))

  /** BPE-ish token count: word pieces + standalone punctuation, the classic
    * pre-tokenizer shape — a field of the fused single-pass profile. */
  def bpeishTokenCount(text: Column): Column =
    profile(text).getField("n_bpeish")

  /** Quality-scoring columns: length, token counts, punctuation density,
    * stopword ratio, mean token length — the standard heuristic filters for
    * web-scale corpus cleaning, over the `text` column. One projection
    * over ONE fused scan; null text reproduces the regex columns'
    * null/zero mix exactly. */
  def withQualityColumns(df: DataFrame): DataFrame = {
    val p = profile(col("text"))
    val toks = p.getField("n_tokens")
    df.withColumn("n_chars_actual", p.getField("n_chars"))
      .withColumn("n_tokens", coalesce(toks, lit(0)))
      .withColumn("n_punct", p.getField("n_punct"))
      .withColumn("n_stopwords", p.getField("n_stopwords"))
      .withColumn("mean_token_len",
        when(toks > 0,
          p.getField("n_nonspace").cast("double") / toks)
          .otherwise(lit(0.0)))
  }

  /** Heuristic language ID: score = marker-word hit count per language,
    * argmax with deterministic alphabetical tie-break — the `lang` field of
    * the fused single-pass profile (marker tables live as constants inside
    * the expression; no join, no regex). Null text resolves to "de", the
    * all-zero-tie answer the regex fold produced. Reads `text`, writes
    * `lang_pred`. */
  def withLangId(df: DataFrame): DataFrame =
    df.withColumn("lang_pred",
      coalesce(profile(col("text")).getField("lang"), lit("de")))

  /** Canonical form the fingerprint hashes: lowercased, trimmed, whitespace
    * runs collapsed to single spaces. Exposed separately because the
    * normalization IS ANSI-expressible (DuckDB-oracled via
    * `q_text_fingerprint`) while the 64-bit hash of it is engine-specific
    * (xxhash64 — determinism/stability spec-checked in OperatorsSpec). */
  def fingerprintNormalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Unicode canonicalization ([[graft.expr.UnicodeNormalize]]): NFC,
    * optionally case-folded (root locale) and accent-stripped. The
    * missing first step of every dedup/fingerprint key in a MULTILINGUAL
    * corpus — the same word arrives precomposed (é = U+00E9) and
    * decomposed (e + U+0301) from different sources, and every exact/
    * MinHash/substring dedup treats them as distinct until keys are
    * NFC'd. Native expression: the per-row JDK normalizer call stays
    * inside whole-stage codegen. */
  def normalizeUnicode(text: Column, lower: Boolean = false,
                       stripMarks: Boolean = false): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.expr.UnicodeNormalize(
      ColumnBridge.expression(text.cast("string")), lower, stripMarks))
  }

  /** 64-bit document fingerprint: a genuine POLYNOMIAL ROLLING hash
    * ([[graft.expr.RollingHash]]: Horner over code points, slidable in
    * O(1) per window shift) over the whitespace-normalized text —
    * order-sensitive, content-defined, one shuffle-free projection. */
  def fingerprint(text: Column): Column =
    graft.expr.TextExpressions.poly_rolling_hash(fingerprintNormalized(text))

  def withFingerprint(df: DataFrame): DataFrame =
    df.withColumn("fingerprint", fingerprint(col("text")))

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken: "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD'03): hash every
    * k-gram with the polynomial rolling hash, slide a window of w
    * consecutive k-gram hashes, record each window's MINIMUM (rightmost
    * occurrence on ties — the robust-winnowing rule, so a repeated minimum
    * is recorded once per run). GUARANTEE: two documents sharing a
    * substring of length ≥ w + k - 1 share at least one fingerprint;
    * expected density is 2/(w+1). The distinct fingerprint set is the
    * partial-overlap-detection analogue of the whole-document fingerprint:
    * index it invertedly (like the shingle index) to find documents that
    * share long passages rather than whole-text similarity. */
  def winnowingFingerprints(text: Column, k: Int, w: Int): Column = {
    val fp = udf { (s: String) =>
      if (s == null) Seq.empty[Long]
      else {
        import graft.expr.RollingHash.{Base, Seed}
        // Roll over CODE POINTS with the seed, same basis as
        // RollingHash.hash — each k-gram hash equals hash(kgram) exactly,
        // supplementary characters hash identically across both paths, and
        // k-grams can never start/end inside a surrogate pair.
        val cps = s.codePoints().toArray
        val n = cps.length
        if (n < k) Seq.empty[Long]
        else {
        val m = n - k + 1 // number of k-grams
        val hashes = new Array[Long](m)
        val bPow = (1 until k).foldLeft(1L)((a, _) => a * Base)
        val seedTerm = (0 until k).foldLeft(Seed)((a, _) => a * Base) // Seed*B^k
        // Seeded slide: h' = (h - Seed*B^k - cpOut*B^(k-1))*B + Seed*B^k + cpIn
        var h = Seed
        var i = 0
        while (i < n) {
          val c = cps(i).toLong
          h = if (i < k) h * Base + c
              else (h - seedTerm - cps(i - k).toLong * bPow) * Base + seedTerm + c
          if (i >= k - 1) hashes(i - k + 1) = h
          i += 1
        }
        val out = scala.collection.mutable.LinkedHashSet.empty[Long]
        if (m <= w) { // degenerate: one window over everything
          out += hashes.min
        } else {
          var lastMinPos = -1
          var win = 0
          while (win <= m - w) {
            // rightmost minimum of hashes[win, win+w)
            var minPos = win
            var j = win + 1
            while (j < win + w) {
              if (hashes(j) <= hashes(minPos)) minPos = j
              j += 1
            }
            if (minPos != lastMinPos) { out += hashes(minPos); lastMinPos = minPos }
            win += 1
          }
        }
        out.toSeq
        }
      }
    }
    fp(text)
  }

  /** Content-defined chunking: a boundary falls after position i when the
    * rolling hash of the trailing `window` chars satisfies
    * `(h & mask) == mask` — so boundaries depend only on LOCAL content and
    * re-synchronize after an edit (insert text at the front and all
    * boundaries beyond one chunk stay identical), which is what makes
    * chunk-level dedup robust to shifted content where fixed-size chunking
    * degrades to no overlap. With a 16-char window, `mask = 0xFF` gives
    * ~256-char expected chunks, clamped to [64, 1024] (the FastCDC-style
    * bounds).
    * Per-row tight-loop UDF — string-heavy local work, the same trade as
    * the shingle tokenizer. */
  def contentDefinedChunks(df: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val window = 16
    val mask = 0xFFL
    val minChunk = 64
    val maxChunk = 1024
    val chunker = udf { (text: String) =>
      if (text == null) Seq.empty[String]
      else {
        import graft.expr.RollingHash.{Base, Seed}
        // Same seeded code-point rolling hash as RollingHash/winnowing:
        // boundary decisions see identical hashes for supplementary chars,
        // and because boundaries fall BETWEEN code points, a chunk can never
        // split a surrogate pair. charOf(i) = char offset of code point i.
        val cps = text.codePoints().toArray
        val n = cps.length
        val charOf = new Array[Int](n + 1)
        var ci = 0
        var cc = 0
        while (ci < n) { charOf(ci) = cc; cc += Character.charCount(cps(ci)); ci += 1 }
        charOf(n) = cc
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        val bPow = (1 until window).foldLeft(1L)((a, _) => a * Base)
        val seedTerm = (0 until window).foldLeft(Seed)((a, _) => a * Base)
        var start = 0
        var h = Seed
        var i = 0
        while (i < n) {
          val c = cps(i).toLong
          h = if (i - start < window) h * Base + c
              else (h - seedTerm - cps(i - window).toLong * bPow) * Base +
                seedTerm + c
          val len = i - start + 1
          if ((len >= minChunk && (h & mask) == mask) || len >= maxChunk) {
            out += text.substring(charOf(start), charOf(i + 1))
            start = i + 1
            h = Seed
          }
          i += 1
        }
        if (start < n || n == 0) out += text.substring(charOf(start))
        out.toSeq
      }
    }
    df.select(col(idCol), posexplode(chunker(col(textCol))).as(Seq("chunk_id", "chunk")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"), col("chunk"))
  }

  /** Fixed-size character chunking with overlap — the pretraining/RAG prep
    * op. Chunk starts step by `stride = chunkChars - overlap`; a start
    * exists while it is < max(len - overlap, 1), so every doc (including
    * the empty one) yields ≥ 1 chunk and every character is covered with
    * `overlap` chars shared between neighbors. Pure codegen (sequence +
    * explode + substr): no UDF, no shuffle, linear in output size. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkChars: Int, overlap: Int): DataFrame = {
    val stride = chunkChars - overlap
    require(stride > 0, "overlap must be smaller than chunkChars")
    val limit = greatest(length(col(textCol)) - overlap, lit(1))
    val maxStart = floor((limit - 1) / stride) * stride
    df.select(col(idCol), col(textCol),
        explode(sequence(lit(0), maxStart.cast("int"), lit(stride))).as("__start"))
      .select(col(idCol),
        (col("__start") / stride).cast("long").as("chunk_id"),
        col(textCol).substr(col("__start") + 1, lit(chunkChars)).as("chunk"))
  }

  /** Gopher-style repetition signal: the fraction of a document's word
    * tokens covered by its single most frequent word bigram
    * (`2 * max_bigram_count / n_tokens`). Machine-generated and boilerplate
    * text scores high; natural prose stays low — the standard repetition
    * filter alongside [[withQualityColumns]].
    *
    * Scale shape: bigrams are derived per-row with codegen expressions
    * (`transform` over the token array — narrow), then two hash
    * aggregations, both keyed by doc id (+bigram), so partial aggregation
    * absorbs the fan-out map-side and the shuffles carry near-one-row-per-
    * doc traffic — no joins, no skew beyond a single pathological
    * document, which partial agg already collapses. Docs with fewer than 2
    * tokens (no bigram exists) score 0.0 via the final left join back to
    * the id spine. */
  def topBigramFraction(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val tk = Dedup.tokens(col(textCol))
    val bigrams = df
      .select(col(idCol), tk.as("__tk"))
      .filter(size(col("__tk")) >= 2)
      .select(col(idCol), size(col("__tk")).as("__n_tok"),
        explode(transform(sequence(lit(0), size(col("__tk")) - 2),
          i => concat(element_at(col("__tk"), i + 1), lit(" "),
            element_at(col("__tk"), i + 2)))).as("__bg"))
    val perDoc = bigrams
      .groupBy(col(idCol), col("__n_tok"), col("__bg"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol), col("__n_tok"))
      .agg(max(col("__c")).as("__maxc"))
      .select(col(idCol),
        (lit(2.0) * col("__maxc") / col("__n_tok")).as("__frac"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** Composite corpus quality filter with EXPLAINABLE decisions — the
    * keep/drop gate of a web-scale cleaning pipeline, with the failing
    * rule names surfaced (alphabetical, comma-joined) so drop-rate
    * regressions are attributable per rule rather than one opaque bit.
    *
    * Rules: too_short/too_long (token count), token_len (mean token
    * length band), low_diversity (type-token ratio), repetitive (top
    * bigram token share — Gopher's repetition signal), no_stopwords
    * (natural-language prior; near-zero stopword mass is a strong
    * markup/code/gibberish signal), plus the Gopher structural gates:
    * symbol_ratio ('#'/'...' marks per word — forum markup, keyword
    * stuffing), bullet_lines / ellipsis_lines (line-start bullet and
    * line-end ellipsis fractions — list chrome and truncated teaser
    * pages; applied only to docs with >= 3 lines, since line shape is
    * meaningless on one line), and compressible (deflate/raw byte ratio
    * below 0.25 on docs of >= 256 bytes — machine-repetitive text the
    * token stats can miss; bytes-length only, the C4/Gopher zlib
    * signal). The thresholds are tuned to the C4/Gopher-style
    * heuristics, loosened to the synthetic fixture's distributions so
    * every rule actually fires somewhere.
    *
    * Scale shape: everything except the repetition signal is ONE narrow
    * fused-profile projection (the line fractions are row-local
    * higher-order functions over the doc's own split; deflate_len is a
    * per-row codegen expression); [[topBigramFraction]] contributes its
    * two doc-keyed partial aggregations; one doc-keyed join combines
    * them. All arithmetic except the deflate length is plain double math
    * in a fixed operation order — ANSI-expressible, so the gate is
    * DuckDB-oracle-able; the compression rule's oracle story is the
    * exact-regime pin documented at q_quality_filter (natural text sits
    * >= 0.38, the threshold at 0.25, planted repetition at ~0.04). */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val p = profile(col(textCol))
    val toks = coalesce(p.getField("n_tokens"), lit(0)).cast("long")
    val lines = split(col(textCol), "\n")
    val nLines = size(lines)
    val nBullet = size(filter(lines, l => ltrim(l).rlike("^[-*] ")))
    val nEllipsis = size(filter(lines, l => rtrim(l).rlike("\\.\\.\\.$")))
    val nHash = length(col(textCol)) -
      length(regexp_replace(col(textCol), "#", ""))
    val nDots = size(regexp_extract_all(col(textCol), lit("\\.\\.\\."), lit(0)))
    val rawBytes = octet_length(col(textCol))
    val stats = df.select(col(idCol), col(textCol),
      toks.as("__toks"),
      when(toks > 0, p.getField("n_nonspace").cast("double") / toks)
        .otherwise(lit(0.0)).as("__mtl"),
      when(toks > 0,
        size(array_distinct(Dedup.tokens(col(textCol)))).cast("double") / toks)
        .otherwise(lit(0.0)).as("__ttr"),
      when(toks > 0, p.getField("n_stopwords").cast("double") / toks)
        .otherwise(lit(0.0)).as("__stopr"),
      when(toks > 0, (nHash + nDots).cast("double") / toks)
        .otherwise(lit(0.0)).as("__symr"),
      when(nLines >= 3,
        nBullet.cast("double") / nLines).otherwise(lit(0.0)).as("__bulletf"),
      when(nLines >= 3,
        nEllipsis.cast("double") / nLines).otherwise(lit(0.0)).as("__ellipf"),
      when(rawBytes >= 256,
        graft.expr.TextExpressions.deflate_len(col(textCol)).cast("double") /
          rawBytes).otherwise(lit(1.0)).as("__compr"))
    val withRep = stats.join(
      topBigramFraction(df.select(col(idCol), col(textCol)), idCol, textCol),
      Seq(idCol))
    def rule(name: String, failed: Column): Column =
      when(failed, lit(name)).otherwise(lit(null).cast("string"))
    // concat_ws skips NULLs, so reasons is exactly the failing subset in
    // this fixed alphabetical order — byte-identical in ANSI SQL
    val reasons = concat_ws(",",
      rule("bullet_lines", col("__bulletf") > 0.9),
      rule("compressible", col("__compr") < 0.25),
      rule("ellipsis_lines", col("__ellipf") > 0.3),
      rule("low_diversity", col("__ttr") < 0.35),
      rule("no_stopwords", col("__stopr") < 0.02),
      rule("repetitive", col("top_bigram_frac") > 0.125),
      rule("symbol_ratio", col("__symr") > 0.1),
      rule("token_len", col("__mtl") < 3.0 || col("__mtl") > 8.0),
      rule("too_long", col("__toks") > 100000L),
      rule("too_short", col("__toks") < 20L))
    withRep.select(col(idCol), reasons.as("reasons"))
      .withColumn("keep", col("reasons") === "")
  }

  /** Unigram language-model score per document — the self-trained proxy
    * for CCNet-style perplexity filtering: train token probabilities on
    * the corpus itself (p(t) = count(t) / N), score each document by its
    * mean token log-probability. Documents of rare/garbled tokens score
    * far below the corpus mode; boilerplate scores above it — both tails
    * are the filter targets.
    *
    * Scale shape: the corpus shuffles only on (doc, term)-derived keys;
    * the probability table is VOCABULARY-sized and joins back broadcast
    * (the same stop-term-skew-proof layout as [[TfIdf]]). Totals come
    * from the vocab table, never a second corpus pass.
    *
    * Determinism: each ln(p) is ROUNDED to 6dp then summed as exact
    * decimal — the per-token rounding pins sub-ulp libm differences (the
    * TfIdf contract) and the decimal sum is order-independent, so the
    * mean is engine-reproducible. Output: (idCol, n_tok, avg_lp); empty
    * documents get n_tok = 0 and NULL avg_lp. */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol), explode(Dedup.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val termCounts = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
    // N = total corpus tokens, derived from the vocab-sized table — one
    // row, crossed in broadcast (no driver action, no extra corpus scan)
    val total = termCounts.agg(sum(col("c")).as("n_total"))
    val probs = termCounts.crossJoin(broadcast(total))
      .select(col("term"),
        round(log(col("c").cast("double") / col("n_total").cast("double")), 6)
          .cast("decimal(18,6)").as("lp"))
    val perDoc = toks.join(broadcast(probs), "term")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"), sum(col("lp")).as("__slp"))
      .select(col(idCol), col("n_tok"),
        (col("__slp").cast("double") / col("n_tok").cast("double")).as("avg_lp"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        col("avg_lp"))
  }

  /** Self-trained BIGRAM language-model scoring — the next perplexity
    * proxy up from [[unigramLogProb]]: P(w2|w1) = c(w1 w2) / c(w1 ·),
    * where c(w1 ·) is the count of bigrams headed by w1 (derived from the
    * bigram table itself, never a second corpus pass). Because the model
    * is trained on the SAME corpus it scores, every document bigram has a
    * count ≥ 1 and no smoothing/unseen-mass machinery is needed — the
    * same closed-world trick as the unigram scorer.
    *
    * Scale shape: bigram extraction is NARROW (a transform over the token
    * array — no positional self-join); counts and the per-doc score
    * shuffle on the bigram key, like TfIdf's (doc, term) layout. The
    * probability table is joined WITHOUT a broadcast hint: bigram vocab is
    * O(vocab²)-bounded and corpus-dependent, so AQE decides (it broadcasts
    * at small SF, shuffles at scale) rather than forcing a driver-sized
    * build.
    *
    * Determinism: ln rounded to 6dp, decimal-summed (the TfIdf/unigram
    * contract). Output: (idCol, n_bigrams, avg_lp2); docs with < 2 tokens
    * get n_bigrams = 0 and NULL avg_lp2. */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Bind the token array to an ATTRIBUTE before the transform: a lambda
    // that references the raw filter∘split expression re-evaluates the
    // whole tokenization per element_at — O(tokens²) per document
    // (measured 12.9s → 1.3s at sf0.1 for this one change).
    val tk = Dedup.cleanTokens(col(textCol))
    val bg = df
      .select(col(idCol), tk.as("__tk"))
      .select(col(idCol), explode(when(size(col("__tk")) >= 2,
        transform(sequence(lit(0), size(col("__tk")) - 2),
          i => concat_ws(" ",
            element_at(col("__tk"), i + 1), element_at(col("__tk"), i + 2))))
        .otherwise(array().cast("array<string>"))).as("bigram"))
    val biCounts = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c2"))
    // head counts by splitting the bigram key: tokens are whitespace-split,
    // so the FIRST space in "w1 w2" is unambiguous
    val headCounts = biCounts
      .groupBy(substring_index(col("bigram"), " ", 1).as("__h"))
      .agg(sum(col("c2")).as("c1"))
    val probs = biCounts
      .join(headCounts, substring_index(col("bigram"), " ", 1) === col("__h"))
      .select(col("bigram"),
        round(log(col("c2").cast("double") / col("c1").cast("double")), 6)
          .cast("decimal(18,6)").as("lp"))
    val perDoc = bg.join(probs, "bigram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("__slp"))
      .select(col(idCol), col("n_bigrams"),
        (col("__slp").cast("double") / col("n_bigrams").cast("double")).as("avg_lp2"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_lp2"))
  }

  /** Self-trained INTERPOLATED TRIGRAM language-model scoring — the real
    * n-gram LM the CCNet/LLaMA quality stack filters with, one step up
    * from [[bigramLogProb]] (kept as the ablation):
    *
    *   P(w3|w1,w2) = λ3·c(w1w2w3)/c(w1w2·) + λ2·c(w2w3)/c(w2·) + λ1·c(w3)/N
    *
    * with integer-percent weights λ3/λ2/λ1 = 70/20/10. Interpolation is
    * what makes a trigram model usable: the raw trigram estimate is
    * sharp but sparse, and backing off through the bigram and unigram
    * estimates smooths it — here every component is ≥ 1 count because
    * the model is trained on the SAME corpus it scores (the closed-world
    * trick of the unigram/bigram scorers), so the interpolated mass is
    * always positive and no unseen-mass machinery is needed.
    *
    * Determinism (the hash-oracle contract): each component ratio is ONE
    * IEEE double division (bit-exact cross-engine), the weighted sum
    * `(λ3·p3 + λ2·p2 + λ1·p1) / 100` is a fixed left-associative chain
    * of correctly-rounded double ops (bit-exact cross-engine), and only
    * the final ln is libm-dependent — pinned by the repo-wide
    * round-to-6dp-then-decimal-sum contract.
    *
    * Scale shape: trigram/bigram extraction is NARROW (transforms over
    * the bound token array — no positional self-join); all count tables
    * partial-aggregate on their n-gram keys; the conditional-denominator
    * tables derive from the count tables themselves (never a second
    * corpus pass); probability joins carry no broadcast hint — trigram
    * vocab is corpus-dependent, so AQE decides (broadcast at small SF,
    * shuffle at scale). Output: (idCol, n_trigrams, avg_lp3); docs with
    * < 3 tokens get n_trigrams = 0 and NULL avg_lp3. */
  def trigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame =
    scoreTrigramLm(trainTrigramLm(df, textCol), df, idCol, textCol)

  /** A trained interpolated-trigram LM: the three conditional-probability
    * tables (each one IEEE double division per row — bit-exact to
    * persist). Vocabulary-sized, never corpus-sized. */
  final case class TrigramLm(p3: DataFrame, p2: DataFrame, p1: DataFrame)

  /** The training half of [[trigramLogProb]]: derive the three
    * probability tables from the corpus. */
  def trainTrigramLm(df: DataFrame, textCol: String): TrigramLm = {
    // Bind the token array to an attribute before the transforms (the
    // measured O(tokens²) lesson from bigramLogProb).
    val tk = Dedup.cleanTokens(col(textCol))
    val toks = df.select(tk.as("__tk"))
    val tg = toks
      .select(explode(when(size(col("__tk")) >= 3,
        transform(sequence(lit(0), size(col("__tk")) - 3),
          i => struct(element_at(col("__tk"), i + 1).as("w1"),
                      element_at(col("__tk"), i + 2).as("w2"),
                      element_at(col("__tk"), i + 3).as("w3"))))
        .otherwise(array()
          .cast("array<struct<w1:string,w2:string,w3:string>>"))).as("t"))
      .select(col("t.w1").as("w1"), col("t.w2").as("w2"), col("t.w3").as("w3"))
    // trigram conditional: c(w1w2w3) / c(w1w2·), the prefix marginal
    // derived from the trigram table itself
    val c3 = tg.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
    val c12 = c3.groupBy(col("w1"), col("w2")).agg(sum(col("c3")).as("c12"))
    val p3 = c3.join(c12, Seq("w1", "w2"))
      .select(col("w1"), col("w2"), col("w3"),
        (col("c3").cast("double") / col("c12").cast("double")).as("p3"))
    // bigram conditional over ALL adjacent pairs (every doc trigram's
    // (w2,w3) suffix is such a pair — closed world holds)
    val bg = toks
      .select(explode(when(size(col("__tk")) >= 2,
        transform(sequence(lit(0), size(col("__tk")) - 2),
          i => struct(element_at(col("__tk"), i + 1).as("a"),
                      element_at(col("__tk"), i + 2).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val c2 = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
    val c1h = c2.groupBy(col("a")).agg(sum(col("c2")).as("c1h"))
    val p2 = c2.join(c1h, "a")
      .select(col("a"), col("b"),
        (col("c2").cast("double") / col("c1h").cast("double")).as("p2"))
    // unigram: c(w)/N from the token stream
    // cleanTokens already drops empty tokens, so the stream is the model
    val un = toks.select(explode(col("__tk")).as("term"))
    val c1 = un.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val nTot = c1.agg(sum(col("c")).as("n"))
    val p1 = c1.crossJoin(broadcast(nTot))
      .select(col("term"),
        (col("c").cast("double") / col("n").cast("double")).as("p1"))
    TrigramLm(p3, p2, p1)
  }

  /** Persist the three probability tables as plain parquet — doubles
    * round-trip parquet bit-exactly, so a reloaded LM scores identically
    * to the train-fresh one (spec-pinned). */
  def saveTrigramLm(model: TrigramLm, path: String): Unit = {
    model.p3.coalesce(1).write.mode("overwrite").parquet(s"$path/p3")
    model.p2.coalesce(1).write.mode("overwrite").parquet(s"$path/p2")
    model.p1.coalesce(1).write.mode("overwrite").parquet(s"$path/p1")
  }

  /** Rebuild an LM from [[saveTrigramLm]] output. */
  def loadTrigramLm(spark: org.apache.spark.sql.SparkSession,
                    path: String): TrigramLm =
    TrigramLm(spark.read.parquet(s"$path/p3"),
      spark.read.parquet(s"$path/p2"), spark.read.parquet(s"$path/p1"))

  /** The scoring half of [[trigramLogProb]]: per-doc interpolated
    * log-probabilities under an already-trained model. Closed-world NOTE:
    * inner probability joins mean a scored trigram absent from the model
    * is dropped (the self-trained harness never hits this; a held-out
    * scorer would switch these to left joins + smoothing). */
  def scoreTrigramLm(model: TrigramLm, df: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val TrigramLm(p3, p2, p1) = model
    val tk = Dedup.cleanTokens(col(textCol))
    // spread() the SCORING side only (guide §2.5): the doc scan plans one
    // partition at bench scale, so tokenize + trigram explode + the three
    // probability joins + the doc-keyed partial agg — the scorer's whole
    // map stage — ran as a single task. Doc-keyed aggregation is
    // partition-local (all of a doc's trigrams stay in its partition), so
    // unlike the TRAINING aggregations — whose vocabulary-keyed partial
    // buffers multiply per-partition and lost the r18 scan-spread A/B —
    // the exchange still carries ~one row per doc. No-op on any frame
    // already planned at defaultParallelism or wider. Spread BEFORE the
    // tokenize so the split itself runs wide too (raw text crosses the
    // exchange; the token array would be the same bytes).
    val toks = Skew.spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), tk.as("__tk"))
    val tg = toks
      .select(col(idCol), explode(when(size(col("__tk")) >= 3,
        transform(sequence(lit(0), size(col("__tk")) - 3),
          i => struct(element_at(col("__tk"), i + 1).as("w1"),
                      element_at(col("__tk"), i + 2).as("w2"),
                      element_at(col("__tk"), i + 3).as("w3"))))
        .otherwise(array()
          .cast("array<struct<w1:string,w2:string,w3:string>>"))).as("t"))
      .select(col(idCol), col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
    val perDoc = tg
      .join(p3, Seq("w1", "w2", "w3"))
      .join(p2, col("w2") === col("a") && col("w3") === col("b"))
      .join(p1, col("w3") === col("term"))
      .select(col(idCol),
        round(log((lit(70) * col("p3") + lit(20) * col("p2") +
          lit(10) * col("p1")) / lit(100)), 6)
          .cast("decimal(18,6)").as("lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("lp")).as("__slp"))
      .select(col(idCol), col("n_trigrams"),
        (col("__slp").cast("double") / col("n_trigrams").cast("double"))
          .as("avg_lp3"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        col("avg_lp3"))
  }

  /** Tokenizer FERTILITY per group (lang/source) — subword pieces per
    * whitespace word and characters per subword piece, both in
    * floor-divided ppm: the standard lens for judging how well a subword
    * vocabulary fits each slice of a multilingual corpus (high fertility
    * = the tokenizer shreds that language, its documents cost more
    * sequence length per word). Uses the fused profile's BPE-ish piece
    * count, so the whole metric is ONE profile scan + one group-keyed
    * partial agg; all-integer arithmetic → hash-exact cross-engine. */
  def tokenizerFertility(df: DataFrame, groupCol: String,
                         textCol: String): DataFrame = {
    val p = profile(col(textCol))
    df.select(col(groupCol).cast("string").as("grp"),
        coalesce(p.getField("n_tokens"), lit(0)).cast("long").as("__w"),
        p.getField("n_bpeish").cast("long").as("__b"),
        p.getField("n_chars").cast("long").as("__c"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("total_words"),
        sum(col("__b")).as("total_pieces"), sum(col("__c")).as("total_chars"))
      .select(col("grp"), col("n_docs"), col("total_words"),
        col("total_pieces"),
        expr("(total_pieces * 1000000) div total_words").as("fertility_ppm"),
        expr("(total_chars * 1000000) div total_pieces")
          .as("chars_per_piece_ppm"))
  }

  /** Per-document n-gram DIVERSITY — distinct/total n-gram ratio in
    * floor-divided ppm, the "distinct-n" metric: near 1e6 for natural
    * prose, collapsing toward 0 for template spam, keyboard mash, and
    * looped generation (the cheap integer-exact stand-in for the
    * compression-ratio quality signal, which needs a codec and therefore
    * cannot be cross-engine-oracled). Complements [[topBigramFraction]]:
    * that flags ONE dominating bigram, this scores global repetition.
    *
    * Scale shape: one narrow n-gram transform, one (doc, gram)-keyed
    * partial-agg distinct + count — the TfIdf layout. Docs with fewer
    * than n tokens get 0 totals and NULL ppm. */
  def ngramDiversity(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3): DataFrame = {
    require(n >= 1, "n must be positive")
    val tk = Dedup.cleanTokens(col(textCol))
    val grams = df.select(col(idCol), tk.as("__tk"))
      .select(col(idCol), explode(when(size(col("__tk")) >= n,
        transform(sequence(lit(0), size(col("__tk")) - n),
          i => concat_ws(" ",
            (1 to n).map(j => element_at(col("__tk"), i + j)): _*)))
        .otherwise(array().cast("array<string>"))).as("gram"))
    val perDoc = grams.groupBy(col(idCol))
      .agg(count(lit(1)).as("total_ngrams"),
        countDistinct(col("gram")).as("distinct_ngrams"))
      .select(col(idCol), col("total_ngrams"), col("distinct_ngrams"),
        expr("(distinct_ngrams * 1000000) div total_ngrams")
          .as("distinct_ppm"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("total_ngrams"), lit(0L)).as("total_ngrams"),
        coalesce(col("distinct_ngrams"), lit(0L)).as("distinct_ngrams"),
        col("distinct_ppm"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC 2020): split
    * the corpus into head / middle / tail terciles by LM score — the
    * standard coarse quality tiering applied before (or instead of) hard
    * filtering, so downstream mixing can up-weight fluent text without
    * discarding the tail outright. Scores come from
    * [[trigramLogProb]] (higher mean log-prob = lower perplexity =
    * closer to "head"); thresholds are the EXACT tercile percentiles
    * over scored docs (the quantile_cont identity — q_agg_percentiles
    * pins the cross-engine interpolation agreement); docs too short to
    * score (< 3 tokens) land in an explicit `unscored` bucket rather
    * than polluting a tercile.
    *
    * Scale shape: scoring is the trigram LM's shape; the threshold is a
    * ONE-ROW percentile frame crossed back in broadcast (the
    * q_vec_outliers pattern); bucketing is a codegen CASE. */
  def perplexityBuckets(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val scored = trigramLogProb(df, idCol, textCol)
    val thr = scored.filter(col("n_trigrams") > 0)
      .agg(percentile(col("avg_lp3"), typedlit(Seq(1.0 / 3, 2.0 / 3))).as("__t"))
    scored.crossJoin(broadcast(thr))
      .select(col(idCol), col("n_trigrams"), col("avg_lp3"),
        when(col("n_trigrams") === 0, lit("unscored"))
          .when(col("avg_lp3") >= element_at(col("__t"), 2), lit("head"))
          .when(col("avg_lp3") >= element_at(col("__t"), 1), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** Corpus-level PMI collocation extraction — the classic association
    * measure (Church & Hanks 1990) over adjacent word pairs: which
    * bigrams co-occur far more often than their parts' frequencies
    * predict ("new york", "machine learning"). The phrase-mining /
    * tokenizer-vocabulary primitive the per-doc LM scorers don't give.
    *
    * INTEGER-EXACT by construction: instead of hashing ln-derived
    * doubles, the score is the likelihood RATIO in floor-divided ppm —
    *   pmi_ppm = (c12 · 1,000,000 · N2) div (c1h · c2t)
    * with all counts from the bigram table (N2 total bigrams, c1h/c2t
    * head/tail marginals). exp(PMI)·1e6 = that ratio, so ranking and
    * thresholding on the integer is ranking by PMI with zero
    * cross-engine float drift. The numerator is computed in
    * DECIMAL(38,0) (and the oracle in HUGEINT), NOT Long: Spark Long
    * multiply wraps silently on overflow, so at 100-TB corpus counts
    * (n2 ~ 1e14 bigrams) a c12·1e6·n2 product near 1e34 would wrap on
    * one engine and abort on the other. 38 digits covers any corpus up
    * to n2 ≈ 1e16 bigrams (product ≤ n2²·1e6 ≤ 1e38); the div result is
    * a bounded ratio, safely back in Long.
    *
    * `minCount` suppresses hapax pairs (PMI's well-known low-count
    * pathology); `topK` bounds the output under the TOTAL order
    * (pmi_ppm DESC, c12 DESC, w1, w2) — unique per pair, so the limit is
    * deterministic.
    *
    * Scale shape: bigram extraction is the same narrow transform as
    * [[bigramLogProb]]; the pair/marginal counts partial-aggregate on
    * their keys; marginal tables are vocab-sized (AQE broadcasts them at
    * small SF); the ONE-ROW N2 frame is crossed in broadcast; topK is a
    * TakeOrdered, never a global sort materialization. */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Long = 5, topK: Int = 100): DataFrame =
    pmiFromPairCounts(
      bigramPairs(df, textCol).groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12")),
      minCount, topK)

  /** Adjacent (w1, w2) word pairs of every row — the narrow transform
    * shared by the batch PMI and its streaming twin. */
  def bigramPairs(df: DataFrame, textCol: String): DataFrame = {
    val tk = Dedup.cleanTokens(col(textCol))
    df.select(tk.as("__tk"))
      .select(explode(when(size(col("__tk")) >= 2,
        transform(sequence(lit(0), size(col("__tk")) - 2),
          i => struct(element_at(col("__tk"), i + 1).as("w1"),
                      element_at(col("__tk"), i + 2).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
  }

  /** PMI derivation from a (w1, w2, c12) pair-count table. Split out
    * because the STREAMING twin materializes the same counts from its
    * state store and must derive the identical output — its stream ≡
    * batch full-hash-oracle gate depends on sharing this code. */
  def pmiFromPairCounts(pairCounts: DataFrame,
                        minCount: Long, topK: Int): DataFrame = {
    val n2 = pairCounts.agg(sum(col("c12")).as("n2"))
    val heads = pairCounts.groupBy(col("w1")).agg(sum(col("c12")).as("c1h"))
    val tails = pairCounts.groupBy(col("w2")).agg(sum(col("c12")).as("c2t"))
    pairCounts.filter(col("c12") >= minCount)
      .join(heads, "w1").join(tails, "w2")
      .crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c12"),
        // decimal(38,0) intermediate — Long would wrap silently at
        // large-corpus counts (see the scaladoc); div returns BIGINT
        expr("""(cast(c12 as decimal(38,0)) * 1000000 * n2)
                div (cast(c1h as decimal(38,0)) * c2t)""").as("pmi_ppm"))
      .orderBy(col("pmi_ppm").desc, col("c12").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Per-class discriminative KEYWORD extraction by smoothed odds ratio
    * in floor-divided ppm — which terms mark a class (language, source,
    * quality tier) against the rest of the corpus. The feature-selection
    * / corpus-diagnosis primitive next to [[pmiCollocations]]'s
    * class-free collocations.
    *
    * For term t in class c over token counts (a = t in c, b = t
    * elsewhere, g = other tokens in c, d = other tokens elsewhere):
    *   odds_ppm = ((a+1)(d+1) · 1,000,000) div ((b+1)(g+1))
    * — the add-one-smoothed odds ratio, INTEGER-EXACT like the PMI
    * score (no ln, no float): ranking by odds_ppm is ranking by log-odds.
    * Smoothing keeps class-exclusive terms (b = 0) finite and
    * deterministic. Like the PMI score, the (a+1)(d+1)·1e6 product runs
    * in DECIMAL(38,0) (oracle: HUGEINT) — at 100-TB counts d ≈ n ≈ 1e14
    * tokens puts the Long product past 2^63, where Spark wraps silently
    * while the oracle aborts; 38 digits is safe to n ≈ 1e16.
    *
    * Output: topK terms per class under the TOTAL order (odds_ppm DESC,
    * a DESC, term ASC) — deterministic cut, one row (class, term, a,
    * odds_ppm) each.
    *
    * Scale shape: one (class, term) partial-aggregated count; marginals
    * are vocab- and |classes|-sized (broadcastable); the ONE-ROW total is
    * crossed in broadcast; the per-class cut is a rank-filtered window
    * over the vocab-sized scored table, never over raw tokens. */
  def classKeywords(df: DataFrame, classCol: String, textCol: String,
                    minCount: Long = 5, topK: Int = 20): DataFrame =
    keywordsFromCounts(
      classTermTokens(df, classCol, textCol)
        .groupBy(col("cls"), col("term")).agg(count(lit(1)).as("a")),
      minCount, topK)

  /** (cls, term) token stream — the narrow transform shared by the batch
    * keyword extractor and its streaming twin. */
  def classTermTokens(df: DataFrame, classCol: String,
                      textCol: String): DataFrame =
    df.select(col(classCol).cast("string").as("cls"),
      explode(Dedup.cleanTokens(col(textCol))).as("term"))

  /** Odds-ratio derivation from a (cls, term, a) count table. Split out
    * because the STREAMING twin materializes the same counts from its
    * state store and must derive the identical output — its stream ≡
    * batch full-hash-oracle gate depends on sharing this code. */
  def keywordsFromCounts(a: DataFrame, minCount: Long, topK: Int): DataFrame = {
    val termTot = a.groupBy(col("term")).agg(sum(col("a")).as("ct"))
    val clsTot = a.groupBy(col("cls")).agg(sum(col("a")).as("nc"))
    val total = a.agg(sum(col("a")).as("n"))
    val scored = a.filter(col("a") >= minCount)
      .join(termTot, "term").join(clsTot, "cls")
      .crossJoin(broadcast(total))
      .select(col("cls"), col("term"), col("a"),
        // decimal(38,0) intermediate — Long would wrap silently at
        // large-corpus counts (see the scaladoc); div returns BIGINT
        expr("""((cast(a as decimal(38,0)) + 1) * (n - nc - (ct - a) + 1) * 1000000)
                div ((cast(ct as decimal(38,0)) - a + 1) * (nc - a + 1))""").as("odds_ppm"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cls"))
      .orderBy(col("odds_ppm").desc, col("a").desc, col("term").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topK)
      .select(col("cls"), col("term"), col("a"), col("odds_ppm"))
  }

  /** Shannon CHARACTER entropy per document — the quality signal the
    * token-level stats miss: base64/hex blobs and minified code score HIGH
    * (near-uniform char distribution), template spam and repeated-char
    * padding score LOW. Both tails are filter targets alongside
    * [[qualityFilter]]'s rules.
    *
    * Scale shape: explode to (doc, char) → count (map-side combined; at
    * most ~100 distinct chars per doc survive the partial agg) → one
    * doc-keyed window for the total → one doc-keyed agg. Both exchanges
    * hash on the document key; nothing is corpus-global.
    *
    * Determinism: each char's term (n_c/N)·ln(N/n_c) is ROUNDED to 6dp
    * then summed as exact decimal (the TfIdf contract), so the entropy is
    * order- and engine-independent. Output: (idCol, n_chars, n_distinct,
    * entropy); empty/null text → n_chars 0, NULL entropy. ASCII-exact;
    * astral-plane chars count as UTF-16 units (documented divergence from
    * codepoint-splitting engines). */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chars = df
      .select(col(idCol), explode(split(col(textCol), "")).as("ch"))
      .filter(col("ch") =!= "")
    val counts = chars.groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("c"))
    val withN = counts
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col(idCol))))
      .withColumn("term",
        round((col("c").cast("double") / col("n").cast("double")) *
          log(col("n").cast("double") / col("c").cast("double")), 6)
          .cast("decimal(18,6)"))
    val perDoc = withN.groupBy(col(idCol))
      .agg(max(col("n")).as("n_chars"), count(lit(1)).as("n_distinct"),
        sum(col("term")).as("__ent"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("__ent").cast("double").as("entropy"))
  }

  /** In-engine gate for [[charEntropy]]'s transcendental output — the
    * harness must NOT hash `entropy` directly: a single `ln` term landing
    * within an ulp of a 5e-7 rounding boundary rounds differently across
    * libm builds, so the hashed columns are the exact integers and this
    * check carries the float claim instead (the q_reg_verify pattern).
    *
    * Violations reported, against an empty-relation oracle:
    *   - range: entropy outside [0, ln(n_distinct)] beyond slack;
    *   - rounding drift: |decimal-rounded sum − full-double sum| beyond
    *     n_distinct·5e-7 (each 6dp-rounded term is off by ≤ 5e-7);
    *   - nullness: entropy NULL on a non-empty doc, or non-NULL on an
    *     empty one. */
  def charEntropyViolations(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val ent = charEntropy(df, idCol, textCol)
    val raw = df
      .select(col(idCol), explode(split(col(textCol), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col(idCol))))
      .groupBy(col(idCol))
      .agg(sum((col("c").cast("double") / col("n").cast("double")) *
        log(col("n").cast("double") / col("c").cast("double"))).as("raw_ent"))
    val tol = col("n_distinct").cast("double") * lit(5e-7) + lit(1e-9)
    ent.join(raw, Seq(idCol), "left")
      .select(col(idCol), when(
          col("n_chars") > 0 && col("entropy").isNull, lit("null_entropy"))
        .when(col("n_chars") === 0 && col("entropy").isNotNull,
          lit("entropy_on_empty"))
        .when(col("entropy") < -tol, lit("negative"))
        .when(col("entropy") >
          log(greatest(col("n_distinct").cast("double"), lit(1.0))) + tol,
          lit("above_ln_distinct"))
        .when(abs(col("entropy") - col("raw_ent")) > tol, lit("rounding_drift"))
        .as("issue"))
      .filter(col("issue").isNotNull)
      .select(col(idCol).as("doc_id"), col("issue"))
  }
}
