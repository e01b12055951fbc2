package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{EventTime, GraftFunctions}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingIngest
import graft.operators.Skew.spread

/** Tokenizer query/oracle registry — one slice of the driver contract
  * surface, split out of the former 15k-line SparkEntry monolith so a
  * duplicated query-name literal can never silently shadow a pair out
  * of the sweep again (the round-17 q_text_chunks incident).
  * Each query's lambda, fixtures and oracle text live here; a helper
  * that a streaming twin or another family also uses is
  * `private[registry]` in its batch query's registry. Composed — with
  * a cross-registry duplicate guard — in [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]]. */
private[graft] object TokenizerRegistry extends QueryRegistry {

  /** The literalized frozen-merge VALUES table — one source of truth
    * (the engine's [[operators.BpeTokenizer.frozenMerges]]) shared by
    * every oracle that replays the BPE fixpoint. */
  private[registry] def frozenMergeValues: String = {
    def q(s: String): String = s.replace("'", "''")
    operators.BpeTokenizer.frozenMerges.zipWithIndex
      .map { case ((x, y), r) => s"($r, '${q(x)}', '${q(y)}')" }.mkString(", ")
  }

  /** The frozen-BPE WORD-COUNT CTE pair: given `mg(r, x, y)` and a
    * `dw(word)` CTE of distinct words in scope, emits `enc` (the
    * rank-ordered replace-to-fixpoint recursion) and `wtok(word, ntk)`
    * — the per-word token counts every token-budget oracle reuses. */
  private[registry] def bpeWordCountCtes: String = {
    val maxRank = operators.BpeTokenizer.frozenMerges.size
    s"""enc AS (
       |  SELECT word,
       |    chr(1) || array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> substring(word, i, 1) ||
       |        CASE WHEN i = length(word) THEN '</w>' ELSE '' END), chr(1))
       |      || chr(1) AS seq,
       |    0 AS r
       |  FROM dw
       |  UNION ALL
       |  SELECT word,
       |    CASE WHEN np <> seq THEN np ELSE seq END,
       |    CASE WHEN np <> seq THEN r ELSE r + 1 END
       |  FROM (
       |    SELECT e.word, e.seq, e.r,
       |      replace(replace(e.seq,
       |        chr(1) || m.x || chr(1) || m.y || chr(1),
       |        chr(1) || m.x || m.y || chr(2)), chr(2), chr(1)) AS np
       |    FROM enc e JOIN mg m ON m.r = e.r) s),
       |wtok AS (
       |  SELECT word,
       |    CAST(len(list_filter(string_split(seq, chr(1)), q -> q <> ''))
       |      AS BIGINT) AS ntk
       |  FROM enc WHERE r = $maxRank)""".stripMargin
  }

  /** bpe-fertility oracle: the frozen-BPE fixpoint per distinct
    * word, token counts joined back to word instances, per-source sums,
    * and the two ppm fixed-point ratios. */
  private def bpeFertilityOracleSql: String = {
    s"""WITH RECURSIVE
       |mg(r, x, y) AS (SELECT * FROM (VALUES $frozenMergeValues) v(r, x, y)),
       |toks AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |                t -> t <> '') AS tk
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, source, list_extract(tk, i) AS word
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r),
       |dw AS (SELECT DISTINCT word FROM w),
       |""".stripMargin + bpeWordCountCtes + s""",
       |pw AS (
       |  SELECT w.source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(t.ntk) AS BIGINT) AS n_tokens,
       |    CAST(SUM(length(w.word)) AS BIGINT) AS n_chars
       |  FROM w JOIN wtok t USING (word) GROUP BY w.source),
       |nd AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY source)
       |SELECT nd.source, nd.n_docs,
       |  COALESCE(pw.n_words, 0) AS n_words,
       |  COALESCE(pw.n_tokens, 0) AS n_tokens,
       |  COALESCE(pw.n_chars, 0) AS n_chars,
       |  CASE WHEN COALESCE(pw.n_words, 0) = 0 THEN NULL
       |    ELSE CAST((1000000 * pw.n_tokens) // pw.n_words AS BIGINT) END
       |    AS fertility_ppm,
       |  CASE WHEN COALESCE(pw.n_tokens, 0) = 0 THEN NULL
       |    ELSE CAST((1000000 * pw.n_chars) // pw.n_tokens AS BIGINT) END
       |    AS chars_per_token_ppm
       |FROM nd LEFT JOIN pw ON pw.source = nd.source
       |ORDER BY nd.source""".stripMargin
  }

  /** Unigram-tokenizer oracle, shared verbatim by q_unigram_tokenize and
    * the persistence twin: the frozen (piece → cost_milli) vocabulary is
    * LITERALIZED into a DuckDB MAP (the frozen-BPE-merges idiom), the
    * Viterbi DP runs forward over DISTINCT words as a recursive CTE
    * (struct-min of ('c', 'nl' = −L) = min cost then longest piece — the
    * exact Scala tie-break), a second recursion walks the backpointers to
    * reconstruct pieces, and segmentations join back to word instances. */
  private lazy val unigramOracleSql: String =
    unigramSqlWith(
      """SELECT words.doc_id, words.widx, CAST(j - 1 AS BIGINT) AS pidx, seg.pieces[j] AS piece,
        |  coalesce(vocab.m[seg.pieces[j]][1], CAST(20000 AS BIGINT)) AS score_milli
        |FROM words JOIN seg USING (w) CROSS JOIN vocab,
        |     LATERAL (SELECT unnest(range(1, len(seg.pieces) + 1)) AS j) r
        |ORDER BY doc_id, widx, pidx""".stripMargin)

  /** The unigram Viterbi machinery (words / vocab / vit / recon / seg
    * CTEs) with a caller-chosen final SELECT — the token stream and the
    * per-document LM-cost rollup share it. */
  private def unigramSqlWith(finalSelect: String): String = {
    val m = operators.UnigramTokenizer.frozenVocab
      .map { case (p, c) => s"'$p': $c" }.mkString("MAP {", ", ", "}")
    s"""WITH RECURSIVE words AS (
      |  SELECT doc_id, i - 1 AS widx, lst[i] AS w
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS lst FROM documents),
      |       LATERAL (SELECT unnest(range(1, len(lst) + 1)) AS i) r),
      |vocab AS (SELECT $m AS m),
      |dw AS (SELECT DISTINCT w FROM words),
      |vit AS (
      |  SELECT w, 0 AS i, CAST([0] AS BIGINT[]) AS best, CAST([] AS BIGINT[]) AS bp FROM dw
      |  UNION ALL
      |  SELECT w, i + 1, list_append(best, ch.c), list_append(bp, ch.l)
      |  FROM (
      |    SELECT v.w, v.i, v.best, v.bp, list_min(list_append(
      |      [{'c': v.best[v.i - L + 2] + vocab.m[substr(v.w, CAST(v.i - L + 2 AS INTEGER), CAST(L AS INTEGER))][1],
      |        'nl': -L, 'l': L}
      |       for L in range(2, least(6, v.i + 1) + 1)
      |       if len(vocab.m[substr(v.w, CAST(v.i - L + 2 AS INTEGER), CAST(L AS INTEGER))]) > 0],
      |      {'c': v.best[v.i + 1] + coalesce(vocab.m[substr(v.w, CAST(v.i + 1 AS INTEGER), 1)][1],
      |         CAST(${operators.UnigramTokenizer.UnknownCostMilli} AS BIGINT)),
      |       'nl': CAST(-1 AS BIGINT), 'l': CAST(1 AS BIGINT)})) AS ch
      |    FROM vit v CROSS JOIN vocab WHERE v.i < len(v.w)) s),
      |recon AS (
      |  SELECT w, bp, CAST(len(w) AS BIGINT) AS i, CAST([] AS VARCHAR[]) AS pieces
      |  FROM vit WHERE i = len(w)
      |  UNION ALL
      |  SELECT w, bp, i - bp[i],
      |    list_prepend(substr(w, CAST(i - bp[i] + 1 AS INTEGER), CAST(bp[i] AS INTEGER)), pieces)
      |  FROM recon WHERE i > 0),
      |seg AS (SELECT w, pieces FROM recon WHERE i = 0)
      |""".stripMargin + finalSelect
  }

  /** The frozen-BPE oracle: a recursive CTE applying the LITERAL
    * [[operators.BpeTokenizer.frozenMerges]] table (interpolated here, so
    * the two engines share one source of truth) in rank order, each rank
    * replaced to fixpoint. See the q_bpe_tokenize oracle comment. */
  private def bpeFrozenSql: String = {
    // SQL-escape merge symbols (doubled single quote) so a future seed
    // vocabulary containing an apostrophe still literalizes correctly.
    def q(s: String): String = s.replace("'", "''")
    val vals = operators.BpeTokenizer.frozenMerges.zipWithIndex
      .map { case ((x, y), r) => s"($r, '${q(x)}', '${q(y)}')" }.mkString(", ")
    val maxRank = operators.BpeTokenizer.frozenMerges.size
    s"""WITH RECURSIVE
       |mg(r, x, y) AS (SELECT * FROM (VALUES $vals) v(r, x, y)),
       |toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |                             t -> t <> '') AS tk
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, i AS wpos, list_extract(tk, i) AS word
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r),
       |dw AS (SELECT DISTINCT word FROM w),
       |enc AS (
       |  SELECT word,
       |    chr(1) || array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> substring(word, i, 1) ||
       |        CASE WHEN i = length(word) THEN '</w>' ELSE '' END), chr(1))
       |      || chr(1) AS seq,
       |    0 AS r
       |  FROM dw
       |  UNION ALL
       |  SELECT word,
       |    CASE WHEN np <> seq THEN np ELSE seq END,
       |    CASE WHEN np <> seq THEN r ELSE r + 1 END
       |  FROM (
       |    SELECT e.word, e.seq, e.r,
       |      replace(replace(e.seq,
       |        chr(1) || m.x || chr(1) || m.y || chr(1),
       |        chr(1) || m.x || m.y || chr(2)), chr(2), chr(1)) AS np
       |    FROM enc e JOIN mg m ON m.r = e.r) s),
       |tok AS (
       |  SELECT word, list_filter(string_split(seq, chr(1)), t -> t <> '') AS toks
       |  FROM enc WHERE r = $maxRank),
       |wt AS (
       |  SELECT doc_id, wpos, toks, len(toks) AS n,
       |    SUM(len(toks)) OVER (PARTITION BY doc_id ORDER BY wpos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS off
       |  FROM w JOIN tok USING (word))
       |SELECT doc_id, CAST(COALESCE(off, 0) + i - 1 AS BIGINT) AS pos,
       |  list_extract(toks, i) AS token
       |FROM wt, LATERAL (SELECT unnest(range(1, n + 1)) AS i) r
       |ORDER BY doc_id, pos""".stripMargin
  }

  /** The multilingual BYTE-FALLBACK fixture: the document's first three
    * cleaned words plus one genuinely non-ASCII word keyed by lang —
    * two-byte UTF-8 accents (é, ñ, ß, ï) and three-byte CJK — so the
    * fallback exercises both expansion widths against the ASCII-only
    * base corpus. */
  private def bpeBytesText: Column =
    concat_ws(" ",
      array_join(slice(Dedup.cleanTokens(col("text")), 1, 3), " "),
      when(col("lang") === "zh", lit("中文"))
        .when(col("lang") === "es", lit("señor"))
        .when(col("lang") === "de", lit("straße"))
        .when(col("lang") === "fr", lit("café"))
        .otherwise(lit("naïve")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BYTE-LEVEL FALLBACK (SentencePiece byte_fallback / GPT-2's closed
    // vocabulary): code points >= 128 tokenize as literal <0xNN> UTF-8
    // byte tokens instead of washing out as open-class unicode symbols,
    // so the frozen-merge tokenizer covers ANY input. The emitted
    // stream is gated token-for-token by the oracle (which replays the
    // UTF-8 expansion arithmetically from each code point and runs the
    // same merge fixpoint), and rt_ok carries the engine-side
    // round-trip identity — detokenize(tokens) with byte-runs decoded
    // must equal the cleaned input on EVERY row (oracle pins TRUE).
    "q_bpe_bytes" -> ((s, dir) => {
      val detok = udf((x: String) =>
        operators.BpeTokenizer.decodeByteFallback(x))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), bpeBytesText.as("t2"))
        .withColumn("__toks", operators.BpeTokenizer.tokensColumn(
          operators.BpeTokenizer.frozenMerges, col("t2")))
        .withColumn("__want", concat_ws(" ", Dedup.cleanTokens(col("t2"))))
        .withColumn("__got", detok(trim(replace(
          concat_ws("", col("__toks")),
          lit(operators.BpeTokenizer.EndOfWord), lit(" ")))))
        .withColumn("rt_ok", col("__want") <=> col("__got"))
        .select(col("doc_id"), posexplode(col("__toks")).as(Seq("pos", "token")),
          col("rt_ok"))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("token"), col("rt_ok"))
        .orderBy(col("doc_id"), col("pos"))
    }),


    // Fertility re-measured on the byte-fallback fixture — the equity
    // number byte fallback changes: a CJK word pays 3 byte tokens per
    // character, so zh fertility visibly exceeds the accent languages,
    // which exceed plain-ASCII en. n_byte_tokens isolates the fallback's
    // contribution exactly.
    "q_bpe_bytes_fertility" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), bpeBytesText.as("t2"))
        .select(col("lang"),
          size(Dedup.cleanTokens(col("t2"))).cast("long").as("__w"),
          operators.BpeTokenizer.tokensColumn(
            operators.BpeTokenizer.frozenMerges, col("t2")).as("__tk"))
        .select(col("lang"), col("__w"),
          size(col("__tk")).cast("long").as("__t"),
          size(filter(col("__tk"), x => x.startsWith("<0x")))
            .cast("long").as("__b"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("n_words"),
          sum(col("__t")).as("n_tokens"), sum(col("__b")).as("n_byte_tokens"))
        .withColumn("fertility_ppm",
          expr("(1000000 * n_tokens) div n_words"))
        .orderBy(col("lang"))),

    // Tokenizer fertility per lang: subword pieces per word + chars per
    // piece in ppm — ONE profile scan, one group-keyed agg, all-integer.
    "q_tokenizer_fertility" -> ((s, dir) =>
      TextAnalysis.tokenizerFertility(t(s, dir, "documents"), "lang", "text")
        .orderBy(col("grp"))),


    // REAL subword tokenization under the FROZEN shipped-artifact merge
    // table (the production tokenizer shape — GPT-2-style BPE applies a
    // fixed published merge list, it never re-learns per corpus): the
    // merges are a constant learned from the in-code seed word table, the
    // Spark side applies them shuffle-free under a broadcast rank map,
    // and the oracle applies the SAME literal merges with a recursive
    // CTE (rank-ordered replace-to-fixpoint, provably equivalent to
    // best-rank greedy because a pair's rank always exceeds the ranks
    // that formed its symbols) — token streams hash-match exactly.
    "q_bpe_tokenize" -> ((s, dir) =>
      operators.BpeTokenizer.tokenizeWith(spread(t(s, dir, "documents")), "doc_id",
        "text", operators.BpeTokenizer.frozenMerges)
        .orderBy(col("doc_id"), col("pos"))),


    // BPE FERTILITY — the tokenizer-evaluation report under the REAL
    // frozen BPE (q_tokenizer_fertility's sibling: that one counts
    // regex "bpe-ish" pieces per LANG; this one counts actual merge-
    // table tokens per SOURCE): tokens-per-word (fertility) and
    // chars-per-token (compression) in exact ppm fixed point. Per-row
    // HOF counting + ONE source-keyed combining aggregate; the oracle
    // replays the BPE fixpoint per distinct word and re-aggregates.
    "q_bpe_fertility" -> ((s, dir) => {
      val toks = operators.Dedup.cleanTokens(col("text"))
      val bpe = operators.BpeTokenizer.tokenCountColumn(
        operators.BpeTokenizer.frozenMerges, col("text"))
      t(s, dir, "documents")
        .select(col("source"), size(toks).cast("long").as("__w"),
          bpe.cast("long").as("__t"),
          aggregate(toks, lit(0L), (a, x) => a + length(x).cast("long"))
            .as("__c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("n_words"),
          sum(col("__t")).as("n_tokens"), sum(col("__c")).as("n_chars"))
        .select(col("source"), col("n_docs"), col("n_words"),
          col("n_tokens"), col("n_chars"),
          expr("(1000000 * n_tokens) div n_words").as("fertility_ppm"),
          expr("(1000000 * n_chars) div n_tokens")
            .as("chars_per_token_ppm"))
        .orderBy(col("source"))
    }),


    // The SECOND production tokenizer family: SentencePiece-style
    // unigram-LM segmentation (Kudo, ACL'18) under the frozen vocabulary
    // trained (one Viterbi-EM round, integer milli-nat costs, required
    // a-z0-9 coverage) from the same seed table as the BPE merges. The
    // Spark side is a pure per-row Viterbi (zero shuffle); the oracle
    // literalizes the (piece → cost) map and replays the DP as TWO
    // recursive CTEs — forward best/backpointer over DISTINCT words,
    // backward reconstruction — then joins segmentations back to word
    // instances. Token streams hash-match exactly.
    "q_unigram_tokenize" -> ((s, dir) =>
      operators.UnigramTokenizer.tokenizeWith(spread(t(s, dir, "documents")),
        "doc_id", "text", operators.UnigramTokenizer.frozenVocab)
        .orderBy(col("doc_id"), col("widx"), col("pidx"))),


    // The tokenizer's free quality signal: per-document negative
    // log-likelihood under the unigram LM (sum of piece costs,
    // milli-nats; mean per piece ≈ log perplexity) — the classic
    // LM-filter score for corpus curation, integer-exact. One narrow
    // tokenize pass + one doc-keyed combining aggregate; the oracle
    // aggregates its own Viterbi stream.
    "q_unigram_ppl" -> ((s, dir) =>
      operators.UnigramTokenizer.lmCost(spread(t(s, dir, "documents")),
        "doc_id", "text", operators.UnigramTokenizer.frozenVocab)
        .orderBy(col("doc_id"))),


    // Per-language tokenizer diagnostics: fertility (pieces per word —
    // the cross-lingual tokenizer-equity metric; a language with 2×
    // fertility pays 2× the sequence length for the same text) and mean
    // piece length, both exactly-rational ppm. Pieces rebuild each word
    // exactly, so piece chars = non-space chars — no re-tokenization for
    // the char side.
    "q_unigram_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val perDoc = operators.UnigramTokenizer.lmCost(docs, "doc_id", "text",
        operators.UnigramTokenizer.frozenVocab)
      perDoc.join(docs.select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("__w"),
          length(regexp_replace(col("text"), " ", "")).cast("long")
            .as("__ch")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__w")).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"),
          sum(col("__ch")).as("n_piece_chars"))
        .withColumn("fertility_ppm", expr("(1000000 * n_pieces) div n_words"))
        .withColumn("chars_per_piece_ppm",
          expr("(1000000 * n_piece_chars) div n_pieces"))
        .orderBy(col("lang"))
    }),


    // Persistence twin: the vocabulary round-trips a parquet artifact
    // (piece, cost_milli) and the RELOADED model must reproduce the
    // token stream bit-for-bit — same oracle verbatim.
    "q_unigram_reload" -> ((s, dir) => {
      val path = Scratch.path(dir, "unigram")
      operators.UnigramTokenizer.saveVocab(s,
        operators.UnigramTokenizer.frozenVocab, path)
      val reloaded = operators.UnigramTokenizer.loadVocab(s, path)
      operators.UnigramTokenizer.tokenizeWith(spread(t(s, dir, "documents")),
        "doc_id", "text", reloaded)
        .orderBy(col("doc_id"), col("widx"), col("pidx"))
    }),


    // CORPUS-learned BPE (Sennrich ACL'16): merges learned from the input
    // corpus itself. The learned token stream is not ANSI-expressible, so
    // the gated output is the tokenizer's deterministic CLAIM per
    // document: exact char length plus the round-trip identity
    // (detokenize ∘ tokenize = cleaned words) as a boolean — a learning
    // or application regression flips roundtrip_ok (round-14 fold; the
    // raw stream stays in the API, frozen-merge q_bpe_tokenize keeps the
    // full value oracle).
    "q_bpe_learned" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bad = operators.BpeTokenizer.roundTripViolations(docs, "doc_id",
          "text", numMerges = 200)
        .select(col("doc_id")).distinct().withColumn("__bad", lit(true))
      docs.join(bad, Seq("doc_id"), "left")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          col("__bad").isNull.as("roundtrip_ok"))
        .orderBy(col("doc_id"))
    }),


    // Round-trip gate: stripping </w> markers from the concatenated
    // tokens must reproduce the cleaned word sequence for EVERY document
    // — an independent builtin-expression path; violations-only output
    // against the empty-relation oracle.
    "q_bpe_learned_verify" -> ((s, dir) =>
      operators.BpeTokenizer.roundTripViolations(
        t(s, dir, "documents"), "doc_id", "text", numMerges = 200)),


    // Persistence gate (train once, score forever): tokenize under the
    // train-fresh learned merges vs under the save→parquet→load copy —
    // any divergent row violates; empty-relation oracle.
    "q_bpe_reload_verify" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      operators.BpeTokenizer.reloadViolations(
        t(s, dir, "documents"), "doc_id", "text", numMerges = 200,
        Scratch.path(dir, "bpe_model"))
    }),

  )

  /** Shared CTE body for the byte-fallback oracles: fixture text →
    * word instances → per-word initial symbols with the UTF-8 byte
    * expansion replayed ARITHMETICALLY from each code point (DuckDB's
    * substring/unicode are code-point-indexed, so the walk is exact for
    * any plane) → the frozen-merge fixpoint recursion → per-word token
    * lists `tok(word, toks)` plus `w(doc_id, wpos, word)` and
    * `base(doc_id, lang, t2)`. */
  private def bpeBytesCtes: String = {
    val maxRank = operators.BpeTokenizer.frozenMerges.size
    s"""WITH RECURSIVE
       |mg(r, x, y) AS (SELECT * FROM (VALUES $frozenMergeValues) v(r, x, y)),
       |base AS (
       |  SELECT doc_id, lang,
       |    concat_ws(' ',
       |      array_to_string(list_slice(list_filter(
       |        string_split_regex(trim(lower(text)), '\\s+'), t -> t <> ''),
       |        1, 3), ' '),
       |      CASE lang WHEN 'zh' THEN '中文' WHEN 'es' THEN 'señor'
       |        WHEN 'de' THEN 'straße' WHEN 'fr' THEN 'café'
       |        ELSE 'naïve' END) AS t2
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, lang, list_filter(
       |    string_split_regex(trim(lower(t2)), '\\s+'), t -> t <> '') AS tk
       |  FROM base),
       |w AS (
       |  SELECT doc_id, i AS wpos, list_extract(tk, i) AS word
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r),
       |dw AS (SELECT DISTINCT word FROM w),
       |cs AS (
       |  SELECT word, i, unicode(substring(word, i, 1)) AS cp,
       |    substring(word, i, 1) AS ch
       |  FROM dw, LATERAL (SELECT unnest(range(1, length(word) + 1)) AS i) r),
       |csx AS (
       |  SELECT word, i,
       |    CASE WHEN cp < 128 THEN [ch]
       |      WHEN cp < 2048 THEN [printf('<0x%02X>', 192 + cp // 64),
       |        printf('<0x%02X>', 128 + cp % 64)]
       |      WHEN cp < 65536 THEN [printf('<0x%02X>', 224 + cp // 4096),
       |        printf('<0x%02X>', 128 + (cp // 64) % 64),
       |        printf('<0x%02X>', 128 + cp % 64)]
       |      ELSE [printf('<0x%02X>', 240 + cp // 262144),
       |        printf('<0x%02X>', 128 + (cp // 4096) % 64),
       |        printf('<0x%02X>', 128 + (cp // 64) % 64),
       |        printf('<0x%02X>', 128 + cp % 64)] END AS syms
       |  FROM cs),
       |wsym AS (
       |  SELECT word, flatten(list(syms ORDER BY i)) AS ss
       |  FROM csx GROUP BY word),
       |seq0 AS (
       |  SELECT word, chr(1) || array_to_string(
       |    list_concat(list_slice(ss, 1, len(ss) - 1),
       |      [list_extract(ss, len(ss)) || '</w>']), chr(1)) || chr(1) AS seq
       |  FROM wsym),
       |enc AS (
       |  SELECT word, seq, 0 AS r FROM seq0
       |  UNION ALL
       |  SELECT word,
       |    CASE WHEN np <> seq THEN np ELSE seq END,
       |    CASE WHEN np <> seq THEN r ELSE r + 1 END
       |  FROM (
       |    SELECT e.word, e.seq, e.r,
       |      replace(replace(e.seq,
       |        chr(1) || m.x || chr(1) || m.y || chr(1),
       |        chr(1) || m.x || m.y || chr(2)), chr(2), chr(1)) AS np
       |    FROM enc e JOIN mg m ON m.r = e.r) s),
       |tok AS (
       |  SELECT word, list_filter(string_split(seq, chr(1)), t -> t <> '') AS toks
       |  FROM enc WHERE r = $maxRank)""".stripMargin
  }

  private def bpeBytesOracleSql: String =
    bpeBytesCtes + s""",
       |wt AS (
       |  SELECT doc_id, wpos, toks, len(toks) AS n,
       |    SUM(len(toks)) OVER (PARTITION BY doc_id ORDER BY wpos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS off
       |  FROM w JOIN tok USING (word))
       |SELECT doc_id, CAST(COALESCE(off, 0) + i - 1 AS BIGINT) AS pos,
       |  list_extract(toks, i) AS token, TRUE AS rt_ok
       |FROM wt, LATERAL (SELECT unnest(range(1, n + 1)) AS i) r
       |ORDER BY doc_id, pos""".stripMargin

  private def bpeBytesFertilityOracleSql: String =
    bpeBytesCtes + s""",
       |pd AS (
       |  SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS nw,
       |    CAST(SUM(len(t.toks)) AS BIGINT) AS nt,
       |    CAST(SUM(len(list_filter(t.toks, q -> q LIKE '<0x%')))
       |      AS BIGINT) AS nb
       |  FROM w JOIN tok t USING (word) GROUP BY w.doc_id)
       |SELECT b.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(pd.nw) AS BIGINT) AS n_words,
       |  CAST(SUM(pd.nt) AS BIGINT) AS n_tokens,
       |  CAST(SUM(pd.nb) AS BIGINT) AS n_byte_tokens,
       |  CAST((1000000 * SUM(pd.nt)) // SUM(pd.nw) AS BIGINT) AS fertility_ppm
       |FROM pd JOIN base b USING (doc_id)
       |GROUP BY b.lang ORDER BY b.lang""".stripMargin

  def oracles: Map[String, String] = Map(

    "q_bpe_bytes" -> bpeBytesOracleSql,

    "q_bpe_bytes_fertility" -> bpeBytesFertilityOracleSql,

    // Fertility: the q_text_stats word/piece/char derivations rolled up
    // per lang; ppm ratios are BIGINT floor division on both engines.
    "q_tokenizer_fertility" ->
      """WITH st AS (
        |  SELECT lang,
        |    CASE WHEN trim(text) = '' OR text IS NULL THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS w,
        |    len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS b,
        |    length(text) AS c
        |  FROM documents),
        |agg AS (
        |  SELECT CAST(lang AS VARCHAR) AS grp, COUNT(*) AS n_docs,
        |    CAST(SUM(w) AS BIGINT) AS total_words,
        |    CAST(SUM(b) AS BIGINT) AS total_pieces,
        |    CAST(SUM(c) AS BIGINT) AS total_chars
        |  FROM st GROUP BY 1)
        |SELECT grp, n_docs, total_words, total_pieces,
        |  CAST((total_pieces * 1000000) // total_words AS BIGINT) AS fertility_ppm,
        |  CAST((total_chars * 1000000) // total_pieces AS BIGINT) AS chars_per_piece_ppm
        |FROM agg ORDER BY grp""".stripMargin,


    // Frozen-merge BPE application replayed in SQL: the SAME literal
    // merge table (built from BpeTokenizer.frozenMerges, so the two
    // engines can never drift), applied by a recursive CTE that takes
    // each rank to fixpoint with separator-delimited string replaces —
    // chr(1) delimits symbols, chr(2) is the fresh-merge sentinel that
    // re-opens the boundary for chained occurrences ("x y x y"). Rank-
    // ordered application ≡ best-rank greedy because a pair's rank always
    // exceeds the ranks that formed its symbols. Distinct words encode
    // once; per-doc positions come from a word-offset prefix sum.
    "q_bpe_tokenize" -> bpeFrozenSql,

    "q_bpe_fertility" -> bpeFertilityOracleSql,


    "q_unigram_tokenize" -> unigramOracleSql,


    // Fertility oracle: the Viterbi stream's per-doc piece counts joined
    // to language + word/char counts, rolled up per language.
    "q_unigram_fertility" -> unigramSqlWith(
      """, perdoc AS (
        |  SELECT words.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_pieces
        |  FROM words JOIN seg USING (w),
        |       LATERAL (SELECT unnest(range(1, len(seg.pieces) + 1)) AS j) r
        |  GROUP BY words.doc_id),
        |meta AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_piece_chars
        |  FROM documents)
        |SELECT m.lang AS lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(m.n_words) AS BIGINT) AS n_words,
        |  CAST(sum(p.n_pieces) AS BIGINT) AS n_pieces,
        |  CAST(sum(m.n_piece_chars) AS BIGINT) AS n_piece_chars,
        |  CAST((1000000 * sum(p.n_pieces)) // sum(m.n_words) AS BIGINT) AS fertility_ppm,
        |  CAST((1000000 * sum(m.n_piece_chars)) // sum(p.n_pieces) AS BIGINT) AS chars_per_piece_ppm
        |FROM perdoc p JOIN meta m USING (doc_id)
        |GROUP BY m.lang ORDER BY lang""".stripMargin),


    // Per-doc LM cost: the Viterbi stream aggregated by document.
    "q_unigram_ppl" -> unigramSqlWith(
      """SELECT words.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_pieces,
        |  CAST(sum(coalesce(vocab.m[seg.pieces[j]][1], 20000)) AS BIGINT) AS sum_cost_milli,
        |  CAST(sum(coalesce(vocab.m[seg.pieces[j]][1], 20000)) // count(*) AS BIGINT) AS mean_cost_milli
        |FROM words JOIN seg USING (w) CROSS JOIN vocab,
        |     LATERAL (SELECT unnest(range(1, len(seg.pieces) + 1)) AS j) r
        |GROUP BY words.doc_id
        |ORDER BY doc_id""".stripMargin),


    // load ∘ save = identity on (piece, cost_milli) parquet ⇒ the frozen
    // oracle applies to the reloaded model verbatim.
    "q_unigram_reload" -> unigramOracleSql,


    "q_bpe_learned_verify" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    "q_bpe_reload_verify" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS pos,
        |  CAST(NULL AS VARCHAR) AS token, CAST(NULL AS VARCHAR) AS side
        |WHERE FALSE""".stripMargin,


    "q_bpe_learned" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  TRUE AS roundtrip_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

  )
}
