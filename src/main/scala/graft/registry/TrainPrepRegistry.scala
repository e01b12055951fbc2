package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{EventTime, GraftFunctions}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingIngest
import TokenizerRegistry.{frozenMergeValues, bpeWordCountCtes}

/** TrainPrep query/oracle registry — one slice of the driver contract
  * surface, split out of the former 15k-line SparkEntry monolith so a
  * duplicated query-name literal can never silently shadow a pair out
  * of the sweep again (the round-17 q_text_chunks incident).
  * Each query's lambda, fixtures and oracle text live here; a helper
  * that a streaming twin or another family also uses is
  * `private[registry]` in its batch query's registry. Composed — with
  * a cross-registry duplicate guard — in [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]]. */
private[graft] object TrainPrepRegistry extends QueryRegistry {

  /** The interleaved-page fixture replay (`u` + `l` CTEs) — ONE source
    * of truth for the planted 4-item page shape, shared by all three
    * interleaved oracles (extraction, packing, token packing).
    * `withMedia` adds the src/alt columns only the extraction oracle
    * reads. */
  private def interleavedFixtureCtes(withMedia: Boolean): String = {
    val mediaCols0 =
      if (withMedia) ",\n    CAST(NULL AS VARCHAR) AS src, CAST(NULL AS VARCHAR) AS alt"
      else ""
    val media1 =
      if (withMedia) ",\n    '/img/' || id || '.png',\n    'one-' || CAST(doc_id % 13 AS VARCHAR)"
      else ""
    val media2 =
      if (withMedia) ",\n    '//cdn.' || source || '.example.com/m' ||\n      CAST(doc_id % 7 AS VARCHAR) || '.webp', ''"
      else ""
    val media3 = if (withMedia) ", NULL, NULL" else ""
    s"""u AS (
      |  SELECT doc_id, source, CAST(doc_id AS VARCHAR) AS id,
      |    array_to_string(list_slice(
      |      list_filter(string_split(text, ' '), x -> x <> ''), 1, 5), ' ')
      |      AS w5,
      |    array_to_string(list_slice(
      |      list_filter(string_split(text, ' '), x -> x <> ''), 1, 3), ' ')
      |      AS w3
      |  FROM documents),
      |l AS (
      |  SELECT doc_id, 0 AS pos, 'text' AS kind,
      |    'Opening paragraph for document ' || id || ' about ' || w5 ||
      |      ' with enough length.' AS text$mediaCols0
      |  FROM u
      |  UNION ALL SELECT doc_id, 1, 'image', NULL$media1 FROM u
      |  UNION ALL SELECT doc_id, 2, 'image', NULL$media2 FROM u
      |  UNION ALL SELECT doc_id, 3, 'text',
      |    'Closing paragraph reciting ' || w3 ||
      |      ' once more for position four.'$media3 FROM u)""".stripMargin
  }

  /** interleaved-docs oracle: the four emitted positions per document
    * (content, image, image, content) — the nav run and its short
    * successor must NOT appear at any position. */
  private[registry] def interleavedDocsOracleSql: String =
    "WITH " + interleavedFixtureCtes(withMedia = true) + """
      |SELECT doc_id, CAST(pos AS BIGINT) AS pos, kind, text, src, alt
      |FROM l ORDER BY doc_id, pos""".stripMargin

  /** interleaved-packing oracle: the q_interleaved_docs item
    * construction + the cost rule (image → 64, text → whitespace token
    * count) + in-document and cross-document prefix sums + the
    * capacity-512 division — the q_sft_pack chain re-based onto
    * multimodal items. */
  private[registry] def interleavedPackOracleSql: String =
    "WITH " + interleavedFixtureCtes(withMedia = false) + """,
      |c AS (
      |  SELECT doc_id, pos, kind,
      |    CAST(CASE WHEN kind = 'image' THEN 64
      |         ELSE len(list_filter(string_split_regex(text, '\s+'),
      |                   x -> x <> ''))
      |    END AS BIGINT) AS n_tok
      |  FROM l),
      |doc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_items,
      |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      |  FROM c GROUP BY doc_id),
      |packed AS (
      |  SELECT doc_id, n_items, n_tokens,
      |    SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
      |      AS g0,
      |    SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM doc),
      |it AS (
      |  SELECT doc_id, pos, kind, n_tok,
      |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS st
      |  FROM c)
      |SELECT p.doc_id, p.n_items, p.n_tokens,
      |  CAST(p.g0 // 512 AS BIGINT) AS seq_id,
      |  (p.n_tokens > 0 AND (p.cum - 1) // 512 <> p.g0 // 512) AS is_split,
      |  CAST(i.pos AS BIGINT) AS pos, i.kind, i.n_tok,
      |  CAST(p.g0 + i.st AS BIGINT) AS g_start,
      |  CAST(p.g0 + i.st + i.n_tok AS BIGINT) AS g_end
      |FROM packed p JOIN it i USING (doc_id)
      |ORDER BY p.doc_id, i.pos""".stripMargin

  /** sft-assembly oracle: the frozen ChatML template's length
    * arithmetic replayed per turn — prefix-sum starts, whole-turn and
    * content-only intervals, assistant-span train flags. The 12/1/11
    * literals are length("<|im_start|>"), the "\n" after the role, and
    * length("<|im_end|>\n") — frozen with the template. */
  private[registry] lazy val sftAssembleOracleSql: String =
        """WITH tu AS (
      |  SELECT doc_id // 4 AS conversation_id, doc_id % 4 AS turn_idx,
      |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |    'Turn ' || CAST(doc_id % 4 AS VARCHAR) || ': ' ||
      |      array_to_string(list_slice(
      |        list_filter(string_split(text, ' '), x -> x <> ''), 1, 4),
      |        ' ') AS t
      |  FROM documents),
      |r AS (
      |  SELECT conversation_id, turn_idx, role,
      |    CAST(length('<|im_start|>' || role || chr(10) || t ||
      |      '<|im_end|>' || chr(10)) AS BIGINT) AS rlen
      |  FROM tu),
      |sp AS (
      |  SELECT conversation_id, turn_idx, role, rlen,
      |    CAST(COALESCE(SUM(rlen) OVER (PARTITION BY conversation_id
      |      ORDER BY turn_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS start_char,
      |    CAST(COUNT(*) OVER (PARTITION BY conversation_id) AS BIGINT)
      |      AS n_turns,
      |    CAST(SUM(rlen) OVER (PARTITION BY conversation_id) AS BIGINT)
      |      AS rendered_len
      |  FROM r)
      |SELECT CAST(conversation_id AS BIGINT) AS conversation_id, n_turns,
      |  rendered_len, CAST(turn_idx AS BIGINT) AS turn_idx, role,
      |  start_char, start_char + rlen AS end_char,
      |  start_char + 12 + length(role) + 1 AS content_start,
      |  start_char + rlen - 11 AS content_end,
      |  role = 'assistant' AS train
      |FROM sp ORDER BY conversation_id, turn_idx""".stripMargin

  /** sft-packing oracle: template lengths → conversation prefix sums →
    * capacity-512 packing division → per-span global offset shifts, all
    * replayed from the shared turn construction. */
  private val sftPackOracleSql: String =
        """WITH tu AS (
      |  SELECT doc_id // 4 AS conversation_id, doc_id % 4 AS turn_idx,
      |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |    'Turn ' || CAST(doc_id % 4 AS VARCHAR) || ': ' ||
      |      array_to_string(list_slice(
      |        list_filter(string_split(text, ' '), x -> x <> ''), 1, 4),
      |        ' ') AS t
      |  FROM documents),
      |r AS (
      |  SELECT conversation_id, turn_idx, role,
      |    CAST(length('<|im_start|>' || role || chr(10) || t ||
      |      '<|im_end|>' || chr(10)) AS BIGINT) AS rlen
      |  FROM tu),
      |conv AS (
      |  SELECT conversation_id, CAST(SUM(rlen) AS BIGINT) AS n_chars
      |  FROM r GROUP BY conversation_id),
      |packed AS (
      |  SELECT conversation_id, n_chars,
      |    SUM(n_chars) OVER (ORDER BY conversation_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars
      |      AS g0,
      |    SUM(n_chars) OVER (ORDER BY conversation_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM conv),
      |sp AS (
      |  SELECT conversation_id, turn_idx, role, rlen,
      |    CAST(COALESCE(SUM(rlen) OVER (PARTITION BY conversation_id
      |      ORDER BY turn_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS start_char
      |  FROM r)
      |SELECT p.conversation_id, p.n_chars,
      |  CAST(p.g0 // 512 AS BIGINT) AS seq_id,
      |  (p.n_chars > 0 AND (p.cum - 1) // 512 <> p.g0 // 512) AS is_split,
      |  CAST(s.turn_idx AS BIGINT) AS turn_idx, s.role,
      |  CAST(p.g0 + s.start_char AS BIGINT) AS g_start,
      |  CAST(p.g0 + s.start_char + s.rlen AS BIGINT) AS g_end,
      |  CAST(p.g0 + s.start_char + 12 + length(s.role) + 1 AS BIGINT)
      |    AS g_content_start,
      |  CAST(p.g0 + s.start_char + s.rlen - 11 AS BIGINT) AS g_content_end,
      |  s.role = 'assistant' AS train
      |FROM packed p JOIN sp s USING (conversation_id)
      |ORDER BY p.conversation_id, s.turn_idx""".stripMargin

  /** Per-turn frozen-BPE token lengths: given `mg` and a
    * `tu(conversation_id, turn_idx, role, t)` CTE in scope, emits
    * `r2(conversation_id, turn_idx, role, rlen)` — rlen = content
    * tokens + the frozen ChatML overhead of 5. Shared by the packing
    * and assembly oracle tails. */
  private def turnTokenLenCtes: String =
    s"""ttk AS (
       |  SELECT conversation_id, turn_idx,
       |    list_filter(string_split_regex(trim(lower(t)), '\\s+'),
       |                x -> x <> '') AS tk
       |  FROM tu),
       |tw AS (
       |  SELECT conversation_id, turn_idx, list_extract(tk, i) AS word
       |  FROM ttk, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r),
       |dw AS (SELECT DISTINCT word FROM tw),
       |""".stripMargin + bpeWordCountCtes + s""",
       |tn AS (
       |  SELECT conversation_id, turn_idx, CAST(SUM(ntk) AS BIGINT) AS k
       |  FROM tw JOIN wtok USING (word) GROUP BY 1, 2),
       |r2 AS (
       |  SELECT tu.conversation_id, tu.turn_idx, tu.role,
       |    COALESCE(tn.k, 0) + 5 AS rlen
       |  FROM tu LEFT JOIN tn USING (conversation_id, turn_idx))""".stripMargin

  /** Token-space ASSEMBLY oracle tail (no packing): per-conversation
    * span intervals in token units — the q_sft_assemble arithmetic
    * re-based onto [[turnTokenLenCtes]]' rlen. */
  private def tokenAssembleOracleTail: String =
    turnTokenLenCtes + s""",
       |nt AS (
       |  SELECT conversation_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
       |    CAST(SUM(rlen) AS BIGINT) AS n_tokens
       |  FROM r2 GROUP BY conversation_id),
       |sp AS (
       |  SELECT conversation_id, turn_idx, role, rlen,
       |    CAST(COALESCE(SUM(rlen) OVER (PARTITION BY conversation_id
       |      ORDER BY turn_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS start_tok
       |  FROM r2)
       |SELECT CAST(s.conversation_id AS BIGINT) AS conversation_id,
       |  n.n_turns, n.n_tokens,
       |  CAST(s.turn_idx AS BIGINT) AS turn_idx, s.role, s.start_tok,
       |  CAST(s.start_tok + s.rlen AS BIGINT) AS end_tok,
       |  CAST(s.start_tok + 3 AS BIGINT) AS content_start,
       |  CAST(s.start_tok + s.rlen - 2 AS BIGINT) AS content_end,
       |  s.role = 'assistant' AS train
       |FROM sp s JOIN nt n USING (conversation_id)
       |ORDER BY conversation_id, turn_idx""".stripMargin

  /** The shared BPE-fixpoint + ChatML token-PACKING oracle tail: given
    * `mg(r, x, y)` (the frozen merges) and a
    * `tu(conversation_id, turn_idx, role, t)` turn CTE already in
    * scope, tokenizes every turn under the merges (via
    * [[turnTokenLenCtes]]), applies the per-conversation prefix sums
    * and the `capacity` packing division. `extraCols` appends
    * engine-side gate columns (e.g. `, TRUE AS span_text_ok`). Shared
    * verbatim by q_sft_pack_tokens and the q_sft_pipeline capstone. */
  private def tokenPackOracleTail(capacity: Int, extraCols: String): String = {
    turnTokenLenCtes + s""",
       |conv AS (
       |  SELECT conversation_id, CAST(SUM(rlen) AS BIGINT) AS n_tokens
       |  FROM r2 GROUP BY conversation_id),
       |packed AS (
       |  SELECT conversation_id, n_tokens,
       |    SUM(n_tokens) OVER (ORDER BY conversation_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
       |      AS g0,
       |    SUM(n_tokens) OVER (ORDER BY conversation_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM conv),
       |sp AS (
       |  SELECT conversation_id, turn_idx, role, rlen,
       |    CAST(COALESCE(SUM(rlen) OVER (PARTITION BY conversation_id
       |      ORDER BY turn_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS start_tok
       |  FROM r2)
       |SELECT CAST(p.conversation_id AS BIGINT) AS conversation_id,
       |  p.n_tokens,
       |  CAST(p.g0 // $capacity AS BIGINT) AS seq_id,
       |  (p.n_tokens > 0 AND (p.cum - 1) // $capacity <> p.g0 // $capacity)
       |    AS is_split,
       |  CAST(s.turn_idx AS BIGINT) AS turn_idx, s.role,
       |  CAST(p.g0 + s.start_tok AS BIGINT) AS g_start,
       |  CAST(p.g0 + s.start_tok + s.rlen AS BIGINT) AS g_end,
       |  CAST(p.g0 + s.start_tok + 3 AS BIGINT) AS g_content_start,
       |  CAST(p.g0 + s.start_tok + s.rlen - 2 AS BIGINT) AS g_content_end,
       |  s.role = 'assistant' AS train$extraCols
       |FROM packed p JOIN sp s USING (conversation_id)
       |ORDER BY p.conversation_id, s.turn_idx""".stripMargin
  }

  /** The token oracles' shared head: the frozen merges `mg` and the
    * turn fixture `tu(conversation_id, turn_idx, role, t)` that
    * [[turnTokenLenCtes]] reads. */
  private def sftTurnTokensHead: String =
    s"""WITH RECURSIVE
       |mg(r, x, y) AS (SELECT * FROM (VALUES $frozenMergeValues) v(r, x, y)),
       |tu AS (
       |  SELECT doc_id // 4 AS conversation_id, doc_id % 4 AS turn_idx,
       |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
       |    'Turn ' || CAST(doc_id % 4 AS VARCHAR) || ': ' ||
       |      array_to_string(list_slice(
       |        list_filter(string_split(text, ' '), x -> x <> ''), 1, 4),
       |        ' ') AS t
       |  FROM documents),
       |""".stripMargin

  /** token-exact sft-packing oracle: the frozen-BPE recursive-CTE
    * fixpoint (the q_bpe_tokenize oracle's engine, same literalized
    * merge table) run over the TURN texts for per-turn token counts,
    * composed with the q_sft_pack prefix-sum / packing-division chain
    * in token units. The +5/+3/−2 literals are the frozen ChatML token
    * overhead ([[operators.Sft.TurnOverheadTokens]] and its halves);
    * span_text_ok replays as TRUE — the engine-side cross-path identity
    * (packed token-span width == independent re-tokenization of the
    * char-span substring, detokenization == cleaned words) must hold on
    * every row or the hash fails. */
  private def sftPackTokensOracleSql: String =
    sftTurnTokensHead + tokenPackOracleTail(256, ",\n  TRUE AS span_text_ok")

  /** token-space assembly oracle: the shared turn fixture fed through
    * [[tokenAssembleOracleTail]] — per-turn token-span intervals, no
    * packing. Shared verbatim by the batch query and its streaming
    * twin. */
  private[registry] def sftAssembleTokensOracleSql: String =
    sftTurnTokensHead + tokenAssembleOracleTail

  /** token-exact interleaved-packing oracle: the q_interleaved_pack
    * chain with TEXT costs from the frozen-BPE fixpoint instead of
    * whitespace counts (images keep the constant 64-token placeholder
    * budget). */
  private def interleavedPackTokensOracleSql: String =
    s"""WITH RECURSIVE
      |mg(r, x, y) AS (SELECT * FROM (VALUES $frozenMergeValues) v(r, x, y)),
      |""".stripMargin + interleavedFixtureCtes(withMedia = false) + s""",
      |it0 AS (
      |  SELECT doc_id, pos, kind,
      |    CASE WHEN kind = 'text' THEN
      |      list_filter(string_split_regex(trim(lower(text)), '\\s+'),
      |                  x -> x <> '') END AS tk
      |  FROM l),
      |tw AS (
      |  SELECT doc_id, pos, list_extract(tk, i) AS word
      |  FROM it0, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r
      |  WHERE tk IS NOT NULL),
      |dw AS (SELECT DISTINCT word FROM tw),
      |""".stripMargin + bpeWordCountCtes + s""",
      |tcost AS (
      |  SELECT doc_id, pos, CAST(SUM(ntk) AS BIGINT) AS c
      |  FROM tw JOIN wtok USING (word) GROUP BY 1, 2),
      |c AS (
      |  SELECT i.doc_id, i.pos, i.kind,
      |    CAST(CASE WHEN i.kind = 'image' THEN 64
      |         ELSE COALESCE(t.c, 0) END AS BIGINT) AS n_tok
      |  FROM it0 i LEFT JOIN tcost t USING (doc_id, pos)),
      |doc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_items,
      |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      |  FROM c GROUP BY doc_id),
      |packed AS (
      |  SELECT doc_id, n_items, n_tokens,
      |    SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
      |      AS g0,
      |    SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM doc),
      |it AS (
      |  SELECT doc_id, pos, kind, n_tok,
      |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS st
      |  FROM c)
      |SELECT p.doc_id, p.n_items, p.n_tokens,
      |  CAST(p.g0 // 512 AS BIGINT) AS seq_id,
      |  (p.n_tokens > 0 AND (p.cum - 1) // 512 <> p.g0 // 512) AS is_split,
      |  CAST(i.pos AS BIGINT) AS pos, i.kind, i.n_tok,
      |  CAST(p.g0 + i.st AS BIGINT) AS g_start,
      |  CAST(p.g0 + i.st + i.n_tok AS BIGINT) AS g_end
      |FROM packed p JOIN it i USING (doc_id)
      |ORDER BY p.doc_id, i.pos""".stripMargin

  /** ffd-packing oracle: the whole per-shard first-fit-decreasing fold
    * replayed — Knuth shard hash (the q_corpus_shuffle formula), docs
    * ranked (tokens desc, id) per shard, and a recursive CTE whose
    * state is the bin-fills LIST: each step first-fits via
    * list_position over the fills, appending a new bin when nothing
    * (including an oversize doc) can take the item. Every document's
    * bin index and running fill hash-match the engine's fold. */
  private val packFfdOracleSql: String =
        """WITH RECURSIVE
      |toks AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'),
      |      x -> x <> '')) AS BIGINT) AS n,
      |    ((doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
      |     + (doc_id % 65536) * 2654435761) % 4294967296 % 8 AS shard
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, n, shard,
      |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY n DESC, doc_id)
      |      AS rn
      |  FROM toks),
      |f AS (
      |  SELECT shard, 0 AS rn, CAST(NULL AS BIGINT) AS doc_id,
      |    CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS bin,
      |    CAST(NULL AS BIGINT) AS fill_after,
      |    CAST([] AS BIGINT[]) AS fills
      |  FROM (SELECT DISTINCT shard FROM toks)
      |  UNION ALL
      |  SELECT f.shard, d.rn, d.doc_id, d.n,
      |    CAST(CASE WHEN l.ix IS NULL OR l.ix = 0 THEN len(f.fills)
      |         ELSE l.ix - 1 END AS BIGINT),
      |    CAST(CASE WHEN l.ix IS NULL OR l.ix = 0 THEN d.n
      |         ELSE f.fills[l.ix] + d.n END AS BIGINT),
      |    CASE WHEN l.ix IS NULL OR l.ix = 0 THEN list_append(f.fills, d.n)
      |         ELSE list_transform(range(1, len(f.fills) + 1),
      |                i -> CASE WHEN i = l.ix THEN f.fills[i] + d.n
      |                     ELSE f.fills[i] END) END
      |  FROM f JOIN d ON d.shard = f.shard AND d.rn = f.rn + 1,
      |  LATERAL (SELECT list_position(
      |    list_transform(f.fills, x -> x + d.n <= 256), true) AS ix) l)
      |SELECT doc_id, n AS n_tok, shard, bin, fill_after,
      |  n > 256 AS oversize
      |FROM f WHERE rn > 0 ORDER BY doc_id""".stripMargin

  /** ffd-manifest oracle: the full fold replay grouped per (shard,
    * bin). `packFfdOracleSql` is reused verbatim as a subquery. */
  private[registry] def packFfdStatsOracleSql: String =
    s"""SELECT shard, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  bool_or(oversize) AS oversize,
       |  CAST(CASE WHEN bool_or(oversize) THEN 0
       |       ELSE 256 - SUM(n_tok) END AS BIGINT) AS waste
       |FROM ($packFfdOracleSql) p
       |GROUP BY shard, bin ORDER BY shard, bin""".stripMargin

  /** sft-pipeline capstone oracle: the survivor set replays the planted
    * fixture's structure (the sftDedupFuzzyOracleSql discipline —
    * each stage's OPERATOR is independently hash-gated by
    * q_sft_dedup / q_sft_decontam; the capstone gates their
    * COMPOSITION): per planted group of three conversations, the
    * case-variant copy v1 exact-dedups away (min-id survivor v0), and
    * any group containing a benchmark conversation (cid % 11 == 0)
    * drops whole — group-keyed tokens make its three conversations
    * shingle-overlap the benchmark text and nothing else. Survivors
    * then run the REAL frozen-BPE token assembly + capacity-256 packing
    * tail shared with q_sft_pack_tokens. */
  private def sftPipelineOracleSql: String =
    s"""WITH RECURSIVE
       |mg(r, x, y) AS (SELECT * FROM (VALUES $frozenMergeValues) v(r, x, y)),
       |convs AS (SELECT DISTINCT doc_id // 4 AS cid FROM documents),
       |surv AS (
       |  SELECT cid FROM convs c
       |  WHERE cid % 3 <> 1
       |    AND NOT EXISTS (SELECT 1 FROM convs b
       |                    WHERE b.cid % 11 = 0 AND b.cid // 3 = c.cid // 3)),
       |tu AS (
       |  SELECT doc_id // 4 AS conversation_id, doc_id % 4 AS turn_idx,
       |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
       |    'sft' || CAST((doc_id // 4) // 3 AS VARCHAR) || 'a sft' ||
       |      CAST((doc_id // 4) // 3 AS VARCHAR) || 'b sft' ||
       |      CAST((doc_id // 4) // 3 AS VARCHAR) || 'c turn' ||
       |      CAST(doc_id % 4 AS VARCHAR) ||
       |      CASE WHEN (doc_id // 4) % 3 = 2 AND doc_id % 4 = 3
       |        THEN ' extra' ELSE '' END AS t
       |  FROM documents JOIN surv ON surv.cid = doc_id // 4),
       |""".stripMargin +
      tokenPackOracleTail(256, "")

  /** best-of-n oracle: rank + lead + min/max windows over the shared
    * candidate construction; top-3 ranks, flat-spread prompts emit
    * nothing, margin_next NULL for each prompt's last scored
    * candidate. */
  private[registry] lazy val sftBonOracleSql: String =
        """WITH c AS (
      |  SELECT doc_id // 5 AS prompt_id, doc_id AS cand_id,
      |    'Cand ' || CAST(doc_id % 5 AS VARCHAR) || ': ' ||
      |      array_to_string(list_slice(
      |        list_filter(string_split(text, ' '), x -> x <> ''), 1, 5),
      |        ' ') AS t,
      |    CAST(CASE WHEN (doc_id // 5) % 10 = 0 THEN 50
      |         ELSE (doc_id * 37) % 100 END AS BIGINT) AS s
      |  FROM documents),
      |r AS (
      |  SELECT prompt_id, cand_id, t, s,
      |    row_number() OVER (PARTITION BY prompt_id
      |      ORDER BY s DESC, cand_id DESC) AS rk,
      |    lead(s) OVER (PARTITION BY prompt_id
      |      ORDER BY s DESC, cand_id DESC) AS nxt,
      |    min(s) OVER (PARTITION BY prompt_id) AS smin,
      |    max(s) OVER (PARTITION BY prompt_id) AS smax,
      |    count(*) OVER (PARTITION BY prompt_id) AS n
      |  FROM c)
      |SELECT CAST(prompt_id AS BIGINT) AS prompt_id,
      |  CAST(rk AS BIGINT) AS "rank", cand_id, t AS text, s AS score,
      |  s - nxt AS margin_next, s - smin AS margin_worst,
      |  CAST(n AS BIGINT) AS n_candidates
      |FROM r WHERE rk <= 3 AND smax > smin
      |ORDER BY prompt_id, "rank"""".stripMargin

  /** preference-pairs oracle: argmax/argmin per prompt via rank
    * windows over the candidate construction; flat-spread prompts
    * (every tenth) filtered — they must emit nothing. */
  private[registry] lazy val prefPairsOracleSql: String =
        """WITH c AS (
      |  SELECT doc_id // 5 AS prompt_id, doc_id AS cand_id,
      |    'Cand ' || CAST(doc_id % 5 AS VARCHAR) || ': ' ||
      |      array_to_string(list_slice(
      |        list_filter(string_split(text, ' '), x -> x <> ''), 1, 5),
      |        ' ') AS t,
      |    CAST(CASE WHEN (doc_id // 5) % 10 = 0 THEN 50
      |         ELSE (doc_id * 37) % 100 END AS BIGINT) AS s
      |  FROM documents),
      |r AS (
      |  SELECT prompt_id, cand_id, t, s,
      |    row_number() OVER (PARTITION BY prompt_id
      |      ORDER BY s DESC, cand_id DESC) AS rmax,
      |    row_number() OVER (PARTITION BY prompt_id
      |      ORDER BY s ASC, cand_id ASC) AS rmin,
      |    count(*) OVER (PARTITION BY prompt_id) AS n,
      |    max(s) OVER (PARTITION BY prompt_id) AS smax,
      |    min(s) OVER (PARTITION BY prompt_id) AS smin
      |  FROM c)
      |SELECT a.prompt_id, CAST(a.n AS BIGINT) AS n_candidates,
      |  a.cand_id AS chosen_id, a.t AS chosen_text, a.s AS chosen_score,
      |  b.cand_id AS rejected_id, b.t AS rejected_text,
      |  b.s AS rejected_score
      |FROM r a JOIN r b ON a.prompt_id = b.prompt_id
      |WHERE a.rmax = 1 AND b.rmin = 1 AND a.smax > a.smin
      |ORDER BY a.prompt_id""".stripMargin

  /** sft-decontamination oracle: the q_decontaminate shingle chain over
    * each conversation's concatenated (lowercased) assistant turns vs
    * the benchmark slice's shingle set. */
  private val sftDecontamOracleSql: String =
        """WITH tu AS (
      |  SELECT doc_id // 4 AS cid, doc_id % 4 AS k,
      |    array_to_string(list_slice(
      |      list_filter(string_split(text, ' '), x -> x <> ''), 1, 8),
      |      ' ') AS t
      |  FROM documents WHERE doc_id % 2 = 1),
      |conv AS (
      |  SELECT cid, lower(string_agg(t, ' ' ORDER BY k)) AS text
      |  FROM tu GROUP BY cid),
      |ctk AS (
      |  SELECT cid, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM conv),
      |csh AS (
      |  SELECT DISTINCT cid,
      |    list_extract(tk, i) || ' ' || list_extract(tk, i+1) || ' ' ||
      |    list_extract(tk, i+2) || ' ' || list_extract(tk, i+3) || ' ' ||
      |    list_extract(tk, i+4) AS s
      |  FROM ctk, LATERAL (SELECT unnest(range(1, len(tk)-3)) AS i) r
      |  WHERE len(tk) >= 5
      |  UNION
      |  SELECT DISTINCT cid, array_to_string(tk, ' ') AS s
      |  FROM ctk WHERE len(tk) < 5),
      |etk AS (
      |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS tk
      |  FROM documents WHERE doc_id % 97 = 0),
      |esh AS (
      |  SELECT DISTINCT
      |    list_extract(tk, i) || ' ' || list_extract(tk, i+1) || ' ' ||
      |    list_extract(tk, i+2) || ' ' || list_extract(tk, i+3) || ' ' ||
      |    list_extract(tk, i+4) AS s
      |  FROM etk, LATERAL (SELECT unnest(range(1, len(tk)-3)) AS i) r
      |  WHERE len(tk) >= 5
      |  UNION
      |  SELECT DISTINCT array_to_string(tk, ' ') AS s
      |  FROM etk WHERE len(tk) < 5)
      |SELECT cid AS conversation_id, CAST(count(*) AS BIGINT) AS n_hits
      |FROM csh JOIN esh USING (s) GROUP BY 1
      |ORDER BY conversation_id""".stripMargin

  /** sft-exact-dedup oracle: rendered conversations rebuilt in SQL and
    * grouped — min-id survivor, copy count, 256-bit fingerprint. */
  private val sftDedupOracleSql: String =
        """WITH tu AS (
      |  SELECT doc_id // 4 AS cid, doc_id % 4 AS k,
      |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |    'sft' || CAST((doc_id // 4) // 3 AS VARCHAR) || 'a sft' ||
      |      CAST((doc_id // 4) // 3 AS VARCHAR) || 'b sft' ||
      |      CAST((doc_id // 4) // 3 AS VARCHAR) || 'c turn' ||
      |      CAST(doc_id % 4 AS VARCHAR) ||
      |      CASE WHEN (doc_id // 4) % 3 = 2 AND doc_id % 4 = 3
      |        THEN ' extra' ELSE '' END AS t
      |  FROM documents),
      |r AS (
      |  SELECT cid, string_agg('<|im_start|>' || role || chr(10) || t ||
      |    '<|im_end|>' || chr(10), '' ORDER BY k) AS rendered
      |  FROM tu GROUP BY cid)
      |SELECT sha256(rendered) AS fp, CAST(MIN(cid) AS BIGINT)
      |    AS conversation_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_convs
      |FROM r GROUP BY rendered ORDER BY conversation_id""".stripMargin

  /** sft-fuzzy-dedup oracle: within each planted group of three
    * full conversations, the lowercase-identical pair scores 1.0 and
    * the one-token-appended sibling scores 11/12 against each — the
    * banding must surface exactly these pairs and the exact re-score
    * exactly these values. */
  private val sftDedupFuzzyOracleSql: String =
        """WITH convs AS (
      |  SELECT doc_id // 4 AS cid FROM documents
      |  GROUP BY 1 HAVING COUNT(*) = 4),
      |g AS (SELECT cid, cid // 3 AS grp, cid % 3 AS v FROM convs)
      |SELECT a.cid AS idA, b.cid AS idB,
      |  CASE WHEN (a.v = 2) = (b.v = 2) THEN 1.0
      |       ELSE round(11.0 / 12.0, 6) END AS jaccard
      |FROM g a JOIN g b ON a.grp = b.grp AND a.cid < b.cid
      |ORDER BY idA, idB""".stripMargin

  /** The q_interleaved_docs computation (fixture page → ordered
    * text/image item sequence) as a pure per-row projection — shared
    * verbatim by the batch query and its streaming twin. The fixture
    * alternates content paragraphs, image slots, a fully-linked nav
    * run (boilerplate — dropped), and a short trailing run that
    * inherits the boilerplate label (dropped), so the emitted sequence
    * exercises every classification branch while staying replayable:
    * positions 0..3 = text, image, image, text. */
  private[registry] lazy val htmlInterleavedRows: DataFrame => DataFrame = docs => {
    val id = col("doc_id").cast("string")
    val words5 = array_join(slice(filter(split(col("text"), " "),
      w => length(w) > 0), 1, 5), " ")
    val words3 = array_join(slice(filter(split(col("text"), " "),
      w => length(w) > 0), 1, 3), " ")
    val html = concat(
      lit("<html><body>"),
      lit("<p>Opening paragraph for document "), id, lit(" about "),
      words5, lit(" with enough length.</p>"),
      lit("<img src=\"/img/"), id, lit(".png\" alt=\"one-"),
      pmod(col("doc_id"), lit(13)), lit("\">"),
      lit("<p><a href=\"/nav\">site navigation menu</a></p>"),
      lit("<img src=\"//cdn."), col("source"), lit(".example.com/m"),
      pmod(col("doc_id"), lit(7)), lit(".webp\">"),
      lit("<p>Tail.</p>"),
      lit("<p>Closing paragraph reciting "), words3,
      lit(" once more for position four.</p>"),
      lit("</body></html>"))
    docs.select(col("doc_id"),
        explode(graft.expr.HtmlExpressions.html_interleaved(html))
          .as("it"))
      .select(col("doc_id"), col("it.pos").cast("long").as("pos"),
        col("it.kind").as("kind"), col("it.text").as("text"),
        col("it.src").as("src"), col("it.alt").as("alt"))
  }

  /** SFT-assembly turn fixture: conversations of four turns (doc_id/4),
    * alternating user/assistant roles, turn text from each document's
    * first four words — shared by the assembly query and the packing
    * capstone so the oracle's length arithmetic is derived once. */
  private[registry] def sftAssembleTurns(s: SparkSession, dir: String): DataFrame = {
    val words4 = array_join(slice(filter(split(col("text"), " "),
      w => length(w) > 0), 1, 4), " ")
    t(s, dir, "documents").select(
      floor(col("doc_id") / 4).cast("long").as("conv_id"),
      pmod(col("doc_id"), lit(4)).cast("long").as("turn_idx"),
      when(pmod(col("doc_id"), lit(2)) === 0, "user")
        .otherwise("assistant").as("role"),
      concat(lit("Turn "), pmod(col("doc_id"), lit(4)).cast("string"),
        lit(": "), words4).as("text"))
  }

  /** Preference-candidate fixture: five scored candidates per prompt
    * (doc_id/5), candidate text from each document's first five words,
    * score = (doc_id·37) mod 100 — except every tenth prompt, whose
    * candidates all score a FLAT 50 (the no-signal contract probe).
    * Shared by the pair query, its streaming twin, and the best-of-n
    * export so all three provably rank the same candidates. */
  private[registry] def prefCandidates(s: SparkSession, dir: String): DataFrame = {
    val words5 = array_join(slice(filter(split(col("text"), " "),
      w => length(w) > 0), 1, 5), " ")
    val promptId = floor(col("doc_id") / 5).cast("long")
    t(s, dir, "documents").select(promptId.as("prompt_id"),
      col("doc_id").as("cand_id"),
      concat(lit("Cand "), pmod(col("doc_id"), lit(5)).cast("string"),
        lit(": "), words5).as("text"),
      when(pmod(promptId, lit(10)) === 0, lit(50L))
        .otherwise(pmod(col("doc_id") * 37, lit(100)))
        .cast("long").as("score"))
  }

  /** The q_sft_assemble computation (turns → per-turn span rows) as a
    * projection over a turn frame — shared verbatim by the batch query
    * and its streaming twin (conversation-complete micro-batches make
    * the per-batch aggregate exact). */
  private[registry] lazy val sftAssembleProjected: DataFrame => DataFrame = turns =>
    operators.Sft.assemble(turns, "conv_id", "turn_idx", "role", "text")
      .select(col("conversation_id"), col("n_turns"),
        length(col("rendered")).cast("long").as("rendered_len"),
        explode(col("spans")).as("sp"))
      .select(col("conversation_id"), col("n_turns"), col("rendered_len"),
        col("sp.turn_idx").as("turn_idx"), col("sp.role").as("role"),
        col("sp.start_char").as("start_char"),
        col("sp.end_char").as("end_char"),
        col("sp.content_start").as("content_start"),
        col("sp.content_end").as("content_end"),
        col("sp.train").as("train"))

  /** The q_sft_assemble_tokens computation (turns → per-turn TOKEN-span
    * rows under the frozen BPE) as a projection over a turn frame —
    * shared verbatim by the batch query and its streaming twin (the
    * grouped-runner contract makes the per-batch aggregate exact). */
  private[registry] lazy val sftTokenAssembleProjected: DataFrame => DataFrame = turns =>
    operators.Sft.assembleTokenSpans(turns, "conv_id", "turn_idx", "role",
        "text", operators.BpeTokenizer.frozenMerges)
      .select(col("conversation_id"), col("n_turns"), col("n_tokens"),
        explode(col("spans")).as("sp"))
      .select(col("conversation_id"), col("n_turns"), col("n_tokens"),
        col("sp.turn_idx").as("turn_idx"), col("sp.role").as("role"),
        col("sp.start_tok").as("start_tok"),
        col("sp.end_tok").as("end_tok"),
        col("sp.content_start").as("content_start"),
        col("sp.content_end").as("content_end"),
        col("sp.train").as("train"))

  /** SFT-dedup turn fixture: conversations of four turns (doc_id/4),
    * grouped three-by-three (conv_id/3) onto a shared group-keyed token
    * text, so each group plants one dedup cluster: conversations 0 and
    * 1 of the group carry identical words (conversation 1 UPPERCASED
    * when `caseVariant` — the normalization probe), conversation 2
    * appends one trailing token to its last turn (the near-dup probe:
    * 11 of 12 trigram shingles shared). Token streams are group-keyed
    * in every 3-gram window, so cross-group shingle overlap is zero by
    * construction. */
  private def sftDedupTurns(s: SparkSession, dir: String,
                            caseVariant: Boolean): DataFrame = {
    val docs = t(s, dir, "documents")
    val convId = floor(col("doc_id") / 4).cast("long")
    val k = pmod(col("doc_id"), lit(4))
    val grp = floor(convId / 3).cast("long").cast("string")
    val v = pmod(convId, lit(3))
    val base = concat(lit("sft"), grp, lit("a sft"), grp, lit("b sft"),
      grp, lit("c turn"), k.cast("string"),
      when(v === 2 && k === 3, lit(" extra")).otherwise(lit("")))
    val text = if (caseVariant) when(v === 1, upper(base)).otherwise(base)
      else base
    docs.select(convId.as("conv_id"), k.cast("long").as("turn_idx"),
      when(pmod(col("doc_id"), lit(2)) === 0, "user")
        .otherwise("assistant").as("role"),
      text.as("text"))
  }

  // The full dedup-ladder CTE chain (stats .. cum) shared by the
  // corpus capstone and the train-prep capstone — one definition, so
  // the two oracles cannot drift. Consumers append their own final
  // SELECT (or further CTEs after a comma).
  private[registry] lazy val corpusLadderCoreCtes: String =
    """WITH RECURSIVE
        |stats AS (SELECT doc_id, text,
        |  CASE WHEN trim(text) = '' OR text IS NULL THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
        |  FROM documents),
        |quality AS (SELECT doc_id, text FROM stats WHERE n_tokens >= 30 AND n_punct >= 0),
        |keyed AS (SELECT doc_id, text, array_to_string(list_slice(regexp_split_to_array(trim(lower(text)), '\s+'), 1, 5), ' ') AS key5 FROM quality),
        |exact AS (SELECT doc_id, text FROM (
        |  SELECT doc_id, text, ROW_NUMBER() OVER (PARTITION BY key5 ORDER BY doc_id) AS rn FROM keyed) k
        |  WHERE rn = 1),
        |toks0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS tk
        |  FROM exact),
        |grams0 AS (
        |  SELECT doc_id, tk, UNNEST(range(1, len(tk) - 4 + 2)) AS i
        |  FROM toks0 WHERE len(tk) >= 4),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+3], ' ') AS gram FROM grams0),
        |occ AS (
        |  SELECT doc_id, pos,
        |    COUNT(*) OVER (PARTITION BY gram) AS c,
        |    MIN(doc_id * 1048576 + pos) OVER (PARTITION BY gram) AS canon
        |  FROM grams),
        |rep AS (
        |  SELECT doc_id, pos, (doc_id * 1048576 + pos = canon) AS is_canon
        |  FROM occ WHERE c >= 2),
        |wins AS (
        |  SELECT doc_id,
        |    list(struct_pack(s := pos, e := pos + 3)) FILTER (WHERE is_canon) AS can,
        |    list(struct_pack(s := pos, e := pos + 3)) FILTER (WHERE NOT is_canon) AS red
        |  FROM rep GROUP BY doc_id),
        |final AS (
        |  SELECT t.doc_id, t.tk,
        |    CASE WHEN w.red IS NULL THEN NULL
        |      ELSE list_filter(range(0, len(t.tk)), p ->
        |        NOT (len(list_filter(w.red, x -> p >= x.s AND p <= x.e)) > 0
        |             AND (w.can IS NULL OR len(list_filter(w.can, x -> p >= x.s AND p <= x.e)) = 0)))
        |      END AS kept
        |  FROM toks0 t LEFT JOIN wins w ON t.doc_id = w.doc_id),
        |cleaned AS (
        |  SELECT doc_id,
        |    CASE WHEN kept IS NULL THEN array_to_string(tk, ' ')
        |      ELSE COALESCE(array_to_string(list_transform(kept, p -> tk[p + 1]), ' '), '') END AS clean_text,
        |    CAST(CASE WHEN kept IS NULL THEN 0 ELSE len(tk) - len(kept) END AS BIGINT) AS n_removed
        |  FROM final),
        |cq AS (
        |  SELECT doc_id, clean_text, n_removed,
        |    CAST(len(regexp_extract_all(clean_text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS BIGINT) AS n_tok
        |  FROM cleaned
        |  WHERE (CASE WHEN trim(clean_text) = '' OR clean_text IS NULL THEN 0
        |         ELSE len(regexp_split_to_array(trim(clean_text), '\s+')) END) >= 30),
        |toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(clean_text)), '\s+') AS tk FROM cq),
        |sh AS (
        |  SELECT DISTINCT doc_id, list_extract(tk, i) || ' ' || list_extract(tk, i+1) || ' ' || list_extract(tk, i+2) AS s
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk)-1)) AS i) r
        |  WHERE len(tk) >= 3
        |  UNION
        |  SELECT DISTINCT doc_id, array_to_string(tk, ' ') AS s FROM toks WHERE len(tk) < 3
        |),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT x.doc_id AS idA, y.doc_id AS idB, count(*) AS c
        |  FROM sh x JOIN sh y USING (s) WHERE x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT idA, idB FROM common
        |  JOIN sizes na ON na.doc_id = idA
        |  JOIN sizes nb ON nb.doc_id = idB
        |  WHERE CAST(c AS DOUBLE) / (na.n_sh + nb.n_sh - c) >= 0.2),
        |edges AS (SELECT idA AS src, idB AS dst FROM pairs UNION ALL SELECT idB AS src, idA AS dst FROM pairs),
        |cc(id, label) AS (
        |  SELECT doc_id, doc_id FROM cq
        |  UNION
        |  SELECT e.dst, cc.label FROM edges e JOIN cc ON cc.id = e.src
        |),
        |fsurv AS (
        |  SELECT x.doc_id, x.n_tok, x.n_removed FROM cq x
        |  JOIN (SELECT id, MIN(label) AS lab FROM cc GROUP BY id) m
        |    ON m.id = x.doc_id AND m.lab = x.doc_id),
        |spairs AS (
        |  SELECT a.vec_id AS idA, b.vec_id AS idB
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  JOIN fsurv sa ON sa.doc_id = a.vec_id
        |  JOIN fsurv sb ON sb.doc_id = b.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.4),
        |sedges AS (SELECT idA AS src, idB AS dst FROM spairs UNION ALL SELECT idB AS src, idA AS dst FROM spairs),
        |scc(id, label) AS (
        |  SELECT doc_id, doc_id FROM fsurv
        |  UNION
        |  SELECT e.dst, scc.label FROM sedges e JOIN scc ON scc.id = e.src
        |),
        |ssurv AS (
        |  SELECT x.doc_id, x.n_tok, x.n_removed FROM fsurv x
        |  JOIN (SELECT id, MIN(label) AS lab FROM scc GROUP BY id) m
        |    ON m.id = x.doc_id AND m.lab = x.doc_id)""".stripMargin

  private val corpusLadderCtes: String =
    corpusLadderCoreCtes + """,
        |cum AS (SELECT doc_id, n_tok, n_removed,
        |  SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM ssurv)""".stripMargin

  /** DSIR per-doc importance weights (shared verbatim by the batch entry
    * and its streaming twin — bucket counts are multiset functions, so
    * stream ≡ batch exactly). */
  private[registry] lazy val dsirWeightsOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang,
      |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |                t -> t <> '') AS tk
      |  FROM documents),
      |feats AS (
      |  SELECT doc_id, lang, t.f AS feat FROM toks, UNNEST(tk) AS t(f)
      |  UNION ALL
      |  SELECT doc_id, lang, list_extract(tk, i) || ' ' || list_extract(tk, i + 1) AS feat
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk))) AS i) r
      |  WHERE len(tk) >= 2),
      |fb AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(feat), 1, 8)) AS BIGINT) % 4096 AS bucket
      |  FROM feats),
      |ct AS (SELECT bucket, COUNT(*) AS ct FROM fb WHERE lang = 'en' GROUP BY 1),
      |cr AS (SELECT bucket, COUNT(*) AS cr FROM fb WHERE lang <> 'en' GROUP BY 1),
      |nt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS nt FROM ct),
      |nr AS (SELECT CAST(COALESCE(SUM(cr), 0) AS BIGINT) AS nr FROM cr),
      |lr AS (
      |  SELECT cr.bucket,
      |    CAST(ROUND(LN((CAST(COALESCE(ct.ct, 0) AS DOUBLE) + 1)
      |                  / (CAST(nt.nt AS DOUBLE) + 4096)), 6) AS DECIMAL(18,6))
      |    - CAST(ROUND(LN((CAST(cr.cr AS DOUBLE) + 1)
      |                  / (CAST(nr.nr AS DOUBLE) + 4096)), 6) AS DECIMAL(18,6)) AS lr
      |  FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN nt CROSS JOIN nr),
      |pd AS (
      |  SELECT fb.doc_id, COUNT(*) AS n_feat, SUM(lr.lr) AS slw
      |  FROM fb JOIN lr USING (bucket) WHERE fb.lang <> 'en' GROUP BY 1)
      |SELECT d.doc_id, COALESCE(pd.n_feat, 0) AS n_feat,
      |  CAST(pd.slw AS DOUBLE) AS logw
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |WHERE d.lang <> 'en'
      |ORDER BY d.doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // DSIR importance weights (Xie et al. NeurIPS'23): every non-English
    // doc scored by how English-like its hashed unigram+bigram feature
    // distribution is — B-bucket state however big either corpus, the
    // engine-portable md5 bucket, 6dp-pinned lns, exact decimal sums.
    "q_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      operators.DataSelect.dsirWeights(
        docs.filter(col("lang") =!= "en"), docs.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 4096)
        .orderBy(col("doc_id"))
    }),


    // The paper's top-k selection under the TOTAL order (logw DESC,
    // doc_id) — orderBy+limit = TakeOrdered, never a global sort.
    "q_dsir_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      operators.DataSelect.dsirSelect(
        docs.filter(col("lang") =!= "en"), docs.filter(col("lang") === "en"),
        "doc_id", "text", k = 100, buckets = 4096)
    }),


    // INTERLEAVED image-text documents (the mmc4/OBELICS shape): one
    // position-keyed sequence of content text runs and image slots per
    // page — <img> tags split text runs, jusText labels drop the nav
    // run and its short successor, and image slots always survive. The
    // oracle pins all four emitted positions per document.
    "q_interleaved_docs" -> ((s, dir) =>
      htmlInterleavedRows(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("pos"))),


    // INTERLEAVED MULTIMODAL PACKING — the MMC4/OBELICS trainer step the
    // interleaved extraction feeds: each image slot costs a constant 64
    // placeholder tokens (the vision encoder's patch budget), each text
    // run its whitespace token count; documents pack contiguously into
    // capacity-512 sequences via the distributed prefix sum, every item
    // landing at its GLOBAL token offset, with is_split flagging
    // boundary-crossing documents. The oracle replays the fixture items,
    // the cost rule, and both prefix-sum layers.
    "q_interleaved_pack" -> ((s, dir) =>
      operators.Packing.packInterleaved(
          htmlInterleavedRows(t(s, dir, "documents")),
          "doc_id", "pos", "kind", "text", imageBudget = 64L,
          capacity = 512L)
        .orderBy(col("doc_id"), col("pos"))),


    // FIRST-FIT-DECREASING bin packing — the NO-TRUNCATION loader shape
    // ("sample packing": whole documents only, capacity never crossed),
    // complementing concat-and-split. Knuth-hash sharding (the
    // SQL-replayable corpus-shuffle idiom), exact per-shard FFD fold;
    // the oracle replays the ENTIRE fold per shard with a recursive CTE
    // whose state is the bin-fills list — every document's bin
    // assignment and running fill hash-match, not just summary claims.
    "q_pack_ffd" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), x => x =!= ""))
          .cast("long").as("n_tok"))
      operators.Packing.ffdPack(docs, "doc_id", "n_tok", capacity = 256L,
          shards = 8)
        .orderBy(col("doc_id"))
    }),


    // Per-bin FFD manifest — the loader-facing view of q_pack_ffd:
    // docs/tokens/waste per (shard, bin). The oracle wraps the full
    // FFD fold replay in one GROUP BY.
    "q_pack_ffd_stats" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), x => x =!= ""))
          .cast("long").as("n_tok"))
      operators.Packing.ffdStats(
          operators.Packing.ffdPack(docs, "doc_id", "n_tok",
            capacity = 256L, shards = 8), capacity = 256L)
        .orderBy(col("shard"), col("bin"))
    }),


    // TOKEN-EXACT interleaved packing — the q_sft_pack_tokens upgrade
    // applied to the multimodal trainer shape: text runs cost their
    // frozen-BPE token counts (computed per item row, before the doc
    // shuffle), images keep the constant 64-token placeholder budget.
    // Same packing arithmetic, caller-supplied cost column.
    "q_interleaved_pack_tokens" -> ((s, dir) => {
      val items = htmlInterleavedRows(t(s, dir, "documents"))
      val cost = when(col("kind") === "image", lit(64L))
        .otherwise(operators.BpeTokenizer.tokenCountColumn(
          operators.BpeTokenizer.frozenMerges,
          coalesce(col("text"), lit(""))).cast("long"))
      operators.Packing.packInterleavedCosted(
          items.withColumn("__cost", cost),
          "doc_id", "pos", "kind", "__cost", capacity = 512L)
        .orderBy(col("doc_id"), col("pos"))
    }),


    // SFT ASSEMBLY — the post-training corpus front door: flat
    // (conversation, turn, role, text) rows become rendered ChatML
    // documents with per-span LOSS-MASK offsets (whole-turn interval +
    // the content sub-interval the mask actually covers; train only on
    // assistant spans). The oracle replays the frozen template's length
    // arithmetic per turn — a one-character template drift fails the
    // hash. One shuffle (conversation key), per-row span math.
    "q_sft_assemble" -> ((s, dir) =>
      sftAssembleProjected(sftAssembleTurns(s, dir))
        .orderBy(col("conversation_id"), col("turn_idx"))),


    // TOKEN-SPACE ASSEMBLY — q_sft_assemble's spans re-based to frozen-
    // BPE token units (the q_sft_pack_tokens front door, exposed as its
    // own surface): per turn the [start_tok, end_tok) interval and the
    // content-token sub-interval, train flags on assistant spans. One
    // conversation-keyed aggregate; token counts computed per turn row
    // BEFORE the shuffle.
    "q_sft_assemble_tokens" -> ((s, dir) =>
      sftTokenAssembleProjected(sftAssembleTurns(s, dir))
        .orderBy(col("conversation_id"), col("turn_idx"))),


    // SFT PACKING — the loss masks made trainer-consumable: assembled
    // conversations pack into capacity-512 sequences via the
    // distributed prefix sum (no global window) and every turn span
    // lands at its GLOBAL offset in the packed character stream, with
    // seq_id/is_split marking boundary-crossing conversations. The
    // oracle replays template lengths → conversation prefix sums →
    // packing division → per-span offset shifts in one chain.
    "q_sft_pack" -> ((s, dir) => {
      val assembled = operators.Sft.assemble(sftAssembleTurns(s, dir),
        "conv_id", "turn_idx", "role", "text")
      operators.Sft.packWithMasks(assembled, capacity = 512L)
        .orderBy(col("conversation_id"), col("turn_idx"))
    }),


    // TOKEN-EXACT SFT packing — the masks land in the space a trainer
    // actually consumes: frozen-BPE token counts (computed per TURN ROW
    // before the conversation shuffle) drive the ChatML span layout
    // ([im_start][role][nl][content…][im_end][nl]) and the capacity-256
    // packing division. The oracle replays the recursive-CTE BPE
    // fixpoint over the turn texts composed with the q_sft_pack prefix
    // sums. span_text_ok is the cross-path identity gate: the packed
    // content span's TOKEN width must equal an independent
    // re-tokenization of the CHAR-space assembly's content substring,
    // and that substring's detokenized tokens must equal its cleaned
    // words — tying token masks, char masks, and the tokenizer
    // round-trip together; one false anywhere fails the hash.
    "q_sft_pack_tokens" -> ((s, dir) => {
      val turns = sftAssembleTurns(s, dir)
      val merges = operators.BpeTokenizer.frozenMerges
      val packed = operators.Sft.packTokensWithMasks(
        operators.Sft.assembleTokenSpans(turns, "conv_id", "turn_idx",
          "role", "text", merges), capacity = 256L)
      val spanText = operators.Sft.assemble(turns, "conv_id", "turn_idx",
          "role", "text")
        .select(col("conversation_id"), col("rendered"),
          explode(col("spans")).as("sp"))
        .select(col("conversation_id"), col("sp.turn_idx").as("turn_idx"),
          col("rendered").substr(
            (col("sp.content_start") + 1L).cast("int"),
            (col("sp.content_end") - col("sp.content_start")).cast("int"))
            .as("__span_text"))
      packed.join(spanText, Seq("conversation_id", "turn_idx"))
        .withColumn("__toks",
          operators.BpeTokenizer.tokensColumn(merges, col("__span_text")))
        .select(col("conversation_id"), col("n_tokens"), col("seq_id"),
          col("is_split"), col("turn_idx"), col("role"), col("g_start"),
          col("g_end"), col("g_content_start"), col("g_content_end"),
          col("train"),
          ((col("g_content_end") - col("g_content_start")) ===
            size(col("__toks")).cast("long") &&
            trim(replace(concat_ws("", col("__toks")),
              lit(operators.BpeTokenizer.EndOfWord), lit(" "))) ===
              concat_ws(" ", operators.Dedup.cleanTokens(col("__span_text"))))
            .as("span_text_ok"))
        .orderBy(col("conversation_id"), col("turn_idx"))
    }),


    // PREFERENCE PAIRS (DPO/RLHF prep): five scored candidates per
    // prompt collapse to one (chosen, rejected) row via struct min/max
    // in a single aggregate — and every tenth prompt carries a FLAT
    // score spread and must emit nothing (a no-signal pair would poison
    // a DPO loss silently). The oracle replays the argmax/argmin with
    // rank windows and the spread filter.
    "q_pref_pairs" -> ((s, dir) =>
      operators.Sft.preferencePairs(prefCandidates(s, dir), "prompt_id",
          "cand_id", "text", "score")
        .orderBy(col("prompt_id"))),


    // BEST-OF-N ranking export (reward-model / rejection-sampling prep):
    // the same scored candidates widen from one (chosen, rejected) pair
    // to the top-3 ranked rows per prompt with reward margins — rank 1
    // provably equals q_pref_pairs' chosen (same (score, id) order), and
    // the flat-spread / null-score contracts carry over. One partitioned
    // rank window; the oracle replays rank + lead + min/max windows.
    "q_sft_bon" -> ((s, dir) =>
      operators.Sft.bestOfN(prefCandidates(s, dir), "prompt_id",
          "cand_id", "text", "score", k = 3)
        .orderBy(col("prompt_id"), col("rank"))),


    // SFT PIPELINE CAPSTONE — the post-training front's stages chained
    // the way q_train_pipeline caps pre-training prep: conversation
    // turns → normalized conversation text → EXACT conversation dedup
    // (min-id survivor; the planted case-variant copies drop) →
    // benchmark DECONTAMINATION (5-gram shingles vs the cid%11==0
    // benchmark slice; group-keyed tokens drop whole planted groups) →
    // token-exact ChatML assembly + capacity-256 packing of the
    // survivors under the frozen BPE. Each stage's operator is
    // independently hash-gated (q_sft_dedup / q_sft_decontam /
    // q_sft_pack_tokens); this query gates the COMPOSITION — the
    // oracle replays the survivor set from the fixture's structure and
    // the full BPE/packing tail value-for-value.
    "q_sft_pipeline" -> ((s, dir) => {
      val turns = sftDedupTurns(s, dir, caseVariant = true)
      val norm = operators.Sft.normalizedConvText(turns, "conv_id",
        "turn_idx", "text")
      val kept = operators.Sft.dedupExact(norm, "conversation_id",
        "conv_text").select(col("conversation_id"))
      val bench = norm.filter(pmod(col("conversation_id"), lit(11)) === 0)
        .select(col("conversation_id").as("doc_id"),
          col("conv_text").as("text"))
      val contaminated = operators.Decontaminate.contaminationReport(
          norm.select(col("conversation_id"), col("conv_text").as("text")),
          bench, "conversation_id", "text", n = 5)
        .select(col("conversation_id"))
      val survivors = kept.join(contaminated, Seq("conversation_id"),
          "left_anti")
        .withColumnRenamed("conversation_id", "conv_id")
      val assembled = operators.Sft.assembleTokenSpans(
        turns.join(survivors, Seq("conv_id")),
        "conv_id", "turn_idx", "role", "text",
        operators.BpeTokenizer.frozenMerges)
      operators.Sft.packTokensWithMasks(assembled, capacity = 256L)
        .orderBy(col("conversation_id"), col("turn_idx"))
    }),


    // SFT DECONTAMINATION — the benchmark-leak gate applied to
    // post-training data: each conversation's concatenated ASSISTANT
    // turns (the spans a model would train on) are checked for shared
    // 5-gram shingles against the benchmark slice (doc_id % 97 == 0),
    // reusing the corpus decontamination operator verbatim.
    // Conversations built on a benchmark document surface with their
    // full shingle overlap; clean ones are absent.
    "q_sft_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val words8 = array_join(slice(filter(split(col("text"), " "),
        w => length(w) > 0), 1, 8), " ")
      val turns = docs.select(
        floor(col("doc_id") / 4).cast("long").as("conv_id"),
        pmod(col("doc_id"), lit(4)).cast("long").as("turn_idx"),
        when(pmod(col("doc_id"), lit(2)) === 0, "user")
          .otherwise("assistant").as("role"),
        words8.as("text"))
      val convs = operators.Sft.normalizedConvText(
          turns.filter(col("role") === "assistant"), "conv_id",
          "turn_idx", "text")
        .select(col("conversation_id"), col("conv_text").as("text"))
      operators.Decontaminate.contaminationReport(convs,
          docs.filter(col("doc_id") % 97 === 0), "conversation_id",
          "text", n = 5)
        .orderBy(col("conversation_id"))
    }),


    // CONVERSATION-level EXACT dedup: the fixture mints one canonical
    // conversation per group of three (group-keyed token text, one
    // copy uppercased — rendered bytes still differ, so exact dedup
    // groups only the byte-identical pair), keyed on the 256-bit
    // rendered hash — key-only shuffle, min-id survivor, copy count.
    "q_sft_dedup" -> ((s, dir) => {
      val turns = sftDedupTurns(s, dir, caseVariant = false)
      val convs = operators.Sft.assemble(turns, "conv_id", "turn_idx",
        "role", "text")
      operators.Sft.dedupExact(convs, "conversation_id", "rendered")
        .orderBy(col("conversation_id"))
    }),


    // CONVERSATION-level FUZZY dedup — the Dedup ladder on concatenated
    // NORMALIZED turns: groups of three conversations where two are
    // byte-identical after lowercasing (jaccard 1.0) and the third
    // appends one trailing token (11 of 12 shingles shared). MinHash
    // banding + exact re-score must surface exactly the within-group
    // pairs at exactly those two similarity values.
    "q_sft_dedup_fuzzy" -> ((s, dir) => {
      val turns = sftDedupTurns(s, dir, caseVariant = true)
      val convs = operators.Sft.normalizedConvText(turns, "conv_id",
          "turn_idx", "text")
        .filter(col("n_turns") === 4)
      Dedup.minhashNearDupPairs(convs, "conversation_id", "conv_text",
          n = 3, k = 64, bands = 16, threshold = 0.5)
        .select(col("idA"), col("idB"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("idA"), col("idB"))
    }),


    // Rank-aware source weighting — link analysis finally FEEDING
    // curation: the synthetic outlink graph aggregated to source level,
    // 3-iteration integer PageRank over the source graph, isqrt(rank
    // mass) budget weights (the α = 1/2 tempering of q_mix_temperature
    // applied to authority instead of language size), then the same
    // deterministic Knuth-hash take per source. The oracle replays the
    // whole chain: source edges, the BIGINT PR recursion, the
    // float-seeded integer-corrected isqrt ladder, floor-div budgets,
    // and the running-sum window.
    "q_mix_ranked" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val srcNum = regexp_extract(col("source"), "(\\d+)", 1).cast("long")
      val byId = docs.select(col("doc_id"), srcNum.as("sn"))
      val links = docs.select(col("doc_id").as("src"),
        explode(array((0 until 3).map(j =>
          (col("doc_id") * 7 + lit(j * 11)) % lit(n)): _*)).as("dst"))
      val edges = links
        .join(byId.select(col("doc_id").as("src"), col("sn").as("ssn")), "src")
        .join(byId.select(col("doc_id").as("dst"), col("sn").as("dsn")), "dst")
        .filter(col("ssn") =!= col("dsn"))
        .select(col("ssn").as("esrc"), col("dsn").as("edst"))
      val ranks = operators.Graph.pageRank(edges, "esrc", "edst", iters = 3)
        .select(concat(lit("src"), col("node").cast("string")).as("source"),
          col("pr"))
      operators.Sampling.rankWeightedMix(docs, "doc_id", "source",
          size(split(col("text"), " ")).cast("long"), ranks, "source", "pr",
          totalTokenBudget = 15000L)
        .select(col("doc_id"), col("source"), col("n_tok"),
          col("src_budget"), col("running"))
        .orderBy(col("doc_id"))
    }),


    // Curriculum ordering (easy→hard schedule): documents ranked by
    // FROZEN-BPE fertility (tokens per word, exact ppm — rare/hard words
    // split into more pieces, so higher fertility = harder), cut into 4
    // equal phases by the DISTRIBUTED rank (prefix-sum of ones over the
    // composite key — no single-partition global window), Knuth-shuffled
    // within each phase. Round-18 consistency pass: difficulty now comes
    // from the SAME tokenizer whose counts drive packing and budgets
    // (q_sft_pack_tokens), not the unigram-LM sibling — every token
    // number a trainer sees has one source. The oracle replays the BPE
    // fixpoint, rank, phase arithmetic, and within-phase hash order.
    "q_curriculum" -> ((s, dir) => {
      val cost = t(s, dir, "documents").select(col("doc_id"),
          size(Dedup.cleanTokens(col("text"))).cast("long").as("__w"),
          operators.BpeTokenizer.tokenCountColumn(
            operators.BpeTokenizer.frozenMerges, col("text"))
            .cast("long").as("__t"))
        .withColumn("difficulty", when(col("__w") === 0L, lit(0L))
          .otherwise(expr("(1000000 * __t) div __w")))
      operators.TrainPipeline.curriculumOrder(cost, "doc_id",
          col("difficulty"), phases = 4)
        .orderBy(col("doc_id"))
    }),


    // Temperature-based multilingual mixing (the mT5/XLM-R α-sampling
    // recipe, α = 1/2): per-language token budgets ∝ isqrt(language token
    // total) — upsampling low-resource langs relative to their natural
    // share — then a deterministic Knuth-hash-order take per language
    // until the budget fills. Round-18 consistency pass: totals,
    // budgets, and the running take are all in FROZEN-BPE tokens (the
    // counts packing already trusts), not whitespace splits — a mix
    // budget in one unit and a packer in another silently misallocates.
    // Integer-exact: the exact isqrt, floor-division budgets,
    // running-sum window; the oracle replays the BPE fixpoint and all
    // three (its isqrt is the BLEU oracle's float-seeded
    // integer-corrected ladder).
    "q_mix_temperature" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Sampling.temperatureMix(docs, "doc_id", "lang",
          operators.BpeTokenizer.tokenCountColumn(
            operators.BpeTokenizer.frozenMerges, col("text")).cast("long"),
          totalTokenBudget = 15000L)
        .select(col("doc_id"), col("lang"), col("n_tok"),
          col("lang_budget"), col("running"))
        .orderBy(col("doc_id"))
    }),


    // Exactly-k-per-group deterministic sample (hash-ranked reservoir).
    "q_sample_per_group" -> ((s, dir) =>
      operators.Sampling.sampleKPerGroup(t(s, dir, "documents"), "doc_id", "source", k = 5)
        .select(col("doc_id"), col("source"))
        .orderBy(col("source"), col("doc_id"))),


    // Split-leakage audit: winnowed near-dup pairs whose endpoints fall in
    // DIFFERENT train/val/test splits — evaluation contamination, the gate
    // run after splitting. Pure composition of the q_winnow_overlap pair
    // derivation with the q_corpus_split assignment, so the oracle is the
    // two proven CTE chains joined.
    "q_split_leakage" -> ((s, dir) =>
      operators.Winnowing.splitLeakagePairs(t(s, dir, "documents"),
        "doc_id", "text", Seq(800, 100, 100), seed = 42L,
        k = 4, w = 4, minShared = 2, maxDocFreq = 50)
        .orderBy(col("idA"), col("idB"))),


    // The capstone composition: URL dedup → quality filter → exact dedup →
    // near-dup survivors → token budget, hash-matched as ONE chain so stage
    // ordering and interfaces are verified, not only the parts. The URL
    // stage is provably absorbed by the min-id exact dedup (see
    // CorpusPipeline's scaladoc), so the oracle is unchanged — a green
    // hash IS the proof the composition theorem holds on real data.
    "q_corpus_pipeline" -> ((s, dir) =>
      operators.CorpusPipeline.curate(
        t(s, dir, "documents").withColumn("url",
          concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
            (col("doc_id") % 25).cast("string"), lit("/?utm_source="), col("lang"))),
        operators.CorpusPipeline.Config(urlCol = Some("url")))
        .select(col("doc_id"), col("n_tok"))
        .orderBy(col("doc_id"))),


    // The FULL dedup ladder, production order: URL → exact → substring
    // removal → re-tokenize/re-filter → fuzzy → semantic → budget,
    // hash-matched as ONE chain (the URL stage is absorbed by the min-id
    // exact dedup exactly as in v1: the substring stage runs on the
    // post-exact survivor set, which is invariant to it). k=4 anchors and
    // a 0.4 cosine threshold make the removal and semantic stages
    // genuinely fire on the fixture (180 docs touched, 14 gutted below
    // the re-applied quality floor, 25 semantic casualties at sf0.01);
    // the fuzzy stage verifiably finds zero pairs here — exact dedup
    // already absorbed the corpus's near-identical docs — and the crafted
    // CorpusPipelineV2Spec fixture covers its firing path.
    // semanticExact=true is the bounded oracle path; the spec asserts the
    // LSH scale path yields a survivor superset.
    "q_corpus_pipeline_v2" -> ((s, dir) =>
      operators.CorpusPipeline.curateV2(
        t(s, dir, "documents").withColumn("url",
          concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
            (col("doc_id") % 25).cast("string"), lit("/?utm_source="), col("lang"))),
        t(s, dir, "embeddings"),
        operators.CorpusPipeline.Config(urlCol = Some("url"),
          substringK = 4, semanticThreshold = 0.4))
        .orderBy(col("doc_id"))),


    // Training-prep capstone: the curated set (full v2 ladder) driven
    // through the lineage-stable split, train-only sequence packing on
    // CLEANED token counts, and the deterministic shard shuffle — one
    // hash-matched chain across the curation → training-prep interface.
    "q_train_pipeline" -> ((s, dir) =>
      operators.TrainPipeline.prepare(
        t(s, dir, "documents").withColumn("url",
          concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
            (col("doc_id") % 25).cast("string"), lit("/?utm_source="), col("lang"))),
        t(s, dir, "embeddings"),
        operators.CorpusPipeline.Config(urlCol = Some("url"),
          substringK = 4, semanticThreshold = 0.4),
        capacity = 512L)
        .orderBy(col("doc_id"))),


    // Token-budget corpus selection: distributed prefix sum of BPE-ish token
    // counts in doc_id order (deterministic quantile buckets + per-bucket
    // windows + broadcast offsets — no single-task global window), then keep
    // docs while the running total stays within budget.
    "q_token_budget" -> ((s, dir) => {
      val withToks = t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_tok"))
      operators.PrefixSum.selectWithinBudget(withToks, "doc_id", "n_tok",
        budget = 15000L)
        .select(col("doc_id"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),


    // Sessionization: 30-min inactivity gap per user over epoch-micros
    // longs — one window shuffle labels sessions, the groupBy collapses
    // them. Oracled against the identical lag/flag/running-sum in DuckDB.
    // Epoch-based upsampling (mixing WITH repetition): src0 x2.3, src1
    // x0.5, src2 x1.0, everything else dropped — the repeated subset is a
    // pure function of the ids (per-mille Knuth slot), each copy indexed.
    "q_sample_epochs" -> ((s, dir) =>
      operators.Sampling.upsampleByEpochs(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source",
        Map("src0" -> 2.3, "src1" -> 0.5, "src2" -> 1.0))
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))),


    // Temporal train/test split with a 1-day embargo after the cutoff —
    // the time-series evaluation split (id-hash splits leak through
    // nearby-in-time near-duplicates). Same fixed mid-span instant as
    // q_decay_agg; pure codegen projection, zero shuffle.
    "q_temporal_split" -> ((s, dir) => {
      val ev0 = t(s, dir, "events")
      operators.Sampling.temporalSplit(
        ev0.select(col("event_id"), col("user_id"),
          EventTime.micros(ev0).as("us")),
        "us", cutoffMicros = 1705276800000000L,
        embargoMicros = 86400L * 1000 * 1000)
        .orderBy(col("event_id"))
    }),


    // Deterministic stratified sampling: keep-decision is a pure function
    // of doc_id (Knuth multiplicative hash → per-mille slot), reproducible
    // across runs/partitionings/engines — the corpus-lineage requirement
    // df.sample() cannot meet.
    "q_sample_stratified" -> ((s, dir) => {
      val strata = t(s, dir, "documents").withColumn("stratum",
        when(length(col("text")) < 300, "short")
          .when(length(col("text")) < 600, "mid")
          .otherwise("long"))
      operators.Sampling.stratifiedSample(strata, "doc_id", "stratum",
        Map("short" -> 100, "mid" -> 500, "long" -> 1000))
        .select(col("doc_id"), col("stratum"),
          operators.Sampling.perMilleSlot(col("doc_id")).as("slot"))
        .orderBy(col("doc_id"))
    }),


    // Deterministic training-order shuffle: seeded double Knuth hash →
    // shard + in-shard rank, a pure function of the ids (orderBy(rand())
    // changes with partitioning/retries/engine; this never does). The
    // oracle re-derives both hash applications in overflow-free integer
    // arithmetic.
    "q_corpus_shuffle" -> ((s, dir) =>
      operators.Sampling.shuffleIntoShards(
        t(s, dir, "documents").select(col("doc_id")),
        "doc_id", numShards = 8, seed = 42L)
        .orderBy(col("shard"), col("pos"))),


    // Deterministic 80/10/10 train/val/test split — lineage-stable split
    // assignment as a pure function of the id (randomSplit's per-partition
    // RNG re-deals on repartition/retry and silently leaks eval docs into
    // train); same seeded double-Knuth machinery as q_corpus_shuffle.
    "q_corpus_split" -> ((s, dir) =>
      operators.Sampling.trainValTestSplit(
        t(s, dir, "documents").select(col("doc_id")), "doc_id",
        Seq(800, 100, 100), seed = 42L)
        .orderBy(col("doc_id"))),


    // Weighted top-k sample — priority sampling (Duffield-Lund-Thorup):
    // u from the seeded Knuth hash, priority w·2^32/(slot+1) in two fixed
    // IEEE-double ops, so the selected SET is engine-exact. Output size
    // exactly k; heavier documents win proportionally more often.
    "q_sample_weighted" -> ((s, dir) =>
      operators.Sampling.prioritySample(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 500, seed = 7L)
        .orderBy(col("doc_id"))),


    // Length-bucketed dynamic batching: equi-depth buckets by length, then
    // fixed-size batches within each bucket — the padding-efficiency
    // layout; every number is integer/percentile-deterministic.
    "q_length_batches" -> ((s, dir) =>
      operators.Packing.lengthBucketedBatches(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", numBuckets = 8, batchDocs = 32)
        .orderBy(col("bucket"), col("batch"), col("n_chars"), col("doc_id"))),


    // Benchmark decontamination: training docs sharing any 5-gram with the
    // eval slice (doc_id % 97 == 0 — deterministic, SF-independent). The
    // eval shingle set is broadcast; the corpus never shuffles on shingle.
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Decontaminate.contaminationReport(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    }),


    // Sequence packing: concat-and-split at 2048 BPE-ish tokens, every doc
    // assigned the sequence of its first token + a straddle flag. The
    // global order comes from the distributed prefix sum (no one-task
    // window).
    "q_pack_sequences" -> ((s, dir) => {
      val withToks = t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_tok"))
      operators.Packing.packSequences(withToks, "doc_id", "n_tok",
        capacity = 2048L)
        .select(col("doc_id"), col("n_tok"), col("seq_id"), col("is_split"))
        .orderBy(col("doc_id"))
    }),


    // Data mixing: three sources at exact-binary budget shares, everything
    // else dropped. Acceptance thresholds derive from per-source token
    // totals in fixed-order IEEE double math, so the sampled set is
    // engine-reproducible (the whole point of hash-based mixing).
    "q_corpus_mix" -> ((s, dir) => {
      val withToks = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_tok"))
      operators.Sampling.mixByTokenBudget(withToks, "doc_id", "source",
        "n_tok", Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125),
        totalTokenBudget = 2000L)
        .select(col("doc_id"), col("source"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

  )

  def oracles: Map[String, String] = Map(
    "q_sft_assemble" -> sftAssembleOracleSql,

    "q_sft_pack" -> sftPackOracleSql,

    "q_sft_pack_tokens" -> sftPackTokensOracleSql,

    "q_sft_pipeline" -> sftPipelineOracleSql,

    "q_sft_bon" -> sftBonOracleSql,

    "q_sft_dedup" -> sftDedupOracleSql,

    "q_pref_pairs" -> prefPairsOracleSql,

    "q_sft_decontam" -> sftDecontamOracleSql,

    "q_sft_dedup_fuzzy" -> sftDedupFuzzyOracleSql,

    "q_interleaved_docs" -> interleavedDocsOracleSql,

    "q_interleaved_pack" -> interleavedPackOracleSql,

    "q_pack_ffd" -> packFfdOracleSql,

    "q_pack_ffd_stats" -> packFfdStatsOracleSql,

    "q_interleaved_pack_tokens" -> interleavedPackTokensOracleSql,

    "q_sft_assemble_tokens" -> sftAssembleTokensOracleSql,


    // Rank-weighted mix oracle: source-level edges from the outlink
    // synthesis, the 3-iteration BIGINT PageRank recursion (the
    // q_pagerank chain over the source graph), isqrt(rank) weights via
    // the float-seeded integer-corrected ladder, floor-div budgets, and
    // the Knuth-hash running take — every stage replayed from scratch.
    "q_mix_ranked" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |sid AS (SELECT doc_id,
        |  CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) AS sn
        |  FROM documents),
        |e AS (
        |  SELECT DISTINCT a.sn AS src, b.sn AS dst
        |  FROM documents d
        |  CROSS JOIN nn
        |  CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) js
        |  JOIN sid a ON a.doc_id = d.doc_id
        |  JOIN sid b ON b.doc_id = (d.doc_id * 7 + js.j * 11) % nn.n
        |  WHERE a.sn <> b.sn),
        |deg AS (SELECT src, count(*) AS outd FROM e GROUP BY src),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM n),
        |c1 AS (SELECT e.dst, SUM(r0.pr // d.outd) AS s FROM e JOIN deg d ON e.src = d.src JOIN r0 ON e.src = r0.node GROUP BY e.dst),
        |r1 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS pr FROM n LEFT JOIN c1 ON n.node = c1.dst),
        |c2 AS (SELECT e.dst, SUM(r1.pr // d.outd) AS s FROM e JOIN deg d ON e.src = d.src JOIN r1 ON e.src = r1.node GROUP BY e.dst),
        |r2 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS pr FROM n LEFT JOIN c2 ON n.node = c2.dst),
        |c3 AS (SELECT e.dst, SUM(r2.pr // d.outd) AS s FROM e JOIN deg d ON e.src = d.src JOIN r2 ON e.src = r2.node GROUP BY e.dst),
        |r3 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c3.s, 0)) // 100 AS BIGINT) AS pr FROM n LEFT JOIN c3 ON n.node = c3.dst),
        |wts AS (
        |  SELECT 'src' || CAST(node AS VARCHAR) AS source,
        |    list_max([s for s in
        |      [CAST(floor(sqrt(CAST(pr AS DOUBLE))) AS BIGINT) + d for d in range(-4, 5)]
        |      if s >= 0 AND s*s <= pr]) AS w
        |  FROM r3),
        |bud AS (
        |  SELECT source,
        |    CAST(15000 * w // (SELECT sum(w) FROM wts) AS BIGINT) AS src_budget
        |  FROM wts),
        |toks AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, source, n_tok,
        |    sum(n_tok) OVER (PARTITION BY source ORDER BY sk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |  FROM (
        |    SELECT doc_id, source, n_tok,
        |      ((doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |       + (doc_id % 65536) * 2654435761) % 4294967296 AS sk
        |    FROM toks) k)
        |SELECT r.doc_id, r.source, r.n_tok, b.src_budget,
        |  CAST(r.running AS BIGINT) AS running
        |FROM ranked r JOIN bud b USING (source)
        |WHERE r.running <= b.src_budget
        |ORDER BY r.doc_id""".stripMargin,


    // Upsampling: same split-16 Knuth slot as the stratified sample; copy
    // counts in exact integers, copies via range unnest.
    "q_sample_epochs" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    ((doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |     + (doc_id % 65536) * 2654435761) % 4294967296 % 1000 AS slot,
        |    CASE source WHEN 'src0' THEN 2300 WHEN 'src1' THEN 500
        |                WHEN 'src2' THEN 1000 ELSE 0 END AS pm
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, source,
        |    pm // 1000 + CASE WHEN slot < pm % 1000 THEN 1 ELSE 0 END AS n
        |  FROM d)
        |SELECT doc_id, source, CAST(e.epoch AS BIGINT) AS epoch
        |FROM n, LATERAL (SELECT unnest(range(0, n)) AS epoch) e
        |ORDER BY doc_id, epoch""".stripMargin,


    "q_corpus_pipeline" ->
      """WITH RECURSIVE
        |stats AS (SELECT doc_id, text,
        |  CASE WHEN trim(text) = '' OR text IS NULL THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS BIGINT) AS n_tok
        |  FROM documents),
        |quality AS (SELECT * FROM stats WHERE n_tokens >= 30 AND n_punct >= 0),
        |keyed AS (SELECT *, array_to_string(list_slice(regexp_split_to_array(trim(lower(text)), '\s+'), 1, 5), ' ') AS key5 FROM quality),
        |exact AS (SELECT * FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY key5 ORDER BY doc_id) AS rn FROM keyed) k
        |  WHERE rn = 1),
        |toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM exact),
        |sh AS (
        |  SELECT DISTINCT doc_id, list_extract(tk, i) || ' ' || list_extract(tk, i+1) || ' ' || list_extract(tk, i+2) AS s
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk)-1)) AS i) r
        |  WHERE len(tk) >= 3
        |  UNION
        |  SELECT DISTINCT doc_id, array_to_string(tk, ' ') AS s FROM toks WHERE len(tk) < 3
        |),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT x.doc_id AS idA, y.doc_id AS idB, count(*) AS c
        |  FROM sh x JOIN sh y USING (s) WHERE x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT idA, idB FROM common
        |  JOIN sizes na ON na.doc_id = idA
        |  JOIN sizes nb ON nb.doc_id = idB
        |  WHERE CAST(c AS DOUBLE) / (na.n_sh + nb.n_sh - c) >= 0.2),
        |edges AS (SELECT idA AS src, idB AS dst FROM pairs UNION ALL SELECT idB AS src, idA AS dst FROM pairs),
        |cc(id, label) AS (
        |  SELECT doc_id, doc_id FROM exact
        |  UNION
        |  SELECT e.dst, cc.label FROM edges e JOIN cc ON cc.id = e.src
        |),
        |surv AS (
        |  SELECT x.doc_id, x.n_tok FROM exact x
        |  JOIN (SELECT id, MIN(label) AS lab FROM cc GROUP BY id) m
        |    ON m.id = x.doc_id AND m.lab = x.doc_id),
        |cum AS (SELECT doc_id, n_tok,
        |  SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM surv)
        |SELECT doc_id, n_tok FROM cum WHERE cum <= 10000 ORDER BY doc_id""".stripMargin,


    // v2 ladder oracle: the v1 chain's CTEs with the substring-removal
    // block (gram-level canonical election, k=4) spliced between exact
    // dedup and shingling, token counts recomputed from clean_text, and a
    // second recursive-CC block for the semantic stage (double-precision
    // sequential list math, same contract as q_dedup_embedding_exact).
    // Docs without an embedding survive semantics as singletons because
    // scc seeds from ALL fuzzy survivors while edges exist only among
    // embedded docs — the same pass-through the Spark side's left join
    // implements.
    "q_corpus_pipeline_v2" ->
      (corpusLadderCtes +
        "\nSELECT doc_id, n_tok, n_removed FROM cum WHERE cum <= 10000 ORDER BY doc_id"),


    // Ladder CTEs + seeded double-Knuth split (q_corpus_split idiom) +
    // the q_pack_sequences prefix-sum over the TRAIN slice only + the
    // q_corpus_shuffle shard hash — every stage the Spark side composes,
    // re-derived in one SQL chain.
    "q_train_pipeline" ->
      (corpusLadderCtes + """,
        |curated AS (SELECT doc_id, n_tok FROM cum WHERE cum <= 10000),
        |sp1 AS (
        |  SELECT doc_id, n_tok,
        |    ((doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |     + (doc_id % 65536) * 2654435761) % 4294967296 AS s1
        |  FROM curated),
        |sp2 AS (
        |  SELECT doc_id, n_tok, s1,
        |    (((s1 + 42) % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |     + ((s1 + 42) % 65536) * 2654435761) % 4294967296 AS sk
        |  FROM sp1),
        |spl AS (
        |  SELECT doc_id, n_tok, s1,
        |    CAST(CASE WHEN sk % 1000 < 800 THEN 0 WHEN sk % 1000 < 900 THEN 1 ELSE 2 END AS BIGINT) AS split
        |  FROM sp2),
        |pcum AS (
        |  SELECT doc_id, n_tok, s1,
        |    SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc
        |  FROM spl WHERE split = 0),
        |packed AS (
        |  SELECT doc_id,
        |    CAST((pc - n_tok) // 512 AS BIGINT) AS seq_id,
        |    (n_tok > 0 AND (pc - 1) // 512 <> (pc - n_tok) // 512) AS is_split,
        |    (((s1 + 43) % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |     + ((s1 + 43) % 65536) * 2654435761) % 4294967296 AS shk
        |  FROM pcum),
        |sharded AS (
        |  SELECT doc_id, seq_id, is_split, shk % 8 AS shard,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY shk % 8 ORDER BY shk, doc_id) - 1 AS BIGINT) AS pos
        |  FROM packed)
        |SELECT s.doc_id, s.n_tok, s.split, p.seq_id, p.is_split, p.shard, p.pos
        |FROM spl s LEFT JOIN sharded p ON s.doc_id = p.doc_id
        |ORDER BY s.doc_id""".stripMargin),


    // The oracle computes the same running total with a plain global window
    // — DuckDB doesn't mind the single-stream scan the Spark side avoids.
    "q_token_budget" ->
      """SELECT doc_id, n_tok FROM (
        |  SELECT doc_id, n_tok,
        |    SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS BIGINT) AS n_tok FROM documents)
        |) t WHERE cum <= 15000 ORDER BY doc_id""".stripMargin,


    // DSIR weights: hashed feature buckets via the md5-prefix hash both
    // engines compute identically; each smoothed ln rounded to 6dp and
    // the bucket difference + per-doc sum carried in exact DECIMAL; the
    // one final CAST to DOUBLE maps the same exact decimal to the same
    // double on both engines.
    "q_dsir_weights" -> dsirWeightsOracleSql,


    // DSIR top-k: identical derivation, cut under the total order.
    "q_dsir_select" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                t -> t <> '') AS tk
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, lang, t.f AS feat FROM toks, UNNEST(tk) AS t(f)
        |  UNION ALL
        |  SELECT doc_id, lang, list_extract(tk, i) || ' ' || list_extract(tk, i + 1) AS feat
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk))) AS i) r
        |  WHERE len(tk) >= 2),
        |fb AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(feat), 1, 8)) AS BIGINT) % 4096 AS bucket
        |  FROM feats),
        |ct AS (SELECT bucket, COUNT(*) AS ct FROM fb WHERE lang = 'en' GROUP BY 1),
        |cr AS (SELECT bucket, COUNT(*) AS cr FROM fb WHERE lang <> 'en' GROUP BY 1),
        |nt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS nt FROM ct),
        |nr AS (SELECT CAST(COALESCE(SUM(cr), 0) AS BIGINT) AS nr FROM cr),
        |lr AS (
        |  SELECT cr.bucket,
        |    CAST(ROUND(LN((CAST(COALESCE(ct.ct, 0) AS DOUBLE) + 1)
        |                  / (CAST(nt.nt AS DOUBLE) + 4096)), 6) AS DECIMAL(18,6))
        |    - CAST(ROUND(LN((CAST(cr.cr AS DOUBLE) + 1)
        |                  / (CAST(nr.nr AS DOUBLE) + 4096)), 6) AS DECIMAL(18,6)) AS lr
        |  FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN nt CROSS JOIN nr),
        |pd AS (
        |  SELECT fb.doc_id, COUNT(*) AS n_feat, SUM(lr.lr) AS slw
        |  FROM fb JOIN lr USING (bucket) WHERE fb.lang <> 'en' GROUP BY 1)
        |SELECT doc_id, n_feat, CAST(slw AS DOUBLE) AS logw
        |FROM pd
        |WHERE n_feat > 0
        |ORDER BY logw DESC, doc_id
        |LIMIT 100""".stripMargin,


    // Curriculum oracle: per-doc frozen-BPE fertility (the shared
    // bpeWordCountCtes fixpoint), the global rank over the composite
    // key, the (rank, N) phase arithmetic, and the within-phase Knuth
    // order.
    "q_curriculum" ->
      (s"""WITH RECURSIVE
        |mg(r, x, y) AS (SELECT * FROM (VALUES $frozenMergeValues) v(r, x, y)),
        |toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, list_extract(tk, i) AS word
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r),
        |dw AS (SELECT DISTINCT word FROM w),
        |""".stripMargin + bpeWordCountCtes + """,
        |cost AS (
        |  SELECT t.doc_id,
        |    CASE WHEN COALESCE(s.nw, 0) = 0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST((1000000 * s.nt) // s.nw AS BIGINT) END AS difficulty
        |  FROM toks t LEFT JOIN (
        |    SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS nw,
        |      CAST(SUM(ntk) AS BIGINT) AS nt
        |    FROM w JOIN wtok USING (word) GROUP BY w.doc_id) s USING (doc_id)),
        |ranked AS (
        |  SELECT doc_id, difficulty,
        |    CAST(row_number() OVER (ORDER BY difficulty * 10000000000 + doc_id) AS BIGINT) AS rk,
        |    (SELECT count(*) FROM cost) AS n
        |  FROM cost),
        |phased AS (
        |  SELECT doc_id, difficulty, CAST((rk - 1) * 4 // n AS BIGINT) AS phase,
        |    ((doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |     + (doc_id % 65536) * 2654435761) % 4294967296 AS sk
        |  FROM ranked)
        |SELECT doc_id, difficulty, phase,
        |  CAST(row_number() OVER (PARTITION BY phase ORDER BY sk, doc_id) - 1 AS BIGINT) AS pos
        |FROM phased ORDER BY doc_id""".stripMargin),


    // Temperature-mix oracle: per-doc frozen-BPE token counts (the
    // shared bpeWordCountCtes fixpoint), per-lang exact isqrt weights
    // (the BLEU oracle's seed-and-correct integer root), floor-division
    // budgets, and the Knuth-hash-order running-sum take replayed
    // verbatim.
    "q_mix_temperature" ->
      (s"""WITH RECURSIVE
        |mg(r, x, y) AS (SELECT * FROM (VALUES $frozenMergeValues) v(r, x, y)),
        |t0 AS (
        |  SELECT doc_id, lang, list_filter(
        |    string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, list_extract(tk, i) AS word
        |  FROM t0, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r),
        |dw AS (SELECT DISTINCT word FROM w),
        |""".stripMargin + bpeWordCountCtes + """,
        |toks AS (
        |  SELECT t0.doc_id, t0.lang, CAST(COALESCE(s.nt, 0) AS BIGINT) AS n_tok
        |  FROM t0 LEFT JOIN (
        |    SELECT w.doc_id, CAST(SUM(ntk) AS BIGINT) AS nt
        |    FROM w JOIN wtok USING (word) GROUP BY w.doc_id) s USING (doc_id)),
        |tot AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS t FROM toks GROUP BY lang),
        |wts AS (
        |  SELECT lang, t, list_max([s for s in
        |      [CAST(floor(sqrt(CAST(t AS DOUBLE))) AS BIGINT) + d for d in range(-4, 5)]
        |      if s >= 0 AND s*s <= t]) AS w
        |  FROM tot),
        |bud AS (
        |  SELECT lang,
        |    CAST(15000 * w // (SELECT sum(w) FROM wts) AS BIGINT) AS lang_budget
        |  FROM wts),
        |ranked AS (
        |  SELECT doc_id, lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY sk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |  FROM (
        |    SELECT doc_id, lang, n_tok,
        |      ((doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |       + (doc_id % 65536) * 2654435761) % 4294967296 AS sk
        |    FROM toks) k)
        |SELECT r.doc_id, r.lang, r.n_tok, b.lang_budget,
        |  CAST(r.running AS BIGINT) AS running
        |FROM ranked r JOIN bud b USING (lang)
        |WHERE r.running <= b.lang_budget
        |ORDER BY r.doc_id""".stripMargin),


    "q_sample_per_group" ->
      """WITH h AS (SELECT doc_id, source,
        |    ((doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |     + (doc_id % 65536) * 2654435761) % 4294967296 AS slot
        |  FROM documents)
        |SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY slot, doc_id) AS rn
        |  FROM h) t
        |WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin,


    // Split leakage: the q_winnow_overlap pair chain joined with the
    // q_corpus_split assignment chain, cross-split pairs only.
    "q_split_leakage" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |              FROM documents),
        |kg AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |         list_extract(tk,i)||' '||list_extract(tk,i+1)||' '||
        |         list_extract(tk,i+2)||' '||list_extract(tk,i+3) AS g
        |       FROM toks, LATERAL (SELECT unnest(range(1, len(tk)-2)) AS i) r
        |       WHERE len(tk) >= 4),
        |h AS (SELECT doc_id, pos,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(split(g,''), c -> CAST(unicode(c) AS BIGINT))),
        |          (a, c) -> (a*31 + c) % 4294967296) AS fp_hash
        |      FROM kg),
        |w AS (SELECT doc_id, pos, fp_hash,
        |        min(fp_hash) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |        count(*) OVER (PARTITION BY doc_id) AS m
        |      FROM h),
        |sel AS (SELECT w.doc_id, max(h2.pos) AS pos, w.wmin AS fp_hash
        |        FROM w JOIN h h2 ON h2.doc_id = w.doc_id
        |          AND h2.pos BETWEEN w.pos AND w.pos + 3 AND h2.fp_hash = w.wmin
        |        WHERE w.pos <= greatest(w.m - 4, 0)
        |        GROUP BY w.doc_id, w.pos, w.wmin),
        |fp AS (SELECT DISTINCT doc_id, fp_hash FROM sel),
        |freq AS (SELECT fp_hash, count(*) AS df FROM fp GROUP BY 1),
        |keep AS (SELECT doc_id, fp_hash FROM fp JOIN freq USING (fp_hash)
        |         WHERE df <= 50),
        |sz AS (SELECT doc_id, count(*) AS nfp FROM keep GROUP BY 1),
        |p AS (SELECT a.doc_id AS idA, b.doc_id AS idB, count(*) AS shared
        |      FROM keep a JOIN keep b
        |        ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |pr AS (SELECT idA, idB, shared,
        |         ROUND(CAST(shared AS DOUBLE) / least(sa.nfp, sb.nfp), 6) AS containment
        |       FROM p JOIN sz sa ON sa.doc_id = idA JOIN sz sb ON sb.doc_id = idB),
        |k1 AS (SELECT doc_id,
        |         ((doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |          + (doc_id % 65536) * 2654435761) % 4294967296 AS s1
        |       FROM documents),
        |sp AS (SELECT doc_id,
        |         CAST(CASE WHEN slot < 800 THEN 0 WHEN slot < 900 THEN 1 ELSE 2 END AS BIGINT) AS split
        |       FROM (SELECT doc_id,
        |               (((s1 + 42) % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |                + ((s1 + 42) % 65536) * 2654435761) % 4294967296 % 1000 AS slot
        |             FROM k1))
        |SELECT pr.idA, pr.idB, spa.split AS splitA, spb.split AS splitB,
        |  pr.shared, pr.containment
        |FROM pr JOIN sp spa ON spa.doc_id = pr.idA
        |        JOIN sp spb ON spb.doc_id = pr.idB
        |WHERE spa.split <> spb.split
        |ORDER BY idA, idB""".stripMargin,


    "q_sample_stratified" ->
      """SELECT doc_id, stratum, slot FROM (
        |  SELECT doc_id,
        |    CASE WHEN length(text) < 300 THEN 'short'
        |         WHEN length(text) < 600 THEN 'mid' ELSE 'long' END AS stratum,
        |    ((doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |     + (doc_id % 65536) * 2654435761) % 4294967296 % 1000 AS slot
        |  FROM documents) t
        |WHERE slot < CASE stratum WHEN 'short' THEN 100 WHEN 'mid' THEN 500 ELSE 1000 END
        |ORDER BY doc_id""".stripMargin,


    // Double Knuth application with the seed folded in between; every
    // intermediate stays under 2^48 (the split-16 idiom), so JVM and ANSI
    // integer semantics agree at any doc_id.
    "q_corpus_shuffle" ->
      """WITH k1 AS (
        |  SELECT doc_id,
        |    ((doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |     + (doc_id % 65536) * 2654435761) % 4294967296 AS s1
        |  FROM documents),
        |k2 AS (
        |  SELECT doc_id,
        |    (((s1 + 42) % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |     + ((s1 + 42) % 65536) * 2654435761) % 4294967296 AS sk
        |  FROM k1)
        |SELECT doc_id, sk % 8 AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY sk % 8 ORDER BY sk, doc_id) - 1 AS BIGINT) AS pos
        |FROM k2 ORDER BY shard, pos""".stripMargin,


    "q_corpus_split" ->
      """WITH k1 AS (
        |  SELECT doc_id,
        |    ((doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |     + (doc_id % 65536) * 2654435761) % 4294967296 AS s1
        |  FROM documents),
        |k2 AS (
        |  SELECT doc_id,
        |    (((s1 + 42) % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |     + ((s1 + 42) % 65536) * 2654435761) % 4294967296 % 1000 AS slot
        |  FROM k1)
        |SELECT doc_id,
        |  CAST(CASE WHEN slot < 800 THEN 0 WHEN slot < 900 THEN 1 ELSE 2 END AS BIGINT) AS split
        |FROM k2 ORDER BY doc_id""".stripMargin,


    // Weighted priority sample: same split-16 double-Knuth slot as
    // q_corpus_split (seed 7, no per-mille reduction), priority
    // w*2^32/(slot+1) as the identical two IEEE-double ops.
    "q_sample_weighted" ->
      """WITH k1 AS (
        |  SELECT doc_id, n_chars,
        |    ((doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |     + (doc_id % 65536) * 2654435761) % 4294967296 AS s1
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0),
        |k2 AS (
        |  SELECT doc_id, n_chars,
        |    (((s1 + 7) % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |     + ((s1 + 7) % 65536) * 2654435761) % 4294967296 AS slot
        |  FROM k1),
        |sel AS (
        |  SELECT doc_id, n_chars FROM k2
        |  ORDER BY CAST(n_chars AS DOUBLE) * 4294967296 / (slot + 1) DESC, doc_id
        |  LIMIT 500)
        |SELECT doc_id, n_chars FROM sel ORDER BY doc_id""".stripMargin,


    // Temporal split: same CASE ladder over epoch micros, same fixed
    // cutoff + 1-day embargo.
    "q_temporal_split" ->
      """SELECT event_id, user_id, epoch_us(ts) AS us,
        |  CASE WHEN epoch_us(ts) <= 1705276800000000 THEN 'train'
        |       WHEN epoch_us(ts) > 1705276800000000 + 86400000000 THEN 'test'
        |       ELSE 'embargo' END AS split
        |FROM events ORDER BY event_id""".stripMargin,


    // Equi-depth boundaries via quantile_cont (strict-less assignment keeps
    // boundary docs in the lower bucket, same as the Spark side), then the
    // same rank-chop-max-waste window arithmetic.
    "q_length_batches" ->
      """WITH b AS (SELECT quantile_cont(n_chars, [0.125,0.25,0.375,0.5,0.625,0.75,0.875]) AS bounds FROM documents),
        |bk AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(list_filter(b.bounds, x -> x < CAST(n_chars AS DOUBLE))) AS BIGINT) AS bucket
        |  FROM documents, b),
        |rk AS (
        |  SELECT doc_id, n_chars, bucket,
        |    CAST((ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY n_chars, doc_id) - 1) // 32 AS BIGINT) AS batch
        |  FROM bk)
        |SELECT doc_id, n_chars, bucket, batch,
        |  MAX(n_chars) OVER (PARTITION BY bucket, batch) AS batch_max,
        |  CAST(MAX(n_chars) OVER (PARTITION BY bucket, batch) - n_chars AS BIGINT) AS waste
        |FROM rk ORDER BY bucket, batch, n_chars, doc_id""".stripMargin,


    // Same 5-gram shingling scheme as the Spark side (docs shorter than 5
    // tokens collapse to one whole-text shingle); eval slice = doc_id % 97.
    "q_decontaminate" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    list_extract(tk, i) || ' ' || list_extract(tk, i+1) || ' ' || list_extract(tk, i+2)
        |      || ' ' || list_extract(tk, i+3) || ' ' || list_extract(tk, i+4) AS s
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk)-3)) AS i) r
        |  WHERE len(tk) >= 5
        |  UNION
        |  SELECT DISTINCT doc_id, array_to_string(tk, ' ') AS s FROM toks WHERE len(tk) < 5
        |),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM sh c JOIN ev USING (s)
        |WHERE c.doc_id % 97 <> 0
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,


    // Exclusive-cumsum packing; integer // is floor for the non-negative
    // token counts. Same BPE-ish token regex as q_token_budget.
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS BIGINT) AS n_tok FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |        SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM t)
        |SELECT doc_id, n_tok,
        |  CAST((cum - n_tok) // 2048 AS BIGINT) AS seq_id,
        |  (n_tok > 0 AND (cum - 1) // 2048 <> (cum - n_tok) // 2048) AS is_split
        |FROM c ORDER BY doc_id""".stripMargin,


    // Shares/budget/threshold math mirrors Sampling.mixByTokenBudget in the
    // same IEEE double operation order (share·B, /T, min 1, ·2^32, floor);
    // shares CAST to DOUBLE so DuckDB doesn't fall into DECIMAL arithmetic.
    "q_corpus_mix" ->
      """WITH t AS (SELECT doc_id, source,
        |             CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS BIGINT) AS n_tok
        |           FROM documents),
        |th AS (SELECT source,
        |         CAST(FLOOR(LEAST(CAST(1.0 AS DOUBLE),
        |           CAST(CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
        |                WHEN 'src2' THEN 0.125 ELSE 0.0 END AS DOUBLE)
        |           * 2000 / SUM(n_tok)) * 4294967296.0) AS BIGINT) AS thresh
        |       FROM t GROUP BY source)
        |SELECT doc_id, source, n_tok
        |FROM t JOIN th USING (source)
        |WHERE ((doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |       + (doc_id % 65536) * 2654435761) % 4294967296 < thresh
        |ORDER BY doc_id""".stripMargin,

  )
}
