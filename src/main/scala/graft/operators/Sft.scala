package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SFT / conversation data preparation — the post-training corpus
  * family: instruction-tuning data arrives as flat (conversation, turn,
  * role, text) rows and must leave as rendered training documents with
  * per-span loss masks, deduplicated at the CONVERSATION level.
  * Beyond-reference extension (the reference pipeline ends at
  * pre-training-style curation); composes with the [[Dedup]] ladder.
  *
  * Everything is declarative Spark: assembly is ONE combining aggregate
  * on the conversation key (turns sort in-array by index — no window,
  * no second shuffle), template rendering and span arithmetic are
  * higher-order array functions over the assembled turns (per-row,
  * zero shuffle, codegen-friendly), and dedup keys are hashes so no
  * rendered text crosses an exchange. At 100 TB the shape holds: one
  * shuffle keyed on conversation_id, then per-row work.
  */
object Sft {

  /** The role whose turns carry the loss (`train`). */
  private val TrainRole = "assistant"

  /** The frozen chat template (ChatML-style, the de-facto public
    * format): `<|im_start|>ROLE\nTEXT<|im_end|>\n` per turn, turns
    * concatenated in index order. Frozen LITERALS — span offsets are
    * derived from these strings, and a drifting template silently
    * corrupts every stored loss mask. */
  val ImStart = "<|im_start|>"
  val ImEnd = "<|im_end|>\n"

  /** One turn rendered under the template. */
  def renderTurn(role: Column, text: Column): Column =
    concat(lit(ImStart), role, lit("\n"), text, lit(ImEnd))

  /** Assemble conversations from turn rows: one row per conversation
    * with `turns` (index-sorted structs), `rendered` (the full template
    * string), `n_turns`, and `spans` — per turn the char interval
    * [start_char, end_char) of its rendered form inside `rendered`,
    * the [content_start, content_end) sub-interval of the turn TEXT
    * alone (what a loss mask actually covers — template scaffolding is
    * never trained on), and `train` = role == `assistant`.
    *
    * Span starts are prefix sums of rendered-turn lengths, computed in
    * ONE O(n) [[PrefixSum.exclusiveArrayOffsets]] pass over `__lens`
    * (same as the unbounded-n siblings [[assembleTokenSpans]] and
    * [[Packing.packInterleavedCosted]]; until r19 this path kept an
    * O(turns²) per-row `aggregate(slice(...))` fold, acceptable for
    * short conversations but strictly dominated by the shared O(n)
    * helper). Turn indices must be unique per conversation (the sort
    * key). */
  def assemble(turns: DataFrame, convCol: String, idxCol: String,
               roleCol: String, textCol: String): DataFrame = {
    // a NULL role/text would both vanish from the concatenated render
    // (array_join skips nulls) AND null the length prefix sums — every
    // later span offset in the conversation would silently corrupt. A
    // null field reads as "" instead: the turn still renders (empty
    // content span) and every offset stays exact.
    val sortedTurns = array_sort(collect_list(struct(
      col(idxCol).cast("long").as("turn_idx"),
      coalesce(col(roleCol), lit("")).as("role"),
      coalesce(col(textCol), lit("")).as("text"))))
    val rend = (t: Column) =>
      renderTurn(t.getField("role"), t.getField("text"))
    turns.groupBy(col(convCol).as("conversation_id"))
      .agg(sortedTurns.as("turns"))
      .withColumn("__lens",
        transform(col("turns"), t => length(rend(t)).cast("long")))
      .withColumn("rendered",
        array_join(transform(col("turns"), rend), ""))
      .withColumn("n_turns", size(col("turns")).cast("long"))
      .withColumn("__offs", PrefixSum.exclusiveArrayOffsets(col("__lens")))
      .withColumn("spans", transform(col("turns"), (t, i) => {
        val start = get(col("__offs"), i)
        val end = start + get(col("__lens"), i)
        val cStart = start + lit(ImStart.length.toLong) +
          length(t.getField("role")).cast("long") + lit(1L)
        val cEnd = end - lit(ImEnd.length.toLong)
        struct(t.getField("turn_idx").as("turn_idx"),
          t.getField("role").as("role"),
          start.as("start_char"), end.as("end_char"),
          cStart.as("content_start"), cEnd.as("content_end"),
          (t.getField("role") === lit(TrainRole)).as("train"))
      }))
      .drop("__lens", "__offs")
  }

  /** ChatML token-accounting constants for [[assembleTokenSpans]]:
    * special tokens never merge with content (true of every real BPE —
    * specials are added AFTER training and bypass the merge table), so
    * a turn's token layout is
    * `[<|im_start|>][role]["\n"][content tokens…][<|im_end|>]["\n"]` —
    * 3 prefix + 2 suffix overhead tokens around the content span.
    * FROZEN like the char template: span offsets derive from these, and
    * a drifting constant corrupts every stored token mask. */
  val TurnPrefixTokens = 3L
  val TurnSuffixTokens = 2L
  val TurnOverheadTokens: Long = TurnPrefixTokens + TurnSuffixTokens

  /** Token-space assembly — [[assemble]]'s spans re-based from chars to
    * TOKENS under a frozen BPE merge table, the units a trainer's loss
    * mask actually uses: per turn the token interval
    * [start_tok, end_tok) of its rendered form and the
    * [content_start, content_end) sub-interval covering the turn TEXT's
    * BPE tokens alone (scaffolding tokens — the
    * [[TurnPrefixTokens]]/[[TurnSuffixTokens]] ChatML specials — are
    * never trained on). Same one-shuffle shape as [[assemble]]: token
    * counts are computed per TURN ROW before the conversation-keyed
    * aggregate, so only (idx, role, count) structs cross the exchange —
    * no text and no token streams. Output: (conversation_id, n_turns,
    * n_tokens, spans). */
  def assembleTokenSpans(turns: DataFrame, convCol: String, idxCol: String,
                         roleCol: String, textCol: String,
                         merges: Seq[(String, String)]): DataFrame = {
    // null text reads as "" (zero content tokens, overhead still counts)
    // for the same offset-integrity reason assemble() coalesces
    val nTok = BpeTokenizer.tokenCountColumn(merges,
      coalesce(col(textCol), lit(""))).cast("long")
    val turnRows = turns.select(col(convCol).as("conversation_id"),
      col(idxCol).cast("long").as("turn_idx"),
      coalesce(col(roleCol), lit("")).as("role"),
      nTok.as("n_tok"))
    val sortedTurns = array_sort(collect_list(struct(
      col("turn_idx"), col("role"), col("n_tok"))))
    turnRows.groupBy(col("conversation_id"))
      .agg(sortedTurns.as("turns"))
      .withColumn("__lens", transform(col("turns"),
        t => t.getField("n_tok") + lit(TurnOverheadTokens)))
      .withColumn("n_turns", size(col("turns")).cast("long"))
      .withColumn("n_tokens",
        aggregate(col("__lens"), lit(0L), (a, x) => a + x))
      // start offsets in ONE O(n) pass (PrefixSum.exclusiveArrayOffsets)
      // — not the O(n²) per-turn slice re-fold
      .withColumn("__offs", PrefixSum.exclusiveArrayOffsets(col("__lens")))
      .withColumn("spans", transform(col("turns"), (t, i) => {
        val start = get(col("__offs"), i)
        val end = start + get(col("__lens"), i)
        struct(t.getField("turn_idx").as("turn_idx"),
          t.getField("role").as("role"),
          start.as("start_tok"), end.as("end_tok"),
          (start + lit(TurnPrefixTokens)).as("content_start"),
          (end - lit(TurnSuffixTokens)).as("content_end"),
          (t.getField("role") === lit(TrainRole)).as("train"))
      }))
      .drop("__lens", "__offs")
  }

  /** Pack [[assembleTokenSpans]] output into fixed TOKEN-capacity
    * training sequences — [[packWithMasks]]'s arithmetic with token
    * counts driving capacity and offsets, so the emitted masks are in
    * the space a trainer consumes. Same scale shape: distributed prefix
    * sum on the (numeric) conversation key, per-row division, one
    * explode. */
  def packTokensWithMasks(assembled: DataFrame, capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val cum = PrefixSum.withPrefixSum(
      assembled.select(col("conversation_id"), col("n_tokens"), col("spans")),
      "conversation_id", "n_tokens", out = "__cum")
    cum.withColumn("__g0", col("__cum") - col("n_tokens"))
      .withColumn("seq_id", expr(s"__g0 div ${capacity}L"))
      .withColumn("is_split", col("n_tokens") > 0 &&
        expr(s"(__cum - 1) div ${capacity}L") =!= col("seq_id"))
      .select(col("conversation_id"), col("n_tokens"), col("seq_id"),
        col("is_split"), col("__g0"), explode(col("spans")).as("sp"))
      .select(col("conversation_id"), col("n_tokens"), col("seq_id"),
        col("is_split"),
        col("sp.turn_idx").as("turn_idx"), col("sp.role").as("role"),
        (col("__g0") + col("sp.start_tok")).as("g_start"),
        (col("__g0") + col("sp.end_tok")).as("g_end"),
        (col("__g0") + col("sp.content_start")).as("g_content_start"),
        (col("__g0") + col("sp.content_end")).as("g_content_end"),
        col("sp.train").as("train"))
  }

  /** Best-of-n / rejection-sampling prep — the n-way ranking export a
    * reward-model trainer consumes, widening [[preferencePairs]]' single
    * (max, min) pair: per prompt the top `k` SCORED candidates ranked by
    * (score, candidate_id) descending — rank 1 is exactly the
    * preferencePairs CHOSEN — each with its reward margins:
    * `margin_next` = score − the NEXT-ranked scored candidate's score
    * (emitted or not; NULL only for the prompt's last scored candidate)
    * and `margin_worst` = score − the prompt's min score. Contracts
    * carried over: unscored (null-score) candidates drop up front;
    * flat-spread prompts (max == min) emit NOTHING — a ranking with no
    * signal trains nothing. One rank window PARTITIONED BY the prompt
    * key (never a global window) sharing its shuffle with the per-prompt
    * min/count window aggregates. */
  def bestOfN(cands: DataFrame, promptCol: String, candIdCol: String,
              textCol: String, scoreCol: String, k: Int): DataFrame = {
    require(k >= 1, s"bestOfN: k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val byPrompt = Window.partitionBy(col(promptCol))
    val ranked = Window.partitionBy(col(promptCol))
      .orderBy(col(scoreCol).desc, col(candIdCol).desc)
    cands.filter(col(scoreCol).isNotNull)
      .withColumn("rank", row_number().over(ranked).cast("long"))
      .withColumn("__next", lead(col(scoreCol), 1).over(ranked))
      .withColumn("__min", min(col(scoreCol)).over(byPrompt))
      .withColumn("__max", max(col(scoreCol)).over(byPrompt))
      .withColumn("n_candidates", count(lit(1)).over(byPrompt))
      .filter(col("rank") <= k && col("__max") > col("__min"))
      .select(col(promptCol).as("prompt_id"), col("rank"),
        col(candIdCol).as("cand_id"), col(textCol).as("text"),
        col(scoreCol).as("score"),
        (col(scoreCol) - col("__next")).as("margin_next"),
        (col(scoreCol) - col("__min")).as("margin_worst"),
        col("n_candidates"))
  }

  /** Conversation-level EXACT dedup over any conversation-text column:
    * group on the 256-bit content hash (key-only shuffle — rendered
    * text never crosses an exchange, the lineDedup discipline), keep
    * the minimum id, count the copies. Output: (fp, conversation_id,
    * n_convs). */
  def dedupExact(convs: DataFrame, idCol: String,
                 textCol: String): DataFrame =
    convs.groupBy(sha2(col(textCol), 256).as("fp"))
      .agg(min(col(idCol)).as("conversation_id"),
        count(lit(1)).as("n_convs"))

  /** Pack [[assemble]]d conversations into fixed-capacity training
    * sequences and carry every loss-mask span through to its GLOBAL
    * position in the packed character stream — the step that makes the
    * spans trainer-consumable: after packing, a span's in-sequence
    * offset is `g_* - seq_id * capacity`, and a span crossing a
    * sequence boundary belongs to a split conversation (`is_split`).
    * Capacity counts CHARS of the rendered template (swap a fitted
    * tokenizer's count upstream for token-exact packing — the
    * arithmetic is identical). Distributed prefix sum, no global
    * window; one explode after the per-row math.
    *
    * `conversation_id` must be NUMERIC (the packing order runs through
    * [[PrefixSum.withPrefixSum]], whose range bucketing is
    * approxQuantile-based) — string ids (UUIDs) must be hashed or
    * zipped to a numeric key upstream; the prefix sum rejects them
    * loudly otherwise. */
  def packWithMasks(assembled: DataFrame, capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val withLen = assembled.select(col("conversation_id"),
      length(col("rendered")).cast("long").as("n_chars"), col("spans"))
    val cum = PrefixSum.withPrefixSum(withLen, "conversation_id",
      "n_chars", out = "__cum")
    cum.withColumn("__g0", col("__cum") - col("n_chars"))
      // `div` = long integer division, the packSequences discipline
      .withColumn("seq_id", expr(s"__g0 div ${capacity}L"))
      .withColumn("is_split", col("n_chars") > 0 &&
        expr(s"(__cum - 1) div ${capacity}L") =!= col("seq_id"))
      .select(col("conversation_id"), col("n_chars"), col("seq_id"),
        col("is_split"), col("__g0"), explode(col("spans")).as("sp"))
      .select(col("conversation_id"), col("n_chars"), col("seq_id"),
        col("is_split"),
        col("sp.turn_idx").as("turn_idx"), col("sp.role").as("role"),
        (col("__g0") + col("sp.start_char")).as("g_start"),
        (col("__g0") + col("sp.end_char")).as("g_end"),
        (col("__g0") + col("sp.content_start")).as("g_content_start"),
        (col("__g0") + col("sp.content_end")).as("g_content_end"),
        col("sp.train").as("train"))
  }

  /** Preference-pair assembly (DPO/RLHF prep): per prompt, CHOSEN is
    * the (score, candidate_id)-lexicographic max and REJECTED the min —
    * struct min/max in ONE combining aggregate on the prompt key, no
    * window, deterministic ties. Prompts without a strict score spread
    * (max score == min score) emit nothing: a pair with no preference
    * signal trains nothing, and emitting chosen == rejected would
    * poison a DPO loss silently. UNSCORED candidates (null score) are
    * dropped up front — a null would otherwise win min(struct) (nulls
    * sort first) and null the spread filter, silently discarding a
    * prompt whose scored candidates carry a perfectly good pair;
    * `n_candidates` therefore counts SCORED candidates. */
  def preferencePairs(cands: DataFrame, promptCol: String,
                      candIdCol: String, textCol: String,
                      scoreCol: String): DataFrame =
    cands.filter(col(scoreCol).isNotNull)
      .groupBy(col(promptCol).as("prompt_id"))
      .agg(
        max(struct(col(scoreCol).as("s"), col(candIdCol).as("i"),
          col(textCol).as("t"))).as("__c"),
        min(struct(col(scoreCol).as("s"), col(candIdCol).as("i"),
          col(textCol).as("t"))).as("__r"),
        count(lit(1)).as("n_candidates"))
      .filter(col("__c.s") > col("__r.s"))
      .select(col("prompt_id"), col("n_candidates"),
        col("__c.i").as("chosen_id"), col("__c.t").as("chosen_text"),
        col("__c.s").as("chosen_score"),
        col("__r.i").as("rejected_id"), col("__r.t").as("rejected_text"),
        col("__r.s").as("rejected_score"))

  /** Concatenated NORMALIZED turns — the conversation-level dedup key
    * the fuzzy ladder runs on: turn texts sorted by index, joined with
    * single spaces, lowercased (template scaffolding and role labels
    * deliberately excluded — two conversations with the same words are
    * duplicates no matter how they were rendered). Emits
    * (conversation_id, n_turns, conv_text); feed `conv_text` to
    * [[Dedup.minhashNearDupPairs]] / [[Dedup.ngramJaccardPairs]] for
    * the near-dup pass and to [[dedupExact]] for the exact one. */
  def normalizedConvText(turns: DataFrame, convCol: String,
                         idxCol: String, textCol: String): DataFrame =
    turns.groupBy(col(convCol).as("conversation_id"))
      .agg(count(lit(1)).as("n_turns"),
        lower(array_join(transform(
          array_sort(collect_list(struct(col(idxCol).as("i"),
            col(textCol).as("t")))),
          x => x.getField("t")), " ")).as("conv_text"))
}
