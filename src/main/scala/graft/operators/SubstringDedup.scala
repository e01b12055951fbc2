package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact repeated-substring detection across a corpus — the dedup mode of
  * Lee et al., "Deduplicating Training Data Makes Language Models Better"
  * (ACL'22): find the regions built from >= k-token windows that occur
  * more than once ANYWHERE in the corpus (other docs or the same doc), at
  * arbitrary boundaries. Winnowing finds document/passage pairs and chunk
  * dedup finds exact chunk collisions; neither sees a repeated span that
  * straddles chunk boundaries or is shorter than a passage.
  *
  * Lee et al. build a suffix array — inherently sequential over a single
  * in-memory corpus. The distributed equivalent here works at ANCHOR
  * granularity: every k-token "anchor gram" (position i covers tokens
  * [i, i+k-1]) is emitted once, grouped corpus-wide, and kept iff it
  * occurs at least twice. What the construction proves is
  * per-WINDOW: each surviving anchor's k tokens occur elsewhere. A run of
  * consecutive surviving anchors therefore delimits a maximal region of
  * repeated COVERAGE — every k-window inside it repeats somewhere — but
  * the region's union text need not itself occur twice, because different
  * windows may have different witnesses. [[repeatedSpans]] reports those
  * maximal coverage regions; [[removeRepeatedSpans]] removes at exactly
  * the granularity the proof supports (per-gram canonical election),
  * never at merged-span-text granularity, which mixed witnesses would
  * break. No pairwise doc comparison ever happens.
  *
  * Scale shape: the gram explode is k× the token count but flows straight
  * into a map-side-combined groupBy whose key space shrinks to the
  * distinct-gram count; the merges are one window over (doc, pos) — one
  * shuffle keyed by doc_id, bounded per-doc state. At 100 TB the gram
  * STRING is the shuffle cost — [[repeatedSpans]]' `hashKeys = true`
  * swaps it for two independent xxhash64 salts (128 collision bits: a false merge needs a
  * simultaneous collision in both, ~2^-128 per gram pair) and shuffles 16
  * bytes per anchor regardless of k. The string form is the exact-oracle
  * contract the driver hashes; the spec asserts the two paths agree on
  * real data.
  */
object SubstringDedup {

  /** Tokenization shared with the rest of the engine — the one
    * empty-filtered definition in [[Dedup.cleanTokens]]. */
  private def tokens(text: Column) = Dedup.cleanTokens(text)

  /** One row per k-gram start position: (doc_id, pos, __g1, __g2). The
    * occurrence-count key is the gram text itself (exact, what the oracle
    * re-derives) or its 128-bit double-hash (the at-scale shuffle). */
  private def anchors(df: DataFrame, idCol: String, textCol: String,
                      k: Int, hashKeys: Boolean): DataFrame = {
    val grams = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("__tk")) - k),
          i => array_join(slice(col("__tk"), i + 1, lit(k)), " ")))
          .as(Seq("pos", "gram")))
    // __g2 must NOT be xxhash64(gram, salt): Spark chains multi-child
    // xxhash64 left-to-right with the running hash as the next seed, so
    // xxhash64(gram, lit(1)) = XXH64(1, XXH64(gram, 42)) — a pure
    // function of __g1, leaving only 64 independent collision bits.
    // Hashing (salt, gram) instead makes the salt the SEED of the gram
    // hash (XXH64(gram, XXH64(1, 42))), giving two independent 64-bit
    // views of the gram bytes — the 128 bits the contract documents.
    if (hashKeys)
      grams.select(col("doc_id"), col("pos"),
        xxhash64(col("gram")).as("__g1"),
        xxhash64(lit(1), col("gram")).as("__g2"))
    else
      grams.select(col("doc_id"), col("pos"),
        col("gram").as("__g1"), lit(0L).as("__g2"))
  }

  /** Composite (doc, pos) key — guarded like [[Dedup.chunkDups]]: the
    * guard lives inside the used expression so it cannot be pruned. */
  private def composite: Column = when(
    col("pos") < 1048576 && col("doc_id").between(0L, (1L << 43) - 1),
    col("doc_id") * 1048576L + col("pos"))
    .otherwise(raise_error(lit(
      s"SubstringDedup: pos >= 2^20 or doc_id outside [0, 2^43)")))

  /** Maximal repeated-COVERAGE spans per document:
    * (doc_id, start_tok, end_tok, span_tokens), token offsets 0-based
    * inclusive. Contract: every k-token window inside an emitted span
    * occurs at least twice somewhere in the corpus (possibly
    * elsewhere in the same doc), and the span is a maximal consecutive
    * run of such windows. The union text of a span longer than k tokens
    * may itself be unique — witnesses can differ window to window. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    k: Int, hashKeys: Boolean = false): DataFrame = {
    require(k >= 2, s"anchor gram needs k >= 2 tokens, got $k")
    val keyed = anchors(df, idCol, textCol, k, hashKeys)
    val repeated = keyed
      .groupBy(col("__g1"), col("__g2"))
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= 2)
      .select(col("__g1"), col("__g2"))
    // island merge: only CONSECUTIVE surviving anchors extend one span
    // (see object scaladoc — a gap breaks the coverage proof)
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    keyed.join(repeated, Seq("__g1", "__g2"))
      .select(col("doc_id"), col("pos"))
      .withColumn("__prev", lag(col("pos"), 1).over(wOrd))
      .withColumn("__new",
        when(col("__prev").isNull || col("pos") > col("__prev") + 1, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(wOrd))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("pos")).cast("long").as("start_tok"),
        (max(col("pos")) + k - 1).cast("long").as("end_tok"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("span_tokens"))
  }

  /** The removal half of Lee et al.: canonical election at ANCHOR-GRAM
    * granularity — each repeated k-gram keeps its corpus-wide
    * (doc·2^20+pos)-minimal occurrence — and a token position is dropped
    * iff it is covered by at least one redundant (non-canonical) window
    * and by NO canonical window. Guarantees: every repeated k-gram
    * retains one intact occurrence (its canonical window's positions are
    * never dropped), and a position only drops because some duplicated
    * window covering it survives elsewhere. Election is deliberately NOT
    * by merged-span text: a merged anchor run can have MIXED witnesses
    * (each window repeats somewhere, the union text nowhere), which
    * would make text-level grouping elect unique "spans" as their own
    * canonicals and leave genuine duplicates in place.
    *
    * Output: (doc_id, clean_text, n_removed) for EVERY input doc —
    * untouched docs pass through with n_removed = 0; n_removed counts
    * DISTINCT dropped positions (overlaps are not double-counted).
    *
    * Scale shape: adds one gram-keyed aggregate (canonical election,
    * map-side combined, key space = distinct grams) and one doc-keyed
    * window-list aggregation bounded by anchors-per-doc. The rewrite is
    * pure per-row HOFs over a bound kept-positions column — no extra
    * shuffle, stays in codegen. */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          k: Int): DataFrame = {
    require(k >= 2, s"anchor gram needs k >= 2 tokens, got $k")
    val toks = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__tk"))
    val keyed = anchors(df, idCol, textCol, k, hashKeys = false)
    val elected = keyed
      .groupBy(col("__g1"), col("__g2"))
      .agg(count(lit(1)).as("__occ"), min(composite).as("__ck"))
      .filter(col("__occ") >= 2)
      .select(col("__g1"), col("__g2"), col("__ck"))
    val win = keyed.join(elected, Seq("__g1", "__g2"))
      .withColumn("__is_canon", composite === col("__ck"))
      .groupBy(col("doc_id"))
      .agg(
        collect_list(when(col("__is_canon"),
          struct(col("pos").cast("long").as("s"),
            (col("pos") + k - 1).cast("long").as("e")))).as("__can"),
        collect_list(when(!col("__is_canon"),
          struct(col("pos").cast("long").as("s"),
            (col("pos") + k - 1).cast("long").as("e")))).as("__red"))
    toks.join(win, Seq("doc_id"), "left")
      .withColumn("__kept",
        when(col("__red").isNull || size(col("__red")) === 0,
          lit(null).cast("array<int>"))
          .otherwise(filter(sequence(lit(0), size(col("__tk")) - 1), p =>
            !(exists(col("__red"),
                w => p >= w.getField("s") && p <= w.getField("e")) &&
              !exists(col("__can"),
                w => p >= w.getField("s") && p <= w.getField("e"))))))
      .select(col("doc_id"),
        when(col("__kept").isNull, array_join(col("__tk"), " "))
          .otherwise(array_join(transform(col("__kept"),
            p => element_at(col("__tk"), (p + 1).cast("int"))), " "))
          .as("clean_text"),
        when(col("__kept").isNull, lit(0L))
          .otherwise((size(col("__tk")) - size(col("__kept"))).cast("long"))
          .as("n_removed"))
  }
}
