package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing — lay documents end-to-end in a total order and cut the
  * token stream into fixed-capacity training sequences ("concat-and-split",
  * the packing scheme used by GPT/T5-style pre-training loaders). Beyond-
  * reference extension (SURVEY.md §7.1.9).
  *
  * Each document is assigned the sequence its FIRST token lands in
  * (`seq_id = exclusive-cumsum / capacity`) and flagged `is_split` when its
  * last token falls in a later sequence (the document straddles a cut).
  *
  * Scale design: the only global state is the exclusive prefix sum, which
  * comes from [[PrefixSum.withPrefixSum]] — range-bucketed, per-bucket
  * windows in parallel, driver traffic bounded by the bucket count. No
  * single-task global window anywhere (the naive
  * `sum().over(Window.orderBy(...))` would serialize 100 TB through one
  * task).
  */
object Packing {

  /** Per-document packing assignment: adds `seq_id` (0-based training
    * sequence index) and `is_split` to `df`. `tokenCol` must be
    * non-negative; `idCol` must be a unique total order. */
  def packSequences(df: DataFrame, idCol: String, tokenCol: String,
                    capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val cum = PrefixSum.withPrefixSum(df, idCol, tokenCol, out = "__cum")
    // `div` = integer division in long math: identical to the SQL oracle's
    // `//` at any scale (floor(double-div) can cross an integer boundary
    // once the cumsum exceeds ~2^52).
    cum
      .withColumn("__start", col("__cum") - col(tokenCol))
      .withColumn("seq_id", expr(s"__start div ${capacity}L"))
      // last-token index is __cum - 1; empty docs (0 tokens) never split
      .withColumn("is_split",
        col(tokenCol) > 0 &&
          expr(s"(__cum - 1) div ${capacity}L") =!= col("seq_id"))
      .drop("__cum", "__start")
  }

  /** Per-sequence fill report: how many documents and tokens landed in each
    * sequence (documents attributed to the sequence of their first token).
    * `waste` — capacity minus tokens started in the sequence — is the
    * padding a non-splitting loader would burn. */
  /** Length-bucketed dynamic batching — the padding-efficiency layout for
    * training/inference: batching similar-length documents together means
    * each batch pads to ITS OWN max, not the corpus max. Buckets are
    * equi-depth by token count (exact interpolated percentiles — the same
    * `percentile` whose DuckDB `quantile_cont` identity `q_agg_percentiles`
    * establishes, broadcast back as one tiny array); within a bucket, rows
    * rank by (tokens, id) and chop into `batchDocs`-sized batches, so the
    * per-batch max→waste arithmetic is a second pass over the same window
    * partition. Output per doc: bucket, batch, n_tok, batch_max, waste.
    *
    * Scale: bucket count is small by design, so the bucket-keyed windows
    * concentrate data — at corpus scale sub-salt each bucket and re-merge
    * ranks through broadcast offsets exactly as [[PrefixSum.withPrefixSum]]
    * does for its range buckets; the demo keeps the direct window form the
    * oracle can mirror. */
  def lengthBucketedBatches(df: DataFrame, idCol: String, tokenCol: String,
                            numBuckets: Int, batchDocs: Int): DataFrame = {
    require(numBuckets > 1 && batchDocs > 0)
    import org.apache.spark.sql.expressions.Window
    val probs = (1 until numBuckets).map(_.toDouble / numBuckets)
    val bounds = df.agg(percentile(col(tokenCol),
      typedlit(probs)).as("__bounds"))
    val bucketed = df.select(col(idCol), col(tokenCol))
      .crossJoin(broadcast(bounds))
      // strict less: a doc sitting exactly on a boundary stays in the
      // lower bucket — deterministic and identically expressible in SQL
      .withColumn("bucket",
        size(filter(col("__bounds"), b => b < col(tokenCol).cast("double")))
          .cast("long"))
      .drop("__bounds")
    val wRank = Window.partitionBy(col("bucket"))
      .orderBy(col(tokenCol), col(idCol))
    val wBatch = Window.partitionBy(col("bucket"), col("batch"))
    bucketed
      .withColumn("batch",
        ((row_number().over(wRank) - 1) / batchDocs).cast("long"))
      .withColumn("batch_max", max(col(tokenCol)).over(wBatch))
      .withColumn("waste", (col("batch_max") - col(tokenCol)).cast("long"))
  }

  /** Interleaved multimodal packing (the MMC4/OBELICS trainer shape):
    * position-keyed image/text items — [[graft.expr.HtmlOps.interleaved]]
    * output — pack into fixed-capacity sequences where each IMAGE
    * contributes a constant `imageBudget` of placeholder tokens (the
    * patch-embedding slots a vision encoder will fill) and each TEXT run
    * contributes its whitespace token count. Documents stay contiguous:
    * per document one combining aggregate collects the (pos, kind, cost)
    * items, in-array prefix sums place every item inside the document,
    * the distributed prefix sum places documents in the global stream,
    * and one explode emits per-item rows with GLOBAL token offsets —
    * `seq_id` = the sequence the document STARTS in, `is_split` = it
    * crosses a capacity cut (a non-splitting loader re-pads exactly
    * these). Same one-shuffle shape as SFT packing; `docCol` must be a
    * unique NUMERIC document key (the [[PrefixSum]] contract).
    *
    * Output: (doc_id, n_items, n_tokens, seq_id, is_split, pos, kind,
    * n_tok, g_start, g_end). */
  /** The default interleaved cost model: a constant `imageBudget` of
    * placeholder tokens per image (the patch-embedding slots a vision
    * encoder fills), whitespace token count per text run. */
  def interleavedCost(kindCol: String, textCol: String,
                      imageBudget: Long): Column = {
    require(imageBudget > 0, "imageBudget must be positive")
    when(col(kindCol) === "image", lit(imageBudget))
      .otherwise(size(filter(split(coalesce(col(textCol), lit("")), "\\s+"),
        t => t =!= "")).cast("long"))
  }

  def packInterleaved(items: DataFrame, docCol: String, posCol: String,
                      kindCol: String, textCol: String,
                      imageBudget: Long, capacity: Long): DataFrame =
    packInterleavedCosted(items.withColumn("__graft_cost",
        interleavedCost(kindCol, textCol, imageBudget)), docCol,
      posCol, kindCol, "__graft_cost", capacity)

  /** [[packInterleaved]] under a CALLER-SUPPLIED per-item cost column —
    * the token-exact shape: drive text costs with a real tokenizer's
    * counts (e.g. frozen-BPE via [[BpeTokenizer.tokenCountColumn]])
    * instead of whitespace counting, keeping the packing arithmetic
    * identical. A NULL cost reads as 0 (the [[PrefixSum]] null-as-zero
    * discipline) — one null from a join-derived cost would otherwise
    * poison every later offset in its document's prefix sums. */
  def packInterleavedCosted(items: DataFrame, docCol: String,
                            posCol: String, kindCol: String,
                            costCol: String, capacity: Long): DataFrame =
    placeInterleavedDocs(
      collectInterleavedDocs(items, docCol, posCol, kindCol, costCol),
      capacity)

  /** Stage 1 of [[packInterleavedCosted]] — the GROUP-LOCAL half: one
    * combining aggregate per document collecting its position-sorted
    * (pos, kind, cost) items plus the item/token totals. Split out so a
    * streaming ingest can run it per micro-batch (documents arriving
    * whole — the grouped-runner contract) and defer only the global
    * placement to [[placeInterleavedDocs]]. */
  def collectInterleavedDocs(items: DataFrame, docCol: String,
                             posCol: String, kindCol: String,
                             costCol: String): DataFrame = {
    val sorted = array_sort(collect_list(struct(
      col(posCol).cast("long").as("pos"), col(kindCol).as("kind"),
      coalesce(col(costCol).cast("long"), lit(0L)).as("cost"))))
    items.groupBy(col(docCol).as("doc_id"))
      .agg(sorted.as("its"))
      .withColumn("__lens", transform(col("its"), t => t.getField("cost")))
      .withColumn("n_items", size(col("its")).cast("long"))
      .withColumn("n_tokens",
        aggregate(col("__lens"), lit(0L), (a, x) => a + x))
  }

  /** Stage 2 of [[packInterleavedCosted]] — the GLOBAL half over
    * [[collectInterleavedDocs]] output: the distributed prefix sum
    * places documents in the token stream, per-row division assigns
    * sequences, one explode emits per-item rows with global offsets.
    * The only corpus-wide state is the prefix sum, which needs nothing
    * but (doc_id, n_tokens) — why the streaming twin can run stage 1 on
    * the stream and this as the bounded epilogue. */
  def placeInterleavedDocs(perDoc: DataFrame, capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val cum = PrefixSum.withPrefixSum(perDoc, "doc_id", "n_tokens",
      out = "__cum")
    // in-document offsets: ONE O(n) pass ([[PrefixSum
    // .exclusiveArrayOffsets]]), not an O(n²) per-item slice re-fold —
    // real interleaved web docs carry hundreds of items
    cum.withColumn("__g0", col("__cum") - col("n_tokens"))
      .withColumn("seq_id", expr(s"__g0 div ${capacity}L"))
      .withColumn("is_split", col("n_tokens") > 0 &&
        expr(s"(__cum - 1) div ${capacity}L") =!= col("seq_id"))
      .withColumn("__offs", PrefixSum.exclusiveArrayOffsets(col("__lens")))
      .withColumn("sp", explode(transform(col("its"), (t, i) => {
        val start = get(col("__offs"), i)
        struct(t.getField("pos").as("pos"), t.getField("kind").as("kind"),
          t.getField("cost").as("n_tok"), start.as("start"))
      })))
      .select(col("doc_id"), col("n_items"), col("n_tokens"), col("seq_id"),
        col("is_split"), col("sp.pos").as("pos"), col("sp.kind").as("kind"),
        col("sp.n_tok").as("n_tok"),
        (col("__g0") + col("sp.start")).as("g_start"),
        (col("__g0") + col("sp.start") + col("sp.n_tok")).as("g_end"))
  }

  /** First-fit-decreasing bin packing WITHOUT document truncation —
    * the "sample packing" loader shape (every training sequence holds
    * whole documents; the capacity is never crossed), complementing
    * concat-and-split [[packSequences]] (which splits straddlers).
    *
    * True FFD is inherently sequential, so the distributed contract is
    * EXPLICIT and deterministic: documents spread across `shards` by
    * the SQL-replayable Knuth hash of their (long) id, each shard runs
    * EXACT FFD over its own documents — sorted (tokens desc, id asc),
    * one fold per shard inside `mapPartitions` — and bins never span
    * shards. The classic FFD guarantees hold per shard (11/9·OPT+6/9
    * bins; at most one bin under half full). A document larger than
    * `capacity` takes a flagged singleton bin through the SAME code
    * path (no bin can ever fit it, so first-fit appends).
    *
    * Scale: shard count is the parallelism knob — per-shard work is a
    * single linear fold with an O(bins) first-fit scan, and the hash
    * spreads documents evenly, so choose shards so one shard's
    * documents fit one task comfortably. Output per document:
    * (doc_id, n_tok, shard, bin, fill_after, oversize) — bin ids are
    * shard-local. */
  def ffdPack(df: DataFrame, idCol: String, tokenCol: String,
              capacity: Long, shards: Int): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    require(shards > 0, "shards must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(col(idCol).cast("long").as("doc_id"),
        coalesce(col(tokenCol).cast("long"), lit(0L)).as("n_tok"),
        (Sampling.knuthSlot32(col(idCol).cast("long")) % shards)
          .as("shard"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("n_tok").desc, col("doc_id"))
      .as[(Long, Long, Long)]
    keyed.mapPartitions { it =>
      // per-shard fold: rows arrive shard-grouped and (n desc, id)
      // sorted; the fills buffer resets at each shard boundary
      var curShard = Long.MinValue
      var fills = scala.collection.mutable.ArrayBuffer.empty[Long]
      it.map { case (id, n, shard) =>
        if (shard != curShard) {
          curShard = shard
          fills = scala.collection.mutable.ArrayBuffer.empty[Long]
        }
        var b = 0
        while (b < fills.length && fills(b) + n > capacity) b += 1
        if (b == fills.length) fills += n else fills(b) += n
        (id, n, shard, b.toLong, fills(b), n > capacity)
      }
    }.toDF("doc_id", "n_tok", "shard", "bin", "fill_after", "oversize")
  }

  /** Per-bin manifest over [[ffdPack]] output — what a loader actually
    * reads: documents and tokens per (shard, bin) and the padding
    * (`waste`) each non-oversize bin burns. One combining aggregate on
    * the already-assigned keys. */
  def ffdStats(packed: DataFrame, capacity: Long): DataFrame =
    packed.groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"),
        max(col("oversize")).as("oversize"))
      .withColumn("waste", when(col("oversize"), lit(0L))
        .otherwise(lit(capacity) - col("n_tokens")))

  def packingStats(df: DataFrame, idCol: String, tokenCol: String,
                   capacity: Long): DataFrame =
    packSequences(df, idCol, tokenCol, capacity)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokenCol)).cast("long").as("n_tokens"),
        sum(when(col("is_split"), 1L).otherwise(0L)).cast("long").as("n_split"))
}
