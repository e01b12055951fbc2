package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Training-prep capstone — the second half of the story the dedup-ladder
  * capstone ([[CorpusPipeline.curateV2]]) starts. A curated corpus is not
  * yet trainable data; this composes the remaining stages in production
  * order:
  *
  *   curateV2 (full dedup ladder, cleaned-text token counts)
  *     → lineage-stable train/val/test split
  *       ([[Sampling.trainValTestSplit]] — membership is a pure function
  *       of the id, so eval docs can never leak into train across reruns)
  *       → concat-and-split sequence packing of the TRAIN split only
  *         ([[Packing.packSequences]] — val/test are never packed into
  *         training sequences)
  *         → deterministic shard shuffle ([[Sampling.shuffleIntoShards]]
  *           — the reproducible file layout a training loader reads)
  *
  * What the composition verifies beyond the parts: curated ids drive the
  * split, the CLEANED token counts (not raw) feed the packer, only
  * split-0 docs receive sequence/shard assignments, and the whole chain
  * is engine-reproducible end to end (every stage is hash-oracleable).
  *
  * Output: one row per curated doc —
  * (doc_id, n_tok, split, seq_id, is_split, shard, pos) with the
  * packing/shard columns null for val/test docs. */
object TrainPipeline {

  /** An 800/100/100 per-mille split into 8 shards. The two seeds are
    * distinct: with one seed the shard hash IS the split hash, coupling
    * shard layout to split membership. */
  def prepare(docs: DataFrame, embeddings: DataFrame,
              cfg: CorpusPipeline.Config,
              capacity: Long): DataFrame = {
    val curated = CorpusPipeline.curateV2(docs, embeddings, cfg)
      .select(col("doc_id"), col("n_tok"))
    // consumed by the train branch AND the final join
    val split = Materialize(Sampling.trainValTestSplit(curated, "doc_id",
      Seq(800, 100, 100), seed = 42L))
    val train = split.filter(col("split") === 0)
      .select(col("doc_id"), col("n_tok"))
    val packed = Packing.packSequences(train, "doc_id", "n_tok", capacity)
    val sharded = Sampling.shuffleIntoShards(
      packed.select(col("doc_id"), col("seq_id"), col("is_split")),
      "doc_id", 8, seed = 43L)
    split.join(
        sharded.select(col("doc_id"), col("seq_id"), col("is_split"),
          col("shard"), col("pos")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"), col("split"),
        col("seq_id"), col("is_split"), col("shard"), col("pos"))
  }

  /** Curriculum ordering (easy→hard training schedule): documents ranked
    * by a difficulty score (canonically the unigram-LM cost — low
    * perplexity first), cut into `phases` equal slices, then shuffled
    * WITHIN each phase by the deterministic Knuth hash (so a phase is
    * internally order-free but phases train in difficulty order).
    *
    * Distributed by construction: the global difficulty rank is
    * [[PrefixSum.withPrefixSum]] counting 1s over the unique composite
    * key `difficulty·10¹⁰ + id` (NO single-partition global window — the
    * scale-killer PlanSpec pins against elsewhere), the phase is integer
    * arithmetic on (rank, N), and the within-phase position is a window
    * over `phases` partitions (compose with shard-keyed sub-windows when
    * one phase outgrows a task, the [[Sampling.shuffleIntoShards]]
    * pattern). Caller contract: `difficulty` and `id` are non-negative
    * longs with difficulty < 9.2·10⁸ and id < 10¹⁰, keeping the
    * composite key inside Long.
    *
    * Output: (idCol, difficulty, phase 0..phases−1, pos 0-based within
    * phase). */
  def curriculumOrder(df: DataFrame, idCol: String, difficulty: Column,
                      phases: Int): DataFrame = {
    require(phases >= 1, s"phases must be >= 1, got $phases")
    val keyed = df.select(col(idCol), difficulty.cast("long").as("difficulty"))
      .withColumn("__ck",
        col("difficulty") * lit(10000000000L) + col(idCol))
    val n = keyed.count()
    require(n > 0, "curriculumOrder: empty input")
    val ranked = PrefixSum.withPrefixSum(
      keyed.withColumn("__one", lit(1L)), "__ck", "__one",
      out = "__rank", buckets = 32)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("phase"))
      .orderBy(Sampling.knuthSlot32(col(idCol)).asc, col(idCol).asc)
    ranked
      .withColumn("phase", expr(s"((__rank - 1) * $phases) div ${n}L"))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .select(col(idCol), col("difficulty"), col("phase"), col("pos"))
  }
}
