package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize

/** End-to-end corpus curation — the composition the individual operators
  * exist for, as one lazy chain:
  *
  *   URL + content-hash dedup (when a URL column exists — the cheap
  *   web-corpus first pass, before anything touches text similarity)
  *     → quality filter (fused TextProfile scan)
  *       → exact dedup (first-5-words key, min-id survivor)
  *         → near-dup removal (exact n-gram Jaccard pairs → connected
  *           components → min-id survivor per cluster)
  *           → token-budget selection (distributed prefix sum)
  *
  * Every stage is itself oracled/spec'd; `q_corpus_pipeline` hash-matches
  * the whole composition against one assembled DuckDB query, so stage
  * ORDERING and interface semantics are verified too, not just the parts.
  * The URL stage is provably absorbed by the later exact dedup whenever
  * min-id survivors are used (a (url, md5(text)) group is a subset of the
  * identical-text set, which shares the first-5-words key — so the
  * key5-minimum doc is also the minimum of its URL group and survives both
  * stages); the capstone oracle therefore stays byte-identical with the
  * stage on, which `q_corpus_pipeline` verifies end to end. At 100 TB the
  * stage still pays for itself: it halves the corpus BEFORE the profile
  * scan and shingle explode instead of after.
  * Output: (doc_id, n_tok) of the curated set. */
object CorpusPipeline {

  /** Quality floor (whitespace tokens) and fuzzy-dedup shingle size of
    * every capstone. */
  private val MinTokens = 30
  private val Ngram = 3

  final case class Config(
      jaccardThreshold: Double = 0.2,
      tokenBudget: Long = 10000L,
      urlCol: Option[String] = None,
      substringK: Int = 8,
      semanticThreshold: Double = 0.2,
      semanticExact: Boolean = true)

  /** Stages 1-3, shared by both capstones: optional URL + content-hash
    * dedup, quality filter over ONE fused profile scan, first-5-words
    * exact dedup (min-id survivor). Keeps the input columns plus the
    * `__p` profile struct and `key5` (callers project them away). */
  private def exactStage(docs: DataFrame, cfg: Config): DataFrame = {
    val base = cfg.urlCol match {
      case Some(u) =>
        Dedup.exactDedup(
          docs.withColumn("__url_key", Dedup.normalizeUrl(col(u)))
            .withColumn("__cmd5", md5(col("text"))),
          Seq("__url_key", "__cmd5"), "doc_id")
          .drop("__url_key", "__cmd5")
      case None => docs
    }
    val prof = base.withColumn("__p", TextAnalysis.profile(col("text")))
    val quality = prof
      .filter(col("__p.n_tokens") >= MinTokens && col("__p.n_punct") >= 0)
      .withColumn("key5",
        array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 5), " "))
    Dedup.exactDedup(quality, Seq("key5"), "doc_id")
  }

  def curate(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    // Materialize the filtered+deduped set once: three consumers (pair
    // derivation, survivor join, budget input) would otherwise each rerun
    // the profile scan and dedup window.
    val exactKept = Materialize(exactStage(docs, cfg)
      .withColumn("n_tok", col("__p.n_bpeish").cast("long")))
    val pairs = Dedup.ngramJaccardPairs(
      exactKept.select(col("doc_id"), col("text")), "doc_id", "text",
      n = Ngram, threshold = cfg.jaccardThreshold)
    val survivors = Dedup.nearDupSurvivors(
      exactKept.select(col("doc_id"), col("n_tok"), col("text")), "doc_id", pairs)
    PrefixSum.selectWithinBudget(
      survivors.select(col("doc_id"), col("n_tok")),
      "doc_id", "n_tok", cfg.tokenBudget)
  }

  /** V2 capstone — the FULL dedup ladder a web-scale training corpus runs,
    * in production order:
    *
    *   URL + content-hash dedup
    *     → quality filter (fused profile scan)
    *       → exact dedup (first-5-words key, min-id survivor)
    *         → exact substring REMOVAL (Lee et al. ACL'22, gram-level
    *           canonical election — repeated boilerplate cut out of the
    *           surviving docs' text, not just detected)
    *           → re-tokenize + re-filter (removal FEEDS the tokenizer:
    *             every downstream count, shingle, and budget token is
    *             derived from the cleaned text, and the quality floor
    *             re-applies because removal can gut a doc below it)
    *             → fuzzy near-dup removal (exact n-gram Jaccard pairs →
    *               connected components → min-id survivor)
    *               → semantic near-dup removal (embedding-cosine pairs →
    *                 connected components → min-id survivor; docs with no
    *                 embedding pass through unpaired)
    *                 → token-budget selection (distributed prefix sum)
    *
    * Stage ordering is load-bearing: cheap high-yield passes shrink the
    * corpus before expensive ones (URL/exact before the gram explode,
    * substring removal before shingling so boilerplate cannot glue
    * unrelated docs into one fuzzy cluster), and the budget counts tokens
    * a model would actually train on. `cfg.semanticExact = true` is the
    * all-pairs ORACLE path (quadratic on purpose, bounded sets only);
    * `false` swaps in hyperplane-LSH banded candidates
    * ([[Dedup.embeddingNearDupPairs]]) — the 100-TB path, which only
    * ever MISSES pairs, so its survivor set is a superset (spec-asserted).
    * Output: (doc_id, n_tok, n_removed) of the curated set — n_tok from
    * the cleaned text, n_removed the substring stage's per-doc audit. */
  def curateV2(docs: DataFrame, embeddings: DataFrame,
               cfg: Config): DataFrame =
    PrefixSum.selectWithinBudget(
      curateV2Survivors(docs, embeddings, cfg),
      "doc_id", "n_tok", cfg.tokenBudget)

  /** The [[curateV2]] ladder WITHOUT the final token-budget selection —
    * the splice point for additional modality stages ([[curateMultimodal]]
    * inserts image dedup here): (doc_id, n_tok, n_removed) of every
    * document that survives URL/exact/substring/quality/fuzzy/semantic. */
  def curateV2Survivors(docs: DataFrame, embeddings: DataFrame,
                        cfg: Config): DataFrame = {
    // feeds the removal's anchor AND token scans once
    val exactKept = Materialize(
      exactStage(docs, cfg).select(col("doc_id"), col("text")))
    val cleaned = SubstringDedup.removeRepeatedSpans(
      exactKept, "doc_id", "text", k = cfg.substringK)
    // feeds the pair derivation + the survivor join
    val requal = Materialize(cleaned
      .withColumn("__p", TextAnalysis.profile(col("clean_text")))
      .filter(col("__p.n_tokens") >= MinTokens)
      .withColumn("n_tok", col("__p.n_bpeish").cast("long"))
      .select(col("doc_id"), col("clean_text"), col("n_tok"), col("n_removed")))
    val pairs = Dedup.ngramJaccardPairs(
      requal.select(col("doc_id"), col("clean_text")), "doc_id", "clean_text",
      n = Ngram, threshold = cfg.jaccardThreshold)
    val fuzzyKept = Dedup.nearDupSurvivors(requal, "doc_id", pairs)
    val emb = embeddings.select(col("vec_id").as("doc_id"),
      col("embedding").as("__emb"))
    // split into embedded/unembedded consumers
    val joined = Materialize(fuzzyKept.join(emb, Seq("doc_id"), "left"))
    val withE = joined.filter(col("__emb").isNotNull)
    val semPairs = Dedup.embeddingNearDupPairs(withE, "doc_id", "__emb",
      cfg.semanticThreshold, exact = cfg.semanticExact)
    val semKept = Dedup.nearDupSurvivors(withE, "doc_id", semPairs)
      .unionByName(joined.filter(col("__emb").isNull))
    semKept.select(col("doc_id"), col("n_tok"), col("n_removed"))
  }

  /** [[curateV2]] with an IMAGE-modality stage — multimodal corpora get
    * the same dedup guarantee chain as text: after the text ladder's
    * survivors are known, documents whose attached image is a
    * perceptual-hash near-duplicate of another SURVIVOR's image (banded
    * pHash pairs within Hamming distance 6,
    * [[Multimodal.phashNearDupPairs]] — exact there by the 7×9-bit
    * pigeonhole — then connected
    * components, min-id survivor) drop before the token budget, so a
    * re-encoded or resized copy of one image cannot ship twice even
    * when its surrounding text changed enough to clear every text
    * stage. `imageHashes` is (`media_id` = doc id, `phash` = 63-bit
    * dHash); documents with no image row pass through unpaired, the
    * no-embedding discipline. Restricting the pair join to survivors
    * keeps the banding volume proportional to what the ladder kept. */
  def curateMultimodal(docs: DataFrame, embeddings: DataFrame,
                       imageHashes: DataFrame,
                       cfg: Config): DataFrame = {
    // feeds the pair restriction AND the CC survivor join
    val surv = Materialize(curateV2Survivors(docs, embeddings, cfg))
    val hs = imageHashes
      .select(col("media_id").as("doc_id"), col("phash"))
      .join(surv.select(col("doc_id")), Seq("doc_id"))
    val ipairs = Multimodal.phashNearDupPairs(hs, "doc_id", "phash", 6)
    val kept = Dedup.nearDupSurvivors(surv, "doc_id", ipairs)
    PrefixSum.selectWithinBudget(
      kept.select(col("doc_id"), col("n_tok"), col("n_removed")),
      "doc_id", "n_tok", cfg.tokenBudget)
  }
}
