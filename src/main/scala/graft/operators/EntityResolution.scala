package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Entity resolution: block → match → cluster. Records with noisy name
  * fields (OCR slips, manual entry, scrape artifacts) are re-linked into
  * entities without ever forming the all-pairs product — the same
  * banded-candidate discipline as [[Dedup]]'s MinHash path, specialized
  * to EDIT distance, where fixed-width character windows play the role
  * of bands.
  *
  * Two blocking passes: the first `blockChars` characters and the LAST
  * `blockChars` characters (right-aligned). For a pair within edit
  * distance 1 this is pigeonhole-COMPLETE, not heuristic, whenever the
  * longer name has ≥ 2·blockChars characters: a single substitution
  * touches at most one of the two disjoint windows, and a single
  * insert/delete at position p leaves the prefix window intact when
  * p > blockChars and the right-aligned suffix window intact when
  * p ≤ len−blockChars — one of which always holds at that length. (At
  * length 2·blockChars−1 the windows overlap in one central position;
  * an edit exactly there is the only escape.) So the downstream match
  * filter sees every true pair, and an all-pairs oracle can gate RECALL
  * of the candidate generation, not just the distance predicate.
  *
  * Scale shape: candidates come from per-block self-joins after a
  * block-size cap (`maxBlock`, the [[Dedup]] `maxBucket` discipline —
  * a block bigger than the cap is a stop-word-like key whose pairs are
  * dropped, documented recall bound applies only below the cap). Pair
  * volume is Σ|block|², never n²; the pair frame dedups across passes
  * before the (cheap) edit-distance filter runs once per candidate.
  */
object EntityResolution {

  /** Candidate pairs from the two-pass fixed-window blocking:
    * (idA, idB, nameA, nameB), idA < idB, distinct across passes.
    * Blocks larger than `maxBlock` are dropped whole (cap discipline —
    * see object doc). */
  /** The per-record block-key table (__id, __name, __key): two rows per
    * record, one per pass. Shared by the batch path and the streaming
    * twin so both sides provably block identically. */
  def blockKeys(records: DataFrame, idCol: String, nameCol: String,
                blockChars: Int): DataFrame = {
    require(blockChars >= 1, s"blockChars must be >= 1, got $blockChars")
    records.select(col(idCol).as("__id"),
        col(nameCol).cast("string").as("__name"))
      .filter(col("__name").isNotNull)
      .select(col("__id"), col("__name"), explode(array(
        concat(lit("P"), substring(col("__name"), 1, blockChars)),
        concat(lit("S"), substring(col("__name"), -blockChars, blockChars))))
        .as("__key"))
  }

  def candidatePairs(records: DataFrame, idCol: String, nameCol: String,
                     blockChars: Int = 4, maxBlock: Int = 4096): DataFrame = {
    val keyed = blockKeys(records, idCol, nameCol, blockChars)
    // one combining shuffle sizes every block; the cap filter runs on the
    // block table BEFORE the self-join so an oversized key never joins
    val sized = keyed.join(
      keyed.groupBy(col("__key")).agg(count(lit(1)).as("__bs"))
        .filter(col("__bs") <= maxBlock)
        .select(col("__key")),
      "__key")
    sized.as("a").join(sized.as("b"),
        col("a.__key") === col("b.__key") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("idA"), col("b.__id").as("idB"),
        col("a.__name").as("nameA"), col("b.__name").as("nameB"))
      .distinct()
  }

  /** Matched pairs: candidates within `maxDist` edits —
    * (idA, idB, dist). */
  def blockedMatches(records: DataFrame, idCol: String, nameCol: String,
                     maxDist: Int, blockChars: Int = 4,
                     maxBlock: Int = 4096): DataFrame =
    candidatePairs(records, idCol, nameCol, blockChars, maxBlock)
      .withColumn("dist",
        levenshtein(col("nameA"), col("nameB")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("idA"), col("idB"), col("dist"))

  /** Incremental matched pairs for a streaming corpus: join the DELTA's
    * keyed rows ([[blockKeys]]) against the standing corpus' keyed rows
    * PLUS the delta itself, normalize each pair to (min id, max id), and
    * keep those within `maxDist` edits. Every record lives in exactly
    * one delta, so a pair surfaces exactly once — in the batch where its
    * LATER member arrives — and the union of per-batch ledgers equals
    * the batch [[blockedMatches]] pair set regardless of arrival order
    * Per-batch cost is |delta keys| joined against the standing index —
    * the corpus is never self-joined per batch.
    *
    * A fixed bound of 4096 rows per block mirrors [[candidatePairs]]' cap
    * discipline: keys whose ACCUMULATED block size (standing corpus +
    * this delta) exceeds the cap are dropped from the per-batch join, so
    * one hot key can never make a batch quadratic. Equivalence caveat: the batch cap fires on
    * the FINAL block size, the incremental cap on the running size, so
    * stream≡batch equality holds exactly iff no block ever crosses the
    * cap (the harness block sizes guarantee this; the cap is the
    * at-scale cost bound, not a semantics change on in-cap data). */
  def incrementalMatches(corpusKeyed: DataFrame, deltaKeyed: DataFrame,
                         maxDist: Int): DataFrame = {
    val maxBlock = 4096
    // Only keys present in THIS delta can emit pairs this batch, so the
    // cap check is semi-joined down to delta keys first: the block-size
    // aggregate (and everything downstream) is proportional to the delta,
    // not an O(corpus) groupBy-count per micro-batch. The delta key set is
    // per-batch small, so it broadcasts; block counts for surviving keys
    // are unchanged by the semi-join (full0 still contributes every row
    // with that key), so the cap semantics are identical.
    val deltaKeys = deltaKeyed.select(col("__key")).distinct()
    val full0 = corpusKeyed.unionByName(deltaKeyed)
      .join(broadcast(deltaKeys), Seq("__key"), "left_semi")
    val full = full0.join(
      full0.groupBy(col("__key")).agg(count(lit(1)).as("__bs"))
        .filter(col("__bs") <= maxBlock)
        .select(col("__key")),
      "__key")
    full.as("a").join(deltaKeyed.as("b"),
        col("a.__key") === col("b.__key") && col("a.__id") =!= col("b.__id"))
      .select(
        when(col("a.__id") < col("b.__id"), col("a.__id"))
          .otherwise(col("b.__id")).as("idA"),
        when(col("a.__id") < col("b.__id"), col("b.__id"))
          .otherwise(col("a.__id")).as("idB"),
        when(col("a.__id") < col("b.__id"), col("a.__name"))
          .otherwise(col("b.__name")).as("nameA"),
        when(col("a.__id") < col("b.__id"), col("b.__name"))
          .otherwise(col("a.__name")).as("nameB"))
      .distinct()
      .withColumn("dist", levenshtein(col("nameA"), col("nameB")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("idA"), col("idB"), col("dist"))
  }

  /** Resolve matches into entities: connected components over the match
    * graph ([[Dedup.connectedComponents]] — pointer-jumping, no driver
    * materialization beyond its documented bounded fast path). Output:
    * (id, entity_id, canonical) where entity_id is the component's
    * minimum record id and `canonical` marks its representative. */
  def entities(records: DataFrame, idCol: String,
               matches: DataFrame): DataFrame =
    Dedup.connectedComponents(records.select(col(idCol)),
        matches.select(col("idA"), col("idB")), idCol)
      .select(col("id"), col("component").cast("long").as("entity_id"),
        (col("component") === col("id")).as("canonical"))
}
