package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowed document fingerprinting and passage-overlap detection
  * (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for Document
  * Fingerprinting", SIGMOD 2003) — the passage-level complement to the
  * whole-document dedup family in [[Dedup]]: two documents sharing a copied
  * PARAGRAPH inside otherwise-different text score near-zero whole-document
  * jaccard but share winnowed fingerprints, which is exactly the
  * benchmark-contamination shape a training-data pipeline must catch.
  * Beyond-reference extension (SURVEY.md §7.1.9).
  *
  * Granularity note: [[TextAnalysis.winnowingFingerprints]] is the
  * CHARACTER-level sibling (code-point rolling hash — catches overlap that
  * crosses token boundaries, e.g. minified/concatenated text); this object
  * works on word tokens, which matches how contamination actually appears
  * in prose corpora and makes the whole pipeline ANSI-expressible, hence
  * DuckDB-oracled end to end (including the pair join).
  *
  * Algorithm: tokenize (lowercase, whitespace split — the same rule as
  * [[TfIdf]]), hash every k-token gram with a 32-bit polynomial hash, slide
  * a window of `w` consecutive gram hashes, and in each window select the
  * minimum (rightmost on ties). The guarantee: any shared token run of
  * length ≥ k + w - 1 yields at least one shared fingerprint, while the
  * expected density is 2/(w+1) — a ~60% reduction at w=4 with zero misses
  * above the guarantee threshold.
  *
  * Scale shape: fingerprint extraction is a per-row tight-loop UDF (string
  * hashing is branch-heavy scalar work where a UDF beats interpreted HOF
  * expressions ~20×; measured on the shingling path) — embarrassingly
  * parallel, NO shuffle. The pair join shuffles only the winnowed
  * fingerprint table (2/(w+1) of the gram volume) partitioned by hash, with
  * ubiquitous fingerprints dropped by a document-frequency cap before the
  * self-join — the same stop-key skew bound as [[Dedup.ngramJaccardPairs]]:
  * a fingerprint in F docs contributes F² candidate pairs, so capping F
  * bounds the worst key's fan-out regardless of corpus size.
  *
  * The hash is `fold(h·31 + codepoint) mod 2^32` over the gram's CODE
  * POINTS — plain BIGINT arithmetic (every intermediate < 2^37 + 2^21)
  * replicated verbatim by the ANSI oracle. Both sides fold by code point,
  * so supplementary-plane (astral) text hashes identically in the JVM and
  * in the SQL twin (WinnowingSpec asserts it on astral fixtures).
  */
object Winnowing {

  private val Mod32 = 4294967296L

  /** 32-bit polynomial string hash: the h·31+c fold over Unicode CODE
    * POINTS, kept non-negative in a Long and defined mod 2^32 so the SQL
    * twin needs no signed-wrap emulation. Folding by code point (not UTF-16
    * unit) is what the ANSI oracle computes (`unicode(c)` per character),
    * so the two sides agree on supplementary-plane text too — identical to
    * the old char fold on BMP input, where code point == code unit. Every
    * intermediate stays < 2^37 + 2^21, comfortably BIGINT. */
  def polyHash32(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % Mod32
      i += Character.charCount(cp)
    }
    h
  }

  /** Winnow one token array: hash all k-grams, slide a w-window, keep the
    * rightmost-minimum of each window, dedupe consecutive re-selections.
    * Returns (gram position, gram hash) pairs sorted by position.
    * Fewer than k tokens ⇒ no grams ⇒ empty; fewer than k+w-1 tokens ⇒ a
    * single window over all grams (the document's global minimum). */
  def winnow(tokens: Array[String], k: Int, w: Int): Array[(Int, Long)] = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    val m = tokens.length - k + 1
    if (m <= 0) return Array.empty
    val h = new Array[Long](m)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(i + j)); j += 1
      }
      h(i) = polyHash32(sb.toString); i += 1
    }
    val we = math.min(w, m)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var lastSel = -1
    var s = 0
    while (s <= m - we) {
      // rightmost minimum of h[s .. s+we-1]
      var best = s
      var j = s + 1
      while (j < s + we) { if (h(j) <= h(best)) best = j; j += 1 }
      if (best != lastSel) { out += ((best, h(best))); lastSel = best }
      s += 1
    }
    out.toArray
  }

  private def tokensOf(text: String): Array[String] =
    // Locale.ROOT: default-locale toLowerCase diverges from Spark/DuckDB
    // lower() under e.g. tr-TR (dotless i) — hashes must not depend on
    // the JVM's locale
    Option(text).map(_.trim.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
      .map(_.split("\\s+")).getOrElse(Array.empty)

  /** Per-document winnowed fingerprints: one row per selected gram —
    * (id, pos, fp_hash). Shuffle-free (narrow UDF + explode). */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int, w: Int): DataFrame = {
    val fpUdf = udf { (text: String) => winnow(tokensOf(text), k, w) }
    df.select(col(idCol), explode(fpUdf(col(textCol))).as("__fp"))
      .select(col(idCol), col("__fp._1").as("pos"), col("__fp._2").as("fp_hash"))
  }

  /** Passage-overlap pairs: documents sharing ≥ `minShared` distinct
    * winnowed fingerprints, with the shared count and a containment score
    * (shared / the smaller document's fingerprint count, both measured on
    * the PRUNED fingerprint sets so the score is self-consistent).
    *
    * `maxDocFreq` drops fingerprints present in more than that many
    * documents before the self-join — boilerplate/ubiquitous passages
    * otherwise make one hash key fan out quadratically. Dropped
    * fingerprints cannot produce false pairs (only reduce recall on
    * passages that ubiquitous), and the oracle applies the same cap. */
  def passageOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                          k: Int, w: Int, minShared: Int,
                          maxDocFreq: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = fingerprints(df, idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("fp_hash")).distinct()
    // document frequency via one window over the hash partition — the same
    // hash-shuffle the self-join needs anyway; the three consumers below
    // (sizes + both self-join sides) share one identical subplan, so
    // whole-plan ReuseExchange materializes that shuffle once (no persist:
    // a persist here would outlive the call — CacheManager entries are not
    // GC-reclaimed — and an eager checkpoint would bill upstream cost to
    // plan-build time)
    val pruned = fp
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("fp_hash")))
      .filter(col("__df") <= maxDocFreq).drop("__df")
    val sizes = pruned.groupBy(col("id")).agg(count(lit(1)).as("nfp"))
    val pairs = pruned.alias("a")
      .join(pruned.alias("b"),
        col("a.fp_hash") === col("b.fp_hash") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("idA"), col("b.id").as("idB"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(sizes.select(col("id").as("idA"), col("nfp").as("__na")), Seq("idA"))
      .join(sizes.select(col("id").as("idB"), col("nfp").as("__nb")), Seq("idB"))
      .select(col("idA"), col("idB"), col("shared"),
        round(col("shared").cast("double") / least(col("__na"), col("__nb")), 6)
          .as("containment"))
  }

  /** Cross-SOURCE contamination matrix — corpus forensics one level above
    * [[passageOverlapPairs]]: for every source pair, how many distinct
    * winnowed fingerprints their documents share ("which feeds plagiarize
    * which"). The answer that decides whether two corpus feeds can both be
    * kept at full weight, or one is a re-crawl of the other.
    *
    * Shape: doc-level fingerprints (same doc-frequency prune as the pair
    * query, so one ubiquitous passage cannot fan out), rolled up to
    * DISTINCT (source, fp_hash), then a fp-keyed self-join over the
    * source-level sets — the join side is (sources × fingerprints)-sized,
    * far below the corpus. Output per pair (srcA < srcB): shared distinct
    * fingerprints and containment = shared / the smaller side's set. */
  /** Train/val/test SPLIT-LEAKAGE audit — the gate a training-prep
    * pipeline runs after splitting: near-duplicate passages straddling two
    * splits are evaluation contamination (the model sees the val/test
    * passage during training). Pure composition: the deterministic split
    * assignment ([[Sampling.trainValTestSplit]]) joined onto the winnowed
    * passage-overlap pairs ([[passageOverlapPairs]]), keeping only pairs
    * whose endpoints land in DIFFERENT splits. Empty output = clean split;
    * each emitted row is an actionable leak (quarantine one endpoint or
    * re-assign it to the other split).
    *
    * Scale: the pair query dominates (fp-keyed, doc-frequency-capped);
    * the split join adds two broadcastable (id, split) projections derived
    * without any extra scan of the text. */
  def splitLeakagePairs(df: DataFrame, idCol: String, textCol: String,
                        weightsPerMille: Seq[Int], seed: Long,
                        k: Int, w: Int, minShared: Int,
                        maxDocFreq: Int): DataFrame = {
    val split = Sampling.trainValTestSplit(
      df.select(col(idCol)), idCol, weightsPerMille, seed)
    passageOverlapPairs(df, idCol, textCol, k, w, minShared, maxDocFreq)
      .join(split.select(col(idCol).as("idA"), col("split").as("splitA")), Seq("idA"))
      .join(split.select(col(idCol).as("idB"), col("split").as("splitB")), Seq("idB"))
      .filter(col("splitA") =!= col("splitB"))
      .select(col("idA"), col("idB"), col("splitA"), col("splitB"),
        col("shared"), col("containment"))
  }

  /** Distinct (src, fp_hash) rows: each source's doc-frequency-pruned
    * winnowed fingerprint SET — the frame both the exact overlap matrix
    * and its KMV sketch sibling consume. */
  def sourceFingerprints(df: DataFrame, idCol: String, textCol: String,
                         sourceCol: String, k: Int, w: Int,
                         maxDocFreq: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = fingerprints(df, idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("fp_hash")).distinct()
    val pruned = fp
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("fp_hash")))
      .filter(col("__df") <= maxDocFreq).drop("__df")
    pruned
      .join(df.select(col(idCol).as("id"), col(sourceCol).as("src")), "id")
      .select(col("src"), col("fp_hash")).distinct()
  }

  def sourceOverlapMatrix(df: DataFrame, idCol: String, textCol: String,
                          sourceCol: String, k: Int, w: Int,
                          maxDocFreq: Int): DataFrame = {
    val srcFp = sourceFingerprints(df, idCol, textCol, sourceCol, k, w,
      maxDocFreq)
    val sizes = srcFp.groupBy(col("src")).agg(count(lit(1)).as("nfp"))
    srcFp.alias("a")
      .join(srcFp.alias("b"),
        col("a.fp_hash") === col("b.fp_hash") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("srcA"), col("b.src").as("srcB"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("src").as("srcA"), col("nfp").as("__na")), Seq("srcA"))
      .join(sizes.select(col("src").as("srcB"), col("nfp").as("__nb")), Seq("srcB"))
      .select(col("srcA"), col("srcB"), col("shared"),
        round(col("shared").cast("double") / least(col("__na"), col("__nb")), 6)
          .as("containment"))
  }
}
