package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Deduplication operators for training-data pipelines — beyond-reference
  * extensions (SURVEY.md §7.1.9).
  *
  * Scale design (100 TB posture):
  *  - exact dedup = one hash shuffle on the key (same cost as any groupBy);
  *  - near-dup (MinHash/SimHash) never compares all pairs: signatures are
  *    computed per-row (narrow), candidates come from LSH band buckets (one
  *    shuffle on band key), and only bucket-mates are verified. Oversized
  *    buckets (degenerate content) are capped to bound worst-case skew —
  *    the cap is logged, not silent.
  */
object Dedup {

  /** LINE-level corpus dedup (the C4 §2.2 boilerplate-line rule, doc-
    * frequency form): drop every line that occurs in at least
    * `maxDocFreq` DISTINCT documents — navigation chrome, cookie
    * banners, subscribe prompts and copyright footers repeat across a
    * site's every page, while real content lines don't — and reassemble
    * each document from its surviving lines in order. Emits (idCol,
    * clean_text, n_kept, n_dropped).
    *
    * Scale shape — NO raw line text ever crosses an exchange (the
    * [[SubstringDedup]] `hashKeys` discipline; boilerplate lines are the
    * definition of hot keys, and shuffling their TEXT doubles shuffle
    * bytes exactly where skew bites):
    *  1. line occurrences shuffle as a 128-bit double-xxhash64 pair
    *     (16 bytes/line, two independent salts — a false drop needs a
    *     simultaneous collision in both, ~2^-128 per line pair) for the
    *     doc-frequency aggregate;
    *  2. the hot-line set (`__df >= maxDocFreq`) is filtered FIRST, so
    *     the semi-join that marks droppable occurrences carries hash
    *     keys against a boilerplate-sized build side (AQE broadcasts it
    *     when small);
    *  3. only per-doc DROP POSITIONS (ints) aggregate doc-keyed, and the
    *     rebuild is a row-local indexed `filter` over the document's own
    *     split — the text moves once, in the final doc-keyed join, and
    *     never as a shuffle KEY. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                maxDocFreq: Int): DataFrame = {
    require(maxDocFreq >= 2, s"maxDocFreq must be >= 2, got $maxDocFreq")
    // __h2 hashes (salt, line), not (line, salt): Spark chains
    // multi-child xxhash64 with the running hash as the next seed, so
    // only the (salt, line) order yields an independent 64-bit view
    // (the SubstringDedup.anchors note).
    val slim = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .select(col(idCol), col("__pos"),
        xxhash64(col("__line")).as("__h1"),
        xxhash64(lit(1), col("__line")).as("__h2"))
    val hot = slim.groupBy(col("__h1"), col("__h2"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= maxDocFreq)
    val dropPos = slim.join(hot, Seq("__h1", "__h2"), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_list(col("__pos")).as("__drop"))
    val drop = coalesce(col("__drop"), array().cast("array<int>"))
    val lines = split(col(textCol), "\n")
    df.join(dropPos, Seq(idCol), "left")
      .select(col(idCol),
        array_join(filter(lines, (l, i) => !array_contains(drop, i)), "\n")
          .as("clean_text"),
        (size(lines) - size(drop)).cast("long").as("n_kept"),
        size(drop).cast("long").as("n_dropped"))
  }

  /** Exact dedup: keep the lowest-id row per key (deterministic
    * `dropDuplicates`). One shuffle on the key. */
  def exactDedup(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact-dup group summary: survivor id + group size per key. */
  def exactGroups(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Keep-BEST dedup as a pure AGGREGATION: one `max_by` over the whole
    * row with a totally-ordered (score, id) ranking key. The curation
    * counterpart of [[exactDedup]] — real pipelines keep the
    * highest-quality duplicate, not the lowest id — and a different PLAN
    * SHAPE than the W1 window pattern: PARTIAL AGGREGATION APPLIES, so
    * each map task emits one best-so-far row per key and only survivors
    * cross the exchange, where the window path must shuffle (and
    * rank-sort) EVERY duplicate. The physical form is a SortAggregate
    * pair (the struct buffer is not hash-agg mutable), so map tasks sort
    * by the GROUPING KEY — cheaper than the window's (key, score, id)
    * sort and over pre-aggregated survivors on the reduce side — but it
    * is a sort; the shuffle-volume reduction is the 100 TB win, not
    * sort-freedom (plan shape asserted in PlanSpec).
    *
    * Determinism: the ranking struct ends in `idCol`, so WHEN `idCol` is
    * unique within `df` the ordering is total (ties on score fall to the
    * LARGEST id — document accordingly in oracles); a NULL score ranks
    * below every non-null (nulls-first struct ordering), never wins
    * against a scored row, and only surfaces when a whole group is
    * unscored. Residual nondeterminism: if two rows tie on the FULL
    * (score, id) key — possible only when `idCol` is not unique, e.g. a
    * malformed CDC feed replaying one (key, seq, op) with different
    * payloads — `max_by` keeps an arbitrary payload among the rank-equal
    * rows. Accepted: a payload-hash tiebreak would put a per-row
    * serialization in this hot aggregation path to defend against an
    * input that is already out of contract. */
  def keepBestByKey(df: DataFrame, keyCols: Seq[String], scoreCol: Column,
                    idCol: String): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(payload, struct(scoreCol, col(idCol))).as("__best"))
      .select(col("__best.*"))
  }

  /** Canonical URL key — the CommonCrawl-style first-pass dedup key for a
    * web corpus: lowercase, strip scheme + leading `www.`, drop query
    * string and fragment, drop trailing slashes. Each pattern matches at
    * most once (anchored / suffix) EVEN on URLs containing newlines:
    * `(?s)` makes the query/fragment dot span line breaks and `\z` is the
    * true end-of-input (Java's bare `$` would also match before a final
    * line terminator, RE2's would not) — so Spark's replace-all and
    * DuckDB/RE2's replace-first agree on every input, not just
    * newline-free ones. Query params are dropped wholesale rather than
    * utm-filtered: the dedup key is the (url_key, content_hash)
    * COMPOSITE, so two genuinely different documents behind `?page=1` /
    * `?page=2` never collapse — the content hash separates them. Pure
    * codegen'd expressions, no UDF. */
  def normalizeUrl(url: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(lower(trim(url)), "^https?://(www\\.)?", ""),
        "(?s)[?#].*", ""),
      "/+\\z", "")

  /** URL + content-hash composite dedup — the cheap first pass a web-scale
    * pipeline runs before ANY text similarity (URL → exact → fuzzy →
    * semantic): group by (canonical url key, md5(content)), keep the
    * lowest id, count the collapsed copies.
    *
    * The key is [[graft.expr.UrlOps]] RFC 3986 canonicalization FIRST,
    * then [[normalizeUrl]]'s corpus-key flattening on the canonical form
    * — the normalize-before-dedup discipline (the reference applies the
    * same idea to column names via its COLUMN_MAP, `constants.py:6-36` →
    * `view_generator.py:42-45`): without the canonical step, case-shifted
    * hosts, default ports, dot-segments, re-ordered queries and
    * duplicate slashes each fragment the key and every such spelling
    * survives as a "distinct" document.
    *
    * Scale shape: both normalizers and the md5 are per-row codegen
    * computed map-side, so the shuffle carries a 32-hex-char hash + the
    * canonical key instead of document text; one hash shuffle with
    * map-side partial combine, no driver state. */
  def urlContentDedup(df: DataFrame, urlCol: String, textCol: String,
                      idCol: String): DataFrame =
    df.select(
        normalizeUrl(graft.expr.UrlExpressions.url_canonicalize(col(urlCol)))
          .as("url_key"),
        md5(col(textCol)).as("content_md5"), col(idCol))
      .groupBy(col("url_key"), col("content_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Chunk-level exact dedup: chunk every document (via
    * [[TextAnalysis.chunkDocuments]]) and report each chunk text that
    * occurs ≥ `minCount` times across the corpus, with its canonical owner
    * — the first occurrence in (doc, chunk) order. Catches boilerplate
    * paragraphs duplicated INSIDE otherwise-distinct documents, the
    * substring-granularity complement of [[exactDedup]] (and the exact
    * counterpart of [[Winnowing.passageOverlapPairs]]).
    *
    * Owner selection is `min(doc·2^20 + chunk)` — a single decomposable
    * aggregate instead of a struct-min (chunk ordinals are bounded by
    * text length / stride ≪ 2^20, enforced).
    *
    * Scale shape: one hash shuffle keyed by chunk text. At corpus scale
    * key the aggregate on `xxhash64(chunk)` first and re-attach text for
    * the tiny surviving-dup set — same plan shape, 8-byte shuffle keys. */
  def chunkDups(df: DataFrame, idCol: String, textCol: String,
                chunkChars: Int, overlap: Int,
                minCount: Int): DataFrame = {
    val ch = TextAnalysis.chunkDocuments(df, idCol, textCol, chunkChars, overlap)
      // the guard lives INSIDE the used expression so it cannot be pruned:
      // a >=2^20-chunk document (~0.5 GB), a negative id, or an id >= 2^43
      // (whose *2^20 shift overflows Long) would corrupt the composite key
      // silently — fail instead
      .withColumn("__k",
        when(col("chunk_id") < 1048576L && col(idCol) >= 0 &&
            col(idCol) < (1L << 43),
          col(idCol) * 1048576L + col("chunk_id"))
          .otherwise(raise_error(concat(
            lit(s"chunkDups: chunk ordinal >= 2^20, or $idCol outside [0, 2^43) for "),
            col(idCol).cast("string")))))
    ch.groupBy(col("chunk"))
      .agg(min(col("__k")).as("__k"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= minCount)
      .select(expr("__k div 1048576").as("owner_doc"),
        expr("__k % 1048576").as("owner_chunk"),
        col("n_copies"), col("chunk"))
  }

  /** Lower-cased whitespace word tokens. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** [[tokens]] with empty tokens dropped — the form that matches Java
    * `String.trim`+`split` (the shingle UDF's tokenization) on EVERY
    * whitespace edge: Spark's `trim` strips only ' ' and its `split`
    * keeps trailing empty strings, so leading/trailing tab/newline would
    * otherwise yield stray "" tokens and shift every n-gram. The single
    * shared definition for every expression-side tokenizer (verify
    * recomputes, substring dedup, bigram LM). */
  def cleanTokens(text: Column): Column =
    filter(tokens(text), t => t =!= "")

  /** Word n-gram shingles as a distinct array; docs shorter than n collapse
    * to one whole-text shingle. RETIRED from the hot path in favor of the
    * codegen twin [[graft.expr.ShingleArray]] (same tight loop, no UDF
    * encoder round-trip); kept `private[graft]` as the reference
    * implementation MinHashExprSpec property-pins the expression against. */
  private[graft] def shingleUdf(n: Int) = udf { (text: String) =>
    if (text == null) Seq.empty[String]
    else {
      val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      if (toks.length < n) Seq(toks.mkString(" "))
      else {
        val out = new scala.collection.mutable.LinkedHashSet[String]
        var i = 0
        while (i <= toks.length - n) {
          val sb = new StringBuilder(toks(i))
          var j = 1
          while (j < n) { sb += ' '; sb ++= toks(i + j); j += 1 }
          out += sb.result()
          i += 1
        }
        out.toSeq
      }
    }
  }

  def shingles(text: Column, n: Int): Column =
    graft.expr.MinHashExpressions.shingle_array(text, n)

  /** Exact n-gram Jaccard similarity between two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  // ---------------------------------------------------------------- MinHash

  /** Deterministic permutation parameters (a*h+b mod p), fixed seed.
    * a < 2^31 and the base hash h < 2^32, so a*h < 2^63 never overflows —
    * the whole permutation stays in primitive long arithmetic. */
  private val MinhashPrime = (1L << 61) - 1
  private def perms(k: Int): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Array.fill(k)((rnd.nextInt(Int.MaxValue - 1).toLong + 1,
                   math.abs(rnd.nextLong()) % MinhashPrime))
  }

  /** MinHash signature UDF: one tight pass over the shingle set computing all
    * k permutation minima (O(shingles×k) per row, no shuffle). RETIRED from
    * the hot path in favor of the codegen twin
    * [[graft.expr.MinHashSignature]]; kept `private[graft]` as the
    * reference implementation MinHashExprSpec property-pins against. */
  private[graft] def minhashSignatureUdf(k: Int) = {
    val ps = perms(k)
    udf { (shingles: Seq[String]) =>
      val sig = Array.fill(k)(Long.MaxValue)
      val safe = if (shingles == null) Seq.empty[String] else shingles
      safe.foreach { s =>
        val h = scala.util.hashing.MurmurHash3.stringHash(s).toLong & 0xffffffffL
        var i = 0
        while (i < k) {
          val (a, b) = ps(i)
          val v = (a * h) % MinhashPrime + b
          val m = if (v >= MinhashPrime) v - MinhashPrime else v
          if (m < sig(i)) sig(i) = m
          i += 1
        }
      }
      sig.toSeq
    }
  }

  /** doc → (band, bucket) rows from a signature array: bucket key is the
    * hash of the band's signature slice. */
  def bandBuckets(df: DataFrame, sigCol: String, idCol: String,
                  bands: Int, rows: Int): DataFrame = {
    val bandStructs = array((0 until bands).map { j =>
      struct(lit(j).as("band"),
        hash(slice(col(sigCol), j * rows + 1, rows)).as("bucket"))
    }: _*)
    df.select(col(idCol), explode(bandStructs).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
  }

  /** Candidate pairs (idA < idB) sharing ≥1 LSH bucket. `maxBucket` caps
    * degenerate buckets (skew guard) — capped buckets are counted in the
    * `lsh_capped_buckets` accumulator-free metric column of logs. */
  def candidatePairs(buckets: DataFrame, idCol: String,
                     maxBucket: Int): DataFrame = {
    val sized = buckets.groupBy("band", "bucket")
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
    sized
      .select(explode(col("ids")).as("idA"), col("ids"))
      .select(col("idA"), explode(col("ids")).as("idB"))
      .filter(col("idA") < col("idB"))
      .distinct()
  }

  /** Star pairs over identical values of `sigCol`: (min-id representative,
    * member) per group with more than one member — a linear join-back, no
    * collect, so a duplicate group of any size streams through. Since idA
    * is the group minimum, idA < idB always holds. */
  private def starPairs(df: DataFrame, sigCol: String, idCol: String): DataFrame =
    df.groupBy(sigCol)
      .agg(min(col(idCol)).as("idA"), count(lit(1)).as("__n"))
      .filter(col("__n") > 1).drop("__n")
      .join(df.select(col(idCol).as("idB"), col(sigCol)), sigCol)
      .filter(col("idA") =!= col("idB"))
      .select("idA", "idB")

  /** MinHash+LSH near-duplicate pairs over a text column, verified with the
    * exact shingle Jaccard. Returns (idA, idB, jaccard ≥ threshold).
    *
    * Exact duplicates are immune to the bucket cap: identical documents
    * share ALL band buckets, so a duplicate group larger than `maxBucket`
    * would otherwise vanish from the candidate join entirely. The
    * [[starPairs]] of identical-SIGNATURE groups feed the same exact-
    * Jaccard verification, so signature collisions between non-duplicates
    * still get filtered by the true jaccard.
    *
    * The signature frame is materialized once ([[graft.Materialize]]): it
    * feeds the band buckets, the star groups, and both verify-join sides —
    * without it the O(shingles × k) signature UDF re-runs per subtree. */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, k: Int = 64, bands: Int = 16,
                          threshold: Double, maxBucket: Int = 1000): DataFrame = {
    val rows = k / bands
    val withSig = Materialize(df.select(col(idCol), shingles(col(textCol), n).as("sh"))
      .withColumn("sig", graft.expr.MinHashExpressions.minhash_signature(col("sh"), k)))
    val bucketCands = candidatePairs(
      bandBuckets(withSig, "sig", idCol, bands, rows), idCol, maxBucket)
    val cands = bucketCands.union(starPairs(withSig, "sig", idCol)).distinct()
    val a = withSig.select(col(idCol).as("idA"), col("sh").as("shA"))
    val b = withSig.select(col(idCol).as("idB"), col("sh").as("shB"))
    cands.join(a, "idA").join(b, "idB")
      .withColumn("jaccard", jaccard(col("shA"), col("shB")))
      .filter(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), col("jaccard"))
  }

  /** (id, sh, sig) signature frame for [[incrementalMinhashPairs]] —
    * exposed so a STREAMING caller can compute each batch's signatures
    * once, checkpoint them, and reuse them as the standing-corpus side of
    * every later batch (signatures are pure per-doc functions of the text
    * under the fixed permutation seed, so cached frames never go stale). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame =
    df.select(col(idCol), shingles(col(textCol), n).as("sh"))
      .withColumn("sig", graft.expr.MinHashExpressions.minhash_signature(col("sh"), k))

  /** INCREMENTAL MinHash+LSH near-dup: qualifying pairs with at least one
    * side in `delta` — new-vs-corpus and new-vs-new, the standing corpus
    * NEVER banded against itself — the fuzzy-dedup sibling of
    * [[incrementalNgramPairs]] and the production per-batch shape: the
    * delta's band rows equi-join the combined band index, so candidate
    * fan-out is linear in the delta for stable bucket statistics.
    *
    * Stream ≡ batch: a qualifying bucket pair is discovered exactly
    * once — when its later-arriving member lands — and the
    * identical-signature star path emits (group-min, member) pairs
    * whenever either side is new, so the UNION of per-batch pair sets
    * equals [[minhashNearDupPairs]]'s pair set over the same documents
    * regardless of arrival order. That needs the buckets UNCAPPED: a cap
    * is a function of bucket size AT DISCOVERY TIME, so a capped
    * incremental union would be a superset of the batch run. Uncapped,
    * no corpus-sized aggregation runs at all — only the delta-side band
    * join.
    *
    * `corpusSigs`/`deltaSigs` come from [[minhashSignatures]] (disjoint id
    * spaces). Output: (idA < idB, exact jaccard ≥ threshold). */
  def incrementalMinhashPairs(corpusSigs: DataFrame, deltaSigs: DataFrame,
                              idCol: String, k: Int, bands: Int,
                              threshold: Double): DataFrame = {
    val rows = k / bands
    val all = corpusSigs.unionByName(deltaSigs)
    val allB = bandBuckets(all, "sig", idCol, bands, rows)
    val deltaB = bandBuckets(deltaSigs, "sig", idCol, bands, rows)
    val bucketCands = deltaB
      .select(col("band"), col("bucket"), col(idCol).as("__d"))
      .join(allB.select(col("band"), col("bucket"), col(idCol).as("__o")),
        Seq("band", "bucket"))
      .filter(col("__d") =!= col("__o"))
      .select(least(col("__d"), col("__o")).as("idA"),
        greatest(col("__d"), col("__o")).as("idB"))
    // cap-immune identical-signature star path, delta-sided: the group
    // representative is the GLOBAL min id, so pair orientation is stable
    // across batches (equality-join semi filters, never a non-equi BNLJ)
    val deltaIds = deltaSigs.select(col(idCol).as("__di")).distinct()
    val stars = starPairs(all, "sig", idCol)
    val deltaStars = stars
      .join(deltaIds, stars("idA") === deltaIds("__di"), "left_semi")
      .union(stars.join(deltaIds, stars("idB") === deltaIds("__di"), "left_semi"))
    val cands = bucketCands.union(deltaStars).distinct()
    val a = all.select(col(idCol).as("idA"), col("sh").as("shA"))
    val b = all.select(col(idCol).as("idB"), col("sh").as("shB"))
    cands.join(a, "idA").join(b, "idB")
      .withColumn("jaccard", jaccard(col("shA"), col("shB")))
      .filter(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), col("jaccard"))
  }

  /** EXACT n-gram Jaccard pairs at scale via a PREFIX-FILTERED inverted
    * index (the AllPairs/PPJoin principle — Bayardo et al., "Scaling Up All
    * Pairs Similarity Search", WWW'07; Xiao et al., PPJoin, WWW'08).
    *
    * Shingles get a global total order = (document-frequency ASC, shingle
    * ASC); each doc indexes only its PREFIX — the first
    * `|sh| - ceil(t*|sh|) + 1` shingles under that order.
    *
    * THEOREM (completeness): if jaccard(A,B) ≥ t, the smallest shared
    * shingle s = min(A∩B) lies in both prefixes. If s were outside A's
    * prefix, every shared shingle (all ≥ s in the order) would sit among
    * A's last `ceil(t*|A|) - 1` shingles, so |A∩B| ≤ ceil(t*|A|) - 1
    * < t*|A| ≤ t*|A∪B| ≤ |A∩B| — contradiction; symmetrically for B. So a
    * self-join on prefix shingles alone finds every qualifying pair, and
    * exact-jaccard verification on the full shingle arrays makes the output
    * identical to the brute-force cross-join (spec-asserted).
    *
    * This is also the skew fix: a stop-shingle shared by half the corpus
    * has maximal df, sits at the END of the order, and enters a doc's
    * prefix only when the doc consists almost entirely of such shingles —
    * the join key fan-out is pruned hardest exactly where the old inverted
    * index was near-quadratic. */
  // Shingles hash to 64-bit keys immediately: every downstream shuffle —
  // doc-frequency groupBy, prefix self-join, pair distinct — keys on a
  // long instead of an n-gram string (2-3x smaller exchanges), and the
  // per-pair verify is a linear merge over sorted long arrays in a native
  // codegen expression instead of a per-call hash-set `array_intersect`.
  // Exactness is modulo 64-bit hash collisions (~|shingles|^2 / 2^64;
  // the brute-force-equivalence spec would catch one on the fixtures).
  // Materialized once ([[graft.Materialize]]): the frame feeds the posting
  // list AND both sides of the verify join — without it the most expensive
  // per-row work (shingle UDF, hashing, sort) runs three times.
  private def hashedShingleSets(df: DataFrame, idCol: String, textCol: String,
                                n: Int): DataFrame =
    Materialize(df.select(col(idCol).as("id"), shingles(col(textCol), n).as("shs"))
      .select(col("id"),
        sort_array(array_distinct(transform(col("shs"), s => xxhash64(s)))).as("sh")))

  /** Per-doc PREFIX posting list under the global (doc-frequency ASC,
    * shingle ASC) order — the first `|sh| - ceil(t*|sh|) + 1` shingles.
    * Output: (id, h) rows, one per prefix shingle. */
  private def prefixPostings(withSh: DataFrame, threshold: Double): DataFrame = {
    val sh = withSh.select(col("id"), explode(col("sh")).as("h"))
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val ordered = sh.join(dfreq, "h")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("arr"))
    val prefixLen =
      (size(col("arr")) - ceil(lit(threshold) * size(col("arr"))) + 1).cast("int")
    ordered
      .select(col("id"), explode(slice(col("arr"), lit(1), prefixLen)).as("e"))
      .select(col("id"), col("e.h").as("h"))
  }

  /** Exact-jaccard verification of (idA, idB) candidates against the full
    * hashed shingle sets; size-filtered (AllPairs), output deduplicated. */
  private def verifyJaccard(cands: DataFrame, withSh: DataFrame,
                            threshold: Double): DataFrame = {
    val a = withSh.select(col("id").as("idA"), col("sh").as("shA"),
      size(col("sh")).as("nA"))
    val b = withSh.select(col("id").as("idB"), col("sh").as("shB"),
      size(col("sh")).as("nB"))
    cands.join(a, "idA").join(b, "idB")
      // size filter (AllPairs): jaccard >= t forces t*|A| <= |B| (and
      // symmetrically) — prune before the per-pair merge intersect runs
      .filter(col("nB") >= lit(threshold) * col("nA") &&
        col("nA") >= lit(threshold) * col("nB"))
      .withColumn("c",
        graft.expr.VectorExpressions.sorted_long_intersect_size(col("shA"), col("shB")))
      .withColumn("jaccard",
        col("c").cast("double") / (col("nA") + col("nB") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), col("jaccard"))
      .distinct()
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    require(threshold > 0, "threshold must be positive for index completeness")
    val withSh = hashedShingleSets(df, idCol, textCol, n)
    val prefix = prefixPostings(withSh, threshold)
    // Candidates are NOT pre-deduplicated: two docs share few prefix
    // shingles in practice (measured 8% duplicate occurrences at sf0.1),
    // so a distinct here shuffles the whole candidate stream to trim
    // almost nothing — the cheap dedup point is the post-threshold OUTPUT,
    // which is orders of magnitude smaller. Duplicate candidates merely
    // re-verify a pair; they cannot change the result set.
    val cands = prefix.select(col("id").as("idA"), col("h"))
      .join(prefix.select(col("id").as("idB"), col("h")), "h")
      .filter(col("idA") < col("idB"))
      .select("idA", "idB")
    verifyJaccard(cands, withSh, threshold)
  }

  /** INCREMENTAL exact n-gram Jaccard dedup: qualifying pairs where at
    * least one side is in `delta` — i.e. new-vs-corpus and new-vs-new, but
    * NEVER corpus-vs-corpus. This is the production dedup shape: a daily
    * batch against an accumulated 100 TB corpus must not re-derive (or
    * re-join) the corpus against itself, so the candidate join puts the
    * DELTA's prefixes on one side and the full index on the other — its
    * fan-out is linear in the delta for stable shingle statistics, not
    * quadratic in the corpus. Prefix completeness needs one GLOBAL
    * doc-frequency order over corpus+delta (any consistent order works for
    * the theorem; at steady state the df table is maintained
    * incrementally rather than recomputed, which this method models by
    * computing it over the combined frame once).
    *
    * `corpus` and `delta` must have disjoint id spaces. Output pair ids
    * are ordered idA < idB, same contract as [[ngramJaccardPairs]]. */
  def incrementalNgramPairs(corpus: DataFrame, delta: DataFrame,
                            idCol: String, textCol: String,
                            n: Int, threshold: Double): DataFrame =
    // bare (un-checkpointed) set frames: FromSets materializes the
    // combined index ONCE, and its only other read of the delta frame is
    // the id projection, which column-pruning answers without running
    // the shingle UDF — so this wrapper costs exactly one
    // materialization, same as the pre-split implementation
    incrementalNgramPairsFromSets(
      hashedShingles(corpus, idCol, textCol, n),
      hashedShingles(delta, idCol, textCol, n), threshold)

  /** Public per-doc hashed shingle sets — (id, sh: sorted distinct
    * longs), the cacheable unit of the incremental dedup index: sets are
    * pure per-doc functions, so a streaming caller computes each batch's
    * once, checkpoints it, and feeds it back as the standing-corpus side
    * of every later [[incrementalNgramPairsFromSets]] call — the corpus
    * text is then never re-shingled, re-hashed, or re-sorted per batch
    * (only the cheap long-keyed df/prefix derivation re-runs, which the
    * equality gate requires to stay on ONE consistent global order). */
  def hashedShingles(df: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame =
    df.select(col(idCol).as("id"), shingles(col(textCol), n).as("shs"))
      .select(col("id"),
        sort_array(array_distinct(transform(col("shs"), s => xxhash64(s)))).as("sh"))

  /** Persist one ingest batch of the STANDING n-gram dedup index (a
    * [[hashedShingles]] frame) as a plain parquet warehouse table — the
    * batch counterpart of the streaming twin's checkpointed state: each
    * ingest appends its batch's sets once (`overwrite` for a rebuild),
    * and later runs RELOAD the table instead of re-shingling/re-hashing/
    * re-sorting the corpus text. Sets are pure per-doc functions under
    * the fixed hash, so the table never goes stale; per-batch appends
    * accumulate exactly the small files
    * [[graft.sink.Warehouse.compact]] exists for — the index is just
    * another table in the maintenance plan. */
  def saveNgramIndex(index: DataFrame, path: String,
                     mode: String = "append"): Unit =
    index.select(col("id"), col("sh")).write.mode(mode).parquet(path)

  /** Reload the persisted index; feeds
    * [[incrementalNgramPairsFromSets]] directly. */
  def loadNgramIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    spark.read.parquet(path).select(col("id"), col("sh"))

  /** [[incrementalNgramPairs]] over PRE-HASHED shingle-set frames (both
    * shaped like [[hashedShingles]] output, disjoint id spaces) — the
    * steady-state form: the expensive text→shingle→hash→sort pass runs
    * only on the delta, the prefix posting derivation runs over the
    * combined long-keyed sets. Pair semantics are IDENTICAL to the
    * text-input form (the df order is a function of the combined sets
    * alone), so stream-vs-batch equality gates carry over unchanged. */
  def incrementalNgramPairsFromSets(corpusSh: DataFrame, deltaSh: DataFrame,
                                    threshold: Double): DataFrame = {
    require(threshold > 0, "threshold must be positive for index completeness")
    // materialize the COMBINED index once: three consumers (postings +
    // both verify sides) read it, and a bare union of cached slices costs
    // measurably more than one compact frame (measured +2.5 s on
    // q_stream_curate at sf0.1 without this)
    val withSh = Materialize(corpusSh.unionByName(deltaSh))
    val prefix = prefixPostings(withSh, threshold)
    val deltaIds = deltaSh.select(col("id")).distinct()
    val deltaPrefix = prefix.join(deltaIds, Seq("id"), "left_semi")
    // one delta side is enough: a qualifying pair's shared min-order
    // shingle is in BOTH prefixes, so it meets when either member's prefix
    // is the delta side. (new, new) pairs meet twice — the verify output
    // distinct absorbs that.
    val cands = deltaPrefix.select(col("id").as("__d"), col("h"))
      .join(prefix.select(col("id").as("__o"), col("h")), "h")
      .filter(col("__d") =!= col("__o"))
      .select(least(col("__d"), col("__o")).as("idA"),
        greatest(col("__d"), col("__o")).as("idB"))
    verifyJaccard(cands, withSh, threshold)
  }

  /** Exact CONTAINMENT self-join: directed pairs (src_id, dst_id) where
    * |sh(src) ∩ sh(dst)| / |sh(src)| ≥ threshold — "src is (mostly) inside
    * dst". The asymmetric sibling of [[ngramJaccardPairs]]: Jaccard
    * normalizes by the union, so a short quote inside a long page scores
    * near 0; containment normalizes by the SOURCE only, which is the right
    * metric for quote/excerpt detection, boilerplate-inclusion, and
    * "is this small doc subsumed by a bigger one" dedup decisions.
    *
    * Prefix completeness is one-sided: overlap ≥ ceil(t·|A|) forces at
    * least one of A's first |A| − ceil(t·|A|) + 1 shingles (global
    * df-ASC order) to occur ANYWHERE in B — no bound exists on where it
    * falls in B's order, so the probe side uses prefixes but the index
    * side posts every shingle. That is the inherent asymmetry of
    * containment join (cf. Jaccard, where both sides prefix-prune): the
    * candidate volume is bounded by the probe prefixes' doc frequencies,
    * which the rare-shingle-first order keeps small. Verification is the
    * same sorted-long-array merge intersect, with the one available size
    * prune (|B| ≥ ceil(t·|A|), since the overlap can't exceed |B|).
    *
    * Output: (src_id, dst_id, containment), BOTH directions emitted when
    * both qualify (c(A→B) and c(B→A) are different numbers). Exactness is
    * modulo 64-bit shingle-hash collisions, same contract as
    * [[ngramJaccardPairs]]. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double): DataFrame = {
    require(threshold > 0, "threshold must be positive for index completeness")
    val withSh = hashedShingleSets(df, idCol, textCol, n)
    val probe = prefixPostings(withSh, threshold)
    val index = withSh.select(col("id").as("dst_id"), explode(col("sh")).as("h"))
    val cands = probe.select(col("id").as("src_id"), col("h"))
      .join(index, "h")
      .filter(col("src_id") =!= col("dst_id"))
      .select("src_id", "dst_id")
    val a = withSh.select(col("id").as("src_id"), col("sh").as("shA"),
      size(col("sh")).as("nA"))
    val b = withSh.select(col("id").as("dst_id"), col("sh").as("shB"),
      size(col("sh")).as("nB"))
    cands.join(a, "src_id").join(b, "dst_id")
      .filter(col("nB") >= ceil(lit(threshold) * col("nA")))
      .withColumn("c",
        graft.expr.VectorExpressions.sorted_long_intersect_size(col("shA"), col("shB")))
      .withColumn("containment", col("c").cast("double") / col("nA"))
      .filter(col("containment") >= threshold)
      .select(col("src_id"), col("dst_id"), col("containment"))
      .distinct()
  }

  /** Brute-force n-gram Jaccard pairs (reference/oracle path; quadratic —
    * only for validation and small frames). */
  def bruteJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    val withSh = df.select(col(idCol), shingles(col(textCol), n).as("sh"))
    val a = withSh.select(col(idCol).as("idA"), col("sh").as("shA"))
    val b = withSh.select(col(idCol).as("idB"), col("sh").as("shB"))
    a.crossJoin(b).filter(col("idA") < col("idB"))
      .withColumn("jaccard", jaccard(col("shA"), col("shB")))
      .filter(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), col("jaccard"))
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash UDF over word tokens (frequency-weighted). Null token
    * array (null text upstream) hashes to the empty-document signature 0. */
  val simhashUdf = udf { (toks: Seq[String]) =>
    val acc = new Array[Int](64)
    val safe = if (toks == null) Seq.empty[String] else toks
    safe.foreach { t =>
      val h = scala.util.hashing.MurmurHash3.stringHash(t).toLong & 0xffffffffL |
        (scala.util.hashing.MurmurHash3.stringHash(t, 7919).toLong & 0xffffffffL) << 32
      var j = 0
      while (j < 64) { if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1; j += 1 }
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (acc(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  def withSimhash(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("simhash", simhashUdf(tokens(col(textCol))))

  /** SimHash near-dup pairs, verified by exact popcount.
    *
    * Banding: the 64-bit signature splits into 7 disjoint chunks (widths
    * 10,9,9,9,9,9,9). By pigeonhole, a pair with hamming ≤ 6 differs in at
    * most 6 chunks, so it agrees on ≥1 whole chunk — candidate recall is
    * GUARANTEED for `maxHamming ≤ 6` (pairs beyond 6 surface only if they
    * happen to share a chunk, with no guarantee).
    *
    * Skew guard: bucket-join candidates come from a group-collect per
    * (band, bucket) with the same `maxBucket` cap as the MinHash path — a
    * degenerate bucket (vocabulary-collapsed content hashing to one chunk
    * value) is dropped from the JOIN rather than exploding quadratically.
    * The identical-signature mass that dominates such buckets is still
    * recovered: a separate LINEAR pass emits star pairs (min-id
    * representative ↔ member) for every identical-signature group, so
    * exact duplicates (hamming 0) survive the cap regardless of bucket
    * size, and connected components over the star reconstruct the full
    * cluster. What the cap sacrifices is only NON-identical pairs inside
    * over-cap buckets — a documented recall trade, not a silent one.
    *
    * Each member carries its full signature through the collect, so hamming
    * verification is computed straight off the exploded pair (no join back
    * to the corpus), and the `hamming ≤ maxHamming` cut runs BEFORE the
    * pair-dedup shuffle so only verified near-dups are ever exchanged. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int, maxBucket: Int = 1000): DataFrame = {
    val sigs = withSimhash(df.select(col(idCol), col(textCol)), textCol)
      .select(col(idCol), col("simhash"))
    val widths = Seq(10, 9, 9, 9, 9, 9, 9)
    val offsets = widths.scanLeft(0)(_ + _).init
    val chunks = array(widths.indices.map { j =>
      struct(lit(j).as("band"),
        shiftrightunsigned(col("simhash"), offsets(j))
          .bitwiseAND(lit((1L << widths(j)) - 1)).as("bucket"))
    }: _*)
    val bucketed = sigs
      .select(col(idCol).as("id"), col("simhash").as("sig"), explode(chunks).as("bb"))
      .select(col("id"), col("sig"), col("bb.band"), col("bb.bucket"))
    val grouped = bucketed.groupBy("band", "bucket")
      .agg(collect_list(struct(col("id"), col("sig"))).as("members"))
      .filter(size(col("members")) > 1 && size(col("members")) <= maxBucket)
    val joined = grouped
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("idA"), col("b.id").as("idB"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    // linear exact-duplicate recovery: star pairs within identical-sig
    // groups (hamming 0 by construction) — immune to the bucket cap
    val stars = starPairs(sigs, "simhash", idCol).withColumn("hamming", lit(0))
    joined.union(stars).distinct()
  }

  // ------------------------------------------- components / survivor pick

  /** Connected components over an undirected pair list by min-label
    * propagation WITH pointer jumping: every node starts labeled with its
    * own id; each round a node adopts the minimum label among itself and
    * its neighbors (one hop) and then shortcuts through its current label's
    * label (`comp ← min(comp, comp(comp))`). The shortcut roughly halves
    * the remaining distance to the component minimum each round, so
    * convergence takes O(log diameter) rounds — `maxIter = 25` covers
    * diameters beyond 2^25, where plain propagation (one hop per round)
    * would silently truncate a 25-node chain at a 20-round cap.
    *
    * Scale shape: two shuffle joins + one groupBy per round. Labels only
    * ever decrease, so an unchanged label SUM certifies the fixpoint
    * without a change-count join (decimal(38,0): id sums can exceed Long
    * at corpus scale); if the cap is somehow hit without that certificate,
    * the operator FAILS rather than returning partial components. Each
    * round's frame is eagerly materialized ([[graft.Materialize]]) — the
    * plan references the previous round twice, so without lineage
    * truncation analysis cost doubles per round — and each superseded
    * round is released.
    *
    * Adaptive: when the edge list is driver-bounded-small
    * (≤ `maxDriverEdges`), a collected union-find replaces the loop — same
    * output, one job instead of rounds (see the inline note). The
    * iterative path is the default for anything larger.
    *
    * Returns (id, component) for every node; singletons are their own
    * component. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame, idCol: String,
                          maxIter: Int = 25,
                          // 2^20 pairs = 16 MB of longs — the same order as a
                          // sanctioned broadcast build side, and far cheaper
                          // than the ~10 distributed pointer-jumping rounds
                          // (each 2 joins + checkpoint + convergence probe) it
                          // replaces: the r18 video near-dup graph (176k
                          // pairs at sf0.1) sat just above the old 2^16 cap
                          // and paid ~90 quarter-second jobs for a loop a
                          // driver union-find finishes in milliseconds. The
                          // distributed path stays the fallback for anything
                          // larger.
                          maxDriverEdges: Long = 1L << 20): DataFrame = {
    // Materialize the pair list ONCE before symmetrizing: the union reads
    // it twice, and the upstream pair derivation (an LSH or set-similarity
    // join) is far too expensive to run once per direction; every later
    // read (collect, per-round joins) scans the materialized blocks.
    val p = Materialize(pairs.select(col("idA"), col("idB")))
    // Failure-path cleanup (the persist-era `finally unpersist` equivalent):
    // if anything below throws — a mid-loop job failure, the convergence
    // require — the pair checkpoint and the newest round's label checkpoint
    // are dead weight nobody will ever read, so release them before
    // rethrowing.
    var curLabels: DataFrame = null
    try {
    // ADAPTIVE fast path: near-dup pair graphs are typically minuscule
    // relative to the corpus (the corpus is mostly isolated nodes). When
    // the edge list fits the same driver-memory budget as the other
    // sanctioned bounded collects (≤ maxDriverEdges pairs ≈ 16 MB of
    // longs), a driver union-find replaces 4-6 distributed rounds (each
    // 2 joins + a groupBy + a checkpoint) with one collect and one
    // broadcast-joinable mapping — identical output, spec-asserted. The
    // iterative path below remains the default for anything larger.
    // (long-keyed frames only — other id types always take the generic
    // iterative path)
    //
    // ONE capped collect decides emptiness AND the fast path (r19, job-
    // count reduction): the former count()-then-collect() pair paid two
    // driver round-trips per CC call; `limit(cap+1).collect()` over the
    // already-materialized pair checkpoint is bounded by the same 16 MB
    // budget regardless of input cardinality, tells us whether the graph
    // is empty / driver-small / large, and IS the edge list in the small
    // case. The iterative path never needed the exact count.
    val longKeyed = p.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val cap = math.min(maxDriverEdges, (Int.MaxValue - 2).toLong).toInt
    val head: Array[org.apache.spark.sql.Row] =
      if (longKeyed) p.limit(cap + 1).collect()
      else if (p.isEmpty) Array.empty else null
    // No edges ⇒ every node is its own singleton component — skip the
    // loop (an empty label frame would also null the convergence sum).
    if (head != null && head.isEmpty) {
      Materialize.release(p)
      return nodes.select(col(idCol).as("id")).distinct()
        .withColumn("component", col("id"))
    }
    if (head != null && head.length <= cap) {
      val edgeArr = head.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      edgeArr.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union by MIN root so labels match the min-label fixpoint
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val touched = edgeArr.flatMap(e => Seq(e._1, e._2)).distinct
      val mapping = touched.map(id => (id, find(id)))
      val spark = nodes.sparkSession
      import spark.implicits._
      val labelMap = mapping.toSeq.toDF("id", "component")
      Materialize.release(p) // labelMap is driver data — p is dead from here
      // Same row-set contract as the iterative path: ids appearing only in
      // `pairs` (not in `nodes`) still get a labeled row — union them in
      // before the mapping join so the output is identical on either side
      // of the maxDriverEdges threshold.
      return nodes.select(col(idCol).as("id")).distinct()
        .unionByName(labelMap.select(col("id"))).distinct()
        .join(broadcast(labelMap.select(col("id"), col("component").as("__c"))),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("__c"), col("id")).as("component"))
    }
    val edges = p.select(col("idA").as("src"), col("idB").as("dst"))
      .union(p.select(col("idB").as("src"), col("idA").as("dst")))
    // Lineage truncation per round: each round releases its predecessor
    // once the new round is materialized, so only the FINAL round's
    // checkpoint outlives the call (the returned frame reads it lazily).
    // Iterate ONLY over the edge-induced subgraph: a node with no incident
    // edge is its own singleton component by definition and never changes
    // label, so it has no business inside the loop. At corpus scale the
    // overwhelming majority of documents are isolated — the iteration then
    // runs on ~2·|pairs| rows instead of |corpus| rows, and the full node
    // set joins back in ONCE at the end as label = id.
    val allNodes = nodes.select(col(idCol).as("id")).distinct()
    var labels = Materialize(
      p.select(col("idA").as("id")).union(p.select(col("idB").as("id")))
        .distinct().withColumn("component", col("id")))
    curLabels = labels
    // Null-safe: sum over an empty frame is null (cannot happen after the
    // nPairs guard, but the comparison must not depend on that invariant).
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0))
    def sameSum(a: Option[java.math.BigDecimal], b: Option[java.math.BigDecimal]): Boolean =
      (a, b) match {
        case (Some(x), Some(y)) => x.compareTo(y) == 0
        case (None, None) => true
        case _ => false
      }
    var prevSum: Option[java.math.BigDecimal] = null // first round always proceeds
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // pointer jumping FIRST, over the checkpointed labels: following the
      // label's own label roughly halves the remaining distance to the
      // component minimum, and self-joining a checkpointed scan (vs the
      // union below, which trips Catalyst's constraint rewrite) is safe
      val jumped = labels
        .join(labels.select(col("id").as("__yid"), col("component").as("__ycomp")),
          col("component") === col("__yid"), "left")
        .select(col("id"), least(col("component"), col("__ycomp")).as("component"))
      // messages read the PRE-jump labels so the jump join executes exactly
      // once per round (jumped is referenced only by the union); propagating
      // the un-jumped label costs at most one extra round, not a second
      // full-label-set join every round
      val msgs = edges.alias("e")
        .join(labels.alias("l"), col("e.src") === col("l.id"))
        .select(col("e.dst").as("id"), col("l.component").as("component"))
      // ONE eager checkpoint per round: truncates lineage (the plan
      // references the round's frame twice, so analysis cost would double
      // per round) and makes the convergence-sum action a cheap scan
      val prev = labels
      val next = Materialize(jumped.select("id", "component").union(msgs)
        .groupBy("id").agg(min("component").as("component")))
      val s = labelSum(next)
      labels = next
      curLabels = next
      // `next` is materialized (checkpoint is eager) — the previous
      // round is now dead weight
      Materialize.release(prev)
      converged = prevSum != null && sameSum(s, prevSum)
      prevSum = s
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds — " +
        "component structure would be incomplete; raise maxIter")
    Materialize.release(p) // final labels are checkpointed — the edge list is dead
    // Singletons rejoin here: every node not touched by an edge keeps its
    // own id as component. Anti-join on the (small) touched-label set.
    labels.union(
      allNodes.join(labels.select(col("id")), Seq("id"), "left_anti")
        .withColumn("component", col("id")))
    } catch {
      case t: Throwable =>
        Materialize.release(p)
        Option(curLabels).foreach(Materialize.release)
        throw t
    }
  }

  /** Near-dup corpus dedup end-to-end: keep ONE survivor (the min-id
    * member) per connected component of the pair graph; rows untouched by
    * any pair survive as their own singleton component. */
  def nearDupSurvivors(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(df.select(col(idCol)), pairs, idCol)
    df.alias("d")
      .join(cc.alias("c"), col(s"d.$idCol") === col("c.id"))
      .filter(col("c.component") === col("c.id"))
      .select(df.columns.toIndexedSeq.map(c => col(s"d.$c")): _*)
  }

  // ------------------------------------------------------ embedding near-dup

  /** Embedding-cosine near-duplicate pairs (idA < idB, sim ≥ threshold).
    * Delegates candidate generation to the similarity module's hyperplane-LSH
    * buckets when `exact=false`; `exact=true` is the quadratic oracle path. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, exact: Boolean): DataFrame = {
    val base = df.select(col(idCol), col(vecCol).cast("array<float>").as("v"))
      .withColumn("norm", Similarity.l2norm(col("v")))
    val a = base.select(col(idCol).as("idA"), col("v").as("vA"), col("norm").as("nA"))
    val b = base.select(col(idCol).as("idB"), col("v").as("vB"), col("norm").as("nB"))
    val joined =
      // explicit broadcast on the exact path: bounded-set-only by
      // contract, and without the hint a stats-less input (e.g. a
      // checkpointed pipeline stage, `Scan ExistingRDD`) planned a
      // SHUFFLED CartesianProduct instead of the intended broadcast
      // nested loop — the KMV-class regression PlanAuditSpec now catches
      if (exact) a.crossJoin(broadcast(b))
      else {
        val sigA = Similarity.withHyperplaneBands(a, "vA", "idA")
        val sigB = Similarity.withHyperplaneBands(b, "vB", "idB")
        sigA.join(sigB, Seq("band", "bucket"))
          .select("idA", "vA", "nA", "idB", "vB", "nB").distinct()
      }
    joined.filter(col("idA") < col("idB"))
      .withColumn("cosine", Similarity.dot(col("vA"), col("vB")) / (col("nA") * col("nB")))
      .filter(col("cosine") >= threshold)
      .select(col("idA"), col("idB"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", arXiv 2023):
    * cluster the embedding space with k-means, compare vectors only WITHIN
    * a cell, connect verified near-dup pairs into duplicate clusters, keep
    * the min-id member per cluster. The candidate volume is Σ|cell|² — set
    * by cluster granularity k, independent of the similarity threshold —
    * which is what makes semantic dedup tractable at corpus scale where
    * all-pairs cosine is hopeless.
    *
    * Output: (idCol, component, survivor) for EVERY input row — the same
    * shape as [[connectedComponents]]-based dedup (`q_dedup_cc`), so
    * callers filter `survivor` to curate or keep the full frame to audit
    * cluster structure.
    *
    * `nprobe = 1` is the strict SemDeDup shape (each vector lives in
    * exactly one cell); `nprobe > 1` recovers near-boundary pairs at
    * proportional candidate cost. `exact = true` swaps cell-bounded
    * candidates for quadratic all-pairs — the bounded-slice oracle path
    * only. Pair verification is always exact cosine, so approximation
    * only ever MISSES pairs (splits a semantic cluster), never invents
    * them — the same one-sided contract as the other near-dup operators.
    *
    * SCALE RULE (measured, round-13 audit): at FIXED k the candidate
    * volume Σ|cell|² is quadratic in corpus size — 5× data grew the
    * verify shuffle ~25× (plus CC growth on the denser pair graph). k
    * must grow with the corpus to hold E|cell| constant, which restores
    * near-linear growth at the price of a recall profile that changes
    * with corpus size (finer cells split more boundary pairs — raise
    * nprobe to compensate). The oracled fixtures pin k explicitly for
    * determinism. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, k: Int = 16, nprobe: Int = 1,
                    exact: Boolean = false): DataFrame = {
    val pairs =
      if (exact) embeddingNearDupPairs(df, idCol, vecCol, threshold, exact = true)
      else ivfNearDupPairs(df, idCol, vecCol, threshold, k, nprobe)
    connectedComponents(df.select(col(idCol)), pairs.select(col("idA"), col("idB")),
        idCol)
      .select(col("id").as(idCol),
        col("component").cast("long").as("component"),
        (col("component") === col("id")).as("survivor"))
  }

  /** IVF-cell-bounded embedding near-dup pairs — the honest scale path at
    * LOOSE thresholds: hyperplane banding's recall collapses as the
    * threshold drops (per-bit match probability → 1/2), while cell-bounded
    * candidates are Σ|cell|² — set by the cluster granularity k, not by
    * the threshold. Each vector probes its `nprobe` nearest centroids; a
    * pair is a candidate when the probe sets intersect (so near-boundary
    * neighbors in adjacent cells are still found); exact cosine verifies.
    * Candidates deduplicate on the pair id before the verify join-back.
    * Recall < 1 (pairs split across non-probed cells are missed) —
    * measured against the exact oracle in OperatorsSpec. */
  def ivfNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, k: Int,
                      nprobe: Int): DataFrame = {
    val model = IvfIndex.train(df, idCol, vecCol, k = k)
    // feeds probes and both verify sides
    val base = Materialize(
      df.select(col(idCol), col(vecCol).cast("array<float>").as("v"))
        .withColumn("norm", Similarity.l2norm(col("v"))))
    val probed = IvfIndex.withProbes(base, "v", model, nprobe, out = "cell")
      .select(col("cell"), col(idCol))
    val cands = probed.select(col("cell"), col(idCol).as("idA"))
      .join(probed.select(col("cell"), col(idCol).as("idB")), "cell")
      .filter(col("idA") < col("idB"))
      .select("idA", "idB").distinct()
    val a = base.select(col(idCol).as("idA"), col("v").as("vA"), col("norm").as("nA"))
    val b = base.select(col(idCol).as("idB"), col("v").as("vB"), col("norm").as("nB"))
    cands.join(a, "idA").join(b, "idB")
      .withColumn("cosine",
        Similarity.dot(col("vA"), col("vB")) / (col("nA") * col("nB")))
      .filter(col("cosine") >= threshold)
      .select(col("idA"), col("idB"), round(col("cosine"), 6).as("cosine"))
  }
}
