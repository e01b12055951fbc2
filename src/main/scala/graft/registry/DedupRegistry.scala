package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{EventTime, GraftFunctions}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingIngest
import graft.operators.Skew.spread
import CrawlRegistry.headFixtureHtml
import MultimodalRegistry.phashCteSql
import SimilarityRegistry.builtinCosine
import TrainPrepRegistry.corpusLadderCoreCtes

/** Dedup query/oracle registry — one slice of the driver contract
  * surface, split out of the former 15k-line SparkEntry monolith so a
  * duplicated query-name literal can never silently shadow a pair out
  * of the sweep again (the round-17 q_text_chunks incident).
  * Each query's lambda, fixtures and oracle text live here; a helper
  * that a streaming twin or another family also uses is
  * `private[registry]` in its batch query's registry. Composed — with
  * a cross-registry duplicate guard — in [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]]. */
private[graft] object DedupRegistry extends QueryRegistry {

  /** Entity-resolution fixture: parts < 300 as clean records plus one
    * deliberately corrupted twin each (id + 100000) — one character
    * replaced by '#' at a key-derived position that alternates between
    * the first three and the last three characters, so BOTH blocking
    * passes get exercised while the two-pass completeness bound
    * (EntityResolution object doc) provably covers every planted edit:
    * the corruption never lands on the one central position where the
    * length-7 windows overlap. The oracle replays the same synthesis. */
  private[registry] def erRecords(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").filter(col("p_partkey") < 300)
      .select(col("p_partkey"), col("p_name"))
    val pos = when(pmod(col("p_partkey"), lit(2)) === 0,
        lit(1) + pmod(col("p_partkey"), lit(3)))
      .otherwise(length(col("p_name")) - pmod(col("p_partkey"), lit(3)))
      .cast("int")
    val clean = p.select(col("p_partkey").cast("long").as("rec_id"),
      col("p_name").as("name"))
    val dirty = p.select((col("p_partkey") + 100000L).cast("long").as("rec_id"),
      concat(col("p_name").substr(lit(1), pos - 1), lit("#"),
        col("p_name").substr(pos + 1, lit(64))).as("name"))
    clean.unionAll(dirty)
  }

  // ---- independent recompute paths for the *_verify property queries ----
  // Each approximate query (q_dedup_minhash/_simhash/_embedding,
  // q_sim_topk_ivf) has a sibling that re-derives every emitted pair's
  // EXACT similarity through a different implementation (pure built-in
  // expression HOFs, no graft UDF/expression) and emits only violations —
  // candidates are approximate, the verification property is exact. The
  // DuckDB oracle for such a query is the same-schema EMPTY relation, so a
  // single below-threshold or mis-scored emitted pair turns the driver's
  // row-count compare red.
  /** Tokenization for the jaccard recompute — same rule as
    * [[Dedup.tokens]]: lower/trim/whitespace split. Callers must BIND this
    * to a column (`.withColumn`) before feeding [[builtinNgramJaccard]]:
    * a HOF lambda over the raw split expression re-tokenizes the text for
    * every element access — the O(tokens²) trap measured and fixed in
    * bigramLogProb (12.9s → 1.8s). The alias survives CollapseProject
    * because it is referenced more than once.
    *
    * The empty-token filter inside [[Dedup.cleanTokens]] is load-bearing
    * here: without it, a doc with leading/trailing tab/newline grows a
    * stray "" token, shifts every n-gram, and raises a FALSE verify
    * violation (see cleanTokens' scaladoc for the Spark-vs-Java split
    * semantics). */
  private def builtinTokens(text: Column): Column = Dedup.cleanTokens(text)

  /** Word n-gram jaccard over BOUND token-array columns with built-ins
    * only (sequence/slice/array_join/array_distinct/array_intersect/
    * array_union) — independent of [[Dedup.shingles]]'s UDF and of the
    * hashed-set verify path, but the same semantics: docs shorter than n
    * collapse to one whole-text shingle. */
  private def builtinNgramJaccard(toksA: Column, toksB: Column, n: Int): Column = {
    def grams(toks: Column): Column =
      when(size(toks) < n, array(array_join(toks, " ")))
        .otherwise(array_distinct(transform(
          sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " "))))
    val (ga, gb) = (grams(toksA), grams(toksB))
    size(array_intersect(ga, gb)).cast("double") /
      size(array_union(ga, gb)).cast("double")
  }

  /** Brute-force entity resolution replayed in SQL — all-pairs edit
    * distance over the synthesized records, then min-label propagation
    * to a fixpoint. Shared VERBATIM by the batch query and its
    * streaming twin (stream ≡ batch exactly). */
  private[registry] lazy val erEntitiesOracleSql: String =
    """WITH RECURSIVE recs AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS rec_id, p_name AS name
      |  FROM part WHERE p_partkey < 300
      |  UNION ALL
      |  SELECT CAST(p_partkey + 100000 AS BIGINT),
      |    substr(p_name, 1, pos - 1) || '#' || substr(p_name, pos + 1)
      |  FROM (SELECT p_partkey, p_name,
      |      CASE WHEN p_partkey % 2 = 0 THEN 1 + (p_partkey % 3)
      |        ELSE length(p_name) - (p_partkey % 3) END AS pos
      |    FROM part WHERE p_partkey < 300) c),
      |pairs AS (
      |  SELECT a.rec_id AS idA, b.rec_id AS idB
      |  FROM recs a JOIN recs b ON a.rec_id < b.rec_id
      |  WHERE levenshtein(a.name, b.name) <= 1),
      |edges AS (SELECT idA AS src, idB AS dst FROM pairs
      |  UNION ALL SELECT idB AS src, idA AS dst FROM pairs),
      |cc(id, label) AS (
      |  SELECT rec_id, rec_id FROM recs
      |  UNION
      |  SELECT e.dst, cc.label FROM edges e JOIN cc ON cc.id = e.src
      |)
      |SELECT id AS rec_id, CAST(MIN(label) AS BIGINT) AS entity_id,
      |  (MIN(label) = id) AS canonical
      |FROM cc GROUP BY id ORDER BY rec_id""".stripMargin

  /** Multimodal-curation oracle: the full text ladder
    * ([[corpusLadderCoreCtes]]) + the pHash synthesis
    * ([[phashCteSql]]'s body) + the image near-dup stage over the
    * ladder's survivors (brute hamming pairs — the oracle's quadratic
    * sibling of the banded join) + the budget window over what remains.
    * `lazy`: [[phashCteSql]] is declared later in this object, and a
    * strict val here would read it as null during object init. */
  private lazy val curateMultimodalOracleSql: String =
    corpusLadderCoreCtes + ",\n" +
      phashCteSql.stripPrefix("WITH ") + """,
        |ihs AS (
        |  SELECT p.media_id AS doc_id, p.phash
        |  FROM ph p JOIN ssurv s ON s.doc_id = p.media_id),
        |ipairs AS (
        |  SELECT a.doc_id AS idA, b.doc_id AS idB FROM ihs a JOIN ihs b
        |  ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 6),
        |iedges AS (SELECT idA AS src, idB AS dst FROM ipairs
        |  UNION ALL SELECT idB, idA FROM ipairs),
        |icc(id, label) AS (
        |  SELECT doc_id, doc_id FROM ssurv
        |  UNION
        |  SELECT e.dst, icc.label FROM iedges e JOIN icc ON icc.id = e.src),
        |isurv AS (
        |  SELECT x.doc_id, x.n_tok, x.n_removed FROM ssurv x
        |  JOIN (SELECT id, MIN(label) AS lab FROM icc GROUP BY id) m2
        |    ON m2.id = x.doc_id AND m2.lab = x.doc_id),
        |icum AS (SELECT doc_id, n_tok, n_removed,
        |  SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM isurv)
        |SELECT doc_id, n_tok, n_removed FROM icum WHERE cum <= 10000
        |ORDER BY doc_id""".stripMargin

  private val substringSpansOracleSql: String =
    """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |grams0 AS (
        |  SELECT doc_id, tk, UNNEST(range(1, len(tk) - 8 + 2)) AS i
        |  FROM toks WHERE len(tk) >= 8),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+7], ' ') AS gram FROM grams0),
        |rep AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2),
        |marked AS (SELECT g.doc_id, g.pos FROM grams g JOIN rep USING (gram)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    SUM(CASE WHEN prev IS NULL OR pos > prev + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM (SELECT doc_id, pos, LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM marked) z)
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_tok,
        |  CAST(MAX(pos) + 8 - 1 AS BIGINT) AS end_tok,
        |  CAST(MAX(pos) + 8 - MIN(pos) AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, start_tok""".stripMargin

  /** Delta-touching ngram-jaccard pair slice — shared verbatim by the
    * in-memory incremental path (q_dedup_incremental) and the
    * persisted-index twin (q_dedup_incremental_indexed). */
  private val incrementalNgramOracleSql: String =
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents),
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
      |  GROUP BY 1, 2)
      |SELECT idA, idB, ROUND(CAST(c AS DOUBLE) / (na.n_sh + nb.n_sh - c), 6) AS jaccard
      |FROM common
      |JOIN sizes na ON na.doc_id = idA
      |JOIN sizes nb ON nb.doc_id = idB
      |WHERE CAST(c AS DOUBLE) / (na.n_sh + nb.n_sh - c) >= 0.2
      |  AND (idA % 10 = 9 OR idB % 10 = 9)
      |ORDER BY idA, idB""".stripMargin

  /** Exact trigram-jaccard pairs over the WHOLE corpus (threshold 0.2) —
    * q_dedup_ngram's oracle, shared verbatim by q_dedup_minhash (whose
    * banded pair set provably equals it on this fixture). */
  private val incrementalNgramAllPairsSql: String =
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents),
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
      |  GROUP BY 1, 2)
      |SELECT idA, idB, ROUND(CAST(c AS DOUBLE) / (na.n_sh + nb.n_sh - c), 6) AS jaccard
      |FROM common
      |JOIN sizes na ON na.doc_id = idA
      |JOIN sizes nb ON nb.doc_id = idB
      |WHERE CAST(c AS DOUBLE) / (na.n_sh + nb.n_sh - c) >= 0.2
      |ORDER BY idA, idB""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- training-data-pipeline extensions ----
    "q_dedup_exact" -> ((s, dir) => {
      val key5 = array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 5), " ").as("key5")
      Dedup.exactGroups(t(s, dir, "documents").select(key5, col("doc_id")),
        Seq("key5"), "doc_id")
        .orderBy(col("key5"))
    }),


    // URL + content-hash composite dedup — the CommonCrawl-style first
    // pass (URL → exact → fuzzy → semantic). The fixture has no URL
    // column, so a deterministic pseudo-URL is derived from (source,
    // doc_id, lang) IDENTICALLY on both sides — scheme + www + a docs
    // path + a tracking query param, so the normalizer's strip rules are
    // all exercised by the oracle.
    "q_dedup_url" -> ((s, dir) =>
      Dedup.urlContentDedup(
        t(s, dir, "documents").withColumn("url",
          concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
            (col("doc_id") % 25).cast("string"), lit("/?utm_source="), col("lang"))),
        "url", "text", "doc_id")
        .orderBy(col("url_key"), col("content_md5"))),


    // Canonical keys FEEDING url dedup — the collapse proof: every doc
    // is exploded into all EIGHT messy spellings of its resource (the
    // q_url_canonicalize fixture shapes: case-shifted authority, :443,
    // fragment, dot-segments, over-percent-encoding, tracking params +
    // reshuffled query, duplicate slashes), and urlContentDedup's
    // canonicalize-then-normalize key must pull each spelling family
    // back to ONE survivor (n_dups = 8 per (doc, content) group; the
    // raw normalizer alone leaves the :443 / dot-segment / %6F /
    // double-slash spellings as 4 phantom "documents" each). The oracle
    // never re-implements canonicalization: the collapse is BY
    // CONSTRUCTION, so it groups the clean (source, slot, md5) key it
    // built the mess from.
    "q_dedup_url_canon" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val id = col("doc_id").cast("string")
      val slot = (col("doc_id") % 25).cast("string")
      val host = concat(lit("www."), col("source"), lit(".example.com"))
      val canon = concat(lit("https://"), host, lit("/docs/"), slot,
        lit("/?id="), id, lit("&lang="), col("lang"))
      val qs = concat(lit("?id="), id, lit("&lang="), col("lang"))
      val variants = array(
        canon,
        concat(lit("HTTPS://WWW."), upper(col("source")),
          lit(".EXAMPLE.COM/docs/"), slot, lit("/"), qs),
        concat(lit("https://"), host, lit(":443/docs/"), slot, lit("/"), qs),
        concat(canon, lit("#section-2")),
        concat(lit("https://"), host, lit("/docs/../docs/"), slot,
          lit("/./"), qs),
        concat(lit("https://"), host, lit("/d%6Fcs/"), slot,
          lit("/?id="), id, lit("&l%61ng="), col("lang")),
        concat(lit("https://"), host, lit("/docs/"), slot,
          lit("/?utm_source=news&lang="), col("lang"), lit("&id="), id,
          lit("&fbclid=abc123")),
        concat(lit("https://"), host, lit("//docs//"), slot, lit("//"), qs))
      val rows = docs.select(col("doc_id"), col("text"),
          posexplode(variants).as(Seq("v", "url")))
        .select((col("doc_id") * 8 + col("v")).as("row_id"), col("url"),
          col("text"))
      Dedup.urlContentDedup(rows, "url", "text", "row_id")
        .orderBy(col("url_key"), col("content_md5"))
    }),


    // Exact repeated-substring dedup (Lee et al. ACL'22): maximal >=8-token
    // spans occurring >=2x anywhere in the corpus, via anchor k-grams +
    // island merge — no suffix array, no pairwise doc comparison; the
    // oracle re-derives grams, occurrence counts, and the interval merge
    // in pure SQL.
    "q_dedup_substring" -> ((s, dir) =>
      operators.SubstringDedup.repeatedSpans(
        t(s, dir, "documents"), "doc_id", "text", k = 8)
        .orderBy(col("doc_id"), col("start_tok"))),


    // The at-scale variant of the same operator: anchors shuffle as TWO
    // xxhash64 salts (16 bytes/anchor) instead of the k-token gram string.
    // A false span needs a simultaneous collision in both salts (~2^-128
    // per gram pair), so the output is byte-identical to the string path
    // — it carries the SAME oracle, and the bench line measures what the
    // 100-TB shuffle actually pays.
    "q_dedup_substring_hashed" -> ((s, dir) =>
      operators.SubstringDedup.repeatedSpans(
        t(s, dir, "documents"), "doc_id", "text", k = 8, hashKeys = true)
        .orderBy(col("doc_id"), col("start_tok"))),


    // The removal half: gram-level canonical election (each repeated
    // k-gram keeps its (doc,pos)-minimal occurrence), positions covered
    // only by redundant windows dropped; the oracle rebuilds the cleaned
    // text per doc with nested list lambdas.
    "q_dedup_substring_clean" -> ((s, dir) =>
      operators.SubstringDedup.removeRepeatedSpans(
        t(s, dir, "documents"), "doc_id", "text", k = 8)
        .orderBy(col("doc_id"))),


    // CANONICAL-LINK dedup: pages grouped by their author-declared
    // canonical target (resolved against the page URL, canonicalized;
    // pages without one key on themselves) — the dedup signal that
    // collapses print views, session variants, and mirrors BEFORE any
    // content hashing runs. Even docs share /docs/c<id%5> per source,
    // odds stay singletons; survivor = min doc_id.
    "q_canonical_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val url = concat(lit("https://www."), col("source"),
        lit(".example.com/docs/"), col("doc_id").cast("string"))
      docs.select(col("doc_id"), url.as("url"),
          graft.expr.HtmlExpressions.html_head(headFixtureHtml)
            .getField("canonical").as("canonical"))
        .select(col("doc_id"),
          graft.expr.UrlExpressions.url_canonicalize(
            graft.expr.UrlExpressions.url_resolve(col("url"),
              col("canonical"))).as("canon_key"))
        .groupBy(col("canon_key"))
        .agg(min(col("doc_id")).as("survivor"),
          count(lit(1)).as("n_members"))
        .orderBy(col("canon_key"))
    }),


    // LINE-level corpus dedup (the C4 boilerplate rule): documents
    // re-lined 8 words per row plus two per-source boilerplate lines
    // (subscribe prompt, copyright footer) that repeat across every doc
    // of the source; lines in ≥ 5 distinct docs drop, content lines —
    // including those shared by planted near-dup pairs — survive, and
    // each document reassembles in order. The oracle replays the lining
    // rule, the distinct-doc frequencies, and the rebuild.
    "q_line_dedup" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      // the word array is HOISTED out of the per-line-group lambda —
      // referenced inside it, the O(W) split re-evaluates per group,
      // O(W²) per document (the q_text_sentences defect, same fix)
      val words = col("__w")
      val contentLines = transform(
        sequence(lit(0), ((size(words) + lit(7)) / lit(8)).cast("int") - 1),
        i => array_join(slice(words, i * 8 + 1, lit(8)), " "))
      val bp1 = concat(lit("subscribe to "), col("source"),
        lit(" updates today"))
      val bp2 = concat(lit("copyright 2026 "), col("source"),
        lit(" all rights reserved"))
      val lined = docs
        .withColumn("__w", filter(split(col("text"), " "), w => length(w) > 0))
        .select(col("doc_id"),
          array_join(concat(contentLines, array(bp1, bp2)), "\n").as("text"))
      Dedup.lineDedup(lined, "doc_id", "text", maxDocFreq = 5)
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          col("clean_text"))
        .orderBy(col("doc_id"))
    }),


    // Entity resolution, step 1 — matched pairs. The oracle is
    // BRUTE-FORCE all-pairs edit distance over the same records, so the
    // row match gates the two-pass blocking's RECALL (a candidate the
    // windows fail to co-locate breaks the compare), exactly the
    // q_image_phash_pairs gating style; the planted corruptions keep
    // every true edit inside the provably-complete region.
    "q_er_match" -> ((s, dir) =>
      operators.EntityResolution.blockedMatches(erRecords(s, dir),
          "rec_id", "name", maxDist = 1)
        .orderBy(col("idA"), col("idB"))),


    // Step 2 — matched pairs resolved into entities by distributed
    // connected components; entity id = min record id of the cluster.
    "q_er_entities" -> ((s, dir) => {
      val recs = erRecords(s, dir)
      operators.EntityResolution.entities(recs, "rec_id",
          operators.EntityResolution.blockedMatches(recs, "rec_id", "name",
            maxDist = 1))
        .select(col("id").as("rec_id"), col("entity_id"), col("canonical"))
        .orderBy(col("rec_id"))
    }),


    // Unicode-normalized EXACT dedup — the canonicalizer composed into
    // the dedup family: mixed precomposed/decomposed/case spellings of
    // the same logical key (synthesized in pairs) collide only after
    // NFC + fold, and the min-id survivor election runs on the
    // normalized key. One combining shuffle on the folded key.
    "q_dedup_unicode" -> ((s, dir) => {
      val variants = array(
        lit("Caf\u00e9"), lit("Cafe\u0301"), // precomposed vs decomposed
        lit("N\u00d6EL"), lit("no\u0308el"), // case + composition
        lit("\u00c9cole"), lit("E\u0301cole"),
        lit("plain"), lit("PLAIN"))
      val raw = concat(
        element_at(variants, (pmod(col("doc_id"), lit(8)) + 1).cast("int")),
        lit(" doc "), expr("cast(doc_id div 8 as string)"))
      val keyed = t(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw"),
          TextAnalysis.normalizeUnicode(raw, lower = true, stripMarks = true)
            .as("key"))
      val survivors = keyed.groupBy(col("key"))
        .agg(min(col("doc_id")).as("canonical"), count(lit(1)).as("group_n"))
      keyed.join(survivors, "key")
        .select(col("doc_id"), col("key"), col("canonical"), col("group_n"),
          (col("doc_id") === col("canonical")).as("survivor"))
        .orderBy(col("doc_id"))
    }),


    // Chunk-level exact dedup: boilerplate chunks duplicated across
    // otherwise-distinct documents, with the canonical first owner.
    "q_dedup_chunks" -> ((s, dir) =>
      Dedup.chunkDups(t(s, dir, "documents"), "doc_id", "text",
        chunkChars = 200, overlap = 50, minCount = 2)
        .orderBy(col("owner_doc"), col("owner_chunk"), col("chunk"))),


    // Winnowed fingerprints (Schleimer et al., SIGMOD'03): narrow UDF +
    // explode, zero shuffle; the oracle recomputes the 31-fold poly hash,
    // the w=4 sliding window minimum, and the rightmost-tie selection in
    // pure SQL (selected positions are provably non-decreasing, so the
    // operator's dedupe-vs-last equals the oracle's DISTINCT).
    "q_winnow_fp" -> ((s, dir) =>
      operators.Winnowing.fingerprints(t(s, dir, "documents"), "doc_id", "text",
        k = 4, w = 4)
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("fp_hash"))
        .orderBy(col("doc_id"), col("pos"))),


    // Passage-level overlap: docs sharing >=2 winnowed fingerprints after a
    // doc-frequency cap on ubiquitous fingerprints (the stop-key skew bound)
    // — catches copied passages whole-document jaccard misses.
    "q_winnow_overlap" -> ((s, dir) =>
      operators.Winnowing.passageOverlapPairs(t(s, dir, "documents"),
        "doc_id", "text", k = 4, w = 4, minShared = 2, maxDocFreq = 50)
        .orderBy(col("idA"), col("idB"))),


    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = 0.2)
        .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("idA"), col("idB"))),


    // Verification-property sibling: every emitted minhash pair, re-scored
    // from RAW TEXT through the built-in-expression jaccard (no shingle
    // UDF, no hashed sets), must score >= threshold and agree with the
    // emitted value. Emits only violations; the oracle is the empty
    // relation — candidates approximate, verification exact and gated.
    "q_dedup_minhash_verify" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // LEFT joins + an explicit null clause: a dangling pair id (no source
      // row) or a null recompute must surface as a violation, not vanish
      // through an inner join / null-propagating predicate.
      Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = 0.2)
        .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("jaccard"))
        .join(docs.select(col("doc_id").as("idA"), col("text").as("__ta")), Seq("idA"), "left")
        .join(docs.select(col("doc_id").as("idB"), col("text").as("__tb")), Seq("idB"), "left")
        .withColumn("__ta_toks", builtinTokens(col("__ta")))
        .withColumn("__tb_toks", builtinTokens(col("__tb")))
        .withColumn("jaccard_builtin",
          builtinNgramJaccard(col("__ta_toks"), col("__tb_toks"), 3))
        .filter(col("jaccard_builtin").isNull ||
          col("jaccard_builtin") < 0.2 ||
          round(col("jaccard_builtin"), 6) =!= col("jaccard") ||
          col("idA") >= col("idB")) // pair-ordering contract, like the other siblings
        .select(col("idA"), col("idB"), col("jaccard"),
          round(col("jaccard_builtin"), 6).as("jaccard_builtin"))
        .orderBy(col("idA"), col("idB"))
    }),


    // maxHamming=6: tight enough that the pair set stays near-linear in
    // corpus size (<=12 grows ~quadratically on vocabulary-limited text)
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.2)
        .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("idA"), col("idB"))),


    // Directed containment join: |sh(src) ∩ sh(dst)| / |sh(src)| ≥ 0.6 —
    // the quote/excerpt detector Jaccard can't express (union-normalized
    // scores vanish for short-inside-long). Probe prefixes vs full-posting
    // index (one-sided prefix filtering); exact intersect verify ⇒
    // hash-exact against the directional replay of the ngram oracle.
    "q_dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.6)
        .select(col("src_id"), col("dst_id"),
          round(col("containment"), 6).as("containment"))
        .orderBy(col("src_id"), col("dst_id"))),


    // Incremental dedup: 10% of doc_ids (mod-10 class 9, SF-independent)
    // as the "new batch" against the rest as the standing corpus —
    // new-vs-corpus and new-vs-new pairs only, corpus-vs-corpus never
    // joined.
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalNgramPairs(
        docs.filter(col("doc_id") % 10 =!= 9), docs.filter(col("doc_id") % 10 === 9),
        "doc_id", "text", n = 3, threshold = 0.2)
        .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("idA"), col("idB"))
    }),


    // The same incremental dedup with the standing index PERSISTED as a
    // parquet warehouse table and reloaded from disk (round-11 directive
    // #7): the corpus' hashed shingle sets are written in two per-batch
    // appends (the real ingest shape — and exactly the small-file
    // accumulation the warehouse compaction pass exists for), compacted
    // via Warehouse.compact, reloaded, and joined against the delta.
    // Shares q_dedup_incremental's oracle verbatim: persistence must be
    // a plan detail, never a semantics change.
    "q_dedup_incremental_indexed" -> ((s, dir) => {
      val path = Scratch.path(dir, "ngram_index")
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 9)
      Dedup.saveNgramIndex(
        Dedup.hashedShingles(corpus.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", n = 3), path, mode = "overwrite")
      Dedup.saveNgramIndex(
        Dedup.hashedShingles(corpus.filter(col("doc_id") % 2 =!= 0),
          "doc_id", "text", n = 3), path)
      sink.Warehouse.compact(s, path)
      Dedup.incrementalNgramPairsFromSets(
        Dedup.loadNgramIndex(s, path),
        Dedup.hashedShingles(docs.filter(col("doc_id") % 10 === 9),
          "doc_id", "text", n = 3), threshold = 0.2)
        .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("idA"), col("idB"))
    }),


    // SimHash near-dup detection: simhash proximity is its own metric —
    // a trigram-jaccard recall table is NOT an invariant (a 0.96-jaccard
    // pair can legitimately flip 7+ signature bits; measured at
    // sf0.001), so the gated output is the machinery's deterministic
    // contract: corpus size and zero violations of "every emitted pair's
    // hamming, recomputed from signatures derived directly from raw
    // text, equals the emitted value and respects the bound" (round-14
    // fold; the pair set itself stays in the API, the 7-chunk banding
    // recall guarantee at hamming ≤ 6 is spec-proven).
    "q_dedup_simhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sigs = Dedup.withSimhash(
        docs.select(col("doc_id"), col("text")), "text")
      val nv = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
          maxHamming = 6)
        .join(sigs.select(col("doc_id").as("idA"), col("simhash").as("__sa")),
          Seq("idA"), "left")
        .join(sigs.select(col("doc_id").as("idB"), col("simhash").as("__sb")),
          Seq("idB"), "left")
        .withColumn("__hd",
          bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("int"))
        .filter(col("__hd").isNull || col("__hd") =!= col("hamming") ||
          col("hamming") > 6 || col("idA") >= col("idB"))
        .agg(count(lit(1)).as("n_violations"))
      docs.agg(count(lit(1)).as("n_docs")).crossJoin(nv)
        .select(lit("simhash_near_dup").as("check"), col("n_docs"),
          col("n_violations"))
    }),


    // Verification-property sibling: each emitted pair's hamming distance,
    // recomputed from per-document signatures derived DIRECTLY from raw
    // text (bypassing the banding/bucket/cap/star candidate machinery the
    // query exercises), must equal the emitted value and respect the
    // maxHamming bound. The signature function itself is the shared
    // deterministic constant (spec-tested); what this gates is the entire
    // candidate pipeline. Violations only; oracle = empty relation.
    "q_dedup_simhash_verify" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sigs = Dedup.withSimhash(
        docs.select(col("doc_id"), col("text")), "text")
      // LEFT joins + null clause: dangling ids / null recomputes are
      // violations, never silently dropped (see the minhash sibling).
      Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 6)
        .join(sigs.select(col("doc_id").as("idA"), col("simhash").as("__sa")), Seq("idA"), "left")
        .join(sigs.select(col("doc_id").as("idB"), col("simhash").as("__sb")), Seq("idB"), "left")
        .withColumn("hamming_direct",
          bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("int"))
        .filter(col("hamming_direct").isNull ||
          col("hamming_direct") =!= col("hamming") ||
          col("hamming") > 6 || col("idA") >= col("idB"))
        .select(col("idA"), col("idB"), col("hamming"), col("hamming_direct"))
        .orderBy(col("idA"), col("idB"))
    }),


    // End-to-end corpus dedup: exact n-gram pairs → connected components →
    // min-id survivor per duplicate cluster (singletons survive alone).
    "q_dedup_cc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.2)
      Dedup.connectedComponents(docs.select(col("doc_id")), pairs, "doc_id")
        .select(col("id").as("doc_id"),
          col("component").cast("long").as("component"),
          (col("component") === col("id")).as("survivor"))
        .orderBy(col("doc_id"))
    }),


    // Headline embedding near-dup: IVF-cell-bounded candidates + exact
    // cosine verify — candidate volume is set by cluster granularity, not
    // the threshold (hyperplane banding collapses at loose thresholds;
    // measured 0.51 vs 0.40 recall here). The candidate ROW SET is
    // k-means-cell-internal, so the gated output is the machinery's
    // deterministic claim: corpus size and zero precision violations
    // (every emitted pair re-scores ≥ threshold with the matching 6dp
    // cosine via the builtin HOF path) — round-14 fold; candidate pairs
    // stay in the API, recall is spec-measured, exact sibling keeps the
    // value oracle.
    "q_dedup_embedding" -> ((s, dir) => {
      val embT = t(s, dir, "embeddings")
      val emb = embT.select(col("vec_id"),
        col("embedding").cast("array<float>").as("v"))
      val nv = Dedup.ivfNearDupPairs(embT, "vec_id", "embedding",
          threshold = 0.2, k = 16, nprobe = 2)
        .join(emb.select(col("vec_id").as("idA"), col("v").as("__va")),
          Seq("idA"), "left")
        .join(emb.select(col("vec_id").as("idB"), col("v").as("__vb")),
          Seq("idB"), "left")
        .withColumn("__cb", builtinCosine(col("__va"), col("__vb")))
        .filter(col("__cb").isNull || col("__cb") < 0.2 ||
          round(col("__cb"), 6) =!= col("cosine") || col("idA") >= col("idB"))
        .agg(count(lit(1)).as("n_violations"))
      embT.agg(count(lit(1)).as("n_vecs")).crossJoin(nv)
        .select(lit("ivf_near_dup").as("check"), col("n_vecs"),
          col("n_violations"))
    }),


    // Verification-property sibling: every emitted near-dup pair re-scored
    // from the raw embeddings with built-in HOF cosine (no FloatVecDot
    // expression, no IVF machinery) must score >= threshold and agree with
    // the emitted 6dp value. Violations only; oracle = empty relation.
    "q_dedup_embedding_verify" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("v"))
      // LEFT joins + null clause: a dangling pair id or a length-mismatched
      // embedding (zip_with pads with null → null cosine) is a violation,
      // not a silently dropped row.
      Dedup.ivfNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.2, k = 16, nprobe = 2)
        .join(emb.select(col("vec_id").as("idA"), col("v").as("__va")), Seq("idA"), "left")
        .join(emb.select(col("vec_id").as("idB"), col("v").as("__vb")), Seq("idB"), "left")
        .withColumn("cosine_builtin", builtinCosine(col("__va"), col("__vb")))
        .filter(col("cosine_builtin").isNull ||
          col("cosine_builtin") < 0.2 ||
          round(col("cosine_builtin"), 6) =!= col("cosine") ||
          col("idA") >= col("idB"))
        .select(col("idA"), col("idB"), col("cosine"),
          round(col("cosine_builtin"), 6).as("cosine_builtin"))
        .orderBy(col("idA"), col("idB"))
    }),


    // Exact all-pairs variant on a bounded slice — quadratic on purpose and
    // only ever run on a broadcast-sized subset; carries the DuckDB oracle.
    "q_dedup_embedding_exact" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(
        t(s, dir, "embeddings").filter(col("vec_id") < 200),
        "vec_id", "embedding", threshold = 0.2, exact = true)
        .orderBy(col("idA"), col("idB"))),


    // SemDeDup-style semantic dedup headline: k-means cells bound the
    // candidate pairs (nprobe=1 = strict SemDeDup, one cell per vector),
    // exact cosine verifies, connected components pick min-id survivors.
    // Cell assignment is engine-specific, so the gated output is the
    // per-vector CLUSTERING CONTRACT: survivor ⇔ component == id, the
    // component label is the minimum member id, and the component exists
    // as a survivor row — three booleans per vec_id, every one of which
    // flips on a CC/labeling regression (round-14 fold; labels stay in
    // the API, the exact-slice sibling keeps the value oracle).
    "q_dedup_semantic" -> ((s, dir) => {
      val res = Materialize(Dedup.semanticDedup(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.2, k = 16, nprobe = 1))
      val w = Window.partitionBy(col("component"))
      res.withColumn("__m", min(col("vec_id")).over(w))
        .join(res.filter(col("survivor"))
          .select(col("component").as("__c")).distinct(),
          col("component") === col("__c"), "left")
        .select(col("vec_id"),
          (col("survivor") === (col("component") === col("vec_id")))
            .as("flag_ok"),
          (col("__m") === col("component")).as("label_min_ok"),
          col("__c").isNotNull.as("component_exists"))
        .orderBy(col("vec_id"))
    }),


    // Exact-candidate sibling on a bounded slice: all-pairs cosine → CC →
    // survivors, ANSI-expressible end to end (recursive reachability
    // closure in the oracle, like q_dedup_cc).
    "q_dedup_semantic_exact" -> ((s, dir) =>
      Dedup.semanticDedup(
        t(s, dir, "embeddings").filter(col("vec_id") < 200),
        "vec_id", "embedding", threshold = 0.2, exact = true)
        .orderBy(col("vec_id"))),


    // Verification-property sibling for the approximate headline: the
    // output must be a well-formed min-label clustering — (a) survivor ⇔
    // component == id, (b) each component's label IS the minimum member
    // id, (c) every row's component exists as a survivor row. Violations
    // only; oracle = empty relation. (Pair-level cosine ≥ threshold is
    // gated by q_dedup_embedding_verify on the shared candidate machinery.)
    "q_dedup_semantic_verify" -> ((s, dir) => {
      // three contract checks read `res`
      val res = Materialize(Dedup.semanticDedup(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.2, k = 16, nprobe = 1))
      val badFlag = res
        .filter(col("survivor") =!= (col("component") === col("vec_id")))
        .select(col("vec_id"), col("component"), lit("flag_mismatch").as("issue"))
      val w = Window.partitionBy(col("component"))
      val badMin = res
        .withColumn("__m", min(col("vec_id")).over(w))
        .filter(col("__m") =!= col("component"))
        .select(col("vec_id"), col("component"), lit("label_not_min").as("issue"))
      val badRef = res
        .join(res.filter(col("survivor")).select(col("component").as("__c")).distinct(),
          col("component") === col("__c"), "left_anti")
        .select(col("vec_id"), col("component"), lit("no_survivor").as("issue"))
      badFlag.unionByName(badMin).unionByName(badRef)
        .orderBy(col("vec_id"), col("issue"))
    }),


    // MULTIMODAL curation — the image modality joins the guarantee
    // chain: the v2 text ladder's survivors additionally pass banded
    // pHash near-dup removal over each document's attached image
    // (blank-image cliques and planted near-dup planes collapse to
    // their min-id doc) BEFORE the token budget, so a re-encoded copy
    // of one image cannot ship twice even when its text changed enough
    // to clear every text stage. The oracle replays ladder + pHash
    // synthesis + brute hamming pairs + CC + budget in one SQL chain.
    "q_curate_multimodal" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val media = Multimodal.withPhash(
        Multimodal.syntheticMediaRecords(t(s, dir, "documents"), "doc_id"))
      operators.CorpusPipeline.curateMultimodal(
        t(s, dir, "documents").withColumn("url",
          concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
            (col("doc_id") % 25).cast("string"), lit("/?utm_source="), col("lang"))),
        t(s, dir, "embeddings"), media,
        operators.CorpusPipeline.Config(urlCol = Some("url"),
          substringK = 4, semanticThreshold = 0.4))
        .orderBy(col("doc_id"))
    }),


    // Keep-BEST dedup as a pure aggregation (partial max_by: only one
    // survivor per key crosses the exchange, vs the window path shuffling
    // every duplicate): best doc per (source, lang) by (text length,
    // doc_id) — the curation rule real pipelines use (keep the
    // highest-quality duplicate, not the lowest id). Ties and the
    // null-score group fall to the LARGEST doc_id.
    "q_dedup_keepbest" -> ((s, dir) =>
      Dedup.keepBestByKey(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("lang"), length(col("text")).as("quality")),
        Seq("source", "lang"), col("quality"), "doc_id")
        .orderBy(col("source"), col("lang"))),

  )

  def oracles: Map[String, String] = Map(

    "q_dedup_exact" ->
      """SELECT key5, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups FROM (
        |  SELECT doc_id, array_to_string(list_slice(regexp_split_to_array(trim(lower(text)), '\s+'), 1, 5), ' ') AS key5
        |  FROM documents) t
        |GROUP BY key5 ORDER BY key5""".stripMargin,


    // Same pseudo-URL derivation as the Spark side; the normalizer chain
    // (strip scheme+www, strip query/fragment, strip trailing slashes)
    // mirrors Dedup.normalizeUrl pattern for pattern — each regex matches
    // at most once even across newlines ((?s) dot-all + \z end-of-input),
    // so DuckDB's first-match regexp_replace and Spark's replace-all
    // agree on all inputs. md5() is lowercase hex in both engines.
    "q_dedup_url" ->
      """WITH docs AS (
        |  SELECT doc_id, text,
        |    'https://www.' || source || '.example.com/docs/' || CAST(doc_id % 25 AS VARCHAR) || '/?utm_source=' || lang AS url
        |  FROM documents),
        |norm AS (
        |  SELECT doc_id, md5(text) AS content_md5,
        |    regexp_replace(regexp_replace(regexp_replace(lower(trim(url)),
        |      '^https?://(www\.)?', ''), '(?s)[?#].*', ''), '/+\z', '') AS url_key
        |  FROM docs)
        |SELECT url_key, content_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM norm GROUP BY url_key, content_md5
        |ORDER BY url_key, content_md5""".stripMargin,


    // Collapse-by-construction oracle: the engine canonicalizes eight
    // messy spellings per doc back to one key; the oracle just GROUPs
    // the clean (source, slot, md5) key the mess was generated FROM —
    // never re-implementing RFC 3986 — so any spelling that fails to
    // collapse (or any over-collapse) breaks row count and hash alike.
    "q_dedup_url_canon" ->
      """WITH v AS (
        |  SELECT d.doc_id * 8 + r.v AS row_id,
        |    d.source || '.example.com/docs/' || CAST(d.doc_id % 25 AS VARCHAR) AS url_key,
        |    md5(d.text) AS content_md5
        |  FROM documents d, LATERAL (SELECT unnest(range(0, 8)) AS v) r)
        |SELECT url_key, content_md5, MIN(row_id) AS keep_id, COUNT(*) AS n_dups
        |FROM v GROUP BY url_key, content_md5
        |ORDER BY url_key, content_md5""".stripMargin,


    // Anchor-gram reconstruction of maximal repeated-coverage spans: k=8
    // grams, corpus-wide occurrence count, then the same consecutive-
    // anchor island merge (new island when pos > prev + 1) the Spark
    // window performs.
    "q_dedup_substring" -> substringSpansOracleSql,


    // identical contract to q_dedup_substring (see the query comment) —
    // ONE definition gates both variants, so they cannot drift
    "q_dedup_substring_hashed" -> substringSpansOracleSql,


    // Same anchor derivation as q_dedup_substring, then GRAM-level
    // canonical election (min doc·2^20+pos per repeated gram — never by
    // merged-span text, which mixed witnesses would break) and the
    // covered-position removal rule: drop a position iff some redundant
    // window covers it and no canonical window does. COALESCE pins
    // DuckDB's empty-list array_to_string (NULL, it is a string_agg) to
    // Spark's '' when every token of a doc is removed.
    "q_dedup_substring_clean" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |grams0 AS (
        |  SELECT doc_id, tk, UNNEST(range(1, len(tk) - 8 + 2)) AS i
        |  FROM toks WHERE len(tk) >= 8),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+7], ' ') AS gram FROM grams0),
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
        |    list(struct_pack(s := pos, e := pos + 7)) FILTER (WHERE is_canon) AS can,
        |    list(struct_pack(s := pos, e := pos + 7)) FILTER (WHERE NOT is_canon) AS red
        |  FROM rep GROUP BY doc_id),
        |final AS (
        |  SELECT t.doc_id, t.tk,
        |    CASE WHEN w.red IS NULL THEN NULL
        |      ELSE list_filter(range(0, len(t.tk)), p ->
        |        NOT (len(list_filter(w.red, x -> p >= x.s AND p <= x.e)) > 0
        |             AND (w.can IS NULL OR len(list_filter(w.can, x -> p >= x.s AND p <= x.e)) = 0)))
        |      END AS kept
        |  FROM toks t LEFT JOIN wins w ON t.doc_id = w.doc_id)
        |SELECT doc_id,
        |  CASE WHEN kept IS NULL THEN array_to_string(tk, ' ')
        |    ELSE COALESCE(array_to_string(list_transform(kept, p -> tk[p + 1]), ' '), '') END AS clean_text,
        |  CAST(CASE WHEN kept IS NULL THEN 0 ELSE len(tk) - len(kept) END AS BIGINT) AS n_removed
        |FROM final ORDER BY doc_id""".stripMargin,


    "q_dedup_ngram" -> incrementalNgramAllPairsSql,


    // Containment: same shingle derivation as q_dedup_ngram, but the pair
    // count is DIRECTIONAL (x.doc_id <> y.doc_id, both orders kept) and
    // normalized by the source's shingle count only.
    "q_dedup_containment" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, list_extract(tk, i) || ' ' || list_extract(tk, i+1) || ' ' || list_extract(tk, i+2) AS s
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk)-1)) AS i) r
        |  WHERE len(tk) >= 3
        |  UNION
        |  SELECT DISTINCT doc_id, array_to_string(tk, ' ') AS s FROM toks WHERE len(tk) < 3
        |),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT x.doc_id AS src_id, y.doc_id AS dst_id, count(*) AS c
        |  FROM sh x JOIN sh y USING (s) WHERE x.doc_id <> y.doc_id
        |  GROUP BY 1, 2)
        |SELECT src_id, dst_id, ROUND(CAST(c AS DOUBLE) / na.n_sh, 6) AS containment
        |FROM common
        |JOIN sizes na ON na.doc_id = src_id
        |WHERE CAST(c AS DOUBLE) / na.n_sh >= 0.6
        |ORDER BY src_id, dst_id""".stripMargin,


    // Same pair derivation as q_dedup_ngram restricted to pairs touching
    // the mod-10-class-9 delta — the incremental path must produce exactly
    // the delta-touching slice of the full pair set.
    "q_dedup_incremental" -> incrementalNgramOracleSql,


    // Identical oracle: reloading the persisted band index from parquet
    // must not change a single pair.
    "q_dedup_incremental_indexed" -> incrementalNgramOracleSql,


    // Same ngram-pair derivation as q_dedup_ngram, then connected components
    // as a recursive reachability closure: cc holds (node, label) for every
    // label that reaches the node through the symmetric edge set; MIN per
    // node = the component's minimum id — exactly the propagation fixpoint.
    "q_dedup_cc" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents),
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
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, cc.label FROM edges e JOIN cc ON cc.id = e.src
        |)
        |SELECT id AS doc_id, CAST(MIN(label) AS BIGINT) AS component, (MIN(label) = id) AS survivor
        |FROM cc GROUP BY id ORDER BY doc_id""".stripMargin,


    "q_canonical_dedup" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN 'https://www.' || source || '.example.com/docs/c' ||
        |        CAST(doc_id % 5 AS VARCHAR)
        |      ELSE 'https://www.' || source || '.example.com/docs/' ||
        |        CAST(doc_id AS VARCHAR) END AS canon_key
        |  FROM documents)
        |SELECT canon_key, CAST(min(doc_id) AS BIGINT) AS survivor,
        |  CAST(count(*) AS BIGINT) AS n_members
        |FROM k GROUP BY canon_key ORDER BY canon_key""".stripMargin,


    // line-dedup oracle: the 8-word lining + boilerplate synthesis,
    // distinct-doc line frequencies, and the ordered rebuild — all
    // replayed; a fully-dropped doc would rebuild to '' on both sides.
    "q_line_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, i - 1 AS wi, lst[i] AS w
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), x -> x <> '') AS lst
        |        FROM documents),
        |       LATERAL (SELECT unnest(range(1, len(lst) + 1)) AS i) r),
        |content AS (
        |  SELECT doc_id, wi // 8 AS pos, string_agg(w, ' ' ORDER BY wi) AS line
        |  FROM w GROUP BY doc_id, wi // 8),
        |nl AS (SELECT doc_id, max(pos) + 1 AS n FROM content GROUP BY doc_id),
        |alllines AS (
        |  SELECT doc_id, pos, line FROM content
        |  UNION ALL
        |  SELECT d.doc_id, nl.n, 'subscribe to ' || d.source || ' updates today'
        |  FROM documents d JOIN nl USING (doc_id)
        |  UNION ALL
        |  SELECT d.doc_id, nl.n + 1,
        |    'copyright 2026 ' || d.source || ' all rights reserved'
        |  FROM documents d JOIN nl USING (doc_id)),
        |freq AS (SELECT line, count(DISTINCT doc_id) AS df
        |  FROM alllines GROUP BY line),
        |j AS (SELECT a.doc_id, a.pos, a.line, f.df
        |  FROM alllines a JOIN freq f USING (line))
        |SELECT doc_id,
        |  CAST(count(*) FILTER (WHERE df < 5) AS BIGINT) AS n_kept,
        |  CAST(count(*) FILTER (WHERE df >= 5) AS BIGINT) AS n_dropped,
        |  COALESCE(string_agg(line, chr(10) ORDER BY pos)
        |    FILTER (WHERE df < 5), '') AS clean_text
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,


    "q_curate_multimodal" -> curateMultimodalOracleSql,


    // Embedding similarity oracles use explicit double-precision list math
    // (NOT list_cosine_similarity, which computes in float32 and diverges in
    // the 7th decimal) — verified bit-identical to Spark's sequential
    // zip_with/aggregate double summation.
    "q_dedup_embedding_exact" ->
      """SELECT a.vec_id AS idA, b.vec_id AS idB,
        |  ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 200 AND b.vec_id < 200
        |  AND list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.2
        |ORDER BY idA, idB""".stripMargin,


    // The paired-variant synthesis replayed with chr() codepoints; keys
    // fold through the same utf8proc chain as q_text_normalize.
    "q_dedup_unicode" ->
      """WITH keyed AS (
        |  SELECT doc_id,
        |    strip_accents(lower(nfc_normalize(
        |      CASE doc_id % 8
        |        WHEN 0 THEN 'Caf' || chr(233)
        |        WHEN 1 THEN 'Cafe' || chr(769)
        |        WHEN 2 THEN 'N' || chr(214) || 'EL'
        |        WHEN 3 THEN 'no' || chr(776) || 'el'
        |        WHEN 4 THEN chr(201) || 'cole'
        |        WHEN 5 THEN 'E' || chr(769) || 'cole'
        |        WHEN 6 THEN 'plain'
        |        ELSE 'PLAIN' END || ' doc ' || CAST(doc_id // 8 AS VARCHAR)))) AS key
        |  FROM documents),
        |groups AS (
        |  SELECT key, CAST(MIN(doc_id) AS BIGINT) AS canonical,
        |    COUNT(*) AS group_n
        |  FROM keyed GROUP BY key)
        |SELECT doc_id, key, canonical, group_n,
        |  (doc_id = canonical) AS survivor
        |FROM keyed JOIN groups USING (key)
        |ORDER BY doc_id""".stripMargin,


    // BRUTE-FORCE all-pairs edit distance over the replayed record
    // synthesis — gates the blocking's recall, not just the predicate.
    "q_er_match" ->
      """WITH recs AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS rec_id, p_name AS name
        |  FROM part WHERE p_partkey < 300
        |  UNION ALL
        |  SELECT CAST(p_partkey + 100000 AS BIGINT),
        |    substr(p_name, 1, pos - 1) || '#' || substr(p_name, pos + 1)
        |  FROM (SELECT p_partkey, p_name,
        |      CASE WHEN p_partkey % 2 = 0 THEN 1 + (p_partkey % 3)
        |        ELSE length(p_name) - (p_partkey % 3) END AS pos
        |    FROM part WHERE p_partkey < 300) c)
        |SELECT a.rec_id AS idA, b.rec_id AS idB,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM recs a JOIN recs b ON a.rec_id < b.rec_id
        |WHERE levenshtein(a.name, b.name) <= 1
        |ORDER BY idA, idB""".stripMargin,


    // Min-label propagation to a fixpoint (recursive CTE), the
    // q_dedup_cc idiom, over the brute-force match edges.
    "q_er_entities" -> erEntitiesOracleSql,


    // Same chunking arithmetic as q_text_chunks, then group-by-chunk with
    // the composite-min owner key (doc*2^20 + chunk ordinal).
    "q_dedup_chunks" ->
      """WITH ch AS (
        |  SELECT doc_id, st // 150 AS chunk_id, substring(text, CAST(st AS INT) + 1, 200) AS chunk
        |  FROM (SELECT doc_id, text, unnest(range(0, greatest(length(text) - 50, 1), 150)) AS st FROM documents))
        |SELECT CAST(min(doc_id * 1048576 + chunk_id) // 1048576 AS BIGINT) AS owner_doc,
        |  CAST(min(doc_id * 1048576 + chunk_id) % 1048576 AS BIGINT) AS owner_chunk,
        |  count(*) AS n_copies, chunk
        |FROM ch GROUP BY chunk HAVING count(*) >= 2
        |ORDER BY owner_doc, owner_chunk, chunk""".stripMargin,


    // Winnowing twins: the 31-fold poly hash is plain BIGINT math (every
    // intermediate < 2^37), the w=4 window min + rightmost-tie selection is
    // a window function + a bounded self-join, and selected positions are
    // non-decreasing so DISTINCT == the operator's dedupe-vs-last.
    "q_winnow_fp" ->
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
        |        GROUP BY w.doc_id, w.pos, w.wmin)
        |SELECT DISTINCT doc_id, pos, fp_hash FROM sel ORDER BY doc_id, pos""".stripMargin,


    "q_winnow_overlap" ->
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
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT idA, idB, shared,
        |  ROUND(CAST(shared AS DOUBLE) / least(sa.nfp, sb.nfp), 6) AS containment
        |FROM p JOIN sz sa ON sa.doc_id = idA JOIN sz sb ON sb.doc_id = idB
        |ORDER BY idA, idB""".stripMargin,


    // Keep-best: ROW_NUMBER twin of the max_by(struct) — quality DESC
    // NULLS LAST then doc_id DESC matches Spark's null-smallest struct max.
    "q_dedup_keepbest" ->
      """SELECT doc_id, source, lang, quality FROM (
        |  SELECT doc_id, source, lang, length(text) AS quality,
        |    ROW_NUMBER() OVER (PARTITION BY source, lang
        |      ORDER BY length(text) DESC NULLS LAST, doc_id DESC) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY source, lang""".stripMargin,

    // PROPERTY ORACLES for the approximate queries: each *_verify sibling
    // emits only violations of the exact verification property (every
    // emitted pair/neighbor re-scored from raw data through an independent
    // built-in-expression path must meet the threshold / emitted value),
    // so its oracle is the same-schema EMPTY relation — one bad emitted
    // row flips the driver's row-count compare. Candidate selection stays
    // approximate by design; the verification is exact and driver-gated.
    "q_dedup_minhash_verify" ->
      """SELECT CAST(NULL AS BIGINT) AS idA, CAST(NULL AS BIGINT) AS idB,
        |  CAST(NULL AS DOUBLE) AS jaccard, CAST(NULL AS DOUBLE) AS jaccard_builtin
        |WHERE FALSE""".stripMargin,


    "q_dedup_simhash_verify" ->
      """SELECT CAST(NULL AS BIGINT) AS idA, CAST(NULL AS BIGINT) AS idB,
        |  CAST(NULL AS INTEGER) AS hamming, CAST(NULL AS INTEGER) AS hamming_direct
        |WHERE FALSE""".stripMargin,


    "q_dedup_embedding_verify" ->
      """SELECT CAST(NULL AS BIGINT) AS idA, CAST(NULL AS BIGINT) AS idB,
        |  CAST(NULL AS DOUBLE) AS cosine, CAST(NULL AS DOUBLE) AS cosine_builtin
        |WHERE FALSE""".stripMargin,


    // Semantic dedup exact sibling: all-pairs double-precision cosine on
    // the bounded slice (same list math as q_dedup_embedding_exact), then
    // the recursive reachability closure with MIN label — identical
    // fixpoint to the engine's pointer-jumping propagation.
    "q_dedup_semantic_exact" ->
      """WITH RECURSIVE sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        |pairs AS (
        |  SELECT a.vec_id AS idA, b.vec_id AS idB
        |  FROM sub a JOIN sub b ON a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.2),
        |edges AS (SELECT idA AS src, idB AS dst FROM pairs UNION ALL SELECT idB AS src, idA AS dst FROM pairs),
        |cc(id, label) AS (
        |  SELECT vec_id, vec_id FROM sub
        |  UNION
        |  SELECT e.dst, cc.label FROM edges e JOIN cc ON cc.id = e.src
        |)
        |SELECT id AS vec_id, CAST(MIN(label) AS BIGINT) AS component, (MIN(label) = id) AS survivor
        |FROM cc GROUP BY id ORDER BY vec_id""".stripMargin,


    "q_dedup_semantic_verify" ->
      """SELECT CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS BIGINT) AS component,
        |  CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    // ------------------------------------------------------------------
    // Round-14 headliner folds: every formerly rows-only headliner now
    // carries a value oracle. Two mechanisms:
    //  (a) EXACT-REGIME PIN — the sketch is a merge-order-invariant set
    //      function sized so the fixture sits in its exact regime
    //      (CMS width 2048/8192 ≫ 150 keys: collision-free; KMV k=512 ≥
    //      every set: nothing evicted; HLL small-range estimation exact
    //      at 150 ≪ 2^lgK registers; LSH banding at the planted-dup
    //      similarity: full recall, measured pair-set equality). The
    //      oracle states the exact values; ANY regression in sketch,
    //      merge, or banding arithmetic breaks the hash.
    //  (b) CONTRACT FRAME — where the row set itself is engine-internal
    //      (k-means cells, MG decrement schedules, GK/KLL compactions),
    //      the headliner emits its deterministic CLAIM (enumerable keys,
    //      exact side values, contract booleans), keeping the whole
    //      approximate machinery in the measured plan.
    // ------------------------------------------------------------------

    // (a) minhash banding at the fixture's planted-dup similarities has
    // full recall and candidates are exact-jaccard-filtered, so the pair
    // set provably equals the exact trigram-jaccard pairs — the
    // q_dedup_ngram oracle verbatim. A banding/signature regression
    // surfaces as a missing pair here (and in the _verify sibling).
    "q_dedup_minhash" -> incrementalNgramAllPairsSql,


    // simhash contract summary: hamming re-derivation clean over the
    // whole emitted pair set (a jaccard recall table is NOT an
    // invariant — see the query comment).
    "q_dedup_simhash" ->
      """SELECT 'simhash_near_dup' AS check, COUNT(*) AS n_docs,
        |  CAST(0 AS BIGINT) AS n_violations
        |FROM documents""".stripMargin,


    "q_dedup_embedding" ->
      """SELECT 'ivf_near_dup' AS check, COUNT(*) AS n_vecs,
        |  CAST(0 AS BIGINT) AS n_violations
        |FROM embeddings""".stripMargin,


    "q_dedup_semantic" ->
      """SELECT vec_id, TRUE AS flag_ok, TRUE AS label_min_ok,
        |  TRUE AS component_exists
        |FROM embeddings ORDER BY vec_id""".stripMargin,

  )
}
