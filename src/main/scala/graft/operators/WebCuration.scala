package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL/domain-level corpus curation — the C4/RefinedWeb front gate that
  * runs before any text is even read: blocklist filtering and per-domain
  * frequency caps (a handful of mega-domains otherwise dominate a crawl;
  * capping is the standard fix for domain skew — it is a TOP-K-PER-GROUP,
  * so the shuffle carries only (domain, rank key), never document text).
  *
  * Everything is codegen'd expressions + one window; no UDFs. Scale
  * shape: `capPerDomain` is one hash shuffle on the domain key with a
  * rank window whose frame is the domain's document count — for the
  * pathological mega-domain, pre-aggregate with AQE skew split or raise
  * the cap pre-filter (count ≤ cap domains pass untouched via the
  * broadcast small-side of a skew-safe union) — documented, not built:
  * the plain window is correct and the skew tooling ([[Skew]]) composes.
  */
object WebCuration {

  /** Registrable host of a URL: scheme, leading `www.`, port, path, query
    * and fragment stripped; lower-cased. Pure regexp, pushdown-friendly. */
  def domainOf(url: Column): Column =
    regexp_extract(lower(trim(url)), "^(?:[a-z][a-z0-9+.-]*://)?(?:www\\.)?([^/:?#]+)", 1)

  /** Drop documents whose URL matches any blocklist REGEX (adult/spam/
    * boilerplate-domain lists in real pipelines). Patterns are literals
    * compiled into the plan — one codegen'd disjunction, no join. */
  def filterBlocked(df: DataFrame, urlCol: String,
                    patterns: Seq[String]): DataFrame = {
    require(patterns.nonEmpty, "empty blocklist: nothing to filter")
    val blocked = patterns.map(p => col(urlCol).rlike(p)).reduce(_ || _)
    df.filter(!coalesce(blocked, lit(false)))
  }

  /** Keep at most `cap` documents per domain, best-first by
    * (`scoreCol` DESC, `idCol` ASC — the deterministic tie-break). Adds
    * `domain`; survivors only. One shuffle on the domain hash. */
  def capPerDomain(df: DataFrame, urlCol: String, scoreCol: Column,
                   idCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val w = Window.partitionBy(col("domain"))
      .orderBy(scoreCol.desc, col(idCol).asc)
    df.withColumn("domain", domainOf(col(urlCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  /** Anchor-text aggregation — the web graph's text signal: what OTHER
    * pages call a page is a high-precision description (search engines
    * have ranked on it since PageRank's era; corpus pipelines use it to
    * title/enrich documents). Per link target: anchor frequencies, the
    * top-k anchors by (freq DESC, anchor ASC), and the inlink count.
    * Self-links excluded. Scale shape: one combining aggregate on
    * (dst, anchor) — anchors combine map-side, the raw link stream never
    * shuffles whole — then a top-k-per-group window on the dst hash
    * whose input is already one row per distinct (dst, anchor). */
  def topAnchors(links: DataFrame, srcCol: String, dstCol: String,
                 anchorCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val freqs = links.filter(col(srcCol) =!= col(dstCol))
      .groupBy(col(dstCol), col(anchorCol))
      .agg(count(lit(1)).as("freq"),
        countDistinct(col(srcCol)).as("n_srcs"))
    val byDst = Window.partitionBy(col(dstCol))
    val w = byDst.orderBy(col("freq").desc, col(anchorCol).asc)
    freqs
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("n_inlinks", sum(col("freq")).over(byDst))
      .filter(col("rank") <= k)
  }

  /** Crawl frontier — the discovery side of the crawl loop: link targets
    * not yet crawled, prioritized by inlink mass (the OPIC/indegree
    * heuristic every frontier scheduler starts from). One combining
    * (dst) aggregate over the link stream, an anti-join against the
    * crawled set (dst-keyed shuffle), then the distributed top-`limit`
    * (TakeOrdered — no global window); ranks are assigned on the bounded
    * result only. Ties break on smaller dst. Self-links excluded. */
  def frontier(links: DataFrame, srcCol: String, dstCol: String,
               crawled: DataFrame, crawledIdCol: String,
               limit: Int): DataFrame = {
    require(limit >= 1, s"limit must be >= 1, got $limit")
    val agg = links.filter(col(srcCol) =!= col(dstCol))
      .groupBy(col(dstCol))
      .agg(count(lit(1)).as("n_inlinks"),
        countDistinct(col(srcCol)).as("n_srcs"))
    val un = agg.join(crawled.select(col(crawledIdCol).as(dstCol)),
      Seq(dstCol), "left_anti")
    val top = un.orderBy(col("n_inlinks").desc, col(dstCol).asc).limit(limit)
    // rank over the ≤ limit surviving rows — bounded, so the single
    // window partition here is by construction small
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("n_inlinks").desc, col(dstCol).asc)).cast("long"))
  }

  /** URL-keyed [[frontier]] with CANONICAL keys — the form a real crawl
    * runs: link targets and the crawled set both pass through
    * [[graft.expr.UrlOps]] RFC 3986 canonicalization BEFORE the inlink
    * aggregate and the anti-join, so the dozen spellings of one resource
    * (case-shifted host, default port, fragment, dot-segments, tracking
    * params, duplicate slashes) pool their inlink mass into ONE frontier
    * candidate instead of fragmenting it — and a page whose crawled copy
    * was recorded under a different spelling is not re-queued. Without
    * this the frontier both under-ranks popular pages (split votes) and
    * double-fetches crawled ones on day one. Canonicalization is a
    * per-row codegen projection ahead of the same one-aggregate +
    * anti-join + TakeOrdered plan; `url` in the output is the canonical
    * spelling. */
  def urlFrontier(links: DataFrame, srcUrlCol: String, dstUrlCol: String,
                  crawled: DataFrame, crawledUrlCol: String,
                  limit: Int): DataFrame = {
    import graft.expr.UrlExpressions.url_canonicalize
    // src is canonicalized too: the self-link exclusion and the distinct
    // n_srcs count must both see one spelling per linking page
    val canonLinks = links.select(
      url_canonicalize(col(srcUrlCol)).as("__src"),
      url_canonicalize(col(dstUrlCol)).as("url"))
    val canonCrawled = crawled.select(
      url_canonicalize(col(crawledUrlCol)).as("url"))
    frontier(canonLinks, "__src", "url", canonCrawled, "url", limit)
  }

  /** Per-domain crawl profile: doc count, total/mean chars, docs kept by
    * a `cap` — the planning table a crawl curator reads before choosing
    * caps. One combining aggregate. */
  def domainProfile(df: DataFrame, urlCol: String, charsCol: Column,
                    cap: Int): DataFrame =
    df.withColumn("domain", domainOf(col(urlCol)))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(charsCol).cast("long").as("total_chars"),
        least(count(lit(1)), lit(cap.toLong)).as("kept_at_cap"))

  /** URL → structural template: authority kept verbatim (hosts are
    * identities, not patterns), path digit runs → `#`, path hex runs of
    * 8+ → `*` (session tokens, uuids), query collapsed to its SORTED
    * param names, fragment dropped. Two URLs sharing a template are
    * "the same page shape" — the unit crawl-trap detection counts.
    * Pure regexp projection, codegen'd, pushdown-friendly. */
  def urlTemplate(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    // a schemeless string templatizes whole-string-as-path rather than
    // collapsing every malformed URL into one empty-template group;
    // scheme match is case-insensitive ('HTTPS://' is a legal spelling
    // of the same scheme) so un-canonicalized inputs still split into
    // authority + path instead of templatizing whole-string-as-path
    val authority =
      regexp_extract(noFrag, "^((?i)[a-z][a-z0-9+.-]*://[^/?]*)", 1)
    val pathq = when(authority === "", noFrag)
      .otherwise(
        regexp_extract(noFrag, "^(?i)[a-z][a-z0-9+.-]*://[^/?]*(.*)$", 1))
    val path = regexp_replace(pathq, "\\?.*$", "")
    val query = regexp_extract(pathq, "\\?(.*)$", 1)
    // hex-run collapse is case-insensitive too: uppercase/mixed-case
    // session tokens and UUIDs are the COMMON spelling in the wild, and
    // a trap that case-shifts its tokens would otherwise mint a fresh
    // template per URL and evade the ledger entirely
    val tpl = regexp_replace(
      regexp_replace(path, "(?i)[0-9a-f]{8,}", "*"), "[0-9]+", "#")
    val names = array_sort(transform(
      filter(split(query, "&"), p => length(p) > 0),
      p => regexp_extract(p, "^([^=]*)", 1)))
    concat(authority, tpl,
      when(size(names) > 0, concat(lit("?"), array_join(names, "&")))
        .otherwise(lit("")))
  }

  /** Crawl-trap detection — the frontier's self-defense: calendars,
    * session-id mazes, and faceted listings mint unbounded URL spaces
    * whose pages are near-identical, and a crawler that can't see the
    * pattern fetches them forever (the classic trap taxonomy of the
    * IRLbot/Heritrix literature). Group fetched pages by
    * [[urlTemplate]]; a template with many distinct URLs but few
    * distinct content fingerprints is a trap:
    * `is_trap = n_urls >= minUrls && n_content/n_urls <= maxDiversity`.
    * The output is the per-template ledger a frontier filter consumes
    * (drop or down-rank candidates whose template is flagged).
    *
    * Scale shape: ONE combining aggregate keyed on the template string
    * (two exact count-distincts → the standard Expand×2 plan, partial
    * aggregation applies; the shuffle carries template+url / template+fp
    * pairs, never page text). At 100 TB the exact counts swap for
    * approx_count_distinct without changing the contract — the flag
    * needs one significant digit, not an exact ledger. */
  def crawlTraps(pages: DataFrame, urlCol: String, fingerprint: Column,
                 minUrls: Int, maxDiversity: Double): DataFrame = {
    require(minUrls >= 1, s"minUrls must be >= 1, got $minUrls")
    require(maxDiversity > 0 && maxDiversity <= 1,
      s"maxDiversity must be in (0,1], got $maxDiversity")
    pages.select(urlTemplate(col(urlCol)).as("template"),
        col(urlCol).as("__url"), fingerprint.as("__fp"))
      .groupBy(col("template"))
      .agg(countDistinct(col("__url")).as("n_urls"),
        countDistinct(col("__fp")).as("n_content"))
      .withColumn("diversity",
        col("n_content").cast("double") / col("n_urls"))
      .withColumn("is_trap",
        col("n_urls") >= lit(minUrls.toLong) &&
          col("diversity") <= lit(maxDiversity))
  }

  /** Pre-aggregation projection shared VERBATIM by the batch and
    * streaming sketch ledgers: (template, url-hash, fingerprint-hash).
    * Hashing map-side means template strings plus two longs are all
    * that ever reaches an exchange or a state store. */
  def trapKeyed(pages: DataFrame, urlCol: String,
                fingerprint: Column): DataFrame =
    pages.select(urlTemplate(col(urlCol)).as("template"),
      xxhash64(col(urlCol)).as("__u"), xxhash64(fingerprint).as("__f"))

  /** [[crawlTraps]] over KMV sketch state instead of exact distincts —
    * the MERGEABLE form: per template the state is two k-smallest-hash
    * sets (bounded, unionable), which is what a streaming ledger keeps
    * in its state store and what a 100-TB batch keeps map-side instead
    * of the Expand×2 exact plan. In the exact regime (distinct URLs per
    * template < k) the estimates equal the exact ledger — the fixture
    * oracles pin that equality; beyond k the standard KMV error bound
    * applies and the flag needs one significant digit anyway. */
  def crawlTrapsSketch(pages: DataFrame, urlCol: String,
                       fingerprint: Column, k: Int, minUrls: Int,
                       maxDiversity: Double): DataFrame =
    trapLedgerFromSketches(
      trapKeyed(pages, urlCol, fingerprint)
        .groupBy(col("template"))
        .agg(SetSketch.kmvSketch(col("__u"), k).as("__sku"),
          SetSketch.kmvSketch(col("__f"), k).as("__skf")),
      minUrls, maxDiversity)

  /** Ledger derivation from per-template sketch state — shared verbatim
    * by [[crawlTrapsSketch]] and the streaming twin, so stream ≡ batch
    * bit-exactly (KMV state is a pure set function of the input). */
  def trapLedgerFromSketches(sk: DataFrame, minUrls: Int,
                             maxDiversity: Double): DataFrame =
    sk.select(col("template"),
        SetSketch.kmvEstimate(col("__sku")).getField("est").as("n_urls"),
        SetSketch.kmvEstimate(col("__skf")).getField("est").as("n_content"))
      .withColumn("diversity",
        col("n_content").cast("double") / col("n_urls"))
      .withColumn("is_trap",
        col("n_urls") >= lit(minUrls.toLong) &&
          col("diversity") <= lit(maxDiversity))

  /** HTTP 3xx statuses a crawler follows (303's method change and 307/
    * 308's method preservation are fetcher concerns, not resolver
    * ones — the TARGET is the same). */
  private def isRedirect(status: Column): Column =
    status.isin(301, 302, 303, 307, 308)

  /** Resolve redirect chains to their landing URL — the step between
    * fetching and url-keyed accounting: a crawl that counts 301 hulls as
    * documents double-counts every moved page. Bounded-hop iterative
    * join against the redirect map (redirect rows only — at web scale a
    * few percent of responses, and each hop's join touches only the
    * still-unresolved rows' final urls): `maxHops` left joins, never a
    * recursive loop. Emits the input plus (final_url, n_hops, resolved);
    * `resolved` = FALSE for a chain still pointing at a redirect after
    * maxHops (loops and too-deep chains surface, never spin). A null
    * Location on a 3xx row resolves to itself (malformed — crawl
    * tolerance).
    *
    * Chain keys are CANONICAL ([[graft.expr.UrlOps]]): a Location header
    * routinely re-spells its target (absolute vs host-case-shifted,
    * trailing tracking params, default ports), and a raw-string match
    * would miss the hop — the chain breaks exactly on the servers that
    * need resolving most. `final_url` is therefore the canonical landing
    * key by construction, ready for url-keyed accounting downstream. */
  def resolveRedirects(df: DataFrame, urlCol: String, statusCol: String,
                       locationCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    import graft.expr.UrlExpressions.url_canonicalize
    val hops = df.filter(isRedirect(col(statusCol)) &&
        col(locationCol).isNotNull)
      .select(url_canonicalize(col(urlCol)).as("__from"),
        url_canonicalize(col(locationCol)).as("__to"))
      .distinct()
    var res = df
      .withColumn("final_url", url_canonicalize(col(urlCol)))
      .withColumn("n_hops", lit(0L))
    for (_ <- 0 until maxHops) {
      res = res.join(hops, res("final_url") === hops("__from"), "left")
        .select(res.columns.map(res(_)) ++ Seq(col("__to")): _*)
        .withColumn("n_hops",
          col("n_hops") + when(col("__to").isNotNull, 1L).otherwise(0L))
        .withColumn("final_url", coalesce(col("__to"), col("final_url")))
        .drop("__to")
    }
    val sources = hops.select(col("__from")).distinct()
    res.join(sources, res("final_url") === sources("__from"), "left")
      .withColumn("resolved", col("__from").isNull)
      .drop("__from")
  }
}
