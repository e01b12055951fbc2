package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{EventTime, GraftFunctions}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingIngest
import WarcRegistry.{warcFixtureDir, warcHtmlSqlExpr}

/** Crawl query/oracle registry — one slice of the driver contract
  * surface, split out of the former 15k-line SparkEntry monolith so a
  * duplicated query-name literal can never silently shadow a pair out
  * of the sweep again (the round-17 q_text_chunks incident).
  * Each query's lambda, fixtures and oracle text live here; a helper
  * that a streaming twin or another family also uses is
  * `private[registry]` in its batch query's registry. Composed — with
  * a cross-registry duplicate guard — in [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]]. */
private[graft] object CrawlRegistry extends QueryRegistry {

  /** Crawl-trap ledger oracle, shared verbatim by the exact
    * (q_crawl_traps), sketch (q_crawl_traps_sketch — KMV k=4096 exact
    * regime), and streaming (q_stream_traps) forms: the three fixture
    * shapes collapse to three templates per source by construction, so
    * the ledger rebuilds from per-source counts alone. */
  private[registry] lazy val crawlTrapsOracleSql: String =
    """WITH per AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(DISTINCT text) AS BIGINT) AS nt,
      |    CAST(count(DISTINCT doc_id % 40) AS BIGINT) AS np
      |  FROM documents GROUP BY source),
      |t AS (
      |  SELECT 'https://www.' || source || '.example.com/article/#-#'
      |      AS template, n AS n_urls, nt AS n_content FROM per
      |  UNION ALL
      |  SELECT 'https://www.' || source || '.example.com/cal/#/#/#?sid',
      |    n, 1 FROM per
      |  UNION ALL
      |  SELECT 'https://www.' || source || '.example.com/list?page&ref',
      |    n, np FROM per)
      |SELECT template, n_urls, n_content,
      |  CAST(n_content AS DOUBLE) / n_urls AS diversity,
      |  (n_urls >= 10 AND CAST(n_content AS DOUBLE) / n_urls <= 0.2)
      |    AS is_trap
      |FROM t ORDER BY template""".stripMargin

  /** sitemap-seeds oracle, shared verbatim by the text-path query
    * (q_sitemap_seeds) and the gzipped/mixed binary path
    * (q_sitemap_gz — codec transparency is the gate). */
  private val sitemapSeedsOracleSql: String =
      """WITH src AS (
        |  SELECT DISTINCT source, source || '.example.com' AS domain,
        |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 25 AS k
        |  FROM documents),
        |ent AS (
        |  SELECT s.domain,
        |    'https://www.' || s.domain || '/docs/' ||
        |      CAST((s.k + ii.i) % 25 AS VARCHAR) AS loc,
        |    CAST('2026-01-' ||
        |      lpad(CAST((s.k + ii.i) % 28 + 1 AS VARCHAR), 2, '0') AS DATE)
        |      AS lastmod
        |  FROM src s CROSS JOIN (SELECT unnest(range(10)) AS i) ii),
        |crawled AS (
        |  SELECT DISTINCT 'https://www.' || source || '.example.com/docs/' ||
        |    CAST(doc_id % 25 AS VARCHAR) AS loc
        |  FROM documents),
        |seeds AS (
        |  SELECT e.domain, e.loc, e.lastmod FROM ent e
        |  LEFT JOIN crawled c ON c.loc = e.loc WHERE c.loc IS NULL)
        |SELECT domain, loc, lastmod,
        |  CAST(row_number() OVER (PARTITION BY domain
        |    ORDER BY lastmod DESC, loc ASC) AS BIGINT) AS seed_rank
        |FROM seeds ORDER BY domain, seed_rank""".stripMargin

  /** The raw sitemap DOCUMENT frame (domain, url, xml): every domain's
    * /sitemap.xml (even-k: a direct urlset; odd-k: a sitemapindex) plus
    * the odd-k domains' two child urlsets at their own URLs. */
  private def sitemapDocs(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "documents").select(col("source")).distinct()
      .withColumn("domain", concat(col("source"), lit(".example.com")))
      .withColumn("k",
        regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 25)
    val roots = src.select(col("domain"),
      concat(lit("https://www."), col("domain"), lit("/sitemap.xml"))
        .as("url"),
      when(col("k") % 2 === 0,
        operators.Sitemap.syntheticUrlset(col("domain"), col("k"), 0, 10))
        .otherwise(operators.Sitemap.syntheticIndex(col("domain")))
        .as("xml"))
    val children = src.select(col("domain"),
        concat(lit("https://www."), col("domain"), lit("/sitemap-1.xml"))
          .as("url"),
        operators.Sitemap.syntheticUrlset(col("domain"), col("k"), 0, 5)
          .as("xml"))
      .unionByName(src.select(col("domain"),
        concat(lit("https://www."), col("domain"), lit("/sitemap-2.xml"))
          .as("url"),
        operators.Sitemap.syntheticUrlset(col("domain"), col("k"), 5, 10)
          .as("xml")))
      .filter(regexp_extract(col("domain"), "(\\d+)", 1).cast("long")
        % 25 % 2 === 1)
    roots.unionByName(children)
  }

  /** Binary sitemap fixture: the [[sitemapDocs]] documents as BYTES
    * with a deterministic codec mix — roots of k%3!=0 domains and every
    * sitemap-1 child are GZIPPED (so gzipped `<urlset>`, gzipped
    * `<sitemapindex>`, and gzipped children all carry rows), the rest
    * plain UTF-8. Same URLs as the text fixture (no `.gz` suffix —
    * detection must be by magic, the wild serves gzip under plain
    * names), so the index→child join is unchanged and codec
    * transparency is the only variable under test. */
  private def sitemapDocsGz(s: SparkSession, dir: String): DataFrame = {
    val gz = udf { (xml: String, doGz: Boolean) =>
      if (!doGz) xml.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      else {
        val bos = new java.io.ByteArrayOutputStream(xml.length / 2 + 64)
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        g.close()
        bos.toByteArray
      }
    }
    val k = regexp_extract(col("domain"), "(\\d+)", 1).cast("long") % 25
    val doGz = when(col("url").endsWith("/sitemap.xml"), k % 3 =!= 0)
      .when(col("url").endsWith("/sitemap-1.xml"), lit(true))
      .otherwise(lit(false))
    sitemapDocs(s, dir).select(col("domain"), col("url"),
      gz(col("xml"), doGz).as("bytes"))
  }

  /** The fixture's parsed url-entries (domain, kind, loc, lastmod) from
    * a given set of ROOT sitemap documents: index→child resolution via
    * the join on the child's own URL. Shared by seeds / recrawl-plan /
    * the robots-chain query. */
  private def sitemapEntriesFrom(s: SparkSession, dir: String,
                                 roots: DataFrame): DataFrame = {
    val xmls = sitemapDocs(s, dir)
    val rootEntries = operators.Sitemap.parseEntries(roots, "xml")
    val childEntries = operators.Sitemap.parseEntries(
      xmls.join(broadcast(rootEntries.filter(col("kind") === "sitemap")
        .select(col("loc").as("url"))), Seq("url")), "xml")
    rootEntries.filter(col("kind") === "url")
      .select(col("domain"), col("kind"), col("loc"), col("lastmod"),
        col("changefreq"), col("priority"))
      .unionByName(childEntries.filter(col("kind") === "url")
        .select(col("domain"), col("kind"), col("loc"), col("lastmod"),
          col("changefreq"), col("priority")))
  }

  /** The sitemap fixture's parsed url-entries (domain, kind, loc,
    * lastmod), index→child resolution included — shared by the seeds
    * and recrawl-plan queries: even-k domains publish one direct
    * urlset, odd-k domains a sitemapindex whose two children are only
    * reachable through the index join. */
  private def sitemapUrlEntries(s: SparkSession, dir: String): DataFrame =
    sitemapEntriesFrom(s, dir, sitemapDocs(s, dir)
      .filter(col("url").endsWith("/sitemap.xml")))

  /** Head-directive fixture page: a `<base>` on every third document,
    * a `rel=canonical` onto a shared /docs/c<id%5> target on evens, a
    * robots `<meta>` rotating noindex+nofollow / nofollow / explicit
    * index,follow / absent by id%4, and a two-anchor body (one rooted,
    * one relative) for the gate's link-vote count. */
  private[registry] def headFixtureHtml: Column = {
    val host = concat(lit("https://www."), col("source"),
      lit(".example.com"))
    concat(
      lit("<html><head><title>d</title>"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("<base href=\"/assets/\">")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit("<link rel=\"canonical\" href=\""), host,
          lit("/docs/c"), pmod(col("doc_id"), lit(5)), lit("\">")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 0,
        lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          lit("<meta name=\"robots\" content=\"nofollow\">"))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          lit("<meta name=\"robots\" content=\"index, follow\">"))
        .otherwise(lit("")),
      lit("</head><body><p>Body.</p>" +
        "<a href=\"/l1\">One</a><a href=\"l2\">Two</a></body></html>"))
  }

  /** Crawl-trap fixture pages — three URL shapes per document on its
    * source's host: a unique-content /article/<id>-<id%97>, an
    * infinite-calendar /cal/2026/<m>/<d>?sid=<hex12> whose content is
    * ONE boilerplate page per source, and a /list?page=<p>&ref=<id>
    * paginator cycling 40 content variants. Pure Column ops so the
    * streaming twin applies it to the document STREAM unchanged. */
  private[registry] lazy val trapFixturePages: DataFrame => DataFrame = docs => {
    val host = concat(lit("https://www."), col("source"),
      lit(".example.com"))
    docs.select(explode(array(
        struct(
          concat(host, lit("/article/"), col("doc_id"), lit("-"),
            pmod(col("doc_id"), lit(97))).as("url"),
          xxhash64(col("text")).as("fp")),
        struct(
          concat(host, lit("/cal/2026/"),
            pmod(col("doc_id"), lit(12)) + 1, lit("/"),
            pmod(col("doc_id"), lit(28)) + 1, lit("?sid="),
            lower(lpad(hex(col("doc_id")), 12, "0"))).as("url"),
          xxhash64(concat(col("source"), lit("#cal"))).as("fp")),
        struct(
          concat(host, lit("/list?page="), pmod(col("doc_id"), lit(40)),
            lit("&ref="), col("doc_id")).as("url"),
          xxhash64(concat(col("source"), lit("#page"),
            pmod(col("doc_id"), lit(40)))).as("fp")))).as("p"))
      .select(col("p.url").as("url"), col("p.fp").as("fp"))
  }

  /** Anchor-aggregation oracle — shared verbatim by the batch query and
    * its streaming twin (anchor stats are pure aggregates of the link
    * set, so arrival order cannot matter). */
  private[registry] lazy val anchorOracleSql: String =
    """WITH n AS (SELECT count(*) AS n FROM documents),
      |links AS (
      |  SELECT doc_id AS src,
      |    array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS anchor,
      |    (doc_id * 7 + j * 11) % n.n AS dst
      |  FROM documents, n, (SELECT unnest([0, 1, 2]) AS j)
      |  WHERE (doc_id * 7 + j * 11) % n.n <> doc_id),
      |freqs AS (
      |  SELECT dst, anchor, CAST(count(*) AS BIGINT) AS freq,
      |    CAST(count(DISTINCT src) AS BIGINT) AS n_srcs
      |  FROM links GROUP BY dst, anchor),
      |ranked AS (
      |  SELECT dst, anchor, freq, n_srcs,
      |    CAST(row_number() OVER (PARTITION BY dst
      |      ORDER BY freq DESC, anchor ASC) AS BIGINT) AS rank,
      |    CAST(sum(freq) OVER (PARTITION BY dst) AS BIGINT) AS n_inlinks
      |  FROM freqs)
      |SELECT dst, rank, anchor, freq, n_srcs, n_inlinks
      |FROM ranked WHERE rank <= 2
      |ORDER BY dst, rank""".stripMargin

  /** feed-seeds oracle — shared verbatim by the batch discovery query
    * (q_feed_seeds) and its bounded streaming twin (q_stream_seeds):
    * the per-batch anti-join is stream-static and the seed rank is a
    * pure window over the accumulated survivors, so arrival order
    * cannot matter. */
  private[registry] lazy val feedSeedsOracleSql: String =
    """WITH src AS (
      |  SELECT DISTINCT source, source || '.example.com' AS domain,
      |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 25 AS k
      |  FROM documents),
      |ent AS (
      |  SELECT s.source, s.domain,
      |    CASE WHEN s.k % 2 = 0 THEN 'rss' ELSE 'atom' END AS feed_kind,
      |    'https://www.' || s.domain || '/docs/' ||
      |      CAST((s.k + ii.i) % 25 AS VARCHAR) AS loc,
      |    CAST('2026-03-' ||
      |      lpad(CAST((s.k + ii.i) % 28 + 1 AS VARCHAR), 2, '0') AS DATE)
      |      AS lastmod
      |  FROM src s CROSS JOIN (SELECT unnest(range(6)) AS i) ii),
      |crawled AS (
      |  SELECT DISTINCT 'https://www.' || source || '.example.com/docs/' ||
      |    CAST(doc_id % 25 AS VARCHAR) AS loc
      |  FROM documents),
      |seeds AS (
      |  SELECT e.domain, e.feed_kind, e.loc, e.lastmod FROM ent e
      |  LEFT JOIN crawled c ON c.loc = e.loc WHERE c.loc IS NULL)
      |SELECT domain, feed_kind, loc, lastmod,
      |  CAST(row_number() OVER (PARTITION BY domain
      |    ORDER BY lastmod DESC, loc ASC) AS BIGINT) AS seed_rank
      |FROM seeds ORDER BY domain, seed_rank""".stripMargin

  /** robots-gate oracle — shared verbatim by the batch gate
    * (q_robots_gate) and its bounded streaming twin: the graftbot
    * group's rules rebuilt from the template, longest-prefix/Allow-tie
    * winner via lexicographic struct-max per URL. */
  private[registry] lazy val robotsGateOracleSql: String =
    """WITH src AS (
      |  SELECT DISTINCT source, source || '.example.com' AS domain,
      |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 25 AS k
      |  FROM documents),
      |rules AS (
      |  SELECT domain, r.rtype, replace(r.value, '<K>', CAST(k AS VARCHAR)) AS rule_path
      |  FROM src, UNNEST([
      |    {'rtype': 'allow', 'value': '/docs/'},
      |    {'rtype': 'disallow', 'value': '/docs/<K>/'},
      |    {'rtype': 'disallow', 'value': '/tmp/'}
      |  ]) AS t(r)
      |  UNION ALL
      |  SELECT domain, 'disallow', '/' FROM src WHERE k % 5 = 0),
      |urls AS (
      |  SELECT doc_id,
      |    'https://www.' || source || '.example.com/docs/' ||
      |      CAST(doc_id % 25 AS VARCHAR) || '/?utm_source=' || lang AS url,
      |    source || '.example.com' AS domain,
      |    '/docs/' || CAST(doc_id % 25 AS VARCHAR) || '/?utm_source=' || lang AS path
      |  FROM documents
      |  UNION ALL
      |  SELECT -1 - CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT),
      |    'https://www.' || source || '.example.com', domain, '/'
      |  FROM src),
      |won AS (
      |  SELECT u.doc_id, u.url, u.domain, u.path,
      |    max(CASE WHEN starts_with(u.path, r.rule_path) THEN
      |      {'l': strlen(r.rule_path), 'a': CASE WHEN r.rtype = 'allow' THEN 1 ELSE 0 END,
      |       'p': r.rule_path, 't': r.rtype} END) AS win
      |  FROM urls u LEFT JOIN rules r USING (domain)
      |  GROUP BY u.doc_id, u.url, u.domain, u.path)
      |SELECT doc_id, url, domain, path,
      |  coalesce(win.t <> 'disallow', TRUE) AS allowed,
      |  win.p AS matched_path,
      |  CASE WHEN win IS NOT NULL THEN win.t = 'allow' END AS matched_allow
      |FROM won ORDER BY doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ROBOTS-META gate ledger: noindex pages leave the corpus, links on
    // nofollow pages vote for nothing — per source: pages, kept docs,
    // and surviving link votes (2 anchors per follow page).
    "q_meta_robots_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("source"),
          graft.expr.HtmlExpressions.html_head(headFixtureHtml).as("h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_pages"),
          sum((!col("h.noindex")).cast("long")).as("n_kept"),
          sum(when(!col("h.nofollow"), 2L).otherwise(0L)).cast("long")
            .as("n_link_votes"))
        .orderBy(col("source"))
    }),


    // URL blocklist gate (the C4/RefinedWeb front filter): drop documents
    // whose synthesized crawl URL matches a blocked-domain or
    // blocked-path regex — codegen'd disjunction, no join, pushes to the
    // scan. Patterns are simple enough that Java and RE2 agree.
    "q_url_blocklist" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url",
        concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
          (col("doc_id") % 25).cast("string"), lit("/?utm_source="), col("lang")))
      operators.WebCuration.filterBlocked(docs, "url",
          Seq("src1\\.example\\.com", "/docs/7/"))
        .select(col("doc_id"), col("url"))
        .orderBy(col("doc_id"))
    }),


    // Per-domain frequency cap (domain-skew fix): keep the best `cap`
    // docs per domain by (n_chars DESC, doc_id ASC) — a top-k-per-group,
    // one domain-hash shuffle, shuffle rows carry only (domain, rank
    // key). The oracle reconstructs the domain from the synthesis rule
    // and replays the window.
    "q_domain_cap" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url",
        concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
          (col("doc_id") % 25).cast("string"), lit("/?utm_source="), col("lang")))
      operators.WebCuration.capPerDomain(docs, "url",
          col("n_chars").cast("long"), "doc_id", cap = 15)
        .select(col("doc_id"), col("domain"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),


    // URL canonicalization (RFC 3986 §6 + crawl conventions) — the key
    // normalizer BEFORE any url-keyed dedup/frontier/recrawl aggregate:
    // eight spellings of the same resource (case-shifted authority,
    // default port, fragment, dot-segments, over-percent-encoding,
    // tracking params + unsorted query, duplicate slashes) must all
    // collapse to ONE canonical fixed point — the invertible-fixture
    // playbook: the mess generator starts FROM the canonical form, so
    // the oracle is the clean construction, not an SQL re-implementation
    // of the algorithm.
    "q_url_canonicalize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val id = col("doc_id").cast("string")
      val slot = (col("doc_id") % 25).cast("string")
      val host = concat(lit("www."), col("source"), lit(".example.com"))
      val canon = concat(lit("https://"), host, lit("/docs/"), slot,
        lit("/?id="), id, lit("&lang="), col("lang"))
      val qs = concat(lit("?id="), id, lit("&lang="), col("lang"))
      val messy = when(col("doc_id") % 8 === 1,
          concat(lit("HTTPS://WWW."), upper(col("source")),
            lit(".EXAMPLE.COM/docs/"), slot, lit("/"), qs))
        .when(col("doc_id") % 8 === 2,
          concat(lit("https://"), host, lit(":443/docs/"), slot, lit("/"), qs))
        .when(col("doc_id") % 8 === 3,
          concat(canon, lit("#section-2")))
        .when(col("doc_id") % 8 === 4,
          concat(lit("https://"), host, lit("/docs/../docs/"), slot,
            lit("/./"), qs))
        .when(col("doc_id") % 8 === 5,
          concat(lit("https://"), host, lit("/d%6Fcs/"), slot,
            lit("/?id="), id, lit("&l%61ng="), col("lang")))
        .when(col("doc_id") % 8 === 6,
          concat(lit("https://"), host, lit("/docs/"), slot,
            lit("/?utm_source=news&lang="), col("lang"), lit("&id="), id,
            lit("&fbclid=abc123")))
        .when(col("doc_id") % 8 === 7,
          concat(lit("https://"), host, lit("//docs//"), slot, lit("//"), qs))
        .otherwise(canon)
      docs.select(col("doc_id"), messy.as("__raw"),
          graft.expr.UrlExpressions.url_canonicalize(messy).as("url_canon"))
        .select(col("doc_id"), col("url_canon"),
          (col("__raw") =!= col("url_canon")).as("changed"))
        .orderBy(col("doc_id"))
    }),


    // robots.txt parsing (RFC 9309): one synthetic robots document per
    // crawl domain — comments, mixed-case directive names, crawl-delay,
    // a `*` group and a crawler-specific override group — parsed into
    // the typed rule table by pure split/posexplode plus one running-
    // count window (group id = running User-agent count). Hash-matched
    // against the oracle's from-scratch reconstruction of the template's
    // rule rows.
    "q_robots_rules" -> ((s, dir) => {
      val robots = t(s, dir, "documents").select(col("source")).distinct()
        .withColumn("domain", concat(col("source"), lit(".example.com")))
        .withColumn("k",
          regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 25)
        .select(col("domain"),
          operators.RobotsTxt.syntheticRobots(col("domain"), col("k"))
            .as("txt"))
      operators.RobotsTxt.parseRules(robots, "domain", "txt")
        .orderBy(col("domain"), col("agent"), col("line_no"))
    }),


    // RFC 9309 WILDCARD rules — the `*`/`$` forms real sites lean on
    // and a prefix-only matcher silently under-blocks: six URL shapes
    // per document probe a session-id disallow (`/*?sid=`), an anchored
    // extension disallow (`/*.pdf$` — the .pdfx shape proves the anchor
    // does not over-block), an anchored Allow override inside a
    // disallowed subtree (`/docs/*/open$` out-lengths `/docs/`), and a
    // mid-path wildcard (`/cal/*/print`). Every (allowed, matched_path,
    // matched_allow) verdict is pinned by the oracle per shape.
    "q_robots_wildcards" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val robots = docs.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example.com")).as("domain"))
        .withColumn("txt", lit(
          "User-agent: graftbot\n" +
            "Disallow: /*?sid=\n" +
            "Disallow: /*.pdf$\n" +
            "Allow: /docs/*/open$\n" +
            "Disallow: /docs/\n" +
            "Disallow: /cal/*/print\n"))
      val rules = operators.RobotsTxt.parseRules(robots, "domain", "txt")
      val host = concat(lit("https://www."), col("source"),
        lit(".example.com"))
      val slot = (col("doc_id") % 25).cast("string")
      val yr = (col("doc_id") % 30 + 2000).cast("string")
      val id = col("doc_id").cast("string")
      val urls = docs.select(col("doc_id"), posexplode(array(
          concat(host, lit("/docs/"), slot, lit("/open")),
          concat(host, lit("/docs/"), slot, lit("/page")),
          concat(host, lit("/page/"), id, lit("?sid="), id),
          concat(host, lit("/files/report"), id, lit(".pdf")),
          concat(host, lit("/files/report"), id, lit(".pdfx")),
          concat(host, lit("/cal/"), yr, lit("/print"))))
        .as(Seq("shape", "url")))
      operators.RobotsTxt.gate(urls, "url", rules, "graftbot")
        .select(col("doc_id"), col("shape").cast("long").as("shape"),
          col("url"), col("allowed"), col("matched_path"),
          col("matched_allow"))
        .orderBy(col("doc_id"), col("shape"))
    }),


    // The politeness gate itself: every document URL against its
    // domain's parsed rules for agent "graftbot" — group override (the
    // crawler group wins over `*`), longest-prefix match, Allow beating
    // Disallow on ties, all decided by ONE broadcast join + combining
    // struct-max aggregate. Blocked exactly when the doc's path slot
    // equals the domain's Disallow slot. One PATHLESS root URL per domain
    // (negative doc_id = -(domain number)-1) exercises the RFC 9309
    // empty-path normalization: "https://domain" gates as path "/", so
    // the k%5==0 domains' root Disallow blocks it — and only it.
    "q_robots_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val robots = docs.select(col("source")).distinct()
        .withColumn("domain", concat(col("source"), lit(".example.com")))
        .withColumn("k",
          regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 25)
        .select(col("domain"),
          operators.RobotsTxt.syntheticRobots(col("domain"), col("k"))
            .as("txt"))
      val rules = operators.RobotsTxt.parseRules(robots, "domain", "txt")
      val rootUrls = docs.select(col("source")).distinct()
        .select((lit(-1L) - regexp_extract(col("source"), "(\\d+)", 1)
            .cast("long")).as("doc_id"),
          concat(lit("https://www."), col("source"), lit(".example.com"))
            .as("url"))
      val urls = docs.select(col("doc_id"),
        concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
          (col("doc_id") % 25).cast("string"), lit("/?utm_source="),
          col("lang")).as("url"))
        .unionByName(rootUrls)
      operators.RobotsTxt.gate(urls, "url", rules, "graftbot")
        .select(col("doc_id"), col("url"), col("domain"), col("path"),
          col("allowed"), col("matched_path"), col("matched_allow"))
        .orderBy(col("doc_id"))
    }),


    // Anchor-text aggregation (the web graph's text signal): a synthetic
    // outlink graph — every doc links to 3 arithmetic targets with its
    // leading trigram as the anchor — aggregated per target into anchor
    // frequencies, inlink totals, and the top-2 anchors by (freq DESC,
    // anchor ASC). One (dst, anchor) combining shuffle + a dst-keyed
    // WindowGroupLimit; the raw link stream never shuffles whole.
    "q_anchor_texts" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val links = docs.select(col("doc_id").as("src"),
          array_join(slice(split(col("text"), " "), 1, 3), " ").as("anchor"),
          explode(array((0 until 3).map(j =>
            (col("doc_id") * 7 + lit(j * 11)) % lit(n)): _*)).as("dst"))
      operators.WebCuration.topAnchors(links, "src", "dst", "anchor", k = 2)
        .select(col("dst"), col("rank"), col("anchor"), col("freq"),
          col("n_srcs"), col("n_inlinks"))
        .orderBy(col("dst"), col("rank"))
    }),


    // The crawl FRONTIER: link targets beyond the crawled id range (the
    // synthetic outlinks run UN-modded, so most targets are undiscovered
    // pages), prioritized by inlink mass — one (dst) combining aggregate,
    // an anti-join against the crawled set, and the distributed top-50
    // (TakeOrdered, no global window; ranks assigned on the bounded
    // result).
    "q_crawl_frontier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val links = docs.select(col("doc_id").as("src"),
        explode(array((0 until 3).map(j =>
          col("doc_id") * 7 + lit(j * 11)): _*)).as("dst"))
      operators.WebCuration.frontier(links, "src", "dst",
          docs.select(col("doc_id")), "doc_id", limit = 50)
        .select(col("rank"), col("dst"), col("n_inlinks"), col("n_srcs"))
        .orderBy(col("rank"))
    }),


    // CRAWL-TRAP detection: three URL shapes per document on its
    // source's host — an /article/<id>-<id%97> page with unique
    // content, a /cal/2026/<m>/<d>?sid=<hex12> calendar whose content
    // is one boilerplate page per source (the classic infinite-calendar
    // trap), and a /list?page=<p>&ref=<id> paginator whose content
    // cycles over 40 variants (trap only once the corpus outgrows 200
    // URLs per source). urlTemplate must collapse each shape to one
    // template per source (digits→#, the 12-hex sid into the sorted
    // param-name signature), and the per-template (n_urls, n_content,
    // diversity, is_trap) ledger must equal the oracle's replay of the
    // construction — both trap verdicts AND the healthy article rows.
    "q_crawl_traps" -> ((s, dir) => {
      operators.WebCuration.crawlTraps(trapFixturePages(t(s, dir,
          "documents")), "url", col("fp"), minUrls = 10, maxDiversity = 0.2)
        .orderBy(col("template"))
    }),


    // The same ledger over KMV SKETCH state — the mergeable form a
    // 100-TB batch (map-side bounded state instead of the Expand×2
    // exact plan) and the streaming twin both run. k=4096 keeps every
    // fixture template in the exact regime, so this shares the exact
    // ledger's oracle verbatim.
    "q_crawl_traps_sketch" -> ((s, dir) => {
      operators.WebCuration.crawlTrapsSketch(trapFixturePages(t(s, dir,
          "documents")), "url", col("fp"), k = 4096, minUrls = 10,
          maxDiversity = 0.2)
        .orderBy(col("template"))
    }),


    // CANONICAL-KEY frontier — spelling variants no longer fragment the
    // vote: pages live on a 200-page synthetic web (canonical url a pure
    // function of the page number), every link spells its endpoint in
    // one of the EIGHT q_url_canonicalize mess shapes, and the crawled
    // set (pages 0-99) is recorded under yet another spelling.
    // urlFrontier must pool each target's inlink mass across spellings
    // (raw keys would split every vote 8 ways and re-queue every crawled
    // page), collapse distinct-src counting onto canonical source pages,
    // drop self-links even when the two ends are spelled differently,
    // and exclude crawled targets whatever their recorded spelling. The
    // oracle replays the frontier over page NUMBERS (the collapse is by
    // construction) and rebuilds the canonical strings only for output
    // and tie-break order.
    "q_frontier_canon" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def messy(v: Column, k: Column): Column = {
        val kStr = k.cast("string")
        val host = concat(lit("www.w"), (k % 20).cast("string"),
          lit(".example.com"))
        val qs = concat(lit("?id="), kStr)
        when(v === 1, concat(lit("HTTPS://"), upper(host), lit("/p/"), kStr,
            lit("/"), qs))
          .when(v === 2, concat(lit("https://"), host, lit(":443/p/"), kStr,
            lit("/"), qs))
          .when(v === 3, concat(lit("https://"), host, lit("/p/"), kStr,
            lit("/"), qs, lit("#frag")))
          .when(v === 4, concat(lit("https://"), host, lit("/p/../p/"), kStr,
            lit("/./"), qs))
          .when(v === 5, concat(lit("https://"), host, lit("/%70/"), kStr,
            lit("/"), qs))
          .when(v === 6, concat(lit("https://"), host, lit("/p/"), kStr,
            lit("/?utm_source=news&id="), kStr, lit("&fbclid=x")))
          .when(v === 7, concat(lit("https://"), host, lit("//p//"), kStr,
            lit("//"), qs))
          .otherwise(concat(lit("https://"), host, lit("/p/"), kStr,
            lit("/"), qs))
      }
      val links = docs.select(col("doc_id"),
          explode(array((0 until 3).map(j => lit(j)): _*)).as("j"))
        .select(
          messy(pmod(col("doc_id"), lit(8)), pmod(col("doc_id"), lit(100)))
            .as("src_url"),
          messy(pmod(col("doc_id") + col("j"), lit(8)),
            pmod(col("doc_id") * 7 + col("j") * 11, lit(200))).as("dst_url"))
      val crawled = s.range(100).select(
        messy(pmod(col("id"), lit(8)), col("id")).as("url"))
      operators.WebCuration.urlFrontier(links, "src_url", "dst_url",
          crawled, "url", limit = 50)
        .select(col("rank"), col("url"), col("n_inlinks"), col("n_srcs"))
        .orderBy(col("rank"))
    }),


    // The politeness FETCH SCHEDULE: allowed URLs queue per origin in
    // Knuth-hash order, spaced by the origin's crawl-delay (the graftbot
    // group's own delay here; the `*`-group and default fallbacks are
    // spec-pinned) — fetch_at_ms = pos·delay, the fetcher fleet's plan.
    "q_crawl_schedule" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val robots = docs.select(col("source")).distinct()
        .withColumn("domain", concat(col("source"), lit(".example.com")))
        .withColumn("k",
          regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 25)
        .select(col("domain"),
          operators.RobotsTxt.syntheticRobots(col("domain"), col("k"))
            .as("txt"))
      val rules = operators.RobotsTxt.parseRules(robots, "domain", "txt")
      val urls = docs.select(col("doc_id"),
        concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
          (col("doc_id") % 25).cast("string"), lit("/?utm_source="),
          col("lang")).as("url"))
      operators.RobotsTxt.schedule(urls, "url", "doc_id", rules, "graftbot")
        .select(col("doc_id"), col("domain"), col("delay_ms"), col("pos"),
          col("fetch_at_ms"))
        .orderBy(col("doc_id"))
    }),


    // REGISTRABLE-DOMAIN politeness — subdomains share one queue: the
    // sources are spread over four sites ({source}.market.co.uk /
    // .deals.co.uk / .g2.example / .g3.example by k%4), robots gating
    // and crawl-delay stay per HOST, but the fetch queue keys on the
    // registrable domain (the co.uk pair pins the public-suffix rule —
    // naive last-two-labels would merge market and deals into one
    // phantom "co.uk" site and every pos would shift) and spaces by the
    // most conservative member delay. The oracle replays the gate, the
    // constructed site labels, the max-delay fold and the Knuth-hash
    // queue order.
    "q_crawl_schedule_host" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val k = regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 25
      val hostSuffix = element_at(array(lit(".market.co.uk"),
        lit(".deals.co.uk"), lit(".g2.example"), lit(".g3.example")),
        (k % 4).cast("int") + 1)
      val host = concat(col("source"), hostSuffix)
      val robots = docs.select(col("source")).distinct()
        .select(host.as("domain"),
          operators.RobotsTxt.syntheticRobots(host, k).as("txt"))
      val rules = operators.RobotsTxt.parseRules(robots, "domain", "txt")
      val urls = docs.select(col("doc_id"),
        concat(lit("https://"), host, lit("/docs/"),
          (col("doc_id") % 25).cast("string"), lit("/?utm_source="),
          col("lang")).as("url"))
      operators.RobotsTxt.scheduleByRegistrableDomain(urls, "url", "doc_id",
          rules, "graftbot")
        .select(col("doc_id"), col("domain"), col("reg_domain"),
          col("delay_ms"), col("queue_delay_ms"), col("pos"),
          col("fetch_at_ms"))
        .orderBy(col("doc_id"))
    }),


    // The curator's planning table: per-domain doc count, char volume,
    // and kept-at-cap — one combining aggregate over the domain key.
    "q_domain_profile" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url",
        concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
          (col("doc_id") % 25).cast("string"), lit("/?utm_source="), col("lang")))
      operators.WebCuration.domainProfile(docs, "url",
          col("n_chars").cast("long"), cap = 15)
        .orderBy(col("domain"))
    }),


    // DISCOVERY CAPSTONE: the frontier built from links the crawler
    // actually EXTRACTED — archive parse → html_links → nofollow filter
    // → resolve against each page's own URI → canonical urlFrontier
    // anti-joined against the crawled set. Until now the loop's
    // frontier ran on fixture link frames; this runs it on parsed
    // anchors end-to-end from storage.
    "q_crawl_discover" -> ((s, dir) => {
      val recs = ingest.WarcIngest.readRecords(s, warcFixtureDir(s, dir))
        .filter(col("warc_type") === "response" &&
          col("http_status") === 200 &&
          col("http_content_type").startsWith("text/html"))
      val links = recs
        .select(col("target_uri"),
          explode(graft.expr.HtmlExpressions.html_links(col("body")))
            .as("l"))
        .filter(!col("l.nofollow"))
        .select(col("target_uri").as("src_url"),
          graft.expr.UrlExpressions.url_resolve(col("target_uri"),
            col("l.href")).as("dst_url"))
      operators.WebCuration.urlFrontier(links, "src_url", "dst_url",
          recs.select(col("target_uri")), "target_uri", limit = 50)
        .orderBy(col("rank"))
    }),


    // The crawl LOOP closed: discovery → politeness → fetch → archive →
    // re-ingest, every stage an already-oracled operator. Frontier
    // targets (top-50 undiscovered link dsts by inlink mass) resolve to
    // candidate URLs on their host page's domain (dst % n — the
    // simulated DNS+fetch of the synthetic web), pass the graftbot
    // robots gate, queue on the per-origin crawl-delay schedule, and the
    // first fetch wave (due before t = 5 s) is rendered and written out
    // as fresh WARC archives — which the same reader ingests back, the
    // oracle recomputing every WARC/HTTP framing field of the records
    // the loop must have produced.
    // The crawl loop RUN TWICE against the standing manifest — the
    // convergence step a one-wave capstone leaves open: wave 1 fetches
    // its due frontier slice and lands in the warehouse via
    // ingestIncremental; wave 2 rebuilds the crawled set FROM THE
    // WAREHOUSE (docs ∪ wave-1 fetches, read back out of the record
    // table), so its frontier provably excludes every wave-1 fetch and
    // advances to the next 50 targets; a third ingest pass over wave 2's
    // archives must append nothing (file-granularity idempotence,
    // asserted in-query like q_warc_incremental). The accumulated
    // warehouse must equal the union of both waves' records — the
    // oracle replays frontier→gate→schedule→WARC framing for BOTH
    // waves, the second over the wave-1-reduced candidate set.
    "q_crawl_loop_waves" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val links = docs.select(col("doc_id").as("src"),
        explode(array((0 until 3).map(j =>
          col("doc_id") * 7 + lit(j * 11)): _*)).as("dst"))
      val pages = docs.select(col("doc_id").as("pid"), col("source"),
        col("text"))
      val robots = docs.select(col("source")).distinct()
        .withColumn("domain", concat(col("source"), lit(".example.com")))
        .withColumn("k",
          regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 25)
        .select(col("domain"),
          operators.RobotsTxt.syntheticRobots(col("domain"), col("k"))
            .as("txt"))
      val rules = operators.RobotsTxt.parseRules(robots, "domain", "txt")
      val base = Scratch.path(dir, "crawlwaves")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      val wh = s"$base/warehouse"
      val mf = s"$base/manifest"
      def runWave(crawledIds: DataFrame, outDir: String): Unit = {
        val frontier = operators.WebCuration.frontier(links, "src", "dst",
          crawledIds, "doc_id", limit = 50)
        val cand = frontier.select(col("dst"))
          .withColumn("pid", col("dst") % lit(n))
          .join(pages, "pid")
          .select(col("dst"),
            concat(lit("https://www."), col("source"),
              lit(".example.com/docs/"), (col("dst") % 25).cast("string"),
              lit("/")).as("url"),
            col("text"))
        val due = operators.RobotsTxt
          .schedule(cand, "url", "dst", rules, "graftbot")
          .filter(col("fetch_at_ms") < 5000L)
        val fetched = due.select(col("dst").as("doc_id"), col("url"),
          operators.TextExtract.syntheticHtml(col("dst"), col("text"))
            .as("body"))
        ingest.WarcIngest.writeSyntheticWarc(s, fetched, "doc_id", "url",
          "body", outDir, nFiles = 2)
      }
      runWave(docs.select(col("doc_id")), s"$base/w1")
      val i1 = ingest.WarcIngest.ingestIncremental(s, s"$base/w1", wh, mf)
      val crawled2 = docs.select(col("doc_id")).unionByName(
        s.read.parquet(wh).filter(col("warc_type") === "response")
          .select(regexp_extract(col("record_id"), "doc:(\\d+)", 1)
            .cast("long").as("doc_id")))
      runWave(crawled2, s"$base/w2")
      val i2 = ingest.WarcIngest.ingestIncremental(s, s"$base/w2", wh, mf)
      val i3 = ingest.WarcIngest.ingestIncremental(s, s"$base/w2", wh, mf)
      require(i1.size == 2 && i2.size == 2 && i3.isEmpty,
        s"crawl waves wrong: ${i1.size}/${i2.size}/${i3.size}")
      s.read.parquet(wh).select(
          when(col("file").contains("/w1/"), 1L).otherwise(2L).as("wave"),
          when(col("warc_type") === "warcinfo",
            -regexp_extract(col("record_id"), "warcinfo:(\\d+)", 1)
              .cast("long") - 1)
            .otherwise(regexp_extract(col("record_id"), "doc:(\\d+)", 1)
              .cast("long")).as("rec_key"),
          col("warc_type"), col("target_uri"), col("content_length"),
          col("http_status").cast("long").as("http_status"),
          col("http_content_type"),
          octet_length(col("body")).cast("long").as("body_octets"))
        .orderBy(col("wave"), col("rec_key"))
    }),


    // The POLITE crawl loop — the ledger and the revalidation plan
    // finally composed IN FRONT of scheduling (until now the loop
    // fetched every frontier candidate): wave candidates pass (1) the
    // crawl-trap gate — templates the KMV sketch ledger flagged over
    // the already-fetched corpus are anti-joined away (every planted
    // calendar candidate must die here, require()d in-query), then
    // (2) the recrawl plan — held pages whose advertised lastmod
    // predates our fetch are `skip` and provably absent downstream
    // (require()d), stale ones become `refresh`, unseen ones `new` —
    // and (3) the RFC 9110 conditional-fetch planner assigns each
    // survivor its revalidation mode + header values from the latest
    // held copy. Output: the per-domain ranked polite fetch queue.
    // Scale shape: the ledger and both plan joins are template-/
    // URL-count-sized (broadcast), candidates stream through per-row.
    "q_crawl_loop_polite" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val host = concat(lit("https://www."), col("source"),
        lit(".example.com"))
      val domain = concat(col("source"), lit(".example.com"))
      // next-wave candidates: new articles (fetch), calendar-trap URLs
      // (must die at the ledger gate — same template as the fetched
      // /cal corpus), held-and-fresh slots (skip), held-and-stale docs
      // (refresh + revalidate)
      val aCand = docs.select(domain.as("domain"), lit("url").as("kind"),
        concat(host, lit("/article/new-"), col("doc_id").cast("string"))
          .as("loc"),
        lit(null).cast("date").as("lastmod"))
      val bCand = docs.select(domain.as("domain"), lit("url").as("kind"),
        concat(host, lit("/cal/2027/"),
          (pmod(col("doc_id"), lit(12)) + 1).cast("string"), lit("/"),
          (pmod(col("doc_id"), lit(28)) + 1).cast("string"),
          lit("?sid="), lower(lpad(hex(col("doc_id") * 7919), 16, "0")))
          .as("loc"),
        lit(null).cast("date").as("lastmod"))
      val cCand = docs
        .select(col("source"), pmod(col("doc_id"), lit(25)).as("slot"))
        .distinct()
        .select(concat(col("source"), lit(".example.com")).as("domain"),
          lit("url").as("kind"),
          concat(lit("https://www."), col("source"),
            lit(".example.com/docs/"), col("slot").cast("string")).as("loc"),
          to_date(lit("2026-01-15")).as("lastmod"))
      val dCand = docs
        .select(col("source"), pmod(col("doc_id"), lit(10)).as("sl"))
        .distinct()
        .select(concat(col("source"), lit(".example.com")).as("domain"),
          lit("url").as("kind"),
          concat(lit("https://www."), col("source"),
            lit(".example.com/stale/"), col("sl").cast("string")).as("loc"),
          to_date(lit("2026-02-10")).as("lastmod"))
      val cands = aCand.unionByName(bCand).unionByName(cCand)
        .unionByName(dCand)
      // the crawl warehouse's held projection: fresh /docs copies
      // (fetched after the advertised lastmod), stale /stale copies
      // (fetched before it; ETag stored on even slots)
      val held = docs
        .select(col("source"), pmod(col("doc_id"), lit(25)).as("slot"))
        .distinct()
        .select(concat(lit("https://www."), col("source"),
            lit(".example.com/docs/"), col("slot").cast("string")).as("url"),
          to_date(lit("2026-02-01")).as("fetched_at"),
          lit(null).cast("string").as("etag"))
        .unionByName(docs
          .select(col("source"), pmod(col("doc_id"), lit(10)).as("sl"))
          .distinct()
          .select(concat(lit("https://www."), col("source"),
              lit(".example.com/stale/"), col("sl").cast("string"))
              .as("url"),
            to_date(lit("2026-01-05")).as("fetched_at"),
            when(pmod(col("sl"), lit(2)) === 0,
              concat(lit("W/\""), col("sl").cast("string"), lit("\"")))
              .as("etag")))
      // (1) trap gate: ledger from the ALREADY-FETCHED trap corpus.
      // `trapped` and `keyed` each feed TWO consumers (the in-query
      // nDropped gate AND the anti-join), and `cond` feeds two more (the
      // freshLeak gate AND the declared output) — without the
      // materializations every require() recomputed its whole upstream
      // (ledger sketch, template derivation, both plan joins) a second
      // time (guide §2.4/§5: materialize a multiply-consumed subtree
      // once). The gates still fire on every run; rows are unchanged.
      val trapped = Materialize(operators.WebCuration.crawlTrapsSketch(
          trapFixturePages(docs), "url", col("fp"), k = 4096,
          minUrls = 10, maxDiversity = 0.2)
        .filter(col("is_trap")).select(col("template")))
      val keyed = Materialize(cands.withColumn("template",
        operators.WebCuration.urlTemplate(col("loc"))))
      val nDropped = keyed.join(broadcast(trapped), Seq("template")).count()
      require(nDropped == docs.count(),
        s"trap gate dropped $nDropped, expected one calendar candidate " +
          "per document")
      val survivors = keyed
        .join(broadcast(trapped), Seq("template"), "left_anti")
        .drop("template")
      // (2) recrawl plan + (3) conditional revalidation
      val plan = operators.Sitemap.recrawlPlan(survivors, "domain", held,
        "url", "fetched_at")
      val cond = Materialize(operators.Sitemap.conditionalPlan(plan, held, "url",
        "etag", "fetched_at", "fetched_at"))
      val freshLeak = cond
        .join(cCand.select(col("loc")).distinct(), Seq("loc")).count()
      require(freshLeak == 0,
        s"$freshLeak unexpired held pages leaked into the fetch queue")
      cond.select(col("domain"), col("loc"), col("action"), col("mode"),
          col("if_none_match"), col("if_modified_since"), col("fetch_rank"))
        .orderBy(col("domain"), col("fetch_rank"))
    }),


    "q_crawl_loop" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val links = docs.select(col("doc_id").as("src"),
        explode(array((0 until 3).map(j =>
          col("doc_id") * 7 + lit(j * 11)): _*)).as("dst"))
      val frontier = operators.WebCuration.frontier(links, "src", "dst",
        docs.select(col("doc_id")), "doc_id", limit = 50)
      val pages = docs.select(col("doc_id").as("pid"), col("source"),
        col("text"))
      val cand = frontier.select(col("dst"))
        .withColumn("pid", col("dst") % lit(n))
        .join(pages, "pid")
        .select(col("dst"),
          concat(lit("https://www."), col("source"),
            lit(".example.com/docs/"), (col("dst") % 25).cast("string"),
            lit("/")).as("url"),
          col("text"))
      val robots = docs.select(col("source")).distinct()
        .withColumn("domain", concat(col("source"), lit(".example.com")))
        .withColumn("k",
          regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 25)
        .select(col("domain"),
          operators.RobotsTxt.syntheticRobots(col("domain"), col("k"))
            .as("txt"))
      val rules = operators.RobotsTxt.parseRules(robots, "domain", "txt")
      val wave = operators.RobotsTxt
        .schedule(cand, "url", "dst", rules, "graftbot")
        .filter(col("fetch_at_ms") < 5000L)
      val fetched = wave.select(col("dst").as("doc_id"), col("url"),
        operators.TextExtract.syntheticHtml(col("dst"), col("text"))
          .as("body"))
      val out = Scratch.path(dir, "crawlloop")
      ingest.WarcIngest.writeSyntheticWarc(s, fetched, "doc_id", "url",
        "body", out, nFiles = 2)
      ingest.WarcIngest.readRecords(s, out)
        .select(
          when(col("warc_type") === "warcinfo",
            -regexp_extract(col("record_id"), "warcinfo:(\\d+)", 1)
              .cast("long") - 1)
            .otherwise(regexp_extract(col("record_id"), "doc:(\\d+)", 1)
              .cast("long")).as("rec_key"),
          col("warc_type"), col("target_uri"), col("content_length"),
          col("http_status").cast("long").as("http_status"),
          col("http_content_type"),
          octet_length(col("body")).cast("long").as("body_octets"))
        .orderBy(col("rec_key"))
    }),


    // sitemaps.org discovery — the seed input next to robots.txt:
    // <urlset> documents parsed to (loc, lastmod) entries, odd-k domains
    // publishing a <sitemapindex> whose child sitemaps are reachable
    // ONLY through the index→child join (an index parse failure loses
    // exactly those domains' entries), already-crawled locations
    // anti-joined away, survivors ranked newest-first per domain.
    "q_sitemap_seeds" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val crawled = docs.select(concat(lit("https://www."), col("source"),
        lit(".example.com/docs/"), (col("doc_id") % 25).cast("string"))
        .as("url")).distinct()
      operators.Sitemap.seeds(sitemapUrlEntries(s, dir), "domain",
          crawled, "url")
        .select(col("domain"), col("loc"), col("lastmod"), col("seed_rank"))
        .orderBy(col("domain"), col("seed_rank"))
    }),


    // GZIPPED sitemaps + index recursion over BYTES — the form a
    // fetcher actually holds (sitemap.xml.gz is the common spelling;
    // the wild also serves gzip under plain names, so detection is by
    // MAGIC): a deterministic mix of gzipped/plain urlsets, indexes,
    // and children routes through gunzip_text before the same parse +
    // index→child join + seed ranking — and must produce the IDENTICAL
    // seed table, hash-matched against q_sitemap_seeds' oracle
    // verbatim. The codec-transparency gate, the q_warc_stats pattern.
    "q_sitemap_gz" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val crawled = docs.select(concat(lit("https://www."), col("source"),
        lit(".example.com/docs/"), (col("doc_id") % 25).cast("string"))
        .as("url")).distinct()
      val bs = sitemapDocsGz(s, dir)
      val rootEntries = operators.Sitemap.parseEntriesBinary(
        bs.filter(col("url").endsWith("/sitemap.xml")), "bytes")
      val childEntries = operators.Sitemap.parseEntriesBinary(
        bs.join(broadcast(rootEntries.filter(col("kind") === "sitemap")
          .select(col("loc").as("url"))), Seq("url")), "bytes")
      val entries = rootEntries.filter(col("kind") === "url")
        .select(col("domain"), col("kind"), col("loc"), col("lastmod"),
          col("changefreq"), col("priority"))
        .unionByName(childEntries.filter(col("kind") === "url")
          .select(col("domain"), col("kind"), col("loc"), col("lastmod"),
            col("changefreq"), col("priority")))
      operators.Sitemap.seeds(entries, "domain", crawled, "url")
        .select(col("domain"), col("loc"), col("lastmod"), col("seed_rank"))
        .orderBy(col("domain"), col("seed_rank"))
    }),


    // The discovery chain CLOSED end-to-end: robots.txt's `Sitemap:`
    // directive (group-independent, parsed by its own line walk) names
    // each domain's sitemap; the crawler follows the directive (join on
    // the document's own URL — a directive pointing nowhere yields
    // nothing), resolves index→children where published, and counts the
    // advertised URLs. Every domain must surface exactly its 10 entries,
    // odd-k domains provably THROUGH the index hop.
    "q_robots_sitemaps" -> ((s, dir) => {
      val src = t(s, dir, "documents").select(col("source")).distinct()
        .withColumn("domain", concat(col("source"), lit(".example.com")))
        .withColumn("k",
          regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 25)
      val robots = src.select(col("domain"),
        operators.RobotsTxt.syntheticRobots(col("domain"), col("k"))
          .as("txt"))
      val directives = operators.RobotsTxt.sitemapDirectives(robots,
        "domain", "txt")
      val roots = sitemapDocs(s, dir).drop("domain")
        .join(directives.select(col("domain"),
          col("sitemap_url").as("url")), Seq("url"))
      val viaIndex = operators.Sitemap.parseEntries(roots, "xml")
        .groupBy(col("domain"))
        .agg(max((col("kind") === "sitemap").cast("int")).as("__via"))
      directives.select(col("domain"), col("sitemap_url"))
        .join(sitemapEntriesFrom(s, dir, roots).groupBy(col("domain"))
          .agg(count(lit(1)).as("n_urls")), Seq("domain"))
        .join(viaIndex, Seq("domain"))
        .select(col("domain"), col("sitemap_url"), col("n_urls"),
          (col("__via") === 1).as("via_index"))
        .orderBy(col("domain"))
    }),


    // The FAST discovery input: RSS/Atom feeds, each format exercising
    // a different extraction shape (RSS: link in element text, RFC-822
    // pubDate; Atom: link in the href attribute, ISO-8601 updated),
    // normalized into the sitemap url-entry shape so ONE seeds operator
    // (anti-join + newest-first rank) serves all discovery inputs —
    // feed kind carried through to prove both parsers fed the result.
    "q_feed_seeds" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val src = docs.select(col("source")).distinct()
        .withColumn("domain", concat(col("source"), lit(".example.com")))
        .withColumn("k",
          regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 25)
      val feeds = src.select(col("domain"),
        when(col("k") % 2 === 0,
          operators.Feeds.syntheticRss(col("domain"), col("k"), 0, 6))
          .otherwise(
            operators.Feeds.syntheticAtom(col("domain"), col("k"), 0, 6))
          .as("xml"))
      val entries = operators.Feeds.parseEntries(feeds, "xml")
        .select(col("domain"), col("kind").as("feed_kind"),
          lit("url").as("kind"), col("link").as("loc"),
          col("published").as("lastmod"))
      val crawled = docs.select(concat(lit("https://www."), col("source"),
        lit(".example.com/docs/"), (col("doc_id") % 25).cast("string"))
        .as("url")).distinct()
      operators.Sitemap.seeds(entries, "domain", crawled, "url")
        .select(col("domain"), col("feed_kind"), col("loc"),
          col("lastmod"), col("seed_rank"))
        .orderBy(col("domain"), col("seed_rank"))
    }),


    // The sitemap's SECOND job: the recrawl plan. Each advertised URL
    // classified against the crawl warehouse — never-crawled slots are
    // 'new', crawled slots whose sitemap lastmod postdates our (slot-
    // derived) fetch date are 'refresh', current copies 'skip' — and the
    // non-skip rows ranked newest-first per domain: the fetcher's work
    // queue, with all three outcomes exercised by the date arithmetic.
    "q_recrawl_plan" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val crawled = docs
        .select(col("source"), (col("doc_id") % 25).as("slot")).distinct()
        .select(concat(lit("https://www."), col("source"),
            lit(".example.com/docs/"), col("slot").cast("string")).as("url"),
          to_date(concat(lit("2026-01-"),
            lpad(((col("slot") * 3) % 28 + 1).cast("string"), 2, "0")))
            .as("fetched_at"))
      operators.Sitemap.recrawlPlan(sitemapUrlEntries(s, dir), "domain",
          crawled, "url", "fetched_at")
        .select(col("domain"), col("loc"), col("action"), col("fetch_rank"))
        .orderBy(col("domain"), col("loc"))
    }),


    // CHANGEFREQ-aware recrawl — unsticking the conservative branch:
    // a held copy with no newer lastmod used to always skip; now the
    // sitemap's advertised revisit period decides (always/daily → 1 day,
    // weekly 7, monthly 30, yearly 365, never/unknown → still skip).
    // As of 2026-02-15 the fixture's fetch dates make monthly split by
    // elapsed days, yearly/never always skip, and the rest revisit —
    // the oracle replays the whole ladder per slot.
    "q_recrawl_changefreq" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val crawled = docs
        .select(col("source"), (col("doc_id") % 25).as("slot")).distinct()
        .select(concat(lit("https://www."), col("source"),
            lit(".example.com/docs/"), col("slot").cast("string")).as("url"),
          to_date(concat(lit("2026-01-"),
            lpad(((col("slot") * 3) % 28 + 1).cast("string"), 2, "0")))
            .as("fetched_at"))
      operators.Sitemap.recrawlPlanFreq(sitemapUrlEntries(s, dir), "domain",
          crawled, "url", "fetched_at", to_date(lit("2026-02-15")))
        .select(col("domain"), col("loc"), col("changefreq"), col("action"),
          col("fetch_rank"))
        .orderBy(col("domain"), col("loc"))
    }),


    // CONDITIONAL refetch (RFC 9110 revalidation) — the recrawl plan's
    // HTTP half and its bandwidth ledger: held copies carry an ETag on
    // slot%3==0 (→ If-None-Match) and always a Last-Modified (→
    // If-Modified-Since), `new` URLs fetch full; the simulated server
    // 304s every even-slot conditional probe. The per-domain ledger
    // (fetch counts by mode, 304s, bytes shipped vs bytes a 304 saved)
    // must equal the oracle's replay of plan → validators → outcomes.
    "q_recrawl_conditional" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val crawled = docs
        .select(col("source"), (col("doc_id") % 25).as("slot")).distinct()
        .select(
          concat(lit("https://www."), col("source"),
            lit(".example.com/docs/"), col("slot").cast("string"))
            .as("url"),
          to_date(concat(lit("2026-01-"),
            lpad(((col("slot") * 3) % 28 + 1).cast("string"), 2, "0")))
            .as("fetched_at"),
          when(col("slot") % 3 === 0,
            concat(lit("W/\""), col("slot").cast("string"), lit("\"")))
            .as("etag"))
      val plan = operators.Sitemap.recrawlPlan(sitemapUrlEntries(s, dir),
        "domain", crawled, "url", "fetched_at")
      val cond = operators.Sitemap.conditionalPlan(plan, crawled, "url",
        "etag", "fetched_at", "fetched_at")
      val slot = regexp_extract(col("loc"), "/docs/(\\d+)$", 1).cast("long")
      val outcomes = cond
        .withColumn("status",
          when(col("mode") === "full", lit(200))
            .when(slot % 2 === 0, lit(304)).otherwise(lit(200)))
        .withColumn("bytes", lit(1000L) + slot * 7)
      operators.Sitemap.fetchLedger(outcomes, "domain", "mode", "status",
          "bytes")
        .orderBy(col("domain"))
    }),


    // The CRAWL→TRAINER capstone: the entire front of the pipeline in one
    // hash-gated chain — WARC archives parsed (streaming iterator) →
    // HTTP 200 text/html gate → boilerplate-stripped extraction → URL
    // blocklist → exact dedup ON THE EXTRACTED TEXT → token-count
    // quality floor → deterministic JSONL shards for the trainer → read
    // back. Every stage is an already-oracled operator; the composition
    // oracle reconstructs the surviving documents and the exact JSONL
    // lines (to_json's newline escaping included) from the source table.
    "q_crawl_pipeline" -> ((s, dir) => {
      val recs = ingest.WarcIngest.readRecords(s, warcFixtureDir(s, dir))
      val pages = recs.filter(col("warc_type") === "response" &&
          col("http_status") === 200 &&
          col("http_content_type").startsWith("text/html"))
        .select(regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long")
            .as("doc_id"),
          col("target_uri").as("url"),
          graft.expr.HtmlExpressions.html_content_text(col("body"))
            .as("extracted"))
      val gated = operators.WebCuration.filterBlocked(pages, "url",
        Seq("src1\\.example\\.com"))
      val curated = operators.Dedup.exactDedup(gated, Seq("extracted"), "doc_id")
        .withColumn("n_tok",
          TextAnalysis.tokenCount(col("extracted")).cast("long"))
        .filter(col("n_tok") >= 32)
      val out = Scratch.path(dir, "crawlout")
      sink.Jsonl.writeShards(curated, out,
        Seq(col("doc_id"), col("n_tok"), col("extracted")),
        shardKey = col("doc_id"), sortCol = col("doc_id"), nShards = 4)
      sink.Jsonl.readShards(s, out)
        .withColumn("doc_id",
          get_json_object(col("value"), "$.doc_id").cast("long"))
        .select(col("doc_id"), col("shard"), col("value").as("line"))
        .orderBy(col("doc_id"))
    }),

  )

  def oracles: Map[String, String] = Map(

    "q_meta_robots_gate" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(sum(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(CASE WHEN doc_id % 4 >= 2 THEN 2 ELSE 0 END) AS BIGINT)
        |    AS n_link_votes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,


    // blocklist oracle: same synthesized URL, same two regexes (RE2 and
    // Java agree on these literal-ish patterns).
    "q_url_blocklist" ->
      """WITH d AS (SELECT doc_id,
        |  'https://www.' || source || '.example.com/docs/' ||
        |  CAST(doc_id % 25 AS VARCHAR) || '/?utm_source=' || lang AS url
        |  FROM documents)
        |SELECT doc_id, url FROM d
        |WHERE NOT (regexp_matches(url, 'src1\.example\.com')
        |        OR regexp_matches(url, '/docs/7/'))
        |ORDER BY doc_id""".stripMargin,


    // domain-cap oracle: domain reconstructed from the synthesis rule,
    // rank window replayed with the same deterministic tie-break.
    "q_domain_cap" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |  source || '.example.com' AS domain FROM documents),
        |r AS (SELECT doc_id, domain, n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY domain
        |    ORDER BY n_chars DESC, doc_id ASC) AS rn FROM d)
        |SELECT doc_id, domain, n_chars FROM r WHERE rn <= 15
        |ORDER BY doc_id""".stripMargin,


    "q_domain_profile" ->
      """SELECT source || '.example.com' AS domain,
        |  count(*) AS n_docs,
        |  CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
        |  least(count(*), 15) AS kept_at_cap
        |FROM documents GROUP BY source ORDER BY domain""".stripMargin,


    // discovery-capstone oracle: every page links the same seven
    // host-local paths, none of which is a crawled /docs/ page, so each
    // host contributes seven frontier targets with inlink mass = its
    // page count; top-50 by (mass DESC, url ASC) replayed literally.
    "q_crawl_discover" ->
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY source),
        |t AS (
        |  SELECT 'https://www.' || source || '.example.com' || p.path AS url,
        |    n
        |  FROM per, (VALUES ('/'), ('/about'), ('/buy'), ('/contact'),
        |    ('/priv'), ('/sale'), ('/tos')) AS p(path)),
        |top AS (
        |  SELECT url, n AS n_inlinks, n AS n_srcs
        |  FROM t ORDER BY n DESC, url ASC LIMIT 50)
        |SELECT CAST(row_number() OVER (ORDER BY n_inlinks DESC, url ASC)
        |    AS BIGINT) AS rank,
        |  url, n_inlinks, n_srcs
        |FROM top ORDER BY rank""".stripMargin,


    // Crawl-loop oracle: frontier top-50 → host-page resolution →
    // slot ≠ k gate → Knuth-hash queue with (k%3+1)s spacing → the
    // <5 s wave → the full WARC/HTTP framing arithmetic of exactly
    // those records (plus both buckets' warcinfo rows).
    "q_crawl_loop" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
        |links AS (
        |  SELECT doc_id AS src, doc_id * 7 + j * 11 AS dst
        |  FROM documents, (SELECT unnest([0, 1, 2]) AS j)
        |  WHERE doc_id * 7 + j * 11 <> doc_id),
        |agg AS (
        |  SELECT dst, count(*) AS n_inlinks FROM links
        |  WHERE dst NOT IN (SELECT doc_id FROM documents) GROUP BY dst),
        |front AS (SELECT dst FROM agg ORDER BY n_inlinks DESC, dst ASC LIMIT 50),
        |cand AS (
        |  SELECT f.dst, d.source, d.text,
        |    'https://www.' || d.source || '.example.com/docs/' ||
        |      CAST(f.dst % 25 AS VARCHAR) || '/' AS url,
        |    CAST(regexp_extract(d.source, '(\\d+)', 1) AS BIGINT) % 25 AS k
        |  FROM front f CROSS JOIN nn
        |  JOIN documents d ON d.doc_id = f.dst % nn.n),
        |sched AS (
        |  SELECT dst, source, text, url, k, (k % 3 + 1) * 1000 AS delay_ms,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      ((dst % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |       + (dst % 65536) * 2654435761) % 4294967296, dst) - 1 AS pos
        |  FROM cand WHERE dst % 25 <> k),
        |wave AS (SELECT * FROM sched WHERE pos * delay_ms < 5000),
        |page AS (
        |  SELECT dst AS rec_key, url,
        |    ${warcHtmlSqlExpr("dst", "text")} AS html
        |  FROM wave),
        |resp AS (
        |  SELECT rec_key, 'response' AS warc_type, url AS target_uri,
        |    CAST(strlen('HTTP/1.1 200 OK') + 2
        |      + strlen('Content-Type: text/html; charset=utf-8') + 2
        |      + strlen('Content-Length: ' || CAST(strlen(html) AS VARCHAR)) + 2
        |      + 2 + strlen(html) AS BIGINT) AS content_length,
        |    CAST(200 AS BIGINT) AS http_status,
        |    'text/html; charset=utf-8' AS http_content_type,
        |    CAST(strlen(html) AS BIGINT) AS body_octets
        |  FROM page),
        |info AS (
        |  SELECT CAST(-(b + 1) AS BIGINT) AS rec_key, 'warcinfo' AS warc_type,
        |    CAST(NULL AS VARCHAR) AS target_uri,
        |    CAST(strlen('software: graft-warc/1.0') + 2
        |      + strlen('bucket: ' || CAST(b AS VARCHAR)) + 2 AS BIGINT) AS content_length,
        |    CAST(NULL AS BIGINT) AS http_status,
        |    CAST(NULL AS VARCHAR) AS http_content_type,
        |    CAST(strlen('software: graft-warc/1.0') + 2
        |      + strlen('bucket: ' || CAST(b AS VARCHAR)) + 2 AS BIGINT) AS body_octets
        |  FROM (SELECT unnest(range(2)) AS b))
        |SELECT * FROM info UNION ALL SELECT * FROM resp
        |ORDER BY rec_key""".stripMargin,


    // Polite-loop oracle: the surviving fetch queue rebuilt from the
    // candidate construction — trap candidates and fresh held slots
    // are absent BY CONSTRUCTION of the rebuild (the query require()s
    // their exclusion in-engine), stale slots carry their revalidation
    // mode/headers from the held copy, and ranks replay the
    // lastmod-DESC-NULLS-LAST / loc-ASC window over the survivors.
    "q_crawl_loop_polite" ->
      """WITH a AS (
        |  SELECT source || '.example.com' AS domain,
        |    'https://www.' || source || '.example.com/article/new-' ||
        |      CAST(doc_id AS VARCHAR) AS loc,
        |    CAST(NULL AS DATE) AS lastmod, 'new' AS action,
        |    'full' AS mode, CAST(NULL AS VARCHAR) AS if_none_match,
        |    CAST(NULL AS DATE) AS if_modified_since
        |  FROM documents),
        |d AS (
        |  SELECT DISTINCT source || '.example.com' AS domain,
        |    'https://www.' || source || '.example.com/stale/' ||
        |      CAST(doc_id % 10 AS VARCHAR) AS loc,
        |    CAST('2026-02-10' AS DATE) AS lastmod, 'refresh' AS action,
        |    CASE WHEN doc_id % 10 % 2 = 0 THEN 'conditional_etag'
        |         ELSE 'conditional_ims' END AS mode,
        |    CASE WHEN doc_id % 10 % 2 = 0
        |      THEN 'W/"' || CAST(doc_id % 10 AS VARCHAR) || '"' END
        |      AS if_none_match,
        |    CASE WHEN doc_id % 10 % 2 = 1
        |      THEN CAST('2026-01-05' AS DATE) END AS if_modified_since
        |  FROM documents),
        |q AS (SELECT * FROM a UNION ALL SELECT * FROM d),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY domain
        |    ORDER BY lastmod DESC NULLS LAST, loc ASC) AS rk
        |  FROM q)
        |SELECT domain, loc, action, mode, if_none_match,
        |  if_modified_since, CAST(rk AS BIGINT) AS fetch_rank
        |FROM r ORDER BY domain, fetch_rank""".stripMargin,


    // Two-wave crawl-loop oracle: wave 1 is the q_crawl_loop chain
    // verbatim; wave 2 re-runs frontier selection over the SAME inlink
    // aggregate minus wave-1 fetches (the warehouse-derived crawled
    // set), then the same gate/schedule/framing. The union, tagged by
    // wave, must equal the accumulated warehouse.
    "q_crawl_loop_waves" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
        |links AS (
        |  SELECT doc_id AS src, doc_id * 7 + j * 11 AS dst
        |  FROM documents, (SELECT unnest([0, 1, 2]) AS j)
        |  WHERE doc_id * 7 + j * 11 <> doc_id),
        |agg AS (
        |  SELECT dst, count(*) AS n_inlinks FROM links
        |  WHERE dst NOT IN (SELECT doc_id FROM documents) GROUP BY dst),
        |front1 AS (SELECT dst FROM agg ORDER BY n_inlinks DESC, dst ASC LIMIT 50),
        |cand1 AS (
        |  SELECT f.dst, d.source, d.text,
        |    'https://www.' || d.source || '.example.com/docs/' ||
        |      CAST(f.dst % 25 AS VARCHAR) || '/' AS url,
        |    CAST(regexp_extract(d.source, '(\\d+)', 1) AS BIGINT) % 25 AS k
        |  FROM front1 f CROSS JOIN nn
        |  JOIN documents d ON d.doc_id = f.dst % nn.n),
        |sched1 AS (
        |  SELECT dst, source, text, url, k, (k % 3 + 1) * 1000 AS delay_ms,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      ((dst % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |       + (dst % 65536) * 2654435761) % 4294967296, dst) - 1 AS pos
        |  FROM cand1 WHERE dst % 25 <> k),
        |wave1 AS (SELECT * FROM sched1 WHERE pos * delay_ms < 5000),
        |front2 AS (
        |  SELECT dst FROM agg WHERE dst NOT IN (SELECT dst FROM wave1)
        |  ORDER BY n_inlinks DESC, dst ASC LIMIT 50),
        |cand2 AS (
        |  SELECT f.dst, d.source, d.text,
        |    'https://www.' || d.source || '.example.com/docs/' ||
        |      CAST(f.dst % 25 AS VARCHAR) || '/' AS url,
        |    CAST(regexp_extract(d.source, '(\\d+)', 1) AS BIGINT) % 25 AS k
        |  FROM front2 f CROSS JOIN nn
        |  JOIN documents d ON d.doc_id = f.dst % nn.n),
        |sched2 AS (
        |  SELECT dst, source, text, url, k, (k % 3 + 1) * 1000 AS delay_ms,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      ((dst % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |       + (dst % 65536) * 2654435761) % 4294967296, dst) - 1 AS pos
        |  FROM cand2 WHERE dst % 25 <> k),
        |wave2 AS (SELECT * FROM sched2 WHERE pos * delay_ms < 5000),
        |page AS (
        |  SELECT 1 AS wave, dst AS rec_key, url,
        |    ${warcHtmlSqlExpr("dst", "text")} AS html
        |  FROM wave1
        |  UNION ALL
        |  SELECT 2 AS wave, dst AS rec_key, url,
        |    ${warcHtmlSqlExpr("dst", "text")} AS html
        |  FROM wave2),
        |resp AS (
        |  SELECT CAST(wave AS BIGINT) AS wave, rec_key,
        |    'response' AS warc_type, url AS target_uri,
        |    CAST(strlen('HTTP/1.1 200 OK') + 2
        |      + strlen('Content-Type: text/html; charset=utf-8') + 2
        |      + strlen('Content-Length: ' || CAST(strlen(html) AS VARCHAR)) + 2
        |      + 2 + strlen(html) AS BIGINT) AS content_length,
        |    CAST(200 AS BIGINT) AS http_status,
        |    'text/html; charset=utf-8' AS http_content_type,
        |    CAST(strlen(html) AS BIGINT) AS body_octets
        |  FROM page),
        |info AS (
        |  SELECT CAST(w AS BIGINT) AS wave,
        |    CAST(-(b + 1) AS BIGINT) AS rec_key, 'warcinfo' AS warc_type,
        |    CAST(NULL AS VARCHAR) AS target_uri,
        |    CAST(strlen('software: graft-warc/1.0') + 2
        |      + strlen('bucket: ' || CAST(b AS VARCHAR)) + 2 AS BIGINT) AS content_length,
        |    CAST(NULL AS BIGINT) AS http_status,
        |    CAST(NULL AS VARCHAR) AS http_content_type,
        |    CAST(strlen('software: graft-warc/1.0') + 2
        |      + strlen('bucket: ' || CAST(b AS VARCHAR)) + 2 AS BIGINT) AS body_octets
        |  FROM (SELECT unnest(range(2)) AS b), (SELECT unnest([1, 2]) AS w))
        |SELECT * FROM info UNION ALL SELECT * FROM resp
        |ORDER BY wave, rec_key""".stripMargin,


    // Sitemap-seed oracle: entries rebuilt from the slot/lastmod
    // synthesis rule (even-k domains direct, odd-k through the index —
    // same 10 entries either way once resolution works), crawled slots
    // anti-joined, newest-first per-domain rank replayed.
    "q_sitemap_seeds" -> sitemapSeedsOracleSql,


    // Codec-transparency gate: the SAME seed table must come out of the
    // gzipped/mixed BINARY sitemap fixture — shares the text path's
    // oracle verbatim.
    "q_sitemap_gz" -> sitemapSeedsOracleSql,


    // canonicalization oracle: the fixed point every mess mode must
    // collapse back to (mode 0 is already canonical ⇒ changed = false).
    "q_url_canonicalize" ->
      """SELECT doc_id,
        |  'https://www.' || source || '.example.com/docs/' ||
        |    CAST(doc_id % 25 AS VARCHAR) || '/?id=' || CAST(doc_id AS VARCHAR) ||
        |    '&lang=' || lang AS url_canon,
        |  doc_id % 8 <> 0 AS changed
        |FROM documents ORDER BY doc_id""".stripMargin,


    // robots→sitemap chain oracle: one directive per domain, 10
    // advertised URLs each, the odd-k domains' count reachable only
    // through the index hop.
    "q_robots_sitemaps" ->
      """WITH src AS (
        |  SELECT DISTINCT source, source || '.example.com' AS domain,
        |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 25 AS k
        |  FROM documents)
        |SELECT domain,
        |  'https://www.' || domain || '/sitemap.xml' AS sitemap_url,
        |  CAST(10 AS BIGINT) AS n_urls,
        |  k % 2 = 1 AS via_index
        |FROM src ORDER BY domain""".stripMargin,


    // feed-seed oracle: the slot/March-date synthesis replayed, feed
    // kind from the domain parity, crawled slots anti-joined, the same
    // newest-first rank as the sitemap seeds.
    "q_feed_seeds" -> feedSeedsOracleSql,


    // recrawl-plan oracle: action from the two date formulas — sitemap
    // lastmod (k+i)%28+1 vs slot-derived fetch date (slot*3)%28+1 for
    // crawled slots — and the per-domain newest-first queue over the
    // non-skip rows.
    "q_recrawl_plan" ->
      """WITH src AS (
        |  SELECT DISTINCT source, source || '.example.com' AS domain,
        |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 25 AS k
        |  FROM documents),
        |ent AS (
        |  SELECT s.source, s.domain, (s.k + ii.i) % 25 AS slot,
        |    'https://www.' || s.domain || '/docs/' ||
        |      CAST((s.k + ii.i) % 25 AS VARCHAR) AS loc,
        |    CAST('2026-01-' ||
        |      lpad(CAST((s.k + ii.i) % 28 + 1 AS VARCHAR), 2, '0') AS DATE)
        |      AS lastmod
        |  FROM src s CROSS JOIN (SELECT unnest(range(10)) AS i) ii),
        |crawled AS (SELECT DISTINCT source, doc_id % 25 AS slot FROM documents),
        |plan AS (
        |  SELECT e.domain, e.loc, e.lastmod,
        |    CASE WHEN c.slot IS NULL THEN 'new'
        |         WHEN e.lastmod > CAST('2026-01-' ||
        |           lpad(CAST((e.slot * 3) % 28 + 1 AS VARCHAR), 2, '0') AS DATE)
        |           THEN 'refresh'
        |         ELSE 'skip' END AS action
        |  FROM ent e LEFT JOIN crawled c
        |    ON c.source = e.source AND c.slot = e.slot),
        |todo AS (
        |  SELECT domain, loc,
        |    CAST(row_number() OVER (PARTITION BY domain
        |      ORDER BY lastmod DESC, loc ASC) AS BIGINT) AS fetch_rank
        |  FROM plan WHERE action <> 'skip')
        |SELECT p.domain, p.loc, p.action, t.fetch_rank
        |FROM plan p LEFT JOIN todo t ON t.domain = p.domain AND t.loc = p.loc
        |ORDER BY p.domain, p.loc""".stripMargin,


    // Changefreq-recrawl oracle: the q_recrawl_plan replay with the
    // period ladder folded in — revisit iff held, not refreshed, a
    // finite period advertised, and (2026-02-15 − fetched) ≥ period.
    "q_recrawl_changefreq" ->
      """WITH src AS (
        |  SELECT DISTINCT source, source || '.example.com' AS domain,
        |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 25 AS k
        |  FROM documents),
        |ent AS (
        |  SELECT s.source, s.domain, (s.k + ii.i) % 25 AS slot,
        |    'https://www.' || s.domain || '/docs/' ||
        |      CAST((s.k + ii.i) % 25 AS VARCHAR) AS loc,
        |    CAST('2026-01-' ||
        |      lpad(CAST((s.k + ii.i) % 28 + 1 AS VARCHAR), 2, '0') AS DATE)
        |      AS lastmod,
        |    CASE (s.k + ii.i) % 6 WHEN 0 THEN 'always' WHEN 1 THEN 'daily'
        |      WHEN 2 THEN 'weekly' WHEN 3 THEN 'monthly'
        |      WHEN 4 THEN 'yearly' ELSE 'never' END AS changefreq,
        |    CASE (s.k + ii.i) % 6 WHEN 0 THEN 1 WHEN 1 THEN 1
        |      WHEN 2 THEN 7 WHEN 3 THEN 30 WHEN 4 THEN 365 END AS period
        |  FROM src s CROSS JOIN (SELECT unnest(range(10)) AS i) ii),
        |crawled AS (SELECT DISTINCT source, doc_id % 25 AS slot FROM documents),
        |plan AS (
        |  SELECT e.domain, e.loc, e.lastmod, e.changefreq,
        |    CASE WHEN c.slot IS NULL THEN 'new'
        |         WHEN e.lastmod > CAST('2026-01-' ||
        |           lpad(CAST((e.slot * 3) % 28 + 1 AS VARCHAR), 2, '0')
        |           AS DATE) THEN 'refresh'
        |         WHEN e.period IS NOT NULL AND
        |           DATE '2026-02-15' - CAST('2026-01-' ||
        |             lpad(CAST((e.slot * 3) % 28 + 1 AS VARCHAR), 2, '0')
        |             AS DATE) >= e.period THEN 'revisit'
        |         ELSE 'skip' END AS action
        |  FROM ent e LEFT JOIN crawled c
        |    ON c.source = e.source AND c.slot = e.slot),
        |todo AS (
        |  SELECT domain, loc,
        |    CAST(row_number() OVER (PARTITION BY domain
        |      ORDER BY lastmod DESC, loc ASC) AS BIGINT) AS fetch_rank
        |  FROM plan WHERE action <> 'skip')
        |SELECT p.domain, p.loc, p.changefreq, p.action, t.fetch_rank
        |FROM plan p LEFT JOIN todo t ON t.domain = p.domain AND t.loc = p.loc
        |ORDER BY p.domain, p.loc""".stripMargin,


    // Conditional-refetch oracle: the plan replay above, then validators
    // (etag iff slot%3==0, Last-Modified always) pick each non-skip
    // row's mode, the even-slot conditional probes 304, and the ledger
    // aggregates per domain.
    "q_recrawl_conditional" ->
      """WITH src AS (
        |  SELECT DISTINCT source, source || '.example.com' AS domain,
        |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 25 AS k
        |  FROM documents),
        |ent AS (
        |  SELECT s.source, s.domain, (s.k + ii.i) % 25 AS slot,
        |    CAST('2026-01-' ||
        |      lpad(CAST((s.k + ii.i) % 28 + 1 AS VARCHAR), 2, '0') AS DATE)
        |      AS lastmod
        |  FROM src s CROSS JOIN (SELECT unnest(range(10)) AS i) ii),
        |crawled AS (SELECT DISTINCT source, doc_id % 25 AS slot FROM documents),
        |plan AS (
        |  SELECT e.domain, e.slot,
        |    CASE WHEN c.slot IS NULL THEN 'new'
        |         WHEN e.lastmod > CAST('2026-01-' ||
        |           lpad(CAST((e.slot * 3) % 28 + 1 AS VARCHAR), 2, '0') AS DATE)
        |           THEN 'refresh'
        |         ELSE 'skip' END AS action
        |  FROM ent e LEFT JOIN crawled c
        |    ON c.source = e.source AND c.slot = e.slot),
        |o AS (
        |  SELECT domain, slot,
        |    CASE WHEN action = 'new' THEN 'full'
        |         WHEN slot % 3 = 0 THEN 'conditional_etag'
        |         ELSE 'conditional_ims' END AS mode
        |  FROM plan WHERE action <> 'skip'),
        |f AS (
        |  SELECT domain, mode,
        |    CASE WHEN mode = 'full' THEN 200
        |         WHEN slot % 2 = 0 THEN 304 ELSE 200 END AS status,
        |    1000 + slot * 7 AS bytes
        |  FROM o)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_fetches,
        |  CAST(sum(CASE WHEN mode = 'full' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_full,
        |  CAST(sum(CASE WHEN mode LIKE 'conditional%' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_conditional,
        |  CAST(sum(CASE WHEN status = 304 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_304,
        |  CAST(sum(CASE WHEN status = 200 THEN bytes ELSE 0 END) AS BIGINT)
        |    AS bytes_transferred,
        |  CAST(sum(CASE WHEN status = 304 THEN bytes ELSE 0 END) AS BIGINT)
        |    AS bytes_saved
        |FROM f GROUP BY domain ORDER BY domain""".stripMargin,


    // robots.txt rule-table oracle: the template's rule rows rebuilt
    // per domain from the source→k rule — the parser must recover
    // exactly these (comments, blank lines, the crawl-delay line, and
    // the group structure all survive or are dropped correctly).
    "q_robots_rules" ->
      """WITH src AS (
        |  SELECT DISTINCT source, source || '.example.com' AS domain,
        |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 25 AS k
        |  FROM documents)
        |SELECT domain, r.agent AS agent, r.line_no AS line_no,
        |  r.rtype AS rtype,
        |  replace(replace(replace(r.value, '<K>', CAST(k AS VARCHAR)),
        |          '<D>', CAST(k % 3 + 1 AS VARCHAR)), '<ROOT>', '/') AS value
        |FROM src, UNNEST([
        |  {'agent': '*', 'line_no': CAST(2 AS BIGINT), 'rtype': 'disallow', 'value': '/private/'},
        |  {'agent': '*', 'line_no': CAST(3 AS BIGINT), 'rtype': 'disallow', 'value': '/docs/3/'},
        |  {'agent': '*', 'line_no': CAST(4 AS BIGINT), 'rtype': 'allow', 'value': '/docs/3/open/'},
        |  {'agent': '*', 'line_no': CAST(5 AS BIGINT), 'rtype': 'crawl-delay', 'value': '2'},
        |  {'agent': 'graftbot', 'line_no': CAST(8 AS BIGINT), 'rtype': 'allow', 'value': '/docs/'},
        |  {'agent': 'graftbot', 'line_no': CAST(9 AS BIGINT), 'rtype': 'disallow', 'value': '/docs/<K>/'},
        |  {'agent': 'graftbot', 'line_no': CAST(10 AS BIGINT), 'rtype': 'disallow', 'value': '/tmp/'},
        |  {'agent': 'graftbot', 'line_no': CAST(11 AS BIGINT), 'rtype': 'crawl-delay', 'value': '<D>'},
        |  {'agent': 'graftbot', 'line_no': CAST(12 AS BIGINT), 'rtype': 'disallow', 'value': '<ROOT>'}
        |]) AS t(r)
        |WHERE r.value <> '<ROOT>' OR k % 5 = 0
        |ORDER BY domain, agent, line_no""".stripMargin,


    // Gate oracle: the longest-match ladder replayed generically — the
    // graftbot group's reconstructed rules joined to every URL on
    // prefix match, winner = max lexicographic (len, is_allow, path,
    // type) struct, exactly the Spark side's row-local fold.
    "q_robots_gate" -> robotsGateOracleSql,


    // Wildcard-gate oracle: one fixed rule set, six URL shapes, every
    // verdict pinned by construction — allowed/matched_path/matched_allow
    // are literals per shape, so any wildcard mis-match (under-block,
    // over-block past a $ anchor, or a precedence flip against the
    // longer anchored Allow) breaks the hash.
    "q_robots_wildcards" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://www.' || source || '.example.com' AS host,
        |    CAST(doc_id % 25 AS VARCHAR) AS slot,
        |    CAST(doc_id % 30 + 2000 AS VARCHAR) AS yr,
        |    CAST(doc_id AS VARCHAR) AS id
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, 0 AS shape,
        |    host || '/docs/' || slot || '/open' AS url, TRUE AS allowed,
        |    '/docs/*/open$' AS matched_path, TRUE AS matched_allow FROM u
        |  UNION ALL SELECT doc_id, 1, host || '/docs/' || slot || '/page',
        |    FALSE, '/docs/', FALSE FROM u
        |  UNION ALL SELECT doc_id, 2,
        |    host || '/page/' || id || '?sid=' || id, FALSE, '/*?sid=',
        |    FALSE FROM u
        |  UNION ALL SELECT doc_id, 3,
        |    host || '/files/report' || id || '.pdf', FALSE, '/*.pdf$',
        |    FALSE FROM u
        |  UNION ALL SELECT doc_id, 4,
        |    host || '/files/report' || id || '.pdfx', TRUE, NULL, NULL
        |    FROM u
        |  UNION ALL SELECT doc_id, 5, host || '/cal/' || yr || '/print',
        |    FALSE, '/cal/*/print', FALSE FROM u)
        |SELECT doc_id, CAST(shape AS BIGINT) AS shape, url, allowed,
        |  matched_path, matched_allow
        |FROM s ORDER BY doc_id, shape""".stripMargin,


    // Anchor-text oracle: the same synthetic outlink graph (3 arithmetic
    // targets per doc, leading-trigram anchors, self-links dropped),
    // (dst, anchor) frequencies + distinct sources, inlink totals, and
    // the (freq DESC, anchor ASC) top-2 window replayed.
    "q_anchor_texts" -> anchorOracleSql,


    // Frontier oracle: un-modded targets, inlink/distinct-source counts,
    // crawled ids anti-joined away, the (n_inlinks DESC, dst) top-50.
    "q_crawl_frontier" ->
      """WITH links AS (
        |  SELECT doc_id AS src, doc_id * 7 + j * 11 AS dst
        |  FROM documents, (SELECT unnest([0, 1, 2]) AS j)
        |  WHERE doc_id * 7 + j * 11 <> doc_id),
        |agg AS (
        |  SELECT dst, CAST(count(*) AS BIGINT) AS n_inlinks,
        |    CAST(count(DISTINCT src) AS BIGINT) AS n_srcs
        |  FROM links
        |  WHERE dst NOT IN (SELECT doc_id FROM documents)
        |  GROUP BY dst),
        |top AS (
        |  SELECT * FROM agg ORDER BY n_inlinks DESC, dst ASC LIMIT 50)
        |SELECT CAST(row_number() OVER (ORDER BY n_inlinks DESC, dst ASC)
        |    AS BIGINT) AS rank,
        |  dst, n_inlinks, n_srcs
        |FROM top ORDER BY rank""".stripMargin,


    // Crawl-trap oracle: the three fixture shapes collapse to three
    // templates per source by construction — article/#-# with per-doc
    // content, cal/#/#/#?sid with one boilerplate page per source,
    // list?page&ref cycling 40 content variants — so the per-template
    // ledger is rebuilt from per-source counts alone, and the verdict
    // thresholds (n_urls >= 10, diversity <= 0.2) replay literally.
    // Shared VERBATIM by the exact, sketch (KMV exact regime), and
    // streaming forms.
    "q_crawl_traps" -> crawlTrapsOracleSql,

    "q_crawl_traps_sketch" -> crawlTrapsOracleSql,


    // Canonical-frontier oracle: the frontier replayed over page NUMBERS
    // (spelling collapse is by construction — the engine's job), with
    // the canonical strings rebuilt only for output and the url-string
    // tie-break; crawled pages 0-99 drop as `td >= 100`, self-links as
    // `sp <> td`, both regardless of spelling.
    "q_frontier_canon" ->
      """WITH l AS (
        |  SELECT d.doc_id % 100 AS sp, (d.doc_id * 7 + r.j * 11) % 200 AS td
        |  FROM documents d, LATERAL (SELECT unnest(range(0, 3)) AS j) r),
        |agg AS (
        |  SELECT td, CAST(count(*) AS BIGINT) AS n_inlinks,
        |    CAST(count(DISTINCT sp) AS BIGINT) AS n_srcs
        |  FROM l WHERE sp <> td AND td >= 100
        |  GROUP BY td),
        |top AS (
        |  SELECT 'https://www.w' || CAST(td % 20 AS VARCHAR) || '.example.com/p/' ||
        |    CAST(td AS VARCHAR) || '/?id=' || CAST(td AS VARCHAR) AS url,
        |    n_inlinks, n_srcs
        |  FROM agg ORDER BY n_inlinks DESC, url ASC LIMIT 50)
        |SELECT CAST(row_number() OVER (ORDER BY n_inlinks DESC, url ASC)
        |    AS BIGINT) AS rank,
        |  url, n_inlinks, n_srcs
        |FROM top ORDER BY rank""".stripMargin,


    // Schedule oracle: allowed = slot ≠ the domain's Disallow slot (the
    // gate oracle's conclusion applied directly), delay = the graftbot
    // group's (k % 3 + 1) seconds, queue position = Knuth-hash order
    // within the domain.
    "q_crawl_schedule" ->
      """WITH src AS (
        |  SELECT DISTINCT source, source || '.example.com' AS domain,
        |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 25 AS k
        |  FROM documents),
        |allowed AS (
        |  SELECT d.doc_id, s.domain, s.k,
        |    ((d.doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |     + (d.doc_id % 65536) * 2654435761) % 4294967296 AS sk
        |  FROM documents d JOIN src s ON s.source = d.source
        |  WHERE d.doc_id % 25 <> s.k)
        |SELECT doc_id, domain,
        |  CAST((k % 3 + 1) * 1000 AS BIGINT) AS delay_ms,
        |  CAST(row_number() OVER (PARTITION BY domain ORDER BY sk, doc_id) - 1
        |    AS BIGINT) AS pos,
        |  CAST((row_number() OVER (PARTITION BY domain ORDER BY sk, doc_id) - 1)
        |    * (k % 3 + 1) * 1000 AS BIGINT) AS fetch_at_ms
        |FROM allowed ORDER BY doc_id""".stripMargin,


    // Registrable-domain schedule oracle: gate decision (slot <> k),
    // per-host delay (graftbot's k%3+1), site labels rebuilt from the
    // k%4 construction, queue delay = window max over the site's
    // admitted rows, queue position = Knuth-hash order within the SITE.
    "q_crawl_schedule_host" ->
      """WITH src AS (
        |  SELECT DISTINCT source,
        |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 25 AS k
        |  FROM documents),
        |h AS (
        |  SELECT source, k,
        |    source || CASE k % 4 WHEN 0 THEN '.market.co.uk'
        |      WHEN 1 THEN '.deals.co.uk' WHEN 2 THEN '.g2.example'
        |      ELSE '.g3.example' END AS domain,
        |    CASE k % 4 WHEN 0 THEN 'market.co.uk' WHEN 1 THEN 'deals.co.uk'
        |      WHEN 2 THEN 'g2.example' ELSE 'g3.example' END AS reg_domain
        |  FROM src),
        |allowed AS (
        |  SELECT d.doc_id, h.domain, h.reg_domain, h.k,
        |    ((d.doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
        |     + (d.doc_id % 65536) * 2654435761) % 4294967296 AS sk
        |  FROM documents d JOIN h ON h.source = d.source
        |  WHERE d.doc_id % 25 <> h.k)
        |SELECT doc_id, domain, reg_domain,
        |  CAST((k % 3 + 1) * 1000 AS BIGINT) AS delay_ms,
        |  CAST(max((k % 3 + 1) * 1000) OVER (PARTITION BY reg_domain)
        |    AS BIGINT) AS queue_delay_ms,
        |  CAST(row_number() OVER (PARTITION BY reg_domain ORDER BY sk, doc_id)
        |    - 1 AS BIGINT) AS pos,
        |  CAST((row_number() OVER (PARTITION BY reg_domain ORDER BY sk, doc_id) - 1)
        |    * max((k % 3 + 1) * 1000) OVER (PARTITION BY reg_domain)
        |    AS BIGINT) AS fetch_at_ms
        |FROM allowed ORDER BY doc_id""".stripMargin,


    // Crawl-capstone oracle: survivors reconstructed stage by stage —
    // extraction text (the q_text_extract formula), blocklist (url hits
    // 'src1.example.com' iff source = 'src1'; src10..19 keep their dot-
    // separated domain), exact dedup = min doc_id per extracted, token
    // floor on the 7 + 2·words formula — then the trainer lines rebuilt
    // character-exact incl. to_json's newline escaping.
    "q_crawl_pipeline" ->
      """WITH ext AS (
        |  SELECT doc_id, source,
        |    'Corpus document from the synthetic crawl corpus' || chr(10) ||
        |      text || chr(10) || upper(text) AS extracted,
        |    CAST(7 + 2 * (length(text) - length(replace(text, ' ', '')) + 1)
        |      AS BIGINT) AS n_tok
        |  FROM documents),
        |gated AS (SELECT * FROM ext WHERE source <> 'src1'),
        |ded AS (
        |  SELECT min(doc_id) AS doc_id, extracted,
        |    arg_min(n_tok, doc_id) AS n_tok
        |  FROM gated GROUP BY extracted),
        |cur AS (SELECT * FROM ded WHERE n_tok >= 32)
        |SELECT doc_id, doc_id % 4 AS shard,
        |  '{"doc_id":' || doc_id || ',"n_tok":' || n_tok || ',"extracted":"'
        |    || replace(extracted, chr(10), '\n') || '"}' AS line
        |FROM cur ORDER BY doc_id""".stripMargin,

  )
}
