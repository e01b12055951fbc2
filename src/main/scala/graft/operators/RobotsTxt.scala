package graft.operators

import java.util.Locale
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** robots.txt crawl-politeness gate (RFC 9309) — the step between URL
  * curation and fetching in a crawl pipeline: before a URL may even be
  * read, the origin's robots.txt group for our user agent decides
  * allow/disallow by LONGEST-path-match. Beyond-reference extension,
  * composing with [[WebCuration]] (blocklists/caps) and the WARC front.
  *
  * Everything is declarative Spark — the parser is split + posexplode +
  * one running-count window (a group is one or more User-agent lines
  * followed by rules, so group id = running UA count); the gate
  * broadcast-joins a per-domain DECISION TABLE (the chosen group's rules
  * packed into an array column) and decides each URL with a row-local
  * higher-order fold — the URL stream never shuffles, which also makes
  * the gate stream-safe (stream-static join + per-row functions). No
  * UDFs; the rule table for a whole crawl is ~rules×domains —
  * broadcast-sized even at 100 TB of documents (robots.txt is
  * per-ORIGIN metadata, not per-document).
  *
  * Match semantics implemented (RFC 9309): case-insensitive directive
  * names, `#` comments, rule matching against path+query with `*`
  * wildcards and trailing-`$` anchors (prefix semantics otherwise —
  * [[graft.expr.RobotsMatchOps]]), longest match wins, Allow wins length
  * ties, no
  * match ⇒ allowed, agent group selection = exact agent name if any
  * group has it, else the `*` group.
  */
object RobotsTxt {

  /** Parse robots.txt documents `(domainCol, txtCol)` into the typed rule
    * table: (domain, agent, line_no, rtype ∈ allow|disallow|crawl-delay,
    * value). Group structure per RFC 9309: consecutive `User-agent`
    * lines open a group; every following rule line belongs to all of
    * them — represented by carrying ALL the group's agents forward and
    * exploding rules per agent. */
  def parseRules(df: DataFrame, domainCol: String, txtCol: String): DataFrame = {
    val lines = df.select(col(domainCol).as("domain"),
        posexplode(split(col(txtCol), "\n")).as(Seq("line_no", "raw")))
      // strip comments and whitespace; directive name case-insensitive
      .withColumn("line", trim(regexp_replace(col("raw"), "#.*$", "")))
      .filter(col("line") =!= "")
      .withColumn("key", lower(trim(regexp_extract(col("line"), "^([^:]+):", 1))))
      .withColumn("value", trim(regexp_extract(col("line"), "^[^:]+:(.*)$", 1)))
      .filter(col("key").isin("user-agent", "allow", "disallow", "crawl-delay"))
    // group id: a UA line that FOLLOWS a rule line starts a new group;
    // consecutive UA lines share one. Running count of group-opening UA
    // lines gives the id.
    val byLine = Window.partitionBy(col("domain")).orderBy(col("line_no"))
    val grouped = lines
      .withColumn("is_ua", (col("key") === "user-agent").cast("int"))
      .withColumn("prev_ua", lag(col("is_ua"), 1, 0).over(byLine))
      .withColumn("opens", (col("is_ua") === 1 && col("prev_ua") === 0).cast("int"))
      .withColumn("gid", sum(col("opens")).over(
        byLine.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val agents = grouped.filter(col("is_ua") === 1)
      .select(col("domain"), col("gid"), lower(col("value")).as("agent"))
    grouped.filter(col("is_ua") === 0 && col("gid") > 0)
      .select(col("domain"), col("gid"), col("line_no").cast("long").as("line_no"),
        col("key").as("rtype"), col("value"))
      .join(agents, Seq("domain", "gid"))
      .select(col("domain"), col("agent"), col("line_no"), col("rtype"),
        col("value"))
  }

  /** Gate a URL frame through a parsed rule table for `userAgent`:
    * emits the input plus (domain, path, allowed, matched_path,
    * matched_allow). Path = everything from the first `/` after the
    * authority, INCLUDING query (the Googlebot convention). Group choice
    * per domain: the exact agent's group when present, else `*`; rule
    * matching is full RFC 9309 §2.2.3 ([[graft.expr.RobotsMatchOps]]):
    * `*` wildcards, trailing-`$` end anchors, prefix semantics otherwise
    * (a plain rule path behaves exactly as the old prefix matcher did);
    * the winning rule is the longest matching RULE STRING (wildcard
    * characters count — the documented big-crawler convention), Allow
    * beating Disallow on equal length (lexicographic struct-max over the
    * row-local matching set); no match (or no rules) ⇒ allowed. The
    * decision table is broadcast and the fold is per-row — zero shuffle
    * on the URL side. */
  def gate(urls: DataFrame, urlCol: String, rules: DataFrame,
           userAgent: String): DataFrame = {
    // A URL with no path component ("https://example.com") normalizes to
    // "/" — RFC 9309 rules all start with '/', so the raw empty string
    // could never match and a root Disallow would silently under-block.
    val rawPath = regexp_extract(col(urlCol),
      "^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?[^/]*(/.*)?$", 1)
    val withPath = urls
      .withColumn("domain", WebCuration.domainOf(col(urlCol)))
      .withColumn("path", when(rawPath === "", lit("/")).otherwise(rawPath))
    withPath.join(broadcast(decisionTable(rules, userAgent)),
        Seq("domain"), "left")
      .withColumn("__win", array_max(transform(
        filter(coalesce(col("__rules"),
          array().cast("array<struct<rtype:string,rule_path:string>>")),
          r => graft.expr.RobotsExpressions.robots_match(
            col("path"), r.getField("rule_path"))),
        r => struct(length(r.getField("rule_path")).as("l"),
          (r.getField("rtype") === "allow").cast("int").as("a"),
          r.getField("rule_path").as("p"), r.getField("rtype").as("t")))))
      .select(withPath.columns.map(col) ++ Seq(
        coalesce(col("__win.t") =!= "disallow", lit(true)).as("allowed"),
        col("__win.p").as("matched_path"),
        when(col("__win").isNotNull, col("__win.t") === "allow")
          .as("matched_allow")): _*)
  }

  /** The bounded per-domain decision table the gate broadcasts:
    * `(domain, __rules array<(rtype, rule_path)>)` — the chosen group's
    * directive rules packed per domain, so the per-URL decision is a
    * pure row-local fold (filter matching prefixes → lexicographic
    * struct-max = longest match, Allow wins ties) with NO shuffle on the
    * URL stream. Stream-safe: a static broadcast side for stream-static
    * joins. */
  def decisionTable(rules: DataFrame, userAgent: String): DataFrame = {
    val ua = userAgent.toLowerCase(Locale.ROOT)
    val dirRules = rules.filter(col("rtype").isin("allow", "disallow") &&
      col("value") =!= "")
    // Group EXISTENCE is judged over the FULL rule table, not just the
    // directive rows: per RFC 9309 the most specific matching group
    // applies even when it carries no allow/disallow lines (e.g. only a
    // Crawl-delay, or an empty-value Disallow meaning "allow all") — the
    // exact-agent group must then shadow `*`, not fall back to it.
    val hasExact = rules.groupBy(col("domain"))
      .agg(max((col("agent") === ua).cast("int")).as("__has_ua"))
    dirRules.join(broadcast(hasExact), "domain")
      .filter((col("__has_ua") === 1 && col("agent") === ua) ||
        (col("__has_ua") === 0 && col("agent") === "*"))
      .groupBy(col("domain"))
      .agg(collect_list(struct(col("rtype"),
        col("value").as("rule_path"))).as("__rules"))
  }

  /** `Sitemap:` directives — robots.txt's discovery half (sitemaps.org
    * §"informing search engine crawlers"): group-INDEPENDENT lines
    * naming the site's sitemap URLs, the standard way a crawler finds
    * them without guessing paths. Same declarative line-parse as
    * [[parseRules]] (which deliberately drops these rows — they are not
    * access rules); emits (domain, sitemap_url) in line order. */
  def sitemapDirectives(df: DataFrame, domainCol: String,
                        txtCol: String): DataFrame =
    df.select(col(domainCol).as("domain"),
        posexplode(split(col(txtCol), "\n")).as(Seq("line_no", "raw")))
      .withColumn("line", trim(regexp_replace(col("raw"), "#.*$", "")))
      .filter(col("line") =!= "")
      .withColumn("key", lower(trim(regexp_extract(col("line"), "^([^:]+):", 1))))
      .withColumn("sitemap_url",
        trim(regexp_extract(col("line"), "^[^:]+:(.*)$", 1)))
      .filter(col("key") === "sitemap" && col("sitemap_url") =!= "")
      .select(col("domain"), col("line_no").cast("long").as("line_no"),
        col("sitemap_url"))

  /** Politeness fetch schedule — when each allowed URL may actually be
    * fetched: per origin, URLs queue in deterministic Knuth-hash order
    * and fetch times space out by the origin's crawl-delay (the chosen
    * agent group's delay, falling back to the `*` group's, then to
    * 1 s — crawl-delay is the de-facto extension most
    * crawlers honor). `fetch_at_ms = pos · delay·1000` — the planning
    * table a fetcher fleet consumes.
    *
    * Shape: the [[gate]] (broadcast + row-local) keeps allowed URLs, the
    * per-origin delay table is one tiny aggregate broadcast back, and the
    * queue position is one window over the domain hash — the same
    * top-k-per-group shuffle class as [[WebCuration.capPerDomain]].
    * Output adds (delay_ms, pos 0-based, fetch_at_ms). */
  def schedule(urls: DataFrame, urlCol: String, idCol: String,
               rules: DataFrame, userAgent: String): DataFrame = {
    val ua = userAgent.toLowerCase(Locale.ROOT)
    val delays = rules.filter(col("rtype") === "crawl-delay")
      .groupBy(col("domain"))
      .agg(max(when(col("agent") === ua, col("value").cast("long"))).as("__dua"),
        max(when(col("agent") === "*", col("value").cast("long"))).as("__dstar"))
      .select(col("domain"),
        coalesce(col("__dua"), col("__dstar")).as("__delay_s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain"))
      .orderBy(Sampling.knuthSlot32(col(idCol)).asc, col(idCol).asc)
    gate(urls, urlCol, rules, userAgent)
      .filter(col("allowed"))
      .join(broadcast(delays), Seq("domain"), "left")
      .withColumn("delay_ms",
        coalesce(col("__delay_s"), lit(1L)) * 1000L)
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .withColumn("fetch_at_ms", col("pos") * col("delay_ms"))
      .drop("__delay_s")
  }

  /** [[schedule]] with REGISTRABLE-DOMAIN politeness — the queue
    * granularity a real crawler must use: `a.example.com` and
    * `b.example.com` are one site behind one origin infrastructure, and
    * per-HOSTNAME queues would hit it with one fetch per host per delay
    * window (a subdomain-count multiple of the intended rate).
    * Robots GATING stays per host (RFC 9309 is host-scoped, and each
    * host's own crawl-delay is still reported as `delay_ms`), but the
    * queue key is [[graft.expr.RegistrableDomainOps]] of the host and
    * the queue spaces by the MOST CONSERVATIVE member delay present in
    * it (max over the queue's admitted URLs — a site asking 3 s on one
    * subdomain is not outrun via its 1 s sibling).
    *
    * Same shape as [[schedule]]: broadcast gate + broadcast delays, one
    * window — now keyed by the registrable domain (a pure projection of
    * the host, so the only change at 100 TB is a coarser, still
    * hash-balanced partition key). Output adds (reg_domain,
    * queue_delay_ms) next to schedule's columns. */
  def scheduleByRegistrableDomain(urls: DataFrame, urlCol: String,
                                  idCol: String, rules: DataFrame,
                                  userAgent: String): DataFrame = {
    val ua = userAgent.toLowerCase(Locale.ROOT)
    val delays = rules.filter(col("rtype") === "crawl-delay")
      .groupBy(col("domain"))
      .agg(max(when(col("agent") === ua, col("value").cast("long"))).as("__dua"),
        max(when(col("agent") === "*", col("value").cast("long"))).as("__dstar"))
      .select(col("domain"),
        coalesce(col("__dua"), col("__dstar")).as("__delay_s"))
    val byQueue = org.apache.spark.sql.expressions.Window
      .partitionBy(col("reg_domain"))
    val w = byQueue.orderBy(Sampling.knuthSlot32(col(idCol)).asc, col(idCol).asc)
    gate(urls, urlCol, rules, userAgent)
      .filter(col("allowed"))
      .join(broadcast(delays), Seq("domain"), "left")
      .withColumn("delay_ms",
        coalesce(col("__delay_s"), lit(1L)) * 1000L)
      .withColumn("reg_domain",
        graft.expr.UrlExpressions.registrable_domain(col("domain")))
      .withColumn("queue_delay_ms", max(col("delay_ms")).over(byQueue))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .withColumn("fetch_at_ms", col("pos") * col("queue_delay_ms"))
      .drop("__delay_s")
  }

  /** Deterministic synthetic robots.txt for the fixture domains (the
    * synthetic-HTML playbook): a `*` group with constant rules, then a
    * crawler-specific group whose Disallow slot k varies per domain —
    * exercising comments, case-insensitive keys, crawl-delay lines,
    * group override, and the longest-match/Allow-tie ladder. `k` must be
    * SQL-reconstructable from the domain. Domains with k % 5 == 0 append
    * a root `Disallow: /` to the graftbot group — the rule that only a
    * normalized empty path ("https://domain" → "/") can match, pinning
    * the RFC 9309 pathless-URL case in the oracle gate. */
  def syntheticRobots(domain: Column, k: Column): Column =
    concat(
      lit("# robots.txt for "), domain,
      lit("\nUser-Agent: *\nDisallow: /private/\nDisallow: /docs/3/\n" +
        "Allow: /docs/3/open/\ncrawl-delay: 2\n\n" +
        "User-agent: graftbot\nAllow: /docs/\nDisallow: /docs/"),
      k.cast("string"),
      lit("/\nDisallow: /tmp/\nCrawl-delay: "),
      (k % 3 + 1).cast("string"),
      lit("\n"),
      when(k % 5 === 0, lit("Disallow: /\n")).otherwise(lit("")),
      // the discovery half, appended LAST so every rule row above keeps
      // its line number (q_robots_rules pins them)
      lit("Sitemap: https://www."), domain, lit("/sitemap.xml\n"))
}
