package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{EventTime, GraftFunctions}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingIngest
import SparkEntry._

/** Warc query/oracle registry — one slice of the driver contract
  * surface, split out of the former 15k-line SparkEntry monolith so a
  * duplicated query-name literal can never silently shadow a pair out
  * of the sweep again (the round-17 q_text_chunks incident).
  * Query lambdas and oracle texts are verbatim moves; shared helpers
  * stay on [[SparkEntry]] (imported above). Composed — with a
  * cross-registry duplicate guard — in [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]]. */
private[graft] object WarcRegistry extends QueryRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // WARC crawl-archive ingestion, record table: the corpus as it truly
    // arrives at 100 TB (Common Crawl ships .warc/.warc.gz archives).
    // Deterministic synthetic archives — 4 buckets, bucket 0 gzipped with
    // per-record members, warcinfo-led files, real WARC + HTTP/1.1
    // framing — are parsed back by the streaming record iterator (one
    // task per archive, constant memory per record, no shuffle) and every
    // header/length field is hash-matched against the oracle's from-
    // scratch reconstruction of the framing arithmetic (octet lengths of
    // the HTTP head + the full page template rebuilt in SQL).
    "q_warc_records" -> ((s, dir) => {
      val recs = ingest.WarcIngest.readRecords(s, warcFixtureDir(s, dir))
      recs.select(
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


    // WARC → HTTP body → HTML extraction: the full crawl front chained —
    // archive parse, response/status/content-type gate, boilerplate
    // removal — must land byte-identical to extracting from the pages
    // directly, so this SHARES the q_text_extract oracle verbatim.
    "q_warc_extract" -> ((s, dir) => {
      val recs = ingest.WarcIngest.readRecords(s, warcFixtureDir(s, dir))
      recs.filter(col("warc_type") === "response" &&
          col("http_status") === 200 &&
          col("http_content_type").startsWith("text/html"))
        .select(regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long")
            .as("doc_id"),
          graft.expr.HtmlExpressions.html_content_text(col("body"))
            .as("extracted"))
        .orderBy(col("doc_id"))
    }),


    // WARC → HTTP body → LINK DISCOVERY: the crawl loop's real
    // link-extraction chain — archive parse, 200/text-html gate,
    // html_links over the stored page, references resolved against the
    // record's OWN target URI and canonicalized. The synthetic page
    // carries seven constant root-relative anchors, so every
    // (doc_id, idx, resolved, anchor) tuple is literal-by-construction.
    "q_warc_links" -> ((s, dir) => {
      val recs = ingest.WarcIngest.readRecords(s, warcFixtureDir(s, dir))
      recs.filter(col("warc_type") === "response" &&
          col("http_status") === 200 &&
          col("http_content_type").startsWith("text/html"))
        .select(regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long")
            .as("doc_id"),
          col("target_uri"),
          posexplode(graft.expr.HtmlExpressions.html_links(col("body")))
            .as(Seq("idx", "l")))
        .select(col("doc_id"), col("idx").cast("long").as("idx"),
          graft.expr.UrlExpressions.url_canonicalize(
            graft.expr.UrlExpressions.url_resolve(col("target_uri"),
              col("l.href"))).as("resolved"),
          col("l.anchor").as("anchor"))
        .orderBy(col("doc_id"), col("idx"))
    }),


    // Charset-aware body decoding — the largest real-crawl correctness
    // gap a UTF-8-only reader has: pages re-encoded under a 6-charset
    // rotation (UTF-8, ISO-8859-1, windows-1252, GB2312, Shift_JIS,
    // UTF-16) and declared via Content-Type parameter, <meta charset>,
    // http-equiv, or BOM must decode to the EXACT original text —
    // extraction output hash-matched against the oracle's from-scratch
    // page reconstruction, non-ASCII markers included, plus the sniffed
    // charset name itself.
    "q_warc_charset" -> ((s, dir) => {
      val recs = ingest.WarcIngest.readRecords(s, warcCharsetFixtureDir(s, dir))
      recs.filter(col("warc_type") === "response" &&
          col("http_status") === 200)
        .select(regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long")
            .as("doc_id"),
          col("charset"),
          graft.expr.HtmlExpressions.html_content_text(col("body"))
            .as("extracted"))
        .orderBy(col("doc_id"))
    }),


    // Wire-format decoding: chunked transfer framing de-chunked and
    // gzip/deflate content codings decompressed before the body reaches
    // extraction — else framing bytes and compressed garbage masquerade
    // as page text. The raw WARC payload octets (the framing truth) are
    // oracled exactly for the SQL-derivable modes (identity arithmetic,
    // the 16-byte chunk formula); decompressed body octets + extraction
    // are oracled for ALL five modes.
    "q_warc_encodings" -> ((s, dir) => {
      val recs = ingest.WarcIngest.readRecords(s, warcEncodingsFixtureDir(s, dir))
      recs.filter(col("warc_type") === "response" &&
          col("http_status") === 200)
        .select(regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long")
            .as("doc_id"),
          col("content_length"),
          octet_length(col("body")).cast("long").as("body_octets"),
          graft.expr.HtmlExpressions.html_content_text(col("body"))
            .as("extracted"))
        .withColumn("mode",
          when(col("doc_id") % 5 === 0, "identity")
            .when(col("doc_id") % 5 === 1, "chunked")
            .when(col("doc_id") % 5 === 2, "gzip")
            .when(col("doc_id") % 5 === 3, "gzip+chunked")
            .otherwise("deflate"))
        .withColumn("payload_octets",
          when(col("doc_id") % 5 <= 1, col("content_length")))
        .select(col("doc_id"), col("mode"), col("payload_octets"),
          col("body_octets"), col("extracted"))
        .orderBy(col("doc_id"))
    }),


    // Revisit resolution across CONSECUTIVE crawls (ISO 28500 §6.7.2):
    // crawl 2 stores unchanged pages as payload-free revisit records
    // pointing at crawl 1's captures; the resolver must hand downstream
    // the complete crawl-2 corpus view — original bodies for the
    // unchanged third, the updated "v2" bodies for the rest — via one
    // record_id-keyed join on the revisit subset only.
    "q_warc_revisit" -> ((s, dir) => {
      val base = warcRevisitFixtureDir(s, dir)
      val c1 = ingest.WarcIngest.readRecords(s, s"$base/c1")
      val c2 = ingest.WarcIngest.readRecords(s, s"$base/c2")
      ingest.WarcIngest.resolveRevisits(c2, c1)
        .select(regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long")
            .as("doc_id"),
          col("is_revisit"), col("resolved"),
          octet_length(col("body")).cast("long").as("body_octets"))
        .orderBy(col("doc_id"))
    }),


    // Redirect-chain resolution out of the archive: 301/302 responses
    // (Location parsed by the reader) resolved to their landing page by
    // the bounded-hop iterative join — 302→301→200 two-hop chains
    // included — so url-keyed accounting counts every moved page once,
    // at its real home. Every hop count, landing id, and resolved flag
    // recomputed by the oracle from the chain arithmetic.
    "q_warc_redirects" -> ((s, dir) => {
      val recs = ingest.WarcIngest.readRecords(s, warcRedirFixtureDir(s, dir))
        .filter(col("warc_type") === "response")
        .select(regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long")
            .as("doc_id"),
          col("target_uri").as("url"),
          col("http_status").as("status"),
          col("http_location").as("location"))
      operators.WebCuration.resolveRedirects(recs, "url", "status",
          "location", maxHops = 4)
        .select(col("doc_id"), col("status").cast("long").as("status"),
          regexp_extract(col("final_url"), "/docs/(\\d+)$", 1).cast("long")
            .as("final_doc"),
          col("n_hops"), col("resolved"))
        .orderBy(col("doc_id"))
    }),


    // Content-type sniffing over a deliberately MISLABELED archive: every
    // response's Content-Type header contradicts its payload; the
    // magic-byte sniffer must recover the true type for all five
    // modalities straight from body_bytes — the routing layer that keeps
    // mislabeled PDFs out of the HTML extractor at crawl scale.
    "q_warc_mime_sniff" -> ((s, dir) => {
      val recs = ingest.WarcIngest.readRecords(s, warcMimeFixtureDir(s, dir))
      recs.filter(col("warc_type") === "response" &&
          col("http_status") === 200)
        .select(regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long")
            .as("doc_id"),
          col("http_content_type").as("declared"),
          graft.expr.MimeExpressions.mime_sniff(col("body_bytes"))
            .as("sniffed"))
        .withColumn("mislabeled", col("declared") =!= col("sniffed"))
        .orderBy(col("doc_id"))
    }),


    // The same decode chained out of the ARCHIVE: WARC parse →
    // application/pdf + 200 gate → pdf_text over the byte-exact
    // body_bytes — proving binary PDF payloads survive WARC framing and
    // the charset/transfer decoding leaves them untouched. Shares the
    // q_pdf_extract oracle verbatim.
    "q_warc_pdf" -> ((s, dir) => {
      val recs = ingest.WarcIngest.readRecords(s, warcPdfFixtureDir(s, dir))
      recs.filter(col("warc_type") === "response" &&
          col("http_status") === 200 &&
          col("http_content_type") === "application/pdf")
        .select(regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long")
            .as("doc_id"),
          graft.expr.PdfExpressions.pdf_text(col("body_bytes")).as("extracted"))
        .orderBy(col("doc_id"))
    }),


    // Manifest-driven incremental ingest — how the crawl warehouse
    // actually grows: archives arrive in two waves (buckets 0-1, then
    // 2-3), each run parses ONLY the un-ingested delta and appends
    // records + manifest rows; a third run with nothing new must append
    // nothing (file-granularity idempotence, asserted in-query). The
    // accumulated warehouse must equal the one-shot read — the
    // q_warc_records oracle verbatim.
    "q_warc_incremental" -> ((s, dir) => {
      val warc = warcFixtureDir(s, dir)
      val base = Scratch.path(dir, "warcinc")
      val wh = s"$base/warehouse"
      val mf = s"$base/manifest"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      val w1 = ingest.WarcIngest.ingestIncremental(s, warc, wh, mf,
        glob = "warc-[01].warc*")
      val w2 = ingest.WarcIngest.ingestIncremental(s, warc, wh, mf)
      val w3 = ingest.WarcIngest.ingestIncremental(s, warc, wh, mf)
      require(w1.size == 2 && w2.size == 2 && w3.isEmpty,
        s"incremental waves wrong: ${w1.size}/${w2.size}/${w3.size}")
      s.read.parquet(wh).select(
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


    // Crash-replay recovery: a crash between the warehouse append and
    // the manifest append re-ingests the delta on retry — the failure
    // mode [[ingest.WarcIngest.ingestIncremental]] documents. The fix it
    // prescribes is exercised here: the delta is deliberately appended
    // TWICE, and dedup on (file, rec_offset) — the archive-native
    // exactly-once key every record carries — restores the clean table,
    // hash-matched against the one-shot q_warc_records oracle verbatim.
    "q_warc_dedup_replay" -> ((s, dir) => {
      val warc = warcFixtureDir(s, dir)
      val files = ingest.WarcIngest.listArchives(s, warc)
      val once = ingest.WarcIngest.readRecordFiles(s, files)
      val replayed = once.unionByName(
        ingest.WarcIngest.readRecordFiles(s, files.take(2)))
      replayed.dropDuplicates("file", "rec_offset")
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


    // The BINARY crawl: image/png responses whose bodies must round-trip
    // the archive BYTE-EXACT (real crawls are mostly binary) — WARC
    // parse → image/png + 200 gate → real PNG pixel decode from
    // body_bytes → plane checksums, hash-matched against the direct-
    // decode formula oracle verbatim.
    "q_warc_image_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      ingest.WarcIngest.readRecords(s, warcImageFixtureDir(s, dir))
        .filter(col("warc_type") === "response" &&
          col("http_status") === 200 &&
          col("http_content_type") === "image/png")
        .select(regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long")
            .as("media_id"),
          col("body_bytes"))
        .as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val (w, h, plane) = Multimodal.decodePngPixels(bytes)
            .getOrElse((0, 0, Array.emptyByteArray))
          var lsum = 0L; var wsum = 0L; var i = 0
          while (i < plane.length) {
            val l = plane(i) & 0xff
            lsum += l; wsum += l.toLong * (i % 97 + 1); i += 1
          }
          (id, w.toLong, h.toLong, plane.length.toLong, lsum, wsum)
        }
        .toDF("media_id", "width", "height", "n_pixels", "lum_sum", "lum_wsum")
        .orderBy(col("media_id"))
    }),


    // IMAGE-TEXT PAIRS OUT OF THE ARCHIVE — the full multimodal chain
    // the pieces were built for: HTML pages (one WARC) are parsed for
    // <img> tags with alt + figcaption captions, srcs resolve and
    // canonicalize into keys, and the IMAGE archive's byte-exact bodies
    // decode to real PNG pixels — joined on the canonical URL into
    // (page, alt, caption, width, height, pixels, checksum) training
    // pairs. The caption names the true dimensions, so the oracle
    // cross-checks extraction against the decoded planes in one gate.
    // Scale shape: both sides are per-row codegen projections; the one
    // shuffle is the URL-keyed join (sort-merge at corpus scale —
    // neither side is broadcastable at 100 TB, and AQE handles skew).
    "q_warc_image_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val pages = ingest.WarcIngest
        .readRecords(s, warcImgPageFixtureDir(s, dir))
        .filter(col("warc_type") === "response" &&
          col("http_status") === 200 &&
          col("http_content_type").startsWith("text/html"))
        .select(regexp_extract(col("record_id"), "doc:(\\d+)", 1)
            .cast("long").as("doc_id"),
          col("target_uri"),
          explode(graft.expr.HtmlExpressions.html_images(col("body")))
            .as("im"))
        .select(col("doc_id"),
          graft.expr.UrlExpressions.url_canonicalize(
            graft.expr.UrlExpressions.url_resolve(col("target_uri"),
              col("im.src"))).as("img_url"),
          col("im.alt").as("alt"), col("im.caption").as("caption"))
      val pixels = ingest.WarcIngest
        .readRecords(s, warcImageFixtureDir(s, dir))
        .filter(col("warc_type") === "response" &&
          col("http_status") === 200 &&
          col("http_content_type") === "image/png")
        .select(graft.expr.UrlExpressions.url_canonicalize(
            col("target_uri")).as("img_url"),
          col("body_bytes"))
        .as[(String, Array[Byte])]
        .map { case (u, bytes) =>
          val (w, h, plane) = Multimodal.decodePngPixels(bytes)
            .getOrElse((0, 0, Array.emptyByteArray))
          var lsum = 0L; var i = 0
          while (i < plane.length) { lsum += plane(i) & 0xff; i += 1 }
          (u, w.toLong, h.toLong, plane.length.toLong, lsum)
        }
        .toDF("img_url", "width", "height", "n_pixels", "lum_sum")
      pages.join(pixels, Seq("img_url"))
        .select(col("doc_id"), col("img_url"), col("alt"), col("caption"),
          col("width"), col("height"), col("n_pixels"), col("lum_sum"))
        .orderBy(col("doc_id"))
    }),


    // The WET loop (Common Crawl's extraction OUTPUT format): text-WARC
    // parsed → boilerplate-stripped → written back as WET archives
    // (`conversion` records, bare text/plain payload, bucketed + gz like
    // the input) → re-read. Extraction must survive its own archive
    // round-trip byte-exact, so this shares the q_text_extract oracle
    // VERBATIM — the full WARC-in/WET-out cycle in one gate.
    "q_warc_wet_roundtrip" -> ((s, dir) => {
      val recs = ingest.WarcIngest.readRecords(s, warcFixtureDir(s, dir))
      val extracted = recs.filter(col("warc_type") === "response" &&
          col("http_status") === 200 &&
          col("http_content_type").startsWith("text/html"))
        .select(regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long")
            .as("doc_id"),
          col("target_uri").as("uri"),
          graft.expr.HtmlExpressions.html_content_text(col("body"))
            .as("extracted"))
      val out = Scratch.path(dir, "wet")
      ingest.WarcIngest.writeWet(s, extracted, "doc_id", "uri", "extracted",
        out, nFiles = 4)
      ingest.WarcIngest.readRecords(s, out)
        .filter(col("warc_type") === "conversion")
        .select(regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long")
            .as("doc_id"),
          col("body").as("extracted"))
        .orderBy(col("doc_id"))
    }),


    // Per-archive rollup (the crawl operator's manifest view): record/
    // response counts and payload/body octet volumes per bucket file —
    // identical for the gzipped and plain buckets, which is the codec-
    // transparency gate.
    "q_warc_stats" -> ((s, dir) => {
      val recs = ingest.WarcIngest.readRecords(s, warcFixtureDir(s, dir))
      recs.groupBy(regexp_extract(col("file"), "warc-(\\d+)\\.warc", 1)
          .cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("warc_type") === "response", 1L).otherwise(0L))
            .as("n_responses"),
          sum(col("content_length")).as("payload_octets"),
          sum(octet_length(col("body")).cast("long")).as("body_octets"))
        .orderBy(col("bucket"))
    }),

  )

  def oracles: Map[String, String] = Map(

    // Binary payloads round-trip the archive byte-exact, so decoding the
    // PNGs OUT OF THE WARC must equal decoding them directly — the
    // q_image_decode oracle verbatim.
    "q_warc_image_decode" -> imageDecodeOracleSql,

    "q_warc_image_pairs" -> warcImagePairsOracleSql,


    // WARC record-table oracle: every WARC/HTTP framing field recomputed
    // from the page template — Content-Length of a response record is
    // octets(HTTP head incl. the digits of the body's own Content-Length)
    // + octets(html); warcinfo rows are the 4 constant file headers.
    // strlen() is DuckDB's BYTE length (the corpus is ASCII, but the
    // contract is octets).
    "q_warc_records" -> warcRecordsOracleSql,


    // Two-wave manifest-driven ingest accumulates exactly the one-shot
    // record table — oracle shared verbatim.
    "q_warc_incremental" -> warcRecordsOracleSql,


    // Replayed appends deduplicated on the archive-native
    // (file, rec_offset) key restore exactly the one-shot table.
    "q_warc_dedup_replay" -> warcRecordsOracleSql,


    // The crawl front end-to-end must equal extracting from the pages
    // directly — the q_text_extract oracle verbatim.
    "q_warc_extract" -> textExtractOracleSql,


    // warc-links oracle: the synthetic page's seven constant
    // root-relative anchors resolved against each record's own target
    // URI — any framing slip, un-resolved reference, or anchor-text leak
    // (nav/ads/footer text around the <a>s) breaks it.
    "q_warc_links" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://www.' || source || '.example.com' AS host
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, 0 AS idx, host || '/' AS resolved,
        |    'Home' AS anchor FROM u
        |  UNION ALL SELECT doc_id, 1, host || '/about', 'About' FROM u
        |  UNION ALL SELECT doc_id, 2, host || '/contact', 'Contact' FROM u
        |  UNION ALL SELECT doc_id, 3, host || '/buy', 'Buy now' FROM u
        |  UNION ALL SELECT doc_id, 4, host || '/sale', 'Sale' FROM u
        |  UNION ALL SELECT doc_id, 5, host || '/tos', 'Terms' FROM u
        |  UNION ALL SELECT doc_id, 6, host || '/priv', 'Privacy' FROM u)
        |SELECT doc_id, CAST(idx AS BIGINT) AS idx, resolved, anchor
        |FROM l ORDER BY doc_id, idx""".stripMargin,

    "q_warc_pdf" -> pdfExtractOracleSql,


    // revisit oracle: unchanged third carries the CRAWL-1 template's
    // octets, the rest the "v2" template's — both recomputed from the
    // shared page expression.
    "q_warc_revisit" ->
      s"""WITH page AS (
        |  SELECT doc_id,
        |    ${warcHtmlSqlExpr("doc_id", "text")} AS h1,
        |    ${warcHtmlSqlExpr("doc_id", "text || ' v2'")} AS h2
        |  FROM documents)
        |SELECT doc_id, doc_id % 3 = 0 AS is_revisit, TRUE AS resolved,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN strlen(h1) ELSE strlen(h2) END
        |    AS BIGINT) AS body_octets
        |FROM page ORDER BY doc_id""".stripMargin,


    // redirect oracle: statuses, landing ids, and hop counts from the
    // chain rule (mode 3 → −3 in one hop; mode 4 → −1 → −4 in two).
    "q_warc_redirects" ->
      """SELECT doc_id,
        |  CAST(CASE doc_id % 5 WHEN 3 THEN 301 WHEN 4 THEN 302
        |    ELSE 200 END AS BIGINT) AS status,
        |  CASE doc_id % 5 WHEN 3 THEN doc_id - 3 WHEN 4 THEN doc_id - 4
        |    ELSE doc_id END AS final_doc,
        |  CAST(CASE doc_id % 5 WHEN 3 THEN 1 WHEN 4 THEN 2
        |    ELSE 0 END AS BIGINT) AS n_hops,
        |  TRUE AS resolved
        |FROM documents ORDER BY doc_id""".stripMargin,


    // mime-sniff oracle: both the (wrong) declared label and the true
    // type the magic bytes must recover, straight from the rotation.
    "q_warc_mime_sniff" ->
      """SELECT doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'text/html' WHEN 1 THEN 'image/png'
        |    WHEN 2 THEN 'application/octet-stream' WHEN 3 THEN 'text/plain'
        |    ELSE 'application/pdf' END AS declared,
        |  CASE doc_id % 5 WHEN 0 THEN 'image/png' WHEN 1 THEN 'application/pdf'
        |    WHEN 2 THEN 'text/html' WHEN 3 THEN 'audio/wav'
        |    ELSE 'text/plain' END AS sniffed,
        |  TRUE AS mislabeled
        |FROM documents ORDER BY doc_id""".stripMargin,


    // Charset round-trip: sniffed charset name + extracted text rebuilt
    // from the documents table and the shared marker rotation — a page
    // that decoded under the wrong charset can't reproduce its marker.
    "q_warc_charset" -> warcCharsetOracleSql,


    // Wire-encoding oracle: raw payload octets recomputed exactly for
    // identity (head arithmetic) and chunked (22 octets per full
    // 16-byte chunk = 2 hex + CRLF + data + CRLF; r+5 for the partial;
    // +5 for the 0-chunk terminator); compressed modes pin the decoded
    // octets and extraction instead (deflate streams aren't
    // SQL-rebuildable).
    "q_warc_encodings" ->
      """WITH page AS (
        |  SELECT doc_id, text,
        |    '<html>' || chr(10) || '<head>' || chr(10) || '<title>E' ||
        |    CAST(doc_id AS VARCHAR) || '</title>' || chr(10) || '</head>' || chr(10) ||
        |    '<body>' || chr(10) || '<h1>Encoding probe document headline</h1>' || chr(10) ||
        |    '<p>' || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
        |    '</p>' || chr(10) || '</body>' || chr(10) || '</html>' || chr(10) AS html
        |  FROM documents),
        |m AS (SELECT doc_id, text, doc_id % 5 AS md, strlen(html) AS n FROM page)
        |SELECT doc_id,
        |  CASE md WHEN 0 THEN 'identity' WHEN 1 THEN 'chunked'
        |    WHEN 2 THEN 'gzip' WHEN 3 THEN 'gzip+chunked' ELSE 'deflate' END AS mode,
        |  CAST(CASE md
        |    WHEN 0 THEN strlen('HTTP/1.1 200 OK') + 2
        |      + strlen('Content-Type: text/html; charset=utf-8') + 2
        |      + strlen('Content-Length: ' || CAST(n AS VARCHAR)) + 2 + 2 + n
        |    WHEN 1 THEN strlen('HTTP/1.1 200 OK') + 2
        |      + strlen('Content-Type: text/html; charset=utf-8') + 2
        |      + strlen('Transfer-Encoding: chunked') + 2 + 2
        |      + (n // 16) * 22
        |      + CASE WHEN n % 16 > 0 THEN n % 16 + 5 ELSE 0 END + 5
        |  END AS BIGINT) AS payload_octets,
        |  CAST(n AS BIGINT) AS body_octets,
        |  'Encoding probe document headline' || chr(10) || text AS extracted
        |FROM m ORDER BY doc_id""".stripMargin,


    // Extraction must survive its own WET archive round-trip — the same
    // oracle once more.
    "q_warc_wet_roundtrip" -> textExtractOracleSql,


    // Per-bucket manifest rollup: responses grouped by doc_id % 4 plus
    // each file's warcinfo record; identical arithmetic for the gzipped
    // bucket 0 (codec transparency).
    "q_warc_stats" ->
      s"""WITH page AS ($warcPageSql),
        |resp AS (
        |  SELECT doc_id % 4 AS bucket, strlen(html) AS body_o,
        |    strlen('HTTP/1.1 200 OK') + 2
        |      + strlen('Content-Type: text/html; charset=utf-8') + 2
        |      + strlen('Content-Length: ' || CAST(strlen(html) AS VARCHAR)) + 2
        |      + 2 + strlen(html) AS pay_o
        |  FROM page),
        |agg AS (
        |  SELECT bucket, count(*) AS nr, CAST(sum(pay_o) AS BIGINT) AS pay,
        |    CAST(sum(body_o) AS BIGINT) AS body
        |  FROM resp GROUP BY bucket),
        |info AS (
        |  SELECT b AS bucket,
        |    strlen('software: graft-warc/1.0') + 2
        |      + strlen('bucket: ' || CAST(b AS VARCHAR)) + 2 AS io
        |  FROM (SELECT unnest(range(4)) AS b))
        |SELECT i.bucket AS bucket,
        |  CAST(coalesce(a.nr, 0) + 1 AS BIGINT) AS n_records,
        |  CAST(coalesce(a.nr, 0) AS BIGINT) AS n_responses,
        |  CAST(coalesce(a.pay, 0) + i.io AS BIGINT) AS payload_octets,
        |  CAST(coalesce(a.body, 0) + i.io AS BIGINT) AS body_octets
        |FROM info i LEFT JOIN agg a ON a.bucket = i.bucket
        |ORDER BY bucket""".stripMargin,

  )
}
