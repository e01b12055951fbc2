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
import TextRegistry.altFixtureHtml

/** Multimodal query/oracle registry — one slice of the driver contract
  * surface, split out of the former 15k-line SparkEntry monolith so a
  * duplicated query-name literal can never silently shadow a pair out
  * of the sweep again (the round-17 q_text_chunks incident).
  * Each query's lambda, fixtures and oracle text live here; a helper
  * that a streaming twin or another family also uses is
  * `private[registry]` in its batch query's registry. Composed — with
  * a cross-registry duplicate guard — in [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]]. */
private[graft] object MultimodalRegistry extends QueryRegistry {

  /** Header-parsed features of each document's synthetic media payload,
    * as long columns — the one projection q_multimodal_features and its
    * streaming twin share. */
  private[registry] def syntheticMediaFeatures(docs: DataFrame): DataFrame = {
    implicit val sp: SparkSession = docs.sparkSession
    operators.Multimodal.extractFeatures(
        operators.Multimodal.syntheticMediaRecords(docs, "doc_id")).toDF()
      .select(col("media_id"),
        col("n_bytes").cast("long").as("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"),
        size(col("frame_offsets")).cast("long").as("n_frames"))
  }

  /** PDF-extraction oracle, shared verbatim by the direct decode
    * (q_pdf_extract) and the decode-out-of-the-WARC chain (q_warc_pdf):
    * the synthetic page lays `text` out 8 words per line, so extraction
    * must return exactly that regrouping — rebuilt here from the words
    * alone (uncompressed and FlateDecode streams must land identically,
    * and the TJ kerning split must be invisible). */
  private[registry] lazy val pdfExtractOracleSql: String =
    """WITH w AS (
      |  SELECT doc_id, i - 1 AS wi, lst[i] AS w
      |  FROM (SELECT doc_id,
      |          list_filter(string_split(text, ' '), x -> x <> '') AS lst
      |        FROM documents),
      |       LATERAL (SELECT unnest(range(1, len(lst) + 1)) AS i) r),
      |lines AS (
      |  SELECT doc_id, wi // 8 AS g, string_agg(w, ' ' ORDER BY wi) AS line
      |  FROM w GROUP BY doc_id, wi // 8)
      |SELECT doc_id, string_agg(line, chr(10) ORDER BY g) AS extracted
      |FROM lines GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** html-links oracle, shared verbatim by the batch extraction
    * and its streaming twin (per-row purity => stream = batch). */
  private[registry] lazy val htmlLinksOracleSql: String =
        """WITH u AS (
      |  SELECT doc_id, source,
      |    'https://www.' || source || '.example.com' AS host,
      |    CAST(doc_id % 25 AS VARCHAR) AS slot,
      |    CAST(doc_id AS VARCHAR) AS id,
      |    CAST(doc_id % 7 AS VARCHAR) AS m7,
      |    CAST(doc_id % 5 AS VARCHAR) AS m5,
      |    CAST(doc_id % 4 AS VARCHAR) AS m4,
      |    CAST(doc_id % 3 AS VARCHAR) AS m3,
      |    CAST(doc_id % 6 AS VARCHAR) AS m6,
      |    CAST(doc_id % 2 AS VARCHAR) AS m2
      |  FROM documents),
      |l AS (
      |  SELECT doc_id, 0 AS idx, host || '/article/' || id AS href,
      |    host || '/article/' || id AS resolved,
      |    'Read more' AS anchor, FALSE AS nofollow FROM u
      |  UNION ALL SELECT doc_id, 1, 'sub/page-' || m7,
      |    host || '/docs/' || slot || '/sub/page-' || m7, 'Sub page',
      |    FALSE FROM u
      |  UNION ALL SELECT doc_id, 2, '../up-' || m5,
      |    host || '/docs/up-' || m5, 'Up one', FALSE FROM u
      |  UNION ALL SELECT doc_id, 3, '/top-' || m3, host || '/top-' || m3,
      |    'Top', FALSE FROM u
      |  UNION ALL SELECT doc_id, 4,
      |    '//cdn.' || source || '.example.com/lib-' || m4,
      |    'https://cdn.' || source || '.example.com/lib-' || m4, 'CDN',
      |    FALSE FROM u
      |  UNION ALL SELECT doc_id, 5, '?page=' || m6,
      |    host || '/docs/' || slot || '/?page=' || m6, 'Next', FALSE FROM u
      |  UNION ALL SELECT doc_id, 6, '#sec',
      |    host || '/docs/' || slot || '/', 'Same page', FALSE FROM u
      |  UNION ALL SELECT doc_id, 7,
      |    'mailto:info@' || source || '.example.com',
      |    'mailto:info@' || source || '.example.com', 'Mail', FALSE FROM u
      |  UNION ALL SELECT doc_id, 8, '/out-' || m2, host || '/out-' || m2,
      |    'Ad & out', TRUE FROM u)
      |SELECT doc_id, CAST(idx AS BIGINT) AS idx, href, resolved, anchor,
      |  nofollow
      |FROM l ORDER BY doc_id, idx""".stripMargin

  /** image-text-pairs oracle, shared verbatim by the batch extraction
    * (q_image_text_pairs) and its streaming twin: the three fixture
    * images rebuilt per document, with the figure src routed through
    * the /media/ base on every third document. The trim() mirrors the
    * scanner's whitespace normalization when a document's first-3-words
    * slice comes back empty. */
  private[registry] lazy val htmlImagePairsOracleSql: String =
        """WITH u AS (
      |  SELECT doc_id, source,
      |    'https://www.' || source || '.example.com' AS host,
      |    CAST(doc_id % 25 AS VARCHAR) AS slot,
      |    CAST(doc_id AS VARCHAR) AS id,
      |    array_to_string(list_slice(
      |      list_filter(string_split(text, ' '), x -> x <> ''), 1, 3), ' ')
      |      AS w3
      |  FROM documents),
      |l AS (
      |  SELECT doc_id, 0 AS idx, 'img/' || id || '.png' AS src,
      |    CASE WHEN doc_id % 3 = 0
      |      THEN host || '/media/img/' || id || '.png'
      |      ELSE host || '/docs/' || slot || '/img/' || id || '.png'
      |      END AS resolved,
      |    'fig-' || CAST(doc_id % 13 AS VARCHAR) AS alt,
      |    't' || CAST(doc_id % 7 AS VARCHAR) AS title,
      |    trim('Figure ' || slot || ': ' || w3) AS caption
      |  FROM u
      |  UNION ALL SELECT doc_id, 1,
      |    '/abs/' || CAST(doc_id % 9 AS VARCHAR) || '.jpg',
      |    host || '/abs/' || CAST(doc_id % 9 AS VARCHAR) || '.jpg',
      |    'inline-' || CAST(doc_id % 5 AS VARCHAR) || ' & co', '',
      |    'Context before context after.' FROM u
      |  UNION ALL SELECT doc_id, 2,
      |    '//cdn.' || source || '.example.com/c' ||
      |      CAST(doc_id % 4 AS VARCHAR) || '.webp',
      |    'https://cdn.' || source || '.example.com/c' ||
      |      CAST(doc_id % 4 AS VARCHAR) || '.webp',
      |    '', '', '' FROM u)
      |SELECT doc_id, CAST(idx AS BIGINT) AS idx, src, resolved, alt,
      |  title, caption
      |FROM l ORDER BY doc_id, idx""".stripMargin

  /** html-markdown oracle, shared verbatim by the batch rendering and
    * its streaming twin: the rendered string rebuilt character by
    * character. */
  private[registry] lazy val htmlMarkdownOracleSql: String =
        """WITH u AS (
      |  SELECT doc_id, CAST(doc_id AS VARCHAR) AS id,
      |    array_to_string(list_slice(
      |      list_filter(string_split(text, ' '), x -> x <> ''), 1, 2),
      |      ' ') AS w2,
      |    array_to_string(list_slice(
      |      list_filter(string_split(text, ' '), x -> x <> ''), 1, 3),
      |      ' ') AS w3
      |  FROM documents)
      |SELECT doc_id,
      |  '# Doc ' || id || chr(10) || chr(10) ||
      |  'Intro **' || w2 || '** and [link ' ||
      |    CAST(doc_id % 5 AS VARCHAR) || '](/l/' ||
      |    CAST(doc_id % 7 AS VARCHAR) || ').' || chr(10) || chr(10) ||
      |  '- item ' || CAST(doc_id % 3 AS VARCHAR) || chr(10) || chr(10) ||
      |  '- item b' || chr(10) || chr(10) ||
      |  '> note ' || w3 || chr(10) || chr(10) ||
      |  '![pic ' || CAST(doc_id % 9 AS VARCHAR) || '](/img/' || id ||
      |    '.png)' AS markdown
      |FROM u ORDER BY doc_id""".stripMargin

  /** image-pair-quality oracle: the alt/caption word and char gates
    * replayed over the pair construction. */
  private val imagePairQualityOracleSql: String =
        """WITH u AS (
      |  SELECT doc_id, source,
      |    CAST(doc_id % 25 AS VARCHAR) AS slot,
      |    array_to_string(list_slice(
      |      list_filter(string_split(text, ' '), x -> x <> ''), 1, 3), ' ')
      |      AS w3
      |  FROM documents),
      |l AS (
      |  SELECT doc_id, 0 AS idx,
      |    'fig-' || CAST(doc_id % 13 AS VARCHAR) AS alt,
      |    trim('Figure ' || slot || ': ' || w3) AS caption
      |  FROM u
      |  UNION ALL SELECT doc_id, 1,
      |    'inline-' || CAST(doc_id % 5 AS VARCHAR) || ' & co',
      |    'Context before context after.' FROM u
      |  UNION ALL SELECT doc_id, 2, '', '' FROM u),
      |q AS (
      |  SELECT doc_id, idx,
      |    len(list_filter(string_split(alt, ' '), x -> x <> '')) AS aw,
      |    length(alt) AS al,
      |    len(list_filter(string_split(caption, ' '), x -> x <> '')) AS cw
      |  FROM l)
      |SELECT doc_id, CAST(idx AS BIGINT) AS idx,
      |  (aw BETWEEN 2 AND 32 AND al BETWEEN 5 AND 200) AS alt_ok,
      |  (cw >= 3) AS caption_ok,
      |  ((aw BETWEEN 2 AND 32 AND al BETWEEN 5 AND 200) OR cw >= 3)
      |    AS keep
      |FROM q ORDER BY doc_id, idx""".stripMargin

  /** png-metadata-strip oracle: decode checksums from the pixel
    * formula, emitted twice and thereby pinned EQUAL (the lossless
    * contract), plus the exact removed-chunk byte arithmetic
    * (3 × 12 framing + the two planted text payloads + tIME's 7). */
  private val imageStripMetaOracleSql: String =
    """WITH m AS (
      |  SELECT doc_id, 16 + doc_id % 17 AS w, 16 + (doc_id * 3) % 13 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id,
      |    CASE doc_id % 4
      |      WHEN 0 THEN (doc_id * 7 + i * 13) % 251
      |      WHEN 3 THEN (77 * ((doc_id + 3 * i) % 256)
      |        + 150 * (((doc_id + 3 * i) % 256) * 7 % 256)
      |        + 29 * (((doc_id + 3 * i) % 256) * 13 % 256)) // 256
      |      ELSE (77 * ((doc_id + 2 * i) % 256)
      |        + 150 * ((doc_id * 3 + 5 * i) % 256)
      |        + 29 * ((doc_id * 5 + 7 * i) % 256)) // 256
      |    END AS lum
      |  FROM m, LATERAL (SELECT unnest(range(0, w * h)) AS i) r),
      |agg AS (
      |  SELECT doc_id, CAST(SUM(lum) AS BIGINT) AS lum
      |  FROM px GROUP BY doc_id)
      |SELECT m.doc_id AS media_id, CAST(m.w AS BIGINT) AS width,
      |  CAST(m.h AS BIGINT) AS height,
      |  a.lum AS lum_before, a.lum AS lum_after,
      |  CAST(3 AS BIGINT) AS n_removed,
      |  CAST(36 + (12 + length(CAST(m.doc_id % 50 AS VARCHAR)))
      |    + (13 + length(CAST(m.doc_id % 180 - 90 AS VARCHAR) || '.0,' ||
      |        CAST(m.doc_id % 360 - 180 AS VARCHAR) || '.0'))
      |    + 7 AS BIGINT) AS bytes_saved,
      |  TRUE AS lossless
      |FROM m JOIN agg a USING (doc_id) ORDER BY media_id""".stripMargin

  /** html-tables oracle, shared verbatim by the batch extraction and
    * its streaming twin. */
  private[registry] lazy val htmlTablesOracleSql: String =
        """WITH d AS (
      |  SELECT doc_id,
      |    least(len(list_filter(string_split(text, ' '), x -> x <> '')),
      |      6) AS nw
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, i - 1 AS wi, lst[i] AS w
      |  FROM (SELECT doc_id,
      |          list_filter(string_split(text, ' '), x -> x <> '') AS lst
      |        FROM documents),
      |       LATERAL (SELECT unnest(range(1, least(len(lst), 6) + 1)) AS i) r),
      |cells AS (
      |  SELECT doc_id, 0 AS t, 0 AS r, h.cc AS c, TRUE AS header,
      |    h.cell AS cell
      |  FROM d, (VALUES (0, 'Idx'), (1, 'Word'), (2, 'Len'),
      |           (3, 'Note')) AS h(cc, cell)
      |  UNION ALL
      |  SELECT doc_id, 0, wi + 1, k.cc, FALSE,
      |    CASE k.cc WHEN 0 THEN CAST(wi AS VARCHAR)
      |              WHEN 1 THEN w
      |              WHEN 2 THEN CAST(len(w) AS VARCHAR)
      |              ELSE 'a&b' END
      |  FROM w, (VALUES (0), (1), (2), (3)) AS k(cc)
      |  UNION ALL
      |  SELECT doc_id, 1, 0, k.cc, FALSE,
      |    CASE k.cc WHEN 0 THEN 'total' ELSE CAST(nw AS VARCHAR) END
      |  FROM d, (VALUES (0), (1)) AS k(cc))
      |SELECT doc_id, CAST(t AS BIGINT) AS t, CAST(r AS BIGINT) AS r,
      |  CAST(c AS BIGINT) AS c, header, cell
      |FROM cells ORDER BY doc_id, t, r, c""".stripMargin

  /** Font-decoding oracle (q_pdf_unicode): the unicode fixture shows
    * line i through font i%3 (WinAnsi / MacRoman+Differences /
    * Identity-H+ToUnicode) with [[graft.expr.PdfOps.unicodeSuffix]]
    * appended — the expected suffixes are interpolated from the SAME
    * Scala constants the generator encodes through its inverse tables,
    * so engine and oracle agree by construction and any byte the
    * decoder maps wrong breaks the hash. */
  private val pdfUnicodeOracleSql: String = {
    val sfx0 = graft.expr.PdfOps.WinSuffix
    val sfx1 = graft.expr.PdfOps.DiffSuffix
    val sfx2 = graft.expr.PdfOps.CidSuffix
    s"""WITH w AS (
       |  SELECT doc_id, i - 1 AS wi, lst[i] AS w
       |  FROM (SELECT doc_id,
       |          list_filter(string_split(text, ' '), x -> x <> '') AS lst
       |        FROM documents),
       |       LATERAL (SELECT unnest(range(1, len(lst) + 1)) AS i) r),
       |lines AS (
       |  SELECT doc_id, wi // 8 AS g, string_agg(w, ' ' ORDER BY wi) AS line
       |  FROM w GROUP BY doc_id, wi // 8)
       |SELECT doc_id,
       |  string_agg(line || CASE g % 3 WHEN 0 THEN '$sfx0'
       |                                WHEN 1 THEN '$sfx1'
       |                                ELSE '$sfx2' END,
       |             chr(10) ORDER BY g) AS extracted
       |FROM lines GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The q_html_tables computation (fixture page → typed cell rows) as
    * a pure per-row projection over a (doc_id, text) frame — shared
    * verbatim by the batch query and its streaming twin. */
  private[registry] lazy val htmlTableRows: DataFrame => DataFrame = docs => {
      val words6 = slice(filter(split(col("text"), " "),
      w => length(w) > 0), 1, 6)
    val dataRows = transform(words6, (w, i) => concat(
      lit("<tr><td>"), i, lit("</td><td><b>"), w,
      lit("</b></td><td>"), length(w),
      lit("</td><td>a&amp;b</td></tr>")))
    val html = concat(
      lit("<html><body><p>intro prose outside any table</p>" +
        "<table><tr><th>Idx</th><th> Word </th><th>Len</th>" +
        "<th>Note</th></tr>"),
      array_join(dataRows, ""),
      lit("</table><table><tr><td>total</td><td>"), size(words6),
      lit("</td></tr></table></body></html>"))
    docs.select(col("doc_id"),
        explode(graft.expr.HtmlExpressions.html_table_cells(html))
          .as("cell"))
      .select(col("doc_id"), col("cell.t").cast("long").as("t"),
        col("cell.r").cast("long").as("r"),
        col("cell.c").cast("long").as("c"),
        col("cell.header").as("header"), col("cell.cell").as("cell"))
  }

  /** The q_html_links computation (fixture page → extracted, resolved,
    * canonicalized link rows) as a pure per-row projection over a
    * (doc_id, source) frame — shared verbatim by the batch query and
    * its streaming twin. */
  private[registry] lazy val htmlLinksRows: DataFrame => DataFrame = docs => {
    val slot = pmod(col("doc_id"), lit(25)).cast("string")
    val id = col("doc_id").cast("string")
    val pageUrl = concat(lit("https://www."), col("source"),
      lit(".example.com/docs/"), slot, lit("/"))
    val html = concat(
      lit("<html><body><p>Intro text.</p>"),
      lit("<a href=\"https://www."), col("source"),
      lit(".example.com/article/"), id, lit("\">Read <b>more</b></a>"),
      lit("<a href=\"sub/page-"), pmod(col("doc_id"), lit(7)),
      lit("\">Sub page</a>"),
      lit("<a href=\"../up-"), pmod(col("doc_id"), lit(5)),
      lit("\">Up one</a>"),
      lit("<a href=\"/top-"), pmod(col("doc_id"), lit(3)),
      lit("\">Top</a>"),
      lit("<a href=\"//cdn."), col("source"), lit(".example.com/lib-"),
      pmod(col("doc_id"), lit(4)), lit("\">CDN</a>"),
      lit("<a href=\"?page="), pmod(col("doc_id"), lit(6)),
      lit("\">Next</a>"),
      lit("<a href=\"#sec\">Same page</a>"),
      lit("<a href=\"mailto:info@"), col("source"),
      lit(".example.com\">Mail</a>"),
      lit("<a rel=\"nofollow\" href=\"/out-"), pmod(col("doc_id"), lit(2)),
      lit("\">Ad &amp; out</a>"),
      lit("</body></html>"))
    docs.select(col("doc_id"), pageUrl.as("page_url"),
        posexplode(graft.expr.HtmlExpressions.html_links(html))
          .as(Seq("idx", "l")))
      .select(col("doc_id"), col("idx").cast("long").as("idx"),
        col("l.href").as("href"),
        graft.expr.UrlExpressions.url_canonicalize(
          graft.expr.UrlExpressions.url_resolve(col("page_url"),
            col("l.href"))).as("resolved"),
        col("l.anchor").as("anchor"), col("l.nofollow").as("nofollow"))
  }

  /** The q_image_text_pairs computation (fixture page → extracted,
    * base-resolved, canonicalized image-text pairs) as a pure per-row
    * projection over a (doc_id, source, text) frame — shared verbatim
    * by the batch query and its streaming twin. Three `<img>` shapes
    * per document: a figure image (relative src, figcaption caption),
    * an inline image (rooted src, surrounding-block caption, entity in
    * the alt), and a bare protocol-relative image (no alt/title/text —
    * the empty-signal control). Every third document carries a
    * `<base href="/media/">`, so resolution must route through the
    * head parse, not the page URL alone. */
  private[registry] lazy val htmlImageRows: DataFrame => DataFrame = docs => {
    val slot = pmod(col("doc_id"), lit(25)).cast("string")
    val id = col("doc_id").cast("string")
    val pageUrl = concat(lit("https://www."), col("source"),
      lit(".example.com/docs/"), slot, lit("/"))
    val words3 = array_join(slice(filter(split(col("text"), " "),
      w => length(w) > 0), 1, 3), " ")
    val html = concat(
      lit("<html><head>"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("<base href=\"/media/\">")).otherwise(lit("")),
      lit("</head><body>"),
      lit("<figure><img src=\"img/"), id,
      lit(".png\" alt=\"fig-"), pmod(col("doc_id"), lit(13)),
      lit("\" title=\"t"), pmod(col("doc_id"), lit(7)), lit("\">"),
      lit("<figcaption>Figure "), slot, lit(": "), words3,
      lit("</figcaption></figure>"),
      lit("<p>Context before <img src=\"/abs/"),
      pmod(col("doc_id"), lit(9)),
      lit(".jpg\" alt=\"inline-"), pmod(col("doc_id"), lit(5)),
      lit(" &amp; co\"> context after.</p>"),
      lit("<p><img src=\"//cdn."), col("source"),
      lit(".example.com/c"), pmod(col("doc_id"), lit(4)),
      lit(".webp\"></p>"),
      lit("</body></html>"))
    val head = graft.expr.HtmlExpressions.html_head(html).as("h")
    docs.select(col("doc_id"), pageUrl.as("page_url"), head,
        posexplode(graft.expr.HtmlExpressions.html_images(html))
          .as(Seq("idx", "im")))
      .select(col("doc_id"), col("idx").cast("long").as("idx"),
        col("im.src").as("src"),
        graft.expr.UrlExpressions.url_canonicalize(
          graft.expr.UrlExpressions.url_resolve(
            when(col("h.base").isNotNull,
              graft.expr.UrlExpressions.url_resolve(col("page_url"),
                col("h.base"))).otherwise(col("page_url")),
            col("im.src"))).as("resolved"),
        col("im.alt").as("alt"), col("im.title").as("title"),
        col("im.caption").as("caption"))
  }

  /** The q_html_markdown computation (fixture page → rendered markdown)
    * as a pure per-row projection over a (doc_id, text) frame — shared
    * verbatim by the batch query and its streaming twin. */
  private[registry] lazy val htmlMarkdownRows: DataFrame => DataFrame = docs => {
    val id = col("doc_id").cast("string")
    val words2 = array_join(slice(filter(split(col("text"), " "),
      w => length(w) > 0), 1, 2), " ")
    val words3 = array_join(slice(filter(split(col("text"), " "),
      w => length(w) > 0), 1, 3), " ")
    val html = concat(
      lit("<html><body><h1>Doc "), id, lit("</h1>"),
      lit("<p>Intro <b>"), words2, lit("</b> and <a href=\"/l/"),
      pmod(col("doc_id"), lit(7)), lit("\">link "),
      pmod(col("doc_id"), lit(5)), lit("</a>.</p>"),
      lit("<ul><li>item "), pmod(col("doc_id"), lit(3)),
      lit("</li><li>item b</li></ul>"),
      lit("<blockquote>note "), words3, lit("</blockquote>"),
      lit("<p><img src=\"/img/"), id, lit(".png\" alt=\"pic "),
      pmod(col("doc_id"), lit(9)), lit("\"></p>"),
      lit("</body></html>"))
    docs.select(col("doc_id"),
      graft.expr.HtmlExpressions.html_markdown(html).as("markdown"))
  }

  private[registry] lazy val multimodalFeaturesSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 13 ELSE 44 END + doc_id % 100 AS BIGINT) AS n_bytes,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 64 + doc_id % 512 WHEN 1 THEN 32 + doc_id % 256 ELSE 8000 + (doc_id % 8) * 1000 END AS BIGINT) AS width,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 64 + (doc_id * 31) % 512 WHEN 1 THEN 32 + (doc_id * 7) % 256 ELSE 16 END AS BIGINT) AS height,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 3 ELSE 1 + doc_id % 2 END AS BIGINT) AS channels,
      |  CAST(LEAST(8, (CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 13 ELSE 44 END + doc_id % 100) // 100 + 1) AS BIGINT) AS n_frames
      |FROM documents ORDER BY media_id""".stripMargin

  /** PNG pixel-decode oracle — the plane checksums recomputed from the
    * pixel formulas alone; shared verbatim by the direct decode
    * (q_image_decode) and the decode-out-of-the-WARC chain
    * (q_warc_image_decode), because binary payloads round-trip the
    * archive byte-exact. */
  private[registry] lazy val imageDecodeOracleSql: String =
    """WITH m AS (
      |  SELECT doc_id, 16 + doc_id % 17 AS w, 16 + (doc_id * 3) % 13 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h, i,
      |    CASE doc_id % 4
      |      WHEN 0 THEN (doc_id * 7 + i * 13) % 251
      |      WHEN 3 THEN (77 * ((doc_id + 3 * i) % 256)
      |        + 150 * (((doc_id + 3 * i) % 256) * 7 % 256)
      |        + 29 * (((doc_id + 3 * i) % 256) * 13 % 256)) // 256
      |      ELSE (77 * ((doc_id + 2 * i) % 256)
      |        + 150 * ((doc_id * 3 + 5 * i) % 256)
      |        + 29 * ((doc_id * 5 + 7 * i) % 256)) // 256
      |    END AS lum
      |  FROM m, LATERAL (SELECT unnest(range(0, w * h)) AS i) r)
      |SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
      |  CAST(COUNT(*) AS BIGINT) AS n_pixels,
      |  CAST(SUM(lum) AS BIGINT) AS lum_sum,
      |  CAST(SUM(lum * (i % 97 + 1)) AS BIGINT) AS lum_wsum
      |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin

  private[registry] lazy val phashCteSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CASE doc_id % 3 WHEN 0 THEN 64 + doc_id % 512 WHEN 1 THEN 32 + doc_id % 256 ELSE 8000 + (doc_id % 8) * 1000 END AS w,
      |    CASE doc_id % 3 WHEN 0 THEN 64 + (doc_id * 31) % 512 WHEN 1 THEN 32 + (doc_id * 7) % 256 ELSE 16 END AS h,
      |    doc_id % 100 AS blen
      |  FROM documents),
      |ph AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN blen = 0 THEN 0
      |    ELSE CAST(list_sum(flatten(list_transform(range(0, 7), gy ->
      |      list_transform(range(0, 9), gx ->
      |        CASE WHEN
      |          (doc_id * 7 + ((((gy * h) // 7) * w + ((gx + 1) * w) // 10) % blen) * 13) % 251
      |          > (doc_id * 7 + ((((gy * h) // 7) * w + (gx * w) // 10) % blen) * 13) % 251
      |        THEN (CAST(1 AS BIGINT) << (gy * 9 + gx)) ELSE 0 END)))) AS BIGINT)
      |    END AS phash
      |  FROM m)""".stripMargin

  /** The video near-dup corpus: every base video (80×56 frames — the
    * fully-informative dHash geometry) plus, for doc_id % 5 == 0, a
    * RE-ENCODED twin (DC quant 4: different bytes, identical pixels) at
    * media_id + 10⁷. Shared by the batch pair query, the CC survivor
    * query, and the streaming twin. */
  private[registry] def videoNearDupMedia(s: SparkSession,
                                          docs: DataFrame): DataFrame = {
    implicit val sp: SparkSession = s
    import sp.implicits._
    spread(docs.select(col("doc_id"))).as[Long]
      .flatMap { id =>
        val base = (id, Multimodal.syntheticMjpegMp4RichPayload(id))
        if (id % 5 == 0)
          Seq(base,
            (id + 10000000L, Multimodal.syntheticMjpegMp4RichPayload(id, quant = 4)))
        else Seq(base)
      }
      .toDF("doc_id", "payload")
  }

  /** Per-frame signatures of [[videoNearDupMedia]] — a PURE per-row
    * projection (payload synthesis + full pixel decode + dHash), which
    * is what lets the streaming twin run it per micro-batch under the
    * row-map contract. */
  private[registry] def videoFrameSigs(s: SparkSession,
                                       docs: DataFrame): DataFrame = {
    implicit val sp: SparkSession = s
    Multimodal.videoFrameDecode(videoNearDupMedia(s, docs),
        "doc_id", "payload")
      .select(col("media_id"), col("frame_idx"), col("dhash"), col("vhash"))
  }

  /** The audio near-dup corpus — every base clip PLUS, for
    * doc_id % 5 == 0, a ×2-GAIN twin at +10⁷ (different bytes, identical
    * energy ORDER — the loudness change a fingerprint must see through),
    * for doc_id % 7 == 0, a PERTURBED twin at +2·10⁷ (one frame nudged
    * per segment — signatures land in the hamming-1..6 band, the
    * matcher's near-but-not-exact regime), and for doc_id % 11 == 0, a
    * REMIXED twin at +3·10⁷ (odd segments replaced with fresh content —
    * the sampled/remixed-clip shape, a ≈500k partial-overlap score). */
  private[registry] def audioNearDupMedia(s: SparkSession,
                                          docs: DataFrame): DataFrame = {
    implicit val sp: SparkSession = s
    import sp.implicits._
    spread(docs.select(col("doc_id"))).as[Long]
      .flatMap { id =>
        val out = scala.collection.mutable.ArrayBuffer(
          (id, Multimodal.syntheticAudioNearDupPayload(id, gain = 1,
            perturbed = false)))
        if (id % 5 == 0)
          out += ((id + 10000000L,
            Multimodal.syntheticAudioNearDupPayload(id, gain = 2,
              perturbed = false)))
        if (id % 7 == 0)
          out += ((id + 20000000L,
            Multimodal.syntheticAudioNearDupPayload(id, gain = 1,
              perturbed = true)))
        if (id % 11 == 0)
          out += ((id + 30000000L,
            Multimodal.syntheticAudioNearDupPayload(id, gain = 1,
              perturbed = false, remixed = true)))
        out
      }
      .toDF("doc_id", "payload")
  }

  /** The media-id SETS of [[videoNearDupMedia]] / [[audioNearDupMedia]]
    * as pure COLUMN arithmetic — no payload synthesis. The CC rungs need
    * only the vertex ids, but `media.select("doc_id")` cannot prune the
    * payload out of the typed flatMap (the closure is opaque to
    * Catalyst, guide §2.3), so each vertex list was silently re-paying
    * the full MP4/WAV byte synthesis. Twins of the flatMaps' id logic —
    * a drifting branch here breaks the CC oracles loudly (vertex set ≠
    * pair universe). */
  private def videoNearDupIds(s: SparkSession, docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"))
    base.unionAll(base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id")))
  }

  private def audioNearDupIds(s: SparkSession, docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"))
    base
      .unionAll(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id")))
      .unionAll(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id")))
      .unionAll(base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 30000000L).as("doc_id")))
  }

  /** Per-segment fingerprints of [[audioNearDupMedia]] — like
    * [[videoFrameSigs]] a PURE per-row projection (payload synthesis +
    * WAV parse + energy-delta fingerprint), so the streaming twin can
    * run it per micro-batch under the row-map contract. */
  private[registry] def audioSegSigs(s: SparkSession,
                                     docs: DataFrame): DataFrame = {
    implicit val sp: SparkSession = s
    Multimodal.audioFingerprints(audioNearDupMedia(s, docs),
      "doc_id", "payload")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // HTML LINK extraction + RFC 3986 resolution — the crawl loop's
    // real discovery primitive (until now the loop's links came from
    // fixture frames, not from parsing anchors): nine href shapes per
    // document — absolute, relative, ../parent, root-relative,
    // protocol-relative, query-only, fragment-only, mailto:, and a
    // rel=nofollow — extract with anchor text (inline <b> stripped,
    // &amp; decoded) and resolve+canonicalize against the page URL.
    // Every (href, resolved, anchor, nofollow) tuple is pinned literally
    // by the oracle.
    "q_html_links" -> ((s, dir) =>
      htmlLinksRows(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("idx"))),


    // IMAGE-TEXT PAIR extraction (the LAION shape) — the multimodal
    // front door: three <img> shapes per page (figure + figcaption,
    // inline + surrounding-block caption, bare protocol-relative), srcs
    // resolved through the page's <base> when one is present (every
    // third document) and canonicalized into joinable keys. Every
    // (src, resolved, alt, title, caption) tuple is pinned literally by
    // the oracle.
    "q_image_text_pairs" -> ((s, dir) =>
      htmlImageRows(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("idx"))),


    // PAIR QUALITY GATE (the LAION caption filter): the extracted
    // image-text pairs classified by text-side signal — the one-word
    // figure alt fails the alt gate but its figcaption saves the pair,
    // the inline pair passes both, and the bare CDN image (no alt, no
    // caption) drops. Reason booleans emitted next to the verdict.
    "q_image_pair_quality" -> ((s, dir) =>
      Multimodal.pairQuality(htmlImageRows(t(s, dir, "documents")),
          "alt", "caption")
        .select(col("doc_id"), col("idx"), col("alt_ok"),
          col("caption_ok"), col("keep"))
        .orderBy(col("doc_id"), col("idx"))),


    // PNG METADATA STRIP — the privacy pass a multimodal corpus runs
    // before shipping: planted tEXt author/GPS strings and a tIME
    // timestamp are removed in one chunk walk (kept chunks copied
    // verbatim, CRCs untouched), and the strip must be pixel-LOSSLESS —
    // both decode checksums emitted and pinned equal by the oracle,
    // alongside the exact removed-chunk byte arithmetic.
    "q_image_strip_meta" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      spread(t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map { id =>
          val base = Multimodal.syntheticPngPixelPayload(id)
          val ascii = java.nio.charset.StandardCharsets.US_ASCII
          val author = ("Author\u0000user-" + (id % 50)).getBytes(ascii)
          val gps = ("GPS Position\u0000" + (id % 180 - 90) + ".0," +
            (id % 360 - 180) + ".0").getBytes(ascii)
          val time = Array.tabulate[Byte](7)(k => ((id + k) % 100).toByte)
          val tagged = Multimodal.withPngMetadata(base,
            Seq(("tEXt", author), ("tEXt", gps), ("tIME", time)))
          val (stripped, nRemoved, saved) =
            Multimodal.stripPngMetadata(tagged)
          def dec(b: Array[Byte]) = Multimodal.decodePngPixels(b)
            .getOrElse((0, 0, Array.emptyByteArray))
          val (w0, h0, p0) = dec(tagged)
          val (w1, h1, p1) = dec(stripped)
          def lum(p: Array[Byte]): Long = {
            var t = 0L; var i = 0
            while (i < p.length) { t += p(i) & 0xff; i += 1 }
            t
          }
          (id, w1.toLong, h1.toLong, lum(p0), lum(p1), nRemoved.toLong,
            saved, w0 == w1 && h0 == h1 && java.util.Arrays.equals(p0, p1))
        }
        .toDF("media_id", "width", "height", "lum_before", "lum_after",
          "n_removed", "bytes_saved", "lossless")
        .orderBy(col("media_id"))
    }),


    // HTML → MARKDOWN — the structured-extraction product surface (a
    // modern corpus keeps markdown, not stripped prose: headings,
    // lists, links, and code fences are signal): heading prefix, bold
    // and link inline marks, bullets, a blockquote, and an image line,
    // every rendered character pinned by the oracle's string rebuild.
    "q_html_markdown" -> ((s, dir) =>
      htmlMarkdownRows(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),


    // OPENGRAPH metadata (ogp.me) — the enrichment row a corpus keeps
    // next to the extracted text: og:title from the first three words,
    // og:type/og:url constants, og:image on evens; a non-property
    // description meta and a body-side og tag must both be ignored.
    "q_html_og" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val words3 = array_join(slice(filter(split(col("text"), " "),
        w => length(w) > 0), 1, 3), " ")
      val host = concat(lit("https://www."), col("source"),
        lit(".example.com"))
      val html = concat(
        lit("<html><head>"),
        lit("<meta property=\"og:title\" content=\""), words3, lit("\">"),
        lit("<meta property=\"og:type\" content=\"article\">"),
        lit("<meta property=\"og:url\" content=\""), host, lit("/docs/"),
        col("doc_id").cast("string"), lit("\">"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("<meta property=\"og:image\" content=\""), host,
            lit("/img/"), pmod(col("doc_id"), lit(9)), lit(".png\">")))
          .otherwise(lit("")),
        lit("<meta name=\"description\" content=\"not og\">" +
          "</head><body>" +
          "<meta property=\"og:late\" content=\"ignored\"></body></html>"))
      docs.select(col("doc_id"),
          posexplode(graft.expr.HtmlExpressions.html_og(html))
            .as(Seq("idx", "m")))
        .select(col("doc_id"), col("idx").cast("long").as("idx"),
          col("m.key").as("key"), col("m.value").as("value"))
        .orderBy(col("doc_id"), col("idx"))
    }),


    // HREFLANG alternates — the multilingual-variant clustering signal
    // (the mC4/CCAligned grouping key): each page advertises en/de
    // variants, fr on evens, and an x-default naming the cluster
    // representative; extraction order and every (hreflang, href) pair
    // are pinned literally.
    "q_html_alternates" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
          posexplode(graft.expr.HtmlExpressions.html_alternates(
            altFixtureHtml)).as(Seq("idx", "a")))
        .select(col("doc_id"), col("idx").cast("long").as("idx"),
          col("a.hreflang").as("hreflang"), col("a.href").as("href"))
        .orderBy(col("doc_id"), col("idx"))
    }),


    // PAGE-LEVEL curation directives: <base href> (first wins),
    // <link rel="canonical"> (the author's dedup key), and the robots
    // <meta> (noindex/nofollow/none tokens) — the head-side signals a
    // corpus gate honors before any text is kept. Body-side directives
    // are non-conforming and must be ignored (the scan stops at <body>).
    "q_html_head" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
          graft.expr.HtmlExpressions.html_head(headFixtureHtml).as("h"))
        .select(col("doc_id"), col("h.base").as("base"),
          col("h.canonical").as("canonical"),
          col("h.noindex").as("noindex"), col("h.nofollow").as("nofollow"))
        .orderBy(col("doc_id"))
    }),


    // HTML TABLE extraction — the structured-data path out of a page:
    // each document renders a header row (<th>, one cell deliberately
    // whitespace-padded), one data row per first-6 word (index / the
    // word wrapped in an inline <b> that must strip / its length / an
    // entity-bearing constant that must decode), and a second one-row
    // totals table (depth-1 table indexing). The oracle rebuilds every
    // (t, r, c, header, cell) tuple from the words alone — any leaked
    // tag, undecoded entity, or mis-indexed cell breaks the hash.
    "q_html_tables" -> ((s, dir) =>
      htmlTableRows(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("t"), col("r"), col("c"))),


    // PDF text extraction (the crawl's second text modality): synthetic-
    // invertible PDFs — real object/xref structure, Tj/TJ/Td/T* text
    // operators, parens escaped, odd ids FlateDecode-compressed — parsed
    // back by the codegen'd pdf_text expression; the 8-words-per-line
    // layout must reconstruct exactly, kerned TJ splits invisible.
    "q_pdf_extract" -> ((s, dir) => {
      val pdf = udf { (id: Long, text: String) =>
        graft.expr.PdfOps.syntheticPdf(id, text, flate = id % 2 == 1)
      }
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), pdf(col("doc_id"), col("text")).as("body"))
        .select(col("doc_id"),
          graft.expr.PdfExpressions.pdf_text(col("body")).as("extracted"))
        .orderBy(col("doc_id"))
    }),


    // PDF SIMPLE-FONT DECODING (PDF 32000-1 §9.6.6/Annex D): the same
    // 8-word layout, but line i is shown through font i%3 — WinAnsi
    // bytes, a MacRoman base with /Differences overrides, and a
    // Type0/Identity-H font whose two-byte codes resolve through a
    // /ToUnicode CMap (bfchar + bfrange) — each line carrying a
    // non-ASCII suffix only that font's tables can decode. The fixture
    // generator encodes through the INVERSE of the decoder's own
    // tables (invertible-fixture playbook), and the oracle interpolates
    // the same suffix constants, so every mojibake or mis-mapped byte
    // breaks the hash. q_pdf_extract / q_warc_pdf stay byte-identical:
    // fonts without encoding info keep the bytes-as-UTF-8 path.
    "q_pdf_unicode" -> ((s, dir) => {
      val pdf = udf { (id: Long, text: String) =>
        graft.expr.PdfOps.syntheticUnicodePdf(id, text, flate = id % 2 == 1)
      }
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), pdf(col("doc_id"), col("text")).as("body"))
        .select(col("doc_id"),
          graft.expr.PdfExpressions.pdf_text(col("body")).as("extracted"))
        .orderBy(col("doc_id"))
    }),


    // Audio sample statistics: REAL PCM math (energy, peak, zero
    // crossings) over the synthetic WAV data chunks — sample-domain
    // numbers, not header fields; all integer arithmetic, oracle
    // recomputes every figure from doc_id by construction.
    "q_audio_stats" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val clips = spread(t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map(id => (id, Multimodal.syntheticWavPayload(id)))
        .toDF("doc_id", "payload")
      Multimodal.audioStats(clips, "doc_id", "payload")
        .orderBy(col("media_id"))
    }),


    // Frame-level audio features: 16-sample windows over the decoded
    // 16-bit stream — the VAD/silence-trimming shape; every figure
    // integer-exact and replayed by the oracle from the sample formulas.
    "q_audio_frames" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val clips = spread(t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map(id => (id, Multimodal.syntheticWavPayload(id)))
        .toDF("doc_id", "payload")
      Multimodal.audioFrames(clips, "doc_id", "payload", frameSize = 16)
        .orderBy(col("media_id"), col("frame_idx"))
    }),


    // Video metadata: synthetic-but-structurally-valid MP4s (every box
    // length real) parsed by a genuine ISO BMFF box walk — ftyp check,
    // any box order, moov children, mvhd v0/v1, trak count; the oracle
    // recomputes (timescale, duration_ms, n_tracks, n_bytes) from doc_id
    // by construction, so a parser that misreads any length field
    // hash-mismatches.
    "q_video_meta" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val vids = spread(t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map(id => (id, Multimodal.syntheticMp4Payload(id)))
        .toDF("doc_id", "payload")
      Multimodal.videoMeta(vids, "doc_id", "payload")
        .orderBy(col("media_id"))
    }),


    // Synthetic PNG/GIF/WAV containers (real magic bytes + header fields,
    // deterministic in doc_id) are decoded by genuine header parsing; the
    // oracle recomputes the expected features from doc_id by construction.
    "q_multimodal_features" -> ((s, dir) => {
      syntheticMediaFeatures(spread(t(s, dir, "documents")))
        .orderBy(col("media_id"))
    }),


    // Image near-dup, step 1: 63-bit perceptual dHash per media item. The
    // Spark side PARSES the container bytes (real header walk for w/h and
    // the body offset) and hashes the stub-decoded luminance grid; the
    // oracle recomputes the expected hash purely from the id-synthesis
    // formulas — a broken parse, offset, grid, or bit-pack breaks the
    // match, same gating style as q_multimodal_features.
    "q_image_phash" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.withPhash(
        Multimodal.syntheticMediaRecords(spread(t(s, dir, "documents")), "doc_id"))
        .orderBy(col("media_id"))
    }),


    // Step 2: hamming-banded near-dup pairs over those hashes at the
    // pigeonhole-EXACT threshold: 7 bands × 9 bits means any pair at
    // hamming ≤ 6 must share an untouched band, so banding here is
    // complete, not approximate — which lets the oracle be plain
    // all-pairs hamming ≤ 6 with NO band terms, gating the banded
    // candidate generation's recall (a missed pair breaks the row
    // match), not just the hamming filter. Header-only payloads
    // (id % 100 == 0) hash to 0 and surface as the hamming-0
    // "identical blank image" clique.
    "q_image_phash_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.phashNearDupPairs(
        Multimodal.withPhash(
          Multimodal.syntheticMediaRecords(spread(t(s, dir, "documents")), "doc_id")),
        "media_id", "phash", maxHamming = 6)
        .orderBy(col("idA"), col("idB"))
    }),


    // CROSS-MODAL pair alignment (the CLIP-score curation shape, on the
    // graft gating discipline): image side = REAL PNG pixel decode →
    // 4x4 region mean-luminance feature vector; text side = the
    // caption's hashed embedding; score = 6dp cosine between them — the
    // alignment number a LAION-style pair filter thresholds. The oracle
    // replays the pixel formulas, the region means, the hashing trick,
    // and the cosine value-for-value, so the whole
    // decode→featurize→embed→score chain is hash-gated.
    "q_pair_alignment" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val feats = spread(t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map { id =>
          val (w, h, plane) = Multimodal
            .decodePngPixels(Multimodal.syntheticPngPixelPayload(id))
            .getOrElse((0, 0, Array.emptyByteArray))
          val sums = new Array[Long](16); val cnts = new Array[Long](16)
          var i = 0
          while (i < plane.length) {
            val y = i / w; val x = i % w
            val r = (y * 4 / h) * 4 + (x * 4 / w)
            sums(r) += plane(i) & 0xff; cnts(r) += 1; i += 1
          }
          (id, Array.tabulate(16)(r =>
            if (cnts(r) == 0) 0.0 else (sums(r) / cnts(r)).toDouble))
        }
        .toDF("doc_id", "img_vec")
      val cap = array_join(slice(Dedup.cleanTokens(col("text")), 1, 6), " ")
      val txt = t(s, dir, "documents")
        .select(col("doc_id"),
          Similarity.hashedEmbedding(cap, 16).as("txt_vec"))
      feats.join(txt, "doc_id")
        // the native dot/norm expressions read array<float> — both
        // vectors hold small integers, exact in float, so the cast is
        // lossless and the double accumulation stays oracle-replayable
        .withColumn("__iv", col("img_vec").cast("array<float>"))
        .withColumn("__tv", col("txt_vec").cast("array<float>"))
        .withColumn("__tn", Similarity.l2norm(col("__tv")))
        .withColumn("score",
          when(col("__tn") === 0.0, lit(null).cast("double"))
            .otherwise(round(Similarity.cosine(col("__iv"), col("__tv")), 6)))
        .select(col("doc_id"), col("score"), (col("score") >= 0.0).as("aligned"))
        .orderBy(col("doc_id"))
    }),


    // REAL pixel decode, gated end-to-end: each doc becomes a fully valid
    // PNG (correct CRCs, zlib IDAT, row filters cycling None/Sub/Up/
    // Average/Paeth), the Spark side chunk-walks + inflates + de-filters
    // it back to a luminance plane, and the oracle recomputes the plane
    // checksums from the pixel FORMULAS alone — so any bug in the
    // encoder, the Inflater plumbing, a filter branch, or the palette/
    // luma reduction diverges. lum_wsum weights by position (i%97+1) so
    // a pixel permutation can't cancel.
    "q_image_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      spread(t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map { id =>
          val (w, h, plane) = Multimodal
            .decodePngPixels(Multimodal.syntheticPngPixelPayload(id))
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


    // The GIF edition of q_image_decode: each doc becomes a fully valid
    // GIF89a whose pixel stream is GENUINELY LZW-compressed (compound
    // codes, width growth, KwKwK all arise on the cyclic index walk);
    // the Spark side block-walks + LZW-decodes + palette-reduces back to
    // luminance, and the oracle recomputes the plane checksums from the
    // index/palette formulas alone — an entropy-coder bug on either side
    // diverges.
    "q_image_decode_gif" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      spread(t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map { id =>
          val (w, h, plane) = Multimodal
            .decodeGifPixels(Multimodal.syntheticGifPixelPayload(id))
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


    // The JPEG edition: each doc becomes a fully valid baseline JFIF
    // grayscale JPEG (unit quant table, custom canonical Huffman tables,
    // genuine DC-delta entropy coding with sign-magnitude bits and byte
    // stuffing); tile-constant content makes the lossy format LOSSLESS
    // here, so the fully general Huffman+IDCT decode is gated bit-exactly
    // by the formula-replay oracle.
    "q_image_decode_jpeg" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      spread(t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map { id =>
          val (w, h, plane) = Multimodal
            .decodeJpegPixels(Multimodal.syntheticJpegPayload(id))
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


    // REAL pixel resize: decode the PNG corpus, nearest-neighbor
    // resample each luminance plane to an id-dependent target box, and
    // checksum the RESIZED plane — the oracle replays the integer
    // src=(dst·srcDim)//dstDim mapping over the pixel formulas, so the
    // decode AND the resample must both be exact.
    "q_image_resize" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      spread(t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map { id =>
          val (w, h, plane) = Multimodal
            .decodePngPixels(Multimodal.syntheticPngPixelPayload(id))
            .getOrElse((0, 0, Array.emptyByteArray))
          val dw = (8 + id % 9).toInt; val dh = (8 + (id * 3) % 7).toInt
          val r = Multimodal.resizeLuma(plane, w, h, dw, dh)
          var lsum = 0L; var wsum = 0L; var i = 0
          while (i < r.length) {
            val l = r(i) & 0xff
            lsum += l; wsum += l.toLong * (i % 97 + 1); i += 1
          }
          (id, dw.toLong, dh.toLong, lsum, wsum)
        }
        .toDF("media_id", "out_w", "out_h", "lum_sum", "lum_wsum")
        .orderBy(col("media_id"))
    }),


    // REAL frame extraction: walk each MP4's moov→trak→mdia→minf→stbl,
    // parse stsz/stco/stsc, and resolve every sample to its absolute
    // (offset, size) — the lookup a video pipeline performs before
    // decoding frames. The oracle replays offsets as prefix sums over
    // the by-construction sizes, so a mis-parse of ANY table or box
    // length diverges. Replaces the old stride stub with the genuine
    // machinery.
    "q_video_frames" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      spread(t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .flatMap { id =>
          Multimodal.decodeMp4Samples(Multimodal.syntheticMp4SamplesPayload(id))
            .getOrElse(Seq.empty).zipWithIndex
            .map { case ((off, sz), k) => (id, k.toLong, off, sz.toLong) }
        }
        .toDF("media_id", "sample_idx", "byte_offset", "size_bytes")
        .orderBy(col("media_id"), col("sample_idx"))
    }),


    // REAL video frame PIXEL decode (MJPEG-in-MP4): each document becomes
    // an MP4 whose mdat holds 1+id%4 complete baseline JPEGs behind a
    // genuine sample table; the query walks the stbl, slices each frame,
    // runs the full Huffman+IDCT JPEG decode, and emits per-frame exact
    // luminance checksums (raster-position-weighted) plus the dHash over
    // the DECODED plane. The oracle replays the tile-constant pixel
    // formulas per frame seed (id·8+k) — container walk, per-frame SOF
    // parse, entropy decode, and hash grid must ALL be bit-exact.
    "q_video_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val media = spread(t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map(id => (id, Multimodal.syntheticMjpegMp4Payload(id)))
        .toDF("doc_id", "payload")
      Multimodal.videoFrameDecode(media, "doc_id", "payload")
        .orderBy(col("media_id"), col("frame_idx"))
    }),


    // VIDEO near-dup — the last modality of the dedup ladder: the corpus
    // is every base video (80x56 frames — the fully-informative dHash
    // geometry) PLUS, for doc_id % 5 == 0, a RE-ENCODED twin (same
    // frames, DC quant 4 — different bytes, identical pixels) at
    // media_id + 10^7. Full pixel decode → per-frame dHash → banded
    // frame pairs at the pigeonhole-exact threshold → per-video-pair
    // matched-signature score. The oracle replays the dHashes from the
    // tile formulas and pairs ALL-PAIRS with no band terms, so it gates
    // the banding's recall (a missed frame pair breaks the row match) —
    // the twins MUST surface at score 10^6, and the frame-seed
    // periodicity (lum pattern repeats at seed+251) yields genuine
    // full- and partial-overlap near-dups between distinct ids too.
    "q_video_neardup" -> ((s, dir) => {
      val frames = videoFrameSigs(s, t(s, dir, "documents"))
      Multimodal.signatureNearDupPairs2(frames, "media_id", "dhash", "vhash",
          maxHamming = 6)
        .orderBy(col("idA"), col("idB"))
    }),


    // Video near-dup CLUSTERING + survivor pick — the last rung of the
    // video dedup ladder (the q_dedup_cc pattern on the new modality):
    // pairs at score >= 0.5 become edges, connected components give
    // duplicate clusters, the min-media-id member survives (singletons
    // survive alone). The 0.5 floor keeps full re-encodes and the
    // deliberate seed-periodic near-full overlaps while dropping
    // single-shared-frame grazes. The oracle replays the whole chain —
    // frame hashes from the tile formulas, ALL-PAIRS scoring, the
    // recursive reachability closure, min-label survivors.
    "q_video_cc" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
      val frames = videoFrameSigs(s, docs)
      val pairs = Multimodal
        .signatureNearDupPairs2(frames, "media_id", "dhash", "vhash",
          maxHamming = 6)
        .filter(col("score_ppm") >= 500000L)
        .select(col("idA"), col("idB"))
      operators.Dedup.connectedComponents(
          videoNearDupIds(s, docs).select(col("doc_id").as("vid")),
          pairs, "vid")
        .select(col("id").as("media_id"),
          col("component").cast("long").as("component"),
          (col("component") === col("id")).as("survivor"))
        .orderBy(col("media_id"))
    }),


    // AUDIO fingerprints — the modality's near-dup KEY, gated on its
    // own: real WAV parse → signed LE16 samples → 8-sample frame
    // energies → per-64-frame segment a 63-bit energy-delta-sign
    // signature. The corpus includes ×2-gain twins whose BYTES all
    // differ from their base clip but whose fingerprints must come out
    // IDENTICAL (energy order is scale-invariant) — the oracle replays
    // the sample walk at both gains, so a fingerprint that leaks
    // amplitude (not just order) breaks the hash match.
    "q_audio_fingerprint" -> ((s, dir) => {
      audioSegSigs(s, t(s, dir, "documents"))
        .orderBy(col("media_id"), col("seg_idx"))
    }),


    // AUDIO near-dup — the dedup ladder's last uncovered modality:
    // banded signature pairs at the pigeonhole-exact threshold over the
    // q_audio_fingerprint segments, scored by matched-signature
    // fraction. The oracle pairs ALL-PAIRS with no band terms, gating
    // the banding's recall. Gain twins MUST surface at score 10⁶;
    // perturbed twins surface through nonzero-hamming matches (the ±2
    // delta bits around the nudged frame); remixed twins surface at
    // ≈500k (odd segments replaced — genuine partial overlap).
    "q_audio_neardup" -> ((s, dir) => {
      Multimodal.signatureNearDupPairs2(
        audioSegSigs(s, t(s, dir, "documents")),
        "media_id", "fp", "fp2", maxHamming = 6)
        .orderBy(col("idA"), col("idB"))
    }),


    // Audio near-dup CLUSTERING + survivor pick — the ladder's last
    // rung on the modality (the q_video_cc pattern): pairs at score
    // >= 0.5 become edges — the gain/perturbed/remixed twin family of
    // each base clip, chained through their mutual overlaps — connected
    // components give duplicate clusters, the min-media-id member
    // (always the base clip) survives. The oracle replays the whole
    // chain: sample walk, fingerprints, ALL-PAIRS scoring, the
    // recursive reachability closure, min-label survivors.
    "q_audio_cc" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
      val pairs = Multimodal.signatureNearDupPairs2(
          audioSegSigs(s, docs),
          "media_id", "fp", "fp2", maxHamming = 6)
        .filter(col("score_ppm") >= 500000L)
        .select(col("idA"), col("idB"))
      operators.Dedup.connectedComponents(
          audioNearDupIds(s, docs).select(col("doc_id").as("aid")),
          pairs, "aid")
        .select(col("id").as("media_id"),
          col("component").cast("long").as("component"),
          (col("component") === col("id")).as("survivor"))
        .orderBy(col("media_id"))
    }),


    // dHash over REAL decoded pixels (the round-10 upgrade from the
    // stub-luminance phash): same grid/bit-pack as q_image_phash but the
    // luminance samples come from the genuine PNG decode; the oracle
    // replays the grid over the pixel formulas, so the full
    // encode→decode→hash chain must be pixel-exact to match.
    "q_image_phash_real" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val media = spread(t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map(id =>
          operators.MediaRecord(id, Multimodal.syntheticPngPixelPayload(id),
            "image/png"))
      Multimodal.withPhash(media).orderBy(col("media_id"))
    }),

  )

  /** Shared oracle CTE chain for the video near-dup family: corpus
    * (base + re-encoded twins) → per-frame dHash from the tile formulas
    * → ALL-PAIRS frame matching at hamming ≤ 6 (no band terms — gates
    * the engine banding's recall) → the per-video-pair
    * matched-signature rollup, ending at `scored(idA, idB, n_sig_a,
    * n_sig_b, n_matched_a, n_matched_b, score_ppm)`. `vids` stays in
    * scope for node-set consumers (the CC closure). */
  private[registry] val videoNearDupCtes: String =
    """WITH RECURSIVE vids AS (
      |  SELECT doc_id AS vid, doc_id AS src FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000 AS vid, doc_id AS src FROM documents
      |  WHERE doc_id % 5 = 0),
      |f AS (
      |  SELECT vid, src * 8 + k AS seed
      |  FROM vids, LATERAL (SELECT unnest(range(0, 1 + src % 4)) AS k) r),
      |g AS (
      |  SELECT vid, seed, gy, gx,
      |    ((seed % 251 + 1) * ((13 * (gy * 10 + gx) * (gy * 10 + gx)
      |      + 29 * (gy * 10 + gx) + 1) % 251)) % 251 AS ll,
      |    ((seed % 251 + 1) * ((13 * (gy * 10 + gx + 1) * (gy * 10 + gx + 1)
      |      + 29 * (gy * 10 + gx + 1) + 1) % 251)) % 251 AS lr,
      |    ((seed % 251 + 1) * ((13 * ((gy + 1) * 10 + gx) * ((gy + 1) * 10 + gx)
      |      + 29 * ((gy + 1) * 10 + gx) + 1) % 251)) % 251 AS lb
      |  FROM f, LATERAL (SELECT unnest(range(0, 7)) AS gy) a,
      |          LATERAL (SELECT unnest(range(0, 10)) AS gx) b),
      |dh AS (
      |  SELECT vid, seed,
      |    CAST(SUM(CASE WHEN gx < 9 AND lr > ll
      |      THEN (CAST(1 AS BIGINT) << (gy * 9 + gx)) ELSE 0 END)
      |      AS BIGINT) AS h,
      |    CAST(SUM(CASE WHEN gy < 6 AND lb > ll
      |      THEN (CAST(1 AS BIGINT) << (gy * 10 + gx)) ELSE 0 END)
      |      AS BIGINT) AS h2
      |  FROM g GROUP BY vid, seed),
      |sig AS (SELECT DISTINCT vid, h, h2 FROM dh),
      |sz AS (SELECT vid, CAST(COUNT(*) AS BIGINT) AS n_sig FROM sig GROUP BY vid),
      |fp AS (
      |  SELECT a.vid AS vidA, a.h AS hA, a.h2 AS h2A,
      |         b.vid AS vidB, b.h AS hB, b.h2 AS h2B
      |  FROM sig a JOIN sig b ON a.vid < b.vid
      |  WHERE bit_count(xor(a.h, b.h)) + bit_count(xor(a.h2, b.h2)) <= 6),
      |ro AS (
      |  SELECT vidA, vidB,
      |    CAST(COUNT(DISTINCT (hA, h2A)) AS BIGINT) AS n_matched_a,
      |    CAST(COUNT(DISTINCT (hB, h2B)) AS BIGINT) AS n_matched_b
      |  FROM fp GROUP BY vidA, vidB),
      |scored AS (
      |  SELECT ro.vidA AS idA, ro.vidB AS idB,
      |    sa.n_sig AS n_sig_a, sb.n_sig AS n_sig_b,
      |    ro.n_matched_a, ro.n_matched_b,
      |    CAST((1000000 * (ro.n_matched_a + ro.n_matched_b))
      |      // (sa.n_sig + sb.n_sig) AS BIGINT) AS score_ppm
      |  FROM ro JOIN sz sa ON sa.vid = ro.vidA
      |  JOIN sz sb ON sb.vid = ro.vidB)""".stripMargin

  /** Shared oracle CTE chain for the audio near-dup family: corpus
    * (base + gain twins + perturbed twins) → per-sample amplitude walk
    * at the declared gain/perturbation → 8-sample frame energies →
    * per-segment 63-bit delta-sign fingerprints → ALL-PAIRS signature
    * matching at hamming ≤ 6 (no band terms — gates the engine
    * banding's recall) → the per-clip-pair matched-signature rollup,
    * ending at `scored(idA, idB, n_sig_a, n_sig_b, n_matched_a,
    * n_matched_b, score_ppm)`. `fpt(aid, s, fp)` stays in scope for the
    * fingerprint surface. */
  private[registry] val audioNearDupCtes: String =
    """WITH RECURSIVE med AS (
      |  SELECT doc_id AS aid, doc_id AS src, 1 AS gain, 0 AS pert,
      |    0 AS rmx
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000 AS aid, doc_id AS src, 2 AS gain,
      |    0 AS pert, 0 AS rmx
      |  FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000000 AS aid, doc_id AS src, 1 AS gain,
      |    1 AS pert, 0 AS rmx
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 30000000 AS aid, doc_id AS src, 1 AS gain,
      |    0 AS pert, 1 AS rmx
      |  FROM documents WHERE doc_id % 11 = 0),
      |segs AS (
      |  SELECT aid, gain, pert, s,
      |    src * 8 + s
      |      + CASE WHEN rmx = 1 AND s % 2 = 1 THEN 5000003 ELSE 0 END AS seed
      |  FROM med, LATERAL (SELECT unnest(range(0, 3 + src % 4)) AS s) r),
      |amp AS (
      |  SELECT aid, seed, s, f,
      |    (xor(xor(vq, vq >> 13), vq >> 27) % 256 - 128
      |      + CASE WHEN pert = 1 AND f = seed % 64 THEN 3 ELSE 0 END)
      |      * gain AS a
      |  FROM (
      |    SELECT aid, seed, s, f, gain, pert, hq * hq AS vq
      |    FROM (
      |      SELECT aid, seed, s, f, gain, pert,
      |        ((seed % 65521) * 131 + (f * 8 + j) * 7 + 1) % 65521 AS hq
      |      FROM segs, LATERAL (SELECT unnest(range(0, 64)) AS f) x,
      |           LATERAL (SELECT unnest(range(0, 8)) AS j) y) h1) h2),
      |en AS (
      |  SELECT aid, seed, s, f, SUM(CAST(a * a AS BIGINT)) AS e
      |  FROM amp GROUP BY aid, seed, s, f),
      |d AS (
      |  SELECT aid, seed, s, f, e,
      |    LEAD(e) OVER (PARTITION BY aid, seed ORDER BY f) AS ne,
      |    LEAD(e, 2) OVER (PARTITION BY aid, seed ORDER BY f) AS ne2
      |  FROM en),
      |fpt AS (
      |  SELECT aid, s,
      |    CAST(SUM(CASE WHEN ne > e THEN (CAST(1 AS BIGINT) << f)
      |      ELSE 0 END) AS BIGINT) AS fp,
      |    CAST(SUM(CASE WHEN ne2 > e THEN (CAST(1 AS BIGINT) << f)
      |      ELSE 0 END) AS BIGINT) AS fp2
      |  FROM d WHERE ne IS NOT NULL GROUP BY aid, s),
      |sig AS (SELECT DISTINCT aid, fp AS h, fp2 AS h2 FROM fpt),
      |sz AS (SELECT aid, CAST(COUNT(*) AS BIGINT) AS n_sig
      |       FROM sig GROUP BY aid),
      |pr AS (
      |  SELECT a.aid AS aidA, a.h AS hA, a.h2 AS h2A,
      |         b.aid AS aidB, b.h AS hB, b.h2 AS h2B
      |  FROM sig a JOIN sig b ON a.aid < b.aid
      |  WHERE bit_count(xor(a.h, b.h)) + bit_count(xor(a.h2, b.h2)) <= 6),
      |ro AS (
      |  SELECT aidA, aidB,
      |    CAST(COUNT(DISTINCT (hA, h2A)) AS BIGINT) AS n_matched_a,
      |    CAST(COUNT(DISTINCT (hB, h2B)) AS BIGINT) AS n_matched_b
      |  FROM pr GROUP BY aidA, aidB),
      |scored AS (
      |  SELECT ro.aidA AS idA, ro.aidB AS idB,
      |    sa.n_sig AS n_sig_a, sb.n_sig AS n_sig_b,
      |    ro.n_matched_a, ro.n_matched_b,
      |    CAST((1000000 * (ro.n_matched_a + ro.n_matched_b))
      |      // (sa.n_sig + sb.n_sig) AS BIGINT) AS score_ppm
      |  FROM ro JOIN sz sa ON sa.aid = ro.aidA
      |  JOIN sz sb ON sb.aid = ro.aidB)""".stripMargin

  def oracles: Map[String, String] = Map(

    // The fingerprint surface: replays the amplitude walk at BOTH gains
    // from the corpus formulas — the engine side must recover identical
    // 63-bit signatures from the WAV bytes alone, so an amplitude-leaking
    // fingerprint (or a sample-reader bug) diverges on every gain twin.
    "q_audio_fingerprint" -> (audioNearDupCtes +
      """
        |SELECT aid AS media_id, CAST(s AS BIGINT) AS seg_idx, fp, fp2
        |FROM fpt ORDER BY media_id, seg_idx""".stripMargin),

    // ALL-PAIRS at hamming <= 6 with no band terms — the engine's
    // (band, bucket) candidate generation must reach every qualifying
    // pair (pigeonhole completeness) or rows go missing from the match.
    "q_audio_neardup" -> (audioNearDupCtes +
      """
        |SELECT idA, idB, n_sig_a, n_sig_b, n_matched_a, n_matched_b,
        |  score_ppm
        |FROM scored ORDER BY idA, idB""".stripMargin),

    // The CC closure over the >= 0.5 pair edges, replayed recursively —
    // node set = the whole corpus (singletons survive alone).
    "q_audio_cc" -> (audioNearDupCtes + """,
        |ap AS (SELECT idA, idB FROM scored WHERE score_ppm >= 500000),
        |edges AS (SELECT idA AS src, idB AS dst FROM ap
        |          UNION ALL SELECT idB AS src, idA AS dst FROM ap),
        |cc(id, label) AS (
        |  SELECT aid, aid FROM med
        |  UNION
        |  SELECT e.dst, cc.label FROM edges e JOIN cc ON cc.id = e.src)
        |SELECT id AS media_id, CAST(MIN(label) AS BIGINT) AS component,
        |  (MIN(label) = id) AS survivor
        |FROM cc GROUP BY id ORDER BY media_id""".stripMargin),

    // Expected features recomputed from doc_id by the synthesis formulas —
    // the Spark side must recover them by PARSING the container bytes, so a
    // broken parser (endianness, offset, magic) breaks the hash match.
    // Audio stats by construction: the data chunk is the deterministic
    // (doc_id·7 + j·13) % 251 byte walk, so energy / peak / zero
    // crossings replay as pure integer SQL — a sample-loop bug on either
    // side diverges.
    // The synthetic WAVs declare 16-bit PCM, so the reader consumes the
    // byte walk as signed little-endian 16-bit sample pairs (trailing odd
    // byte ignored): raw = v(2k) + 256·v(2k+1) with v(j) = (id·7+j·13)%251,
    // sign via the 32768 wrap — a reader that ignores bits_per_sample (the
    // round-10 byte-domain bug) diverges on every odd-length clip.
    "q_audio_stats" ->
      """WITH base AS (SELECT doc_id, doc_id % 100 AS n FROM documents),
        |s AS (
        |  SELECT doc_id, k,
        |    ((doc_id * 7 + (2 * k) * 13) % 251)
        |      + 256 * ((doc_id * 7 + (2 * k + 1) * 13) % 251) AS raw
        |  FROM base, LATERAL (SELECT unnest(range(0, n // 2)) AS k) r),
        |sa AS (
        |  SELECT doc_id, k,
        |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS a
        |  FROM s),
        |lagged AS (
        |  SELECT doc_id, a,
        |    LAG(a) OVER (PARTITION BY doc_id ORDER BY k) AS pa
        |  FROM sa),
        |zc AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN (a >= 0) <> (pa >= 0) THEN 1 ELSE 0 END) AS zcnt
        |  FROM lagged WHERE pa IS NOT NULL GROUP BY doc_id),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS ns, SUM(a * a) AS sq, MAX(ABS(a)) AS pk
        |  FROM sa GROUP BY doc_id)
        |SELECT b.doc_id AS media_id,
        |  CAST(8000 + (b.doc_id % 8) * 1000 AS BIGINT) AS sample_rate,
        |  CAST(16 AS BIGINT) AS bits_per_sample,
        |  CAST(1 + b.doc_id % 2 AS BIGINT) AS channels,
        |  CAST(COALESCE(agg.ns, 0) AS BIGINT) AS n_samples,
        |  CAST(COALESCE(agg.sq, 0) AS BIGINT) AS sumsq,
        |  CAST(COALESCE(agg.pk, 0) AS BIGINT) AS peak,
        |  CAST(COALESCE(zc.zcnt, 0) AS BIGINT) AS zero_crossings
        |FROM base b
        |LEFT JOIN agg ON agg.doc_id = b.doc_id
        |LEFT JOIN zc ON zc.doc_id = b.doc_id
        |ORDER BY media_id""".stripMargin,


    // Frame features by construction: the 16-bit sample walk bucketed
    // into 16-sample frames; zero crossings via LAG within (doc, frame).
    "q_audio_frames" ->
      """WITH base AS (SELECT doc_id, doc_id % 100 AS n FROM documents),
        |s AS (
        |  SELECT doc_id, k,
        |    ((doc_id * 7 + (2 * k) * 13) % 251)
        |      + 256 * ((doc_id * 7 + (2 * k + 1) * 13) % 251) AS raw
        |  FROM base, LATERAL (SELECT unnest(range(0, n // 2)) AS k) r),
        |sa AS (
        |  SELECT doc_id, k, k // 16 AS f, k % 16 AS j,
        |    CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS a
        |  FROM s),
        |lagged AS (
        |  SELECT doc_id, f, j, a,
        |    LAG(a) OVER (PARTITION BY doc_id, f ORDER BY j) AS pa
        |  FROM sa)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(a * a) AS BIGINT) AS sumsq,
        |  CAST(MAX(ABS(a)) AS BIGINT) AS peak,
        |  CAST(SUM(CASE WHEN pa IS NOT NULL AND (a >= 0) <> (pa >= 0)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |FROM lagged GROUP BY doc_id, f
        |ORDER BY media_id, frame_idx""".stripMargin,


    // Video metadata by construction: mirrors syntheticMp4Payload's
    // arithmetic — a box-walk bug on ANY length/offset field diverges.
    "q_video_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(140 + (1 + doc_id % 3) * 100 + doc_id % 50 AS BIGINT) AS n_bytes,
        |  CAST(1000 + (doc_id % 10) * 100 AS BIGINT) AS timescale,
        |  CAST(((2000 + (doc_id % 500) * 10) * 1000)
        |       // (1000 + (doc_id % 10) * 100) AS BIGINT) AS duration_ms,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS n_tracks
        |FROM documents ORDER BY media_id""".stripMargin,


    "q_multimodal_features" -> multimodalFeaturesSql,


    // The dHash recomputed from the id-synthesis formulas alone: w/h by
    // the same CASE ladder as q_multimodal_features, body length id%100,
    // body byte j = (id*7 + j*13) % 251 — so the Spark side's real
    // container parse + stub decode + grid + bit pack must all agree.
    "q_image_phash" ->
      (phashCteSql + "\nSELECT media_id, phash FROM ph ORDER BY media_id"),


    // All-pairs hamming <= 6 over the same recomputed hashes — no band
    // terms on purpose: at this threshold the 7x9 banding is complete by
    // pigeonhole, so the banded Spark plan must reproduce the FULL pair
    // set (gates recall, not just the filter).
    "q_image_phash_pairs" ->
      (phashCteSql + """
        |SELECT a.media_id AS idA, b.media_id AS idB,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 6
        |ORDER BY idA, idB""".stripMargin),


    // Plane checksums recomputed from the pixel FORMULAS alone (the
    // payload generator's scaladoc contract): w = 16+id%17, h =
    // 16+(id*3)%13, color branch t = id%4, luma = (77r+150g+29b)//256.
    // The Spark side must round-trip encoder → Inflater → de-filter →
    // luma to land on these exact integers.
    "q_image_decode" -> imageDecodeOracleSql,


    // GIF plane checksums from the formulas alone: w = 16+id%15,
    // h = 12+(id*5)%11, color index j = (id*5+3i)%64, palette entry
    // (3j%256, 7j%256, 11j%256) → luma601 — the Spark side must
    // round-trip LZW encoder → general LZW decoder → palette reduction
    // to land on these exact integers.
    "q_image_decode_gif" ->
      """WITH m AS (
        |  SELECT doc_id, 16 + doc_id % 15 AS w, 12 + (doc_id * 5) % 11 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, i,
        |    (77 * ((3 * ((doc_id * 5 + 3 * i) % 64)) % 256)
        |     + 150 * ((7 * ((doc_id * 5 + 3 * i) % 64)) % 256)
        |     + 29 * ((11 * ((doc_id * 5 + 3 * i) % 64)) % 256)) // 256 AS lum
        |  FROM m, LATERAL (SELECT unnest(range(0, w * h)) AS i) r)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
        |  CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |  CAST(SUM(lum) AS BIGINT) AS lum_sum,
        |  CAST(SUM(lum * (i % 97 + 1)) AS BIGINT) AS lum_wsum
        |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin,


    // JPEG plane checksums from the tile formulas alone: w = 8*(2+id%3),
    // h = 8*(2+(id*3)%3), tile t = (i // (w*8)) * (w//8) + (i % w) // 8,
    // lum = (id*7 + t*13) % 251 — the Spark side must run the whole
    // Huffman + dequant + IDCT chain losslessly to land on these.
    "q_image_decode_jpeg" ->
      """WITH m AS (
        |  SELECT doc_id, 8 * (2 + doc_id % 3) AS w,
        |         8 * (2 + (doc_id * 3) % 3) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, i,
        |    (doc_id * 7 + ((i // (w * 8)) * (w // 8) + (i % w) // 8) * 13) % 251 AS lum
        |  FROM m, LATERAL (SELECT unnest(range(0, w * h)) AS i) r)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
        |  CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |  CAST(SUM(lum) AS BIGINT) AS lum_sum,
        |  CAST(SUM(lum * (i % 97 + 1)) AS BIGINT) AS lum_wsum
        |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin,


    // Nearest-neighbor resample replayed over the PNG pixel formulas:
    // dst (x,y) reads src ((x*w)//dw, (y*h)//dh); checksums over the
    // RESIZED plane in dst raster order.
    "q_image_resize" ->
      """WITH m AS (
        |  SELECT doc_id, 16 + doc_id % 17 AS w, 16 + (doc_id * 3) % 13 AS h,
        |         8 + doc_id % 9 AS dw, 8 + (doc_id * 3) % 7 AS dh
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, dw, dh, i2,
        |    ((i2 // dw) * h // dh) * w + ((i2 % dw) * w // dw) AS i
        |  FROM m, LATERAL (SELECT unnest(range(0, dw * dh)) AS i2) r),
        |lv AS (
        |  SELECT doc_id, dw, dh, i2,
        |    CASE doc_id % 4
        |      WHEN 0 THEN (doc_id * 7 + i * 13) % 251
        |      WHEN 3 THEN (77 * ((doc_id + 3 * i) % 256)
        |        + 150 * (((doc_id + 3 * i) % 256) * 7 % 256)
        |        + 29 * (((doc_id + 3 * i) % 256) * 13 % 256)) // 256
        |      ELSE (77 * ((doc_id + 2 * i) % 256)
        |        + 150 * ((doc_id * 3 + 5 * i) % 256)
        |        + 29 * ((doc_id * 5 + 7 * i) % 256)) // 256
        |    END AS lum
        |  FROM px)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(MAX(dw) AS BIGINT) AS out_w, CAST(MAX(dh) AS BIGINT) AS out_h,
        |  CAST(SUM(lum) AS BIGINT) AS lum_sum,
        |  CAST(SUM(lum * (i2 % 97 + 1)) AS BIGINT) AS lum_wsum
        |FROM lv GROUP BY doc_id ORDER BY media_id""".stripMargin,


    // Sample offsets replayed as prefix sums over the by-construction
    // sizes: n = 1+id%8 samples of size 1+(id*3+k*7)%64 in one chunk at
    // mdat-body offset 332+4n (every enclosing box length summed).
    "q_video_frames" ->
      """WITH m AS (SELECT doc_id, 1 + doc_id % 8 AS n FROM documents),
        |s AS (
        |  SELECT doc_id, n, k, 1 + (doc_id * 3 + k * 7) % 64 AS sz
        |  FROM m, LATERAL (SELECT unnest(range(0, n)) AS k) r),
        |o AS (
        |  SELECT doc_id, k, sz,
        |    332 + 4 * n + COALESCE(SUM(sz) OVER (PARTITION BY doc_id ORDER BY k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM s)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(k AS BIGINT) AS sample_idx,
        |  CAST(off AS BIGINT) AS byte_offset, CAST(sz AS BIGINT) AS size_bytes
        |FROM o ORDER BY media_id, sample_idx""".stripMargin,


    // MJPEG frame decode oracle: per frame k of video id, seed = id·8+k;
    // JPEG dims and tile-constant pixels replayed by formula (the same
    // lossless-by-construction contract as q_image_decode_jpeg), plus the
    // dHash grid over the formula pixels — sample-table walk, frame
    // slicing, per-frame SOF parse, Huffman+IDCT, and the hash must all
    // agree bit-exactly.
    "q_video_decode" ->
      """WITH f AS (
        |  SELECT doc_id, k, doc_id * 8 + k AS seed,
        |    8 * (2 + (doc_id * 8 + k) % 3) AS w,
        |    8 * (2 + ((doc_id * 8 + k) * 3) % 3) AS h
        |  FROM documents, LATERAL (SELECT unnest(range(0, 1 + doc_id % 4)) AS k) r),
        |px AS (
        |  SELECT doc_id, k, w, h, i,
        |    (seed * 7 + ((i // (w * 8)) * (w // 8) + (i % w) // 8) * 13) % 251 AS lum
        |  FROM f, LATERAL (SELECT unnest(range(0, w * h)) AS i) r),
        |sums AS (
        |  SELECT doc_id, k, MAX(w) AS w, MAX(h) AS h,
        |    CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |    CAST(SUM(lum) AS BIGINT) AS lum_sum,
        |    CAST(SUM(lum * (i % 97 + 1)) AS BIGINT) AS lum_wsum
        |  FROM px GROUP BY doc_id, k),
        |g AS (
        |  SELECT doc_id, k, gy, gx,
        |    (seed * 7 + ((((gy * h) // 7) // 8) * (w // 8)
        |      + (((gx * w) // 10) // 8)) * 13) % 251 AS ll,
        |    (seed * 7 + ((((gy * h) // 7) // 8) * (w // 8)
        |      + ((((gx + 1) * w) // 10) // 8)) * 13) % 251 AS lr,
        |    (seed * 7 + (((((gy + 1) * h) // 7) // 8) * (w // 8)
        |      + (((gx * w) // 10) // 8)) * 13) % 251 AS lb
        |  FROM f, LATERAL (SELECT unnest(range(0, 7)) AS gy) a,
        |          LATERAL (SELECT unnest(range(0, 10)) AS gx) b),
        |dh AS (
        |  SELECT doc_id, k,
        |    CAST(SUM(CASE WHEN gx < 9 AND lr > ll
        |      THEN (CAST(1 AS BIGINT) << (gy * 9 + gx)) ELSE 0 END)
        |      AS BIGINT) AS dhash,
        |    CAST(SUM(CASE WHEN gy < 6 AND lb > ll
        |      THEN (CAST(1 AS BIGINT) << (gy * 10 + gx)) ELSE 0 END)
        |      AS BIGINT) AS vhash
        |  FROM g GROUP BY doc_id, k)
        |SELECT CAST(s.doc_id AS BIGINT) AS media_id, CAST(s.k AS BIGINT) AS frame_idx,
        |  CAST(s.w AS BIGINT) AS width, CAST(s.h AS BIGINT) AS height,
        |  s.n_pixels, s.lum_sum, s.lum_wsum, d.dhash, d.vhash
        |FROM sums s JOIN dh d ON s.doc_id = d.doc_id AND s.k = d.k
        |ORDER BY media_id, frame_idx""".stripMargin,


    // Pair-alignment oracle: pixel luma from the PNG synthesis formulas
    // (grayscale raw; palette and truecolor via the 601 luma ladder the
    // q_image_decode / warc-pair oracles already pin), 4x4 region floor
    // means ordered into the image vector, the hashing-trick text
    // embedding over the first six cleaned tokens, and the 6dp cosine.
    "q_pair_alignment" ->
      """WITH m AS (
        |  SELECT doc_id, 16 + doc_id % 17 AS w, 16 + (doc_id * 3) % 13 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, i,
        |    CASE doc_id % 4
        |      WHEN 0 THEN (doc_id * 7 + i * 13) % 251
        |      WHEN 3 THEN (77 * ((doc_id + 3 * i) % 256)
        |        + 150 * (((doc_id + 3 * i) % 256) * 7 % 256)
        |        + 29 * (((doc_id + 3 * i) % 256) * 13 % 256)) // 256
        |      ELSE (77 * ((doc_id + 2 * i) % 256)
        |        + 150 * ((doc_id * 3 + 5 * i) % 256)
        |        + 29 * ((doc_id * 5 + 7 * i) % 256)) // 256
        |    END AS lum
        |  FROM m, LATERAL (SELECT unnest(range(0, w * h)) AS i) r),
        |reg AS (
        |  SELECT doc_id,
        |    ((i // w) * 4) // h * 4 + ((i % w) * 4) // w AS r,
        |    CAST(CAST(SUM(lum) AS BIGINT) // COUNT(*) AS DOUBLE) AS mv
        |  FROM px GROUP BY doc_id, ((i // w) * 4) // h * 4 + ((i % w) * 4) // w),
        |imgv AS (
        |  SELECT doc_id, list(mv ORDER BY r) AS iv FROM reg GROUP BY doc_id),
        |ct AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')[1:6] AS ctk
        |  FROM documents),
        |txe AS (
        |  SELECT doc_id, list_transform(range(0, 16), b ->
        |    COALESCE(list_sum(list_transform(ctk, t ->
        |      CASE WHEN (3*length(t) + 7*unicode(t)
        |                 + 13*unicode(substring(t, length(t), 1))) % 16 = b
        |        THEN CASE WHEN (length(t) + unicode(t)) % 2 = 0
        |             THEN 1.0 ELSE -1.0 END
        |        ELSE 0.0 END)), 0.0)) AS tv
        |  FROM ct),
        |sc AS (
        |  SELECT i.doc_id,
        |    CASE WHEN sqrt(list_sum(list_transform(t.tv, x -> x * x))) = 0
        |      THEN NULL
        |      ELSE ROUND(
        |        list_sum(list_transform(list_zip(i.iv, t.tv),
        |          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |        / (sqrt(list_sum(list_transform(i.iv, x -> x * x)))
        |           * sqrt(list_sum(list_transform(t.tv, x -> x * x)))), 6)
        |    END AS score
        |  FROM imgv i JOIN txe t USING (doc_id))
        |SELECT doc_id, score, score >= 0.0 AS aligned
        |FROM sc ORDER BY doc_id""".stripMargin,


    // Video near-dup oracle: per-frame dHash replayed from the tile
    // formulas for BOTH the base corpus and the re-encoded twins (same
    // seeds — a lossless re-encode has identical pixels, hence identical
    // hashes), then ALL-PAIRS frame matching at hamming <= 6 with no
    // band terms (pigeonhole makes the engine's banding complete at this
    // threshold, so this gates recall), then the same matched-signature
    // rollup and exact ppm score. At 80x56 the grid cell (gy, gx)
    // samples exactly tile gy*10+gx ((gy*56//7)//8 = gy,
    // (gx*80//10)//8 = gx), so bit gy*9+gx compares tiles gx and gx+1.
    "q_video_neardup" ->
      (videoNearDupCtes + """
        |SELECT idA, idB, n_sig_a, n_sig_b, n_matched_a, n_matched_b,
        |  score_ppm
        |FROM scored ORDER BY idA, idB""".stripMargin),


    // Video CC oracle: the shared scoring chain, edges at score >= 0.5,
    // the recursive reachability closure over every video (twins
    // included), min-label components, survivor = own label.
    "q_video_cc" ->
      (videoNearDupCtes + """,
        |vp AS (SELECT idA, idB FROM scored WHERE score_ppm >= 500000),
        |edges AS (SELECT idA AS src, idB AS dst FROM vp
        |          UNION ALL SELECT idB AS src, idA AS dst FROM vp),
        |cc(id, label) AS (
        |  SELECT vid, vid FROM vids
        |  UNION
        |  SELECT e.dst, cc.label FROM edges e JOIN cc ON cc.id = e.src)
        |SELECT id AS media_id, CAST(MIN(label) AS BIGINT) AS component,
        |  (MIN(label) = id) AS survivor
        |FROM cc GROUP BY id ORDER BY media_id""".stripMargin),


    // The dHash grid replayed over the same pixel formulas: sample the
    // 10x7 grid at ((gy*h)//7, (gx*w)//10), set bit gy*9+gx iff the right
    // neighbor is brighter — identical geometry to the Scala dHashGrid,
    // but fed by formula pixels instead of decoded ones, gating the whole
    // encode→decode→hash chain.
    "q_image_phash_real" ->
      """WITH m AS (
        |  SELECT doc_id, 16 + doc_id % 17 AS w, 16 + (doc_id * 3) % 13 AS h
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, gy, gx,
        |    ((gy * h) // 7) * w + ((gx * w) // 10) AS il,
        |    ((gy * h) // 7) * w + (((gx + 1) * w) // 10) AS ir
        |  FROM m, LATERAL (SELECT unnest(range(0, 7)) AS gy) a,
        |          LATERAL (SELECT unnest(range(0, 9)) AS gx) b),
        |lv AS (
        |  SELECT doc_id, gy, gx,
        |    CASE doc_id % 4
        |      WHEN 0 THEN (doc_id * 7 + il * 13) % 251
        |      WHEN 3 THEN (77 * ((doc_id + 3 * il) % 256)
        |        + 150 * (((doc_id + 3 * il) % 256) * 7 % 256)
        |        + 29 * (((doc_id + 3 * il) % 256) * 13 % 256)) // 256
        |      ELSE (77 * ((doc_id + 2 * il) % 256)
        |        + 150 * ((doc_id * 3 + 5 * il) % 256)
        |        + 29 * ((doc_id * 5 + 7 * il) % 256)) // 256
        |    END AS ll,
        |    CASE doc_id % 4
        |      WHEN 0 THEN (doc_id * 7 + ir * 13) % 251
        |      WHEN 3 THEN (77 * ((doc_id + 3 * ir) % 256)
        |        + 150 * (((doc_id + 3 * ir) % 256) * 7 % 256)
        |        + 29 * (((doc_id + 3 * ir) % 256) * 13 % 256)) // 256
        |      ELSE (77 * ((doc_id + 2 * ir) % 256)
        |        + 150 * ((doc_id * 3 + 5 * ir) % 256)
        |        + 29 * ((doc_id * 5 + 7 * ir) % 256)) // 256
        |    END AS lr
        |  FROM g)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(SUM(CASE WHEN lr > ll
        |    THEN (CAST(1 AS BIGINT) << (gy * 9 + gx)) ELSE 0 END) AS BIGINT) AS phash
        |FROM lv GROUP BY doc_id ORDER BY media_id""".stripMargin,


    // opengraph oracle: rows literal-by-construction (title from the
    // first three words, image only on evens).
    "q_html_og" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://www.' || source || '.example.com' AS host,
        |    array_to_string(
        |      list_filter(string_split(text, ' '), x -> x <> '')[1:3],
        |      ' ') AS t3
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, 0 AS idx, 'title' AS key, t3 AS value FROM u
        |  UNION ALL SELECT doc_id, 1, 'type', 'article' FROM u
        |  UNION ALL SELECT doc_id, 2, 'url',
        |    host || '/docs/' || CAST(doc_id AS VARCHAR) FROM u
        |  UNION ALL SELECT doc_id, 3, 'image',
        |    host || '/img/' || CAST(doc_id % 9 AS VARCHAR) || '.png'
        |    FROM u WHERE doc_id % 2 = 0)
        |SELECT doc_id, CAST(idx AS BIGINT) AS idx, key, value
        |FROM l ORDER BY doc_id, idx""".stripMargin,


    // hreflang oracles: pairs and cluster ledgers rebuilt from the
    // id%25 slot / id%2 fr rotation.
    "q_html_alternates" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://www.' || source || '.example.com' AS host,
        |    CAST(doc_id % 25 AS VARCHAR) AS slot
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, 0 AS idx, 'en' AS hreflang,
        |    host || '/en/' || slot AS href FROM u
        |  UNION ALL SELECT doc_id, 1, 'de', host || '/de/' || slot FROM u
        |  UNION ALL SELECT doc_id, 2, 'fr', host || '/fr/' || slot
        |    FROM u WHERE doc_id % 2 = 0
        |  UNION ALL SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END, 'x-default',
        |    host || '/en/' || slot FROM u)
        |SELECT doc_id, CAST(idx AS BIGINT) AS idx, hreflang, href
        |FROM l ORDER BY doc_id, idx""".stripMargin,


    // head-directive oracles: every field literal-by-construction from
    // the id%3/%2/%4 fixture rotations.
    "q_html_head" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN '/assets/' END AS base,
        |  CASE WHEN doc_id % 2 = 0 THEN 'https://www.' || source ||
        |    '.example.com/docs/c' || CAST(doc_id % 5 AS VARCHAR)
        |  END AS canonical,
        |  doc_id % 4 = 0 AS noindex,
        |  doc_id % 4 <= 1 AS nofollow
        |FROM documents ORDER BY doc_id""".stripMargin,


    // html-links oracle: nine anchor shapes per document, every
    // (href, resolved, anchor, nofollow) tuple literal-by-construction —
    // a mis-merged relative path, an un-dropped fragment, a re-spelled
    // mailto:, an undecoded &amp;, or a missed rel=nofollow breaks it.
    "q_html_links" -> htmlLinksOracleSql,

    "q_image_strip_meta" -> imageStripMetaOracleSql,

    "q_image_text_pairs" -> htmlImagePairsOracleSql,

    "q_image_pair_quality" -> imagePairQualityOracleSql,


    // html-markdown oracle (shared with the streaming twin): the
    // rendered string rebuilt verbatim — every prefix, inline mark,
    // bullet, and the image line.
    "q_html_markdown" -> htmlMarkdownOracleSql,


    // html-tables oracle: every (t, r, c, header, cell) tuple rebuilt
    // from the first-6 words — header literals ('Word' proves the
    // whitespace normalize), per-word data rows (the <b> strip and the
    // a&amp;b entity decode are the construction), and the one-row
    // totals table at t=1 (depth-1 indexing).
    "q_html_tables" -> htmlTablesOracleSql,


    // PDF extraction: the 8-word line regrouping rebuilt from the words
    // alone — shared by the direct and out-of-the-archive chains.
    "q_pdf_extract" -> pdfExtractOracleSql,

    "q_pdf_unicode" -> pdfUnicodeOracleSql,

  )
}
