package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{EventTime, GraftFunctions}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingIngest
import MultimodalRegistry.{pdfExtractOracleSql, imageDecodeOracleSql}
import TextRegistry.textExtractOracleSql

/** Warc query/oracle registry — one slice of the driver contract
  * surface, split out of the former 15k-line SparkEntry monolith so a
  * duplicated query-name literal can never silently shadow a pair out
  * of the sweep again (the round-17 q_text_chunks incident).
  * Each query's lambda, fixtures and oracle text live here; a helper
  * that a streaming twin or another family also uses is
  * `private[registry]` in its batch query's registry. Composed — with
  * a cross-registry duplicate guard — in [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]]. */
private[graft] object WarcRegistry extends QueryRegistry {

  /** Synthetic WARC archives derived from the
    * documents table: 4 buckets keyed by doc_id % 4, bucket 0 gzipped
    * with per-record members, each file led by a warcinfo record, every
    * response carrying the synthetic crawl page ([[operators.TextExtract
    * .syntheticHtml]]) behind a real HTTP/1.1 200 message. Deterministic,
    * so bench re-runs reuse the archives ([[Scratch.once]]). */
  private[registry] def warcFixtureDir(s: SparkSession, dir: String): String =
    Scratch.once(dir, "warc") { out =>
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
          col("doc_id").cast("string")).as("uri"),
        operators.TextExtract.syntheticHtml(col("doc_id"), col("text"))
          .as("body"))
      ingest.WarcIngest.writeSyntheticWarc(s, docs, "doc_id", "uri", "body",
        out, nFiles = 4)
    }

  /** IMAGE archives: the same WARC framing with
    * `image/png` responses whose bodies are the synthetic pixel PNGs
    * ([[operators.Multimodal.syntheticPngPixelPayload]]) — crawls are
    * mostly binary, and this fixture is what pins the reader's
    * byte-exact `body_bytes` path. */
  private def warcImageFixtureDir(s: SparkSession, dir: String): String =
    Scratch.once(dir, "warcimg") { out =>
      val png = udf((id: Long) => Multimodal.syntheticPngPixelPayload(id))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://img."), col("source"),
          lit(".example.com/png/"), col("doc_id").cast("string"),
          lit(".png")).as("uri"),
        png(col("doc_id")).as("body"))
      ingest.WarcIngest.writeSyntheticWarc(s, docs, "doc_id", "uri", "body",
        out, nFiles = 4, contentType = "image/png")
    }

  /** PAGE archives whose HTML references the
    * [[warcImageFixtureDir]] pixel PNGs — the image-text JOIN fixture:
    * each page carries one `<figure>` img pointing at its document's
    * synthetic PNG (absolute src on the img. host) plus alt text and a
    * figcaption that names the image's true dimensions, so pair
    * assembly must route extraction, resolution, and the
    * archive-decoded pixels into one frame and the caption/pixel
    * agreement is itself oracle-checkable. */
  private def warcImgPageFixtureDir(s: SparkSession, dir: String): String =
    Scratch.once(dir, "warcimgpg") { out =>
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://www."), col("source"),
          lit(".example.com/docs/"), col("doc_id").cast("string"))
          .as("uri"),
        concat(
          lit("<html><body><figure><img src=\"https://img."),
          col("source"), lit(".example.com/png/"),
          col("doc_id").cast("string"),
          lit(".png\" alt=\"png "), pmod(col("doc_id"), lit(13)),
          lit("\"><figcaption>Pixel grid "),
          (lit(16) + pmod(col("doc_id"), lit(17))).cast("string"),
          lit(" by "),
          (lit(16) + pmod(col("doc_id") * 3, lit(13))).cast("string"),
          lit("</figcaption></figure></body></html>")).as("body"))
      ingest.WarcIngest.writeSyntheticWarc(s, docs, "doc_id", "uri",
        "body", out, nFiles = 4)
    }

  /** The legacy-charset rotation for the charset-sniffing WARC fixture:
    * (java charset name, non-ASCII marker appended to the page text).
    * Every marker is encodable in its charset and survives the charset's
    * encode→decode round-trip bit-exactly; the windows-1252 euro (0x80)
    * and em-dash (0x97) distinguish cp1252 from ISO-8859-1. Shared by
    * the fixture UDF and the oracle's CASE literal (\u escapes because
    * the container's platform charset is US-ASCII). */
  private val CharsetModes: IndexedSeq[(String, String)] = IndexedSeq(
    ("UTF-8", "unicode üñî ✓ probe"),
    ("ISO-8859-1", "café à la carte ±°"),
    ("windows-1252", "€uro café — quote"),
    ("GB2312", "中文编码测试"),
    ("Shift_JIS", "日本語テキスト"),
    ("UTF-16", "Ωmega ±π bom"))

  /** LEGACY-CHARSET archives: each document's
    * page re-encoded under the doc_id % 6 rotation and declared three
    * different ways — Content-Type parameter (modes 1/3), `<meta>` in
    * the head (modes 0/2/4: charset attr and http-equiv both), or a
    * UTF-16 BOM (mode 5) — so every branch of
    * [[ingest.WarcIngest.sniffCharset]]'s precedence ladder carries
    * fixture rows. Pages are simple head+h1+p documents (no uppercase
    * twin: non-ASCII case-mapping is locale-lore neither engine should
    * be oracled on). */
  private def warcCharsetFixtureDir(s: SparkSession, dir: String): String =
    Scratch.once(dir, "warccs") { out =>
      val modes = CharsetModes
      val pageBytes = udf { (id: Long, text: String) =>
        val mode = (id % 6).toInt
        val (cs, mk) = modes(mode)
        val meta = mode match {
          case 0 => "<meta charset=\"utf-8\">\n"
          case 2 => "<meta http-equiv=\"Content-Type\" " +
            "content=\"text/html; charset=windows-1252\">\n"
          case 4 => "<meta charset=\"shift_jis\">\n"
          case _ => ""
        }
        val esc = text.replace("&", "&amp;")
          .replace("<", "&lt;").replace(">", "&gt;")
        val page = "<!doctype html>\n<html>\n<head>\n" + meta +
          "<title>Doc " + id + "</title>\n</head>\n<body>\n" +
          "<h1>Charset probe document about encodings</h1>\n<p>" +
          esc + " " + mk + "</p>\n</body>\n</html>\n"
        page.getBytes(java.nio.charset.Charset.forName(cs))
      }
      val ctOf = udf { (id: Long) =>
        (id % 6).toInt match {
          case 1 => "text/html; charset=iso-8859-1"
          case 3 => "text/html; charset=gb2312"
          case 5 => "text/html; charset=utf-16"
          case _ => "text/html"
        }
      }
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://cs."), col("source"), lit(".example.com/p/"),
          col("doc_id").cast("string")).as("uri"),
        pageBytes(col("doc_id"), col("text")).as("body"),
        ctOf(col("doc_id")).as("ct"))
      ingest.WarcIngest.writeResponsesWarc(s, docs, "doc_id", "uri", "body",
        "ct", out, nFiles = 4)
    }

  /** WIRE-ENCODING archives: each document's page
    * framed under the doc_id % 5 rotation of HTTP transfer/content
    * codings a Heritrix-style raw capture preserves — identity,
    * chunked (16-byte chunks), gzip, gzip-then-chunked, zlib deflate.
    * The reader must strip the framing before the body reaches the
    * charset/extraction stages; the oracle recomputes the raw payload
    * octets for the SQL-derivable modes (identity head arithmetic and
    * the exact chunk-framing formula). */
  private def warcEncodingsFixtureDir(s: SparkSession, dir: String): String =
    Scratch.once(dir, "warcenc") { out =>
      val payload = udf { (id: Long, text: String) =>
        val ascii = java.nio.charset.StandardCharsets.UTF_8
        val esc = text.replace("&", "&amp;")
          .replace("<", "&lt;").replace(">", "&gt;")
        val page = ("<html>\n<head>\n<title>E" + id + "</title>\n</head>\n" +
          "<body>\n<h1>Encoding probe document headline</h1>\n<p>" + esc +
          "</p>\n</body>\n</html>\n").getBytes(ascii)
        def gz(b: Array[Byte]) = {
          val bos = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
          val g = new java.util.zip.GZIPOutputStream(bos)
          try { g.write(b); g.finish() } finally g.close()
          bos.toByteArray
        }
        def defl(b: Array[Byte]) = {
          val d = new java.util.zip.Deflater()
          d.setInput(b); d.finish()
          val bos = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
          val buf = new Array[Byte](4096)
          while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
          d.end()
          bos.toByteArray
        }
        def chunk(b: Array[Byte]) = {
          val bos = new java.io.ByteArrayOutputStream(b.length + b.length / 4 + 16)
          var i = 0
          while (i < b.length) {
            val k = math.min(16, b.length - i)
            bos.write((java.lang.Long.toHexString(k.toLong) + "\r\n").getBytes(ascii))
            bos.write(b, i, k)
            bos.write("\r\n".getBytes(ascii))
            i += k
          }
          bos.write("0\r\n\r\n".getBytes(ascii))
          bos.toByteArray
        }
        val (codingHeaders, body) = (id % 5).toInt match {
          case 0 => (s"Content-Length: ${page.length}\r\n", page)
          case 1 => ("Transfer-Encoding: chunked\r\n", chunk(page))
          case 2 =>
            val g = gz(page)
            (s"Content-Encoding: gzip\r\nContent-Length: ${g.length}\r\n", g)
          case 3 =>
            ("Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n",
              chunk(gz(page)))
          case _ =>
            val d = defl(page)
            (s"Content-Encoding: deflate\r\nContent-Length: ${d.length}\r\n", d)
        }
        val head = ("HTTP/1.1 200 OK\r\n" +
          "Content-Type: text/html; charset=utf-8\r\n" +
          codingHeaders + "\r\n").getBytes(ascii)
        head ++ body
      }
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://enc."), col("source"), lit(".example.com/p/"),
          col("doc_id").cast("string")).as("uri"),
        payload(col("doc_id"), col("text")).as("payload"))
      ingest.WarcIngest.writeHttpResponsesWarc(s, docs, "doc_id", "uri",
        "payload", out, nFiles = 4)
    }

  /** PDF archives: application/pdf responses
    * whose bodies are the synthetic-invertible PDFs
    * ([[graft.expr.PdfOps.syntheticPdf]]; odd doc_ids FlateDecode-
    * compressed) — the second text modality decoded straight out of the
    * crawl archive, like the PNG fixture pins the binary path. */
  private def warcPdfFixtureDir(s: SparkSession, dir: String): String =
    Scratch.once(dir, "warcpdf") { out =>
      val pdf = udf { (id: Long, text: String) =>
        graft.expr.PdfOps.syntheticPdf(id, text, flate = id % 2 == 1)
      }
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://pdf."), col("source"), lit(".example.com/d/"),
          col("doc_id").cast("string"), lit(".pdf")).as("uri"),
        pdf(col("doc_id"), col("text")).as("body"),
        lit("application/pdf").as("ct"))
      ingest.WarcIngest.writeResponsesWarc(s, docs, "doc_id", "uri", "body",
        "ct", out, nFiles = 4)
    }

  /** warc-image-pairs oracle: the page-side construction (src, alt,
    * figcaption) joined to the direct-decode pixel formula of
    * [[imageDecodeOracleSql]] — extraction, resolution, and the decoded
    * planes must agree in one frame. */
  private val warcImagePairsOracleSql: String =
    """WITH m AS (
      |  SELECT doc_id, source, 16 + doc_id % 17 AS w,
      |    16 + (doc_id * 3) % 13 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, i,
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
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pixels,
      |    CAST(SUM(lum) AS BIGINT) AS lum_sum
      |  FROM px GROUP BY doc_id)
      |SELECT m.doc_id,
      |  'https://img.' || m.source || '.example.com/png/' ||
      |    CAST(m.doc_id AS VARCHAR) || '.png' AS img_url,
      |  'png ' || CAST(m.doc_id % 13 AS VARCHAR) AS alt,
      |  'Pixel grid ' || CAST(m.w AS VARCHAR) || ' by ' ||
      |    CAST(m.h AS VARCHAR) AS caption,
      |  CAST(m.w AS BIGINT) AS width, CAST(m.h AS BIGINT) AS height,
      |  a.n_pixels, a.lum_sum
      |FROM m JOIN agg a USING (doc_id) ORDER BY m.doc_id""".stripMargin

  /** MISLABELED archives: every response's
    * Content-Type header deliberately contradicts its payload (PNG as
    * text/html, PDF as image/png, HTML as octet-stream, WAV as
    * text/plain, plain text as application/pdf) — the real-crawl
    * pathology the magic-byte sniffer exists for. */
  private def warcMimeFixtureDir(s: SparkSession, dir: String): String =
    Scratch.once(dir, "warcmime") { out =>
      val body = udf { (id: Long, text: String) =>
        (id % 5).toInt match {
          case 0 => Multimodal.syntheticPngPixelPayload(id)
          case 1 => graft.expr.PdfOps.syntheticPdf(id, text, flate = true)
          case 2 => ("<!doctype html>\n<html><body><p>" + text +
            "</p></body></html>\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          case 3 => Multimodal.syntheticWavPayload(id)
          case _ => text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
      }
      val declared = when(col("doc_id") % 5 === 0, "text/html")
        .when(col("doc_id") % 5 === 1, "image/png")
        .when(col("doc_id") % 5 === 2, "application/octet-stream")
        .when(col("doc_id") % 5 === 3, "text/plain")
        .otherwise("application/pdf")
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://mm."), col("source"), lit(".example.com/r/"),
          col("doc_id").cast("string")).as("uri"),
        body(col("doc_id"), col("text")).as("body"),
        declared.as("ct"))
      ingest.WarcIngest.writeResponsesWarc(s, docs, "doc_id", "uri", "body",
        "ct", out, nFiles = 4)
    }

  /** REDIRECT archives: doc_id % 5 == 3 pages
    * respond 301 → the mode-0 page three ids back; mode-4 pages respond
    * 302 → the mode-3 page one id back (a two-hop chain 302→301→200);
    * everything else serves the page. The chain targets live in the
    * same archive — the loop a crawler actually has to resolve. */
  private def warcRedirFixtureDir(s: SparkSession, dir: String): String =
    Scratch.once(dir, "warcredir") { out =>
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      def urlOf(idc: Column, srcc: Column): Column =
        concat(lit("https://www."), srcc, lit(".example.com/docs/"),
          idc.cast("string"))
      val t3 = base.select(col("doc_id").as("t3_id"),
        col("source").as("t3_src"))
      val t1 = base.select(col("doc_id").as("t1_id"),
        col("source").as("t1_src"))
      val payload = udf { (id: Long, text: String, loc3: String,
                           loc1: String) =>
        val ascii = java.nio.charset.StandardCharsets.UTF_8
        def redirect(code: Int, reason: String, loc: String) =
          (s"HTTP/1.1 $code $reason\r\nLocation: $loc\r\n" +
            "Content-Length: 0\r\n\r\n").getBytes(ascii)
        (id % 5).toInt match {
          case 3 if loc3 != null => redirect(301, "Moved Permanently", loc3)
          case 4 if loc1 != null => redirect(302, "Found", loc1)
          case _ =>
            val page = ("<html><body><p>" + text.replace("&", "&amp;")
              .replace("<", "&lt;").replace(">", "&gt;") +
              "</p></body></html>\n").getBytes(ascii)
            (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
              s"Content-Length: ${page.length}\r\n\r\n").getBytes(ascii) ++ page
        }
      }
      val docs = base
        .join(t3, col("doc_id") - 3 === col("t3_id"), "left")
        .join(t1, col("doc_id") - 1 === col("t1_id"), "left")
        .select(col("doc_id"),
          urlOf(col("doc_id"), col("source")).as("uri"),
          payload(col("doc_id"), col("text"),
            urlOf(col("t3_id"), col("t3_src")),
            urlOf(col("t1_id"), col("t1_src"))).as("payload"))
      ingest.WarcIngest.writeHttpResponsesWarc(s, docs, "doc_id", "uri",
        "payload", out, nFiles = 4)
    }

  /** TWO-CRAWL archives for the revisit story:
    * crawl 1 (c1/) captures every page; crawl 2 (c2/) stores the
    * unchanged third (doc_id % 3 == 0) as payload-free `revisit`
    * records pointing at the c1 capture via WARC-Refers-To, and
    * re-captures the rest with updated content (text + " v2") — the
    * ISO 28500 mechanism consecutive crawls use to avoid re-storing the
    * stable majority of the web. */
  private def warcRevisitFixtureDir(s: SparkSession, dir: String): String =
    Scratch.once(dir, "warcrev") { out =>
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
          col("doc_id").cast("string")).as("uri"),
        col("text"))
      ingest.WarcIngest.writeSyntheticWarc(s,
        docs.select(col("doc_id"), col("uri"),
          operators.TextExtract.syntheticHtml(col("doc_id"), col("text"))
            .as("body")),
        "doc_id", "uri", "body", s"$out/c1", nFiles = 4)
      val framed = udf { (id: Long, uri: String, html: Array[Byte]) =>
        if (id % 3 == 0)
          ingest.WarcIngest.revisitRecord(id, uri, s"<urn:graft:doc:$id>")
        else ingest.WarcIngest.responseRecord(id, uri, html,
          "text/html; charset=utf-8")
      }
      ingest.WarcIngest.writeFramedWarc(s,
        docs.select(col("doc_id"),
          framed(col("doc_id"), col("uri"),
            operators.TextExtract.syntheticHtml(col("doc_id"),
              concat(col("text"), lit(" v2"))).cast("binary")).as("rec")),
        "doc_id", "rec", s"$out/c2", nFiles = 4)
    }

  /** The page template as a SQL EXPRESSION over caller-chosen id/text —
    * shared by [[warcPageSql]] and the crawl-loop oracle, which renders
    * frontier targets under their host page's text. */
  private[registry] def warcHtmlSqlExpr(idExpr: String, textExpr: String): String =
    s"""'<!doctype html>' || chr(10) || '<html>' || chr(10) || '<head>' || chr(10) ||
      |    '<title>Doc ' || CAST($idExpr AS VARCHAR) || '</title>' || chr(10) ||
      |    '<style>p { color: #222; }</style>' || chr(10) || '</head>' || chr(10) ||
      |    '<body>' || chr(10) ||
      |    '<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>' || chr(10) ||
      |    '<h1>Corpus document from the synthetic crawl corpus</h1>' || chr(10) ||
      |    '<p>' || replace(replace(replace($textExpr, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') || '</p>' || chr(10) ||
      |    '<div class="ads"><a href="/buy">Buy now</a> <a href="/sale">Sale</a></div>' || chr(10) ||
      |    '<blockquote>' || replace(replace(replace(upper($textExpr), '&', '&amp;'), '<', '&lt;'), '>', '&gt;') || '</blockquote>' || chr(10) ||
      |    '<script>var t = "track";</script>' || chr(10) ||
      |    '<footer><a href="/tos">Terms</a> <a href="/priv">Privacy</a> &#169; 2026 Example Corp</footer>' || chr(10) ||
      |    '</body>' || chr(10) || '</html>' || chr(10)""".stripMargin

  /** The synthetic crawl page rebuilt in SQL — must mirror
    * [[operators.TextExtract.syntheticHtml]] byte for byte, because the
    * WARC oracles check the archive framing ARITHMETIC (Content-Length
    * headers, payload/body octet counts) against this template's octet
    * lengths. Emits (doc_id, html, uri); `uri` is the WARC fixture's
    * target-URI rule. */
  private lazy val warcPageSql: String =
    s"""SELECT doc_id,
      |    ${warcHtmlSqlExpr("doc_id", "text")} AS html,
      |    'https://www.' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR) AS uri
      |  FROM documents""".stripMargin

  /** Charset-fixture oracle: sniffed charset name and extracted text
    * (h1 + the marker-suffixed paragraph) reconstructed from the
    * documents table and the [[CharsetModes]] rotation — both CASE
    * ladders are generated from the same Scala constant the fixture UDF
    * encodes with, so a decode under the wrong charset cannot match. */
  private lazy val warcCharsetOracleSql: String = {
    val csCase = CharsetModes.zipWithIndex
      .map { case ((cs, _), i) => s"WHEN $i THEN '$cs'" }.mkString(" ")
    val mkCase = CharsetModes.zipWithIndex
      .map { case ((_, mk), i) => s"WHEN $i THEN '$mk'" }.mkString(" ")
    s"""SELECT doc_id,
       |  CASE doc_id % 6 $csCase END AS charset,
       |  'Charset probe document about encodings' || chr(10) ||
       |    text || ' ' || CASE doc_id % 6 $mkCase END AS extracted
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** WARC record-table oracle — shared verbatim by the one-shot read
    * (q_warc_records) and the two-wave manifest-driven incremental
    * ingest (q_warc_incremental): every WARC/HTTP framing field is
    * recomputed from the page template's octet arithmetic. */
  private lazy val warcRecordsOracleSql: String =
    s"""WITH page AS ($warcPageSql),
      |resp AS (
      |  SELECT doc_id AS rec_key, 'response' AS warc_type, uri AS target_uri,
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
      |  FROM (SELECT unnest(range(4)) AS b))
      |SELECT * FROM info UNION ALL SELECT * FROM resp
      |ORDER BY rec_key""".stripMargin

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
