package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{EventTime, GraftFunctions}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingIngest

/** Driver contract — one `queries` entry per operator of SURVEY.md §2 plus
  * the training-data-pipeline extensions, each with a DuckDB oracle where the
  * semantics are ANSI-SQL-expressible (oracle-less entries get the driver's
  * rows-only check and are verified by ScalaTest instead).
  *
  * Determinism rules (SURVEY.md §5.4): every query ends in a total-order
  * sort; aggregates over doubles go through exact decimal arithmetic and are
  * surfaced as doubles; "today" is the fixed literal 1998-12-01; int-typed
  * derived values are cast to long to match DuckDB's BIGINT.
  */
object SparkEntry {

  private[graft] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scale-ADAPTIVE scan spreader (guide §2.5 "one huge unsplittable
    * file → repartition immediately after the read"): the bench SF dirs
    * ship each table as ONE parquet file with ONE row group, so every
    * query's pre-exchange stage plans a SINGLE task regardless of core
    * count — per-row decode, payload synthesis, tokenization and HOF
    * chains all ran single-threaded. Round-robin repartition to
    * `defaultParallelism` (cores locally, cluster width on a real
    * deployment) restores stage-1 parallelism for the price of one
    * exchange of the frame's bytes.
    *
    * Applied SELECTIVELY at measured per-row-HEAVY stages, not blanket
    * in [[t]]: an A/B of the blanket form showed multi-stage ladders
    * (q_curate_multimodal 6.7 → 12.0 s) losing more to ×cores task
    * scheduling across their ~15 tiny stages than the wide scan gains,
    * while decode/synthesis stages win big (q_pdf_unicode −80%). Call
    * it where one row costs real CPU.
    *
    * Adaptive, not constant-tuned: the probe fires ONLY when the frame
    * plans FEWER partitions than the session's parallelism — on a real
    * multi-row-group / multi-file table (any production layout, any
    * 100 TB run) the scan is already wide and this is a literal no-op,
    * so no query pays a corpus-wide reshuffle at scale. The explicit
    * partition COUNT pins the shuffle's origin as REPARTITION_BY_NUM,
    * which AQE's small-partition coalescing deliberately leaves alone —
    * otherwise the kilobyte-scale frame would be coalesced straight
    * back to one partition. Row-level semantics are unchanged (same
    * multiset; every consumer is partitioning-invariant by the
    * engine's oracle contract). */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= want) df
    else df.repartition(want)
  }

  /** The extracted text of each document's synthetic HTML page — the one
    * projection q_text_extract and its streaming twin share. */
  private[graft] def syntheticPageText(docs: DataFrame): DataFrame =
    operators.TextExtract.fromHtml(
      docs.select(col("doc_id"),
        operators.TextExtract.syntheticHtml(col("doc_id"), col("text"))
          .as("html")),
      "doc_id", "html")

  /** Header-parsed features of each document's synthetic media payload,
    * as long columns — the one projection q_multimodal_features and its
    * streaming twin share. */
  private[graft] def syntheticMediaFeatures(docs: DataFrame): DataFrame = {
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

  /** Regression feature frame for the LinearModel queries: predict text
    * LENGTH from token/stopword counts (profile-derived, ONE fused scan)
    * — the fitted weights are interpretable (≈ mean word length, and the
    * chars-shorter-than-average stopword discount). n_punct and n_bpeish
    * are deliberately absent: this corpus has no punctuation, so the
    * former is identically zero (singular column) and the latter equals
    * n_tokens (collinear). Null text filtered on both sides — a null
    * feature row would silently drop out of the moment sums while still
    * counting in n. */
  private[graft] def regFeatures(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .withColumn("__p", TextAnalysis.profile(col("text")))
      .select(
        coalesce(col("__p.n_tokens"), lit(0)).cast("double").as("f_tokens"),
        col("__p.n_stopwords").cast("double").as("f_stop"),
        col("__p.n_chars").cast("double").as("y_chars"))

  private[graft] val asOf: Column = lit("1998-12-01").cast("date")

  /** Synthetic WARC archives derived from the
    * documents table: 4 buckets keyed by doc_id % 4, bucket 0 gzipped
    * with per-record members, each file led by a warcinfo record, every
    * response carrying the synthetic crawl page ([[operators.TextExtract
    * .syntheticHtml]]) behind a real HTTP/1.1 200 message. Deterministic,
    * so bench re-runs reuse the archives ([[Scratch.once]]). */
  private[graft] def warcFixtureDir(s: SparkSession, dir: String): String =
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
  private[graft] def warcImageFixtureDir(s: SparkSession, dir: String): String =
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
  private[graft] def warcImgPageFixtureDir(s: SparkSession, dir: String): String =
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
  private[graft] val CharsetModes: IndexedSeq[(String, String)] = IndexedSeq(
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
  private[graft] def warcCharsetFixtureDir(s: SparkSession, dir: String): String =
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
  private[graft] def warcEncodingsFixtureDir(s: SparkSession, dir: String): String =
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
  private[graft] def warcPdfFixtureDir(s: SparkSession, dir: String): String =
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

  /** PDF-extraction oracle, shared verbatim by the direct decode
    * (q_pdf_extract) and the decode-out-of-the-WARC chain (q_warc_pdf):
    * the synthetic page lays `text` out 8 words per line, so extraction
    * must return exactly that regrouping — rebuilt here from the words
    * alone (uncompressed and FlateDecode streams must land identically,
    * and the TJ kerning split must be invisible). */
  private[graft] val pdfExtractOracleSql: String =
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

  /** Crawl-trap ledger oracle, shared verbatim by the exact
    * (q_crawl_traps), sketch (q_crawl_traps_sketch — KMV k=4096 exact
    * regime), and streaming (q_stream_traps) forms: the three fixture
    * shapes collapse to three templates per source by construction, so
    * the ledger rebuilds from per-source counts alone. */
  private[graft] val crawlTrapsOracleSql: String =
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

  /** html-links oracle, shared verbatim by the batch extraction
    * and its streaming twin (per-row purity => stream = batch). */
  private[graft] val htmlLinksOracleSql: String =
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
  private[graft] val htmlImagePairsOracleSql: String =
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
  private[graft] val htmlMarkdownOracleSql: String =
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
  private[graft] val imagePairQualityOracleSql: String =
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

  /** interleaved-docs oracle: the four emitted positions per document
    * (content, image, image, content) — the nav run and its short
    * successor must NOT appear at any position. */
  /** The interleaved-page fixture replay (`u` + `l` CTEs) — ONE source
    * of truth for the planted 4-item page shape, shared by all three
    * interleaved oracles (extraction, packing, token packing).
    * `withMedia` adds the src/alt columns only the extraction oracle
    * reads. */
  private[graft] def interleavedFixtureCtes(withMedia: Boolean): String = {
    val mediaCols0 =
      if (withMedia) ",\n    CAST(NULL AS VARCHAR) AS src, CAST(NULL AS VARCHAR) AS alt"
      else ""
    val media1 =
      if (withMedia) ",\n    '/img/' || id || '.png',\n    'one-' || CAST(doc_id % 13 AS VARCHAR)"
      else ""
    val media2 =
      if (withMedia) ",\n    '//cdn.' || source || '.example.com/m' ||\n      CAST(doc_id % 7 AS VARCHAR) || '.webp', ''"
      else ""
    val media3 = if (withMedia) ", NULL, NULL" else ""
    s"""u AS (
      |  SELECT doc_id, source, CAST(doc_id AS VARCHAR) AS id,
      |    array_to_string(list_slice(
      |      list_filter(string_split(text, ' '), x -> x <> ''), 1, 5), ' ')
      |      AS w5,
      |    array_to_string(list_slice(
      |      list_filter(string_split(text, ' '), x -> x <> ''), 1, 3), ' ')
      |      AS w3
      |  FROM documents),
      |l AS (
      |  SELECT doc_id, 0 AS pos, 'text' AS kind,
      |    'Opening paragraph for document ' || id || ' about ' || w5 ||
      |      ' with enough length.' AS text$mediaCols0
      |  FROM u
      |  UNION ALL SELECT doc_id, 1, 'image', NULL$media1 FROM u
      |  UNION ALL SELECT doc_id, 2, 'image', NULL$media2 FROM u
      |  UNION ALL SELECT doc_id, 3, 'text',
      |    'Closing paragraph reciting ' || w3 ||
      |      ' once more for position four.'$media3 FROM u)""".stripMargin
  }

  private[graft] def interleavedDocsOracleSql: String =
    "WITH " + interleavedFixtureCtes(withMedia = true) + """
      |SELECT doc_id, CAST(pos AS BIGINT) AS pos, kind, text, src, alt
      |FROM l ORDER BY doc_id, pos""".stripMargin

  /** interleaved-packing oracle: the q_interleaved_docs item
    * construction + the cost rule (image → 64, text → whitespace token
    * count) + in-document and cross-document prefix sums + the
    * capacity-512 division — the q_sft_pack chain re-based onto
    * multimodal items. */
  private[graft] def interleavedPackOracleSql: String =
    "WITH " + interleavedFixtureCtes(withMedia = false) + """,
      |c AS (
      |  SELECT doc_id, pos, kind,
      |    CAST(CASE WHEN kind = 'image' THEN 64
      |         ELSE len(list_filter(string_split_regex(text, '\s+'),
      |                   x -> x <> ''))
      |    END AS BIGINT) AS n_tok
      |  FROM l),
      |doc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_items,
      |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      |  FROM c GROUP BY doc_id),
      |packed AS (
      |  SELECT doc_id, n_items, n_tokens,
      |    SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
      |      AS g0,
      |    SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM doc),
      |it AS (
      |  SELECT doc_id, pos, kind, n_tok,
      |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS st
      |  FROM c)
      |SELECT p.doc_id, p.n_items, p.n_tokens,
      |  CAST(p.g0 // 512 AS BIGINT) AS seq_id,
      |  (p.n_tokens > 0 AND (p.cum - 1) // 512 <> p.g0 // 512) AS is_split,
      |  CAST(i.pos AS BIGINT) AS pos, i.kind, i.n_tok,
      |  CAST(p.g0 + i.st AS BIGINT) AS g_start,
      |  CAST(p.g0 + i.st + i.n_tok AS BIGINT) AS g_end
      |FROM packed p JOIN it i USING (doc_id)
      |ORDER BY p.doc_id, i.pos""".stripMargin

  /** warc-image-pairs oracle: the page-side construction (src, alt,
    * figcaption) joined to the direct-decode pixel formula of
    * [[imageDecodeOracleSql]] — extraction, resolution, and the decoded
    * planes must agree in one frame. */
  private[graft] val warcImagePairsOracleSql: String =
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

  /** sitemap-seeds oracle, shared verbatim by the text-path query
    * (q_sitemap_seeds) and the gzipped/mixed binary path
    * (q_sitemap_gz — codec transparency is the gate). */
  private[graft] val sitemapSeedsOracleSql: String =
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

  /** sft-assembly oracle: the frozen ChatML template's length
    * arithmetic replayed per turn — prefix-sum starts, whole-turn and
    * content-only intervals, assistant-span train flags. The 12/1/11
    * literals are length("<|im_start|>"), the "\n" after the role, and
    * length("<|im_end|>\n") — frozen with the template. */
  private[graft] val sftAssembleOracleSql: String =
        """WITH tu AS (
      |  SELECT doc_id // 4 AS conversation_id, doc_id % 4 AS turn_idx,
      |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |    'Turn ' || CAST(doc_id % 4 AS VARCHAR) || ': ' ||
      |      array_to_string(list_slice(
      |        list_filter(string_split(text, ' '), x -> x <> ''), 1, 4),
      |        ' ') AS t
      |  FROM documents),
      |r AS (
      |  SELECT conversation_id, turn_idx, role,
      |    CAST(length('<|im_start|>' || role || chr(10) || t ||
      |      '<|im_end|>' || chr(10)) AS BIGINT) AS rlen
      |  FROM tu),
      |sp AS (
      |  SELECT conversation_id, turn_idx, role, rlen,
      |    CAST(COALESCE(SUM(rlen) OVER (PARTITION BY conversation_id
      |      ORDER BY turn_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS start_char,
      |    CAST(COUNT(*) OVER (PARTITION BY conversation_id) AS BIGINT)
      |      AS n_turns,
      |    CAST(SUM(rlen) OVER (PARTITION BY conversation_id) AS BIGINT)
      |      AS rendered_len
      |  FROM r)
      |SELECT CAST(conversation_id AS BIGINT) AS conversation_id, n_turns,
      |  rendered_len, CAST(turn_idx AS BIGINT) AS turn_idx, role,
      |  start_char, start_char + rlen AS end_char,
      |  start_char + 12 + length(role) + 1 AS content_start,
      |  start_char + rlen - 11 AS content_end,
      |  role = 'assistant' AS train
      |FROM sp ORDER BY conversation_id, turn_idx""".stripMargin

  /** sft-packing oracle: template lengths → conversation prefix sums →
    * capacity-512 packing division → per-span global offset shifts, all
    * replayed from the shared turn construction. */
  private[graft] val sftPackOracleSql: String =
        """WITH tu AS (
      |  SELECT doc_id // 4 AS conversation_id, doc_id % 4 AS turn_idx,
      |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |    'Turn ' || CAST(doc_id % 4 AS VARCHAR) || ': ' ||
      |      array_to_string(list_slice(
      |        list_filter(string_split(text, ' '), x -> x <> ''), 1, 4),
      |        ' ') AS t
      |  FROM documents),
      |r AS (
      |  SELECT conversation_id, turn_idx, role,
      |    CAST(length('<|im_start|>' || role || chr(10) || t ||
      |      '<|im_end|>' || chr(10)) AS BIGINT) AS rlen
      |  FROM tu),
      |conv AS (
      |  SELECT conversation_id, CAST(SUM(rlen) AS BIGINT) AS n_chars
      |  FROM r GROUP BY conversation_id),
      |packed AS (
      |  SELECT conversation_id, n_chars,
      |    SUM(n_chars) OVER (ORDER BY conversation_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars
      |      AS g0,
      |    SUM(n_chars) OVER (ORDER BY conversation_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM conv),
      |sp AS (
      |  SELECT conversation_id, turn_idx, role, rlen,
      |    CAST(COALESCE(SUM(rlen) OVER (PARTITION BY conversation_id
      |      ORDER BY turn_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS start_char
      |  FROM r)
      |SELECT p.conversation_id, p.n_chars,
      |  CAST(p.g0 // 512 AS BIGINT) AS seq_id,
      |  (p.n_chars > 0 AND (p.cum - 1) // 512 <> p.g0 // 512) AS is_split,
      |  CAST(s.turn_idx AS BIGINT) AS turn_idx, s.role,
      |  CAST(p.g0 + s.start_char AS BIGINT) AS g_start,
      |  CAST(p.g0 + s.start_char + s.rlen AS BIGINT) AS g_end,
      |  CAST(p.g0 + s.start_char + 12 + length(s.role) + 1 AS BIGINT)
      |    AS g_content_start,
      |  CAST(p.g0 + s.start_char + s.rlen - 11 AS BIGINT) AS g_content_end,
      |  s.role = 'assistant' AS train
      |FROM packed p JOIN sp s USING (conversation_id)
      |ORDER BY p.conversation_id, s.turn_idx""".stripMargin

  /** token-exact sft-packing oracle: the frozen-BPE recursive-CTE
    * fixpoint (the q_bpe_tokenize oracle's engine, same literalized
    * merge table) run over the TURN texts for per-turn token counts,
    * composed with the q_sft_pack prefix-sum / packing-division chain
    * in token units. The +5/+3/−2 literals are the frozen ChatML token
    * overhead ([[operators.Sft.TurnOverheadTokens]] and its halves);
    * span_text_ok replays as TRUE — the engine-side cross-path identity
    * (packed token-span width == independent re-tokenization of the
    * char-span substring, detokenization == cleaned words) must hold on
    * every row or the hash fails. */
  /** The literalized frozen-merge VALUES table — one source of truth
    * (the engine's [[operators.BpeTokenizer.frozenMerges]]) shared by
    * every oracle that replays the BPE fixpoint. */
  private[graft] def frozenMergeValues: String = {
    def q(s: String): String = s.replace("'", "''")
    operators.BpeTokenizer.frozenMerges.zipWithIndex
      .map { case ((x, y), r) => s"($r, '${q(x)}', '${q(y)}')" }.mkString(", ")
  }

  /** The frozen-BPE WORD-COUNT CTE pair: given `mg(r, x, y)` and a
    * `dw(word)` CTE of distinct words in scope, emits `enc` (the
    * rank-ordered replace-to-fixpoint recursion) and `wtok(word, ntk)`
    * — the per-word token counts every token-budget oracle reuses. */
  private[graft] def bpeWordCountCtes: String = {
    val maxRank = operators.BpeTokenizer.frozenMerges.size
    s"""enc AS (
       |  SELECT word,
       |    chr(1) || array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> substring(word, i, 1) ||
       |        CASE WHEN i = length(word) THEN '</w>' ELSE '' END), chr(1))
       |      || chr(1) AS seq,
       |    0 AS r
       |  FROM dw
       |  UNION ALL
       |  SELECT word,
       |    CASE WHEN np <> seq THEN np ELSE seq END,
       |    CASE WHEN np <> seq THEN r ELSE r + 1 END
       |  FROM (
       |    SELECT e.word, e.seq, e.r,
       |      replace(replace(e.seq,
       |        chr(1) || m.x || chr(1) || m.y || chr(1),
       |        chr(1) || m.x || m.y || chr(2)), chr(2), chr(1)) AS np
       |    FROM enc e JOIN mg m ON m.r = e.r) s),
       |wtok AS (
       |  SELECT word,
       |    CAST(len(list_filter(string_split(seq, chr(1)), q -> q <> ''))
       |      AS BIGINT) AS ntk
       |  FROM enc WHERE r = $maxRank)""".stripMargin
  }

  /** Per-turn frozen-BPE token lengths: given `mg` and a
    * `tu(conversation_id, turn_idx, role, t)` CTE in scope, emits
    * `r2(conversation_id, turn_idx, role, rlen)` — rlen = content
    * tokens + the frozen ChatML overhead of 5. Shared by the packing
    * and assembly oracle tails. */
  private[graft] def turnTokenLenCtes: String =
    s"""ttk AS (
       |  SELECT conversation_id, turn_idx,
       |    list_filter(string_split_regex(trim(lower(t)), '\\s+'),
       |                x -> x <> '') AS tk
       |  FROM tu),
       |tw AS (
       |  SELECT conversation_id, turn_idx, list_extract(tk, i) AS word
       |  FROM ttk, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r),
       |dw AS (SELECT DISTINCT word FROM tw),
       |""".stripMargin + bpeWordCountCtes + s""",
       |tn AS (
       |  SELECT conversation_id, turn_idx, CAST(SUM(ntk) AS BIGINT) AS k
       |  FROM tw JOIN wtok USING (word) GROUP BY 1, 2),
       |r2 AS (
       |  SELECT tu.conversation_id, tu.turn_idx, tu.role,
       |    COALESCE(tn.k, 0) + 5 AS rlen
       |  FROM tu LEFT JOIN tn USING (conversation_id, turn_idx))""".stripMargin

  /** Token-space ASSEMBLY oracle tail (no packing): per-conversation
    * span intervals in token units — the q_sft_assemble arithmetic
    * re-based onto [[turnTokenLenCtes]]' rlen. */
  private[graft] def tokenAssembleOracleTail: String =
    turnTokenLenCtes + s""",
       |nt AS (
       |  SELECT conversation_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
       |    CAST(SUM(rlen) AS BIGINT) AS n_tokens
       |  FROM r2 GROUP BY conversation_id),
       |sp AS (
       |  SELECT conversation_id, turn_idx, role, rlen,
       |    CAST(COALESCE(SUM(rlen) OVER (PARTITION BY conversation_id
       |      ORDER BY turn_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS start_tok
       |  FROM r2)
       |SELECT CAST(s.conversation_id AS BIGINT) AS conversation_id,
       |  n.n_turns, n.n_tokens,
       |  CAST(s.turn_idx AS BIGINT) AS turn_idx, s.role, s.start_tok,
       |  CAST(s.start_tok + s.rlen AS BIGINT) AS end_tok,
       |  CAST(s.start_tok + 3 AS BIGINT) AS content_start,
       |  CAST(s.start_tok + s.rlen - 2 AS BIGINT) AS content_end,
       |  s.role = 'assistant' AS train
       |FROM sp s JOIN nt n USING (conversation_id)
       |ORDER BY conversation_id, turn_idx""".stripMargin

  /** The shared BPE-fixpoint + ChatML token-PACKING oracle tail: given
    * `mg(r, x, y)` (the frozen merges) and a
    * `tu(conversation_id, turn_idx, role, t)` turn CTE already in
    * scope, tokenizes every turn under the merges (via
    * [[turnTokenLenCtes]]), applies the per-conversation prefix sums
    * and the `capacity` packing division. `extraCols` appends
    * engine-side gate columns (e.g. `, TRUE AS span_text_ok`). Shared
    * verbatim by q_sft_pack_tokens and the q_sft_pipeline capstone. */
  private[graft] def tokenPackOracleTail(capacity: Int, extraCols: String): String = {
    turnTokenLenCtes + s""",
       |conv AS (
       |  SELECT conversation_id, CAST(SUM(rlen) AS BIGINT) AS n_tokens
       |  FROM r2 GROUP BY conversation_id),
       |packed AS (
       |  SELECT conversation_id, n_tokens,
       |    SUM(n_tokens) OVER (ORDER BY conversation_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
       |      AS g0,
       |    SUM(n_tokens) OVER (ORDER BY conversation_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM conv),
       |sp AS (
       |  SELECT conversation_id, turn_idx, role, rlen,
       |    CAST(COALESCE(SUM(rlen) OVER (PARTITION BY conversation_id
       |      ORDER BY turn_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS start_tok
       |  FROM r2)
       |SELECT CAST(p.conversation_id AS BIGINT) AS conversation_id,
       |  p.n_tokens,
       |  CAST(p.g0 // $capacity AS BIGINT) AS seq_id,
       |  (p.n_tokens > 0 AND (p.cum - 1) // $capacity <> p.g0 // $capacity)
       |    AS is_split,
       |  CAST(s.turn_idx AS BIGINT) AS turn_idx, s.role,
       |  CAST(p.g0 + s.start_tok AS BIGINT) AS g_start,
       |  CAST(p.g0 + s.start_tok + s.rlen AS BIGINT) AS g_end,
       |  CAST(p.g0 + s.start_tok + 3 AS BIGINT) AS g_content_start,
       |  CAST(p.g0 + s.start_tok + s.rlen - 2 AS BIGINT) AS g_content_end,
       |  s.role = 'assistant' AS train$extraCols
       |FROM packed p JOIN sp s USING (conversation_id)
       |ORDER BY p.conversation_id, s.turn_idx""".stripMargin
  }

  /** bpe-fertility oracle: the frozen-BPE fixpoint per distinct
    * word, token counts joined back to word instances, per-source sums,
    * and the two ppm fixed-point ratios. */
  private[graft] def bpeFertilityOracleSql: String = {
    s"""WITH RECURSIVE
       |mg(r, x, y) AS (SELECT * FROM (VALUES $frozenMergeValues) v(r, x, y)),
       |toks AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |                t -> t <> '') AS tk
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, source, list_extract(tk, i) AS word
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r),
       |dw AS (SELECT DISTINCT word FROM w),
       |""".stripMargin + bpeWordCountCtes + s""",
       |pw AS (
       |  SELECT w.source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(t.ntk) AS BIGINT) AS n_tokens,
       |    CAST(SUM(length(w.word)) AS BIGINT) AS n_chars
       |  FROM w JOIN wtok t USING (word) GROUP BY w.source),
       |nd AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY source)
       |SELECT nd.source, nd.n_docs,
       |  COALESCE(pw.n_words, 0) AS n_words,
       |  COALESCE(pw.n_tokens, 0) AS n_tokens,
       |  COALESCE(pw.n_chars, 0) AS n_chars,
       |  CASE WHEN COALESCE(pw.n_words, 0) = 0 THEN NULL
       |    ELSE CAST((1000000 * pw.n_tokens) // pw.n_words AS BIGINT) END
       |    AS fertility_ppm,
       |  CASE WHEN COALESCE(pw.n_tokens, 0) = 0 THEN NULL
       |    ELSE CAST((1000000 * pw.n_chars) // pw.n_tokens AS BIGINT) END
       |    AS chars_per_token_ppm
       |FROM nd LEFT JOIN pw ON pw.source = nd.source
       |ORDER BY nd.source""".stripMargin
  }

  private[graft] def sftPackTokensOracleSql: String =
    s"""WITH RECURSIVE
       |mg(r, x, y) AS (SELECT * FROM (VALUES $frozenMergeValues) v(r, x, y)),
       |tu AS (
       |  SELECT doc_id // 4 AS conversation_id, doc_id % 4 AS turn_idx,
       |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
       |    'Turn ' || CAST(doc_id % 4 AS VARCHAR) || ': ' ||
       |      array_to_string(list_slice(
       |        list_filter(string_split(text, ' '), x -> x <> ''), 1, 4),
       |        ' ') AS t
       |  FROM documents),
       |""".stripMargin +
      tokenPackOracleTail(256, ",\n  TRUE AS span_text_ok")

  /** token-space assembly oracle: the shared turn fixture fed through
    * [[tokenAssembleOracleTail]] — per-turn token-span intervals, no
    * packing. Shared verbatim by the batch query and its streaming
    * twin. */
  private[graft] def sftAssembleTokensOracleSql: String =
    s"""WITH RECURSIVE
       |mg(r, x, y) AS (SELECT * FROM (VALUES $frozenMergeValues) v(r, x, y)),
       |tu AS (
       |  SELECT doc_id // 4 AS conversation_id, doc_id % 4 AS turn_idx,
       |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
       |    'Turn ' || CAST(doc_id % 4 AS VARCHAR) || ': ' ||
       |      array_to_string(list_slice(
       |        list_filter(string_split(text, ' '), x -> x <> ''), 1, 4),
       |        ' ') AS t
       |  FROM documents),
       |""".stripMargin + tokenAssembleOracleTail

  /** token-exact interleaved-packing oracle: the q_interleaved_pack
    * chain with TEXT costs from the frozen-BPE fixpoint instead of
    * whitespace counts (images keep the constant 64-token placeholder
    * budget). */
  private[graft] def interleavedPackTokensOracleSql: String =
    s"""WITH RECURSIVE
      |mg(r, x, y) AS (SELECT * FROM (VALUES $frozenMergeValues) v(r, x, y)),
      |""".stripMargin + interleavedFixtureCtes(withMedia = false) + s""",
      |it0 AS (
      |  SELECT doc_id, pos, kind,
      |    CASE WHEN kind = 'text' THEN
      |      list_filter(string_split_regex(trim(lower(text)), '\\s+'),
      |                  x -> x <> '') END AS tk
      |  FROM l),
      |tw AS (
      |  SELECT doc_id, pos, list_extract(tk, i) AS word
      |  FROM it0, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r
      |  WHERE tk IS NOT NULL),
      |dw AS (SELECT DISTINCT word FROM tw),
      |""".stripMargin + bpeWordCountCtes + s""",
      |tcost AS (
      |  SELECT doc_id, pos, CAST(SUM(ntk) AS BIGINT) AS c
      |  FROM tw JOIN wtok USING (word) GROUP BY 1, 2),
      |c AS (
      |  SELECT i.doc_id, i.pos, i.kind,
      |    CAST(CASE WHEN i.kind = 'image' THEN 64
      |         ELSE COALESCE(t.c, 0) END AS BIGINT) AS n_tok
      |  FROM it0 i LEFT JOIN tcost t USING (doc_id, pos)),
      |doc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_items,
      |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      |  FROM c GROUP BY doc_id),
      |packed AS (
      |  SELECT doc_id, n_items, n_tokens,
      |    SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
      |      AS g0,
      |    SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM doc),
      |it AS (
      |  SELECT doc_id, pos, kind, n_tok,
      |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS st
      |  FROM c)
      |SELECT p.doc_id, p.n_items, p.n_tokens,
      |  CAST(p.g0 // 512 AS BIGINT) AS seq_id,
      |  (p.n_tokens > 0 AND (p.cum - 1) // 512 <> p.g0 // 512) AS is_split,
      |  CAST(i.pos AS BIGINT) AS pos, i.kind, i.n_tok,
      |  CAST(p.g0 + i.st AS BIGINT) AS g_start,
      |  CAST(p.g0 + i.st + i.n_tok AS BIGINT) AS g_end
      |FROM packed p JOIN it i USING (doc_id)
      |ORDER BY p.doc_id, i.pos""".stripMargin

  /** ffd-packing oracle: the whole per-shard first-fit-decreasing fold
    * replayed — Knuth shard hash (the q_corpus_shuffle formula), docs
    * ranked (tokens desc, id) per shard, and a recursive CTE whose
    * state is the bin-fills LIST: each step first-fits via
    * list_position over the fills, appending a new bin when nothing
    * (including an oversize doc) can take the item. Every document's
    * bin index and running fill hash-match the engine's fold. */
  private[graft] val packFfdOracleSql: String =
        """WITH RECURSIVE
      |toks AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'),
      |      x -> x <> '')) AS BIGINT) AS n,
      |    ((doc_id % 4294967296 // 65536 * 2654435761) % 65536 * 65536
      |     + (doc_id % 65536) * 2654435761) % 4294967296 % 8 AS shard
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, n, shard,
      |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY n DESC, doc_id)
      |      AS rn
      |  FROM toks),
      |f AS (
      |  SELECT shard, 0 AS rn, CAST(NULL AS BIGINT) AS doc_id,
      |    CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS bin,
      |    CAST(NULL AS BIGINT) AS fill_after,
      |    CAST([] AS BIGINT[]) AS fills
      |  FROM (SELECT DISTINCT shard FROM toks)
      |  UNION ALL
      |  SELECT f.shard, d.rn, d.doc_id, d.n,
      |    CAST(CASE WHEN l.ix IS NULL OR l.ix = 0 THEN len(f.fills)
      |         ELSE l.ix - 1 END AS BIGINT),
      |    CAST(CASE WHEN l.ix IS NULL OR l.ix = 0 THEN d.n
      |         ELSE f.fills[l.ix] + d.n END AS BIGINT),
      |    CASE WHEN l.ix IS NULL OR l.ix = 0 THEN list_append(f.fills, d.n)
      |         ELSE list_transform(range(1, len(f.fills) + 1),
      |                i -> CASE WHEN i = l.ix THEN f.fills[i] + d.n
      |                     ELSE f.fills[i] END) END
      |  FROM f JOIN d ON d.shard = f.shard AND d.rn = f.rn + 1,
      |  LATERAL (SELECT list_position(
      |    list_transform(f.fills, x -> x + d.n <= 256), true) AS ix) l)
      |SELECT doc_id, n AS n_tok, shard, bin, fill_after,
      |  n > 256 AS oversize
      |FROM f WHERE rn > 0 ORDER BY doc_id""".stripMargin

  /** ffd-manifest oracle: the full fold replay grouped per (shard,
    * bin). `packFfdOracleSql` is reused verbatim as a subquery. */
  private[graft] def packFfdStatsOracleSql: String =
    s"""SELECT shard, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  bool_or(oversize) AS oversize,
       |  CAST(CASE WHEN bool_or(oversize) THEN 0
       |       ELSE 256 - SUM(n_tok) END AS BIGINT) AS waste
       |FROM ($packFfdOracleSql) p
       |GROUP BY shard, bin ORDER BY shard, bin""".stripMargin

  /** sft-pipeline capstone oracle: the survivor set replays the planted
    * fixture's structure (the sftDedupFuzzyOracleSql discipline —
    * each stage's OPERATOR is independently hash-gated by
    * q_sft_dedup / q_sft_decontam; the capstone gates their
    * COMPOSITION): per planted group of three conversations, the
    * case-variant copy v1 exact-dedups away (min-id survivor v0), and
    * any group containing a benchmark conversation (cid % 11 == 0)
    * drops whole — group-keyed tokens make its three conversations
    * shingle-overlap the benchmark text and nothing else. Survivors
    * then run the REAL frozen-BPE token assembly + capacity-256 packing
    * tail shared with q_sft_pack_tokens. */
  private[graft] def sftPipelineOracleSql: String =
    s"""WITH RECURSIVE
       |mg(r, x, y) AS (SELECT * FROM (VALUES $frozenMergeValues) v(r, x, y)),
       |convs AS (SELECT DISTINCT doc_id // 4 AS cid FROM documents),
       |surv AS (
       |  SELECT cid FROM convs c
       |  WHERE cid % 3 <> 1
       |    AND NOT EXISTS (SELECT 1 FROM convs b
       |                    WHERE b.cid % 11 = 0 AND b.cid // 3 = c.cid // 3)),
       |tu AS (
       |  SELECT doc_id // 4 AS conversation_id, doc_id % 4 AS turn_idx,
       |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
       |    'sft' || CAST((doc_id // 4) // 3 AS VARCHAR) || 'a sft' ||
       |      CAST((doc_id // 4) // 3 AS VARCHAR) || 'b sft' ||
       |      CAST((doc_id // 4) // 3 AS VARCHAR) || 'c turn' ||
       |      CAST(doc_id % 4 AS VARCHAR) ||
       |      CASE WHEN (doc_id // 4) % 3 = 2 AND doc_id % 4 = 3
       |        THEN ' extra' ELSE '' END AS t
       |  FROM documents JOIN surv ON surv.cid = doc_id // 4),
       |""".stripMargin +
      tokenPackOracleTail(256, "")

  /** best-of-n oracle: rank + lead + min/max windows over the shared
    * candidate construction; top-3 ranks, flat-spread prompts emit
    * nothing, margin_next NULL for each prompt's last scored
    * candidate. */
  private[graft] val sftBonOracleSql: String =
        """WITH c AS (
      |  SELECT doc_id // 5 AS prompt_id, doc_id AS cand_id,
      |    'Cand ' || CAST(doc_id % 5 AS VARCHAR) || ': ' ||
      |      array_to_string(list_slice(
      |        list_filter(string_split(text, ' '), x -> x <> ''), 1, 5),
      |        ' ') AS t,
      |    CAST(CASE WHEN (doc_id // 5) % 10 = 0 THEN 50
      |         ELSE (doc_id * 37) % 100 END AS BIGINT) AS s
      |  FROM documents),
      |r AS (
      |  SELECT prompt_id, cand_id, t, s,
      |    row_number() OVER (PARTITION BY prompt_id
      |      ORDER BY s DESC, cand_id DESC) AS rk,
      |    lead(s) OVER (PARTITION BY prompt_id
      |      ORDER BY s DESC, cand_id DESC) AS nxt,
      |    min(s) OVER (PARTITION BY prompt_id) AS smin,
      |    max(s) OVER (PARTITION BY prompt_id) AS smax,
      |    count(*) OVER (PARTITION BY prompt_id) AS n
      |  FROM c)
      |SELECT CAST(prompt_id AS BIGINT) AS prompt_id,
      |  CAST(rk AS BIGINT) AS "rank", cand_id, t AS text, s AS score,
      |  s - nxt AS margin_next, s - smin AS margin_worst,
      |  CAST(n AS BIGINT) AS n_candidates
      |FROM r WHERE rk <= 3 AND smax > smin
      |ORDER BY prompt_id, "rank"""".stripMargin

  /** preference-pairs oracle: argmax/argmin per prompt via rank
    * windows over the candidate construction; flat-spread prompts
    * (every tenth) filtered — they must emit nothing. */
  private[graft] val prefPairsOracleSql: String =
        """WITH c AS (
      |  SELECT doc_id // 5 AS prompt_id, doc_id AS cand_id,
      |    'Cand ' || CAST(doc_id % 5 AS VARCHAR) || ': ' ||
      |      array_to_string(list_slice(
      |        list_filter(string_split(text, ' '), x -> x <> ''), 1, 5),
      |        ' ') AS t,
      |    CAST(CASE WHEN (doc_id // 5) % 10 = 0 THEN 50
      |         ELSE (doc_id * 37) % 100 END AS BIGINT) AS s
      |  FROM documents),
      |r AS (
      |  SELECT prompt_id, cand_id, t, s,
      |    row_number() OVER (PARTITION BY prompt_id
      |      ORDER BY s DESC, cand_id DESC) AS rmax,
      |    row_number() OVER (PARTITION BY prompt_id
      |      ORDER BY s ASC, cand_id ASC) AS rmin,
      |    count(*) OVER (PARTITION BY prompt_id) AS n,
      |    max(s) OVER (PARTITION BY prompt_id) AS smax,
      |    min(s) OVER (PARTITION BY prompt_id) AS smin
      |  FROM c)
      |SELECT a.prompt_id, CAST(a.n AS BIGINT) AS n_candidates,
      |  a.cand_id AS chosen_id, a.t AS chosen_text, a.s AS chosen_score,
      |  b.cand_id AS rejected_id, b.t AS rejected_text,
      |  b.s AS rejected_score
      |FROM r a JOIN r b ON a.prompt_id = b.prompt_id
      |WHERE a.rmax = 1 AND b.rmin = 1 AND a.smax > a.smin
      |ORDER BY a.prompt_id""".stripMargin

  /** sft-decontamination oracle: the q_decontaminate shingle chain over
    * each conversation's concatenated (lowercased) assistant turns vs
    * the benchmark slice's shingle set. */
  private[graft] val sftDecontamOracleSql: String =
        """WITH tu AS (
      |  SELECT doc_id // 4 AS cid, doc_id % 4 AS k,
      |    array_to_string(list_slice(
      |      list_filter(string_split(text, ' '), x -> x <> ''), 1, 8),
      |      ' ') AS t
      |  FROM documents WHERE doc_id % 2 = 1),
      |conv AS (
      |  SELECT cid, lower(string_agg(t, ' ' ORDER BY k)) AS text
      |  FROM tu GROUP BY cid),
      |ctk AS (
      |  SELECT cid, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM conv),
      |csh AS (
      |  SELECT DISTINCT cid,
      |    list_extract(tk, i) || ' ' || list_extract(tk, i+1) || ' ' ||
      |    list_extract(tk, i+2) || ' ' || list_extract(tk, i+3) || ' ' ||
      |    list_extract(tk, i+4) AS s
      |  FROM ctk, LATERAL (SELECT unnest(range(1, len(tk)-3)) AS i) r
      |  WHERE len(tk) >= 5
      |  UNION
      |  SELECT DISTINCT cid, array_to_string(tk, ' ') AS s
      |  FROM ctk WHERE len(tk) < 5),
      |etk AS (
      |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS tk
      |  FROM documents WHERE doc_id % 97 = 0),
      |esh AS (
      |  SELECT DISTINCT
      |    list_extract(tk, i) || ' ' || list_extract(tk, i+1) || ' ' ||
      |    list_extract(tk, i+2) || ' ' || list_extract(tk, i+3) || ' ' ||
      |    list_extract(tk, i+4) AS s
      |  FROM etk, LATERAL (SELECT unnest(range(1, len(tk)-3)) AS i) r
      |  WHERE len(tk) >= 5
      |  UNION
      |  SELECT DISTINCT array_to_string(tk, ' ') AS s
      |  FROM etk WHERE len(tk) < 5)
      |SELECT cid AS conversation_id, CAST(count(*) AS BIGINT) AS n_hits
      |FROM csh JOIN esh USING (s) GROUP BY 1
      |ORDER BY conversation_id""".stripMargin

  /** png-metadata-strip oracle: decode checksums from the pixel
    * formula, emitted twice and thereby pinned EQUAL (the lossless
    * contract), plus the exact removed-chunk byte arithmetic
    * (3 × 12 framing + the two planted text payloads + tIME's 7). */
  private[graft] val imageStripMetaOracleSql: String =
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

  /** text-chunks oracle: the same window-start generation, redundancy
    * filter, tail arithmetic, and slice rebuild in SQL. */
  private[graft] val textChunksOracleSql: String =
        """WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, tk, len(tk) AS n,
      |    unnest(range(0, len(tk), 24)) AS s
      |  FROM tk WHERE len(tk) > 0),
      |keep AS (
      |  SELECT doc_id, tk, n, s,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1
      |      AS chunk_id
      |  FROM st WHERE s = 0 OR s - 24 + 32 < n)
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |  CAST(s AS BIGINT) AS start_tok,
      |  CAST(least(32, n - s) AS BIGINT) AS n_tok,
      |  array_to_string(tk[s+1:s+32], ' ') AS chunk_text
      |FROM keep ORDER BY doc_id, chunk_id""".stripMargin

  /** rag-pipeline oracle: the full chain replayed — 32/24 sliding
    * chunks, the fixed-arithmetic hashed embedding (integer components,
    * so the double cosine is bit-identical cross-engine), exact top-10
    * with (cosine desc, neighbor) ties, the key-derived relevance
    * grades, and the frozen-ppm nDCG table. ann_ok replays TRUE — the
    * engine-side IVF-PQ persistence + recall gate must hold or the hash
    * fails. */
  private[graft] val ragPipelineOracleSql: String =
        """WITH tk AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
      |  FROM documents),
      |ch AS (
      |  SELECT doc_id, source, CAST(j AS BIGINT) AS chunk_id,
      |    list_transform(
      |      tk[24*j + 1:least(24*j + 32, len(tk))], w -> lower(w)) AS ctk
      |  FROM tk, LATERAL (SELECT unnest(range(0, ((len(tk) - 1) // 24) + 1)) AS j) r
      |  WHERE len(tk) > 0 AND (j = 0 OR 24*j + 8 < len(tk))),
      |emb AS (
      |  SELECT doc_id, source, chunk_id,
      |    doc_id * 4096 + chunk_id AS vec_id,
      |    list_transform(range(0, 16), b ->
      |      list_sum(list_transform(ctk, t ->
      |        CASE WHEN (3*length(t) + 7*unicode(t)
      |                   + 13*unicode(substring(t, length(t), 1))) % 16 = b
      |          THEN CASE WHEN (length(t) + unicode(t)) % 2 = 0
      |               THEN 1.0 ELSE -1.0 END
      |          ELSE 0.0 END))) AS v
      |  FROM ch),
      |scored AS (
      |  SELECT q.vec_id AS query, q.doc_id AS qdoc, q.source AS qsrc,
      |    c.vec_id AS neighbor_id, c.doc_id AS cdoc,
      |    c.chunk_id AS cchunk, c.source AS csrc,
      |    list_sum(list_transform(list_zip(q.v, c.v),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
      |         * sqrt(list_sum(list_transform(c.v, x -> x * x)))) AS cos
      |  FROM emb q JOIN emb c
      |    ON NOT (c.doc_id % 25 = 7 AND c.chunk_id = 0)
      |  WHERE q.doc_id % 25 = 7 AND q.chunk_id = 0
      |    AND list_sum(list_transform(q.v, x -> x * x)) > 0
      |    AND list_sum(list_transform(c.v, x -> x * x)) > 0),
      |ranked AS (
      |  SELECT query, rank, rel FROM (
      |    SELECT query, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY query
      |        ORDER BY cos DESC, neighbor_id) AS rank,
      |      CASE WHEN qdoc = cdoc THEN
      |             (CASE WHEN cchunk = 1 THEN 3 ELSE 2 END)
      |           WHEN qsrc = csrc THEN 1 ELSE 0 END AS rel
      |    FROM scored) t
      |  WHERE rank <= 10),
      |disc(r, d) AS (VALUES (1, 1000000), (2, 630930), (3, 500000),
      |  (4, 430677), (5, 386853), (6, 356207), (7, 333333), (8, 315465),
      |  (9, 301030), (10, 289065)),
      |ideal AS (
      |  SELECT query, rank, rel,
      |    ROW_NUMBER() OVER (PARTITION BY query
      |      ORDER BY rel DESC, rank ASC) AS irank
      |  FROM ranked),
      |agg AS (
      |  SELECT query, COUNT(*) AS n_ranked,
      |    CAST(SUM(rel * ds.d) AS BIGINT) AS dcg_ppm,
      |    CAST(SUM(rel * di.d) AS BIGINT) AS idcg_ppm
      |  FROM ideal JOIN disc ds ON ds.r = rank JOIN disc di ON di.r = irank
      |  GROUP BY query)
      |SELECT query, n_ranked, dcg_ppm, idcg_ppm,
      |  CASE WHEN idcg_ppm > 0
      |    THEN CAST((1000000 * dcg_ppm) // idcg_ppm AS BIGINT)
      |    ELSE NULL END AS ndcg_ppm,
      |  TRUE AS ann_ok
      |FROM agg ORDER BY query""".stripMargin

  /** sft-exact-dedup oracle: rendered conversations rebuilt in SQL and
    * grouped — min-id survivor, copy count, 256-bit fingerprint. */
  private[graft] val sftDedupOracleSql: String =
        """WITH tu AS (
      |  SELECT doc_id // 4 AS cid, doc_id % 4 AS k,
      |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |    'sft' || CAST((doc_id // 4) // 3 AS VARCHAR) || 'a sft' ||
      |      CAST((doc_id // 4) // 3 AS VARCHAR) || 'b sft' ||
      |      CAST((doc_id // 4) // 3 AS VARCHAR) || 'c turn' ||
      |      CAST(doc_id % 4 AS VARCHAR) ||
      |      CASE WHEN (doc_id // 4) % 3 = 2 AND doc_id % 4 = 3
      |        THEN ' extra' ELSE '' END AS t
      |  FROM documents),
      |r AS (
      |  SELECT cid, string_agg('<|im_start|>' || role || chr(10) || t ||
      |    '<|im_end|>' || chr(10), '' ORDER BY k) AS rendered
      |  FROM tu GROUP BY cid)
      |SELECT sha256(rendered) AS fp, CAST(MIN(cid) AS BIGINT)
      |    AS conversation_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_convs
      |FROM r GROUP BY rendered ORDER BY conversation_id""".stripMargin

  /** sft-fuzzy-dedup oracle: within each planted group of three
    * full conversations, the lowercase-identical pair scores 1.0 and
    * the one-token-appended sibling scores 11/12 against each — the
    * banding must surface exactly these pairs and the exact re-score
    * exactly these values. */
  private[graft] val sftDedupFuzzyOracleSql: String =
        """WITH convs AS (
      |  SELECT doc_id // 4 AS cid FROM documents
      |  GROUP BY 1 HAVING COUNT(*) = 4),
      |g AS (SELECT cid, cid // 3 AS grp, cid % 3 AS v FROM convs)
      |SELECT a.cid AS idA, b.cid AS idB,
      |  CASE WHEN (a.v = 2) = (b.v = 2) THEN 1.0
      |       ELSE round(11.0 / 12.0, 6) END AS jaccard
      |FROM g a JOIN g b ON a.grp = b.grp AND a.cid < b.cid
      |ORDER BY idA, idB""".stripMargin

  /** html-tables oracle, shared verbatim by the batch extraction and
    * its streaming twin. */
  private[graft] val htmlTablesOracleSql: String =
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

  /** Mojibake-fixture suffixes (clean forms): one CP1252-repairable,
    * one Greek (latin-1-fallback path), one symbol pair — shared by the
    * query's corruption/repair chain and the oracle's clean rebuild. */
  private[graft] val MojiSuffixes: Seq[String] =
    Seq(" – café «ß»", " αβγδ", " ©2026 ™")

  /** Mojibake oracle: repair must restore the CLEAN construction for
    * every row — corrupted rows (UTF-8 bytes mis-decoded latin-1) must
    * come back exactly, and the uncorrupted control rows (id%5==0) must
    * pass through untouched (the strict-decode false-positive guard). */
  private[graft] val mojibakeOracleSql: String =
    s"""SELECT doc_id, text || CASE doc_id % 3
       |    WHEN 0 THEN '${MojiSuffixes(0)}'
       |    WHEN 1 THEN '${MojiSuffixes(1)}'
       |    ELSE '${MojiSuffixes(2)}' END AS fixed
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Font-decoding oracle (q_pdf_unicode): the unicode fixture shows
    * line i through font i%3 (WinAnsi / MacRoman+Differences /
    * Identity-H+ToUnicode) with [[graft.expr.PdfOps.unicodeSuffix]]
    * appended — the expected suffixes are interpolated from the SAME
    * Scala constants the generator encodes through its inverse tables,
    * so engine and oracle agree by construction and any byte the
    * decoder maps wrong breaks the hash. */
  private[graft] val pdfUnicodeOracleSql: String = {
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

  /** MISLABELED archives: every response's
    * Content-Type header deliberately contradicts its payload (PNG as
    * text/html, PDF as image/png, HTML as octet-stream, WAV as
    * text/plain, plain text as application/pdf) — the real-crawl
    * pathology the magic-byte sniffer exists for. */
  private[graft] def warcMimeFixtureDir(s: SparkSession, dir: String): String =
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
  private[graft] def warcRedirFixtureDir(s: SparkSession, dir: String): String =
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

  /** The sitemap fixture's parsed url-entries (domain, kind, loc,
    * lastmod), index→child resolution included — shared by the seeds
    * and recrawl-plan queries: even-k domains publish one direct
    * urlset, odd-k domains a sitemapindex whose two children are only
    * reachable through the index join. */
  /** The raw sitemap DOCUMENT frame (domain, url, xml): every domain's
    * /sitemap.xml (even-k: a direct urlset; odd-k: a sitemapindex) plus
    * the odd-k domains' two child urlsets at their own URLs. */
  private[graft] def sitemapDocs(s: SparkSession, dir: String): DataFrame = {
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
  private[graft] def sitemapDocsGz(s: SparkSession, dir: String): DataFrame = {
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
  private[graft] def sitemapEntriesFrom(s: SparkSession, dir: String,
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

  private[graft] def sitemapUrlEntries(s: SparkSession, dir: String): DataFrame =
    sitemapEntriesFrom(s, dir, sitemapDocs(s, dir)
      .filter(col("url").endsWith("/sitemap.xml")))

  /** Head-directive fixture page: a `<base>` on every third document,
    * a `rel=canonical` onto a shared /docs/c<id%5> target on evens, a
    * robots `<meta>` rotating noindex+nofollow / nofollow / explicit
    * index,follow / absent by id%4, and a two-anchor body (one rooted,
    * one relative) for the gate's link-vote count. */
  private[graft] def headFixtureHtml: Column = {
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

  /** The q_html_tables computation (fixture page → typed cell rows) as
    * a pure per-row projection over a (doc_id, text) frame — shared
    * verbatim by the batch query and its streaming twin. */
  private[graft] val htmlTableRows: DataFrame => DataFrame = docs => {
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
  private[graft] val htmlLinksRows: DataFrame => DataFrame = docs => {
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
  private[graft] val htmlImageRows: DataFrame => DataFrame = docs => {
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

  /** The q_interleaved_docs computation (fixture page → ordered
    * text/image item sequence) as a pure per-row projection — shared
    * verbatim by the batch query and its streaming twin. The fixture
    * alternates content paragraphs, image slots, a fully-linked nav
    * run (boilerplate — dropped), and a short trailing run that
    * inherits the boilerplate label (dropped), so the emitted sequence
    * exercises every classification branch while staying replayable:
    * positions 0..3 = text, image, image, text. */
  private[graft] val htmlInterleavedRows: DataFrame => DataFrame = docs => {
    val id = col("doc_id").cast("string")
    val words5 = array_join(slice(filter(split(col("text"), " "),
      w => length(w) > 0), 1, 5), " ")
    val words3 = array_join(slice(filter(split(col("text"), " "),
      w => length(w) > 0), 1, 3), " ")
    val html = concat(
      lit("<html><body>"),
      lit("<p>Opening paragraph for document "), id, lit(" about "),
      words5, lit(" with enough length.</p>"),
      lit("<img src=\"/img/"), id, lit(".png\" alt=\"one-"),
      pmod(col("doc_id"), lit(13)), lit("\">"),
      lit("<p><a href=\"/nav\">site navigation menu</a></p>"),
      lit("<img src=\"//cdn."), col("source"), lit(".example.com/m"),
      pmod(col("doc_id"), lit(7)), lit(".webp\">"),
      lit("<p>Tail.</p>"),
      lit("<p>Closing paragraph reciting "), words3,
      lit(" once more for position four.</p>"),
      lit("</body></html>"))
    docs.select(col("doc_id"),
        explode(graft.expr.HtmlExpressions.html_interleaved(html))
          .as("it"))
      .select(col("doc_id"), col("it.pos").cast("long").as("pos"),
        col("it.kind").as("kind"), col("it.text").as("text"),
        col("it.src").as("src"), col("it.alt").as("alt"))
  }

  /** The q_html_markdown computation (fixture page → rendered markdown)
    * as a pure per-row projection over a (doc_id, text) frame — shared
    * verbatim by the batch query and its streaming twin. */
  private[graft] val htmlMarkdownRows: DataFrame => DataFrame = docs => {
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

  /** SFT-assembly turn fixture: conversations of four turns (doc_id/4),
    * alternating user/assistant roles, turn text from each document's
    * first four words — shared by the assembly query and the packing
    * capstone so the oracle's length arithmetic is derived once. */
  private[graft] def sftAssembleTurns(s: SparkSession, dir: String): DataFrame = {
    val words4 = array_join(slice(filter(split(col("text"), " "),
      w => length(w) > 0), 1, 4), " ")
    t(s, dir, "documents").select(
      floor(col("doc_id") / 4).cast("long").as("conv_id"),
      pmod(col("doc_id"), lit(4)).cast("long").as("turn_idx"),
      when(pmod(col("doc_id"), lit(2)) === 0, "user")
        .otherwise("assistant").as("role"),
      concat(lit("Turn "), pmod(col("doc_id"), lit(4)).cast("string"),
        lit(": "), words4).as("text"))
  }

  /** Preference-candidate fixture: five scored candidates per prompt
    * (doc_id/5), candidate text from each document's first five words,
    * score = (doc_id·37) mod 100 — except every tenth prompt, whose
    * candidates all score a FLAT 50 (the no-signal contract probe).
    * Shared by the pair query, its streaming twin, and the best-of-n
    * export so all three provably rank the same candidates. */
  private[graft] def prefCandidates(s: SparkSession, dir: String): DataFrame = {
    val words5 = array_join(slice(filter(split(col("text"), " "),
      w => length(w) > 0), 1, 5), " ")
    val promptId = floor(col("doc_id") / 5).cast("long")
    t(s, dir, "documents").select(promptId.as("prompt_id"),
      col("doc_id").as("cand_id"),
      concat(lit("Cand "), pmod(col("doc_id"), lit(5)).cast("string"),
        lit(": "), words5).as("text"),
      when(pmod(promptId, lit(10)) === 0, lit(50L))
        .otherwise(pmod(col("doc_id") * 37, lit(100)))
        .cast("long").as("score"))
  }

  /** The q_sft_assemble computation (turns → per-turn span rows) as a
    * projection over a turn frame — shared verbatim by the batch query
    * and its streaming twin (conversation-complete micro-batches make
    * the per-batch aggregate exact). */
  private[graft] val sftAssembleProjected: DataFrame => DataFrame = turns =>
    operators.Sft.assemble(turns, "conv_id", "turn_idx", "role", "text")
      .select(col("conversation_id"), col("n_turns"),
        length(col("rendered")).cast("long").as("rendered_len"),
        explode(col("spans")).as("sp"))
      .select(col("conversation_id"), col("n_turns"), col("rendered_len"),
        col("sp.turn_idx").as("turn_idx"), col("sp.role").as("role"),
        col("sp.start_char").as("start_char"),
        col("sp.end_char").as("end_char"),
        col("sp.content_start").as("content_start"),
        col("sp.content_end").as("content_end"),
        col("sp.train").as("train"))

  /** The q_sft_assemble_tokens computation (turns → per-turn TOKEN-span
    * rows under the frozen BPE) as a projection over a turn frame —
    * shared verbatim by the batch query and its streaming twin (the
    * grouped-runner contract makes the per-batch aggregate exact). */
  private[graft] val sftTokenAssembleProjected: DataFrame => DataFrame = turns =>
    operators.Sft.assembleTokenSpans(turns, "conv_id", "turn_idx", "role",
        "text", operators.BpeTokenizer.frozenMerges)
      .select(col("conversation_id"), col("n_turns"), col("n_tokens"),
        explode(col("spans")).as("sp"))
      .select(col("conversation_id"), col("n_turns"), col("n_tokens"),
        col("sp.turn_idx").as("turn_idx"), col("sp.role").as("role"),
        col("sp.start_tok").as("start_tok"),
        col("sp.end_tok").as("end_tok"),
        col("sp.content_start").as("content_start"),
        col("sp.content_end").as("content_end"),
        col("sp.train").as("train"))

  /** SFT-dedup turn fixture: conversations of four turns (doc_id/4),
    * grouped three-by-three (conv_id/3) onto a shared group-keyed token
    * text, so each group plants one dedup cluster: conversations 0 and
    * 1 of the group carry identical words (conversation 1 UPPERCASED
    * when `caseVariant` — the normalization probe), conversation 2
    * appends one trailing token to its last turn (the near-dup probe:
    * 11 of 12 trigram shingles shared). Token streams are group-keyed
    * in every 3-gram window, so cross-group shingle overlap is zero by
    * construction. */
  private[graft] def sftDedupTurns(s: SparkSession, dir: String,
                            caseVariant: Boolean): DataFrame = {
    val docs = t(s, dir, "documents")
    val convId = floor(col("doc_id") / 4).cast("long")
    val k = pmod(col("doc_id"), lit(4))
    val grp = floor(convId / 3).cast("long").cast("string")
    val v = pmod(convId, lit(3))
    val base = concat(lit("sft"), grp, lit("a sft"), grp, lit("b sft"),
      grp, lit("c turn"), k.cast("string"),
      when(v === 2 && k === 3, lit(" extra")).otherwise(lit("")))
    val text = if (caseVariant) when(v === 1, upper(base)).otherwise(base)
      else base
    docs.select(convId.as("conv_id"), k.cast("long").as("turn_idx"),
      when(pmod(col("doc_id"), lit(2)) === 0, "user")
        .otherwise("assistant").as("role"),
      text.as("text"))
  }

  /** Hreflang fixture page: en/de alternates on every document, fr on
    * evens, and an x-default naming the cluster representative (the
    * slot page's English variant) — so pages sharing doc_id%25 within a
    * source form one language cluster. */
  private[graft] def altFixtureHtml: Column = {
    val host = concat(lit("https://www."), col("source"),
      lit(".example.com"))
    val slot = pmod(col("doc_id"), lit(25)).cast("string")
    concat(
      lit("<html><head>"),
      lit("<link rel=\"alternate\" hreflang=\"en\" href=\""), host,
      lit("/en/"), slot, lit("\">"),
      lit("<link rel=\"alternate\" hreflang=\"de\" href=\""), host,
      lit("/de/"), slot, lit("\">"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit("<link rel=\"alternate\" hreflang=\"fr\" href=\""),
          host, lit("/fr/"), slot, lit("\">"))).otherwise(lit("")),
      lit("<link rel=\"alternate\" hreflang=\"x-default\" href=\""), host,
      lit("/en/"), slot, lit("\">"),
      lit("</head><body><p>Body.</p></body></html>"))
  }

  /** Crawl-trap fixture pages — three URL shapes per document on its
    * source's host: a unique-content /article/<id>-<id%97>, an
    * infinite-calendar /cal/2026/<m>/<d>?sid=<hex12> whose content is
    * ONE boilerplate page per source, and a /list?page=<p>&ref=<id>
    * paginator cycling 40 content variants. Pure Column ops so the
    * streaming twin applies it to the document STREAM unchanged. */
  private[graft] val trapFixturePages: DataFrame => DataFrame = docs => {
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

  /** TWO-CRAWL archives for the revisit story:
    * crawl 1 (c1/) captures every page; crawl 2 (c2/) stores the
    * unchanged third (doc_id % 3 == 0) as payload-free `revisit`
    * records pointing at the c1 capture via WARC-Refers-To, and
    * re-captures the rest with updated content (text + " v2") — the
    * ISO 28500 mechanism consecutive crawls use to avoid re-storing the
    * stable majority of the web. */
  private[graft] def warcRevisitFixtureDir(s: SparkSession, dir: String): String =
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

  /** Exact sum: decimal arithmetic, double surface. */
  private[graft] def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Entity-resolution fixture: parts < 300 as clean records plus one
    * deliberately corrupted twin each (id + 100000) — one character
    * replaced by '#' at a key-derived position that alternates between
    * the first three and the last three characters, so BOTH blocking
    * passes get exercised while the two-pass completeness bound
    * (EntityResolution object doc) provably covers every planted edit:
    * the corruption never lands on the one central position where the
    * length-7 windows overlap. The oracle replays the same synthesis. */
  /** Shared retrieval-eval fixture: the %25==7 vectors query the rest of
    * the embeddings via exact cosine top-10; graded relevance is label
    * proximity (3 − |Δlabel|, clamped at 0). Feeds both the nDCG and the
    * binary rank-metric queries so the two metric families provably
    * score the SAME ranking. */
  private[graft] def retrievalEvalRanked(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val isQ = pmod(col("vec_id"), lit(25)) === 7
    val qLab = emb.filter(isQ).select(col("vec_id").as("query"),
      col("label").cast("long").as("__ql"))
    val cLab = emb.filter(!isQ).select(col("vec_id").as("neighbor_id"),
      col("label").cast("long").as("__cl"))
    Similarity.cosineTopK(emb.filter(isQ), emb.filter(!isQ), k = 10)
      .select(col("query_id").as("query"), col("rank"), col("neighbor_id"))
      .join(broadcast(qLab), "query").join(broadcast(cLab), "neighbor_id")
      .withColumn("rel",
        greatest(lit(0L), lit(3L) - abs(col("__ql") - col("__cl"))))
  }

  /** The rank-shape half of the retrieval contract, shared by the ANN
    * verify siblings and the round-14 headliner folds: scores
    * non-increasing in rank, ranks contiguous AND distinct (min==1 &&
    * max==count alone would pass a duplicate-plus-gap pattern like
    * {1,2,2,4}). Violations frame (query_id, rank, issue). */
  private[graft] def rankShapeViolations(res: DataFrame, scoreCol: String): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    val badOrder = res
      .withColumn("__prev", lag(col(scoreCol), 1).over(w))
      .filter(col("__prev").isNotNull && col(scoreCol) > col("__prev"))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        lit("rank_not_monotone").as("issue"))
    val badSeq = res.groupBy(col("query_id"))
      .agg(count(lit(1)).as("__n"), min(col("rank")).as("__lo"),
        max(col("rank")).as("__hi"), countDistinct(col("rank")).as("__d"))
      .filter(!(col("__lo") === 1 && col("__hi") === col("__n") &&
        col("__d") === col("__n")))
      .select(col("query_id"), lit(null).cast("long").as("rank"),
        lit("rank_gap").as("issue"))
    badOrder.unionByName(badSeq)
  }

  /** Round-14 ANN headliner fold: per query, the result count plus
    * "no contract violation touched this query" — WHICH neighbors the
    * probes reach stays engine-internal (and in the API); what the
    * driver gates is the deterministic retrieval contract. */
  private[graft] def annContract(res: DataFrame, viol: DataFrame): DataFrame =
    res.groupBy(col("query_id")).agg(count(lit(1)).as("n_results"))
      .join(viol.select(col("query_id")).distinct()
        .withColumn("__bad", lit(true)), Seq("query_id"), "left")
      .select(col("query_id"), col("n_results"),
        col("__bad").isNull.as("contract_ok"))
      .orderBy(col("query_id"))

  private[graft] def erRecords(s: SparkSession, dir: String): DataFrame = {
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
  private[graft] def builtinTokens(text: Column): Column = Dedup.cleanTokens(text)

  /** Word n-gram jaccard over BOUND token-array columns with built-ins
    * only (sequence/slice/array_join/array_distinct/array_intersect/
    * array_union) — independent of [[Dedup.shingles]]'s UDF and of the
    * hashed-set verify path, but the same semantics: docs shorter than n
    * collapse to one whole-text shingle. */
  private[graft] def builtinNgramJaccard(toksA: Column, toksB: Column, n: Int): Column = {
    def grams(toks: Column): Column =
      when(size(toks) < n, array(array_join(toks, " ")))
        .otherwise(array_distinct(transform(
          sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " "))))
    val (ga, gb) = (grams(toksA), grams(toksB))
    size(array_intersect(ga, gb)).cast("double") /
      size(array_union(ga, gb)).cast("double")
  }

  /** Cosine over float-array columns with built-in HOFs (zip_with +
    * aggregate, left-to-right double accumulation — the same order as the
    * native FloatVecDot expression, so results are bit-identical). */
  private[graft] def builtinCosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column = aggregate(
      zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    def norm(x: Column): Column = sqrt(aggregate(
      transform(x, p => p.cast("double") * p.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    dot(a, b) / (norm(a) * norm(b))
  }

  /** SUB-BLOCK-GROUPED cosine with built-in HOFs — the exact accumulation
    * order of [[operators.ProductQuantize.adcTopK]]'s scorer (flat
    * left-to-right within each dsub block, blocks added in order), so the
    * recompute is bit-identical to the UDF's doubles. A flat whole-vector
    * fold would differ in the last ulp (float addition is non-associative)
    * and flip 6dp rounding on boundary values. */
  private[graft] def builtinBlockCosine(a: Column, b: Column, m: Int, dsub: Int): Column = {
    def blockDot(i: Int, x: Column, y: Column): Column = aggregate(
      zip_with(slice(x, i * dsub + 1, dsub), slice(y, i * dsub + 1, dsub),
        (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val num = (0 until m).map(i => blockDot(i, a, b)).reduce(_ + _)
    val qn = (0 until m).map(i => blockDot(i, a, a)).reduce(_ + _)
    val cn = (0 until m).map(i => blockDot(i, b, b)).reduce(_ + _)
    num / (sqrt(qn) * sqrt(cn))
  }

  // ------------------------------------------------------------ query bodies

  private[graft] def latestOrderPerCustomer(o: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    o.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }

  private[graft] def flagship(spark: SparkSession, dir: String): DataFrame = {
    val latest = latestOrderPerCustomer(t(spark, dir, "orders"))
    latest
      .join(broadcast(t(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_3")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("n_name"),
        (year(asOf) - year(col("o_orderdate"))).cast("long").as("age_years"),
        when(datediff(asOf, col("o_orderdate").cast("date")) > 30, true)
          .otherwise(false).as("stale"))
      .orderBy(col("o_custkey"))
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    flagship(spark, "/root/testdata/sf0.001")

  /** Per-family registries (the registry package) composing the driver
    * contract. Split from one 15k-line file in round 18: a duplicated
    * query-name literal inside one giant Map silently last-wins (the
    * round-17 q_text_chunks shadowing); smaller per-family maps plus
    * the cross-file source scan in OracleContractSpec plus the size
    * guards below make that class of bug loud. */
  private[graft] val registries: Seq[registry.QueryRegistry] = Seq(
    registry.CrawlRegistry, registry.DedupRegistry, registry.EvalRegistry, registry.GraphRegistry, registry.MultimodalRegistry, registry.ParityRegistry, registry.QualityRegistry, registry.RelationalRegistry, registry.SimilarityRegistry, registry.SketchRegistry, registry.StorageRegistry, registry.StreamRegistry, registry.TextRegistry, registry.TokenizerRegistry, registry.TrainPrepRegistry, registry.WarcRegistry)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val merged = registries.map(_.queries).reduce(_ ++ _)
    require(merged.size == registries.map(_.queries.size).sum,
      "duplicate query name across registries — a ++ would silently last-win")
    merged
  }

  /** Double-precision cosine between two embedding columns in DuckDB list
    * math — the exact sequential-accumulation form that is bit-identical to
    * the Spark native expression (NOT list_cosine_similarity: float32). */
  /** The Hilbert xy2d ladder unrolled into generated SQL: one CTE per
    * level carrying (x, y, d), the exact mirror of
    * [[graft.operators.ZOrder.hilbertValue]]'s expression tree. */
  private[graft] val hilbertOracleSql: String = {
    val levels = (0 until 16).map { i =>
      val s = 1L << (15 - i)
      s"""h${i + 1} AS (SELECT l_orderkey, l_linenumber,
         |  CASE WHEN (y & $s) = 0 THEN
         |    CASE WHEN (x & $s) > 0 THEN ${s - 1} - y ELSE y END
         |  ELSE x END AS x,
         |  CASE WHEN (y & $s) = 0 THEN
         |    CASE WHEN (x & $s) > 0 THEN ${s - 1} - x ELSE x END
         |  ELSE y END AS y,
         |  d + ${s * s} * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
         |                     CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d
         |  FROM h$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH h0 AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       |  l_orderkey & 65535 AS x, l_partkey & 65535 AS y, CAST(0 AS BIGINT) AS d
       |  FROM lineitem),
       |$levels
       |SELECT l_orderkey, l_linenumber, CAST(d AS BIGINT) AS hval
       |FROM h16 ORDER BY hval, l_orderkey, l_linenumber""".stripMargin
  }

  /** Brute-force entity resolution replayed in SQL — all-pairs edit
    * distance over the synthesized records, then min-label propagation
    * to a fixpoint. Shared VERBATIM by the batch query and its
    * streaming twin (stream ≡ batch exactly). */
  private[graft] val erEntitiesOracleSql: String =
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

  /** The generalize-to-k oracle, parameterized by k (base bucket 500,
    * maxLevels 20, fixed quasi = segment — the harness configuration). */
  private[graft] def kanonGeneralizeSql(k: Int): String =
    s"""WITH g0 AS (
       |  SELECT c_mktsegment, CAST(FLOOR(c_acctbal / 500) AS BIGINT) AS b0,
       |    COUNT(*) AS n
       |  FROM customer GROUP BY 1, 2),
       |lv AS (SELECT unnest(range(0, 21)) AS level),
       |sizes AS (
       |  SELECT c_mktsegment, level,
       |    CAST(FLOOR(b0 / CAST((1 << level) AS DOUBLE)) AS BIGINT) AS bucket,
       |    CAST(SUM(n) AS BIGINT) AS group_size
       |  FROM g0, lv GROUP BY 1, 2, 3),
       |chosen AS (
       |  SELECT COALESCE(MIN(level) FILTER (mn >= $k), 20) AS gen_level
       |  FROM (SELECT level, MIN(group_size) AS mn FROM sizes GROUP BY level))
       |SELECT c_mktsegment, bucket, group_size, (group_size < $k) AS suppressed,
       |  CAST(gen_level AS BIGINT) AS gen_level
       |FROM sizes JOIN chosen ON level = gen_level
       |ORDER BY c_mktsegment, bucket""".stripMargin

  private[graft] def cosineSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  /** Full SQL re-derivation of the hyperplane-LSH top-k: the seed-7 gaussian
    * planes are data-INDEPENDENT constants, so the oracle embeds them as
    * literals and recomputes signature bits, band buckets, candidate join,
    * and the exact cosine rerank — an independent DuckDB implementation of
    * the whole approximate pipeline, hash-compared end-to-end. Sign bits
    * agree because the dot products are bit-identical doubles. */
  private[graft] lazy val lshTopkOracleSql: String = {
    val planes = operators.Similarity.hyperplanesFor(64)
    val bits = operators.Similarity.SignatureBits
    val bands = operators.Similarity.Bands
    val rows = bits / bands
    val mask = (1 << rows) - 1
    val sigTerms = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(list_zip(embedding, $arr), x -> CAST(x[1] AS DOUBLE) * x[2])) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n      + ")
    s"""WITH sigs AS (
       |  SELECT vec_id, $sigTerms AS sig FROM embeddings
       |),
       |bucketed AS (
       |  SELECT vec_id, b.band, (sig >> (b.band * $rows)) & $mask AS bucket
       |  FROM sigs, (SELECT unnest(range(0, $bands)) AS band) b
       |),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM bucketed q JOIN bucketed c ON q.band = c.band AND q.bucket = c.bucket
       |  WHERE q.vec_id < 16 AND q.vec_id <> c.vec_id
       |),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    ${cosineSql("q.embedding", "c.embedding")} AS cosine
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = query_id
       |  JOIN embeddings c ON c.vec_id = neighbor_id
       |)
       |SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored) t
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  // The full dedup-ladder CTE chain (stats .. cum) shared by the
  // corpus capstone and the train-prep capstone — one definition, so
  // the two oracles cannot drift. Consumers append their own final
  // SELECT (or further CTEs after a comma).
  private[graft] val corpusLadderCoreCtes: String =
    """WITH RECURSIVE
        |stats AS (SELECT doc_id, text,
        |  CASE WHEN trim(text) = '' OR text IS NULL THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
        |  FROM documents),
        |quality AS (SELECT doc_id, text FROM stats WHERE n_tokens >= 30 AND n_punct >= 0),
        |keyed AS (SELECT doc_id, text, array_to_string(list_slice(regexp_split_to_array(trim(lower(text)), '\s+'), 1, 5), ' ') AS key5 FROM quality),
        |exact AS (SELECT doc_id, text FROM (
        |  SELECT doc_id, text, ROW_NUMBER() OVER (PARTITION BY key5 ORDER BY doc_id) AS rn FROM keyed) k
        |  WHERE rn = 1),
        |toks0 AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS tk
        |  FROM exact),
        |grams0 AS (
        |  SELECT doc_id, tk, UNNEST(range(1, len(tk) - 4 + 2)) AS i
        |  FROM toks0 WHERE len(tk) >= 4),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+3], ' ') AS gram FROM grams0),
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
        |    list(struct_pack(s := pos, e := pos + 3)) FILTER (WHERE is_canon) AS can,
        |    list(struct_pack(s := pos, e := pos + 3)) FILTER (WHERE NOT is_canon) AS red
        |  FROM rep GROUP BY doc_id),
        |final AS (
        |  SELECT t.doc_id, t.tk,
        |    CASE WHEN w.red IS NULL THEN NULL
        |      ELSE list_filter(range(0, len(t.tk)), p ->
        |        NOT (len(list_filter(w.red, x -> p >= x.s AND p <= x.e)) > 0
        |             AND (w.can IS NULL OR len(list_filter(w.can, x -> p >= x.s AND p <= x.e)) = 0)))
        |      END AS kept
        |  FROM toks0 t LEFT JOIN wins w ON t.doc_id = w.doc_id),
        |cleaned AS (
        |  SELECT doc_id,
        |    CASE WHEN kept IS NULL THEN array_to_string(tk, ' ')
        |      ELSE COALESCE(array_to_string(list_transform(kept, p -> tk[p + 1]), ' '), '') END AS clean_text,
        |    CAST(CASE WHEN kept IS NULL THEN 0 ELSE len(tk) - len(kept) END AS BIGINT) AS n_removed
        |  FROM final),
        |cq AS (
        |  SELECT doc_id, clean_text, n_removed,
        |    CAST(len(regexp_extract_all(clean_text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS BIGINT) AS n_tok
        |  FROM cleaned
        |  WHERE (CASE WHEN trim(clean_text) = '' OR clean_text IS NULL THEN 0
        |         ELSE len(regexp_split_to_array(trim(clean_text), '\s+')) END) >= 30),
        |toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(clean_text)), '\s+') AS tk FROM cq),
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
        |  SELECT doc_id, doc_id FROM cq
        |  UNION
        |  SELECT e.dst, cc.label FROM edges e JOIN cc ON cc.id = e.src
        |),
        |fsurv AS (
        |  SELECT x.doc_id, x.n_tok, x.n_removed FROM cq x
        |  JOIN (SELECT id, MIN(label) AS lab FROM cc GROUP BY id) m
        |    ON m.id = x.doc_id AND m.lab = x.doc_id),
        |spairs AS (
        |  SELECT a.vec_id AS idA, b.vec_id AS idB
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  JOIN fsurv sa ON sa.doc_id = a.vec_id
        |  JOIN fsurv sb ON sb.doc_id = b.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.4),
        |sedges AS (SELECT idA AS src, idB AS dst FROM spairs UNION ALL SELECT idB AS src, idA AS dst FROM spairs),
        |scc(id, label) AS (
        |  SELECT doc_id, doc_id FROM fsurv
        |  UNION
        |  SELECT e.dst, scc.label FROM sedges e JOIN scc ON scc.id = e.src
        |),
        |ssurv AS (
        |  SELECT x.doc_id, x.n_tok, x.n_removed FROM fsurv x
        |  JOIN (SELECT id, MIN(label) AS lab FROM scc GROUP BY id) m
        |    ON m.id = x.doc_id AND m.lab = x.doc_id)""".stripMargin

  private[graft] val corpusLadderCtes: String =
    corpusLadderCoreCtes + """,
        |cum AS (SELECT doc_id, n_tok, n_removed,
        |  SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM ssurv)""".stripMargin

  /** Multimodal-curation oracle: the full text ladder
    * ([[corpusLadderCoreCtes]]) + the pHash synthesis
    * ([[phashCteSql]]'s body) + the image near-dup stage over the
    * ladder's survivors (brute hamming pairs — the oracle's quadratic
    * sibling of the banded join) + the budget window over what remains.
    * `lazy`: [[phashCteSql]] is declared later in this object, and a
    * strict val here would read it as null during object init. */
  private[graft] lazy val curateMultimodalOracleSql: String =
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

  // Shared oracle fragments: ONE definition gates every variant that
  // claims the identical contract, so copies cannot drift apart.
  private[graft] val substringSpansOracleSql: String =
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

  // Multinomial NB (train on doc_id%5<>0 by lang, classify the held-out
  // fifth) — shared verbatim by q_classify_nb (batch) and
  // q_stream_classify (streaming inference must converge to the batch
  // result). 6dp-round-then-decimal-sum contract throughout; the completed
  // term×label grid gives unseen-for-label tokens the Laplace-smoothed
  // mass; argmax tie-breaks on label.
  /** Shared by q_cdc_apply and q_table_asof (time travel to v1 must equal
    * replaying exactly one CDC batch): ROW_NUMBER winner per key by
    * (seq DESC, op DESC), anti-join + final non-delete rows. */
  private[graft] val cdcApplySql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders),
      |u AS (SELECT o_orderkey, o_orderpriority, o_totalprice + 5 AS o_totalprice,
      |        CAST(1 AS BIGINT) AS seq, 'U' AS op FROM base WHERE o_orderkey % 7 = 0),
      |d AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
      |        CAST(2 AS BIGINT) AS seq, 'D' AS op FROM base WHERE o_orderkey % 11 = 0),
      |i AS (SELECT o_orderkey + 10000000 AS o_orderkey, o_orderpriority, o_totalprice,
      |        CAST(1 AS BIGINT) AS seq, 'I' AS op FROM base WHERE o_orderkey % 13 = 0),
      |cdc AS (SELECT * FROM u UNION ALL SELECT * FROM d UNION ALL SELECT * FROM i),
      |latest AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
      |    ORDER BY seq DESC, op DESC) AS rn FROM cdc),
      |fin AS (SELECT o_orderkey, o_orderpriority, o_totalprice, op
      |        FROM latest WHERE rn = 1)
      |SELECT b.o_orderkey, b.o_orderpriority, b.o_totalprice FROM base b
      |WHERE NOT EXISTS (SELECT 1 FROM fin f WHERE f.o_orderkey = b.o_orderkey)
      |UNION ALL
      |SELECT o_orderkey, o_orderpriority, o_totalprice FROM fin WHERE op <> 'D'
      |ORDER BY o_orderkey""".stripMargin

  /** Oracle for q_incr_agg: the FULL recompute of the post-CDC table —
    * the touched-group refresh must be indistinguishable from it. */
  private[graft] val incrAggSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
      |u AS (SELECT o_orderkey, o_custkey, o_totalprice + 5 AS o_totalprice,
      |        CAST(1 AS BIGINT) AS seq, 'U' AS op FROM base WHERE o_orderkey % 49 = 0),
      |d AS (SELECT o_orderkey, o_custkey, o_totalprice,
      |        CAST(2 AS BIGINT) AS seq, 'D' AS op FROM base WHERE o_orderkey % 121 = 0),
      |i AS (SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_totalprice,
      |        CAST(1 AS BIGINT) AS seq, 'I' AS op FROM base WHERE o_orderkey % 169 = 0),
      |cdc AS (SELECT * FROM u UNION ALL SELECT * FROM d UNION ALL SELECT * FROM i),
      |latest AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
      |    ORDER BY seq DESC, op DESC) AS rn FROM cdc),
      |fin AS (SELECT o_orderkey, o_custkey, o_totalprice, op
      |        FROM latest WHERE rn = 1),
      |after AS (
      |  SELECT b.o_orderkey, b.o_custkey, b.o_totalprice FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM fin f WHERE f.o_orderkey = b.o_orderkey)
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_totalprice FROM fin WHERE op <> 'D')
      |SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS total_units
      |FROM after GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Shared by q_rate_anomalies and its streaming twin: exact integer
    * counts make the two engines' flagged sets bit-identical. */
  private[graft] val rateAnomalySql: String =
    """WITH c AS (
      |  SELECT CAST(event_type AS VARCHAR) AS key,
      |    epoch_us(ts) // 3600000000 AS bucket, CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT min(bucket) AS mn, max(bucket) AS mx FROM c),
      |grid AS (
      |  SELECT k.key, g.bucket
      |  FROM (SELECT DISTINCT key FROM c) k, span,
      |    LATERAL (SELECT unnest(range(span.mn, span.mx + 1)) AS bucket) g),
      |f AS (
      |  SELECT grid.key, grid.bucket, COALESCE(c.cnt, 0) AS cnt
      |  FROM grid LEFT JOIN c ON c.key = grid.key AND c.bucket = grid.bucket),
      |r AS (
      |  SELECT key, bucket, cnt,
      |    SUM(cnt) OVER win AS trail_sum,
      |    SUM(cnt * cnt) OVER win AS trail_sumsq,
      |    COUNT(*) OVER win AS np
      |  FROM f WINDOW win AS (PARTITION BY key ORDER BY bucket
      |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT key, bucket, cnt, CAST(trail_sum AS BIGINT) AS trail_sum,
      |  CAST(trail_sumsq AS BIGINT) AS trail_sumsq
      |FROM r
      |WHERE np = 24
      |  AND (24 * cnt - trail_sum) * (24 * cnt - trail_sum)
      |      > 9 * (24 * trail_sumsq - trail_sum * trail_sum)
      |ORDER BY key, bucket""".stripMargin

  /** DSIR per-doc importance weights (shared verbatim by the batch entry
    * and its streaming twin — bucket counts are multiset functions, so
    * stream ≡ batch exactly). */
  private[graft] val dsirWeightsOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang,
      |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |                t -> t <> '') AS tk
      |  FROM documents),
      |feats AS (
      |  SELECT doc_id, lang, t.f AS feat FROM toks, UNNEST(tk) AS t(f)
      |  UNION ALL
      |  SELECT doc_id, lang, list_extract(tk, i) || ' ' || list_extract(tk, i + 1) AS feat
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk))) AS i) r
      |  WHERE len(tk) >= 2),
      |fb AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(feat), 1, 8)) AS BIGINT) % 4096 AS bucket
      |  FROM feats),
      |ct AS (SELECT bucket, COUNT(*) AS ct FROM fb WHERE lang = 'en' GROUP BY 1),
      |cr AS (SELECT bucket, COUNT(*) AS cr FROM fb WHERE lang <> 'en' GROUP BY 1),
      |nt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS nt FROM ct),
      |nr AS (SELECT CAST(COALESCE(SUM(cr), 0) AS BIGINT) AS nr FROM cr),
      |lr AS (
      |  SELECT cr.bucket,
      |    CAST(ROUND(LN((CAST(COALESCE(ct.ct, 0) AS DOUBLE) + 1)
      |                  / (CAST(nt.nt AS DOUBLE) + 4096)), 6) AS DECIMAL(18,6))
      |    - CAST(ROUND(LN((CAST(cr.cr AS DOUBLE) + 1)
      |                  / (CAST(nr.nr AS DOUBLE) + 4096)), 6) AS DECIMAL(18,6)) AS lr
      |  FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN nt CROSS JOIN nr),
      |pd AS (
      |  SELECT fb.doc_id, COUNT(*) AS n_feat, SUM(lr.lr) AS slw
      |  FROM fb JOIN lr USING (bucket) WHERE fb.lang <> 'en' GROUP BY 1)
      |SELECT d.doc_id, COALESCE(pd.n_feat, 0) AS n_feat,
      |  CAST(pd.slw AS DOUBLE) AS logw
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |WHERE d.lang <> 'en'
      |ORDER BY d.doc_id""".stripMargin

  private[graft] val nbOracleSql: String =
    """WITH trtok AS (
      |  SELECT lang AS label, t.term FROM documents,
      |    UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS t(term)
      |  WHERE doc_id % 5 <> 0 AND t.term <> ''),
      |counts AS (SELECT label, term, COUNT(*) AS c FROM trtok GROUP BY 1, 2),
      |ltot AS (SELECT label, SUM(c) AS n_l FROM counts GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT term) AS v FROM counts),
      |grid AS (SELECT t.term, l.label, l.n_l
      |         FROM (SELECT DISTINCT term FROM counts) t CROSS JOIN ltot l),
      |lp AS (
      |  SELECT g.term, g.label,
      |    CAST(ROUND(LN((COALESCE(c.c, 0) + 1.0) / (CAST(g.n_l AS DOUBLE) + v.v)), 6)
      |      AS DECIMAL(18,6)) AS lp
      |  FROM grid g CROSS JOIN v
      |  LEFT JOIN counts c ON c.term = g.term AND c.label = g.label),
      |ndocs AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 5 <> 0),
      |prior AS (
      |  SELECT lang AS label,
      |    CAST(ROUND(LN(CAST(COUNT(*) AS DOUBLE) / n.n), 6) AS DECIMAL(18,6)) AS prior_lp
      |  FROM documents, ndocs n WHERE doc_id % 5 <> 0 GROUP BY lang, n.n),
      |sctok AS (
      |  SELECT doc_id, t.term FROM documents,
      |    UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS t(term)
      |  WHERE doc_id % 5 = 0 AND t.term <> ''),
      |perlab AS (
      |  SELECT doc_id, label, SUM(lp) AS slp, COUNT(*) AS n_in_vocab
      |  FROM sctok JOIN lp USING (term) GROUP BY 1, 2),
      |scored AS (
      |  SELECT a.doc_id, a.label,
      |    a.prior_lp + COALESCE(pl.slp, CAST(0 AS DECIMAL(18,6))) AS score,
      |    COALESCE(pl.n_in_vocab, 0) AS n_in_vocab
      |  FROM (SELECT d.doc_id, p.label, p.prior_lp
      |        FROM documents d CROSS JOIN prior p WHERE d.doc_id % 5 = 0) a
      |  LEFT JOIN perlab pl ON a.doc_id = pl.doc_id AND a.label = pl.label)
      |SELECT doc_id, label AS predicted, CAST(score AS DOUBLE) AS score, n_in_vocab
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, label) AS rn FROM scored) z
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  private[graft] val multimodalFeaturesSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 13 ELSE 44 END + doc_id % 100 AS BIGINT) AS n_bytes,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 64 + doc_id % 512 WHEN 1 THEN 32 + doc_id % 256 ELSE 8000 + (doc_id % 8) * 1000 END AS BIGINT) AS width,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 64 + (doc_id * 31) % 512 WHEN 1 THEN 32 + (doc_id * 7) % 256 ELSE 16 END AS BIGINT) AS height,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 3 ELSE 1 + doc_id % 2 END AS BIGINT) AS channels,
      |  CAST(LEAST(8, (CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 13 ELSE 44 END + doc_id % 100) // 100 + 1) AS BIGINT) AS n_frames
      |FROM documents ORDER BY media_id""".stripMargin

  /** Expected extraction of the synthetic crawl page — shared verbatim by
    * the batch (q_text_extract) and streaming (q_stream_text_extract)
    * paths: extraction is a pure per-row function, so stream ≡ batch. */
  private[graft] val textExtractOracleSql: String =
    """SELECT doc_id,
      |  'Corpus document from the synthetic crawl corpus' || chr(10) ||
      |  text || chr(10) || upper(text) AS extracted
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The synthetic crawl page rebuilt in SQL — must mirror
    * [[operators.TextExtract.syntheticHtml]] byte for byte, because the
    * WARC oracles check the archive framing ARITHMETIC (Content-Length
    * headers, payload/body octet counts) against this template's octet
    * lengths. Emits (doc_id, html, uri); `uri` is the WARC fixture's
    * target-URI rule. */
  /** The page template as a SQL EXPRESSION over caller-chosen id/text —
    * shared by [[warcPageSql]] and the crawl-loop oracle, which renders
    * frontier targets under their host page's text. */
  private[graft] def warcHtmlSqlExpr(idExpr: String, textExpr: String): String =
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

  private[graft] lazy val warcPageSql: String =
    s"""SELECT doc_id,
      |    ${warcHtmlSqlExpr("doc_id", "text")} AS html,
      |    'https://www.' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR) AS uri
      |  FROM documents""".stripMargin

  /** Charset-fixture oracle: sniffed charset name and extracted text
    * (h1 + the marker-suffixed paragraph) reconstructed from the
    * documents table and the [[CharsetModes]] rotation — both CASE
    * ladders are generated from the same Scala constant the fixture UDF
    * encodes with, so a decode under the wrong charset cannot match. */
  private[graft] lazy val warcCharsetOracleSql: String = {
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

  /** Unigram-tokenizer oracle, shared verbatim by q_unigram_tokenize and
    * the persistence twin: the frozen (piece → cost_milli) vocabulary is
    * LITERALIZED into a DuckDB MAP (the frozen-BPE-merges idiom), the
    * Viterbi DP runs forward over DISTINCT words as a recursive CTE
    * (struct-min of ('c', 'nl' = −L) = min cost then longest piece — the
    * exact Scala tie-break), a second recursion walks the backpointers to
    * reconstruct pieces, and segmentations join back to word instances. */
  private[graft] lazy val unigramOracleSql: String =
    unigramSqlWith(
      """SELECT words.doc_id, words.widx, CAST(j - 1 AS BIGINT) AS pidx, seg.pieces[j] AS piece,
        |  coalesce(vocab.m[seg.pieces[j]][1], CAST(20000 AS BIGINT)) AS score_milli
        |FROM words JOIN seg USING (w) CROSS JOIN vocab,
        |     LATERAL (SELECT unnest(range(1, len(seg.pieces) + 1)) AS j) r
        |ORDER BY doc_id, widx, pidx""".stripMargin)

  /** The unigram Viterbi machinery (words / vocab / vit / recon / seg
    * CTEs) with a caller-chosen final SELECT — the token stream and the
    * per-document LM-cost rollup share it. */
  private[graft] def unigramSqlWith(finalSelect: String): String = {
    val m = operators.UnigramTokenizer.frozenVocab
      .map { case (p, c) => s"'$p': $c" }.mkString("MAP {", ", ", "}")
    s"""WITH RECURSIVE words AS (
      |  SELECT doc_id, i - 1 AS widx, lst[i] AS w
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS lst FROM documents),
      |       LATERAL (SELECT unnest(range(1, len(lst) + 1)) AS i) r),
      |vocab AS (SELECT $m AS m),
      |dw AS (SELECT DISTINCT w FROM words),
      |vit AS (
      |  SELECT w, 0 AS i, CAST([0] AS BIGINT[]) AS best, CAST([] AS BIGINT[]) AS bp FROM dw
      |  UNION ALL
      |  SELECT w, i + 1, list_append(best, ch.c), list_append(bp, ch.l)
      |  FROM (
      |    SELECT v.w, v.i, v.best, v.bp, list_min(list_append(
      |      [{'c': v.best[v.i - L + 2] + vocab.m[substr(v.w, CAST(v.i - L + 2 AS INTEGER), CAST(L AS INTEGER))][1],
      |        'nl': -L, 'l': L}
      |       for L in range(2, least(6, v.i + 1) + 1)
      |       if len(vocab.m[substr(v.w, CAST(v.i - L + 2 AS INTEGER), CAST(L AS INTEGER))]) > 0],
      |      {'c': v.best[v.i + 1] + coalesce(vocab.m[substr(v.w, CAST(v.i + 1 AS INTEGER), 1)][1],
      |         CAST(${operators.UnigramTokenizer.UnknownCostMilli} AS BIGINT)),
      |       'nl': CAST(-1 AS BIGINT), 'l': CAST(1 AS BIGINT)})) AS ch
      |    FROM vit v CROSS JOIN vocab WHERE v.i < len(v.w)) s),
      |recon AS (
      |  SELECT w, bp, CAST(len(w) AS BIGINT) AS i, CAST([] AS VARCHAR[]) AS pieces
      |  FROM vit WHERE i = len(w)
      |  UNION ALL
      |  SELECT w, bp, i - bp[i],
      |    list_prepend(substr(w, CAST(i - bp[i] + 1 AS INTEGER), CAST(bp[i] AS INTEGER)), pieces)
      |  FROM recon WHERE i > 0),
      |seg AS (SELECT w, pieces FROM recon WHERE i = 0)
      |""".stripMargin + finalSelect
  }

  /** PNG pixel-decode oracle — the plane checksums recomputed from the
    * pixel formulas alone; shared verbatim by the direct decode
    * (q_image_decode) and the decode-out-of-the-WARC chain
    * (q_warc_image_decode), because binary payloads round-trip the
    * archive byte-exact. */
  private[graft] val imageDecodeOracleSql: String =
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

  /** Anchor-aggregation oracle — shared verbatim by the batch query and
    * its streaming twin (anchor stats are pure aggregates of the link
    * set, so arrival order cannot matter). */
  private[graft] val anchorOracleSql: String =
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

  /** Dirty-JSONL oracle — shared verbatim by the batch read
    * (q_jsonl_source) and its streaming twin: clean rows parse to their
    * fields; the deterministically truncated lines come back all-NULL
    * with the exact truncated raw string. */
  private[graft] val jsonlSourceOracleSql: String =
    """WITH lines AS (
      |  SELECT doc_id AS rec_id, lang, n_chars,
      |    '{"doc_id":' || doc_id || ',"lang":"' || lang || '","n_chars":' ||
      |      n_chars || '}' AS full_line,
      |    doc_id % 50 = 13 AS corrupt
      |  FROM documents)
      |SELECT rec_id,
      |  CASE WHEN corrupt THEN NULL ELSE rec_id END AS doc_id,
      |  CASE WHEN corrupt THEN NULL ELSE lang END AS lang,
      |  CASE WHEN corrupt THEN NULL ELSE n_chars END AS n_chars,
      |  corrupt AS is_corrupt,
      |  CASE WHEN corrupt
      |    THEN substring(full_line, 1, length(full_line) - 8) END AS raw
      |FROM lines ORDER BY rec_id""".stripMargin

  /** feed-seeds oracle — shared verbatim by the batch discovery query
    * (q_feed_seeds) and its bounded streaming twin (q_stream_seeds):
    * the per-batch anti-join is stream-static and the seed rank is a
    * pure window over the accumulated survivors, so arrival order
    * cannot matter. */
  private[graft] val feedSeedsOracleSql: String =
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
  private[graft] val robotsGateOracleSql: String =
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

  /** WARC record-table oracle — shared verbatim by the one-shot read
    * (q_warc_records) and the two-wave manifest-driven incremental
    * ingest (q_warc_incremental): every WARC/HTTP framing field is
    * recomputed from the page template's octet arithmetic. */
  private[graft] lazy val warcRecordsOracleSql: String =
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

  /** Delta-touching ngram-jaccard pair slice — shared verbatim by the
    * in-memory incremental path (q_dedup_incremental) and the
    * persisted-index twin (q_dedup_incremental_indexed). */
  private[graft] val incrementalNgramOracleSql: String =
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

  private[graft] val trigramLpSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |                             t -> t <> '') AS tk
      |  FROM documents),
      |tg AS (
      |  SELECT doc_id, list_extract(tk, i) AS w1, list_extract(tk, i + 1) AS w2,
      |         list_extract(tk, i + 2) AS w3
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) - 1)) AS i) r
      |  WHERE len(tk) >= 3),
      |bg AS (
      |  SELECT list_extract(tk, i) AS a, list_extract(tk, i + 1) AS b
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk))) AS i) r
      |  WHERE len(tk) >= 2),
      |un AS (SELECT t.term FROM toks, UNNEST(tk) AS t(term)),
      |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tg GROUP BY 1, 2, 3),
      |c12 AS (SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS c12 FROM c3 GROUP BY 1, 2),
      |c2 AS (SELECT a, b, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
      |c1h AS (SELECT a, CAST(SUM(c2) AS BIGINT) AS c1h FROM c2 GROUP BY 1),
      |c1 AS (SELECT term, COUNT(*) AS c FROM un GROUP BY 1),
      |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c1),
      |lp AS (
      |  SELECT tg.doc_id,
      |    CAST(ROUND(LN((70 * (CAST(c3.c3 AS DOUBLE) / CAST(c12.c12 AS DOUBLE))
      |                 + 20 * (CAST(c2.c2 AS DOUBLE) / CAST(c1h.c1h AS DOUBLE))
      |                 + 10 * (CAST(c1.c AS DOUBLE) / CAST(n.n AS DOUBLE))) / 100), 6)
      |      AS DECIMAL(18,6)) AS lp
      |  FROM tg
      |  JOIN c3 USING (w1, w2, w3)
      |  JOIN c12 USING (w1, w2)
      |  JOIN c2 ON c2.a = tg.w2 AND c2.b = tg.w3
      |  JOIN c1h ON c1h.a = tg.w2
      |  JOIN c1 ON c1.term = tg.w3
      |  CROSS JOIN n),
      |pd AS (SELECT doc_id, COUNT(*) AS n_trigrams, SUM(lp) AS slp
      |       FROM lp GROUP BY 1)
      |SELECT d.doc_id, COALESCE(pd.n_trigrams, 0) AS n_trigrams,
      |  CAST(pd.slp AS DOUBLE) / CAST(pd.n_trigrams AS DOUBLE) AS avg_lp3
      |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** The frozen-BPE oracle: a recursive CTE applying the LITERAL
    * [[operators.BpeTokenizer.frozenMerges]] table (interpolated here, so
    * the two engines share one source of truth) in rank order, each rank
    * replaced to fixpoint. See the q_bpe_tokenize oracle comment. */
  private[graft] def bpeFrozenSql: String = {
    // SQL-escape merge symbols (doubled single quote) so a future seed
    // vocabulary containing an apostrophe still literalizes correctly.
    def q(s: String): String = s.replace("'", "''")
    val vals = operators.BpeTokenizer.frozenMerges.zipWithIndex
      .map { case ((x, y), r) => s"($r, '${q(x)}', '${q(y)}')" }.mkString(", ")
    val maxRank = operators.BpeTokenizer.frozenMerges.size
    s"""WITH RECURSIVE
       |mg(r, x, y) AS (SELECT * FROM (VALUES $vals) v(r, x, y)),
       |toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |                             t -> t <> '') AS tk
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, i AS wpos, list_extract(tk, i) AS word
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r),
       |dw AS (SELECT DISTINCT word FROM w),
       |enc AS (
       |  SELECT word,
       |    chr(1) || array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> substring(word, i, 1) ||
       |        CASE WHEN i = length(word) THEN '</w>' ELSE '' END), chr(1))
       |      || chr(1) AS seq,
       |    0 AS r
       |  FROM dw
       |  UNION ALL
       |  SELECT word,
       |    CASE WHEN np <> seq THEN np ELSE seq END,
       |    CASE WHEN np <> seq THEN r ELSE r + 1 END
       |  FROM (
       |    SELECT e.word, e.seq, e.r,
       |      replace(replace(e.seq,
       |        chr(1) || m.x || chr(1) || m.y || chr(1),
       |        chr(1) || m.x || m.y || chr(2)), chr(2), chr(1)) AS np
       |    FROM enc e JOIN mg m ON m.r = e.r) s),
       |tok AS (
       |  SELECT word, list_filter(string_split(seq, chr(1)), t -> t <> '') AS toks
       |  FROM enc WHERE r = $maxRank),
       |wt AS (
       |  SELECT doc_id, wpos, toks, len(toks) AS n,
       |    SUM(len(toks)) OVER (PARTITION BY doc_id ORDER BY wpos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS off
       |  FROM w JOIN tok USING (word))
       |SELECT doc_id, CAST(COALESCE(off, 0) + i - 1 AS BIGINT) AS pos,
       |  list_extract(toks, i) AS token
       |FROM wt, LATERAL (SELECT unnest(range(1, n + 1)) AS i) r
       |ORDER BY doc_id, pos""".stripMargin
  }

  private[graft] val phashCteSql: String =
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

  lazy val oracleSql: Map[String, String] = {
    val merged = registries.map(_.oracles).reduce(_ ++ _)
    require(merged.size == registries.map(_.oracles.size).sum,
      "duplicate oracle name across registries — a ++ would silently last-win")
    merged
  }

  /** Exact trigram-jaccard pairs over the WHOLE corpus (threshold 0.2) —
    * q_dedup_ngram's oracle, shared verbatim by q_dedup_minhash (whose
    * banded pair set provably equals it on this fixture). */
  private[graft] val incrementalNgramAllPairsSql: String =
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

  /** Retrieval contract frame: the 16 fixture queries, k = 10 results
    * each, contract clean — shared by the three approximate-ANN folds
    * and (as `stream_eq_batch`) the serving twin. */
  private[graft] def annContractOracleSql(flagName: String): String =
    s"""SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_results,
      |  TRUE AS $flagName
      |FROM embeddings WHERE vec_id < 16 ORDER BY query_id""".stripMargin

  /** k-core (k = 30) peel replayed by bounded unroll: alive₀ = every
    * co-purchase node; round i removes alive nodes with fewer than k
    * alive neighbors; survivors after the last unrolled round are the
    * core (round −1). Six rounds is 6× the fixture's measured depth; a
    * deeper graph mislabels survivors and FAILS the hash — loud, never a
    * silent pass. */
  private[graft] lazy val kcoreOracleSql: String = {
    val rounds = 6
    val sb = new StringBuilder(4096)
    sb.append(
      """WITH pe AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |co AS (SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM pe x JOIN pe y ON x.ok = y.ok AND x.p < y.p),
        |adj AS (SELECT u AS a, v AS b FROM co UNION ALL SELECT v AS a, u AS b FROM co),
        |alive0 AS (SELECT DISTINCT a FROM adj),
        |""".stripMargin)
    for (i <- 0 until rounds) {
      sb.append(
        s"""deg$i AS (
           |  SELECT adj.a AS a, count(*) AS d FROM adj
           |  JOIN alive$i x ON adj.a = x.a
           |  JOIN alive$i y ON adj.b = y.a
           |  GROUP BY adj.a),
           |alive${i + 1} AS (SELECT a FROM deg$i WHERE d >= 30),
           |rem$i AS (SELECT a FROM alive$i EXCEPT SELECT a FROM alive${i + 1}),
           |""".stripMargin)
    }
    val removed = (0 until rounds)
      .map(i => s"SELECT a, CAST($i AS INTEGER) AS round FROM rem$i")
      .mkString("\n  UNION ALL ")
    sb.append(
      s"""lastd AS (SELECT 1)
         |SELECT a AS node, round FROM (
         |  $removed
         |  UNION ALL SELECT a, CAST(-1 AS INTEGER) AS round FROM alive$rounds
         |) ORDER BY node""".stripMargin)
    sb.toString
  }

  /** Misra–Gries summary claim: exact stream length, capacity, zero
    * guarantee violations — shared by the batch and streaming MG folds. */
  private[graft] val mgSummaryOracleSql: String =
    """SELECT CAST(32 AS BIGINT) AS capacity, COUNT(*) AS n,
      |  CAST(0 AS BIGINT) AS n_violations
      |FROM events WHERE user_id IS NOT NULL""".stripMargin

  /** Exact top-25 user frequencies with est = exact (the CMS
    * collision-free regime) — shared by the batch probe and its
    * bit-exact streaming twin. */
  private[graft] val cmsExactRegimeSql: String =
    """SELECT user_id AS item, COUNT(*) AS exact_cnt, COUNT(*) AS est_cnt
      |FROM events WHERE user_id IS NOT NULL
      |GROUP BY user_id ORDER BY exact_cnt DESC, item LIMIT 25""".stripMargin

  /** Exact distinct rollup in the native-HLL output shape (n_rows +
    * est_distinct, small-range-exact regime) — shared by the batch
    * rollup and its bit-exact streaming twin. */
  private[graft] val hllNativeExactRegimeSql: String =
    """SELECT CAST(event_type AS VARCHAR) AS segment,
      |  COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS est_distinct
      |FROM events WHERE user_id IS NOT NULL GROUP BY 1
      |UNION ALL
      |SELECT '__TOTAL__', COUNT(*), COUNT(DISTINCT user_id)
      |FROM events WHERE user_id IS NOT NULL
      |ORDER BY segment""".stripMargin
}
