package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class WarcIngestSpec extends SparkSpec {

  private def freshDir(name: String): String = tempDir(s"graft_warcspec_$name")

  test("synthetic archives round-trip: framing, HTTP parse, gzip bucket") {
    import spark.implicits._
    val out = freshDir("rt")
    val docs = (0L until 10L).map { i =>
      // bodies exercise entities-in-waiting (&, <, >), CRLF-bearing text,
      // and multi-byte UTF-8 — octet arithmetic must hold for all three
      (i, s"https://example.org/d/$i", s"<html><p>body $i &<>\r\n café</p></html>")
    }.toDF("doc_id", "uri", "body")
    WarcIngest.writeSyntheticWarc(spark, docs, "doc_id", "uri", "body", out, nFiles = 3)

    assert(new java.io.File(out, "warc-0.warc.gz").exists(), "bucket 0 must be gzipped")
    assert(new java.io.File(out, "warc-1.warc").exists())
    assert(new java.io.File(out, "warc-2.warc").exists())

    val recs = WarcIngest.readRecords(spark, out).cache()
    assert(recs.count() === 13) // 10 responses + 3 warcinfo
    val resp = recs.filter($"warc_type" === "response")
      .select(regexp_extract($"record_id", "doc:(\\d+)", 1).cast("long").as("doc_id"),
        $"target_uri", $"http_status", $"http_content_type", $"body",
        $"content_length")
      .collect().sortBy(_.getLong(0))
    assert(resp.length === 10)
    resp.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i.toLong)
      assert(r.getString(1) === s"https://example.org/d/$i")
      assert(r.getInt(2) === 200)
      assert(r.getString(3) === "text/html; charset=utf-8")
      val expectedBody = s"<html><p>body $i &<>\r\n café</p></html>"
      assert(r.getString(4) === expectedBody)
      // WARC Content-Length = HTTP head octets + body octets
      val bodyOctets = expectedBody.getBytes(UTF_8).length
      val head = s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\nContent-Length: $bodyOctets\r\n\r\n"
      assert(r.getLong(5) === head.getBytes(UTF_8).length + bodyOctets)
    }
    // warcinfo: non-HTTP payload passes through whole, HTTP columns null
    val infos = recs.filter($"warc_type" === "warcinfo").collect()
    assert(infos.length === 3)
    infos.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("http_status")))
      assert(r.isNullAt(r.fieldIndex("target_uri")))
      assert(r.getString(r.fieldIndex("body")).startsWith("software: graft-warc/1.0"))
    }
    // the gzipped and plain buckets parse identically: every bucket holds
    // its doc_id % 3 class
    val byFile = recs.filter($"warc_type" === "response")
      .select(regexp_extract($"file", "warc-(\\d+)\\.warc", 1).cast("long").as("b"),
        regexp_extract($"record_id", "doc:(\\d+)", 1).cast("long").as("doc_id"))
      .collect()
    byFile.foreach(r => assert(r.getLong(1) % 3 === r.getLong(0)))
    recs.unpersist()
  }

  test("LF-only line endings and unknown record types are tolerated") {
    val out = freshDir("lf")
    val body = "plain payload"
    val rec = "WARC/1.0\nWARC-Type: metadata\n" +
      "WARC-Record-ID: <urn:x:1>\nContent-Length: " +
      body.getBytes(UTF_8).length + "\n\n" + body + "\n\n"
    Files.write(Paths.get(out, "warc-9.warc"), rec.getBytes(UTF_8))
    val rows = WarcIngest.readRecords(spark, out).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getString(r.fieldIndex("warc_type")) === "metadata")
    assert(r.getString(r.fieldIndex("body")) === body)
    assert(r.isNullAt(r.fieldIndex("http_status")))
  }

  test("truncated payload fails the task loudly, not silently") {
    val out = freshDir("trunc")
    val rec = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:x:2>\r\nContent-Length: 9999\r\n\r\nshort"
    Files.write(Paths.get(out, "warc-0.warc"), rec.getBytes(UTF_8))
    val e = intercept[org.apache.spark.SparkException] {
      WarcIngest.readRecords(spark, out).collect()
    }
    assert(e.getMessage.contains("truncated") ||
      Option(e.getCause).exists(_.getMessage.contains("truncated")))
  }

  test("binary payloads round-trip byte-exact through the archive") {
    import spark.implicits._
    val out = freshDir("bin")
    // bytes that are NOT valid UTF-8 (0xFF, 0xFE) — a string round-trip
    // would corrupt them; body_bytes must not
    val payload = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0xff.toByte,
      0xfe.toByte, 0x00, 0x0d, 0x0a, 0x1a)
    val docs = Seq((7L, "https://img.example/x.png", payload))
      .toDF("doc_id", "uri", "body")
    WarcIngest.writeSyntheticWarc(spark, docs, "doc_id", "uri", "body", out,
      nFiles = 2, contentType = "image/png")
    val got = WarcIngest.readRecords(spark, out)
      .filter($"warc_type" === "response").collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[Array[Byte]]("body_bytes").toSeq === payload.toSeq)
    assert(r.getAs[String]("http_content_type") === "image/png")
    // the WARC content-length counted the raw octets, not a UTF-8 blowup
    val head = s"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\nContent-Length: ${payload.length}\r\n\r\n"
    assert(r.getAs[Long]("content_length") === head.length + payload.length)
  }

  test("incremental ingest: delta-only waves, idempotent re-run") {
    import spark.implicits._
    val warc = freshDir("inc_src")
    val docs = (0L until 9L).map(i =>
      (i, s"https://e.org/$i", s"<p>$i</p>")).toDF("doc_id", "uri", "body")
    WarcIngest.writeSyntheticWarc(spark, docs, "doc_id", "uri", "body", warc,
      nFiles = 3)
    val base = freshDir("inc_wh")
    val wh = s"$base/warehouse"
    val mf = s"$base/manifest"
    // wave 1: only bucket 0 visible to the glob
    val w1 = WarcIngest.ingestIncremental(spark, warc, wh, mf,
      glob = "warc-0.warc*")
    assert(w1.size === 1)
    assert(spark.read.parquet(wh).filter($"warc_type" === "response")
      .count() === 3)
    // wave 2: everything; only the two unseen buckets are parsed
    val w2 = WarcIngest.ingestIncremental(spark, warc, wh, mf)
    assert(w2.size === 2 && !w2.exists(_.contains("warc-0")))
    // wave 3: nothing new; nothing appended
    assert(WarcIngest.ingestIncremental(spark, warc, wh, mf).isEmpty)
    val all = spark.read.parquet(wh)
    assert(all.count() === 12) // 9 responses + 3 warcinfo, each exactly once
    assert(all.select("record_id").distinct().count() === 12)
  }

  test("property: random record mixes round-trip plain and gzipped archives") {
    val rnd = new scala.util.Random(42)
    val out = freshDir("prop")
    def randBody(): Array[Byte] = {
      // bodies mixing text, CRLFs (must not desync record framing), and
      // raw bytes incl. invalid UTF-8
      val n = rnd.nextInt(200)
      Array.fill(n)(rnd.nextInt(256).toByte)
    }
    val recs = (0 until 40).map { i =>
      (i.toLong, s"https://p.example/$i", randBody())
    }
    // half the records through the HTTP response framing, half as raw
    // conversion payloads; archive 0 gzipped per record, archive 1 plain
    val streams = Seq(
      new java.io.FileOutputStream(s"$out/warc-0.warc.gz"),
      new java.io.FileOutputStream(s"$out/warc-1.warc"))
    try {
      recs.foreach { case (id, uri, body) =>
        val framed =
          if (id % 2 == 0) WarcIngest.responseRecord(id, uri, body)
          else WarcIngest.conversionRecord(id, uri, body)
        val b = (id % 2).toInt
        streams(b).write(
          if (b == 0) WarcIngest.gzipMember(framed) else framed)
      }
    } finally streams.foreach(_.close())
    val got = WarcIngest.readRecords(spark, out).collect()
      .map(r => (r.getAs[String]("record_id"),
        r.getAs[String]("warc_type"),
        r.getAs[Array[Byte]]("body_bytes").toSeq))
      .toSet
    val expected = recs.map { case (id, _, body) =>
      (s"<urn:graft:doc:$id>",
        if (id % 2 == 0) "response" else "conversion", body.toSeq)
    }.toSet
    assert(got === expected,
      "every random record must round-trip byte-exact through both codecs")
  }

  test("charset sniffing: BOM > Content-Type param > meta > UTF-8") {
    def sniff(ct: Option[String], body: Array[Byte]): String =
      WarcIngest.sniffCharset(ct, body).name()
    val html = (cs: String) => s"""<html><head><meta charset="$cs"></head></html>"""
    // header parameter
    assert(sniff(Some("text/html; charset=ISO-8859-1"), "x".getBytes(UTF_8))
      === "ISO-8859-1")
    assert(sniff(Some("text/html;charset=\"gb2312\""), "x".getBytes(UTF_8))
      === "GB2312")
    // meta charset attr and http-equiv, only when the header has no param
    assert(sniff(Some("text/html"), html("shift_jis").getBytes(UTF_8))
      === "Shift_JIS")
    val equiv = "<html><head><meta http-equiv=\"Content-Type\" " +
      "content=\"text/html; charset=windows-1252\"></head></html>"
    assert(sniff(Some("text/html"), equiv.getBytes(UTF_8)) === "windows-1252")
    assert(sniff(Some("text/html; charset=utf-8"),
      html("shift_jis").getBytes(UTF_8)) === "UTF-8")
    // BOM beats everything
    assert(sniff(Some("text/html; charset=iso-8859-1"),
      "page".getBytes("UTF-16")) === "UTF-16")
    assert(sniff(Some("text/html; charset=iso-8859-1"),
      Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ "x".getBytes(UTF_8))
      === "UTF-8")
    // binary content never meta-scans; unknown names fall through
    assert(sniff(Some("image/png"), html("shift_jis").getBytes(UTF_8)) === "UTF-8")
    assert(sniff(Some("text/html; charset=no-such-cs"), "x".getBytes(UTF_8))
      === "UTF-8")
    assert(sniff(None, "plain".getBytes(UTF_8)) === "UTF-8")
  }

  test("legacy-charset bodies decode to the exact original text") {
    import spark.implicits._
    val out = freshDir("cs")
    val pages = Seq(
      (0L, "ISO-8859-1", "text/html; charset=iso-8859-1", "café à ±°"),
      (1L, "windows-1252", "text/html; charset=windows-1252", "€uro — café"),
      (2L, "GB2312", "text/html; charset=gb2312", "中文编码测试 abc"),
      (3L, "Shift_JIS", "text/html; charset=shift_jis", "日本語テキスト abc"),
      (4L, "UTF-16", "text/html", "Ωmega ±π — BOM decides"))
    val docs = pages.map { case (id, cs, ct, text) =>
      (id, s"https://cs.example.org/$id",
        text.getBytes(java.nio.charset.Charset.forName(cs)), ct)
    }.toDF("doc_id", "uri", "body", "ct")
    WarcIngest.writeResponsesWarc(spark, docs, "doc_id", "uri", "body", "ct",
      out, nFiles = 2)
    val got = WarcIngest.readRecords(spark, out)
      .filter($"warc_type" === "response")
      .select(regexp_extract($"record_id", "doc:(\\d+)", 1).cast("long"),
        $"charset", $"body")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    pages.zip(got).foreach { case ((id, cs, _, text), (gid, gcs, gbody)) =>
      assert(gid === id)
      assert(gcs === cs, s"doc $id sniffed wrong charset")
      assert(gbody === text, s"doc $id body did not round-trip")
    }
    // per-record content types survive the archive
    val cts = WarcIngest.readRecords(spark, out)
      .filter($"warc_type" === "response")
      .select(regexp_extract($"record_id", "doc:(\\d+)", 1).cast("long"),
        $"http_content_type")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    pages.foreach { case (id, _, ct, _) => assert(cts(id) === ct) }
  }

  test("dechunk/gunzip/inflate: framing variants and tolerance") {
    def ck(s: String) = WarcIngest.dechunk(s.getBytes(UTF_8)).map(new String(_, UTF_8))
    // basic chunks, hex sizes, chunk extension, trailers, LF-only lines
    assert(ck("5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n") === Some("hello world"))
    assert(ck("b;ext=1\r\nhello world\r\n0\r\nX-Trailer: v\r\n\r\n")
      === Some("hello world"))
    assert(ck("5\nhello\n0\n\n") === Some("hello"))
    // framing violations: bad hex, size past end, missing chunk CRLF
    assert(ck("zz\r\nhello\r\n0\r\n\r\n") === None)
    assert(ck("ff\r\nshort\r\n0\r\n\r\n") === None)
    assert(ck("5\r\nhelloXX0\r\n\r\n") === None)
    // gzip/deflate round-trips + garbage tolerance
    val txt = "compress me ten times over, compress me ten times over!"
    val gz = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(txt.getBytes(UTF_8)); g.close(); bos.toByteArray
    }
    assert(WarcIngest.gunzip(gz).map(new String(_, UTF_8)) === Some(txt))
    assert(WarcIngest.gunzip("not gzip".getBytes(UTF_8)) === None)
    val zlib = {
      val d = new java.util.zip.Deflater()
      d.setInput(txt.getBytes(UTF_8)); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end(); bos.toByteArray
    }
    assert(WarcIngest.inflate(zlib).map(new String(_, UTF_8)) === Some(txt))
    // raw deflate (the server bug): strip the 2-byte zlib head + 4-byte adler
    val raw = {
      val d = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(txt.getBytes(UTF_8)); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end(); bos.toByteArray
    }
    assert(WarcIngest.inflate(raw).map(new String(_, UTF_8)) === Some(txt))
  }

  test("chunked + compressed HTTP bodies decode out of the archive") {
    import spark.implicits._
    val out = freshDir("enc")
    val text = "wire format survivors keep their exact page text intact"
    def http(coding: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n$coding\r\n")
        .getBytes(UTF_8) ++ body
    def chunk(b: Array[Byte], k: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < b.length) {
        val n = math.min(k, b.length - i)
        bos.write((java.lang.Long.toHexString(n.toLong) + "\r\n").getBytes(UTF_8))
        bos.write(b, i, n); bos.write("\r\n".getBytes(UTF_8)); i += n
      }
      bos.write("0\r\n\r\n".getBytes(UTF_8)); bos.toByteArray
    }
    val gz = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(text.getBytes(UTF_8)); g.close(); bos.toByteArray
    }
    val rows = Seq(
      (0L, http(s"Content-Length: ${text.length}\r\n", text.getBytes(UTF_8))),
      (1L, http("Transfer-Encoding: chunked\r\n", chunk(text.getBytes(UTF_8), 7))),
      (2L, http(s"Content-Encoding: gzip\r\nContent-Length: ${gz.length}\r\n", gz)),
      (3L, http("Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n",
        chunk(gz, 11))),
      // unknown coding: raw bytes must survive untouched
      (4L, http(s"Content-Encoding: br\r\nContent-Length: ${text.length}\r\n",
        text.getBytes(UTF_8))))
      .toDF("doc_id", "payload")
      .withColumn("uri", concat(lit("https://e.org/"), $"doc_id"))
    WarcIngest.writeHttpResponsesWarc(spark, rows, "doc_id", "uri", "payload",
      out, nFiles = 2)
    val got = WarcIngest.readRecords(spark, out)
      .filter($"warc_type" === "response")
      .select(regexp_extract($"record_id", "doc:(\\d+)", 1).cast("long"), $"body")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Seq(0L, 1L, 2L, 3L, 4L).foreach(id => assert(got(id) === text,
      s"mode $id body did not decode to the original text"))
  }

  test("revisit records: resolution, dangling pointers surfaced") {
    import spark.implicits._
    val c1 = freshDir("rev1")
    val c2 = freshDir("rev2")
    WarcIngest.writeSyntheticWarc(spark,
      Seq((0L, "https://e.com/0", "original zero"),
        (1L, "https://e.com/1", "original one")).toDF("doc_id", "uri", "body"),
      "doc_id", "uri", "body", c1, nFiles = 2)
    // crawl 2: doc 0 unchanged (revisit -> c1), doc 1 updated, doc 2 a
    // revisit whose pointer names a record that never existed
    val frames = Seq(
      (0L, WarcIngest.revisitRecord(0L, "https://e.com/0", "<urn:graft:doc:0>")),
      (1L, WarcIngest.responseRecord(1L, "https://e.com/1",
        "updated one".getBytes(UTF_8))),
      (2L, WarcIngest.revisitRecord(2L, "https://e.com/2", "<urn:graft:doc:99>")))
      .toDF("doc_id", "rec")
    WarcIngest.writeFramedWarc(spark, frames, "doc_id", "rec", c2, nFiles = 2)
    val got = WarcIngest.resolveRevisits(
      WarcIngest.readRecords(spark, c2), WarcIngest.readRecords(spark, c1))
      .select(regexp_extract($"record_id", "doc:(\\d+)", 1).cast("long"),
        $"is_revisit", $"resolved", $"body")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), Option(r.getString(3)))))
      .toMap
    assert(got(0L) === ((true, true, Some("original zero"))))
    assert(got(1L) === ((false, true, Some("updated one"))))
    assert(got(2L) === ((true, false, None)), "dangling pointer must surface")
    // the reader exposes the pointer itself
    val refs = WarcIngest.readRecords(spark, c2)
      .filter($"warc_type" === "revisit")
      .select(regexp_extract($"record_id", "doc:(\\d+)", 1).cast("long"),
        $"refers_to")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(refs(0L) === "<urn:graft:doc:0>")
    assert(refs(2L) === "<urn:graft:doc:99>")
  }

  test("one-pass writer: empty buckets still get warcinfo-only files") {
    // every doc hashes to bucket 1 of 4 — the writer must learn bucket
    // presence from the single write pass (no second upstream job) and
    // still backfill warcinfo-only files for buckets 0, 2, 3, including
    // the GZIPPED bucket-0 spelling
    import spark.implicits._
    val out = freshDir("backfill")
    val docs = Seq(1L, 5L, 9L)
      .map(i => (i, s"https://example.org/d/$i", s"<html>doc $i</html>"))
      .toDF("doc_id", "uri", "body")
    WarcIngest.writeSyntheticWarc(spark, docs, "doc_id", "uri", "body", out,
      nFiles = 4)
    assert(new java.io.File(out, "warc-0.warc.gz").exists())
    (1 to 3).foreach(b =>
      assert(new java.io.File(out, s"warc-$b.warc").exists()))
    val recs = WarcIngest.readRecords(spark, out).cache()
    assert(recs.filter($"warc_type" === "warcinfo").count() === 4)
    assert(recs.filter($"warc_type" === "response").count() === 3)
    val buckets = recs.filter($"warc_type" === "response")
      .select($"file").distinct().collect().map(_.getString(0)).toSet
    assert(buckets.forall(_.endsWith("warc-1.warc")), s"got $buckets")
    recs.unpersist()
    ()
  }

  test("missing directory and empty directory both read as empty") {
    assert(WarcIngest.readRecords(spark, "/nonexistent/graft/warcs").count() === 0)
    assert(WarcIngest.readRecords(spark, freshDir("empty")).count() === 0)
  }

  test("payload cap guards a malformed length header") {
    val out = freshDir("cap")
    val body = "x" * 100
    val rec = "WARC/1.0\r\nWARC-Type: resource\r\n" +
      "WARC-Record-ID: <urn:x:3>\r\nContent-Length: 100\r\n\r\n" + body + "\r\n\r\n"
    Files.write(Paths.get(out, "warc-0.warc"), rec.getBytes(UTF_8))
    val e = intercept[org.apache.spark.SparkException] {
      WarcIngest.readRecords(spark, out, maxPayloadBytes = 10).collect()
    }
    assert(e.getMessage.contains("maxPayloadBytes") ||
      Option(e.getCause).exists(_.getMessage.contains("maxPayloadBytes")))
  }
}
