package graft.ingest

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.SerializableWritable
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** WARC (ISO 28500) crawl-archive ingestion — the true FRONT of a web-scale
  * training-data pipeline: before URL curation, before HTML extraction,
  * before any dedup, the corpus arrives as WARC archives (Common Crawl
  * ships ~100 TB/crawl exactly in this shape). Beyond-reference extension;
  * the reference ingests CSV only (`main.py:30-62`).
  *
  * Scale design:
  *  - **One partition per archive file** ([[readRecords]]): WARC archives
  *    are the crawl's natural unit of parallelism (CC caps them ~1 GB);
  *    100 TB ≈ 10⁵ files fans out as 10⁵ tasks with zero shuffle — record
  *    parsing is embarrassingly parallel and every downstream operator
  *    (extraction, curation, dedup) sees an ordinary DataFrame.
  *  - **Constant memory per record**, never per file: the iterator streams
  *    the Hadoop input stream record by record (version line → headers →
  *    `Content-Length` payload bytes), so a 1 GB archive is parsed under a
  *    buffered-reader footprint plus one payload at a time, with an
  *    explicit `maxPayloadBytes` guard against a malformed length header.
  *  - **Gzip-member transparency**: production archives are `.warc.gz`
  *    with one gzip member per record (the CC convention);
  *    `GZIPInputStream` consumes concatenated members natively, so the
  *    same iterator handles plain and gzipped archives — the synthetic
  *    fixture writes one bucket gzipped to keep that path exercised.
  *  - The driver holds only the file list (one path per archive — the
  *    same bounded metadata [[Harmonizer.groupByLayout]] collects; part of
  *    the sanctioned-collect inventory).
  *
  * Parsing is tolerant the way crawl tooling must be: LF-only line ends
  * are accepted where CRLF is specified, unknown record types pass
  * through as rows (typed, non-HTTP payload kept verbatim), and a payload
  * that is not an HTTP message simply leaves the HTTP columns null —
  * malformed records fail the task loudly rather than silently skipping
  * (a length desync would otherwise corrupt every later record in the
  * file).
  */
object WarcIngest {

  /** One parsed WARC record. `http_*` fields are present only when the
    * payload is an HTTP response message. The body ships twice: as the
    * EXACT bytes (`body_bytes` — crawls are mostly binary: images,
    * PDFs, media) and as its decoded string view (`body` — what the
    * text pipeline consumes); for responses both are the HTTP body,
    * otherwise the raw payload. For HTTP responses the string view is
    * decoded under the SNIFFED charset ([[sniffCharset]]: BOM →
    * Content-Type parameter → `<meta charset>` → UTF-8) and `charset`
    * records the choice — real crawls are heavily legacy-charset
    * (ISO-8859-1, windows-1252, GB2312, Shift_JIS) and a UTF-8-only
    * view would hand the extractor mojibake; non-HTTP payloads stay
    * UTF-8 (`charset` null). */
  final case class WarcRecord(
      file: String,
      rec_offset: Long,
      warc_type: String,
      record_id: String,
      target_uri: Option[String],
      warc_date: String,
      content_length: Long,
      http_status: Option[Int],
      http_content_type: Option[String],
      http_location: Option[String],
      charset: Option[String],
      refers_to: Option[String],
      body: String,
      body_bytes: Array[Byte])

  /** Fixed bound on one record's `Content-Length` (64 MiB): a malformed
    * length header fails the parse instead of buffering an unbounded
    * payload. [[ingestIncremental]] always runs under it. */
  private val MaxPayloadBytes = 64 << 20

  private val CharsetParam =
    """charset\s*=\s*"?([a-zA-Z0-9._:-]+)"?""".r
  private val MetaCharset =
    ("""<meta\s+charset\s*=\s*["']?([a-z0-9._:-]+)""" +
      """|<meta\s[^>]*?content\s*=\s*["'][^"']*?charset=([a-z0-9._:-]+)""").r

  private def resolveCharset(name: String): Option[java.nio.charset.Charset] =
    try Some(java.nio.charset.Charset.forName(name.trim))
    catch { case _: Exception => None }

  /** Charset for an HTTP response body's string view, WHATWG-ish
    * precedence: (1) a byte-order mark is authoritative (UTF-8 BOM, or
    * either UTF-16 BOM — Java's "UTF-16" decoder consumes both); (2) the
    * `charset=` parameter of the Content-Type header; (3) for HTML-ish
    * content only, a `<meta charset>` / `http-equiv` declaration inside
    * the first 1024 bytes (scanned under ISO-8859-1, which is
    * byte-transparent — and ASCII-safe for every charset this path can
    * name, since the legacy encodings are ASCII-supersets); (4) UTF-8.
    * Unknown/unsupported names fall through to UTF-8 rather than fail —
    * crawl tooling tolerance. */
  private[ingest] def sniffCharset(contentType: Option[String],
                                   body: Array[Byte]): java.nio.charset.Charset = {
    if (body.length >= 3 && (body(0) & 0xff) == 0xef &&
        (body(1) & 0xff) == 0xbb && (body(2) & 0xff) == 0xbf) return UTF_8
    if (body.length >= 2) {
      val b0 = body(0) & 0xff
      val b1 = body(1) & 0xff
      if ((b0 == 0xfe && b1 == 0xff) || (b0 == 0xff && b1 == 0xfe))
        return java.nio.charset.Charset.forName("UTF-16")
    }
    val ct = contentType.getOrElse("").toLowerCase(java.util.Locale.ROOT)
    val fromHeader = CharsetParam.findFirstMatchIn(ct).map(_.group(1))
    val fromMeta =
      if (fromHeader.isEmpty &&
          (ct.isEmpty || ct.startsWith("text/") || ct.contains("xhtml"))) {
        val head = new String(body, 0, math.min(body.length, 1024),
          java.nio.charset.StandardCharsets.ISO_8859_1)
          .toLowerCase(java.util.Locale.ROOT)
        MetaCharset.findFirstMatchIn(head)
          .map(m => Option(m.group(1)).getOrElse(m.group(2)))
      } else None
    fromHeader.orElse(fromMeta).flatMap(resolveCharset).getOrElse(UTF_8)
  }

  /** Decode an HTTP/1.1 chunked body (RFC 9112 §7.1): hex chunk-size
    * lines (chunk extensions after ';' ignored), CRLF-delimited data,
    * terminated by a 0-size chunk plus optional trailer fields. LF-only
    * line ends tolerated like the rest of the parser. None on any
    * framing violation — the caller keeps the raw bytes. */
  private[ingest] def dechunk(b: Array[Byte]): Option[Array[Byte]] = {
    val out = new ByteArrayOutputStream(b.length)
    var i = 0
    def line(): Option[String] = {
      val start = i
      while (i < b.length && b(i) != '\n') i += 1
      if (i >= b.length) None
      else {
        val end = if (i > start && b(i - 1) == '\r') i - 1 else i
        i += 1
        Some(new String(b, start, end - start, UTF_8))
      }
    }
    while (true) {
      val sizeLine = line().getOrElse(return None)
      val hexPart = sizeLine.takeWhile(_ != ';').trim
      if (hexPart.isEmpty || !hexPart.forall(c => Character.digit(c, 16) >= 0))
        return None
      val size =
        try java.lang.Long.parseLong(hexPart, 16)
        catch { case _: NumberFormatException => return None }
      if (size == 0L) {
        // optional trailers until a blank line (or clean end of input)
        var t = line()
        while (t.exists(_.nonEmpty)) t = line()
        return Some(out.toByteArray)
      }
      if (size < 0 || i + size > b.length) return None
      out.write(b, i, size.toInt)
      i += size.toInt
      // the CRLF that closes the chunk data
      if (i < b.length && b(i) == '\r') i += 1
      if (i >= b.length || b(i) != '\n') return None
      i += 1
    }
    None // unreachable
  }

  /** Gunzip, tolerating concatenated members; None when not valid gzip.
    * `private[graft]`: [[graft.expr.GzipOps]] reuses it for the
    * gzip-transparent sitemap/text path. */
  private[graft] def gunzip(b: Array[Byte]): Option[Array[Byte]] =
    try {
      val in = new GZIPInputStream(new java.io.ByteArrayInputStream(b), 1 << 14)
      val out = new ByteArrayOutputStream(b.length * 3 + 64)
      val buf = new Array[Byte](1 << 14)
      var r = in.read(buf)
      while (r != -1) { out.write(buf, 0, r); r = in.read(buf) }
      in.close()
      Some(out.toByteArray)
    } catch { case _: Exception => None }

  /** Inflate a `deflate` body: zlib-wrapped per the RFC, falling back to
    * raw deflate (the classic server bug the major browsers tolerate). */
  private[graft] def inflate(b: Array[Byte]): Option[Array[Byte]] = {
    def run(nowrap: Boolean): Option[Array[Byte]] =
      try {
        val inf = new java.util.zip.Inflater(nowrap)
        inf.setInput(b)
        val out = new ByteArrayOutputStream(b.length * 3 + 64)
        val buf = new Array[Byte](1 << 14)
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0 && !inf.finished()) {
            inf.end()
            return None // needs more input/dict: truncated or not deflate
          }
          out.write(buf, 0, n)
        }
        inf.end()
        Some(out.toByteArray)
      } catch { case _: Exception => None }
    run(nowrap = false).orElse(run(nowrap = true))
  }

  /** Streaming record iterator over one archive's input stream. */
  private final class RecordIterator(raw: InputStream, fileName: String,
                                     maxPayloadBytes: Int)
      extends Iterator[WarcRecord] {
    private val in = new BufferedInputStream(raw, 1 << 16)
    private var offset = 0L
    private var nextRec: WarcRecord = _
    private var eof = false

    private def readByte(): Int = {
      val b = in.read()
      if (b != -1) offset += 1
      b
    }

    /** One header line: bytes to LF, CR stripped, UTF-8; null at EOF. */
    private def readLine(): String = {
      var b = readByte()
      if (b == -1) return null
      val out = new ByteArrayOutputStream(96)
      while (b != -1 && b != '\n') { out.write(b); b = readByte() }
      val arr = out.toByteArray
      val n = if (arr.nonEmpty && arr(arr.length - 1) == '\r') arr.length - 1
              else arr.length
      new String(arr, 0, n, UTF_8)
    }

    private def readFully(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var got = 0
      while (got < n) {
        val r = in.read(buf, got, n - got)
        if (r == -1) throw new java.io.EOFException(
          s"$fileName: record payload truncated at $got/$n bytes (offset $offset)")
        got += r; offset += r
      }
      buf
    }

    /** Advance to the next record; sets `eof` when the archive is done. */
    private def advance(): Unit = {
      // Skip the inter-record blank lines (the spec's trailing CRLFCRLF).
      var line = readLine()
      while (line != null && line.isEmpty) line = readLine()
      if (line == null) { eof = true; return }
      val recOffset = offset - line.length - 1 // approximate: pre-CR/LF math not needed downstream
      if (!line.startsWith("WARC/")) throw new IllegalArgumentException(
        s"$fileName: expected WARC version line at offset $recOffset, got: $line")
      val headers = scala.collection.mutable.Map.empty[String, String]
      var h = readLine()
      while (h != null && h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0) headers(h.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)) = h.substring(i + 1).trim
        h = readLine()
      }
      val clen = headers.getOrElse("content-length", throw new IllegalArgumentException(
        s"$fileName: record at offset $recOffset has no Content-Length")).toLong
      require(clen >= 0 && clen <= maxPayloadBytes,
        s"$fileName: payload of $clen bytes exceeds maxPayloadBytes=$maxPayloadBytes")
      val payload = readFully(clen.toInt)
      val warcType = headers.getOrElse("warc-type", "")
      val (status, ctype, location, bodyBytes) = parseHttp(payload)
      val cs = if (status.isDefined) sniffCharset(ctype, bodyBytes) else UTF_8
      nextRec = WarcRecord(fileName, recOffset, warcType,
        headers.getOrElse("warc-record-id", ""), headers.get("warc-target-uri"),
        headers.getOrElse("warc-date", ""), clen, status, ctype, location,
        if (status.isDefined) Some(cs.name()) else None,
        headers.get("warc-refers-to"),
        new String(bodyBytes, cs), bodyBytes)
    }

    /** Split an `application/http` payload into (status, content-type,
      * ENTITY body bytes); non-HTTP payloads come back whole with the
      * HTTP fields empty. Heritrix-style raw captures store the message
      * exactly as it crossed the wire, so the body may still carry its
      * transfer framing: `Transfer-Encoding: chunked` is de-chunked and
      * `Content-Encoding: gzip/x-gzip/deflate` decompressed — in that
      * order, the reverse of how the sender applied them. Unknown
      * encodings (br, zstd, …) and undecodable payloads keep the raw
      * bytes — crawl tolerance: a corrupt member must not kill the
      * archive task, and the raw bytes remain inspectable downstream. */
    private def parseHttp(payload: Array[Byte])
        : (Option[Int], Option[String], Option[String], Array[Byte]) = {
      val isHttp = payload.length >= 5 &&
        payload(0) == 'H' && payload(1) == 'T' && payload(2) == 'T' &&
        payload(3) == 'P' && payload(4) == '/'
      if (!isHttp) return (None, None, None, payload)
      // Locate the header/body split: \r\n\r\n (or tolerant \n\n).
      var split = -1
      var bodyStart = -1
      var i = 0
      while (split < 0 && i < payload.length - 1) {
        if (payload(i) == '\n') {
          if (payload(i + 1) == '\n') { split = i; bodyStart = i + 2 }
          else if (i + 2 < payload.length && payload(i + 1) == '\r' &&
            payload(i + 2) == '\n') { split = i; bodyStart = i + 3 }
        }
        i += 1
      }
      if (split < 0) { split = payload.length; bodyStart = payload.length }
      val head = new String(payload, 0, split, UTF_8)
      val lines = head.split("\r?\n")
      val status = lines.headOption.flatMap { sl =>
        val parts = sl.split(" ")
        if (parts.length >= 2) parts(1).toIntOption else None
      }
      def header(name: String): Option[String] = lines.drop(1).collectFirst {
        case l if l.toLowerCase(java.util.Locale.ROOT).startsWith(name + ":") =>
          l.substring(name.length + 1).trim
      }
      val ctype = header("content-type")
      val location = header("location")
      var body =
        java.util.Arrays.copyOfRange(payload, bodyStart, payload.length)
      if (header("transfer-encoding")
          .exists(_.toLowerCase(java.util.Locale.ROOT).contains("chunked")))
        body = dechunk(body).getOrElse(body)
      header("content-encoding")
        .map(_.toLowerCase(java.util.Locale.ROOT)).foreach {
          case "gzip" | "x-gzip" => body = gunzip(body).getOrElse(body)
          case "deflate" => body = inflate(body).getOrElse(body)
          case _ => () // identity or an encoding we can't decode: keep raw
        }
      (status, ctype, location, body)
    }

    override def hasNext: Boolean = {
      if (nextRec == null && !eof) {
        try advance()
        catch { case e: Throwable => in.close(); throw e }
        if (eof) in.close()
      }
      nextRec != null
    }

    override def next(): WarcRecord = {
      if (!hasNext) throw new NoSuchElementException
      val r = nextRec; nextRec = null; r
    }
  }

  /** Enumerate archives under `dir` matching `glob` — one path per
    * archive, the bounded driver metadata every ingest needs (the
    * sanctioned-collect class of [[Harmonizer.groupByLayout]]). */
  def listArchives(spark: SparkSession, dir: String,
                   glob: String = "*.warc*"): Seq[String] = {
    val globPath = new Path(s"$dir/$glob")
    val fs = globPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(globPath)).getOrElse(Array.empty)
      .map(_.getPath.toString).sorted.toSeq
  }

  /** Read every record of the given archive files — one task per
    * archive, streaming parse, no shuffle. */
  def readRecordFiles(spark: SparkSession, files: Seq[String],
                      maxPayloadBytes: Int = MaxPayloadBytes): DataFrame = {
    import spark.implicits._
    if (files.isEmpty) return spark.emptyDataset[WarcRecord].toDF()
    val confSer = new SerializableWritable(spark.sparkContext.hadoopConfiguration)
    val cap = maxPayloadBytes
    val rdd = spark.sparkContext.parallelize(files, files.length).flatMap { pStr =>
      val p = new Path(pStr)
      val base = p.getFileSystem(confSer.value).open(p)
      val stream: InputStream =
        if (pStr.endsWith(".gz")) new GZIPInputStream(base, 1 << 16) else base
      val it = new RecordIterator(stream, pStr, cap)
      Option(TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => stream.close()))
      it
    }
    spark.createDataset(rdd).toDF()
  }

  /** Read every record of every archive under `dir` matching `glob`
    * (plain `.warc` and per-record-gzipped `.warc.gz` both accepted). */
  def readRecords(spark: SparkSession, dir: String, glob: String = "*.warc*",
                  maxPayloadBytes: Int = MaxPayloadBytes): DataFrame =
    readRecordFiles(spark, listArchives(spark, dir, glob), maxPayloadBytes)

  /** Manifest-driven incremental ingest — how a crawl warehouse actually
    * grows: each run parses only archives NOT yet in the manifest,
    * appends their records to the parquet warehouse, then appends the
    * file names to the manifest. Idempotent at FILE granularity (an
    * archive is immutable once written — the WARC convention — so file
    * identity is the exactly-once key; a re-run with no new archives
    * writes nothing). The manifest is bounded driver metadata (one row
    * per archive); the record append is the usual one-job distributed
    * parse. Returns the newly ingested file names. The warehouse append
    * is not atomic with the manifest append — a crash between the two
    * re-ingests the delta's records on retry; callers needing
    * exactly-once downstream dedup on (file, rec_offset), which the
    * record table carries for exactly this purpose. */
  def ingestIncremental(spark: SparkSession, warcDir: String,
                        warehousePath: String, manifestPath: String,
                        glob: String = "*.warc*"): Seq[String] = {
    val all = listArchives(spark, warcDir, glob)
    // The manifest is BOUNDED DRIVER METADATA (one row per archive), so it
    // lives as newline-separated text slices read and written driver-side
    // through the FileSystem API — the [[graft.sink.VersionedTable]]
    // manifest discipline. The former parquet manifest paid one Spark read
    // job (+collect) and one write job PER INGEST CALL for kilobytes of
    // file names; the crawl-loop capstones call this three times per run.
    // Each ingest appends ONE new slice file via create-temp + rename
    // (atomic visibility: a crashed half-written slice never carries the
    // final name), preserving the documented idempotence story — a crash
    // between the warehouse append and the manifest append re-ingests the
    // delta's records on retry, deduplicable downstream on
    // (file, rec_offset). First run has no manifest dir yet: plain
    // existence probe, no read-and-catch.
    val manifestFsPath = new org.apache.hadoop.fs.Path(manifestPath)
    val manifestFs = manifestFsPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val seen: Set[String] =
      if (!manifestFs.exists(manifestFsPath)) Set.empty
      else {
        val slices = Option(manifestFs.globStatus(
          new org.apache.hadoop.fs.Path(manifestPath, "m*.txt")))
          .getOrElse(Array.empty)
        slices.iterator.flatMap { st =>
          val in = manifestFs.open(st.getPath)
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().filter(_.nonEmpty).toList
          finally in.close()
        }.toSet
      }
    val delta = all.filterNot(seen)
    if (delta.nonEmpty) {
      readRecordFiles(spark, delta, MaxPayloadBytes)
        .write.mode("append").parquet(warehousePath)
      manifestFs.mkdirs(manifestFsPath)
      val slice = s"m${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val tmp = new org.apache.hadoop.fs.Path(manifestPath, s".$slice.tmp")
      val dst = new org.apache.hadoop.fs.Path(manifestPath, s"$slice.txt")
      val out = manifestFs.create(tmp, true)
      try out.write(delta.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      require(manifestFs.rename(tmp, dst),
        s"ingestIncremental: failed to commit manifest slice $dst")
    }
    delta
  }

  private def crlf(sb: StringBuilder): StringBuilder = sb.append("\r\n")

  /** The one WARC record framer: the `WARC/1.0` line, `fields` as
    * `name: value` header lines, `Content-Length` (the octet count of
    * `payload`), a blank line, the payload parts, and the closing
    * CRLF CRLF. */
  private def warcRecord(fields: (String, String)*)
                        (payload: Array[Byte]*): Array[Byte] = {
    val n = payload.map(_.length).sum
    val warc = new StringBuilder(256)
    crlf(warc.append("WARC/1.0"))
    fields.foreach { case (k, v) => crlf(warc.append(k).append(": ").append(v)) }
    crlf(warc.append("Content-Length: ").append(n))
    crlf(warc)
    val head = warc.toString.getBytes(UTF_8)
    val out = new ByteArrayOutputStream(head.length + n + 4)
    out.write(head); payload.foreach(p => out.write(p))
    out.write("\r\n\r\n".getBytes(UTF_8))
    out.toByteArray
  }

  /** Per-partition bucket-file writer with a task-commit protocol: each
    * task attempt streams its buckets into ATTEMPT-UNIQUE temp names and
    * renames them into place only after the whole partition succeeded.
    * Two racing attempts of the same task (speculative execution, a
    * zombie attempt racing its retry) then each produce a complete
    * archive and the last rename wins — instead of both appending into
    * one shared `fs.create(overwrite)` stream and interleaving bytes
    * into a corrupt file. A failed attempt deletes its temps and renames
    * nothing, so a partial write is never visible under the final name.
    * Returns the bucket ids this partition COMMITTED — the write pass is
    * the source of truth for which buckets are present, so the writers
    * no longer re-run their (arbitrarily expensive) upstream frame in a
    * second `distinct().collect()` job just to list bucket ids. */
  private def writeBucketPartition(outDir: String,
      conf: org.apache.hadoop.conf.Configuration,
      fileName: Long => String,
      rows: Iterator[org.apache.spark.sql.Row],
      record: org.apache.spark.sql.Row => Array[Byte],
      bucketOf: org.apache.spark.sql.Row => Long): Set[Long] = {
    val fs = new Path(outDir).getFileSystem(conf)
    val attempt = Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
    // one open stream per bucket present in this partition (hash
    // partitioning on the bucket key keeps each bucket whole; ≤ nFiles)
    val open = scala.collection.mutable.Map
      .empty[Long, (OutputStream, Boolean, Path, Path)]
    def sinkFor(b: Long) = open.getOrElseUpdate(b, {
      val gz = b == 0L
      val name = fileName(b)
      val dest = new Path(outDir, name)
      // dots mangled so a hard-killed attempt's leftover temp can never
      // match the readers' `*.warc*` glob
      val tmp = new Path(outDir,
        s".inprogress-$attempt-${name.replace('.', '_')}")
      val os = fs.create(tmp, true)
      val info = warcinfoRecord(b)
      os.write(if (gz) gzipMember(info) else info)
      (os, gz, tmp, dest)
    })
    var ok = false
    try {
      rows.foreach { r =>
        val rec = record(r)
        val (os, gz, _, _) = sinkFor(bucketOf(r))
        os.write(if (gz) gzipMember(rec) else rec)
      }
      ok = true
    } finally {
      open.values.foreach { case (os, _, _, _) => os.close() }
      if (ok) open.values.foreach { case (_, _, tmp, dest) =>
        if (fs.exists(dest)) fs.delete(dest, false)
        if (!fs.rename(tmp, dest)) {
          // the other attempt renamed between our delete and rename:
          // replace its (also complete) file with ours
          fs.delete(dest, false)
          require(fs.rename(tmp, dest), s"commit rename $tmp -> $dest failed")
        }
      }
      else open.values.foreach { case (_, _, tmp, _) => fs.delete(tmp, false) }
    }
    open.keySet.toSet
  }

  /** The bucketed write every archive writer shares, as ONE job: clear
    * and recreate `outDir`; project the id (cast to long) and `cols`
    * (each cast to its type); key rows by `id % nFiles`, hash-partition
    * and id-sort each bucket; and stream each partition through
    * [[writeBucketPartition]] into `<prefix>-<bucket>.warc` files, bucket
    * 0 gzipped. `record` frames one projected row: the id at 0, then
    * `cols` in order. The collect()ed per-task bucket sets (≤ nFiles
    * longs each) replace the former SEPARATE `distinct().collect()`
    * presence probe — which re-evaluated the whole upstream frame per
    * write call (for the crawl-loop capstones: the frontier windows +
    * robots schedule, recomputed once per wave just to list bucket ids;
    * guide §1.2 step 1). Buckets no row hashed to still get their
    * warcinfo-only file so per-bucket rollups are total. */
  private def writeBuckets(spark: SparkSession, docs: DataFrame,
      idCol: String, cols: Seq[(String, String)], outDir: String,
      nFiles: Int, prefix: String,
      record: org.apache.spark.sql.Row => Array[Byte]): Unit = {
    import org.apache.spark.sql.functions._
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val outPath = new Path(outDir)
    val fsDriver = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fsDriver.exists(outPath)) fsDriver.delete(outPath, true)
    fsDriver.mkdirs(outPath)
    val conf = new SerializableWritable(spark.sparkContext.hadoopConfiguration)
    val fileName = (b: Long) =>
      if (b == 0L) s"$prefix-$b.warc.gz" else s"$prefix-$b.warc"
    val bucketAt = cols.size + 1
    val present = docs.select(col(idCol).cast("long") +:
        cols.map { case (c, t) => col(c).cast(t) }: _*)
      .withColumn("__b", pmod(col(idCol), lit(nFiles.toLong)))
      .repartition(nFiles, col("__b"))
      .sortWithinPartitions(col(idCol))
      .select((idCol +: cols.map(_._1) :+ "__b").map(col): _*)
      .rdd.mapPartitions { rows =>
        writeBucketPartition(outDir, conf.value, fileName, rows, record,
          _.getLong(bucketAt)).iterator
      }.collect().toSet
    (0L until nFiles.toLong).filterNot(present).foreach { b =>
      val gz = b == 0L
      val name = fileName(b)
      val os = fsDriver.create(new Path(outDir, name), true)
      try {
        val info = warcinfoRecord(b)
        os.write(if (gz) gzipMember(info) else info)
      } finally os.close()
    }
  }

  /** Frame one response record: WARC headers + HTTP/1.1 200 message. */
  private[graft] def responseRecord(docId: Long, uri: String,
                                     htmlBody: Array[Byte],
                                     contentType: String =
                                       "text/html; charset=utf-8"): Array[Byte] = {
    val http = new StringBuilder(96)
    crlf(http.append("HTTP/1.1 200 OK"))
    crlf(http.append("Content-Type: ").append(contentType))
    crlf(http.append("Content-Length: ").append(htmlBody.length))
    crlf(http)
    rawHttpRecord(docId, uri, http.toString.getBytes(UTF_8), htmlBody)
  }

  /** Frame one response record around a CALLER-BUILT HTTP message —
    * the fixture hook for wire-format variants (chunked transfer
    * framing, gzip/deflate content codings, exotic headers) that
    * [[responseRecord]]'s fixed head can't express. The payload parts go
    * in verbatim, in order; Content-Length is their exact octet count. */
  private[ingest] def rawHttpRecord(docId: Long, uri: String,
                                    parts: Array[Byte]*): Array[Byte] =
    warcRecord("WARC-Type" -> "response",
      "WARC-Record-ID" -> s"<urn:graft:doc:$docId>",
      "WARC-Date" -> "2026-01-01T00:00:00Z",
      "WARC-Target-URI" -> uri,
      "Content-Type" -> "application/http; msgtype=response")(parts: _*)

  /** [[writeResponsesWarc]] for pre-framed HTTP payload bytes: each row's
    * `payloadCol` is written verbatim as one response record's payload —
    * same bucketed layout, warcinfo-led files, bucket 0 gzipped. */
  def writeHttpResponsesWarc(spark: SparkSession, docs: DataFrame,
                             idCol: String, uriCol: String, payloadCol: String,
                             outDir: String, nFiles: Int): Unit = {
    writeBuckets(spark, docs, idCol,
      Seq(uriCol -> "string", payloadCol -> "binary"), outDir, nFiles, "warc",
      r => rawHttpRecord(r.getLong(0), r.getString(1),
        r.getAs[Array[Byte]](2)))
  }

  /** Frame one `revisit` record (ISO 28500 §6.7.2 — the
    * identical-payload-digest profile): a re-fetch that found the page
    * UNCHANGED stores no payload, only a pointer to the earlier capture
    * via WARC-Refers-To — how consecutive crawls avoid re-storing the
    * stable majority of the web. */
  private[graft] def revisitRecord(docId: Long, uri: String,
                                   refersTo: String): Array[Byte] =
    warcRecord("WARC-Type" -> "revisit",
      "WARC-Record-ID" -> s"<urn:graft:doc:$docId>",
      "WARC-Refers-To" -> refersTo,
      "WARC-Date" -> "2026-02-01T00:00:00Z",
      "WARC-Target-URI" -> uri,
      "WARC-Profile" ->
        "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest")()

  /** Bucketed writer of PRE-FRAMED record bytes — the fixture hook for
    * record types the response framers don't cover (revisit pointers,
    * mixed-type archives). Same layout contract as the other writers. */
  def writeFramedWarc(spark: SparkSession, docs: DataFrame, idCol: String,
                      framedCol: String, outDir: String,
                      nFiles: Int): Unit = {
    writeBuckets(spark, docs, idCol, Seq(framedCol -> "binary"), outDir,
      nFiles, "warc", r => r.getAs[Array[Byte]](1))
  }

  /** Resolve a crawl SNAPSHOT's revisit records against a reference
    * archive: revisit rows (unchanged pages, payload-free by design)
    * pull body/content-type from the capture their WARC-Refers-To names;
    * response rows pass through. One record_id-keyed equi-join — the
    * pointer side is the revisit subset only, never the whole snapshot.
    * A dangling pointer keeps the row with a NULL body (`resolved` =
    * false) — surfaced, never dropped. */
  def resolveRevisits(snapshot: DataFrame, archive: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val originals = archive.filter(col("warc_type") === "response")
      .select(col("record_id").as("__oid"),
        col("http_content_type").as("__oct"),
        col("body").as("__obody"),
        col("body_bytes").as("__obytes"))
    val fresh = snapshot.filter(col("warc_type") === "response")
      .select(col("record_id"), col("target_uri"),
        col("http_content_type"), col("body"), col("body_bytes"),
        lit(false).as("is_revisit"), lit(true).as("resolved"))
    val revisits = snapshot.filter(col("warc_type") === "revisit")
      .join(originals, col("refers_to") === col("__oid"), "left")
      .select(col("record_id"), col("target_uri"),
        col("__oct").as("http_content_type"),
        col("__obody").as("body"), col("__obytes").as("body_bytes"),
        lit(true).as("is_revisit"), col("__oid").isNotNull.as("resolved"))
    fresh.unionByName(revisits)
  }

  /** Frame one WET-style `conversion` record (Common Crawl's extracted-
    * text archives): the payload is the bare text — no HTTP wrapper. */
  private[ingest] def conversionRecord(docId: Long, uri: String,
                                       textBody: Array[Byte]): Array[Byte] =
    warcRecord("WARC-Type" -> "conversion",
      "WARC-Record-ID" -> s"<urn:graft:doc:$docId>",
      "WARC-Date" -> "2026-01-01T00:00:00Z",
      "WARC-Target-URI" -> uri,
      "Content-Type" -> "text/plain")(textBody)

  /** Write extracted text as WET archives — the Common Crawl convention
    * for the extraction stage's OUTPUT: `conversion` records (bare
    * text/plain payload, no HTTP message) in the same bucketed layout as
    * [[writeSyntheticWarc]] (bucket 0 gzipped per record), each file led
    * by a warcinfo record. The same record iterator reads them back
    * (non-HTTP payload ⇒ HTTP columns null, body = the text). */
  def writeWet(spark: SparkSession, docs: DataFrame, idCol: String,
               uriCol: String, textCol: String, outDir: String,
               nFiles: Int): Unit = {
    writeBuckets(spark, docs, idCol,
      Seq(uriCol -> "string", textCol -> "binary"), outDir, nFiles, "wet",
      r => conversionRecord(r.getLong(0), r.getString(1),
        r.getAs[Array[Byte]](2)))
  }

  /** Frame one file-leading warcinfo record. */
  private[ingest] def warcinfoRecord(bucket: Long): Array[Byte] = {
    val body = s"software: graft-warc/1.0\r\nbucket: $bucket\r\n".getBytes(UTF_8)
    warcRecord("WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> s"<urn:graft:warcinfo:$bucket>",
      "WARC-Date" -> "2026-01-01T00:00:00Z",
      "Content-Type" -> "application/warc-fields")(body)
  }

  /** One gzip member per record (the Common Crawl convention — a reader
    * can split mid-archive on member boundaries). Compressed standalone
    * so the Deflater is closed (and its native buffer released) per
    * record instead of leaking until GC. */
  private[ingest] def gzipMember(rec: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(rec.length / 2 + 64)
    val gz = new GZIPOutputStream(bos)
    try { gz.write(rec); gz.finish() } finally gz.close()
    bos.toByteArray
  }

  /** Build deterministic synthetic archives from `(doc_id, uri, body)`
    * rows: `nFiles` buckets keyed by `doc_id % nFiles`, each file led by a
    * warcinfo record then its bucket's response records in doc_id order.
    * Bucket 0 is written `.warc.gz` with one gzip member per record to
    * keep the compressed read path exercised. Fixture generator for the
    * oracle gates (the synthetic-PNG playbook) — production archives come
    * from the crawler. Runs as one distributed job: rows are hash-
    * partitioned on the bucket key (a bucket never splits across
    * partitions) and each task streams its buckets' files directly to the
    * target filesystem. */
  def writeSyntheticWarc(spark: SparkSession, docs: DataFrame, idCol: String,
                         uriCol: String, bodyCol: String, outDir: String,
                         nFiles: Int,
                         contentType: String = "text/html; charset=utf-8"): Unit = {
    import org.apache.spark.sql.functions._
    writeResponsesWarc(spark,
      docs.withColumn("__graft_ct", lit(contentType)),
      idCol, uriCol, bodyCol, "__graft_ct", outDir, nFiles)
  }

  /** [[writeSyntheticWarc]] with a PER-RECORD Content-Type column — what
    * a real capture stream has (one archive mixes text/html pages under
    * many charsets with images, PDFs, media). Same bucketed layout,
    * warcinfo-led files, bucket 0 gzipped per record, task-commit temp/
    * rename protocol. */
  def writeResponsesWarc(spark: SparkSession, docs: DataFrame, idCol: String,
                         uriCol: String, bodyCol: String, ctCol: String,
                         outDir: String, nFiles: Int): Unit = {
    // body cast to BINARY: string bodies become their UTF-8 bytes, binary
    // bodies (images, media, legacy-charset pages) pass through byte-exact
    writeBuckets(spark, docs, idCol,
      Seq(uriCol -> "string", bodyCol -> "binary", ctCol -> "string"),
      outDir, nFiles, "warc",
      r => responseRecord(r.getLong(0), r.getString(1),
        r.getAs[Array[Byte]](2), r.getString(3)))
  }
}
