package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Materialize

/** One media item: opaque bytes + typed metadata (the 100 TB-scale layout for
  * image/audio/video columns — binary payload, no parsing at rest). */
case class MediaRecord(media_id: Long, media: Array[Byte], mime: String)

/** Decoded/extracted features for one media item. */
case class MediaFeatures(media_id: Long, n_bytes: Int, width: Int, height: Int,
                         channels: Int, frame_offsets: Seq[Int])

/** Multimodal-column plumbing — beyond-reference extension.
  *
  * The Spark-side machinery is real and tested: binary columns with typed
  * metadata, partition-parallel batched decoding via `mapPartitions` on a
  * typed `Dataset` (the JVM analogue of `mapInPandas`: the iterator is
  * consumed in fixed-size batches exactly as an inference/decode service
  * would be called), and a deterministic feature schema.
  *
  * DECODING IS REAL, pure JVM, no codec dependencies: header parsing
  * ([[decodeHeader]]: PNG IHDR, GIF logical screen, JPEG SOF, WAV fmt),
  * full PIXEL decode for PNG (zlib inflate + all five filter types),
  * GIF (LZW + palette), and baseline JPEG (Huffman + dequant + IDCT +
  * YCbCr), WAV PCM sample decode, and MP4 box-walk with sample-table
  * frame extraction — each hash-oracled end-to-end (`q_image_decode*`,
  * `q_audio_*`, `q_video_*`). [[decodeStub]] is only the deterministic
  * fallback for UNRECOGNIZED containers, keeping the pipeline total over
  * arbitrary bytes; swapping in an external codec for a new container is
  * still one pure function — every schema, batch, and partitioning
  * decision stays.
  */
object Multimodal {

  /** Deterministic fake decode — stand-in for a full codec call, used only
    * when [[decodeHeader]] doesn't recognize the container. */
  def decodeStub(bytes: Array[Byte]): (Int, Int, Int) = {
    val n = bytes.length
    val width = 64 + n % 512
    val height = 64 + (n * 31) % 512
    (width, height, 3)
  }

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
  private def ascii(b: Array[Byte], i: Int, s: String): Boolean =
    i + s.length <= b.length && s.indices.forall(j => u8(b, i + j) == s.charAt(j))

  /** REAL container-header parsing — pure JVM, no codec dependencies.
    * Returns (width, height, channels) for the formats below, None for
    * unrecognized bytes (caller falls back to [[decodeStub]]):
    *
    *  - PNG: 8-byte signature, then IHDR — width/height big-endian u32 at
    *    16/20, channels derived from the color-type byte at 25. CRC is NOT
    *    verified (a full decoder would).
    *  - GIF87a/89a: logical-screen width/height little-endian u16 at 6/8.
    *  - JPEG: marker scan for the first SOF0-SOF3 frame header — height/
    *    width big-endian u16 at +5/+7, component count at +9.
    *  - WAV (RIFF/WAVE, canonical fmt-first layout): (sample_rate,
    *    bits_per_sample, n_channels) — the audio analogue of (w, h, c). */
  def decodeHeader(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    val b = bytes
    if (b.length >= 33 && u8(b, 0) == 0x89 && ascii(b, 1, "PNG") &&
        ascii(b, 12, "IHDR")) {
      val channels = u8(b, 25) match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
        case _ => 3
      }
      Some((be32(b, 16), be32(b, 20), channels))
    } else if (b.length >= 13 && (ascii(b, 0, "GIF87a") || ascii(b, 0, "GIF89a"))) {
      Some((le16(b, 6), le16(b, 8), 3))
    } else if (b.length >= 4 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8) {
      var i = 2
      var res: Option[(Int, Int, Int)] = None
      while (res.isEmpty && i + 9 < b.length && u8(b, i) == 0xff) {
        val marker = u8(b, i + 1)
        if (marker >= 0xc0 && marker <= 0xc3)
          res = Some((be16(b, i + 7), be16(b, i + 5), u8(b, i + 9)))
        else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd9)) i += 2
        else i += 2 + be16(b, i + 2)
      }
      res
    } else if (b.length >= 44 && ascii(b, 0, "RIFF") && ascii(b, 8, "WAVE") &&
        ascii(b, 12, "fmt ")) {
      Some((le32(b, 24), le16(b, 34), le16(b, 22)))
    } else None
  }

  // ------------------------------------------------------ real PNG decode

  /** Hard cap on decoded plane size — an adversarial or corrupt IHDR must
    * not allocate unbounded memory inside an executor task. */
  private val MaxPngPixels = 1 << 24

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Integer BT.601 luma — the constant the oracle SQL replays verbatim. */
  private def luma601(r: Int, g: Int, b: Int): Int = (77 * r + 150 * g + 29 * b) >> 8

  /** REAL PNG pixel decode — pure JVM, no codec dependencies: chunk walk
    * (IHDR / PLTE / IDAT / IEND), zlib inflate of the concatenated IDAT
    * stream via `java.util.zip.Inflater`, per-scanline de-filtering
    * (None/Sub/Up/Average/Paeth per the PNG spec §9), and reduction to an
    * 8-bit luminance plane (gray passthrough; palette lookup; RGB(A) via
    * the integer BT.601 luma `(77r+150g+29b)>>8`).
    *
    * Scope: 8-bit depth, non-interlaced, color types 0/2/3/4/6 — the
    * layouts the synthetic corpus and common real-world PNGs use. Anything
    * else (16-bit, Adam7, truncated or non-chunk tails like the header-only
    * harness payloads) returns None and the caller falls back to the
    * documented stub, so pre-existing fixtures keep their byte-walk hashes.
    *
    * @return (width, height, luminance plane of width*height bytes) */
  def decodePngPixels(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = try {
    val b = bytes
    if (b.length < 45 || u8(b, 0) != 0x89 || !ascii(b, 1, "PNG")) return None
    var i = 8
    var w = 0; var h = 0; var bitDepth = 0; var colorType = -1; var interlace = 0
    var palette: Array[Byte] = null
    var sawIhdr = false; var sawIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!sawIend && i + 12 <= b.length) {
      val clen = be32(b, i)
      if (clen < 0 || i.toLong + 12 + clen > b.length) return None
      // chunk types are four ASCII letters — anything else means the tail
      // is not chunked (e.g. the header-only synthetic payloads) → stub
      if (!(i + 4 until i + 8).forall { j =>
        val ch = u8(b, j); (ch >= 'A' && ch <= 'Z') || (ch >= 'a' && ch <= 'z')
      }) return None
      val ds = i + 8
      if (ascii(b, i + 4, "IHDR") && clen >= 13) {
        w = be32(b, ds); h = be32(b, ds + 4)
        bitDepth = u8(b, ds + 8); colorType = u8(b, ds + 9)
        interlace = u8(b, ds + 12); sawIhdr = true
      } else if (ascii(b, i + 4, "PLTE")) {
        palette = java.util.Arrays.copyOfRange(b, ds, ds + clen)
      } else if (ascii(b, i + 4, "IDAT")) {
        idat.write(b, ds, clen)
      } else if (ascii(b, i + 4, "IEND")) sawIend = true
      i = ds + clen + 4 // skip CRC (not verified — parity with decodeHeader)
    }
    if (!sawIhdr || bitDepth != 8 || interlace != 0 || idat.size == 0) return None
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPngPixels) return None
    val bpp = colorType match {
      case 0 | 3 => 1; case 2 => 3; case 4 => 2; case 6 => 4; case _ => return None
    }
    if (colorType == 3 && palette == null) return None
    val stride = w * bpp
    val raw = new Array[Byte](h * (1 + stride))
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var got = 0
    while (got < raw.length && !inf.finished()) {
      val n = inf.inflate(raw, got, raw.length - got)
      if (n == 0 && inf.needsInput()) { inf.end(); return None } // truncated
      got += n
    }
    inf.end()
    if (got != raw.length) return None
    // de-filter in place: prior(k) refers to the RECONSTRUCTED bytes
    val out = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      val ft = u8(raw, y * (1 + stride))
      val ro = y * (1 + stride) + 1
      val oo = y * stride
      var k = 0
      while (k < stride) {
        val x = u8(raw, ro + k)
        val a = if (k >= bpp) u8(out, oo + k - bpp) else 0
        val up = if (y > 0) u8(out, oo - stride + k) else 0
        val c = if (y > 0 && k >= bpp) u8(out, oo - stride + k - bpp) else 0
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + up
          case 3 => x + (a + up) / 2
          case 4 => x + paeth(a, up, c)
          case _ => return None
        }
        out(oo + k) = (v & 0xff).toByte
        k += 1
      }
      y += 1
    }
    // reduce to luminance
    val plane = new Array[Byte](w * h)
    var p = 0
    while (p < w * h) {
      val o = p * bpp
      val l = colorType match {
        case 0 | 4 => u8(out, o)
        case 2 | 6 => luma601(u8(out, o), u8(out, o + 1), u8(out, o + 2))
        case 3 =>
          val j = u8(out, o) * 3
          if (j + 2 < palette.length)
            luma601(u8(palette, j), u8(palette, j + 1), u8(palette, j + 2))
          else 0
      }
      plane(p) = (l & 0xff).toByte
      p += 1
    }
    Some((w, h, plane))
  } catch { case _: java.util.zip.DataFormatException => None }

  private def pngChunk(bb: java.io.ByteArrayOutputStream, tpe: String,
                       data: Array[Byte]): Unit = {
    def putInt(v: Int): Unit =
      bb.write(Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte))
    putInt(data.length)
    val t = tpe.getBytes("US-ASCII")
    bb.write(t); bb.write(data)
    val crc = new java.util.zip.CRC32()
    crc.update(t); crc.update(data)
    putInt(crc.getValue.toInt)
  }

  /** Deterministic pixel formulas for the real-PNG corpus — kept as ONE
    * function so the payload generator and the spec fixtures agree, and
    * simple enough that the DuckDB oracle replays them as pure SQL:
    * t = id%4 picks the color type (0 gray, 1 RGB, 2 RGBA, 3 palette);
    * i = y*w + x is the flat pixel index.
    *  - gray:     lum = (id*7 + i*13) % 251
    *  - RGB(A):   r=(id+2i)%256, g=(id*3+5i)%256, b=(id*5+7i)%256 → luma601
    *  - palette:  j=(id+3i)%256, entry (j, 7j%256, 13j%256) → luma601 */
  def pngExpectedLum(id: Long, i: Long): Int = (id % 4) match {
    case 0 => ((id * 7 + i * 13) % 251).toInt
    case 3 =>
      val j = ((id + 3 * i) % 256).toInt
      luma601(j, (j * 7) % 256, (j * 13) % 256)
    case _ =>
      luma601(((id + 2 * i) % 256).toInt, ((id * 3 + 5 * i) % 256).toInt,
        ((id * 5 + 7 * i) % 256).toInt)
  }

  /** Real, fully-valid PNG deterministic in `id`: correct CRCs, zlib-
    * deflated IDAT, and per-row filter type y%5 — so EVERY filter branch
    * (None/Sub/Up/Average/Paeth) is exercised by the encode→decode
    * round-trip on every image taller than 4 rows. Pixels come from
    * [[pngExpectedLum]]'s formulas; w = 16 + id%17, h = 16 + (id*3)%13. */
  def syntheticPngPixelPayload(id: Long): Array[Byte] = {
    val w = (16 + id % 17).toInt; val h = (16 + (id * 3) % 13).toInt
    val t = (id % 4).toInt
    val (colorType, bpp) = t match {
      case 0 => (0, 1); case 1 => (2, 3); case 2 => (6, 4); case _ => (3, 1)
    }
    val stride = w * bpp
    val raw = new Array[Byte](h * stride)
    var i = 0
    while (i < w * h) {
      val o = i * bpp
      t match {
        case 0 => raw(o) = (((id * 7 + i.toLong * 13) % 251) & 0xff).toByte
        case 3 => raw(o) = (((id + 3L * i) % 256) & 0xff).toByte
        case _ =>
          raw(o) = (((id + 2L * i) % 256) & 0xff).toByte
          raw(o + 1) = (((id * 3 + 5L * i) % 256) & 0xff).toByte
          raw(o + 2) = (((id * 5 + 7L * i) % 256) & 0xff).toByte
          if (bpp == 4) raw(o + 3) = (((id + i.toLong) % 256) & 0xff).toByte
      }
      i += 1
    }
    // filter scanlines (encoder side of the spec §9 algorithms)
    val filtered = new Array[Byte](h * (1 + stride))
    var y = 0
    while (y < h) {
      val ft = y % 5
      filtered(y * (1 + stride)) = ft.toByte
      var k = 0
      while (k < stride) {
        val x = u8(raw, y * stride + k)
        val a = if (k >= bpp) u8(raw, y * stride + k - bpp) else 0
        val up = if (y > 0) u8(raw, (y - 1) * stride + k) else 0
        val c = if (y > 0 && k >= bpp) u8(raw, (y - 1) * stride + k - bpp) else 0
        val v = ft match {
          case 0 => x
          case 1 => x - a
          case 2 => x - up
          case 3 => x - (a + up) / 2
          case _ => x - paeth(a, up, c)
        }
        filtered(y * (1 + stride) + 1 + k) = (v & 0xff).toByte
        k += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(filtered); defl.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    val outStream = new java.io.ByteArrayOutputStream()
    outStream.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h).put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte)
    pngChunk(outStream, "IHDR", ihdr.array())
    if (colorType == 3)
      pngChunk(outStream, "PLTE", Array.tabulate(768) { n =>
        val j = n / 3
        ((n % 3) match {
          case 0 => j; case 1 => (j * 7) % 256; case _ => (j * 13) % 256
        }).toByte
      })
    pngChunk(outStream, "IDAT", zbuf.toByteArray)
    pngChunk(outStream, "IEND", Array.emptyByteArray)
    outStream.toByteArray
  }

  // ------------------------------------------------------ real GIF decode

  /** REAL GIF pixel decode — pure JVM: header + logical-screen parse,
    * block walk (extensions skipped by their sub-block lengths), and a
    * full GENERAL LZW decoder for the first image descriptor (variable
    * code width from lzwMinCodeSize+1 up to 12 bits, LSB-first packing,
    * clear/end codes, the code==next-entry KwKwK case), reduced to a
    * luminance plane through the active (global or local) color table
    * via the same integer BT.601 luma as the PNG path.
    *
    * Scope: non-interlaced images (the four-pass row shuffle returns
    * None, as Adam7 does for PNG). The header-only synthetic payloads
    * carry no image descriptor and fall back to the documented stub,
    * preserving their byte-walk hashes. */
  def decodeGifPixels(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = try {
    val b = bytes
    if (b.length < 14 || !(ascii(b, 0, "GIF87a") || ascii(b, 0, "GIF89a")))
      return None
    var i = 6
    val packed = u8(b, i + 4)
    i += 7
    var palette: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 3 * (1 << ((packed & 7) + 1))
      if (i + n > b.length) return None
      palette = java.util.Arrays.copyOfRange(b, i, i + n)
      i += n
    }
    while (i < b.length) {
      u8(b, i) match {
        case 0x21 => // extension: label byte + length-prefixed sub-blocks
          i += 2
          while (i < b.length && u8(b, i) != 0) i += 1 + u8(b, i)
          i += 1
        case 0x2c =>
          if (i + 10 > b.length) return None
          val w = le16(b, i + 5); val h = le16(b, i + 7)
          val ipacked = u8(b, i + 9)
          i += 10
          if ((ipacked & 0x40) != 0) return None // interlaced: out of scope
          if ((ipacked & 0x80) != 0) { // local color table wins
            val n = 3 * (1 << ((ipacked & 7) + 1))
            if (i + n > b.length) return None
            palette = java.util.Arrays.copyOfRange(b, i, i + n)
            i += n
          }
          if (palette == null || w <= 0 || h <= 0 ||
              w.toLong * h > MaxPngPixels) return None
          val minCode = u8(b, i); i += 1
          if (minCode < 2 || minCode > 11) return None
          val data = new java.io.ByteArrayOutputStream()
          while (i < b.length && u8(b, i) != 0) {
            val n = u8(b, i)
            if (i + 1 + n > b.length) return None
            data.write(b, i + 1, n); i += 1 + n
          }
          val idx = lzwDecode(data.toByteArray, minCode, w * h)
            .getOrElse(return None)
          val plane = new Array[Byte](w * h)
          var p = 0
          while (p < w * h) {
            val j = (idx(p) & 0xff) * 3
            plane(p) =
              (if (j + 2 < palette.length)
                luma601(u8(palette, j), u8(palette, j + 1), u8(palette, j + 2))
              else 0).toByte
            p += 1
          }
          return Some((w, h, plane))
        case _ => return None // trailer before any image / non-block tail
      }
    }
    None
  } catch { case _: ArrayIndexOutOfBoundsException => None }

  /** General GIF-flavor LZW decoder: LSB-first bit stream, dynamic code
    * width (minCode+1 .. 12, bump when the dictionary fills the current
    * width), clear/end codes, KwKwK. Returns exactly `expected` color
    * indices or None (truncated / corrupt / wrong-length stream). */
  private def lzwDecode(data: Array[Byte], minCode: Int,
                        expected: Int): Option[Array[Byte]] = {
    val clear = 1 << minCode
    val end = clear + 1
    val out = new Array[Byte](expected)
    var outPos = 0
    // compound entries as (prefix code, appended byte); literal codes
    // (< clear) are implicit
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var dictSize = end + 1
    var codeWidth = minCode + 1
    var prev = -1
    var acc = 0L; var accBits = 0; var pos = 0
    val scratch = new Array[Byte](4096)
    // write code's string into scratch REVERSED, return its length
    def expand(code: Int): Int = {
      var c = code; var n = 0
      while (c >= clear + 2) { scratch(n) = suffix(c); n += 1; c = prefix(c) }
      scratch(n) = c.toByte; n += 1
      n
    }
    while (pos < data.length || accBits >= codeWidth) {
      while (accBits < codeWidth && pos < data.length) {
        acc |= (data(pos) & 0xffL) << accBits
        accBits += 8; pos += 1
      }
      if (accBits < codeWidth) return None // truncated stream
      val code = (acc & ((1 << codeWidth) - 1)).toInt
      acc >>>= codeWidth; accBits -= codeWidth
      if (code == clear) {
        dictSize = end + 1; codeWidth = minCode + 1; prev = -1
      } else if (code == end) {
        return if (outPos == expected) Some(out) else None
      } else if (prev == -1) {
        if (code >= clear) return None // first code after clear: literal only
        if (outPos >= expected) return None
        out(outPos) = code.toByte; outPos += 1
        prev = code
      } else {
        val known = code < dictSize && code != clear && code != end
        if (!known && code != dictSize) return None
        // known → code's own string; KwKwK (code == dictSize) → prev's
        // string + its first byte
        val baseLen = expand(if (known) code else prev)
        val total = baseLen + (if (known) 0 else 1)
        if (outPos + total > expected) return None
        var k = 0
        while (k < baseLen) { out(outPos + k) = scratch(baseLen - 1 - k); k += 1 }
        if (!known) out(outPos + baseLen) = scratch(baseLen - 1)
        val firstByte = out(outPos)
        outPos += total
        if (dictSize < 4096) {
          prefix(dictSize) = prev; suffix(dictSize) = firstByte
          dictSize += 1
          if (dictSize == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
        }
        prev = code
      }
    }
    if (outPos == expected) Some(out) else None
  }

  /** REAL greedy LZW encoder for [[syntheticGifPixelPayload]] — genuine
    * dictionary-building compression (compound codes, width growth, and
    * KwKwK arise naturally on cyclic pixel data), not a clear-per-symbol
    * shortcut. The emit width is driven by an explicit simulation of the
    * DECODER's dictionary (which lags the encoder's by one entry), so the
    * two sides stay bit-synchronized by construction rather than by
    * convention archaeology; the round-trip spec pins it. */
  private[operators] def lzwEncode(indices: Array[Byte], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val end = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L; var accBits = 0
    // the decoder's state, simulated: width it will READ the next code at
    var decSize = end + 1
    var decWidth = minCode + 1
    def emit(code: Int): Unit = {
      acc |= code.toLong << accBits
      accBits += decWidth
      while (accBits >= 8) { out.write((acc & 0xff).toInt); acc >>>= 8; accBits -= 8 }
    }
    // decoder adds one entry after every read except the first-after-clear
    // and specials; mirror that bookkeeping after each data-code emit
    def decAdd(): Unit = if (decSize < 4096) {
      decSize += 1
      if (decSize == (1 << decWidth) && decWidth < 12) decWidth += 1
    }
    val dict = new java.util.HashMap[Integer, Integer]() // (prev<<8|byte) → code
    var dictSize = end + 1
    emit(clear)
    var prev = -1
    var first = true
    var i = 0
    while (i < indices.length) {
      val cur = indices(i) & 0xff
      if (prev == -1) prev = cur
      else {
        val key: Integer = (prev << 8) | cur
        val hit = dict.get(key)
        if (hit != null) prev = hit
        else {
          emit(prev)
          if (first) first = false else decAdd()
          if (dictSize < 4096) { dict.put(key, dictSize); dictSize += 1 }
          prev = cur
        }
      }
      i += 1
    }
    if (prev != -1) {
      emit(prev)
      if (first) first = false else decAdd()
    }
    // END reads at the width left by the flush code's add — no add of its own
    emit(end)
    if (accBits > 0) out.write((acc & 0xff).toInt)
    out.toByteArray
  }

  /** Deterministic pixel formulas for the real-GIF corpus (the
    * [[pngExpectedLum]] contract, GIF edition): w = 16 + id%15,
    * h = 12 + (id*5)%11, color index j = (id*5 + 3i) % 64 into the
    * 64-entry palette (3j%256, 7j%256, 11j%256) → luma601. */
  def gifExpectedLum(id: Long, i: Long): Int = {
    val j = ((id * 5 + 3 * i) % 64).toInt
    luma601((3 * j) % 256, (7 * j) % 256, (11 * j) % 256)
  }

  /** Real, fully-valid GIF89a deterministic in `id`: 64-entry global
    * color table, one non-interlaced image descriptor, and a GENUINELY
    * LZW-compressed pixel stream ([[lzwEncode]] — the cyclic index walk
    * reuses dictionary entries, so compound codes and width growth are
    * exercised on every image). Pixels from [[gifExpectedLum]]'s
    * formulas. */
  def syntheticGifPixelPayload(id: Long): Array[Byte] = {
    val w = (16 + id % 15).toInt; val h = (12 + (id * 5) % 11).toInt
    val indices = Array.tabulate(w * h)(i => (((id * 5 + 3L * i) % 64) & 0xff).toByte)
    val lzw = lzwEncode(indices, minCode = 6)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le16out(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    le16out(w); le16out(h)
    out.write(0x80 | 0x05) // GCT present, 2^(5+1)=64 entries
    out.write(0); out.write(0) // bg color, aspect
    for (j <- 0 until 64) {
      out.write((3 * j) % 256); out.write((7 * j) % 256); out.write((11 * j) % 256)
    }
    out.write(0x2c) // image descriptor
    le16out(0); le16out(0); le16out(w); le16out(h)
    out.write(0) // no LCT, not interlaced
    out.write(6) // LZW min code size
    var off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      out.write(n); out.write(lzw, off, n)
      off += n
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  // ----------------------------------------------------- real JPEG decode

  private val zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  private lazy val idctCos: Array[Array[Double]] =
    Array.tabulate(8, 8)((u, x) => math.cos((2 * x + 1) * u * math.Pi / 16.0))

  /** Canonical Huffman table from a DHT segment's (counts, symbols):
    * map (length<<16 | code) → symbol. */
  private def buildHuffman(counts: Array[Int],
                           symbols: Array[Int]): java.util.HashMap[Integer, Integer] = {
    val m = new java.util.HashMap[Integer, Integer]()
    var code = 0; var k = 0
    for (len <- 1 to 16) {
      for (_ <- 0 until counts(len - 1)) {
        m.put((len << 16) | code, symbols(k)); k += 1; code += 1
      }
      code <<= 1
    }
    m
  }

  /** REAL baseline JPEG (JFIF/SOF0) decode to a luminance plane — pure
    * JVM: marker walk (APPn/COM skipped, DQT/SOF0/DHT/DRI/SOS parsed),
    * byte-unstuffed MSB-first entropy reader, GENERAL canonical Huffman
    * decoding of DC categories + (run, size) AC symbols with EOB/ZRL and
    * sign extension, restart-marker predictor resets, dequantization,
    * de-zigzag, separable float IDCT, level shift + clamp. Multi-
    * component scans are entropy-decoded fully (the stream cannot be
    * advanced otherwise) but only component 0 (Y) is reconstructed —
    * this engine wants the luminance plane.
    *
    * Scope: baseline sequential, 8-bit, all sampling factors 1×1 (no
    * chroma subsampling — progressive/subsampled return None, as Adam7
    * and interlaced GIF do). Exactness note: Huffman + dequant are exact
    * integer paths; the IDCT is deterministic IEEE float, and on
    * DC-only blocks (the synthetic corpus) it reduces to an exactly-
    * representable /8, so the oracle replay is bit-exact there. */
  def decodeJpegPixels(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = try {
    val b = bytes
    if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
    var i = 2
    val qtables = new Array[Array[Int]](4)
    val dcTables = new Array[java.util.HashMap[Integer, Integer]](4)
    val acTables = new Array[java.util.HashMap[Integer, Integer]](4)
    var w = 0; var h = 0
    var compIds: Array[Int] = null; var compQ: Array[Int] = null
    var restartInterval = 0
    var sosAt = -1
    var compDc: Array[Int] = null; var compAc: Array[Int] = null
    while (sosAt < 0) {
      if (i + 4 > b.length || u8(b, i) != 0xff) return None
      val marker = u8(b, i + 1)
      val len = be16(b, i + 2)
      val ds = i + 4; val de = i + 2 + len
      if (de > b.length) return None
      marker match {
        case 0xdb => // DQT: one or more (precision|id, 64 values) entries
          var j = ds
          while (j < de) {
            val pq = u8(b, j) >> 4; val tq = u8(b, j) & 15
            if (pq != 0 || tq > 3) return None // 8-bit tables only
            qtables(tq) = Array.tabulate(64)(k => u8(b, j + 1 + k))
            j += 65
          }
        case 0xc0 => // SOF0 baseline
          if (u8(b, ds) != 8) return None
          h = be16(b, ds + 1); w = be16(b, ds + 3)
          val nc = u8(b, ds + 5)
          if (nc < 1 || nc > 4) return None
          compIds = new Array[Int](nc); compQ = new Array[Int](nc)
          compDc = new Array[Int](nc); compAc = new Array[Int](nc)
          for (c <- 0 until nc) {
            compIds(c) = u8(b, ds + 6 + c * 3)
            if (u8(b, ds + 7 + c * 3) != 0x11) return None // 1x1 sampling only
            compQ(c) = u8(b, ds + 8 + c * 3)
          }
        case 0xc4 => // DHT: one or more tables
          var j = ds
          while (j < de) {
            val tc = u8(b, j) >> 4; val th = u8(b, j) & 15
            if (tc > 1 || th > 3) return None
            val counts = Array.tabulate(16)(k => u8(b, j + 1 + k))
            val total = counts.sum
            val syms = Array.tabulate(total)(k => u8(b, j + 17 + k))
            if (tc == 0) dcTables(th) = buildHuffman(counts, syms)
            else acTables(th) = buildHuffman(counts, syms)
            j += 17 + total
          }
        case 0xdd => restartInterval = be16(b, ds)
        case 0xd9 => return None // EOI before SOS
        case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 |
             0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
          return None // non-baseline frame types
        case 0xda => // SOS
          val nc = u8(b, ds)
          if (compIds == null || nc != compIds.length) return None
          for (c <- 0 until nc) {
            val cid = u8(b, ds + 1 + c * 2)
            val idx = compIds.indexOf(cid)
            if (idx < 0) return None
            compDc(idx) = u8(b, ds + 2 + c * 2) >> 4
            compAc(idx) = u8(b, ds + 2 + c * 2) & 15
          }
          sosAt = de // skip Ss/Se/AhAl (3 bytes) — included in len
        case _ => () // APPn / COM / others: skip by length
      }
      i = de
    }
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPngPixels) return None
    val nc = compIds.length
    // entropy-coded bit reader with 0xFF00 unstuffing + RSTn handling
    var pos = sosAt
    var acc = 0L; var accBits = 0
    var eos = false
    def fill(): Unit =
      while (accBits <= 56 && !eos) {
        if (pos >= b.length) { eos = true }
        else {
          val v = u8(b, pos)
          if (v == 0xff) {
            val nxt = if (pos + 1 < b.length) u8(b, pos + 1) else -1
            if (nxt == 0) { acc = (acc << 8) | 0xff; accBits += 8; pos += 2 }
            else eos = true // a real marker ends the scan data
          } else { acc = (acc << 8) | v; accBits += 8; pos += 1 }
        }
      }
    def readBit(): Int = {
      fill()
      if (accBits == 0) return -1
      accBits -= 1
      ((acc >>> accBits) & 1).toInt
    }
    def readBits(n: Int): Int = {
      var v = 0; var k = 0
      while (k < n) { val bit = readBit(); if (bit < 0) return -1; v = (v << 1) | bit; k += 1 }
      v
    }
    def decodeHuff(tab: java.util.HashMap[Integer, Integer]): Int = {
      var code = 0; var len = 0
      while (len < 16) {
        val bit = readBit(); if (bit < 0) return -1
        code = (code << 1) | bit; len += 1
        val hit = tab.get((len << 16) | code)
        if (hit != null) return hit
      }
      -1
    }
    def extend(v: Int, t: Int): Int =
      if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v
    val bw = (w + 7) / 8; val bh = (h + 7) / 8
    val plane = new Array[Byte](w * h)
    val preds = new Array[Int](nc)
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)
    var mcu = 0
    val nMcu = bw * bh
    while (mcu < nMcu) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        // byte-align and consume the RSTn marker, reset predictors
        accBits -= accBits % 8
        if (pos + 1 < b.length && u8(b, pos) == 0xff &&
            (u8(b, pos + 1) & 0xf8) == 0xd0) { pos += 2; eos = false }
        java.util.Arrays.fill(preds, 0)
      }
      var c = 0
      while (c < nc) {
        val dcT = dcTables(compDc(c)); val acT = acTables(compAc(c))
        val q = qtables(compQ(c))
        if (dcT == null || acT == null || q == null) return None
        java.util.Arrays.fill(coef, 0)
        val t = decodeHuff(dcT); if (t < 0 || t > 11) return None
        val diffBits = if (t == 0) 0 else { val v = readBits(t); if (v < 0) return None; v }
        preds(c) += extend(diffBits, t)
        coef(0) = preds(c) * q(0)
        var k = 1
        var open = true
        while (open && k < 64) {
          val rs = decodeHuff(acT); if (rs < 0) return None
          if (rs == 0) open = false // EOB
          else if (rs == 0xf0) k += 16 // ZRL
          else {
            k += rs >> 4
            if (k > 63) return None
            val s = rs & 15
            val v = readBits(s); if (v < 0) return None
            coef(zigzag(k)) = extend(v, s) * q(k)
            k += 1
          }
        }
        if (c == 0) { // reconstruct Y only: separable float IDCT
          val bx = (mcu % bw) * 8; val by = (mcu / bw) * 8
          // pass 1 (horizontal): for each frequency row v, spatial x
          var v1 = 0
          while (v1 < 8) {
            var x1 = 0
            while (x1 < 8) {
              var s = 0.0
              var u1 = 0
              while (u1 < 8) {
                val cu = if (u1 == 0) 0.70710678118654752 else 1.0
                s += cu * idctCos(u1)(x1) * coef(v1 * 8 + u1)
                u1 += 1
              }
              tmp(v1 * 8 + x1) = s / 2.0
              x1 += 1
            }
            v1 += 1
          }
          // pass 2 (vertical): sum over v for each (x, y)
          var y0 = 0
          while (y0 < 8) {
            var x0 = 0
            while (x0 < 8) {
              var s = 0.0
              var v0 = 0
              while (v0 < 8) {
                val cv = if (v0 == 0) 0.70710678118654752 else 1.0
                s += cv * idctCos(v0)(y0) * tmp(v0 * 8 + x0)
                v0 += 1
              }
              val px = bx + x0; val py = by + y0
              if (px < w && py < h) {
                val value = math.round(s / 2.0).toInt + 128
                plane(py * w + px) =
                  (if (value < 0) 0 else if (value > 255) 255 else value).toByte
              }
              x0 += 1
            }
            y0 += 1
          }
        }
        c += 1
      }
      mcu += 1
    }
    Some((w, h, plane))
  } catch { case _: ArrayIndexOutOfBoundsException => None }

  /** Deterministic pixel formulas for the real-JPEG corpus: w = 8·(2+id%3),
    * h = 8·(2+(id·3)%3), and every 8×8 TILE is constant — tile index
    * t = (y/8)·(w/8) + (x/8), value v = (id·7 + t·13) % 251. Tile-constant
    * content makes baseline JPEG LOSSLESS here (DC-only blocks under a
    * unit quant table invert exactly through the float IDCT — /8 of an
    * exact integer), so the DuckDB oracle replays the decode bit-exactly
    * while the decoder still runs its fully general Huffman/IDCT path. */
  def jpegExpectedLum(id: Long, i: Long, w: Int): Int = {
    val t = (i / (w * 8)) * (w / 8) + (i % w) / 8
    ((id * 7 + t * 13) % 251).toInt
  }

  /** Real, fully-valid baseline JFIF grayscale JPEG deterministic in
    * `id`: unit DQT, custom canonical DHT tables (12 four-bit DC
    * category codes; a one-code AC table — every block is DC-only + EOB),
    * genuine DC-delta Huffman entropy coding with sign-magnitude bits,
    * byte stuffing, the lot. Pixels per [[jpegExpectedLum]]. */
  def syntheticJpegPayload(id: Long): Array[Byte] = syntheticJpegPayload(id, 1)

  /** [[syntheticJpegPayload]] under a DC quantization step `quant` —
    * the "re-encode" knob for video near-dup fixtures: a different
    * quant table and different entropy bits (a genuinely different byte
    * stream), yet EXACTLY the same decoded pixels, because the content
    * is tile-constant and every DC value 8·(v−128) is divisible by the
    * allowed quants, so coefficient·quant reproduces the identical
    * dequantized coefficient. Only lossless steps are allowed. */
  def syntheticJpegPayload(id: Long, quant: Int): Array[Byte] =
    syntheticJpegPayloadDims(id,
      (8 * (2 + id % 3)).toInt, (8 * (2 + (id * 3) % 3)).toInt, quant)

  /** [[syntheticJpegPayload]] at caller-chosen dimensions (multiples of
    * 8) — the video near-dup corpus uses 80×56: ten block-columns by
    * seven block-rows, so every dHash grid cell samples ITS OWN tile
    * ((gy·56/7)/8 = gy, (gx·80/10)/8 = gx) and the 63 hash bits are all
    * informative — at the default 16..32-px dims the grid oversamples
    * 2×2..4×2 tiles, leaving so few informative bits that every frame
    * pair sits within hamming 6 of another. Same tile formulas, same
    * lossless contract. */
  def syntheticJpegPayloadDims(id: Long, w: Int, h: Int, quant: Int,
                               tileValue: (Long, Int) => Int =
                                 (i, t) => ((i * 7 + t.toLong * 13) % 251).toInt)
      : Array[Byte] = {
    require(quant == 1 || quant == 2 || quant == 4 || quant == 8,
      s"syntheticJpegPayloadDims: quant must divide 8 for a lossless " +
        s"re-encode of tile-constant content, got $quant")
    require(w % 8 == 0 && h % 8 == 0 && w > 0 && h > 0,
      s"syntheticJpegPayloadDims: dims must be positive multiples of 8")
    val bw = w / 8; val bh = h / 8
    val out = new java.io.ByteArrayOutputStream()
    def m(marker: Int, body: Array[Byte]): Unit = {
      out.write(0xff); out.write(marker)
      val len = body.length + 2
      out.write((len >> 8) & 0xff); out.write(len & 0xff)
      out.write(body)
    }
    out.write(0xff); out.write(0xd8) // SOI
    m(0xdb, Array(0.toByte) ++ Array.fill[Byte](64)(quant.toByte)) // DQT id 0
    m(0xc0, Array[Byte](8, (h >> 8).toByte, (h & 0xff).toByte,
      (w >> 8).toByte, (w & 0xff).toByte, 1, 1, 0x11, 0)) // SOF0, 1 comp
    // DHT: DC table 0 — twelve 4-bit codes for categories 0..11
    m(0xc4, Array[Byte](0x00, 0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++
      Array.tabulate[Byte](12)(_.toByte))
    // DHT: AC table 0 — ONE 1-bit code: EOB (0x00)
    m(0xc4, Array[Byte](0x10, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0x00))
    m(0xda, Array[Byte](1, 1, 0x00, 0, 63, 0)) // SOS
    // entropy data: per block, DC category code (4 bits) + magnitude bits,
    // then the 1-bit EOB
    var acc = 0; var accBits = 0
    val body = new java.io.ByteArrayOutputStream()
    def put(bits: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) {
        acc = (acc << 1) | ((bits >> k) & 1); accBits += 1
        if (accBits == 8) {
          body.write(acc & 0xff)
          if ((acc & 0xff) == 0xff) body.write(0) // byte stuffing
          acc = 0; accBits = 0
        }
        k -= 1
      }
    }
    var pred = 0
    var t = 0
    while (t < bw * bh) {
      val v = tileValue(id, t)
      val dc = 8 * (v - 128) / quant // exact: 8·(v−128) divisible by quant
      val diff = dc - pred
      pred = dc
      val mag = math.abs(diff)
      var cat = 0
      while ((1 << cat) <= mag) cat += 1 // bits needed for |diff|
      put(cat, 4) // canonical DC code for category c is just c (12 4-bit codes)
      if (cat > 0) put(if (diff >= 0) diff else diff + (1 << cat) - 1, cat)
      put(0, 1) // EOB ('0', the single AC code)
      t += 1
    }
    if (accBits > 0) { // pad final byte with 1s (spec convention)
      acc = (acc << (8 - accBits)) | ((1 << (8 - accBits)) - 1)
      body.write(acc & 0xff)
      if ((acc & 0xff) == 0xff) body.write(0)
    }
    out.write(body.toByteArray)
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** Synthetic container payloads, deterministic in `id` (PNG/GIF/WAV
    * round-robin): REAL magic bytes and header fields so [[decodeHeader]]
    * exercises genuine parsing in the harness, plus an id-dependent filler
    * tail so payload sizes vary. The DuckDB oracle recomputes the expected
    * (n_bytes, width, height, channels) from `id` by the same formulas. */
  def syntheticPayload(id: Long): Array[Byte] = {
    val filler = (id % 100).toInt
    val bb = java.nio.ByteBuffer.allocate(64)
    (id % 3) match {
      case 0 => // PNG, color type 2 (RGB)
        val w = (64 + id % 512).toInt; val h = (64 + (id * 31) % 512).toInt
        bb.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
        bb.putInt(13).put("IHDR".getBytes("US-ASCII"))
        bb.putInt(w).putInt(h).put(8.toByte).put(2.toByte)
        bb.put(0.toByte).put(0.toByte).put(0.toByte).putInt(0) // no CRC
      case 1 => // GIF89a
        val w = (32 + id % 256).toInt; val h = (32 + (id * 7) % 256).toInt
        bb.put("GIF89a".getBytes("US-ASCII")).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.putShort(w.toShort).putShort(h.toShort)
        bb.put(0.toByte).put(0.toByte).put(0.toByte)
      case _ => // canonical 44-byte WAV header
        val channels = (1 + id % 2).toInt
        val rate = (8000 + (id % 8) * 1000).toInt
        bb.put("RIFF".getBytes("US-ASCII")).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.putInt(36 + filler).order(java.nio.ByteOrder.BIG_ENDIAN)
        bb.put("WAVEfmt ".getBytes("US-ASCII")).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.putInt(16).putShort(1.toShort).putShort(channels.toShort)
        bb.putInt(rate).putInt(rate * channels * 2)
        bb.putShort((channels * 2).toShort).putShort(16.toShort)
        bb.order(java.nio.ByteOrder.BIG_ENDIAN)
        bb.put("data".getBytes("US-ASCII")).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.putInt(filler)
    }
    val header = java.util.Arrays.copyOf(bb.array(), bb.position())
    // Body bytes VARY with position (not one constant per id): the
    // perceptual-hash path needs a non-degenerate luminance plane, and
    // 251 is prime so the (id·7 + j·13) walk covers residues evenly.
    header ++ Array.tabulate(filler)(j => ((id * 7 + j * 13) % 251).toByte)
  }

  /** The WAV branch of [[syntheticPayload]] for EVERY id — the audio-
    * stats harness wants a whole corpus of clips, not the 1/3 the
    * round-robin yields. Same header arithmetic, same body walk. */
  def syntheticWavPayload(id: Long): Array[Byte] = {
    val filler = (id % 100).toInt
    val channels = (1 + id % 2).toInt
    val rate = (8000 + (id % 8) * 1000).toInt
    val bb = java.nio.ByteBuffer.allocate(44)
    bb.put("RIFF".getBytes("US-ASCII")).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(36 + filler).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put("WAVEfmt ".getBytes("US-ASCII")).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(16).putShort(1.toShort).putShort(channels.toShort)
    bb.putInt(rate).putInt(rate * channels * 2)
    bb.putShort((channels * 2).toShort).putShort(16.toShort)
    bb.order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put("data".getBytes("US-ASCII")).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(filler)
    bb.array() ++ Array.tabulate(filler)(j => ((id * 7 + j * 13) % 251).toByte)
  }

  /** REAL sample-domain audio statistics — PCM needs no codec, so unlike
    * the stubbed pixel decode these numbers are computed from the actual
    * data-chunk bytes: energy (Σ amplitude², the integer RMS numerator),
    * peak amplitude, and zero-crossing count (the classic cheap
    * voiced/unvoiced + silence discriminators a corpus pipeline filters
    * on). The header fields come from the genuine [[decodeHeader]] WAV
    * parse, and the sample reader BRANCHES ON THE DECLARED
    * bits_per_sample: 16-bit files are read as signed little-endian
    * 16-bit samples (a trailing odd byte is ignored), everything else as
    * unsigned 8-bit centered at 128. Channels are interleaved in PCM, so
    * the stats are whole-stream (all channels pooled) — the corpus-filter
    * semantics, documented rather than per-channel. Everything is integer
    * arithmetic → hash-exact cross-engine. Non-WAV payloads surface with
    * NULL fields, never dropped. */
  def audioStats(df: DataFrame, idCol: String, payloadCol: String)
                (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"),
        col(payloadCol).cast("binary").as("media"))
      .as[(Long, Array[Byte])]
      .map { case (id, b) =>
        val isWav = b.length >= 44 && ascii(b, 0, "RIFF") &&
          ascii(b, 8, "WAVE") && ascii(b, 12, "fmt ")
        if (!isWav) (id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, false)
        else {
          val (rate, bits, channels) = decodeHeader(b).get
          val off = containerBodyOffset(b)
          var n = 0L; var sumsq = 0L; var peak = 0L; var zc = 0L
          var prevNonNeg = true; var first = true
          if (bits == 16) {
            var i = off
            while (i + 1 < b.length) {
              val a = (b(i + 1).toInt << 8) | (b(i) & 0xff) // signed LE16
              n += 1
              sumsq += a.toLong * a
              if (math.abs(a) > peak) peak = math.abs(a)
              val nonNeg = a >= 0
              if (!first && nonNeg != prevNonNeg) zc += 1
              prevNonNeg = nonNeg; first = false
              i += 2
            }
          } else {
            var i = off
            while (i < b.length) {
              val a = (b(i) & 0xff) - 128
              n += 1
              sumsq += a.toLong * a
              if (math.abs(a) > peak) peak = math.abs(a)
              val nonNeg = a >= 0
              if (!first && nonNeg != prevNonNeg) zc += 1
              prevNonNeg = nonNeg; first = false
              i += 1
            }
          }
          (id, rate.toLong, bits.toLong, channels.toLong, n, sumsq, peak, zc, true)
        }
      }
      .toDF("media_id", "__rate", "__bits", "__ch", "__n", "__sq", "__pk",
        "__zc", "__ok")
      .select(col("media_id"),
        when(col("__ok"), col("__rate")).as("sample_rate"),
        when(col("__ok"), col("__bits")).as("bits_per_sample"),
        when(col("__ok"), col("__ch")).as("channels"),
        when(col("__ok"), col("__n")).as("n_samples"),
        when(col("__ok"), col("__sq")).as("sumsq"),
        when(col("__ok"), col("__pk")).as("peak"),
        when(col("__ok"), col("__zc")).as("zero_crossings"))
  }

  /** FRAME-level audio features — the windowed sibling of [[audioStats]]
    * and the shape VAD/silence-trimming/diarization pipelines consume:
    * fixed `frameSize`-sample windows (hop = frameSize), per frame the
    * sample count, energy (Σ a²), peak, and WITHIN-frame zero-crossing
    * count. Same declared-bits_per_sample reader as audioStats (16-bit
    * signed LE / 8-bit unsigned), all integer arithmetic → hash-exact
    * cross-engine. Non-WAV payloads yield no frames (left to the
    * clip-level surface to flag). */
  def audioFrames(df: DataFrame, idCol: String, payloadCol: String,
                  frameSize: Int)
                 (implicit spark: SparkSession): DataFrame = {
    require(frameSize > 0, "audioFrames: frameSize must be positive")
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"),
        col(payloadCol).cast("binary").as("media"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) =>
        val isWav = b.length >= 44 && ascii(b, 0, "RIFF") &&
          ascii(b, 8, "WAVE") && ascii(b, 12, "fmt ")
        if (!isWav) Iterator.empty
        else {
          val (_, bits, _) = decodeHeader(b).get
          val off = containerBodyOffset(b)
          val samples: Array[Int] =
            if (bits == 16)
              Array.tabulate((b.length - off) / 2)(k =>
                (b(off + 2 * k + 1).toInt << 8) | (b(off + 2 * k) & 0xff))
            else Array.tabulate(b.length - off)(k => (b(off + k) & 0xff) - 128)
          samples.grouped(frameSize).zipWithIndex.map { case (fr, fi) =>
            var sumsq = 0L; var peak = 0L; var zc = 0L
            var i = 0
            while (i < fr.length) {
              val a = fr(i)
              sumsq += a.toLong * a
              if (math.abs(a) > peak) peak = math.abs(a)
              if (i > 0 && ((a >= 0) != (fr(i - 1) >= 0))) zc += 1
              i += 1
            }
            (id, fi.toLong, fr.length.toLong, sumsq, peak, zc)
          }
        }
      }
      .toDF("media_id", "frame_idx", "n_samples", "sumsq", "peak",
        "zero_crossings")
  }

  // ------------------------------------------- audio fingerprint near-dup

  /** Samples per fingerprint frame and frames per segment for
    * [[audioFingerprints]] — 64 frame energies per segment yield 63
    * delta-sign bits per lane, the signature width the fused banding
    * ([[signatureNearDupPairs2]]) is pigeonhole-complete for. */
  val FpFrameSamples = 8
  val FpSegFrames = 64
  val FpSegSamples: Int = FpFrameSamples * FpSegFrames

  /** Remixed twins draw their fresh segments from
    * `seed + AudioRemixOffset` — a region disjoint from every base seed
    * below the [[audioAmp]] content period. */
  val AudioRemixOffset = 5000003L

  /** The audio sample-content formula: an affine walk SCRAMBLED by a
    * square + xor-fold finalizer — `h = (seed·131 + pos·7 + 1) mod
    * 65521; v = h²; amp = ((v ⊕ v≫13 ⊕ v≫27) mod 256) − 128`. Both
    * stages earn their place (three failed designs in round 18): a
    * plain affine-mod walk is the same sawtooth at every seed, only
    * phase-shifted, so frame-energy DELTA SIGNS correlate across seeds
    * and strangers collide at hamming ≤ 6; and even the SQUARED walk
    * mod 256 keeps a constant second difference (a polynomial mod 2⁸
    * is the same quadratic skeleton at every phase), which left ~270
    * stranger pairs at sf0.01. The xor-fold is the standard hash
    * finalizer: it is not polynomial, so the per-phase sequences
    * decorrelate and stranger signatures measure ~uniform 63-bit
    * (scan: 719,400 seed pairs, none under hamming 9). Two seeds share
    * content iff equal mod 65521; with seeds = 8·id+s that means
    * genuine shifted-segment overlaps appear only between ids ~8190
    * apart (none at sf0.01, a few at sf0.1 — replayed by the oracle
    * like everything else). Range [-128, 127], gain-scaled well inside
    * 16-bit; SQL-replayable in plain integer arithmetic (xor and >>
    * are BIGINT-native in both engines). */
  def audioAmp(seed: Long, pos: Int): Int = {
    val h = ((seed % 65521) * 131 + pos * 7 + 1) % 65521
    val v = h * h
    (((v ^ (v >> 13) ^ (v >> 27)) % 256) - 128).toInt
  }

  /** Synthetic 16-bit mono PCM WAV for the audio near-dup corpus:
    * `3 + srcId % 4` segments of [[FpSegSamples]] samples, segment `s`
    * generated from seed `srcId·8 + s` by [[audioAmp]] (pos =
    * in-segment sample index), then `(amp + pert)·gain` where
    * `pert = 3` on every sample of frame `seed % 64` when perturbed.
    * Twin semantics:
    *  - ×`gain`: every byte changes, the fingerprint must not (energy
    *    ORDER is scale-invariant) — score 10⁶ through the matcher.
    *  - `perturbed`: flips at most the two delta bits adjacent to the
    *    nudged frame — the hamming-1..6 band of the matcher.
    *  - `remixed`: ODD segments are replaced with fresh content
    *    (seed + [[AudioRemixOffset]]) — the sampled/remixed-clip shape,
    *    scoring ≈ 500k against its base (partial overlap). */
  def syntheticAudioNearDupPayload(srcId: Long, gain: Int,
                                   perturbed: Boolean,
                                   remixed: Boolean = false): Array[Byte] = {
    val nSegs = (3 + srcId % 4).toInt
    val n = nSegs * FpSegSamples
    val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
    bb.put("WAVEfmt ".getBytes("US-ASCII"))
    bb.putInt(16).putShort(1.toShort).putShort(1.toShort)
    bb.putInt(8000).putInt(8000 * 2).putShort(2.toShort).putShort(16.toShort)
    bb.put("data".getBytes("US-ASCII")).putInt(n * 2)
    var s = 0
    while (s < nSegs) {
      val seed = srcId * 8 + s +
        (if (remixed && s % 2 == 1) AudioRemixOffset else 0L)
      val pertFrame = (seed % 64).toInt
      var pos = 0
      while (pos < FpSegSamples) {
        val base = audioAmp(seed, pos)
        val pert = if (perturbed && pos / FpFrameSamples == pertFrame) 3 else 0
        bb.putShort(((base + pert) * gain).toShort)
        pos += 1
      }
      s += 1
    }
    bb.array()
  }

  /** Gain-invariant audio fingerprints — the energy-delta-sign family
    * every practical audio fingerprinter (Shazam/Philips/Chromaprint)
    * builds on, reduced to its oracle-replayable integer core: parse the
    * WAV header for real, read signed LE16 samples, frame them
    * ([[FpFrameSamples]] each), and per consecutive [[FpSegFrames]]-frame
    * segment emit TWO 63-bit-lane signatures — `fp` with bit `f` =
    * `energy(f+1) > energy(f)` (adjacent deltas) and `fp2` with bit
    * `f` = `energy(f+2) > energy(f)` (skip deltas, 62 bits). Energy
    * ORDER survives any uniform gain change, so a re-levelled copy of a
    * clip fingerprints identically — the property that makes this a
    * dedup key rather than a checksum.
    *
    * The second lane exists for SCALE, not discrimination: banding a
    * single 63-bit signature for hamming ≤ 6 forces 7 bands × 9 bits —
    * a 512-value bucket space, so banded candidates grow O(n²/512)
    * once the corpus passes ~10⁵ signatures. Fusing 9 bits from EACH
    * lane per band ([[signatureNearDupPairs2]]) gives 18-bit buckets
    * (262,144 values) and pushes the quadratic knee out by 512× —
    * widening the signature is THE standard banding scale knob, made
    * explicit here.
    *
    * A trailing partial segment (< [[FpSegSamples]] samples) carries no
    * full bit vector and is dropped; non-WAV / non-16-bit payloads yield
    * no rows (left to the clip-level stats surface to flag). */
  def audioFingerprints(df: DataFrame, idCol: String, payloadCol: String)
                       (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"),
        col(payloadCol).cast("binary").as("media"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) =>
        val isWav = b != null && b.length >= 44 && ascii(b, 0, "RIFF") &&
          ascii(b, 8, "WAVE") && ascii(b, 12, "fmt ")
        val bits = if (isWav) decodeHeader(b).map(_._2).getOrElse(0) else 0
        if (bits != 16) Iterator.empty
        else {
          val off = containerBodyOffset(b)
          val nSamples = (b.length - off) / 2
          val nSegs = nSamples / FpSegSamples
          (0 until nSegs).iterator.map { s =>
            val segOff = off + s * FpSegSamples * 2
            val e = new Array[Long](FpSegFrames)
            var f = 0
            while (f < FpSegFrames) {
              var sq = 0L
              var j = 0
              while (j < FpFrameSamples) {
                val i = segOff + (f * FpFrameSamples + j) * 2
                val a = (b(i + 1).toInt << 8) | (b(i) & 0xff)
                sq += a.toLong * a
                j += 1
              }
              e(f) = sq
              f += 1
            }
            var h = 0L
            var h2 = 0L
            var k = 0
            while (k < FpSegFrames - 1) {
              if (e(k + 1) > e(k)) h |= 1L << k
              if (k < FpSegFrames - 2 && e(k + 2) > e(k)) h2 |= 1L << k
              k += 1
            }
            (id, s.toLong, h, h2)
          }
        }
      }
      .toDF("media_id", "seg_idx", "fp", "fp2")
  }

  /** MEDIA-level near-duplicate pairs from per-item signatures — feed
    * it (media id, two 63-bit signature lanes) rows ([[videoFrameDecode]]
    * dhash+vhash, [[audioFingerprints]] fp+fp2) and get back every media
    * pair sharing perceptually-matching signatures, scored by the
    * fraction of matching signatures on each side:
    * `score_ppm = 10⁶·(matchedA + matchedB)/(nA + nB)` — 10⁶ for a full
    * re-encoded/re-levelled duplicate, proportionally less for partial
    * overlap. Per media the DISTINCT signature SET (a re-encode has the
    * same set; multiplicity adds no near-dup evidence); null-signature
    * rows excluded up front; output (idA, idB, n_sig_a, n_sig_b,
    * n_matched_a, n_matched_b, score_ppm), idA < idB.
    *
    * Banding: band `b`'s bucket fuses 9 bits from EACH lane —
    * `((lo≫9b) & 511)·512 + ((hi≫9b) & 511)` — giving an 18-bit
    * (262,144-value) bucket space. Completeness: the 7 fused bands
    * partition all 126 bit positions, so ≤ 6 differing bits (hamming
    * summed over both lanes) leave ≥ 1 band untouched —
    * pigeonhole-exact. The predecessor single-lane matcher (9-bit
    * buckets, 512 values) hit its quadratic knee at ~10⁵ signatures —
    * candidates grow O(n²/bucket-space) — which is why both media
    * modalities ship on the widened form; the same widening step
    * (another lane, 27-bit fused buckets) is the knob if a corpus ever
    * pushes past ~10⁷ signatures. Everything after the hamming filter
    * is key-only aggregation; no payloads and nothing wider than two
    * longs per signature cross a shuffle. */
  def signatureNearDupPairs2(frames: DataFrame, vidCol: String,
                             loCol: String, hiCol: String,
                             maxHamming: Int): DataFrame = {
    require(maxHamming <= 6,
      s"signatureNearDupPairs2: 7-band fusion is only pigeonhole-complete " +
        s"up to hamming 6, got $maxHamming")
    // one decode, not three: see the single-lane matcher's checkpoint note.
    // spread() the checkpointed frame (guide §2.5): AQE coalesces the
    // distinct's tiny post-shuffle output to ONE partition, and the banded
    // explode + self-join + hamming gate downstream — the matcher's whole
    // compute — inherited that single task (measured 1.6 s of a 3.6 s
    // query at sf0.1). A round-robin repartition of (vid, lo, hi) rows is
    // a few KB per signature and a no-op on any frame already planned at
    // defaultParallelism or wider.
    val sigs = Skew.spread(
      Materialize(frames.filter(col(loCol).isNotNull && col(hiCol).isNotNull)
        .select(col(vidCol).cast("long").as("vid"),
          col(loCol).cast("long").as("lo"), col(hiCol).cast("long").as("hi"))
        .distinct()))
    val sizes = sigs.groupBy(col("vid")).agg(count(lit(1)).as("n_sig"))
    val banded = sigs.select(col("vid"), col("lo"), col("hi"),
        explode(array((0 until 7).map(lit): _*)).as("band"))
      .withColumn("bucket",
        expr("shiftright(lo, band * 9)").bitwiseAND(lit(511L)) * 512L +
          expr("shiftright(hi, band * 9)").bitwiseAND(lit(511L)))
    val cands = banded.select(col("band"), col("bucket"),
        col("vid").as("vidA"), col("lo").as("loA"), col("hi").as("hiA"))
      .join(banded.select(col("band"), col("bucket"),
        col("vid").as("vidB"), col("lo").as("loB"), col("hi").as("hiB")),
        Seq("band", "bucket"))
      .filter(col("vidA") < col("vidB"))
      // hamming gate BEFORE the distinct (guide §2.3 — filter before the
      // exchange): the xor+popcount is a per-row codegen scalar, so
      // running it on the banded candidates first means only true
      // ≤ maxHamming matches pay the distinct's shuffle — band
      // multiplicity AND all random bucket collisions above the
      // threshold die map-side instead of crossing the exchange
      .filter((bit_count(col("loA").bitwiseXOR(col("loB"))) +
        bit_count(col("hiA").bitwiseXOR(col("hiB")))) <= maxHamming)
      .select("vidA", "loA", "hiA", "vidB", "loB", "hiB").distinct()
    cands.groupBy(col("vidA"), col("vidB"))
      .agg(countDistinct(struct(col("loA"), col("hiA"))).as("n_matched_a"),
        countDistinct(struct(col("loB"), col("hiB"))).as("n_matched_b"))
      .join(sizes.select(col("vid").as("vidA"), col("n_sig").as("n_sig_a")),
        "vidA")
      .join(sizes.select(col("vid").as("vidB"), col("n_sig").as("n_sig_b")),
        "vidB")
      .select(col("vidA").as("idA"), col("vidB").as("idB"),
        col("n_sig_a"), col("n_sig_b"),
        col("n_matched_a"), col("n_matched_b"),
        expr("(1000000 * (n_matched_a + n_matched_b)) div (n_sig_a + n_sig_b)")
          .as("score_ppm"))
  }

  private val mimes = Seq("image/png", "image/gif", "audio/wav")

  /** Dataset of synthetic media records keyed by an id column. */
  def syntheticMediaRecords(df: DataFrame, idCol: String)
                           (implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .map(id => MediaRecord(id, syntheticPayload(id), mimes((id % 3).toInt)))
  }

  /** Frame sampling stub: every 100 bytes, up to 8 offsets — stands in
    * for video keyframe extraction. */
  def sampleFrameOffsets(nBytes: Int): Seq[Int] =
    (0 until math.min(8, math.max(nBytes, 1) / 100 + 1)).map(_ * 100)

  // ------------------------------------------------------- video (ISO BMFF)

  /** Real ISO BMFF (MP4) BOX WALK — the video half of the real-parse /
    * stubbed-codec policy: top-level boxes are iterated by their length
    * fields in ANY order (mdat-before-moov is a legal and common layout),
    * `moov`'s children are walked the same way, `mvhd` v0/v1 yields
    * (timescale, duration) and the `trak` children are counted. Handles
    * the two special size encodings a real file can carry: size 1 →
    * 64-bit largesize follows the type; size 0 → box extends to the end
    * of the enclosure. Sample DECODE stays out of scope (no codecs in
    * this container) — like [[decodeHeader]], swapping in a real decoder
    * touches nothing here.
    *
    * @return (timescale, duration in timescale units, track count), or
    *         None when the payload is not a plausible BMFF file (missing
    *         ftyp leader or moov/mvhd). */
  /** (bodyStart, bodyEnd, type) for each ISO BMFF box in [from, until) —
    * shared by the header walk and the sample-table walk; handles the
    * size=1 largesize and size=0 to-end encodings, stops at a corrupt
    * tail. */
  private def mp4Boxes(b: Array[Byte], from: Int,
                       until: Int): Seq[(Int, Int, String)] = {
    def be64(i: Int): Long =
      (0 until 8).foldLeft(0L)((acc, j) => (acc << 8) | (b(i + j) & 0xffL))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = from
    while (i + 8 <= until) {
      val size32 = be32(b, i).toLong & 0xffffffffL
      val tpe = new String(b, i + 4, 4, "US-ASCII")
      val (bodyStart, end) =
        if (size32 == 1L && i + 16 <= until) (i + 16, i + be64(i + 8))
        else if (size32 == 0L) (i + 8, until.toLong)
        else (i + 8, i + size32)
      if (end < bodyStart || end > until) return out.toSeq // corrupt tail
      out += ((bodyStart, end.toInt, tpe))
      i = end.toInt
    }
    out.toSeq
  }

  def decodeMp4Header(bytes: Array[Byte]): Option[(Long, Long, Int)] = {
    val b = bytes
    def be64(i: Int): Long =
      (0 until 8).foldLeft(0L)((acc, j) => (acc << 8) | (b(i + j) & 0xffL))
    def boxes(from: Int, until: Int): Seq[(Int, Int, String)] =
      mp4Boxes(b, from, until)
    if (b.length < 16) return None
    val top = boxes(0, b.length)
    if (!top.headOption.exists(_._3 == "ftyp")) return None
    top.find(_._3 == "moov").flatMap { case (ms, me, _) =>
      val kids = boxes(ms, me)
      val nTracks = kids.count(_._3 == "trak")
      kids.find(_._3 == "mvhd").flatMap { case (hs, he, _) =>
        if (he - hs < 4) None
        else u8(b, hs) match { // full-box version byte
          case 0 if he - hs >= 20 =>
            Some(((be32(b, hs + 12).toLong & 0xffffffffL),
              be32(b, hs + 16).toLong & 0xffffffffL, nTracks))
          case 1 if he - hs >= 32 =>
            Some(((be32(b, hs + 20).toLong & 0xffffffffL),
              be64(hs + 24), nTracks))
          case _ => None
        }
      }
    }
  }

  /** REAL sample-table walk — the upgrade of the frame-sampling STUB to
    * genuine keyframe-extraction machinery: descend
    * moov → trak → mdia → minf → stbl, parse `stsz` (per-sample sizes),
    * `stco` (chunk offsets) and `stsc` (sample-to-chunk runs), and
    * resolve every sample to its (absolute file offset, byte size) — the
    * exact lookup a video pipeline performs before handing frames to a
    * decoder. Handles fixed-size stsz, multi-chunk stco, and stsc runs
    * (each entry applies from first_chunk until the next entry's).
    *
    * @return per-sample (offset, size) in sample order for the FIRST
    *         track carrying a complete stbl, or None. */
  def decodeMp4Samples(bytes: Array[Byte]): Option[Seq[(Long, Int)]] = try {
    val b = bytes
    if (b.length < 16) return None
    val top = mp4Boxes(b, 0, b.length)
    if (!top.headOption.exists(_._3 == "ftyp")) return None
    val (ms, me, _) = top.find(_._3 == "moov").getOrElse(return None)
    for ((ts, te, _) <- mp4Boxes(b, ms, me).filter(_._3 == "trak")) {
      val stbl = for {
        (ds, de, _) <- mp4Boxes(b, ts, te).find(_._3 == "mdia").toSeq
        (fs, fe, _) <- mp4Boxes(b, ds, de).find(_._3 == "minf").toSeq
        box <- mp4Boxes(b, fs, fe).find(_._3 == "stbl").toSeq
      } yield box
      stbl.headOption.foreach { case (ss, se, _) =>
        val kids = mp4Boxes(b, ss, se)
        val sizesOpt = kids.find(_._3 == "stsz").map { case (s, _, _) =>
          val fixed = be32(b, s + 4); val n = be32(b, s + 8)
          if (n < 0 || n > (1 << 20)) return None
          if (fixed != 0) Array.fill(n)(fixed)
          else Array.tabulate(n)(k => be32(b, s + 12 + 4 * k))
        }
        val chunksOpt = kids.find(_._3 == "stco").map { case (s, _, _) =>
          val n = be32(b, s + 4)
          if (n < 0 || n > (1 << 20)) return None
          Array.tabulate(n)(k => be32(b, s + 8 + 4 * k).toLong & 0xffffffffL)
        }
        val runsOpt = kids.find(_._3 == "stsc").map { case (s, _, _) =>
          val n = be32(b, s + 4)
          if (n < 0 || n > (1 << 20)) return None
          Array.tabulate(n)(k =>
            (be32(b, s + 8 + 12 * k), be32(b, s + 12 + 12 * k)))
        }
        (sizesOpt, chunksOpt, runsOpt) match {
          case (Some(sizes), Some(chunks), Some(runs)) if runs.nonEmpty =>
            // expand stsc runs into per-chunk sample counts, then lay
            // samples out chunk by chunk: offset = chunk base + running sum
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
            var sample = 0
            var chunk = 0
            while (chunk < chunks.length && sample < sizes.length) {
              val perChunk = {
                var spc = runs.head._2
                for ((fc, n) <- runs if fc <= chunk + 1) spc = n
                spc
              }
              var off = chunks(chunk)
              var k = 0
              while (k < perChunk && sample < sizes.length) {
                out += ((off, sizes(sample)))
                off += sizes(sample)
                sample += 1; k += 1
              }
              chunk += 1
            }
            if (sample == sizes.length) return Some(out.toSeq)
          case _ => ()
        }
      }
    }
    None
  } catch { case _: ArrayIndexOutOfBoundsException => None }

  /** [[syntheticMp4Payload]]'s sibling WITH a real sample table: one
    * track whose stbl carries stsz (n = 1 + id%8 per-sample sizes,
    * size_k = 1 + (id·3 + k·7) % 64), a one-chunk stco pointing at the
    * mdat body, and a one-run stsc — every box length and the chunk
    * offset are REAL file offsets, so [[decodeMp4Samples]] exercises the
    * genuine resolution path and the oracle replays offsets as prefix
    * sums by construction. */
  def syntheticMp4SamplesPayload(id: Long): Array[Byte] = {
    val n = (1 + id % 8).toInt
    val sizes = Array.tabulate(n)(k => (1 + (id * 3 + k * 7) % 64).toInt)
    val body = new Array[Byte](sizes.sum)
    var j = 0
    while (j < body.length) { body(j) = ((id * 11 + j * 3) % 251).toByte; j += 1 }
    mp4WithSampleTable(id, sizes, body)
  }

  /** MJPEG-in-MP4: the same real sample table, but every sample in the
    * mdat is a COMPLETE baseline JPEG ([[syntheticJpegPayload]], frame k
    * under seed id·8+k — each frame carries its own SOF, so the decoder
    * must parse per-frame headers, exactly the MJPEG shape). Composes
    * the two oracled generators; [[videoFrameDecode]] inverts it. */
  def syntheticMjpegMp4Payload(id: Long): Array[Byte] = {
    val n = (1 + id % 4).toInt
    val frames = Array.tabulate(n)(k => syntheticJpegPayload(id * 8 + k))
    mp4WithSampleTable(id, frames.map(_.length), frames.flatten)
  }

  /** The video NEAR-DUP corpus generator: MJPEG-in-MP4 like
    * [[syntheticMjpegMp4Payload]] (same frame seeds id·8+k, same tile
    * value formula) but every frame is 80×56 —
    * [[syntheticJpegPayloadDims]]'s fully-informative dHash geometry —
    * and `quant` is the RE-ENCODE knob: quant 4 yields a genuinely
    * different byte stream whose decode is pixel-identical
    * (tile-constant content is exactly invertible under any quant
    * dividing 8), so the re-encode's per-frame dHashes equal the
    * original's at hamming 0 — a duplicate a byte-level dedup can never
    * catch. Frame-seed periodicity (lum pattern repeats at seed+251,
    * dims constant) additionally gives the corpus genuine full- and
    * partial-overlap near-dups between DISTINCT ids, so scores below
    * 10⁶ arise naturally. */
  /** Tile values for the near-dup corpus: a MULTIPLICATIVE scramble,
    * v = ((seed%251 + 1) · (13t² + 29t + 1)) mod 251. Two designs were
    * rejected for degenerate dHashes: the linear `+13·t` ramp of
    * [[jpegExpectedLum]] makes "right neighbor brighter" true ~95% of
    * the time (near-all-ones hashes, the whole corpus within hamming 6
    * of itself), and an ADDITIVE seed term (7·seed + f(t)) leaves
    * nearby seeds' hashes near-identical (a shifted pattern flips a
    * neighbor comparison only when it straddles the mod-251 wrap).
    * Multiplying the tile polynomial by a seed-dependent unit scrambles
    * neighbor deltas independently per seed (~32-bit expected distance
    * between unrelated frames), while seeds 251 apart still share the
    * multiplier — the deliberate identical-frame near-dups. */
  def richTileLum(seed: Long, t: Int): Int = {
    val m = seed % 251 + 1
    val g = (13L * t * t + 29L * t + 1) % 251
    ((m * g) % 251).toInt
  }

  def syntheticMjpegMp4RichPayload(id: Long, quant: Int = 1): Array[Byte] = {
    val n = (1 + id % 4).toInt
    val frames = Array.tabulate(n)(k =>
      syntheticJpegPayloadDims(id * 8 + k, 80, 56, quant, richTileLum))
    mp4WithSampleTable(id, frames.map(_.length), frames.flatten)
  }

  /** Shared box layout for the sample-table payloads: ftyp + moov(mvhd +
    * trak(tkhd, mdia(minf(stbl(stsz/stco/stsc))))) + mdat(body), every
    * box length and the one-chunk stco offset REAL file offsets. */
  private def mp4WithSampleTable(id: Long, sizes: Array[Int],
                                 body: Array[Byte]): Array[Byte] = {
    val n = sizes.length
    val stszSize = 20 + 4 * n
    val stblSize = 8 + stszSize + 20 + 28
    val minfSize = 8 + stblSize
    val mdiaSize = 8 + minfSize
    val trakSize = 8 + 92 + mdiaSize
    val moovSize = 8 + 108 + trakSize
    val mdatBodyOff = 16 + moovSize + 8
    val total = mdatBodyOff + sizes.sum
    val bb = java.nio.ByteBuffer.allocate(total) // BIG_ENDIAN
    bb.putInt(16).put("ftypisom".getBytes("US-ASCII")).putInt(0)
    bb.putInt(moovSize).put("moov".getBytes("US-ASCII"))
    bb.putInt(108).put("mvhd".getBytes("US-ASCII"))
      .putInt(0).putInt(0).putInt(0)
      .putInt((1000 + (id % 10) * 100).toInt)
      .putInt((2000 + (id % 500) * 10).toInt)
      .putInt(0x00010000).putShort(0x0100.toShort).putShort(0.toShort)
      .putLong(0L)
    for (_ <- 0 until 9) bb.putInt(0)
    for (_ <- 0 until 6) bb.putInt(0)
    bb.putInt(2)
    bb.putInt(trakSize).put("trak".getBytes("US-ASCII"))
    bb.putInt(92).put("tkhd".getBytes("US-ASCII"))
    for (_ <- 0 until 21) bb.putInt(0) // 84-byte tkhd body (zeroed stub)
    bb.putInt(mdiaSize).put("mdia".getBytes("US-ASCII"))
    bb.putInt(minfSize).put("minf".getBytes("US-ASCII"))
    bb.putInt(stblSize).put("stbl".getBytes("US-ASCII"))
    bb.putInt(stszSize).put("stsz".getBytes("US-ASCII"))
      .putInt(0).putInt(0).putInt(n)
    sizes.foreach(bb.putInt)
    bb.putInt(20).put("stco".getBytes("US-ASCII"))
      .putInt(0).putInt(1).putInt(mdatBodyOff)
    bb.putInt(28).put("stsc".getBytes("US-ASCII"))
      .putInt(0).putInt(1).putInt(1).putInt(n).putInt(1)
    bb.putInt(8 + sizes.sum).put("mdat".getBytes("US-ASCII"))
    require(body.length == sizes.sum,
      s"mdat body ${body.length} != sample-size sum ${sizes.sum}")
    bb.put(body)
    bb.array()
  }

  /** Synthetic-but-structurally-valid MP4, deterministic in `id`: 16-byte
    * `ftyp` (isom), a `moov` holding a canonical 108-byte v0 `mvhd`
    * (timescale 1000 + (id%10)·100, duration 2000 + (id%500)·10) plus
    * 1 + id%3 `trak` children (each an 8+92-byte tkhd shell), and an
    * `mdat` of 8 + id%50 bytes — every box length real, so the walk in
    * [[decodeMp4Header]] is exercised for real. */
  def syntheticMp4Payload(id: Long): Array[Byte] = {
    val nTracks = (1 + id % 3).toInt
    val timescale = (1000 + (id % 10) * 100).toInt
    val duration = (2000 + (id % 500) * 10).toInt
    val mdatBody = (id % 50).toInt
    val moovSize = 8 + 108 + nTracks * 100
    val total = 16 + moovSize + 8 + mdatBody
    val bb = java.nio.ByteBuffer.allocate(total) // BIG_ENDIAN by default
    bb.putInt(16).put("ftypisom".getBytes("US-ASCII")).putInt(0)
    bb.putInt(moovSize).put("moov".getBytes("US-ASCII"))
    bb.putInt(108).put("mvhd".getBytes("US-ASCII"))
      .putInt(0)                    // version 0 + flags
      .putInt(0).putInt(0)          // creation / modification
      .putInt(timescale).putInt(duration)
      .putInt(0x00010000).putShort(0x0100.toShort).putShort(0.toShort) // rate, volume, reserved
      .putLong(0L)                  // reserved
    for (_ <- 0 until 9) bb.putInt(0) // matrix (identity zeroed — stub)
    for (_ <- 0 until 6) bb.putInt(0) // pre_defined
    bb.putInt(nTracks + 1)          // next_track_ID
    for (t <- 1 to nTracks) {
      bb.putInt(100).put("trak".getBytes("US-ASCII"))
      bb.putInt(92).put("tkhd".getBytes("US-ASCII")).putInt(0)
        .putInt(0).putInt(0).putInt(t).putInt(0).putInt(0)
      for (_ <- 0 until 15) bb.putInt(0)
    }
    bb.putInt(8 + mdatBody).put("mdat".getBytes("US-ASCII"))
    (0 until mdatBody).foreach(j => bb.put(((id * 11 + j * 3) % 251).toByte))
    bb.array()
  }

  /** REAL video frame PIXEL decode (round-11 directive #6): resolve every
    * sample via the stbl walk ([[decodeMp4Samples]]), slice it out of the
    * payload, and run the full baseline-JPEG decoder on each frame —
    * per frame: dimensions, exact luminance checksums (lum_wsum weights
    * by raster position, so pixel ORDER is gated, not just values), and
    * the 63-bit dHash over the decoded plane. Pure per-row narrow work
    * (one video in, ≤n frames out), zero shuffle. A sample that is not a
    * decodable JPEG surfaces with NULL fields, never dropped; a payload
    * with no parseable sample table yields no rows. */
  def videoFrameDecode(df: DataFrame, idCol: String, payloadCol: String)
                      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"),
        col(payloadCol).cast("binary").as("media"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        decodeMp4Samples(bytes).getOrElse(Seq.empty).zipWithIndex.map {
          case ((off, sz), k) =>
            val end = off + sz
            val frame =
              if (off >= 0 && end <= bytes.length && sz > 0)
                java.util.Arrays.copyOfRange(bytes, off.toInt, end.toInt)
              else Array.emptyByteArray
            decodeJpegPixels(frame) match {
              case Some((w, h, plane)) =>
                var lsum = 0L; var wsum = 0L; var i = 0
                while (i < plane.length) {
                  val l = plane(i) & 0xff
                  lsum += l; wsum += l.toLong * (i % 97 + 1); i += 1
                }
                val lum = (py: Long, px: Long) => plane((py * w + px).toInt) & 0xff
                val dh = dHashGrid(w, h, lum)
                val vh = vHashGrid(w, h, lum)
                (id, k.toLong, w.toLong, h.toLong, plane.length.toLong,
                  lsum, wsum, dh, vh, true)
              case None =>
                (id, k.toLong, 0L, 0L, 0L, 0L, 0L, 0L, 0L, false)
            }
        }
      }
      .toDF("media_id", "frame_idx", "__w", "__h", "__np", "__ls", "__ws",
        "__dh", "__vh", "__ok")
      .select(col("media_id"), col("frame_idx"),
        when(col("__ok"), col("__w")).as("width"),
        when(col("__ok"), col("__h")).as("height"),
        when(col("__ok"), col("__np")).as("n_pixels"),
        when(col("__ok"), col("__ls")).as("lum_sum"),
        when(col("__ok"), col("__ws")).as("lum_wsum"),
        when(col("__ok"), col("__dh")).as("dhash"),
        when(col("__ok"), col("__vh")).as("vhash"))
  }

  /** Per-video metadata table from parsed headers: duration_ms is the
    * integer floor of duration/timescale in milliseconds (pure long
    * arithmetic — hash-exact cross-engine). Unparseable payloads are
    * surfaced with NULL fields, never dropped. */
  def videoMeta(df: DataFrame, idCol: String, payloadCol: String)
               (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"),
        col(payloadCol).cast("binary").as("media"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        decodeMp4Header(bytes) match {
          case Some((ts, dur, nt)) =>
            (id, bytes.length.toLong, ts, dur * 1000L / ts, nt.toLong, true)
          case None => (id, bytes.length.toLong, 0L, 0L, 0L, false)
        }
      }
      .toDF("media_id", "n_bytes", "__ts", "__ms", "__nt", "__ok")
      .select(col("media_id"), col("n_bytes"),
        when(col("__ok"), col("__ts")).as("timescale"),
        when(col("__ok"), col("__ms")).as("duration_ms"),
        when(col("__ok"), col("__nt")).as("n_tracks"))
  }

  /** Wrap any table into media records: payload column as binary, mime
    * `application/octet-stream`. For the `documents` fixture the text
    * bytes stand in for an image payload. */
  def asMediaRecords(df: DataFrame, idCol: String, payloadCol: String)
                    (implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"),
      col(payloadCol).cast("binary").as("media"),
      lit("application/octet-stream").as("mime")).as[MediaRecord]
  }

  /** Batched partition-parallel feature extraction. `batchSize` models the
    * decode-service/vectorized-codec batch shape; partitions process their
    * iterator in groups so memory per task is bounded by one batch. */
  def extractFeatures(media: Dataset[MediaRecord], batchSize: Int = 64)
                     (implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val (w, h, c) = decodeHeader(r.media).getOrElse(decodeStub(r.media))
          MediaFeatures(r.media_id, r.media.length, w, h, c,
            sampleFrameOffsets(r.media.length))
        }
      }
    }
  }

  /** Byte offset where pixel/sample DATA begins for the containers
    * [[decodeHeader]] recognizes; 0 for unrecognized payloads (the whole
    * blob is treated as body). A full decoder would walk chunk/segment
    * tables — for these canonical single-header layouts the offset is the
    * header length. */
  def containerBodyOffset(b: Array[Byte]): Int =
    if (b.length >= 33 && u8(b, 0) == 0x89 && ascii(b, 1, "PNG") &&
        ascii(b, 12, "IHDR")) 33
    else if (b.length >= 13 && (ascii(b, 0, "GIF87a") || ascii(b, 0, "GIF89a"))) 13
    else if (b.length >= 44 && ascii(b, 0, "RIFF") && ascii(b, 8, "WAVE") &&
        ascii(b, 12, "fmt ")) 44
    else 0

  /** 63-bit difference hash (dHash, Krawetz's "Kind of Like That"
    * gradient hash) over the decode-stubbed luminance plane: sample a
    * 10-wide × 7-tall grid of the virtual w×h image, set bit gy·9+gx iff
    * the right neighbor is brighter. 63 bits instead of the classic 64
    * keeps the hash strictly positive in a signed 64-bit lane, so shift/
    * mask/compare behave identically on every engine that stores it.
    *
    * The container PARSE is real — (w, h) and the body offset come from
    * [[decodeHeader]]/[[containerBodyOffset]] — while the pixel decode is
    * the documented deterministic stub (luminance of (py, px) = body byte
    * at (py·w + px) mod bodyLen): this container ships no codecs.
    * Swapping in a real decoder replaces only the `lum` closure; the
    * grid geometry, bit packing, banding, and pair machinery all stay.
    * Empty body (header-only payload) hashes to 0 — all such payloads
    * are "identical blank images" and pair at hamming 0. */
  def dHash63(bytes: Array[Byte]): Long =
    decodePngPixels(bytes).orElse(decodeGifPixels(bytes))
      .orElse(decodeJpegPixels(bytes)) match {
      case Some((w, h, plane)) => // REAL pixels: full container + entropy decode
        dHashGrid(w, h, (py, px) => plane((py * w + px).toInt) & 0xff)
      case None =>
        val (w, h, _) = decodeHeader(bytes).getOrElse(decodeStub(bytes))
        val off = containerBodyOffset(bytes)
        val bodyLen = bytes.length - off
        if (bodyLen <= 0) 0L
        else dHashGrid(w, h,
          (py, px) => bytes(off + ((py * w + px) % bodyLen).toInt) & 0xff)
    }

  /** The shared dHash grid geometry + bit pack: 10×7 sample grid, bit
    * gy·9+gx set iff the right neighbor is brighter. */
  /** Vertical sibling of [[dHashGrid]]: bit gy·10+gx set iff the cell
    * one grid row DOWN is brighter — 6 rows × 10 cols = 60 bits. The
    * second lane of the widened video near-dup signature
    * ([[signatureNearDupPairs2]]): real dHash implementations carry
    * both gradients; here the vertical lane is also what buys the
    * 18-bit fused band space at scale. */
  private def vHashGrid(w: Int, h: Int, lum: (Long, Long) => Int): Long = {
    var hash = 0L
    var gy = 0
    while (gy < 6) {
      val py = gy.toLong * h / 7
      val pyd = (gy + 1).toLong * h / 7
      var gx = 0
      while (gx < 10) {
        val px = gx.toLong * w / 10
        if (lum(pyd, px) > lum(py, px)) hash |= 1L << (gy * 10 + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  private def dHashGrid(w: Int, h: Int, lum: (Long, Long) => Int): Long = {
    var hash = 0L
    var gy = 0
    while (gy < 7) {
      val py = gy.toLong * h / 7
      var gx = 0
      while (gx < 9) {
        if (lum(py, (gx + 1).toLong * w / 10) > lum(py, gx.toLong * w / 10))
          hash |= 1L << (gy * 9 + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** (media_id, phash) for a media dataset — the image analogue of
    * [[Dedup.withSimhash]]. Kernel UDF: genuinely custom bit math, same
    * category as the simhash/minhash kernels. */
  def withPhash(media: Dataset[MediaRecord])
               (implicit spark: SparkSession): DataFrame = {
    // null payload (e.g. a NULL source column cast to binary) joins the
    // empty-body "blank image" convention instead of NPE-ing the job
    val f = udf((b: Array[Byte]) => if (b == null) 0L else dHash63(b))
    media.toDF().select(col("media_id"), f(col("media")).as("phash"))
  }

  /** Near-duplicate image pairs by banded perceptual hash, mirroring the
    * text-SimHash design: 7 bands of 9 bits each — by pigeonhole, any
    * pair at hamming distance ≤ 6 shares at least one untouched band, so
    * for thresholds ≤ 6 the banding is EXACT, not approximate; larger
    * thresholds trade recall for the same bounded candidate volume.
    * Candidates come from a (band, bucket) equi-join (never all-pairs);
    * exact hamming verifies. Output: (idA, idB, hamming), idA < idB. */
  def phashNearDupPairs(hashes: DataFrame, idCol: String, hashCol: String,
                        maxHamming: Int): DataFrame = {
    val banded = hashes
      .select(col(idCol), col(hashCol),
        explode(array((0 until 7).map(lit): _*)).as("band"))
      .withColumn("bucket",
        expr(s"shiftright($hashCol, band * 9)").bitwiseAND(lit(511L)))
    val cands = banded.select(col("band"), col("bucket"),
        col(idCol).as("idA"), col(hashCol).as("hashA"))
      .join(banded.select(col("band"), col("bucket"),
        col(idCol).as("idB"), col(hashCol).as("hashB")), Seq("band", "bucket"))
      .filter(col("idA") < col("idB"))
      .select("idA", "idB", "hashA", "hashB").distinct()
    cands
      .withColumn("hamming",
        bit_count(col("hashA").bitwiseXOR(col("hashB"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("idA"), col("idB"), col("hamming"))
  }

  /** REAL pixel resize of a decoded luminance plane — nearest-neighbor
    * with the integer floor mapping src = (dst·srcDim)/dstDim, the
    * sampling rule GPU/vision preprocessing pipelines default to for
    * cheap thumbnailing. Pure integer index math end to end, so resized
    * planes are hash-exact cross-engine (the q_image_resize oracle
    * replays the mapping in SQL). Works for up- and down-scaling. */
  def resizeLuma(plane: Array[Byte], w: Int, h: Int,
                 dw: Int, dh: Int): Array[Byte] = {
    require(w > 0 && h > 0 && dw > 0 && dh > 0, "resizeLuma: bad dims")
    val out = new Array[Byte](dw * dh)
    var y = 0
    while (y < dh) {
      val sy = y.toLong * h / dh
      var x = 0
      while (x < dw) {
        val sx = x.toLong * w / dw
        out(y * dw + x) = plane((sy * w + sx).toInt)
        x += 1
      }
      y += 1
    }
    out
  }

  /** "Resize" stub: recompute metadata for a target box, preserving aspect —
    * pure metadata math standing in for a pixel resample. */
  def resizeFeatures(f: Dataset[MediaFeatures], maxDim: Int)
                    (implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    f.map { m =>
      val scale = math.min(1.0, maxDim.toDouble / math.max(m.width, m.height))
      m.copy(width = math.max(1, (m.width * scale).toInt),
             height = math.max(1, (m.height * scale).toInt))
    }
  }

  // --------------------------------------- image-text pair quality gate

  /** Image-text pair quality gate (the LAION-style caption filter): a
    * pair trains only when its TEXT side carries signal. Keep when the
    * alt text has 2..32 words AND 5..200 chars (one-word alts are file
    * names, 200+ chars are keyword stuffing), OR the surrounding
    * caption has >= 3 words. Both sub-verdicts are emitted next to
    * `keep` so curation reports can break losses down by reason. Pure
    * per-row Column arithmetic — zero shuffle, codegen-friendly. */
  def pairQuality(pairs: DataFrame, altCol: String,
                  captionCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // null text columns read as "" (absence is the SAME no-signal
    // verdict as the empty string): a raw null would propagate into
    // keep = NULL, and a report partitioning on keep vs !keep would
    // lose the row from BOTH sides
    val alt = coalesce(col(altCol), lit(""))
    val cap = coalesce(col(captionCol), lit(""))
    val altWords = size(filter(split(alt, "\\s+"), w => w =!= ""))
    val capWords = size(filter(split(cap, "\\s+"), w => w =!= ""))
    val altOk = altWords.between(2, 32) && length(alt).between(5, 200)
    val capOk = capWords >= 3
    pairs.withColumn("alt_ok", altOk)
      .withColumn("caption_ok", capOk)
      .withColumn("keep", altOk || capOk)
  }

  // ------------------------------------------- metadata strip (privacy)

  /** PNG ancillary-METADATA chunk types a privacy pass removes before a
    * corpus ships: textual comments (tEXt/zTXt/iTXt — where camera
    * serials, usernames, file paths, and GPS strings ride), EXIF
    * (eXIf), and the capture timestamp (tIME). Structural and rendering
    * chunks (IHDR/PLTE/tRNS/IDAT/IEND, gAMA/sRGB/…) are KEPT — the
    * strip must be pixel-lossless by construction. */
  private val PngMetaChunks = Set("tEXt", "zTXt", "iTXt", "eXIf", "tIME")

  /** Strip metadata chunks from a PNG: one chunk walk, kept chunks
    * copied VERBATIM (their CRCs stay valid — nothing re-encodes), so
    * `decodePngPixels(strip(png)) == decodePngPixels(png)` bit-exactly.
    * Returns (stripped bytes, chunks removed, bytes saved). Non-PNG
    * input comes back unchanged with (0, 0); a malformed tail stops the
    * walk and is copied through, the decoder's tolerance. */
  def stripPngMetadata(bytes: Array[Byte]): (Array[Byte], Int, Long) = {
    if (bytes == null || bytes.length < 8 || u8(bytes, 0) != 0x89 ||
      !ascii(bytes, 1, "PNG")) return (bytes, 0, 0L)
    val out = new java.io.ByteArrayOutputStream(bytes.length)
    out.write(bytes, 0, 8)
    var i = 8
    var removed = 0
    var saved = 0L
    var done = false
    while (!done && i + 12 <= bytes.length) {
      val clen = be32(bytes, i)
      val typeOk = (i + 4 until i + 8).forall { j =>
        val ch = u8(bytes, j)
        (ch >= 'A' && ch <= 'Z') || (ch >= 'a' && ch <= 'z')
      }
      if (clen < 0 || i.toLong + 12 + clen > bytes.length || !typeOk)
        done = true
      else {
        val t = new String(bytes, i + 4, 4,
          java.nio.charset.StandardCharsets.US_ASCII)
        val total = 12 + clen
        if (PngMetaChunks.contains(t)) { removed += 1; saved += total }
        else out.write(bytes, i, total)
        i += total
      }
    }
    if (i < bytes.length) out.write(bytes, i, bytes.length - i)
    (out.toByteArray, removed, saved)
  }

  /** Insert chunks right after IHDR with correct lengths and CRCs — the
    * fixture side of the strip gate (the synthetic PNGs are born
    * clean, so the gate plants the metadata it must remove). */
  def withPngMetadata(png: Array[Byte],
                      chunks: Seq[(String, Array[Byte])]): Array[Byte] = {
    val cut = 33 // 8 sig + (4 len + 4 type + 13 data + 4 crc) IHDR
    require(png.length >= cut && ascii(png, 12, "IHDR"),
      "withPngMetadata expects a well-formed PNG (IHDR first)")
    val out = new java.io.ByteArrayOutputStream(png.length + 64)
    out.write(png, 0, cut)
    chunks.foreach { case (t, data) =>
      require(t.length == 4, s"chunk type must be 4 chars: $t")
      val len = data.length
      out.write((len >>> 24) & 0xff); out.write((len >>> 16) & 0xff)
      out.write((len >>> 8) & 0xff); out.write(len & 0xff)
      val tb = t.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(tb, 0, 4)
      out.write(data, 0, len)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      val c = crc.getValue
      out.write(((c >>> 24) & 0xff).toInt); out.write(((c >>> 16) & 0xff).toInt)
      out.write(((c >>> 8) & 0xff).toInt); out.write((c & 0xff).toInt)
    }
    out.write(png, cut, png.length - cut)
    out.toByteArray
  }
}
