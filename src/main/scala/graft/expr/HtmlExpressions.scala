package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic HTML→text extraction with jusText-style boilerplate
  * removal — the step a crawl pipeline runs before EVERY curation
  * operator (dedup, quality, tokenization all assume clean text).
  *
  * Pure single-pass JVM parser, no external HTML library (this container
  * ships none, and at 100 TB a DOM materialization per document is the
  * wrong cost model anyway — this is one forward scan per document,
  * embarrassingly parallel, zero shuffle):
  *
  *  - `<!-- -->` comments, `<!doctype>`/`<?pi?>` and `<script>`/`<style>`/
  *    `<noscript>`/`<template>` subtrees are dropped wholesale;
  *  - text is segmented into BLOCKS at block-level tag boundaries (p, div,
  *    h1-h6, li, nav, footer, table cells, …); inline tags (`<a>`, `<b>`,
  *    `<span>`, …) do not split a block;
  *  - character entities are decoded (`&amp; &lt; &gt; &quot; &apos;
  *    &nbsp; &#NNN; &#xHH;`; unknown entities pass through literally);
  *  - per block: whitespace-normalized text (runs of `Character
  *    .isWhitespace` → one space, trimmed), non-whitespace char count,
  *    chars inside `<a>` links, word count, stopword ratio (TextOps
  *    stopword list);
  *  - CLASSIFICATION, jusText-lite (Pomikálek 2011, deterministic
  *    simplification — link density + length + the neighbor rule;
  *    stopword density is REPORTED but not a keep criterion, so the
  *    classifier is language-agnostic by construction):
  *      link_density > maxLinkDensity            → boilerplate
  *      non-ws chars < minLen                    → short: inherits the
  *        nearest PRECEDING non-short block's label (content if that is
  *        content, else boilerplate; no preceding → boilerplate)
  *      otherwise                                → content
  *
  * Whole-document extraction ([[HtmlOps.contentText]]) = content blocks
  * joined with `\n`. Tolerant of malformed input: unterminated tags,
  * comments, and skip-subtrees extend to end-of-input; a bare `<` that
  * does not open a tag is literal text.
  */
object HtmlOps {

  val DefaultMinLen = 20
  val DefaultMaxLinkDensity = 0.33

  /** Tags that delimit text blocks (open OR close). */
  private val BlockTags: Set[String] = Set(
    "html", "head", "body", "title", "p", "div", "section", "article",
    "header", "footer", "nav", "aside", "main", "h1", "h2", "h3", "h4",
    "h5", "h6", "ul", "ol", "li", "dl", "dt", "dd", "table", "thead",
    "tbody", "tfoot", "tr", "td", "th", "caption", "blockquote", "pre",
    "br", "hr", "form", "fieldset", "figure", "figcaption", "address")

  /** Tags whose entire subtree is dropped. */
  private val SkipTags: Set[String] = Set("script", "style", "noscript", "template")

  /** One classified block. Field order mirrors [[blockSchema]]. */
  final case class Block(idx: Int, tag: String, text: String, nChars: Int,
                         nLinkChars: Int, nWords: Int, stopRatio: Double,
                         label: String)

  val blockSchema: StructType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("tag", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_link_chars", IntegerType, nullable = false),
    StructField("n_words", IntegerType, nullable = false),
    StructField("stop_ratio", DoubleType, nullable = false),
    StructField("label", StringType, nullable = false)))

  @inline private def lower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
  @inline private def isNameChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '-'

  /** Case-insensitive search for `</name` at/after `from`; returns the
    * index AFTER the closing '>' (or n if unterminated). */
  private def skipSubtree(s: String, from: Int, name: String): Int = {
    val n = s.length
    var i = from
    while (i < n) {
      if (s.charAt(i) == '<' && i + 1 < n && s.charAt(i + 1) == '/') {
        var j = i + 2; var k = 0
        while (j < n && k < name.length && lower(s.charAt(j)) == name.charAt(k)) {
          j += 1; k += 1
        }
        if (k == name.length && (j >= n || !isNameChar(s.charAt(j)))) {
          while (j < n && s.charAt(j) != '>') j += 1
          return if (j < n) j + 1 else n
        }
      }
      i += 1
    }
    n
  }

  /** Depth-aware subtree skip for tags that may NEST (tables): counts
    * matching opens/closes from depth 1 and returns the index after the
    * close tag that balances (or n when unterminated). [[skipSubtree]]
    * stops at the FIRST close and is only correct for tags whose
    * content model forbids nesting (script/style/...); a table two
    * levels deep would otherwise close the outer table early and
    * misattribute the middle table's trailing cells.
    *
    * The depth walk honors the same non-tag regions the main scanners
    * do — `<!-- -->` comments, `<!doctype>`/`<?pi?>`, [[SkipTags]]
    * subtrees, and quoted attribute values — so a commented-out
    * `</table>`, a `document.write("</table>")` inside a script, or a
    * `title="</table>"` attribute inside the skipped region can no
    * longer close the outer table early and truncate its cells. */
  private def skipNestedSubtree(s: String, from: Int, name: String): Int = {
    val n = s.length
    var i = from
    var depth = 1
    while (i < n) {
      if (s.charAt(i) == '<') {
        if (i + 3 < n && s.charAt(i + 1) == '!' && s.charAt(i + 2) == '-' &&
            s.charAt(i + 3) == '-') {
          val end = s.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (i + 1 < n && (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
          i = skipToTagEnd(s, i + 1)
        } else {
          val closing = i + 1 < n && s.charAt(i + 1) == '/'
          var j = i + (if (closing) 2 else 1)
          val nameStart = j
          while (j < n && isNameChar(s.charAt(j))) j += 1
          if (j == nameStart) i += 1 // bare '<': literal text
          else {
            val nm = {
              val sb = new java.lang.StringBuilder(j - nameStart)
              var p = nameStart
              while (p < j) { sb.append(lower(s.charAt(p))); p += 1 }
              sb.toString
            }
            val after = skipToTagEnd(s, j)
            if (nm == name) {
              if (closing) { depth -= 1; if (depth == 0) return after }
              else depth += 1
              i = after
            } else if (!closing && SkipTags.contains(nm)) {
              i = skipSubtree(s, after, nm)
            } else i = after
          }
        }
      } else i += 1
    }
    n
  }

  /** Skip attributes to the tag's closing '>', honoring quoted values;
    * returns the index after '>'. */
  private def skipToTagEnd(s: String, from: Int): Int = {
    val n = s.length
    var i = from
    var quote: Char = 0
    while (i < n) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '>') return i + 1
      i += 1
    }
    n
  }

  /** Decode one entity starting at the '&' at `i`; appends the decoded
    * char(s) (or the literal '&' when not an entity) and returns the next
    * read position. */
  private def decodeEntity(s: String, i: Int, out: java.lang.StringBuilder): Int = {
    val n = s.length
    var semi = -1
    var j = i + 1
    val lim = math.min(n, i + 10)
    while (j < lim && semi < 0) { if (s.charAt(j) == ';') semi = j; j += 1 }
    if (semi < 0) { out.append('&'); return i + 1 }
    val body = s.substring(i + 1, semi)
    val decoded: String = body match {
      case "amp" => "&"
      case "lt" => "<"
      case "gt" => ">"
      case "quot" => "\""
      case "apos" => "'"
      case "nbsp" => " "
      case _ if body.startsWith("#x") || body.startsWith("#X") =>
        try String.valueOf(Character.toChars(Integer.parseInt(body.substring(2), 16)))
        catch { case _: Exception => null }
      case _ if body.startsWith("#") =>
        try String.valueOf(Character.toChars(Integer.parseInt(body.substring(1))))
        catch { case _: Exception => null }
      case _ => null
    }
    if (decoded == null) { out.append('&'); i + 1 }
    else { out.append(decoded); semi + 1 }
  }

  /** Per-extractor event sink for [[scanTags]] — the ONE tag-walk
    * skeleton all nine extractors share (blocks, tableCells, links,
    * head, alternates, og, images, interleaved, markdown). Before
    * round 17 each extractor carried its own copy of the comment /
    * doctype / skip-subtree / name-parse walk, and the copies diverged
    * (the round-16 figcaption block-tag bug hit exactly one copy);
    * now divergence is structurally impossible — an extractor owns only
    * its own state machine. */
  private abstract class TagVisitor {
    /** Tag event (comments, doctype/PI, and script/style/noscript/
      * template subtrees never reach here — the core drops them).
      * `nameEnd` is the index just after the lowercased tag name, where
      * attribute parsing starts. Return the next scan index (visitors
      * that parse attributes return [[parseAttrs]]' end; a visitor that
      * is DONE returns the input length), or -1 to advance past the
      * tag's attributes with [[skipToTagEnd]] — the common "tag is a
      * boundary only" case. */
    def tag(name: String, closing: Boolean, nameEnd: Int): Int = -1
    /** One literal character of text — raw, entity-decoded, or a bare
      * non-tag '<'. */
    def text(c: Char): Unit = ()
  }

  /** The shared single-pass scanner: `<!-- -->` comments and
    * `<!doctype>`/`<?pi?>` skip wholesale, [[SkipTags]] subtrees drop,
    * a bare `<` that opens no tag is literal text, entities decode to
    * [[TagVisitor.text]] characters (a non-entity `&` passes through
    * literally), every other tag dispatches to [[TagVisitor.tag]].
    * Tolerant of malformed input exactly as before: unterminated
    * comments/tags/subtrees extend to end-of-input. */
  private def scanTags(html: String, v: TagVisitor): Unit = {
    val n = html.length
    val scratch = new java.lang.StringBuilder(8)
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (i + 3 < n && html.charAt(i + 1) == '!' && html.charAt(i + 2) == '-'
            && html.charAt(i + 3) == '-') {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (i + 1 < n && (html.charAt(i + 1) == '!' || html.charAt(i + 1) == '?')) {
          i = skipToTagEnd(html, i + 1)
        } else {
          val closing = i + 1 < n && html.charAt(i + 1) == '/'
          var j = i + (if (closing) 2 else 1)
          val nameStart = j
          while (j < n && isNameChar(html.charAt(j))) j += 1
          if (j == nameStart) { v.text(c); i += 1 } // bare '<': literal
          else {
            val name = {
              val sb = new java.lang.StringBuilder(j - nameStart)
              var p = nameStart
              while (p < j) { sb.append(lower(html.charAt(p))); p += 1 }
              sb.toString
            }
            if (!closing && SkipTags.contains(name)) {
              i = skipSubtree(html, skipToTagEnd(html, j), name)
            } else {
              val next = v.tag(name, closing, j)
              i = if (next >= 0) next else skipToTagEnd(html, j)
            }
          }
        }
      } else if (c == '&') {
        scratch.setLength(0)
        i = decodeEntity(html, i, scratch)
        var p = 0
        while (p < scratch.length()) { v.text(scratch.charAt(p)); p += 1 }
      } else { v.text(c); i += 1 }
    }
  }

  /** Block segmentation state machine over [[scanTags]] — shared by
    * [[blocks]] (whose classifier labels the raw segments) and, with
    * image slots added, structurally mirrored by [[interleaved]]'s
    * visitor. Collects (tag, rawText, nonWs, linked) segments. */
  private final class BlockVisitor extends TagVisitor {
    val raw = IndexedSeq.newBuilder[(String, String, Int, Int)]
    private var curTag = ""
    private val buf = new java.lang.StringBuilder(256)
    private var nonWs = 0
    private var linked = 0
    private var linkDepth = 0

    def finalizeBlock(nextTag: String): Unit = {
      if (nonWs > 0) raw += ((curTag, buf.toString, nonWs, linked))
      buf.setLength(0); nonWs = 0; linked = 0
      curTag = nextTag
    }

    override def tag(name: String, closing: Boolean, nameEnd: Int): Int = {
      if (name == "a") {
        if (closing) linkDepth = math.max(0, linkDepth - 1) else linkDepth += 1
      }
      if (BlockTags.contains(name))
        finalizeBlock(if (closing) "" else name)
      -1
    }

    override def text(c: Char): Unit = {
      buf.append(c)
      if (!Character.isWhitespace(c)) { nonWs += 1; if (linkDepth > 0) linked += 1 }
    }
  }

  /** Parse + segment + classify. Null html → empty seq. */
  def blocks(html: String, minLen: Int, maxLinkDensity: Double): IndexedSeq[Block] = {
    if (html == null) return Vector.empty
    val v = new BlockVisitor
    scanTags(html, v)
    v.finalizeBlock("")
    val raw = v.raw

    // normalize + context-free classify, then the neighbor rule for shorts
    val segs = raw.result()
    val out = new Array[Block](segs.length)
    var lastLongLabel = "" // nearest preceding non-short label
    var idx = 0
    while (idx < segs.length) {
      val (tag, rawText, nw, lk) = segs(idx)
      val norm = normalizeWs(rawText)
      val words = if (norm.isEmpty) Array.empty[String] else norm.split(' ')
      var stop = 0
      var w = 0
      while (w < words.length) {
        if (TextOps.Stopwords.contains(words(w).toLowerCase(java.util.Locale.ROOT))) stop += 1
        w += 1
      }
      val density = if (nw == 0) 0.0 else lk.toDouble / nw
      val label =
        if (density > maxLinkDensity) { lastLongLabel = "boilerplate"; "boilerplate" }
        else if (nw < minLen) if (lastLongLabel == "content") "content" else "boilerplate"
        else { lastLongLabel = "content"; "content" }
      out(idx) = Block(idx, tag, norm, nw, lk, words.length,
        if (words.isEmpty) 0.0 else stop.toDouble / words.length, label)
      idx += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  val tableCellSchema: StructType = StructType(Seq(
    StructField("t", IntegerType, nullable = false),
    StructField("r", IntegerType, nullable = false),
    StructField("c", IntegerType, nullable = false),
    StructField("header", BooleanType, nullable = false),
    StructField("cell", StringType, nullable = false)))

  /** Extract table cells as (table_idx, row_idx, col_idx, is_header,
    * text) — the structured-data sibling of [[blocks]]: HTML tables are
    * where the web keeps its tabular facts, and a training-data pipeline
    * flattens them into rows, not prose. Same single-pass scanner
    * discipline: inline tags inside a cell are stripped, entities
    * decoded, whitespace normalized; `<th>` marks header cells; a cell
    * outside any `<tr>` opens row 0 (tag-soup tolerance); NESTED tables
    * are skipped wholesale at ANY depth (the skip counts open/close
    * pairs, so their cells neither emit nor leak text into the outer
    * cell and deeper nesting cannot close the outer table early —
    * top-level extraction, documented); script/style
    * subtrees are dropped as always. Empty cells emit empty strings —
    * `<td></td>` is a real cell. */
  def tableCells(html: String): IndexedSeq[(Int, Int, Int, Boolean, String)] = {
    if (html == null) return Vector.empty
    val v = new TagVisitor {
      val out = IndexedSeq.newBuilder[(Int, Int, Int, Boolean, String)]
      private val buf = new java.lang.StringBuilder(64)
      private var t = -1; private var r = -1; private var c = -1
      private var inTable = false; private var inCell = false
      private var cellIsTh = false
      def closeCell(): Unit = if (inCell) {
        out += ((t, r, c, cellIsTh, normalizeWs(buf.toString)))
        buf.setLength(0); inCell = false
      }
      override def tag(name: String, closing: Boolean, nameEnd: Int): Int = {
        name match {
          case "table" =>
            if (closing) { closeCell(); inTable = false; -1 }
            else if (inTable) // nested tables are opaque at ANY depth
              skipNestedSubtree(html, skipToTagEnd(html, nameEnd), "table")
            else { t += 1; r = -1; c = -1; inTable = true; -1 }
          case "tr" =>
            if (inTable) { closeCell(); if (!closing) { r += 1; c = -1 } }
            -1
          case "td" | "th" =>
            if (inTable) {
              closeCell()
              if (!closing) {
                if (r < 0) r = 0 // tag soup: a cell before any <tr>
                c += 1; inCell = true; cellIsTh = name == "th"
              }
            }
            -1
          case _ => -1 // inline/other tags: text continues
        }
      }
      override def text(c0: Char): Unit = if (inCell) buf.append(c0)
    }
    scanTags(html, v)
    v.closeCell()
    v.out.result()
  }

  /** Table cells as Catalyst rows (for [[HtmlTableCells]]). */
  def tableCellsData(html: UTF8String): GenericArrayData = {
    if (html == null) return new GenericArrayData(Array.empty[Any])
    val cs = tableCells(html.toString)
    val rows = new Array[Any](cs.length)
    var i = 0
    while (i < cs.length) {
      val (t, r, c, h, cell) = cs(i)
      rows(i) = InternalRow(t, r, c, h, UTF8String.fromString(cell))
      i += 1
    }
    new GenericArrayData(rows)
  }

  val linkSchema: StructType = StructType(Seq(
    StructField("href", StringType, nullable = false),
    StructField("anchor", StringType, nullable = false),
    StructField("nofollow", BooleanType, nullable = false)))

  /** Parse tag attributes from `from` (just after the tag name) to the
    * tag's closing '>': lowercased names, quoted or unquoted values,
    * entities decoded inside values (hrefs routinely carry `&amp;`),
    * valueless attributes map to "". Returns (attrs, index after '>'). */
  private def parseAttrs(s: String, from: Int): (Map[String, String], Int) = {
    val n = s.length
    val m = Map.newBuilder[String, String]
    var i = from
    while (i < n && s.charAt(i) != '>') {
      val c = s.charAt(i)
      if (Character.isWhitespace(c) || c == '/') i += 1
      else {
        val ns = i
        while (i < n && !Character.isWhitespace(s.charAt(i)) &&
          "=>/".indexOf(s.charAt(i)) < 0) i += 1
        if (i == ns) i += 1 // stray delimiter
        else {
          val name = {
            val sb = new java.lang.StringBuilder(i - ns)
            var p = ns
            while (p < i) { sb.append(lower(s.charAt(p))); p += 1 }
            sb.toString
          }
          var j = i
          while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
          if (j < n && s.charAt(j) == '=') {
            j += 1
            while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
            val out = new java.lang.StringBuilder(16)
            if (j < n && (s.charAt(j) == '"' || s.charAt(j) == '\'')) {
              val q = s.charAt(j)
              j += 1
              while (j < n && s.charAt(j) != q) {
                if (s.charAt(j) == '&') j = decodeEntity(s, j, out)
                else { out.append(s.charAt(j)); j += 1 }
              }
              if (j < n) j += 1 // past the closing quote
            } else {
              // HTML5 §13.2.5.37: an unquoted value consumes '/' too —
              // `href=x/>` reads as "x/", the slash is NOT a self-close
              while (j < n && !Character.isWhitespace(s.charAt(j)) &&
                s.charAt(j) != '>') {
                if (s.charAt(j) == '&') j = decodeEntity(s, j, out)
                else { out.append(s.charAt(j)); j += 1 }
              }
            }
            m += name -> out.toString
            i = j
          } else {
            m += name -> ""
            i = j
          }
        }
      }
    }
    (m.result(), math.min(i + 1, n))
  }

  /** Extract anchors as (href, anchor_text, nofollow) — the crawl
    * loop's discovery primitive: link targets for the frontier, anchor
    * text for [[graft.operators.WebCuration.topAnchors]], rel=nofollow
    * for politeness-aware link accounting. Single-pass scan: an `<a>`
    * without an href emits nothing; a new `<a>` implicitly closes an
    * unterminated one (tag-soup tolerance); anchor text strips inline
    * tags, decodes entities, normalizes whitespace; script/style
    * subtrees and comments drop as always. Hrefs are RAW references —
    * compose with `url_resolve(page_url, href)` + `url_canonicalize`
    * for fetchable keys. */
  def links(html: String): IndexedSeq[(String, String, Boolean)] = {
    if (html == null) return Vector.empty
    val v = new TagVisitor {
      val out = IndexedSeq.newBuilder[(String, String, Boolean)]
      private val anchor = new java.lang.StringBuilder(64)
      private var inA = false
      private var href: String = null
      private var nofollow = false
      def closeA(): Unit = {
        if (inA && href != null)
          out += ((href, normalizeWs(anchor.toString), nofollow))
        inA = false; href = null; nofollow = false; anchor.setLength(0)
      }
      override def tag(name: String, closing: Boolean, nameEnd: Int): Int =
        if (name == "a") {
          closeA() // a new/closing <a> ends an unterminated one
          if (closing) -1
          else {
            val (attrs, after) = parseAttrs(html, nameEnd)
            attrs.get("href").filter(_.nonEmpty).foreach { h =>
              inA = true
              href = h
              nofollow = attrs.getOrElse("rel", "")
                .toLowerCase(java.util.Locale.ROOT)
                .split("\\s+").contains("nofollow")
            }
            after
          }
        } else -1 // other tags: text continues
      override def text(c: Char): Unit = if (inA) anchor.append(c)
    }
    scanTags(html, v)
    v.closeA()
    v.out.result()
  }

  val headSchema: StructType = StructType(Seq(
    StructField("base", StringType, nullable = true),
    StructField("canonical", StringType, nullable = true),
    StructField("noindex", BooleanType, nullable = false),
    StructField("nofollow", BooleanType, nullable = false)))

  /** Extract the page-level curation directives a corpus gate honors:
    * `<base href>` (the resolution base for every relative reference on
    * the page — FIRST one wins, per HTML), `<link rel="canonical">`
    * (the author's dedup key — first wins), and the robots `<meta>`
    * (`noindex` = do not keep this page, `nofollow` = this page's links
    * vote for nothing; token list case-insensitive, comma/space
    * separated, `none` = both). Scans to `</head>`/`<body>` only —
    * directives in the body are non-conforming and ignored. */
  def head(html: String): (String, String, Boolean, Boolean) = {
    if (html == null) return (null, null, false, false)
    val v = new TagVisitor {
      var base: String = null
      var canonical: String = null
      var noindex = false
      var nofollow = false
      override def tag(name: String, closing: Boolean, nameEnd: Int): Int =
        if ((closing && name == "head") || name == "body") html.length // done
        else if (!closing &&
          (name == "base" || name == "link" || name == "meta")) {
          val (attrs, after) = parseAttrs(html, nameEnd)
          name match {
            case "base" =>
              if (base == null)
                attrs.get("href").filter(_.nonEmpty).foreach(base = _)
            case "link" =>
              val rel = attrs.getOrElse("rel", "")
                .toLowerCase(java.util.Locale.ROOT)
              if (canonical == null &&
                rel.split("\\s+").contains("canonical"))
                attrs.get("href").filter(_.nonEmpty)
                  .foreach(canonical = _)
            case _ =>
              if (attrs.getOrElse("name", "")
                  .equalsIgnoreCase("robots")) {
                attrs.getOrElse("content", "")
                  .toLowerCase(java.util.Locale.ROOT)
                  .split("[,\\s]+").foreach {
                    case "noindex" => noindex = true
                    case "nofollow" => nofollow = true
                    case "none" => noindex = true; nofollow = true
                    case _ => ()
                  }
              }
          }
          after
        } else -1
    }
    scanTags(html, v)
    (v.base, v.canonical, v.noindex, v.nofollow)
  }

  val alternateSchema: StructType = StructType(Seq(
    StructField("hreflang", StringType, nullable = false),
    StructField("href", StringType, nullable = false)))

  /** Extract `<link rel="alternate" hreflang=...>` pairs, in document
    * order — the signal that groups a page with its language variants
    * (the mC4/CCAligned clustering key; `x-default` names the cluster
    * representative). Head-only scan like [[head]]; entries missing
    * either attribute are dropped; hreflang tokens lowercase. */
  def alternates(html: String): IndexedSeq[(String, String)] = {
    if (html == null) return Vector.empty
    val v = new TagVisitor {
      val out = IndexedSeq.newBuilder[(String, String)]
      override def tag(name: String, closing: Boolean, nameEnd: Int): Int =
        if ((closing && name == "head") || name == "body") html.length // done
        else if (!closing && name == "link") {
          val (attrs, after) = parseAttrs(html, nameEnd)
          val rel = attrs.getOrElse("rel", "")
            .toLowerCase(java.util.Locale.ROOT)
          if (rel.split("\\s+").contains("alternate")) {
            val hl = attrs.getOrElse("hreflang", "")
              .toLowerCase(java.util.Locale.ROOT)
            val href = attrs.getOrElse("href", "")
            if (hl.nonEmpty && href.nonEmpty) out += ((hl, href))
          }
          after
        } else -1
    }
    scanTags(html, v)
    v.out.result()
  }

  /** Alternates as Catalyst rows (for [[HtmlAlternates]]). */
  def alternatesData(html: UTF8String): GenericArrayData = {
    if (html == null) return new GenericArrayData(Array.empty[Any])
    val as = alternates(html.toString)
    val rows = new Array[Any](as.length)
    var i = 0
    while (i < as.length) {
      rows(i) = InternalRow(UTF8String.fromString(as(i)._1),
        UTF8String.fromString(as(i)._2))
      i += 1
    }
    new GenericArrayData(rows)
  }

  val ogSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** Extract OpenGraph metadata — `<meta property="og:*" content=...>`
    * pairs in document order (ogp.me) — the standard page-enrichment
    * signal (title/description/type/image) a corpus keeps next to the
    * extracted text. Head-only scan; keys lowercased with the `og:`
    * prefix stripped; entries with an empty content are dropped;
    * repeated keys all emit (og arrays are legal). */
  def og(html: String): IndexedSeq[(String, String)] = {
    if (html == null) return Vector.empty
    val v = new TagVisitor {
      val out = IndexedSeq.newBuilder[(String, String)]
      override def tag(name: String, closing: Boolean, nameEnd: Int): Int =
        if ((closing && name == "head") || name == "body") html.length // done
        else if (!closing && name == "meta") {
          val (attrs, after) = parseAttrs(html, nameEnd)
          val prop = attrs.getOrElse("property", "")
            .toLowerCase(java.util.Locale.ROOT)
          val content = attrs.getOrElse("content", "")
          if (prop.startsWith("og:") && content.nonEmpty)
            out += ((prop.substring(3), content))
          after
        } else -1
    }
    scanTags(html, v)
    v.out.result()
  }

  val imageSchema: StructType = StructType(Seq(
    StructField("src", StringType, nullable = false),
    StructField("alt", StringType, nullable = false),
    StructField("title", StringType, nullable = false),
    StructField("caption", StringType, nullable = false)))

  /** Extract `<img>` tags as (src, alt, title, caption) in document
    * order — the LAION-shape image-text front door: `alt`/`title` are
    * the author's captions, `caption` is the page's CONTEXT for the
    * image, and the pair (pixels later joined by src) is what a
    * multimodal corpus trains on. Caption rule, deterministic:
    *
    *  - an image inside a `<figure>` takes the figure's `<figcaption>`
    *    text (whitespace-normalized, entities decoded; "" when the
    *    figure has none; the LAST figcaption in the figure wins —
    *    nested figures are not tracked, a new `<figure>` simply resets
    *    the scope);
    *  - any other image takes the normalized text of its ENCLOSING
    *    block (the text between the block-tag boundaries around the
    *    img — surrounding context, before AND after the tag; "" when
    *    the block has no text).
    *
    * Images with a missing/empty `src` are dropped; absent `alt`/
    * `title` emit "" (absence and the empty caption are the same
    * training signal). `src` is the RAW reference — compose with
    * `url_resolve(coalesce(resolved <base>, page_url), src)` +
    * `url_canonicalize` for joinable keys, the [[links]] discipline.
    * Same single-pass scanner: comments and script/style subtrees drop;
    * entities decode inside attribute values and caption text. */
  def images(html: String): IndexedSeq[(String, String, String, String)] = {
    if (html == null) return Vector.empty
    val v = new TagVisitor {
      val imgs = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, String)]
      val caps = scala.collection.mutable.ArrayBuffer.empty[String]
      private var blockPending: List[Int] = Nil // awaiting this block's text
      private var figPending: List[Int] = Nil   // awaiting this figure's cap
      private val blockBuf = new java.lang.StringBuilder(128)
      private val figCapBuf = new java.lang.StringBuilder(64)
      private var inFigure = false
      private var inFigCaption = false
      private var figCap: String = null

      def closeBlock(): Unit = {
        if (inFigCaption) { figCap = normalizeWs(figCapBuf.toString); inFigCaption = false }
        if (blockPending.nonEmpty) {
          val cap = normalizeWs(blockBuf.toString)
          blockPending.foreach(caps(_) = cap)
          blockPending = Nil
        }
        blockBuf.setLength(0)
      }
      def closeFigure(): Unit = {
        closeBlock()
        if (figPending.nonEmpty) {
          val cap = if (figCap == null) "" else figCap
          figPending.foreach(caps(_) = cap)
          figPending = Nil
        }
        inFigure = false; figCap = null; figCapBuf.setLength(0)
      }

      override def tag(name: String, closing: Boolean, nameEnd: Int): Int =
        name match {
          case "img" =>
            val (attrs, after) = parseAttrs(html, nameEnd)
            attrs.get("src").filter(_.nonEmpty).foreach { src =>
              imgs += ((src, attrs.getOrElse("alt", ""),
                attrs.getOrElse("title", "")))
              caps += ""
              val idx = imgs.length - 1
              if (inFigure) figPending ::= idx else blockPending ::= idx
            }
            after
          case "figure" =>
            if (closing) closeFigure()
            else { closeFigure(); inFigure = true } // reset = new scope
            -1
          case "figcaption" =>
            closeBlock()
            if (!closing && inFigure) { inFigCaption = true; figCapBuf.setLength(0) }
            -1
          case _ =>
            // a block tag INSIDE an open figcaption must not freeze the
            // caption early — <br>/<p> inside figcaptions are routine;
            // they read as whitespace and the caption runs to
            // </figcaption>/</figure>/EOF as documented
            if (BlockTags.contains(name)) {
              if (inFigCaption) { figCapBuf.append(' '); blockBuf.append(' ') }
              else closeBlock()
            }
            -1
        }

      override def text(c: Char): Unit = {
        blockBuf.append(c); if (inFigCaption) figCapBuf.append(c)
      }
    }
    scanTags(html, v)
    v.closeFigure()
    val imgs = v.imgs
    val out = new Array[(String, String, String, String)](imgs.length)
    var k = 0
    while (k < imgs.length) {
      val (s, a, t) = imgs(k)
      out(k) = (s, a, t, v.caps(k))
      k += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** Images as Catalyst rows (for [[HtmlImages]]). */
  def imagesData(html: UTF8String): GenericArrayData = {
    if (html == null) return new GenericArrayData(Array.empty[Any])
    val is = images(html.toString)
    val rows = new Array[Any](is.length)
    var i = 0
    while (i < is.length) {
      val (s, a, t, c) = is(i)
      rows(i) = InternalRow(UTF8String.fromString(s),
        UTF8String.fromString(a), UTF8String.fromString(t),
        UTF8String.fromString(c))
      i += 1
    }
    new GenericArrayData(rows)
  }

  val interleavedSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("src", StringType, nullable = true),
    StructField("alt", StringType, nullable = true)))

  /** Interleaved image-text document (the mmc4/OBELICS shape): ONE
    * ordered sequence of content-text items and image slots per page,
    * position-keyed — what an interleaved multimodal trainer consumes
    * directly. Contract:
    *
    *  - an `<img>` (nonempty src) is an item AND a text-run boundary —
    *    it finalizes the text accumulated so far, exactly like a block
    *    tag, so document order is a strict alternation of runs and
    *    slots;
    *  - text runs are segmented at block-tag boundaries and classified
    *    with the [[blocks]] jusText rules (link density, minLen, the
    *    preceding-non-short neighbor rule over TEXT runs only — images
    *    never influence a label); only `content` runs emit;
    *  - EVERY image with a nonempty src emits (an interleaved corpus
    *    keeps image slots even between boilerplate runs — the slot
    *    position, not the neighbor prose, is the signal);
    *  - `pos` is the 0-based index over EMITTED items, so downstream
    *    packing can key on (doc, pos) with no holes. */
  def interleaved(html: String, minLen: Int,
                  maxLinkDensity: Double): IndexedSeq[(Int, String, String, String, String)] = {
    if (html == null) return Vector.empty
    val v = new TagVisitor {
      // ordered segments: text = (rawText, nonWs, linked), image = (src, alt)
      val segs = scala.collection.mutable.ArrayBuffer
        .empty[Either[(String, Int, Int), (String, String)]]
      private val buf = new java.lang.StringBuilder(256)
      private var nonWs = 0
      private var linked = 0
      private var linkDepth = 0
      def finalizeRun(): Unit = {
        if (nonWs > 0) segs += Left((buf.toString, nonWs, linked))
        buf.setLength(0); nonWs = 0; linked = 0
      }
      override def tag(name: String, closing: Boolean, nameEnd: Int): Int =
        if (name == "img") {
          val (attrs, after) = parseAttrs(html, nameEnd)
          attrs.get("src").filter(_.nonEmpty).foreach { src =>
            finalizeRun() // an image is a text-run boundary
            segs += Right((src, attrs.getOrElse("alt", "")))
          }
          after
        } else {
          if (name == "a") {
            if (closing) linkDepth = math.max(0, linkDepth - 1)
            else linkDepth += 1
          }
          if (BlockTags.contains(name)) finalizeRun()
          -1
        }
      override def text(c: Char): Unit = {
        buf.append(c)
        if (!Character.isWhitespace(c)) { nonWs += 1; if (linkDepth > 0) linked += 1 }
      }
    }
    scanTags(html, v)
    v.finalizeRun()
    val segs = v.segs
    // classify text runs with the blocks() rules, emit in order
    val out = IndexedSeq.newBuilder[(Int, String, String, String, String)]
    var lastLongLabel = ""
    var pos = 0
    segs.foreach {
      case Left((rawText, nw, lk)) =>
        val density = if (nw == 0) 0.0 else lk.toDouble / nw
        val isContent =
          if (density > maxLinkDensity) { lastLongLabel = "boilerplate"; false }
          else if (nw < minLen) lastLongLabel == "content"
          else { lastLongLabel = "content"; true }
        if (isContent) {
          out += ((pos, "text", normalizeWs(rawText), null, null))
          pos += 1
        }
      case Right((src, alt)) =>
        out += ((pos, "image", null, src, alt))
        pos += 1
    }
    out.result()
  }

  /** Interleaved items as Catalyst rows (for [[HtmlInterleaved]]). */
  def interleavedData(html: UTF8String, minLen: Int,
                      maxLinkDensity: Double): GenericArrayData = {
    if (html == null) return new GenericArrayData(Array.empty[Any])
    val is = interleaved(html.toString, minLen, maxLinkDensity)
    val rows = new Array[Any](is.length)
    var i = 0
    while (i < is.length) {
      val (p, k, t, s, a) = is(i)
      rows(i) = InternalRow(p, UTF8String.fromString(k),
        if (t == null) null else UTF8String.fromString(t),
        if (s == null) null else UTF8String.fromString(s),
        if (a == null) null else UTF8String.fromString(a))
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** OpenGraph pairs as Catalyst rows (for [[HtmlOg]]). */
  def ogData(html: UTF8String): GenericArrayData = {
    if (html == null) return new GenericArrayData(Array.empty[Any])
    val os = og(html.toString)
    val rows = new Array[Any](os.length)
    var i = 0
    while (i < os.length) {
      rows(i) = InternalRow(UTF8String.fromString(os(i)._1),
        UTF8String.fromString(os(i)._2))
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** Head directives as a Catalyst row (for [[HtmlHead]]). */
  def headData(html: UTF8String): InternalRow = {
    val (b, cn, ni, nf) = head(if (html == null) null else html.toString)
    InternalRow(if (b == null) null else UTF8String.fromString(b),
      if (cn == null) null else UTF8String.fromString(cn), ni, nf)
  }

  /** Links as Catalyst rows (for [[HtmlLinks]]). */
  def linksData(html: UTF8String): GenericArrayData = {
    if (html == null) return new GenericArrayData(Array.empty[Any])
    val ls = links(html.toString)
    val rows = new Array[Any](ls.length)
    var i = 0
    while (i < ls.length) {
      val (h, a, nf) = ls(i)
      rows(i) = InternalRow(UTF8String.fromString(h),
        UTF8String.fromString(a), nf)
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** HTML → Markdown — the structured-extraction product surface (a
    * training corpus increasingly keeps markdown, not stripped prose:
    * headings, lists, links, and code fences are signal). Deterministic
    * single-pass contract, hash-oracle-able like everything else here:
    *
    *  - blocks joined by a blank line; whitespace normalized per block;
    *  - `h1..h6` → `#`×n prefix; `blockquote` → `> ` prefix (depth 1);
    *  - `ul`/`ol` items → `- ` / `k. ` with 2-space indent per nesting
    *    level (counters per list instance);
    *  - `a href` → `[text](href)` (an `<a>` without href passes its
    *    text through); `<img src>` → `![alt](src)`;
    *  - `b`/`strong` → `**`, `i`/`em` → `*`, inline `code` → a
    *    backtick, each emitted at BOTH tag edges as encountered —
    *    tag-soup tolerance means an unclosed tag leaves its opening
    *    marker, by design;
    *  - `pre` → a fenced block with the raw (entity-decoded,
    *    whitespace-preserved) content; inner tags are dropped;
    *  - script/style/comments drop as always. */
  def markdown(html: String): String = {
    if (html == null) return null
    val n = html.length
    val v = new TagVisitor {
      val blocksOut = scala.collection.mutable.ArrayBuffer.empty[String]
      private val buf = new java.lang.StringBuilder(128)
      private var prefix = ""
      // list context: (ordered, nextCounter) per open list
      private var lists = List.empty[(Boolean, Int)]
      private var href: String = null // innermost open <a>'s target
      private var linkStart = -1      // buf index of that link's '['
      def finalizeBlock(nextPrefix: String): Unit = {
        // an <a> spanning a block boundary (the card-link pattern
        // <a><div>Title</div></a>) must not strand '[' and '](url)' in
        // different blocks: a link with text closes AT the boundary; a
        // bare '[' is dropped here and re-opened in the next block, so
        // the eventual text gets one well-formed [text](url)
        if (href != null) {
          if (buf.length() > linkStart + 1) {
            buf.append("](").append(href).append(')'); href = null
          } else buf.setLength(linkStart)
        }
        val norm = normalizeWs(buf.toString)
        if (norm.nonEmpty) blocksOut += (prefix + norm)
        buf.setLength(0)
        prefix = nextPrefix
        if (href != null) { buf.append('['); linkStart = 0 }
      }
      private def listPrefix(): String = lists match {
        case (ordered, k) :: rest =>
          lists = (ordered, k + 1) :: rest
          ("  " * rest.length) + (if (ordered) s"$k. " else "- ")
        case Nil => "- " // stray <li>: tolerated as an unindented bullet
      }
      override def tag(name: String, closing: Boolean, nameEnd: Int): Int =
        if (!closing && name == "pre") {
          finalizeBlock("")
          // raw capture to </pre>: entities decode, inner tags drop,
          // whitespace preserved — a sub-scan with its own contract, so
          // it stays a local loop rather than a TagVisitor
          var p = skipToTagEnd(html, nameEnd)
          val raw = new java.lang.StringBuilder(64)
          var open = true
          while (open && p < n) {
            val ch = html.charAt(p)
            if (ch == '<') {
              val cl = p + 1 < n && html.charAt(p + 1) == '/'
              var q = p + (if (cl) 2 else 1)
              val qs = q
              while (q < n && isNameChar(html.charAt(q))) q += 1
              if (q == qs) { raw.append(ch); p += 1 }
              else {
                val nm = html.substring(qs, q)
                  .toLowerCase(java.util.Locale.ROOT)
                if (cl && nm == "pre") { open = false; p = skipToTagEnd(html, q) }
                else p = skipToTagEnd(html, q)
              }
            } else if (ch == '&') p = decodeEntity(html, p, raw)
            else { raw.append(ch); p += 1 }
          }
          blocksOut += ("```\n" + raw.toString + "\n```")
          p
        } else {
          name match {
            case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
              finalizeBlock(
                if (closing) "" else "#" * (name.charAt(1) - '0') + " ")
            case "blockquote" =>
              finalizeBlock(if (closing) "" else "> ")
            case "ul" | "ol" =>
              finalizeBlock("")
              if (closing) { if (lists.nonEmpty) lists = lists.tail }
              else lists = (name == "ol", 1) :: lists
            case "li" =>
              finalizeBlock(if (closing) "" else listPrefix())
            case "a" =>
              if (closing) {
                if (href != null) { buf.append("](").append(href).append(')'); href = null }
              } else {
                if (href != null) { buf.append("](").append(href).append(')'); href = null }
                val (attrs, _) = parseAttrs(html, nameEnd)
                attrs.get("href").filter(_.nonEmpty).foreach { h =>
                  href = h; linkStart = buf.length(); buf.append('[')
                }
              }
            case "img" =>
              val (attrs, _) = parseAttrs(html, nameEnd)
              attrs.get("src").filter(_.nonEmpty).foreach { src =>
                buf.append("![").append(attrs.getOrElse("alt", ""))
                  .append("](").append(src).append(')')
              }
            case "b" | "strong" => buf.append("**")
            case "i" | "em" => buf.append('*')
            case "code" => buf.append('`')
            case _ =>
              if (BlockTags.contains(name)) finalizeBlock("")
          }
          -1
        }
      override def text(c: Char): Unit = buf.append(c)
    }
    scanTags(html, v)
    v.finalizeBlock("")
    v.blocksOut.mkString("\n\n")
  }

  /** Markdown as a Catalyst value (for [[HtmlMarkdown]]). */
  def markdownData(html: UTF8String): UTF8String = {
    if (html == null) return null
    UTF8String.fromString(markdown(html.toString))
  }

  private def normalizeWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var inWs = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) inWs = true
      else {
        if (inWs && sb.length() > 0) sb.append(' ')
        inWs = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Extracted main text: content blocks joined with '\n'. */
  def contentText(html: UTF8String, minLen: Int, maxLinkDensity: Double): UTF8String = {
    if (html == null) return null
    val bs = blocks(html.toString, minLen, maxLinkDensity)
    val sb = new java.lang.StringBuilder(256)
    var i = 0
    while (i < bs.length) {
      if (bs(i).label == "content") {
        if (sb.length() > 0) sb.append('\n')
        sb.append(bs(i).text)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Blocks as Catalyst rows (for [[HtmlBlocks]]). */
  def blocksData(html: UTF8String, minLen: Int, maxLinkDensity: Double): GenericArrayData = {
    if (html == null) return new GenericArrayData(Array.empty[Any])
    val bs = blocks(html.toString, minLen, maxLinkDensity)
    val rows = new Array[Any](bs.length)
    var i = 0
    while (i < bs.length) {
      val b = bs(i)
      rows(i) = InternalRow(b.idx, UTF8String.fromString(b.tag),
        UTF8String.fromString(b.text), b.nChars, b.nLinkChars, b.nWords,
        b.stopRatio, UTF8String.fromString(b.label))
      i += 1
    }
    new GenericArrayData(rows)
  }
}

/** `html_content_text(html)` — codegen whole-document extraction. */
case class HtmlContentText(child: Expression, minLen: Int, maxLinkDensity: Double)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "html_content_text"

  override def nullSafeEval(input: Any): Any =
    HtmlOps.contentText(input.asInstanceOf[UTF8String], minLen, maxLinkDensity)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expr.HtmlOps.contentText($a, $minLen, $maxLinkDensity);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `html_blocks(html)` — codegen block segmentation + classification. */
case class HtmlBlocks(child: Expression, minLen: Int, maxLinkDensity: Double)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(HtmlOps.blockSchema, containsNull = false)
  override def prettyName: String = "html_blocks"

  override def nullSafeEval(input: Any): Any =
    HtmlOps.blocksData(input.asInstanceOf[UTF8String], minLen, maxLinkDensity)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expr.HtmlOps.blocksData($a, $minLen, $maxLinkDensity);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `html_head(html)` — codegen head-directive extraction:
  * struct(base, canonical, noindex, nofollow). */
case class HtmlHead(child: Expression) extends UnaryExpression {
  override def dataType: DataType = HtmlOps.headSchema
  override def prettyName: String = "html_head"

  override def nullSafeEval(input: Any): Any =
    HtmlOps.headData(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expr.HtmlOps.headData($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `html_og(html)` — codegen OpenGraph metadata extraction. */
case class HtmlOg(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(HtmlOps.ogSchema, containsNull = false)
  override def prettyName: String = "html_og"

  override def nullSafeEval(input: Any): Any =
    HtmlOps.ogData(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expr.HtmlOps.ogData($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `html_alternates(html)` — codegen hreflang-alternate extraction. */
case class HtmlAlternates(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(HtmlOps.alternateSchema, containsNull = false)
  override def prettyName: String = "html_alternates"

  override def nullSafeEval(input: Any): Any =
    HtmlOps.alternatesData(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expr.HtmlOps.alternatesData($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `html_links(html)` — codegen anchor extraction. */
case class HtmlLinks(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(HtmlOps.linkSchema, containsNull = false)
  override def prettyName: String = "html_links"

  override def nullSafeEval(input: Any): Any =
    HtmlOps.linksData(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expr.HtmlOps.linksData($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `html_images(html)` — codegen `<img>` extraction:
  * array(struct(src, alt, title, caption)). */
case class HtmlImages(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(HtmlOps.imageSchema, containsNull = false)
  override def prettyName: String = "html_images"

  override def nullSafeEval(input: Any): Any =
    HtmlOps.imagesData(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expr.HtmlOps.imagesData($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `html_interleaved(html)` — codegen interleaved image-text document
  * extraction: array(struct(pos, kind, text, src, alt)). */
case class HtmlInterleaved(child: Expression, minLen: Int,
                           maxLinkDensity: Double) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(HtmlOps.interleavedSchema, containsNull = false)
  override def prettyName: String = "html_interleaved"

  override def nullSafeEval(input: Any): Any =
    HtmlOps.interleavedData(input.asInstanceOf[UTF8String], minLen,
      maxLinkDensity)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expr.HtmlOps.interleavedData($a, $minLen, $maxLinkDensity);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `html_markdown(html)` — codegen HTML→Markdown rendering. */
case class HtmlMarkdown(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "html_markdown"

  override def nullSafeEval(input: Any): Any =
    HtmlOps.markdownData(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expr.HtmlOps.markdownData($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `html_table_cells(html)` — codegen table-cell extraction. */
case class HtmlTableCells(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(HtmlOps.tableCellSchema, containsNull = false)
  override def prettyName: String = "html_table_cells"

  override def nullSafeEval(input: Any): Any =
    HtmlOps.tableCellsData(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expr.HtmlOps.tableCellsData($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HtmlExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def html_content_text(html: Column,
                        minLen: Int = HtmlOps.DefaultMinLen,
                        maxLinkDensity: Double = HtmlOps.DefaultMaxLinkDensity): Column =
    ColumnBridge.column(HtmlContentText(ColumnBridge.expression(html), minLen, maxLinkDensity))

  def html_blocks(html: Column,
                  minLen: Int,
                  maxLinkDensity: Double): Column =
    ColumnBridge.column(HtmlBlocks(ColumnBridge.expression(html), minLen, maxLinkDensity))

  def html_table_cells(html: Column): Column =
    ColumnBridge.column(HtmlTableCells(ColumnBridge.expression(html)))

  def html_links(html: Column): Column =
    ColumnBridge.column(HtmlLinks(ColumnBridge.expression(html)))

  def html_images(html: Column): Column =
    ColumnBridge.column(HtmlImages(ColumnBridge.expression(html)))

  def html_markdown(html: Column): Column =
    ColumnBridge.column(HtmlMarkdown(ColumnBridge.expression(html)))

  def html_interleaved(html: Column): Column =
    ColumnBridge.column(HtmlInterleaved(ColumnBridge.expression(html),
      HtmlOps.DefaultMinLen, HtmlOps.DefaultMaxLinkDensity))

  def html_head(html: Column): Column =
    ColumnBridge.column(HtmlHead(ColumnBridge.expression(html)))

  def html_alternates(html: Column): Column =
    ColumnBridge.column(HtmlAlternates(ColumnBridge.expression(html)))

  def html_og(html: Column): Column =
    ColumnBridge.column(HtmlOg(ColumnBridge.expression(html)))
}
