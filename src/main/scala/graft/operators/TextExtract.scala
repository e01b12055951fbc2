package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.HtmlExpressions

/** HTML→text extraction operators — the front of the crawl-curation
  * ladder (beyond-reference extension; every existing curation query
  * assumes clean text, this family produces it).
  *
  * Parsing/classification semantics live in [[graft.expr.HtmlOps]]
  * (single-pass codegen expression, per-row narrow work, zero shuffle);
  * this object is the DataFrame surface plus the deterministic synthetic
  * HTML generator the oracle queries invert (the synthetic-PNG playbook:
  * generation is expressed in plain Spark SQL functions, extraction must
  * recover exactly the content blocks, and the DuckDB oracle recomputes
  * the expected text from the source columns directly).
  */
object TextExtract {

  /** Escape text for embedding in an HTML text node. */
  def htmlEscape(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      "&", "&amp;"), "<", "&lt;"), ">", "&gt;")

  /** Deterministic synthetic page: real-page anatomy around the document
    * text — head/title + style (dropped), link-only nav + ad div
    * (boilerplate by link density), constant h1 + the document text in
    * `<p>` + its uppercase twin in `<blockquote>` (content), script
    * (dropped), link-heavy footer (boilerplate). The h1 is CONSTANT so
    * extraction is a pure function of `text` — exact-dup documents stay
    * exact dups through the HTML round-trip, which is what lets the
    * extraction output feed the dedup ladder unchanged. */
  def syntheticHtml(docId: Column, text: Column): Column =
    concat(
      lit("<!doctype html>\n<html>\n<head>\n<title>Doc "), docId.cast("string"),
      lit("</title>\n<style>p { color: #222; }</style>\n</head>\n<body>\n" +
        "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
        "<a href=\"/contact\">Contact</a></nav>\n" +
        "<h1>Corpus document from the synthetic crawl corpus</h1>\n<p>"),
      htmlEscape(text),
      lit("</p>\n<div class=\"ads\"><a href=\"/buy\">Buy now</a> " +
        "<a href=\"/sale\">Sale</a></div>\n<blockquote>"),
      htmlEscape(upper(text)),
      lit("</blockquote>\n<script>var t = \"track\";</script>\n" +
        "<footer><a href=\"/tos\">Terms</a> <a href=\"/priv\">Privacy</a> " +
        "&#169; 2026 Example Corp</footer>\n</body>\n</html>\n"))

  /** (id, extracted) — whole-document main text. */
  def fromHtml(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    df.select(col(idCol),
      HtmlExpressions.html_content_text(col(htmlCol),
        graft.expr.HtmlOps.DefaultMinLen, graft.expr.HtmlOps.DefaultMaxLinkDensity)
        .as("extracted"))

  /** One row per block: (id, idx, tag, text, n_chars, n_link_chars,
    * n_words, stop_ratio, label). */
  def blocks(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    df.select(col(idCol),
        explode(HtmlExpressions.html_blocks(col(htmlCol),
          graft.expr.HtmlOps.DefaultMinLen, graft.expr.HtmlOps.DefaultMaxLinkDensity))
          .as("b"))
      .select(col(idCol), col("b.idx"), col("b.tag"), col("b.text"),
        col("b.n_chars"), col("b.n_link_chars"), col("b.n_words"),
        col("b.stop_ratio"), col("b.label"))

  /** Sliding-window token chunks — the RAG/embedding prep step: windows
    * of `chunkSize` whitespace tokens advancing by `chunkSize - overlap`,
    * the final window keeping the tail (a shorter last chunk, never
    * dropped tokens), and a window whose predecessor already reached the
    * end is skipped (no fully-redundant trailing chunk). Original case
    * and spelling preserved — chunks are what gets embedded and quoted
    * back to a user. Emits (idCol, chunk_id, start_tok, n_tok,
    * chunk_text). Pure per-row higher-order array ops: sequence +
    * filter + posexplode + slice — zero shuffle, SQL-replayable. */
  def slidingChunks(df: DataFrame, idCol: String, textCol: String,
                    chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val toks = filter(split(col(textCol), "\\s+"), t => t =!= "")
    df.withColumn("__tk", toks)
      .withColumn("__n", size(col("__tk")))
      .filter(col("__n") > 0)
      .withColumn("__starts", filter(
        sequence(lit(0), col("__n") - 1, lit(stride)),
        s => s === 0 || s - lit(stride) + lit(chunkSize) < col("__n")))
      .select(col(idCol), col("__tk"), col("__n"),
        posexplode(col("__starts")).as(Seq("chunk_id", "start_tok")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("start_tok").cast("long").as("start_tok"),
        least(lit(chunkSize.toLong), col("__n") - col("start_tok"))
          .cast("long").as("n_tok"),
        array_join(slice(col("__tk"), col("start_tok") + 1,
          lit(chunkSize)), " ").as("chunk_text"))
  }
}
