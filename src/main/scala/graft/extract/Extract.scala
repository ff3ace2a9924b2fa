package graft.extract

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.{Page, Segment}
import graft.functions.Text

/** Deterministic HTML→text/segment extraction — the Spark-first replacement
  * of the reference's pdftotext+lxml word scan (src/data_model/PdfWords.py:18-40)
  * and the cached layout-segment scan (src/cache_data.py:13-21).
  *
  * Contract (input_hint): the extracted, whitespace-normalized page text is
  * byte-identical to the `text` column per url. Runs as a typed
  * `mapPartitions` so the (stateless but allocation-heavy) parser amortizes
  * per partition; the stage is narrow — no shuffle, scales linearly with
  * input splits.
  */
object Extract {

  /** Block-level tags that open/close a text segment. Everything else
    * (b, i, span, a, em, …, and unknown tags) is inline: stripped without
    * breaking the text flow. `<br>` flushes — two visual lines become two
    * segments, the closest deterministic analog of lxml's block model.
    */
  val BlockTags: Set[String] = Set(
    "p", "div", "li", "ul", "ol", "dl", "dt", "dd",
    "h1", "h2", "h3", "h4", "h5", "h6", "br", "hr",
    "table", "tr", "td", "th", "thead", "tbody", "caption",
    "blockquote", "pre", "section", "article", "header", "footer",
    "nav", "aside", "main", "figure", "figcaption", "form", "title")

  /** Deterministic recover-mode HTML parser (no external parser library —
    * zero-egress sandbox), the analog of the reference's
    * `etree.XMLParser(recover=True)` path (PdfWords.py:23-27). Handles the
    * messy common-crawl cases, not just the synthesis template:
    *  - block-level segmentation ([[BlockTags]]); inline tags stripped
    *  - named (&amp; &lt; &gt; &quot; &apos; &nbsp;) and numeric
    *    (&#65; / &#x41;, full Unicode range) character references; unknown
    *    entities pass through literally
    *  - `<script>`/`<style>` skipped with their contents; comments stripped
    *  - recovery: a bare `<` that opens no tag is literal text; an
    *    unterminated tag or comment consumes the remainder (lxml-recover
    *    semantics); attribute values may contain quoted `>`
    *  - CONTRACT BOUNDARY: `<![CDATA[...]]>` is NOT recognized as a
    *    section — `<!` followed by `[` falls to bare-`<` recovery, so the
    *    wrapper and its contents leak through as literal text (CDATA is an
    *    XML/XHTML construct, rare in web HTML; fixture-pinned in
    *    ExtractSpec like the date-grammar boundary table)
    * Each flushed segment is whitespace-collapsed; empties dropped.
    */
  def paragraphs(html: String): Vector[String] = {
    val bodyStart = html.indexOf("<body")
    val from = if (bodyStart >= 0) {
      val e = tagEnd(html, bodyStart + 5)
      if (e < 0) html.length else e + 1
    } else 0
    val bodyEnd = html.lastIndexOf("</body>")
    val to = if (bodyEnd >= from) bodyEnd else html.length
    segmentBlocks(html.substring(from, to))
  }

  /** End index of a tag open at `from` (first unquoted '>'), or -1. */
  private def tagEnd(s: String, from: Int): Int = {
    var q: Char = 0
    var j = from
    while (j < s.length) {
      val c = s.charAt(j)
      if (q != 0) { if (c == q) q = 0 }
      else if (c == '"' || c == '\'') q = c
      else if (c == '>') return j
      j += 1
    }
    -1
  }

  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    var i = math.max(0, from)
    val n = s.length - needle.length
    while (i <= n) {
      if (s.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  /** Linear-scan block segmentation of markup; see [[paragraphs]]. */
  def segmentBlocks(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val sb = new java.lang.StringBuilder
    def flush(): Unit = {
      val t = Text.normWs(sb.toString)
      if (t.nonEmpty) out += t
      sb.setLength(0)
    }
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.startsWith("<!--", i)) {
          val e = s.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3 // unclosed comment: drop remainder
        } else {
          var j = i + 1
          var closing = false
          if (j < n && (s.charAt(j) == '/' || s.charAt(j) == '!')) { closing = true; j += 1 }
          val nameStart = j
          while (j < n && Character.isLetterOrDigit(s.charAt(j))) j += 1
          if (j == nameStart) {
            sb.append(c); i += 1 // "< " / "<3": literal text, recover mode
          } else {
            val name = s.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
            if (!closing && (name == "script" || name == "style")) {
              val close = indexOfIgnoreCase(s, "</" + name, i + 1)
              if (close < 0) i = n
              else { val e = tagEnd(s, close); i = if (e < 0) n else e + 1 }
            } else {
              if (BlockTags.contains(name)) flush()
              val e = tagEnd(s, j)
              i = if (e < 0) n else e + 1 // unterminated tag: drop remainder
            }
          }
        }
      } else if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi < 0 || semi - i > 12) { sb.append('&'); i += 1 }
        else decodeEntityBody(s.substring(i + 1, semi)) match {
          case Some(decoded) => sb.append(decoded); i = semi + 1
          case None          => sb.append('&'); i += 1 // unknown: literal
        }
      } else { sb.append(c); i += 1 }
    }
    flush()
    out.result()
  }

  /** Decode one character-reference body (text between '&' and ';'). */
  private def decodeEntityBody(body: String): Option[String] = body match {
    case "amp"  => Some("&")
    case "lt"   => Some("<")
    case "gt"   => Some(">")
    case "quot" => Some("\"")
    case "apos" => Some("'")
    case "nbsp" => Some(" ")
    case b if b.startsWith("#") =>
      val digits = b.substring(1)
      val cp =
        try {
          if (digits.length > 1 && (digits.charAt(0) == 'x' || digits.charAt(0) == 'X'))
            Some(Integer.parseInt(digits.substring(1), 16))
          else Some(Integer.parseInt(digits, 10))
        } catch { case _: NumberFormatException => None }
      cp.filter(p => p >= 0 && p <= 0x10FFFF && Character.isValidCodePoint(p))
        .map(p => new String(Character.toChars(p)))
    case _ => None
  }

  /** Dataset[Page] → Dataset[Segment]. seg_no restarts at 1 per page like
    * the reference's per-page renumbering (OllamaNERExtractor.py:192-198);
    * web pages are single-page so page=1 throughout.
    */
  def segments(pages: Dataset[Page]): Dataset[Segment] = {
    val spark = pages.sparkSession
    import spark.implicits._
    // Project to (url, html) BEFORE the typed map: when pages come from a
    // parquet/Iceberg scan this lets Catalyst prune the fat `text` column
    // out of the read (ReadSchema carries only url+html).
    pages.select(org.apache.spark.sql.functions.col("url"),
        org.apache.spark.sql.functions.col("html"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (url, htmlBytes) =>
          paragraphs(pageHtml(url, htmlBytes)).zipWithIndex.map { case (t, i) =>
            Segment(url, page = 1, seg_no = i + 1, seg_type = "Text", text = t)
          }
        }
      }
  }

  /** A page row's html as text, after the page table's null guard: a
    * parquet read under a declared schema turns a missing `url` or `html`
    * column into nulls, so a null in either fails the task, naming it.
    */
  private[graft] def pageHtml(url: String, html: Array[Byte]): String = {
    if (url == null) throw new IllegalArgumentException("page table: null url")
    if (html == null) throw new IllegalArgumentException(s"page table: null html at url $url")
    new String(html, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Reconstructed page text = segment texts joined with one space — the
    * byte-identity invariant surface.
    */
  def extractedText(html: Array[Byte]): String =
    paragraphs(new String(html, java.nio.charset.StandardCharsets.UTF_8)).mkString(" ")

  /** pages → (url, extracted, expected) for invariant checking at scale. */
  def invariantViolations(spark: SparkSession, pages: Dataset[Page]): Dataset[String] = {
    import spark.implicits._
    pages.mapPartitions(_.collect {
      case p if extractedText(p.html) != p.text => p.url
    })
  }
}
