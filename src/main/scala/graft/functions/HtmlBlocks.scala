package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `html_blocks(html)` — block-level text segmentation with per-block
  * anchor-text accounting: the extraction half of jusText/trafilatura-
  * class MAIN-CONTENT extraction (Pomikálek 2011). Boilerplate blocks
  * (navigation, footers, ad rails) are short and link-dense; content
  * blocks are long and link-sparse — but that POLICY is a column
  * predicate over this function's output, not baked in here: the
  * Spark-first split is a native extractor plus declarative scoring.
  *
  * Returns `array<struct<txt string, links int>>` in document order:
  * one entry per block-level element's text run, where
  *
  *  - block boundaries are the HTML block-level tags (p, div, section,
  *    article, li, ul, ol, h1–h6, table, tr, td, th, blockquote, pre,
  *    br, hr, header, footer, nav, aside, main, form, html, body, and
  *    their close tags) — inline tags (a, b, span, …) separate words
  *    WITHIN a block, the html_text rule;
  *  - `txt` is the block's text, whitespace-collapsed and trimmed with
  *    once-only entity decode (the html_text discipline: quote-aware
  *    tag ends, comments and script/style RAWTEXT skipped, C0/DEL fold
  *    to whitespace); blank blocks are dropped;
  *  - `links` counts the characters of anchor text in the block (chars
  *    emitted while inside `<a>…</a>`) — the numerator of the
  *    link-density signal; separators between anchors do not count.
  *
  * Scale shape: scalar projection + posexplode — scan-local flatMap,
  * zero shuffle; composes with e40 line dedup downstream.
  */
object HtmlBlocks {

  private val blockTags: Set[String] = Set(
    "p", "div", "section", "article", "li", "ul", "ol",
    "h1", "h2", "h3", "h4", "h5", "h6", "table", "tr", "td", "th",
    "blockquote", "pre", "br", "hr", "header", "footer", "nav", "aside",
    "main", "form", "html", "body")

  def blocks(in: UTF8String): ArrayData = {
    val s = in.toString
    val n = s.length
    val out = new java.util.ArrayList[InternalRow]()
    val txt = new java.lang.StringBuilder(64)
    var pendingSpace = false
    var linkChars = 0
    var anchorDepth = 0

    def isWs(cp: Int): Boolean =
      cp < 0x20 || cp == ' ' || cp == 0x7f || cp == 0xa0

    def emit(cp: Int): Unit =
      if (isWs(cp)) { if (txt.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) { txt.append(' '); pendingSpace = false }
        txt.appendCodePoint(cp)
        if (anchorDepth > 0) linkChars += Character.charCount(cp)
      }

    def sep(): Unit = if (txt.length > 0) pendingSpace = true

    def emitStr(t: String): Unit = {
      var i = 0
      while (i < t.length) {
        val cp = t.codePointAt(i)
        emit(cp)
        i += Character.charCount(cp)
      }
    }

    def flush(): Unit = {
      if (txt.length > 0) {
        out.add(new GenericInternalRow(Array[Any](
          UTF8String.fromString(txt.toString), linkChars)))
        txt.setLength(0)
      }
      pendingSpace = false
      linkChars = 0
      anchorDepth = 0 // an anchor left open across a block boundary does
      // not leak link accounting into the next block
    }

    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.regionMatches(false, i, "<!--", 0, 4)) {
          val e = s.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
          sep()
        } else if (i + 1 < n && (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
          val e = s.indexOf('>', i + 2)
          i = if (e < 0) n else e + 1
          sep()
        } else if (i + 1 < n && (Character.isLetter(s.charAt(i + 1)) ||
            (s.charAt(i + 1) == '/' && i + 2 < n && Character.isLetter(s.charAt(i + 2))))) {
          val closing = s.charAt(i + 1) == '/'
          var j = i + (if (closing) 2 else 1)
          val nameStart = j
          while (j < n && Character.isLetterOrDigit(s.charAt(j))) j += 1
          val name = s.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
          val packed = HtmlScan.skipTag(s, j)
          val closed = HtmlScan.closed(packed)
          i = if (closed) HtmlScan.pos(packed) else n // EOF-in-tag: drop
          if (closed) {
            if (blockTags.contains(name)) flush()
            else {
              sep()
              if (name == "a") {
                if (closing) { if (anchorDepth > 0) anchorDepth -= 1 }
                else anchorDepth += 1
              }
            }
            if (!closing && (name == "script" || name == "style"))
              i = HtmlScan.rawTextEnd(s, name, i)
          }
        } else {
          emit('<')
          i += 1
        }
      } else if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        var decoded: String = null
        if (semi > i + 1 && semi - i <= 12)
          decoded = {
            val d = HtmlStrip.decodeEntitiesOnce(s.substring(i, semi + 1))
            if (d == s.substring(i, semi + 1)) null else d
          }
        if (decoded != null) { emitStr(decoded); i = semi + 1 }
        else { emit('&'); i += 1 }
      } else {
        val cp = s.codePointAt(i)
        emit(cp)
        i += Character.charCount(cp)
      }
    }
    flush()
    new GenericArrayData(out.toArray())
  }
}

case class HtmlBlocksExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("txt", StringType, nullable = false),
    StructField("links", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "html_blocks"
  override def nullSafeEval(input: Any): Any =
    HtmlBlocks.blocks(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlBlocks.blocks($c)")
  override protected def withNewChildInternal(newChild: Expression): HtmlBlocksExpr =
    copy(newChild)
}
