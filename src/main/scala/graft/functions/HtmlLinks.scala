package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `html_links(html)` — extract anchor `href` values from HTML, in
  * document order: the outlink stage of a crawl pipeline (WAT files are
  * exactly this, precomputed). Shares [[HtmlStrip]]'s char-level tag
  * discipline so the same hostile inputs that break regex extractors
  * are handled:
  *
  *  - only REAL `<a>` start tags contribute — anchors inside comments
  *    (`<!-- <a href=x> -->`), bogus comments, or script/style RAWTEXT
  *    bodies (`document.write('<a href=...')`) are NOT links;
  *  - attribute scanning is quote-aware, so `<a title="x>y" href=...>`
  *    finds the href after the quoted `>`, and a `>` inside the href
  *    value itself does not end the tag;
  *  - attribute names match case-insensitively (`HREF`), the FIRST
  *    href in a tag wins (HTML5 duplicate-attribute rule: later
  *    duplicates are parse errors and dropped);
  *  - values may be double-quoted, single-quoted, or unquoted (ending
  *    at whitespace or `>`); entities in the value decode ONCE
  *    (`href="a&amp;b"` → `a&b` — attribute-value semantics);
  *  - a valueless or empty `href` contributes the empty string (a
  *    self-reference per RFC 3986 §4.4 — resolution turns it into the
  *    page's own URL);
  *  - unterminated tag at EOF contributes nothing (EOF-in-tag).
  *
  * Trimming/whitespace-stripping of the value is NOT done here — that
  * is `url_resolve`'s WHATWG cleanup, applied where resolution happens.
  *
  * Scale shape: scalar projection returning `array<string>` — pairs
  * with `explode` + `url_resolve` + `url_normalize` for the frontier
  * feed; scan-local, zero shuffle at any scale.
  */
object HtmlLinks {

  def links(in: UTF8String): ArrayData = {
    val s = in.toString
    val n = s.length
    val out = new java.util.ArrayList[UTF8String]()

    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.regionMatches(false, i, "<!--", 0, 4)) {
          val e = s.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (i + 1 < n && (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
          val e = s.indexOf('>', i + 2)
          i = if (e < 0) n else e + 1
        } else if (i + 1 < n && (Character.isLetter(s.charAt(i + 1)) ||
            (s.charAt(i + 1) == '/' && i + 2 < n && Character.isLetter(s.charAt(i + 2))))) {
          val closing = s.charAt(i + 1) == '/'
          var j = i + (if (closing) 2 else 1)
          val nameStart = j
          while (j < n && Character.isLetterOrDigit(s.charAt(j))) j += 1
          val name = s.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)

          var href: String = null
          val packed =
            if (!closing && name == "a")
              HtmlScan.attrWalk(s, j, (attr, value) =>
                if (attr == "href" && href == null)
                  href = HtmlStrip.decodeEntitiesOnce(value))
            else HtmlScan.skipTag(s, j)
          val closed = HtmlScan.closed(packed)
          i = if (closed) HtmlScan.pos(packed) else n // EOF-in-tag: drop
          if (closed && href != null) out.add(UTF8String.fromString(href))
          if (closed && !closing && (name == "script" || name == "style"))
            i = HtmlScan.rawTextEnd(s, name, i)
        } else i += 1 // literal '<' — no tag here
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** `html_anchors(html)` — anchors WITH their anchor text:
    * `array<struct<href, text>>` in document order. The href rules are
    * [[links]]'s exactly (same walk); the text is the anchor's visible
    * content — inner tags act as separators (a `<b>` inside an anchor
    * does not glue words), entities decode once, whitespace collapses,
    * comments and script/style RAWTEXT inside the anchor contribute
    * nothing. A new `<a>` before the close implicitly closes the
    * current one (the HTML5 rule), and EOF closes an open anchor with
    * the text collected so far. Anchor text is the label the LINKING
    * page gives the target — the classic retrieval/training signal a
    * WAT-stage anchor-text index aggregates per target URL.
    */
  def anchors(in: UTF8String): ArrayData = {
    val s = in.toString
    val n = s.length
    val out = new java.util.ArrayList[org.apache.spark.sql.catalyst.InternalRow]()

    var curHref: String = null
    val curText = new java.lang.StringBuilder
    var inAnchor = false

    def emit(): Unit = {
      // href rules are links()'s EXACTLY: an <a> with no href attribute
      // (a named anchor target, `<a name=top>…`) is not a link and
      // emits nothing; a PRESENT-but-empty href (`<a href>` /
      // `<a href="">`) is the RFC 3986 self-reference and emits ""
      if (inAnchor && curHref != null) {
        val decoded = HtmlStrip.decodeEntitiesOnce(curText.toString)
        out.add(org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(curHref),
          UTF8String.fromString(graft.functions.HtmlMeta.collapseWs(decoded))))
      }
      inAnchor = false
      curHref = null
      curText.setLength(0)
    }

    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.regionMatches(false, i, "<!--", 0, 4)) {
          val e = s.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
          if (inAnchor) curText.append(' ')
        } else if (i + 1 < n && (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
          val e = s.indexOf('>', i + 2)
          i = if (e < 0) n else e + 1
          if (inAnchor) curText.append(' ')
        } else if (i + 1 < n && (Character.isLetter(s.charAt(i + 1)) ||
            (s.charAt(i + 1) == '/' && i + 2 < n && Character.isLetter(s.charAt(i + 2))))) {
          val closing = s.charAt(i + 1) == '/'
          var j = i + (if (closing) 2 else 1)
          val nameStart = j
          while (j < n && Character.isLetterOrDigit(s.charAt(j))) j += 1
          val name = s.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)

          var href: String = null
          val packed =
            if (!closing && name == "a")
              HtmlScan.attrWalk(s, j, (attr, value) =>
                if (attr == "href" && href == null)
                  href = HtmlStrip.decodeEntitiesOnce(value))
            else HtmlScan.skipTag(s, j)
          val closed = HtmlScan.closed(packed)
          i = if (closed) HtmlScan.pos(packed) else n
          if (closed) {
            if (!closing && name == "a") {
              emit() // implicit close of any open anchor (HTML5 rule)
              inAnchor = true
              curHref = href
            } else if (closing && name == "a") {
              emit()
            } else {
              if (inAnchor) curText.append(' ') // inner tag = separator
              if (!closing && (name == "script" || name == "style"))
                i = HtmlScan.rawTextEnd(s, name, i)
            }
          }
        } else {
          if (inAnchor) curText.append('<')
          i += 1
        }
      } else {
        if (inAnchor) curText.append(c)
        i += 1
      }
    }
    emit() // EOF closes an open anchor
    new GenericArrayData(out.toArray)
  }

  val anchorSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("href", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("text", StringType, nullable = false)))
}

case class HtmlAnchorsExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(HtmlLinks.anchorSchema, containsNull = false)
  override def prettyName: String = "html_anchors"
  override def nullSafeEval(input: Any): Any =
    HtmlLinks.anchors(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlLinks.anchors($c)")
  override protected def withNewChildInternal(newChild: Expression): HtmlAnchorsExpr =
    copy(newChild)
}

case class HtmlLinksExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "html_links"
  override def nullSafeEval(input: Any): Any =
    HtmlLinks.links(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlLinks.links($c)")
  override protected def withNewChildInternal(newChild: Expression): HtmlLinksExpr =
    copy(newChild)
}
