package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{BinaryType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `html_meta(html)` — the page-metadata fields a crawl's WAT stage
  * records alongside outlinks: `struct<title, description, lang,
  * charset>`, each NULL when absent. Shares [[HtmlStrip]]'s char-level
  * tag discipline (quoted `>` inside attributes, comments and bogus
  * comments excluded, script/style RAWTEXT bodies excluded), so a
  * `<title>` inside a comment or a `document.write('<title>..')` is not
  * a title.
  *
  *  - `title`: the first real `<title>` element's RCDATA — entities
  *    decode once, whitespace (plus C0 controls / DEL, as in
  *    `html_text`) collapses to single spaces, ends trimmed. A present
  *    but empty element yields the empty string (distinct from NULL =
  *    no title).
  *  - `description`: the first `<meta name=description content=...>`
  *    (attribute names case-insensitive, first `content` in the tag
  *    wins per the HTML5 duplicate-attribute rule); value entity-decodes
  *    once, collapses and trims like the title. A description-less meta
  *    does not block a later one.
  *  - `lang`: the first `<html>` start tag's `lang` attribute,
  *    ASCII-lowercased and trimmed (BCP 47 tags compare
  *    case-insensitively); empty/absent → NULL.
  *  - `charset`: the first meta-declared charset in document order —
  *    either `<meta charset=X>` or `<meta http-equiv=content-type
  *    content="...; charset=X">` via the WHATWG "extract an encoding
  *    from a meta element" scan — trimmed and ASCII-lowercased but NOT
  *    alias-folded: this is the metadata FIELD as authored. The
  *    byte-level [[MetaCharset]] prescan (which feeds decoding) is the
  *    one that folds labels through the Encoding Standard.
  *
  * Scale shape: scan-local scalar projection, zero shuffle; one walk,
  * no regex.
  */
object HtmlMeta {

  /** Collapse HTML whitespace + C0/DEL runs to single spaces, trim. */
  private[graft] def collapseWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var pending = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c) || c < 0x20 || c == 0x7f || c == ' ') {
        if (sb.length > 0) pending = true
      } else {
        if (pending) { sb.append(' '); pending = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** WHATWG "extracting a character encoding from a meta element": the
    * value of the `charset` parameter inside a content attribute, or
    * null. Case-insensitive `charset`, optional whitespace around `=`,
    * quoted (must close) or unquoted (ends at `;` or whitespace) value.
    */
  private[graft] def charsetFromContent(content: String): String = {
    var i = 0
    val n = content.length
    while (i < n) {
      val at = indexOfCi(content, "charset", i)
      if (at < 0) return null
      var j = at + 7
      while (j < n && Character.isWhitespace(content.charAt(j))) j += 1
      if (j < n && content.charAt(j) == '=') {
        j += 1
        while (j < n && Character.isWhitespace(content.charAt(j))) j += 1
        if (j >= n) return null
        val c = content.charAt(j)
        if (c == '"' || c == '\'') {
          val e = content.indexOf(c, j + 1)
          return if (e < 0) null else content.substring(j + 1, e)
        }
        val vs = j
        while (j < n && !Character.isWhitespace(content.charAt(j)) &&
            content.charAt(j) != ';') j += 1
        return if (j == vs) null else content.substring(vs, j)
      }
      i = at + 7 // "charset" not followed by '=': keep scanning
    }
    null
  }

  private def indexOfCi(s: String, needle: String, from: Int): Int = {
    var i = math.max(0, from)
    val last = s.length - needle.length
    while (i <= last) {
      if (s.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  private def lc(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  def meta(in: UTF8String): InternalRow = {
    val s = in.toString
    val n = s.length

    var title: String = null
    var description: String = null
    var lang: String = null
    var langSeen = false // an <html> tag carried a lang attr (even empty):
    // later <html> tags cannot override it (HTML5 merges only ABSENT
    // attributes onto the root element)
    var charset: String = null

    var i = 0
    while (i < n) {
      if (s.charAt(i) == '<') {
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
          val name = lc(s.substring(nameStart, j))

          val wantAttrs = !closing && (name == "meta" || name == "html")
          // first-wins attribute values within this tag
          var aCharset: String = null
          var aHttpEquiv: String = null
          var aContent: String = null
          var aName: String = null
          var aLang: String = null

          val packed =
            if (wantAttrs)
              HtmlScan.attrWalk(s, j, (attr, value) => {
                lazy val dv = HtmlStrip.decodeEntitiesOnce(value)
                attr match {
                  case "charset" if aCharset == null => aCharset = dv
                  case "http-equiv" if aHttpEquiv == null => aHttpEquiv = dv
                  case "content" if aContent == null => aContent = dv
                  case "name" if aName == null => aName = dv
                  case "lang" if aLang == null => aLang = dv
                  case _ =>
                }
              })
            else HtmlScan.skipTag(s, j)
          val closed = HtmlScan.closed(packed)
          i = if (closed) HtmlScan.pos(packed) else n

          if (closed && !closing) {
            if (name == "meta") {
              if (charset == null) {
                val cand =
                  if (aCharset != null) aCharset
                  else if (aHttpEquiv != null &&
                      aHttpEquiv.equalsIgnoreCase("content-type") && aContent != null)
                    charsetFromContent(aContent)
                  else null
                if (cand != null && cand.trim.nonEmpty) charset = lc(cand.trim)
              }
              if (description == null && aName != null &&
                  aName.equalsIgnoreCase("description") && aContent != null)
                description = collapseWs(aContent)
            } else if (name == "html") {
              if (!langSeen && aLang != null) {
                langSeen = true
                if (aLang.trim.nonEmpty) lang = lc(aLang.trim)
              }
            } else if (name == "title") {
              if (title == null) {
                val ce = HtmlScan.rcdataContentEnd(s, "title", i)
                title = collapseWs(HtmlStrip.decodeEntitiesOnce(s.substring(i, ce)))
                i = if (ce >= n) n else {
                  val e = s.indexOf('>', ce + 2)
                  if (e < 0) n else e + 1
                }
              } else i = HtmlScan.rawTextEnd(s, "title", i) // later titles
            } else if (name == "script" || name == "style") {
              i = HtmlScan.rawTextEnd(s, name, i)
            }
          }
        } else i += 1
      } else i += 1
    }

    new GenericInternalRow(Array[Any](
      if (title == null) null else UTF8String.fromString(title),
      if (description == null) null else UTF8String.fromString(description),
      if (lang == null) null else UTF8String.fromString(lang),
      if (charset == null) null else UTF8String.fromString(charset)))
  }

  val schema: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("description", StringType),
    StructField("lang", StringType),
    StructField("charset", StringType)))
}

case class HtmlMetaExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = HtmlMeta.schema
  override def prettyName: String = "html_meta"
  override def nullSafeEval(input: Any): Any =
    HtmlMeta.meta(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlMeta.meta($c)")
  override protected def withNewChildInternal(newChild: Expression): HtmlMetaExpr =
    copy(newChild)
}

/** Byte-level WHATWG meta prescan + the full in-document sniff cascade.
  *
  * [[CharsetSniff]] implements the NO-DECLARATION cascade (BOM → strict
  * UTF-8 validation → windows-1252) and e44b applies the TRANSPORT
  * declaration. The missing rung of the WHATWG encoding sniffer is the
  * IN-DOCUMENT declaration: browsers prescan the first 1024 BYTES for a
  * `<meta>` charset before any decode. `meta_charset(bin)` is that
  * prescan; `detect_charset_html(bin)` / `sniff_text_html(bin)` run the
  * complete document-level order — BOM, else meta prescan, else strict
  * UTF-8 validation, else windows-1252 — detecting and decoding
  * (malformed input → U+FFFD, never an exception).
  *
  * Prescan semantics (WHATWG §13.2.3.2, the shapes that matter):
  *  - only the first 1024 bytes are examined; a tag or comment still
  *    open at that boundary (or at EOF) aborts the prescan — a meta
  *    past the window does not count;
  *  - `<!--` comments skip to the first `-->` (searched from two bytes
  *    back, so `<!-->` closes immediately); other `<!`/`<?`/non-tag
  *    `</` skip to `>`;
  *  - non-meta tags skip with QUOTE-AWARE attribute scanning (a `>`
  *    inside a quoted attribute does not end the tag);
  *  - a `<meta>` yields a candidate from its `charset` attribute, else
  *    from `content` when `http-equiv` is `content-type` (via
  *    [[HtmlMeta.charsetFromContent]]);
  *  - candidate labels fold through the Encoding Standard: utf-16
  *    variants → utf-8 (the bytes were clearly not utf-16 if we are
  *    scanning them as ASCII), x-user-defined → windows-1252,
  *    iso-8859-1/latin1/ascii → windows-1252 (the Encoding Standard
  *    maps the whole latin-1 family to windows-1252 — the BROWSER rule,
  *    deliberately different from e44b's transport layer, which decodes
  *    the declared charset literally per MIME);
  *  - an UNKNOWN label does not end the prescan — later metas may still
  *    declare a known one.
  *
  * The prescan result deliberately OUTRANKS UTF-8 validity in the
  * cascade (a valid-UTF-8 page declaring windows-1252 mojibakes exactly
  * as browsers render it) — precedence is the point of the declaration.
  */
object MetaCharset {

  private val window = 1024

  /** Encoding-Standard label folding for the labels the decode layer
    * supports; null = unknown label (prescan continues).
    */
  private[graft] def foldLabel(raw: String): String = {
    val l = raw.trim.toLowerCase(java.util.Locale.ROOT)
    l match {
      case "utf-8" | "utf8" | "unicode-1-1-utf-8" | "unicode11utf8" |
          "unicode20utf8" | "x-unicode20utf8" => "utf-8"
      case "utf-16" | "utf-16le" | "utf-16be" | "ucs-2" | "unicodefeff" |
          "iso-10646-ucs-2" | "csunicode" | "unicode" => "utf-8"
      case "windows-1252" | "cp1252" | "x-cp1252" | "ansi_x3.4-1968" |
          "ascii" | "us-ascii" | "iso-8859-1" | "iso8859-1" | "iso88591" |
          "iso_8859-1" | "latin1" | "latin-1" | "l1" | "csisolatin1" |
          "cp819" | "ibm819" | "iso-ir-100" => "windows-1252"
      case "x-user-defined" => "windows-1252"
      case _ => null
    }
  }

  /** The 1024-byte prescan: folded label or null. Bytes are widened
    * 1:1 to chars (latin-1 view) — the scan only keys on ASCII, and a
    * label containing non-ASCII is unknown anyway.
    */
  def prescan(bin: Array[Byte]): String = {
    val L = math.min(window, bin.length)
    val sb = new java.lang.StringBuilder(L)
    var x = 0
    while (x < L) { sb.append((bin(x) & 0xff).toChar); x += 1 }
    val s = sb.toString
    val n = s.length
    val truncated = bin.length > L // more bytes exist past the window

    var i = 0
    while (i < n) {
      if (s.charAt(i) == '<') {
        if (s.regionMatches(false, i, "<!--", 0, 4)) {
          val e = s.indexOf("-->", i + 2)
          if (e < 0) return null // comment still open at window end
          i = e + 3
        } else if (i + 1 < n && (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?' ||
            (s.charAt(i + 1) == '/' && !(i + 2 < n && Character.isLetter(s.charAt(i + 2)))))) {
          val e = s.indexOf('>', i + 2)
          if (e < 0) return null
          i = e + 1
        } else if (i + 1 < n && (Character.isLetter(s.charAt(i + 1)) ||
            s.charAt(i + 1) == '/')) {
          val closing = s.charAt(i + 1) == '/'
          var j = i + (if (closing) 2 else 1)
          val nameStart = j
          while (j < n && Character.isLetterOrDigit(s.charAt(j))) j += 1
          val name = s.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
          val isMeta = !closing && name == "meta"

          var aCharset: String = null
          var aHttpEquiv: String = null
          var aContent: String = null
          if (isMeta) {
            // prescan stores RAW values — no entity decoding at this
            // layer (WHATWG prescan reads bytes, not parsed attributes)
            val packed = HtmlScan.attrWalk(s, j, (attr, value) =>
              attr match {
                case "charset" if aCharset == null => aCharset = value
                case "http-equiv" if aHttpEquiv == null => aHttpEquiv = value
                case "content" if aContent == null => aContent = value
                case _ =>
              })
            // meta (or a quoted value inside it) still open at window
            // end: abort the prescan
            if (!HtmlScan.closed(packed)) return null
            val cand =
              if (aCharset != null) aCharset
              else if (aHttpEquiv != null &&
                  aHttpEquiv.equalsIgnoreCase("content-type") && aContent != null)
                HtmlMeta.charsetFromContent(aContent)
              else null
            if (cand != null) {
              val folded = foldLabel(cand)
              if (folded != null) return folded
            }
            i = HtmlScan.pos(packed)
          } else {
            val packed = HtmlScan.skipTag(s, j)
            val closed = HtmlScan.closed(packed)
            if (!closed && truncated) return null // tag spans the window edge
            i = if (closed) HtmlScan.pos(packed) else n
          }
        } else i += 1
      } else i += 1
    }
    null
  }

  /** (label, text-start offset): BOM → meta prescan → strict UTF-8 →
    * windows-1252.
    */
  private def detect(b: Array[Byte]): (String, Int) = {
    if (b.length >= 3 && (b(0) & 0xff) == 0xef && (b(1) & 0xff) == 0xbb &&
        (b(2) & 0xff) == 0xbf) ("UTF-8", 3)
    else if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xfe)
      ("UTF-16LE", 2)
    else if (b.length >= 2 && (b(0) & 0xff) == 0xfe && (b(1) & 0xff) == 0xff)
      ("UTF-16BE", 2)
    else {
      val m = prescan(b)
      if (m != null) (m, 0)
      else (CharsetSniff.charsetOf(b).toString, 0)
    }
  }

  def metaCharsetOf(bin: Array[Byte]): UTF8String = {
    val m = prescan(bin)
    if (m == null) null else UTF8String.fromString(m)
  }

  def charsetOf(bin: Array[Byte]): UTF8String =
    UTF8String.fromString(detect(bin)._1)

  def sniffText(bin: Array[Byte]): UTF8String = {
    val (label, off) = detect(bin)
    val cs = java.nio.charset.Charset.forName(label)
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    val out = dec.decode(java.nio.ByteBuffer.wrap(bin, off, bin.length - off))
    UTF8String.fromString(out.toString)
  }
}

case class MetaCharsetExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "meta_charset"
  override def nullSafeEval(input: Any): Any =
    MetaCharset.metaCharsetOf(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MetaCharset.metaCharsetOf($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(newChild: Expression): MetaCharsetExpr =
    copy(newChild)
}

case class DetectCharsetHtmlExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def prettyName: String = "detect_charset_html"
  override def nullSafeEval(input: Any): Any =
    MetaCharset.charsetOf(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MetaCharset.charsetOf($c)")
  override protected def withNewChildInternal(newChild: Expression): DetectCharsetHtmlExpr =
    copy(newChild)
}

case class SniffTextHtmlExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def prettyName: String = "sniff_text_html"
  override def nullSafeEval(input: Any): Any =
    MetaCharset.sniffText(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MetaCharset.sniffText($c)")
  override protected def withNewChildInternal(newChild: Expression): SniffTextHtmlExpr =
    copy(newChild)
}
