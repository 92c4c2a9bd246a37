package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `html_text(html)` — char-level HTML text extraction (the parser
  * fallback past e34's RE2-subset regex chain; VERDICT r8 missing-list
  * item 4). One linear pass, single output buffer, no regex — the cases
  * a regex stripper structurally cannot handle are exactly the state
  * machine's job:
  *
  *  - `>` inside a quoted attribute value (`<div title="a>b">`): the
  *    tag scanner tracks `"`/`'` quote state, so the tag closes at the
  *    REAL `>` (e34's `<[^>]+>` closes at the first one — its documented
  *    known-unhandled case);
  *  - script/style as HTML5 RAWTEXT elements: content skipped to the
  *    first case-insensitive `</script`/`</style` followed by `>`, `/`
  *    or whitespace — exactly where browsers end raw text, including
  *    "inside" a JS string (`var s = "</script>"` DOES terminate — that
  *    is the spec, not a bug); a self-closed `<script/>` still enters
  *    raw text (HTML5 ignores `/` on non-foreign elements);
  *  - comments per HTML5: `<!--` to the FIRST `-->` (a "nested" comment's
  *    tail renders as text), unterminated comment swallows to EOF;
  *  - bogus comments (`<!doctype ...>`, `<? ... >`): skipped to `>`;
  *  - a `<` NOT followed by a letter, `/`+letter, `!` or `?` is literal
  *    text (the HTML5 parse-error recovery), so `1 < 2` survives;
  *  - entities decoded ONCE, never re-scanned (`&amp;amp;` → `&amp;` —
  *    the e34 safe-order rule): named amp/lt/gt/quot/apos/nbsp, numeric
  *    decimal and hex with codepoint validation (invalid/overflowing/
  *    surrogate references stay literal);
  *  - unterminated tag at EOF emits nothing (HTML5 EOF-in-tag).
  *
  * Tags and comments act as WORD SEPARATORS (one space, runs collapsed,
  * ends trimmed) — matching e34's tag→space→collapse semantics: for
  * corpus extraction, gluing `hello</b>world` into one token is worse
  * than splitting inline markup. nbsp (entity or U+00A0), every C0
  * control (NUL included — an HTML5 parse error, and garbage in corpus
  * text either way) and DEL fold into the same whitespace collapse.
  *
  * Scale shape: scalar projection, codegen'd via the static-call pattern
  * (UnicodeNorm precedent) — scan-local, zero shuffle at any scale.
  */
object HtmlStrip {

  private val named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">",
    "quot" -> "\"", "apos" -> "'", "nbsp" -> " ")

  /** Once-only entity decode with the walker's exact rules (named
    * subset, numeric dec/hex with codepoint validation, malformed `&`
    * stays literal) — shared with [[HtmlLinks]] for attribute values,
    * where HTML entity syntax applies identically (`href="a&amp;b"`).
    */
  private[functions] def decodeEntitiesOnce(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        var decoded: String = null
        if (semi > i + 1 && semi - i <= 12) {
          val body = s.substring(i + 1, semi)
          if (body.charAt(0) == '#') {
            val (digits, radix) =
              if (body.length > 2 && (body.charAt(1) == 'x' || body.charAt(1) == 'X'))
                (body.substring(2), 16)
              else (body.substring(1), 10)
            try {
              val cp = Integer.parseInt(digits, radix)
              if (cp > 0 && cp <= 0x10ffff && !(cp >= 0xd800 && cp <= 0xdfff))
                decoded = new String(Character.toChars(cp))
            } catch { case _: NumberFormatException => }
          } else decoded = named.getOrElse(body, null)
        }
        if (decoded != null) { out.append(decoded); i = semi + 1 }
        else { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  def htmlText(in: UTF8String): UTF8String = {
    val s = in.toString
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var pendingSpace = false

    // All C0 controls (incl. \t\n\r\f and NUL — HTML5 treats NUL as a
    // parse error; for corpus text it is garbage either way), DEL, space
    // and NBSP fold into the whitespace collapse.
    def isWs(cp: Int): Boolean =
      cp < 0x20 || cp == ' ' || cp == 0x7f || cp == 0xa0

    def emit(cp: Int): Unit =
      if (isWs(cp)) { if (out.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) { out.append(' '); pendingSpace = false }
        out.appendCodePoint(cp)
      }

    def sep(): Unit = if (out.length > 0) pendingSpace = true

    def emitStr(t: String): Unit = {
      var i = 0
      while (i < t.length) {
        val cp = t.codePointAt(i)
        emit(cp)
        i += Character.charCount(cp)
      }
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
          // scan to the tag's real end, honoring quoted attribute values
          val packed = HtmlScan.skipTag(s, j)
          val closed = HtmlScan.closed(packed)
          i = if (closed) HtmlScan.pos(packed) else n // EOF-in-tag: drop
          sep()
          if (closed && !closing && (name == "script" || name == "style"))
            i = HtmlScan.rawTextEnd(s, name, i)
        } else {
          emit('<')
          i += 1
        }
      } else if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        var decoded: String = null
        if (semi > i + 1 && semi - i <= 12) {
          val body = s.substring(i + 1, semi)
          if (body.charAt(0) == '#') {
            val (digits, radix) =
              if (body.length > 2 && (body.charAt(1) == 'x' || body.charAt(1) == 'X'))
                (body.substring(2), 16)
              else (body.substring(1), 10)
            try {
              val cp = Integer.parseInt(digits, radix)
              if (cp > 0 && cp <= 0x10ffff &&
                  !(cp >= 0xd800 && cp <= 0xdfff))
                decoded = new String(Character.toChars(cp))
            } catch { case _: NumberFormatException => }
          } else decoded = named.getOrElse(body, null)
        }
        if (decoded != null) { emitStr(decoded); i = semi + 1 }
        else { emit('&'); i += 1 }
      } else {
        val cp = s.codePointAt(i)
        emit(cp)
        i += Character.charCount(cp)
      }
    }
    UTF8String.fromString(out.toString)
  }
}

case class HtmlText(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "html_text"
  override def nullSafeEval(input: Any): Any =
    HtmlStrip.htmlText(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlStrip.htmlText($c)")
  override protected def withNewChildInternal(newChild: Expression): HtmlText =
    copy(newChild)
}
