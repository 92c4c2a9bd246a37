package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Charset sniffing for crawl payloads that declare NO charset — the
  * other half of the e44b story (which applies the DECLARED one). Real
  * crawls are full of header-less text/html; fetching pipelines apply
  * the deterministic cascade the WHATWG encoding sniffer reduces to
  * when no transport/meta declaration exists:
  *
  *  1. a byte-order mark wins outright: EF BB BF → UTF-8,
  *     FF FE → UTF-16LE, FE FF → UTF-16BE (the BOM is consumed, not
  *     emitted as text);
  *  2. else a STRICT UTF-8 validation walk — continuation ranges,
  *     overlong forms (C0/C1, E0 80-9F, F0 80-8F), surrogates
  *     (ED A0-BF), beyond-U+10FFFF (F4 90+, F5+), truncated tails all
  *     reject — and a fully valid stream is UTF-8 (the probability a
  *     real legacy-encoded page validates is vanishing: any byte ≥ 0x80
  *     must head a well-formed sequence);
  *  3. else windows-1252, the HTML5 default fallback for the latin
  *     web (a superset of ISO-8859-1 in the C1 range — exactly the
  *     bytes step 2 rejected).
  *
  * `detect_charset(bin)` returns the label; `sniff_text(bin)` applies
  * the cascade AND decodes in one pass (java.nio decoding with
  * malformed-input REPLACE, so hostile bytes yield U+FFFD, never an
  * exception — the decoder-envelope rule). Both scan-local codegen
  * scalars.
  */
object CharsetSniff {

  private def utf8Valid(b: Array[Byte], from: Int): Boolean = {
    var i = from
    val n = b.length
    while (i < n) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else {
        val len =
          if (c >= 0xc2 && c <= 0xdf) 2
          else if (c >= 0xe0 && c <= 0xef) 3
          else if (c >= 0xf0 && c <= 0xf4) 4
          else return false // C0/C1 overlong heads and F5+ out of range
        if (i + len > n) return false // truncated sequence
        val c1 = b(i + 1) & 0xff
        val lo = c match {
          case 0xe0 => 0xa0 // no overlong 3-byte
          case 0xf0 => 0x90 // no overlong 4-byte
          case _ => 0x80
        }
        val hi = c match {
          case 0xed => 0x9f // no surrogates
          case 0xf4 => 0x8f // no beyond-U+10FFFF
          case _ => 0xbf
        }
        if (c1 < lo || c1 > hi) return false
        var k = 2
        while (k < len) {
          val ck = b(i + k) & 0xff
          if (ck < 0x80 || ck > 0xbf) return false
          k += 1
        }
        i += len
      }
    }
    true
  }

  /** (label, byte offset where text starts — past a BOM). */
  private def detect(b: Array[Byte]): (String, Int) = {
    if (b.length >= 3 && (b(0) & 0xff) == 0xef && (b(1) & 0xff) == 0xbb &&
        (b(2) & 0xff) == 0xbf) ("UTF-8", 3)
    else if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xfe)
      ("UTF-16LE", 2)
    else if (b.length >= 2 && (b(0) & 0xff) == 0xfe && (b(1) & 0xff) == 0xff)
      ("UTF-16BE", 2)
    else if (utf8Valid(b, 0)) ("UTF-8", 0)
    else ("windows-1252", 0)
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

case class DetectCharsetExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def prettyName: String = "detect_charset"
  override def nullSafeEval(input: Any): Any =
    CharsetSniff.charsetOf(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharsetSniff.charsetOf($c)")
  override protected def withNewChildInternal(newChild: Expression): DetectCharsetExpr =
    copy(newChild)
}

case class SniffTextExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def prettyName: String = "sniff_text"
  override def nullSafeEval(input: Any): Any =
    CharsetSniff.sniffText(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharsetSniff.sniffText($c)")
  override protected def withNewChildInternal(newChild: Expression): SniffTextExpr =
    copy(newChild)
}
