package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text normalization — the first step of any multilingual
  * training-data pipeline (dedup and n-gram ops treat `é` and `e`+U+0301
  * as different documents unless someone normalizes first). Two scalar
  * expressions, both scan-local single-pass projections:
  *
  *  - `nfc_normalize(str)` — Unicode canonical composition (NFC) via
  *    `java.text.Normalizer`. DuckDB's `nfc_normalize` (utf8proc) applies
  *    the same Unicode algorithm, so the oracle pairs 1:1 by name.
  *  - `strip_accents(str)` — canonical decomposition (NFD), removal of
  *    combining marks (category Mn), then NFC recomposition: `é`→`e`,
  *    `ñandú`→`nandu`, Hangul syllables round-trip composed. Canonical
  *    ONLY — compatibility characters (`ﬁ`, fullwidth `Ａ`, `Ǆ`) and
  *    non-decomposable letters (`ø`, `ß`) pass through unchanged,
  *    matching DuckDB's `strip_accents` (verified char-by-char in
  *    UnicodeNormSpec's vector table).
  *
  * Both short-circuit on pure-ASCII input (the overwhelmingly common
  * case in web corpora) with a byte scan — no allocation, no String
  * round-trip.
  */
object UnicodeNorm {

  private def isAscii(s: UTF8String): Boolean = {
    val n = s.numBytes
    var i = 0
    while (i < n) {
      if ((s.getByte(i) & 0x80) != 0) return false
      i += 1
    }
    true
  }

  def nfc(s: UTF8String): UTF8String =
    if (isAscii(s)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))

  def stripAccents(s: UTF8String): UTF8String =
    if (isAscii(s)) s
    else {
      val d = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFD)
      val sb = new java.lang.StringBuilder(d.length)
      var i = 0
      while (i < d.length) {
        val cp = d.codePointAt(i)
        if (Character.getType(cp) != Character.NON_SPACING_MARK)
          sb.appendCodePoint(cp)
        i += Character.charCount(cp)
      }
      // Recompose: DuckDB (utf8proc) returns NFC output, and scripts whose
      // canonical decomposition is NOT combining marks — Hangul syllables
      // decompose to Jamo — must come back composed or the two engines
      // disagree on every Korean document.
      UTF8String.fromString(
        java.text.Normalizer.normalize(sb.toString, java.text.Normalizer.Form.NFC))
    }
}

case class NfcNormalize(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"
  override def nullSafeEval(input: Any): Any =
    UnicodeNorm.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UnicodeNorm.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(newChild)
}

case class StripAccents(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "strip_accents"
  override def nullSafeEval(input: Any): Any =
    UnicodeNorm.stripAccents(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UnicodeNorm.stripAccents($c)")
  override protected def withNewChildInternal(newChild: Expression): StripAccents =
    copy(newChild)
}
