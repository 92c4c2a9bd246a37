package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `split_sentences(text)` — deterministic rule-based sentence
  * segmentation (the sentencizer class of splitter: terminator
  * punctuation + an abbreviation exception list, the approach of
  * spaCy's rule sentencizer / NLTK's pre-trained-model fallback, kept
  * fully deterministic so a second engine can re-derive the output).
  * Chunking (e35) and packing (e17) cut cleaner at sentence edges than
  * mid-clause; quality heuristics (mean sentence length, caps ratio per
  * sentence) need the same boundaries.
  *
  * Rules, in order:
  *  1. a run of `.` `!` `?` ends a sentence when followed by whitespace
  *     or end of input;
  *  2. EXCEPT a single `.` whose preceding word (maximal letter run) is
  *     a known abbreviation (mr mrs ms dr prof st etc vs fig inc jr sr,
  *     case-insensitive) — `Dr. Smith` does not split;
  *  3. EXCEPT a single `.` after a single letter — initials and spelled
  *     acronyms (`John F. Kennedy`, `U.S. Navy`) do not split (the
  *     trade: a real sentence ending on a one-letter word is missed —
  *     rare in corpus text, and the cheaper error);
  *  4. multi-terminator runs (`?!`, `...`) always split — rules 2-3
  *     apply only to the lone period;
  *  5. sentences are emitted trimmed, terminator run included; text
  *     after the last terminator is a final sentence if non-blank;
  *     blank input → empty array.
  *
  * Scan-local scalar projection returning `array<string>`, codegen via
  * the static-call pattern; pairs with posexplode.
  */
object SentenceSplit {

  private val abbrev = Set(
    "mr", "mrs", "ms", "dr", "prof", "st", "etc", "vs", "fig", "inc",
    "jr", "sr")

  def split(in: UTF8String): ArrayData = {
    val s = in.toString
    val n = s.length
    val out = new java.util.ArrayList[UTF8String]()

    def emit(from: Int, until: Int): Unit = {
      var a = from
      var b = until
      while (a < b && Character.isWhitespace(s.charAt(a))) a += 1
      while (b > a && Character.isWhitespace(s.charAt(b - 1))) b -= 1
      if (b > a) out.add(UTF8String.fromString(s.substring(a, b)))
    }

    var start = 0
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '.' || c == '!' || c == '?') {
        val runStart = i
        while (i < n && {
          val t = s.charAt(i); t == '.' || t == '!' || t == '?'
        }) i += 1
        val followed = i >= n || Character.isWhitespace(s.charAt(i))
        var boundary = followed
        if (followed && i - runStart == 1 && c == '.') {
          // the lone-period exceptions: abbreviation or single initial
          var w = runStart
          while (w > start && Character.isLetter(s.charAt(w - 1))) w -= 1
          val word = s.substring(w, runStart)
          if (word.length == 1 ||
              abbrev.contains(word.toLowerCase(java.util.Locale.ROOT)))
            boundary = false
        }
        if (boundary) {
          emit(start, i)
          start = i
        }
      } else i += 1
    }
    emit(start, n)
    new GenericArrayData(out.toArray)
  }
}

case class SentenceSplitExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "split_sentences"
  override def nullSafeEval(input: Any): Any =
    SentenceSplit.split(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SentenceSplit.split($c)")
  override protected def withNewChildInternal(newChild: Expression): SentenceSplitExpr =
    copy(newChild)
}
