package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** RTF text extraction — the legacy office format legal archives,
  * court-records dumps and decades of institutional documents ship
  * (every pre-2007 Word era corpus is RTF or DOC; RTF is the openly
  * specified one). From-scratch implementation of the public RTF
  * specification's token model:
  *
  *  - group structure: `{`/`}` must BALANCE (an unbalanced file
  *    rejects — a truncated RTF silently loses trailing text
  *    otherwise), with per-group state saved and restored;
  *  - control words `\word[N]` with their optional space delimiter
  *    consumed per spec; control symbols `\x` single-char;
  *  - text semantics: `\par`/`\line` → LF, `\tab` → TAB, the escape
  *    trio `\\ \{ \}`, `\'hh` hex bytes decoded through Windows-1252
  *    (the RTF default ANSI code page), `\~` NBSP, `\-`/`\_`
  *    soft/non-breaking hyphens;
  *  - `\uN` Unicode escapes INCLUDING negative-N (the spec's 16-bit
  *    signed convention for U+8000..U+FFFF) and the `\ucN` fallback
  *    skip count — a group-scoped state the spec requires restoring
  *    on group close; the fallback bytes after `\uN` (ucN of them,
  *    counting `\'hh` as one) never emit;
  *  - non-text DESTINATIONS skip entirely: the `{\*\...}` ignorable
  *    form and the known set (fonttbl, colortbl, stylesheet, info,
  *    pict, header, footer, footnote field instructions) — leaked
  *    font tables and hex-encoded pictures are the classic RTF
  *    corpus-corruption mode;
  *  - `\binN` is followed by N RAW bytes that must be skipped
  *    blind — the other classic trap: brace-scanning through binary
  *    data desynchronizes the whole parse (bomb-capped).
  *
  * One row per `\par`-delimited paragraph.
  *
  * Shape at 100 TB: per-file parallelism, scan-local parse, zero
  * shuffle.
  */
object Rtf {

  private object Malformed extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  // NOTE: \field is NOT here — its visible text lives in {\fldrslt},
  // which must emit; the instruction half is {\*\fldinst}, already
  // skipped by the ignorable-destination rule
  private val SkipDestinations = Set("fonttbl", "colortbl", "stylesheet",
    "info", "pict", "header", "footer", "footnote")

  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  /** Paragraph texts in document order; None on any violation. */
  def paragraphs(bytes: Array[Byte]): Option[Vector[String]] = {
    try {
      if (bytes == null || bytes.length < 6) throw Malformed
      val s = bytes
      if (!(s(0) == '{' && s(1) == '\\' && s(2) == 'r' && s(3) == 't' &&
        s(4) == 'f')) throw Malformed
      val out = Vector.newBuilder[String]
      val sb = new StringBuilder
      def endPara(): Unit = { out += sb.toString; sb.clear() }
      // group-scoped state: (uc skip count, skipping destination)
      var uc = 1
      var skipping = 0 // depth inside a skipped destination; 0 = emitting
      val stack = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      var depth = 0
      var pendingUcSkip = 0
      var i = 0
      def emit(ch: Char): Unit = {
        if (pendingUcSkip > 0) pendingUcSkip -= 1
        else if (skipping == 0) sb.append(ch)
      }
      while (i < s.length) {
        val c = s(i)
        c match {
          case '{' =>
            stack += ((uc, skipping))
            depth += 1
            if (depth > 128) throw Malformed
            i += 1
            // ignorable destination {\*\word ...}
            if (skipping == 0 && i + 1 < s.length && s(i) == '\\' &&
              s(i + 1) == '*') {
              skipping = depth
              i += 2
            }
          case '}' =>
            if (stack.isEmpty) throw Malformed
            val (u0, sk0) = stack.remove(stack.length - 1)
            uc = u0
            skipping = sk0
            depth -= 1
            pendingUcSkip = 0
            i += 1
          case '\\' =>
            i += 1
            if (i >= s.length) throw Malformed
            val d = s(i)
            if (d == '\\' || d == '{' || d == '}') { emit(d.toChar); i += 1 }
            else if (d == '~') { emit('\u00a0'); i += 1 }
            else if (d == '-') { i += 1 } // optional hyphen: no text
            else if (d == '_') { emit('-'); i += 1 }
            else if (d == '\'') {
              if (i + 2 >= s.length) throw Malformed
              val hex = new String(s, i + 1, 2, "US-ASCII")
              if (!hex.forall(h => "0123456789abcdefABCDEF".indexOf(h) >= 0))
                throw Malformed
              val b = Integer.parseInt(hex, 16)
              if (pendingUcSkip > 0) pendingUcSkip -= 1
              else if (skipping == 0)
                sb.append(new String(Array(b.toByte), Cp1252))
              i += 3
            }
            else if (d == '\n' || d == '\r') { emit('\n'); i += 1 } // \<newline> = \par
            else if ((d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z')) {
              // control word: letters then optional signed number
              val w0 = i
              while (i < s.length && ((s(i) >= 'a' && s(i) <= 'z') ||
                (s(i) >= 'A' && s(i) <= 'Z'))) i += 1
              val word = new String(s, w0, i - w0, "US-ASCII")
              var neg = false
              var num = 0L
              var hasNum = false
              if (i < s.length && s(i) == '-') { neg = true; i += 1 }
              while (i < s.length && s(i) >= '0' && s(i) <= '9') {
                num = num * 10 + (s(i) - '0')
                if (num > (1L << 31)) throw Malformed
                hasNum = true
                i += 1
              }
              if (neg && !hasNum) throw Malformed
              val n = if (neg) -num else num
              // the single space delimiter is part of the control word
              if (i < s.length && s(i) == ' ') i += 1
              word match {
                case "par" | "line" => if (skipping == 0) {
                  if (word == "par") endPara() else emit('\n')
                }
                case "tab" => emit('\t')
                case "uc" => uc = n.toInt.max(0).min(16)
                case "u" =>
                  if (skipping == 0 && pendingUcSkip == 0) {
                    // 16-bit signed convention: negative N means N+65536
                    val cp = (if (n < 0) n + 65536 else n).toInt
                    if (cp < 0 || cp > 0xffff) throw Malformed
                    sb.append(cp.toChar)
                  }
                  pendingUcSkip = uc
                case "bin" =>
                  if (n < 0 || n > (64 << 20)) throw Malformed
                  if (i + n > s.length) throw Malformed
                  i += n.toInt // raw bytes: skipped BLIND
                case w if SkipDestinations.contains(w) =>
                  if (skipping == 0) skipping = depth
                case _ => // unknown control word: formatting, ignored
              }
            }
            else if (d == '*') { // bare \* outside group start: ignorable marker
              if (skipping == 0) skipping = depth
              i += 1
            }
            else throw Malformed // unknown control symbol
          case '\r' | '\n' => i += 1 // raw newlines are NOT text in RTF
          case _ =>
            // raw high bytes decode through the ANSI code page like \'hh
            if (pendingUcSkip > 0) pendingUcSkip -= 1
            else if (skipping == 0) {
              if ((c & 0xff) < 128) sb.append(c.toChar)
              else sb.append(new String(Array(c), Cp1252))
            }
            i += 1
        }
      }
      if (stack.nonEmpty) throw Malformed // unbalanced braces
      if (sb.nonEmpty) endPara()
      Some(out.result())
    } catch {
      case Malformed => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  val schema: StructType = StructType(Seq(
    StructField("fname", StringType),
    StructField("para_idx", IntegerType),
    StructField("text", StringType)))

  def parse(raw: DataFrame): DataFrame = {
    val input = raw.select(
      regexp_extract(col("path"), "([^/]+)$", 1).as("fname"), col("content"))
    input.mapPartitions { it =>
      it.flatMap { r =>
        val fname = r.getString(0)
        paragraphs(r.getAs[Array[Byte]](1)) match {
          case Some(ps) => ps.iterator.zipWithIndex.map { case (t, i) =>
            Row(fname, i, t)
          }
          case None => Iterator.empty
        }
      }
    }(RowEncoder.encoderFor(schema))
  }

  /** Fixture writer: per paragraph, the text is emitted through a MIX
    * of plain runs, `\'hh` cp1252 escapes, `\uN` escapes with planted
    * fallbacks that must be skipped, and formatting control words;
    * each document plants a font table, an ignorable destination, a
    * pict with `\bin` raw bytes (containing hostile braces), and a
    * bookmark comment.
    */
  def makeRtf(paras: Seq[String]): Array[Byte] = {
    val body = paras.map { p =>
      val sb = new StringBuilder
      p.zipWithIndex.foreach { case (ch, k) =>
        if (ch > 127) {
          // unicode escape with a '?' fallback (uc1 default)
          sb.append(s"\\u${if (ch >= 0x8000) ch.toInt - 65536 else ch.toInt}?")
        } else if (ch == '\\' || ch == '{' || ch == '}') {
          sb.append("\\").append(ch)
        } else if (k % 7 == 3 && ch < 127 && ch > 32) {
          sb.append(f"\\'${ch.toInt}%02x") // hex-escape every 7th char
        } else sb.append(ch)
      }
      s"{\\pard\\fs24 $sb\\par}"
    }.mkString("\n")
    val bin = Array[Byte]('{', '}', '\\', 0x01, '{', '{')
    val doc = new java.io.ByteArrayOutputStream()
    doc.write(("{\\rtf1\\ansi\\ansicpg1252\\deff0" +
      "{\\fonttbl{\\f0\\froman Times New Roman;}}" +
      "{\\colortbl;\\red0\\green0\\blue0;}" +
      "{\\*\\generator graft fixture;}" +
      "{\\info{\\title GHOST TITLE}}" +
      "{\\pict\\wmetafile8\\bin" + bin.length + " ").getBytes("ISO-8859-1"))
    doc.write(bin)
    doc.write(("}\n" + body + "}").getBytes("ISO-8859-1"))
    doc.toByteArray
  }
}
