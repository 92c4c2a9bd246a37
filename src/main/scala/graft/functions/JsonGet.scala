package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_json_get(json, key)` — top-level scalar extraction from a JSON
  * object as a single codegen'd byte scan, for hot paths where a full
  * Jackson parse (`from_json` / `get_json_object`) per row is the dominant
  * cost (c32: 239→~150 ms at sf0.1).
  *
  * Unlike a regex probe, this is a real (if minimal) JSON tokenizer: keys
  * and string values are lexed with escape handling, nested objects/arrays
  * are depth-skipped, so a `"k":` occurring inside a string VALUE can never
  * false-match. Semantics (pinned by JsonGetSpec):
  *   - string value  → its unescaped content
  *   - number / true / false → the raw token text
  *   - null literal, missing key, non-object input, malformed input → NULL
  *   - object / array value → its raw JSON text
  * get_json_object agrees on ALL of the above for string and integer
  * values, missing keys and JSON null (property-tested in JsonGetSpec).
  * Known deltas from get_json_object — this expression preserves the RAW
  * token where Jackson re-serializes: `2.5e3` stays `2.5e3` (not `2500.0`),
  * container text keeps its original whitespace, and on duplicate keys the
  * FIRST occurrence wins (get_json_object concatenates all matches). For
  * numeric extraction through try_cast — the c32 hot path — the forms are
  * equivalent; do not swap it under a query that compares float/container
  * extractions textually.
  */
case class JsonGetScalar(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_json_get"

  override def nullSafeEval(json: Any, key: Any): Any =
    JsonGetScalar.get(json.asInstanceOf[UTF8String], key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (j, k) => s"""
      ${ev.value} = graft.functions.JsonGetScalar.get($j, $k);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JsonGetScalar =
    copy(left = newLeft, right = newRight)
}

object JsonGetScalar {

  /** Executor-side static entry (also called from generated code). */
  def get(json: UTF8String, key: UTF8String): UTF8String = {
    if (json == null || key == null) return null
    scan(json.getBytes, key.getBytes)
  }

  private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'

  private def ws(b: Array[Byte], i0: Int): Int = {
    var i = i0
    while (i < b.length && isWs(b(i))) i += 1
    i
  }

  /** b(i0) == '"'. Returns the index AFTER the closing quote, or -1. */
  private def skipString(b: Array[Byte], i0: Int): Int = {
    var i = i0 + 1
    while (i < b.length) {
      val c = b(i)
      if (c == '\\') i += 2
      else if (c == '"') return i + 1
      else i += 1
    }
    -1
  }

  /** i0 at the first byte of a value. Returns its end (exclusive), or -1. */
  private def skipValue(b: Array[Byte], i0: Int): Int = {
    if (i0 >= b.length) return -1
    b(i0) match {
      case '"' => skipString(b, i0)
      case '{' | '[' =>
        var depth = 0
        var i = i0
        while (i < b.length) {
          val c = b(i)
          if (c == '"') {
            i = skipString(b, i)
            if (i < 0) return -1
          } else {
            if (c == '{' || c == '[') depth += 1
            else if (c == '}' || c == ']') {
              depth -= 1
              if (depth == 0) return i + 1
            }
            i += 1
          }
        }
        -1
      case _ =>
        var i = i0
        while (i < b.length && b(i) != ',' && b(i) != '}' && b(i) != ']' && !isWs(b(i))) i += 1
        if (i == i0) -1 else i
    }
  }

  /** Raw key span [s, e) (between the quotes) equals the target bytes? */
  private def keyEquals(b: Array[Byte], s: Int, e: Int, k: Array[Byte]): Boolean = {
    var hasEsc = false
    var i = s
    while (i < e && !hasEsc) { if (b(i) == '\\') hasEsc = true; i += 1 }
    if (!hasEsc)
      e - s == k.length && java.util.Arrays.equals(b, s, e, k, 0, k.length)
    else {
      val un = unescape(b, s, e)
      un != null && java.util.Arrays.equals(un.getBytes(java.nio.charset.StandardCharsets.UTF_8), k)
    }
  }

  /** JSON string-escape decoding of the span [s, e); null on malformed. */
  private def unescape(b: Array[Byte], s: Int, e: Int): String = {
    val raw = new String(b, s, e - s, java.nio.charset.StandardCharsets.UTF_8)
    if (raw.indexOf('\\') < 0) return raw
    val sb = new java.lang.StringBuilder(raw.length)
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c != '\\') { sb.append(c); i += 1 }
      else {
        if (i + 1 >= raw.length) return null
        raw.charAt(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/' => sb.append('/'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'u' =>
            if (i + 6 > raw.length) return null
            var h = 0
            var j = i + 2
            while (j < i + 6) {
              val d = Character.digit(raw.charAt(j), 16)
              if (d < 0) return null
              h = (h << 4) | d
              j += 1
            }
            sb.append(h.toChar) // surrogate pairs compose across two escapes
            i += 6
          case _ => return null
        }
      }
    }
    sb.toString
  }

  private val NullTok = Array[Byte]('n', 'u', 'l', 'l')

  private def extract(b: Array[Byte], s: Int, e: Int): UTF8String =
    if (b(s) == '"') {
      val un = unescape(b, s + 1, e - 1)
      if (un == null) null else UTF8String.fromString(un)
    } else if (e - s == 4 && java.util.Arrays.equals(b, s, e, NullTok, 0, 4)) {
      null // JSON null literal → SQL NULL
    } else {
      UTF8String.fromBytes(b, s, e - s)
    }

  private def scan(b: Array[Byte], k: Array[Byte]): UTF8String = {
    var i = ws(b, 0)
    if (i >= b.length || b(i) != '{') return null
    i = ws(b, i + 1)
    if (i < b.length && b(i) == '}') return null
    while (i < b.length) {
      if (b(i) != '"') return null
      val keyStart = i + 1
      val afterKey = skipString(b, i)
      if (afterKey < 0) return null
      val hit = keyEquals(b, keyStart, afterKey - 1, k)
      i = ws(b, afterKey)
      if (i >= b.length || b(i) != ':') return null
      i = ws(b, i + 1)
      val vEnd = skipValue(b, i)
      if (vEnd < 0) return null
      if (hit) return extract(b, i, vEnd)
      i = ws(b, vEnd)
      if (i >= b.length) return null
      if (b(i) == ',') i = ws(b, i + 1)
      else return null // '}' (key absent) or malformed
    }
    null
  }
}
