package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `pack_ascii8(str)` — the first 8 bytes of a string as a big-endian,
  * NUL-padded long whose numeric order equals the string's prefix order
  * (see Graft.packAsciiPrefix for why: a LongType aggregate buffer keeps
  * min/max on HashAggregate where a StringType buffer forces SortAggregate).
  *
  * This is the native form of the column-algebra chain
  * `conv(hex(encode(rpad(str, 8, NUL), 'UTF-8')), 16, 10)` — one branch-free
  * byte loop inside whole-stage codegen instead of four allocating string
  * functions per row (50 ms of single-task time over the sf0.1 documents
  * table, measured). Parity with the conv path includes the overflow case:
  * a first byte ≥ 0x80 (non-ASCII lead) would flip the long's sign and
  * break the ordering, so it returns NULL exactly where `cast(conv(...) as
  * long)` overflows to NULL.
  */
case class PackAscii8(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "pack_ascii8"

  override def nullSafeEval(input: Any): Any = {
    val v = PackAscii8.pack(input.asInstanceOf[UTF8String])
    if (v < 0) null else java.lang.Long.valueOf(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      long ${ev.value}_p = graft.functions.PackAscii8.pack($c);
      if (${ev.value}_p < 0) { ${ev.isNull} = true; } else { ${ev.value} = ${ev.value}_p; }
    """)

  override protected def withNewChildInternal(newChild: Expression): PackAscii8 =
    copy(newChild)
}

object PackAscii8 {

  /** Big-endian NUL-padded pack of the first min(8, len) bytes; -1 marks a
    * non-ASCII lead byte (caller maps to NULL). Bytes 2-8 may be ≥ 0x80:
    * UTF-8 byte order equals code-point order, so the packed ordering still
    * matches the string ordering as long as the sign bit stays clear.
    */
  def pack(s: UTF8String): Long = {
    val n = math.min(8, s.numBytes)
    if (n > 0 && (s.getByte(0) & 0x80) != 0) return -1L
    var bits = 0L
    var i = 0
    while (i < n) { bits = (bits << 8) | (s.getByte(i) & 0xffL); i += 1 }
    bits << (8 * (8 - n))
  }
}

/** `pack_upper_ascii8(str)` — fused `pack_ascii8(upper(substring(str,1,8)))`
  * for ASCII inputs: one walk over the first ≤8 bytes, ASCII-uppercasing in
  * the long register, zero intermediate allocations. The composed chain
  * materializes two UTF8Strings per row (substring copy, then toUpperCase
  * copy); on c27's 15 MB / 50k-row documents scan that per-row allocation is
  * the measured residual after the plan itself was fixed (NOTES_r8 §perf:
  * 133 ms data-only vs DuckDB's 46 ms with the composed chain).
  *
  * Envelope: returns NULL when ANY of the first min(8, numBytes) bytes is
  * non-ASCII (≥ 0x80). This is deliberately WIDER than the composed chain's
  * NULL (non-ASCII lead byte only): a multi-byte char inside the prefix
  * means byte-truncation and Unicode uppercasing could disagree with the
  * ASCII pack, so the fused form refuses rather than approximates. c27's
  * `__na` fail-loudly flag turns that NULL into a runtime error, which is
  * the correct behavior for an ASCII-preconditioned fast path — the query
  * documents the precondition and enforces it instead of silently
  * diverging. On ASCII input the two forms are bit-identical
  * (PropertySpec parity row).
  */
case class PackUpperAscii8(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "pack_upper_ascii8"

  override def nullSafeEval(input: Any): Any = {
    val v = PackUpperAscii8.packUpper(input.asInstanceOf[UTF8String])
    if (v < 0) null else java.lang.Long.valueOf(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      long ${ev.value}_p = graft.functions.PackUpperAscii8.packUpper($c);
      if (${ev.value}_p < 0) { ${ev.isNull} = true; } else { ${ev.value} = ${ev.value}_p; }
    """)

  override protected def withNewChildInternal(newChild: Expression): PackUpperAscii8 =
    copy(newChild)
}

object PackUpperAscii8 {

  /** Big-endian NUL-padded pack of the first min(8, len) bytes with ASCII
    * a-z → A-Z folding; -1 marks any non-ASCII byte in the walked prefix
    * (caller maps to NULL — see the case-class scaladoc for why the whole
    * prefix, not just the lead byte, gates the fast path).
    */
  def packUpper(s: UTF8String): Long = {
    val n = math.min(8, s.numBytes)
    var bits = 0L
    var i = 0
    while (i < n) {
      var b = s.getByte(i) & 0xff
      if (b >= 0x80) return -1L
      if (b >= 'a' && b <= 'z') b -= 32
      bits = (bits << 8) | b
      i += 1
    }
    bits << (8 * (8 - n))
  }
}
