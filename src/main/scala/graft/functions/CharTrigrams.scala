package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `char_trigrams(str)` — a streaming table generator emitting every
  * overlapping character trigram of `str`, one row (column `tri`) per
  * trigram, equivalent to
  * `explode(transform(sequence(1, length(t) - 2), i -> substring(t, i, 3)))`
  * but linear where the column-algebra chain is QUADRATIC: Spark's
  * `substring(t, i, 3)` re-scans the UTF-8 bytes from position 0 on every
  * call to locate character i (UTF8String.substring has no char index), so
  * a d-char document costs O(d²) byte reads — a 4 MB outlier document is
  * ~10¹³ operations, minutes of one task's CPU (found by the r7 stress
  * fixture). This generator walks the byte array ONCE, sliding four char
  * boundaries, and emits each trigram as a zero-copy slice view of the
  * backing array: O(d) time, O(1) state beyond the input row itself.
  *
  * Char semantics are identical to `substring`'s: positions count
  * codepoints via the same UTF8String lead-byte table, so multi-byte text
  * (the zh documents) produces byte-for-byte the trigrams the old
  * expression did. The generator streams through GenerateExec's iterator
  * path — trigram rows are consumed (and copied by whatever operator
  * buffers them, e.g. a hash aggregate) one at a time, never materialized
  * as a per-document array.
  */
case class CharTrigrams(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    new StructType().add("tri", StringType, nullable = false)

  override def prettyName: String = "char_trigrams"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input).asInstanceOf[UTF8String]
    if (t == null) Iterator.empty else CharTrigrams.iterate(t)
  }

  override protected def withNewChildInternal(newChild: Expression): CharTrigrams =
    copy(newChild)
}

object CharTrigrams {

  /** One-pass trigram iterator: o0..o3 are the byte offsets of four
    * consecutive character boundaries; each trigram is bytes [o0, o3).
    * `step` advances one codepoint using the same lead-byte width table
    * substring uses; past-the-end is pinned to len + 1 so truncated or
    * short inputs emit nothing rather than a partial slice.
    */
  def iterate(s: UTF8String): Iterator[InternalRow] = {
    val bytes = s.getBytes
    val len = bytes.length
    new Iterator[InternalRow] {
      private def step(o: Int): Int =
        if (o >= len) len + 1
        else o + UTF8String.numBytesForFirstByte(bytes(o))
      private var o0 = 0
      private var o1 = step(o0)
      private var o2 = step(o1)
      private var o3 = step(o2)
      override def hasNext: Boolean = o3 <= len
      override def next(): InternalRow = {
        val row = new GenericInternalRow(1)
        row.update(0, UTF8String.fromBytes(bytes, o0, o3 - o0))
        o0 = o1; o1 = o2; o2 = o3; o3 = step(o3)
        row
      }
    }
  }
}
