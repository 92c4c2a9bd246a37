package graft.operators

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}

/** Deterministic canonical dataset hash (SURVEY.md §4.3 / §5.2): the
  * engine-side twin of the driver's oracle-compare canonicalization.
  *
  * Canonical form: columns sorted by name; each cell formatted by fixed
  * locale-independent rules (6dp doubles, ISO-µs UTC timestamps, `\N`
  * nulls, hex binaries, recursively for arrays/maps/structs); fields
  * joined with \x01. Rows are sorted by their canonical string (works for
  * ANY column type, including maps that SQL ORDER BY rejects) and indexed
  * globally; the dataset hash is the XOR of SHA-256(row_index \x02
  * row_string) over all rows.
  *
  * XOR of per-row digests makes the result independent of partition
  * layout and cluster width while the embedded global index keeps it
  * order-sensitive — a 100 TB table hashes with one sort, no driver-side
  * data movement (each partition XORs locally; the driver XORs the
  * per-partition accumulators).
  */
object Canonicalize {

  private val TsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS", java.util.Locale.ROOT)

  def formatCell(v: Any): String = v match {
    case null => "\\N"
    case d: Double => String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
    case f: Float => String.format(java.util.Locale.ROOT, "%.6f", Double.box(f.toDouble))
    case t: java.sql.Timestamp =>
      t.toInstant.atZone(java.time.ZoneOffset.UTC).format(TsFormat)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(formatCell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v2) => s"${formatCell(k)}=${formatCell(v2)}" }.toSeq.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(formatCell).mkString("(", ",", ")")
    case x => x.toString
  }

  /** Structural bytes (the 0x01 field separator and 0x02 index marker)
    * cannot collide with cell content: every literal backslash, 0x01 and
    * 0x02 byte inside a formatted cell is escaped first, so ("ab","c") and
    * ("a","bc") canonicalize differently and the backslash-N null marker
    * stays unambiguous.
    */
  private def escapeCell(s: String): String =
    s.replace("\\", "\\\\").replace("\u0001", "\\x01").replace("\u0002", "\\x02")

  def formatRow(r: Row): String =
    r.toSeq.map(v => escapeCell(formatCell(v))).mkString("\u0001")

  /** Layout-invariant, order-sensitive SHA-256-XOR hex digest of `df`. */
  def hash(df: DataFrame): String = {
    val cols = df.columns.sorted
    val projected = df.select(cols.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
    val canonical = projected.rdd.map(formatRow).sortBy(identity)
    val acc = canonical.zipWithIndex()
      .mapPartitions { rows =>
        val md = MessageDigest.getInstance("SHA-256")
        val xor = new Array[Byte](32)
        rows.foreach { case (s, idx) =>
          md.reset()
          md.update(idx.toString.getBytes("UTF-8"))
          md.update(2.toByte)
          md.update(s.getBytes("UTF-8"))
          val d = md.digest()
          var i = 0
          while (i < 32) { xor(i) = (xor(i) ^ d(i)).toByte; i += 1 }
        }
        Iterator(xor)
      }
      .fold(new Array[Byte](32)) { (a, b) =>
        val out = new Array[Byte](32)
        var i = 0
        while (i < 32) { out(i) = (a(i) ^ b(i)).toByte; i += 1 }
        out
      }
    acc.map("%02x".format(_)).mkString
  }
}
