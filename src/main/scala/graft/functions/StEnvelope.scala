package graft.functions

import graft.GeoFunctions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Native envelope of a WKB geometry: struct<xmin,ymin,xmax,ymax> computed
  * by a single pass over the raw bytes — no JTS geometry materialization,
  * no UDF row conversion (SURVEY.md §4.3: hot geometry scalars graduate
  * from Scala UDFs to Expressions; st_x/st_y set the pattern, this is the
  * next-hottest scalar — it sits under every __bbox_<col> covering column write
  * and every spatial-filter rewrite).
  *
  * The byte walker handles the complete 2D WKB grammar (Point, LineString,
  * Polygon, MultiPoint, MultiLineString, MultiPolygon, GeometryCollection,
  * either endianness, mixed per-component byte order). Anything else —
  * EWKB flags, Z/M dimensions — falls back to JTS, keeping semantics
  * identical to the st_envelope UDF.
  */
case class StEnvelope(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects WKB binary, got ${child.dataType.simpleString}")

  override def dataType: DataType = StEnvelope.schema
  override def nullable: Boolean = true
  override def prettyName: String = "st_envelope"

  override def nullSafeEval(input: Any): Any =
    StEnvelope.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      // compute() returns null for empty geometries (JTS null envelope) —
      // propagate it into isNull or downstream UnsafeProjection NPEs
      s"""${ev.value} = graft.functions.StEnvelope.compute($b);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): StEnvelope =
    copy(newChild)
}

object StEnvelope {

  val schema: StructType = StructType(Seq(
    StructField("xmin", DoubleType), StructField("ymin", DoubleType),
    StructField("xmax", DoubleType), StructField("ymax", DoubleType)))

  /** Single-pass byte-walk envelope; JTS fallback for non-2D-WKB input. */
  def compute(b: Array[Byte]): InternalRow = {
    val acc = Array(Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)
    val ok =
      try walk(b, 0, acc) > 0 && acc(0) <= acc(2)
      catch { case _: IndexOutOfBoundsException => false }
    if (ok) new GenericInternalRow(Array[Any](acc(0), acc(1), acc(2), acc(3)))
    else slow(b)
  }

  /** Walks one geometry starting at `pos`; returns the position after it,
    * or -1 for grammar we do not own (EWKB/Z/M → JTS fallback). Updates
    * `acc` = [xmin, ymin, xmax, ymax] in place.
    */
  private def walk(b: Array[Byte], pos0: Int, acc: Array[Double]): Int = {
    var pos = pos0
    val little = b(pos) match {
      case 1 => true
      case 0 => false
      case _ => return -1
    }
    pos += 1
    val gtype = u32(b, pos, little)
    pos += 4
    if (gtype < 1 || gtype > 7) return -1 // EWKB flags / Z / M / unknown

    def coord(): Unit = {
      val x = dbl(b, pos, little); val y = dbl(b, pos + 8, little)
      pos += 16
      if (x < acc(0)) acc(0) = x
      if (y < acc(1)) acc(1) = y
      if (x > acc(2)) acc(2) = x
      if (y > acc(3)) acc(3) = y
    }

    gtype match {
      case 1 => coord() // Point
      case 2 => // LineString
        val n = u32(b, pos, little); pos += 4
        var i = 0; while (i < n) { coord(); i += 1 }
      case 3 => // Polygon
        val rings = u32(b, pos, little); pos += 4
        var r = 0
        while (r < rings) {
          val n = u32(b, pos, little); pos += 4
          var i = 0; while (i < n) { coord(); i += 1 }
          r += 1
        }
      case 4 | 5 | 6 | 7 => // Multi* / GeometryCollection: nested headers
        val n = u32(b, pos, little); pos += 4
        var i = 0
        while (i < n) {
          pos = walk(b, pos, acc)
          if (pos < 0) return -1
          i += 1
        }
    }
    pos
  }

  private def u32(b: Array[Byte], o: Int, little: Boolean): Int =
    if (little)
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    else
      (b(o + 3) & 0xff) | ((b(o + 2) & 0xff) << 8) | ((b(o + 1) & 0xff) << 16) | ((b(o) & 0xff) << 24)

  private def dbl(b: Array[Byte], o: Int, little: Boolean): Double = {
    var bits = 0L
    if (little) { var i = 7; while (i >= 0) { bits = (bits << 8) | (b(o + i) & 0xffL); i -= 1 } }
    else { var i = 0; while (i < 8) { bits = (bits << 8) | (b(o + i) & 0xffL); i += 1 } }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** JTS fallback (EWKB, Z/M, malformed-but-JTS-readable). */
  def slow(b: Array[Byte]): InternalRow = {
    val e = GeoFunctions.fromWkb(b).getEnvelopeInternal
    if (e.isNull) null
    else new GenericInternalRow(Array[Any](e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
  }
}
