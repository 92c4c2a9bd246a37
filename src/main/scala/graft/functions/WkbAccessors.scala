package graft.functions

import graft.GeoFunctions
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** Native codegen'd WKB point accessors (SURVEY.md §4.3 "UDF opacity fix":
  * the hot geometry scalars graduate from Scala UDFs to Expressions).
  *
  * Fast path: a 2D WKB Point is 21 fixed bytes — [byte order][uint32 type]
  * [x double][y double] — decoded with raw byte arithmetic inside
  * whole-stage codegen, no JTS object, no UDF serialization. Any other
  * geometry type (or SRID-bearing EWKB) falls back to the JTS coordinate
  * read via a static call. Semantics identical to the st_x/st_y UDFs
  * (first coordinate, per JTS Geometry.getCoordinate).
  */
abstract class WkbCoordinate extends UnaryExpression {
  protected def offsetInPoint: Int // 5 for x, 13 for y

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects WKB binary, got ${child.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    WkbCoordinate.read(b, offsetInPoint)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val bits = ctx.freshName("bits")
      val i = ctx.freshName("i")
      val o = ctx.freshName("o")
      s"""
        if ($b.length == 21 && ($b[0] == 0 || $b[0] == 1)
            && graft.functions.WkbCoordinate.typeOf($b) == 1) {
          int $o = $offsetInPoint;
          long $bits = 0L;
          if ($b[0] == 1) { // little-endian
            for (int $i = 7; $i >= 0; $i--) $bits = ($bits << 8) | ($b[$o + $i] & 0xffL);
          } else {
            for (int $i = 0; $i < 8; $i++) $bits = ($bits << 8) | ($b[$o + $i] & 0xffL);
          }
          ${ev.value} = java.lang.Double.longBitsToDouble($bits);
        } else {
          ${ev.value} = graft.functions.WkbCoordinate.slow($b, $offsetInPoint);
        }
      """
    })
}

object WkbCoordinate {
  /** uint32 geometry type honoring the byte-order flag. */
  def typeOf(b: Array[Byte]): Int =
    if (b(0) == 1)
      (b(1) & 0xff) | ((b(2) & 0xff) << 8) | ((b(3) & 0xff) << 16) | ((b(4) & 0xff) << 24)
    else
      (b(4) & 0xff) | ((b(3) & 0xff) << 8) | ((b(2) & 0xff) << 16) | ((b(1) & 0xff) << 24)

  /** Endian-aware raw double read (byte-order flag at b(0)); shared by the
    * accessor and distance fast paths.
    */
  def rawDouble(b: Array[Byte], offset: Int): Double = {
    var bits = 0L
    if (b(0) == 1) { var i = 7; while (i >= 0) { bits = (bits << 8) | (b(offset + i) & 0xffL); i -= 1 } }
    else { var i = 0; while (i < 8) { bits = (bits << 8) | (b(offset + i) & 0xffL); i += 1 } }
    java.lang.Double.longBitsToDouble(bits)
  }

  def read(b: Array[Byte], offset: Int): Double =
    if (b.length == 21 && (b(0) == 0 || b(0) == 1) && typeOf(b) == 1)
      rawDouble(b, offset)
    else slow(b, offset)

  /** JTS fallback for non-point / EWKB inputs (executor-side static). */
  def slow(b: Array[Byte], offset: Int): Double = {
    val c = GeoFunctions.fromWkb(b).getCoordinate
    if (offset == 5) c.x else c.y
  }
}

case class StX(child: Expression) extends WkbCoordinate {
  override protected def offsetInPoint: Int = 5
  override def prettyName: String = "st_x"
  override protected def withNewChildInternal(newChild: Expression): StX = copy(newChild)
}

case class StY(child: Expression) extends WkbCoordinate {
  override protected def offsetInPoint: Int = 13
  override def prettyName: String = "st_y"
  override protected def withNewChildInternal(newChild: Expression): StY = copy(newChild)
}

/** Native point CONSTRUCTOR: 21 bytes assembled directly — byte-identical
  * to the engine's canonical JTS writer (`WKBWriter(2, 2, false)`:
  * little-endian, 2D, no SRID; GeoFunctionsSpec asserts parity), so
  * natively-built points hash the same as every other WKB in the engine.
  * With StDistanceExpr this takes the b18 scored join fully off ScalaUDFs.
  */
case class StMakePoint(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def prettyName: String = "st_point"
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(x: Any, y: Any): Any =
    StMakePoint.make(x.asInstanceOf[Double], y.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.StMakePoint.make($x, $y);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): StMakePoint =
    copy(l, r)
}

object StMakePoint {
  def make(x: Double, y: Double): Array[Byte] = {
    val b = new Array[Byte](21)
    b(0) = 1 // little-endian flag
    b(1) = 1 // geometry type 1 = Point (uint32 LE; bytes 2-4 stay zero)
    putDoubleLE(b, 5, x)
    putDoubleLE(b, 13, y)
    b
  }

  private def putDoubleLE(b: Array[Byte], offset: Int, v: Double): Unit = {
    val bits = java.lang.Double.doubleToLongBits(v)
    var i = 0
    while (i < 8) { b(offset + i) = ((bits >>> (8 * i)) & 0xff).toByte; i += 1 }
  }
}
