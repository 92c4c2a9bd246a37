package graft.functions

import graft.GeoFunctions
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, DoubleType}

/** Native st_distance / st_dwithin over WKB (SURVEY.md §4.3; the last two
  * geometry scalars on a declared hot path — b18's scored KNN join ranks
  * every (point, query) pair by st_distance, and b06 filters on both).
  *
  * Fast path: both operands are 21-byte 2D WKB points (the overwhelmingly
  * common case in point datasets) → four raw byte-order-aware double reads
  * and one hypot, no JTS objects at all. Anything else falls back to JTS
  * `Geometry.distance` / `isWithinDistance` (the latter short-circuits on
  * envelope separation rather than computing the exact distance — verdict
  * identical to distance <= r). Evaluation stays inside whole-stage
  * codegen via a static call, replacing the last ScalaUDFs in those plans.
  */
object WkbDistance {

  private def isPoint(b: Array[Byte]): Boolean =
    b.length == 21 && (b(0) == 0 || b(0) == 1) && WkbCoordinate.typeOf(b) == 1

  // shared endian-aware double read (one definition for all byte paths)
  private def readD(b: Array[Byte], offset: Int): Double =
    WkbCoordinate.rawDouble(b, offset)

  /** Executor-side static (also called from generated code). */
  def dist(a: Array[Byte], b: Array[Byte]): Double =
    if (isPoint(a) && isPoint(b)) {
      val dx = readD(a, 5) - readD(b, 5)
      val dy = readD(a, 13) - readD(b, 13)
      math.sqrt(dx * dx + dy * dy)
    } else GeoFunctions.fromWkb(a).distance(GeoFunctions.fromWkb(b))

  /** Executor-side static (also called from generated code). sqrt-compare,
    * not square-compare: boundary verdicts must match JTS and any oracle
    * computing `sqrt(...) <= r` (squaring can flip ties by an ulp).
    */
  def within(a: Array[Byte], b: Array[Byte], r: Double): Boolean =
    if (isPoint(a) && isPoint(b)) {
      val dx = readD(a, 5) - readD(b, 5)
      val dy = readD(a, 13) - readD(b, 13)
      math.sqrt(dx * dx + dy * dy) <= r
    } else GeoFunctions.fromWkb(a).isWithinDistance(GeoFunctions.fromWkb(b), r)
}

case class StDistanceExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "st_distance"
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    WkbDistance.dist(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.WkbDistance.dist($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): StDistanceExpr =
    copy(l, r)
}

case class StDWithinExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "st_dwithin"
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType, DoubleType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any, r: Any): Any =
    WkbDistance.within(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]],
      r.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, r) =>
      s"${ev.value} = graft.functions.WkbDistance.within($a, $b, $r);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): StDWithinExpr =
    copy(f, s, t)
}
