package graft.functions

import graft.GeoFunctions
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType}
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}

/** Native spatial predicates over WKB (SURVEY.md §4.3, the follow-on to
  * st_x/st_y/st_envelope): st_intersects / st_contains / st_within /
  * st_disjoint as catalyst Expressions.
  *
  * Two wins over the Scala UDF form:
  *  - when one side is a LITERAL geometry (the dominant filter shape —
  *    "rows intersecting this region"), it is parsed ONCE per expression
  *    instance and wrapped in a JTS PreparedGeometry, whose cached edge
  *    index makes repeated point/region tests several times faster than
  *    re-evaluating Geometry.intersects per row;
  *  - evaluation stays inside whole-stage codegen via a reference-object
  *    call — no UDF wrapper, no per-row catalyst<->Scala conversion.
  *
  * plans.SpatialFilterRule matches these nodes as well as the UDF form,
  * so __bbox pushdown fires whichever API built the predicate.
  */
abstract class WkbPredicate extends BinaryExpression with ImplicitCastInputTypes {

  /** JTS relation on materialized geometries (slow path). */
  protected def relate(a: Geometry, b: Geometry): Boolean
  /** Relation when the RIGHT operand is the prepared literal. */
  protected def relateRightPrepared(prepRight: PreparedGeometry, left: Geometry): Boolean
  /** Relation when the LEFT operand is the prepared literal. */
  protected def relateLeftPrepared(prepLeft: PreparedGeometry, right: Geometry): Boolean

  // NullType implicit-casts to binary, so st_intersects(g, NULL) stays a
  // NULL verdict (the UDF form's behavior) instead of an analysis error.
  // (Seq[DataType] narrows ExpectsInputTypes' Seq[AbstractDataType] —
  // AbstractDataType itself is not visible outside the sql package.)
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  // One prepared geometry per expression instance for whichever operand is
  // a literal; built lazily on the executor after serialization.
  @transient private lazy val preparedRight: PreparedGeometry = prep(right)
  @transient private lazy val preparedLeft: PreparedGeometry = prep(left)
  private def prep(e: Expression): PreparedGeometry = e match {
    case Literal(b: Array[Byte], BinaryType) if b != null =>
      PreparedGeometryFactory.prepare(GeoFunctions.fromWkb(b))
    case _ => null
  }

  /** Called from generated code and from nullSafeEval. */
  def evalPredicate(a: Array[Byte], b: Array[Byte]): Boolean = {
    val pr = preparedRight
    if (pr != null) return relateRightPrepared(pr, GeoFunctions.fromWkb(a))
    val pl = preparedLeft
    if (pl != null) return relateLeftPrepared(pl, GeoFunctions.fromWkb(b))
    relate(GeoFunctions.fromWkb(a), GeoFunctions.fromWkb(b))
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    evalPredicate(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wkbPred", this, classOf[WkbPredicate].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.evalPredicate($a, $b);")
  }
}

case class StIntersectsExpr(left: Expression, right: Expression) extends WkbPredicate {
  override def prettyName: String = "st_intersects"
  override protected def relate(a: Geometry, b: Geometry): Boolean = a.intersects(b)
  override protected def relateRightPrepared(p: PreparedGeometry, l: Geometry): Boolean =
    p.intersects(l) // symmetric relation
  override protected def relateLeftPrepared(p: PreparedGeometry, r: Geometry): Boolean =
    p.intersects(r)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class StDisjointExpr(left: Expression, right: Expression) extends WkbPredicate {
  override def prettyName: String = "st_disjoint"
  override protected def relate(a: Geometry, b: Geometry): Boolean = a.disjoint(b)
  override protected def relateRightPrepared(p: PreparedGeometry, l: Geometry): Boolean =
    p.disjoint(l) // symmetric
  override protected def relateLeftPrepared(p: PreparedGeometry, r: Geometry): Boolean =
    p.disjoint(r)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** contains(a, b): a contains b. Prepared orientation: JTS
  * PreparedGeometry methods read as `p REL arg`, so a prepared LEFT
  * container tests p.contains(r) directly, and a prepared RIGHT containee
  * tests p.within(l) (right within left ⟺ left contains right).
  */
case class StContainsExpr(left: Expression, right: Expression) extends WkbPredicate {
  override def prettyName: String = "st_contains"
  override protected def relate(a: Geometry, b: Geometry): Boolean = a.contains(b)
  override protected def relateRightPrepared(p: PreparedGeometry, l: Geometry): Boolean =
    p.within(l)
  override protected def relateLeftPrepared(p: PreparedGeometry, r: Geometry): Boolean =
    p.contains(r) // the dominant filter shape: st_contains(lit(region), g)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

case class StWithinExpr(left: Expression, right: Expression) extends WkbPredicate {
  override def prettyName: String = "st_within"
  override protected def relate(a: Geometry, b: Geometry): Boolean = a.within(b)
  override protected def relateRightPrepared(p: PreparedGeometry, l: Geometry): Boolean =
    p.contains(l) // left within right ⟺ right contains left
  override protected def relateLeftPrepared(p: PreparedGeometry, r: Geometry): Boolean =
    p.within(r)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}
