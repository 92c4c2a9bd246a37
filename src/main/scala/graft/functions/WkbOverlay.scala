package graft.functions

import graft.GeoFunctions
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  ImplicitCastInputTypes, Literal, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType}
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.io.WKBWriter

/** Native geometry-constructing expressions over WKB (SURVEY.md §2 B12-B14,
  * B16) — buffer, convex hull, union, intersection and the SRID accessors
  * as catalyst Expressions with the JTS computational kernel.
  *
  * These are the cold-path cousins of WkbPredicates: the JTS overlay
  * machinery does the real work (discretized buffers, overlay graphs — not
  * re-implementable byte arithmetic), so "native" here buys the same two
  * wins as the predicate conversion, not a new kernel:
  *  - evaluation stays inside whole-stage codegen via a reference-object
  *    call — no ScalaUDF wrapper, no per-row catalyst<->Scala converters,
  *    no codegen-span break in a pipeline that mixes these with hot
  *    expressions;
  *  - a LITERAL operand (the dominant shapes: clip every row to this
  *    region, `st_intersection(geom, lit(tile))`; union against a fixed
  *    mask) is decoded from WKB ONCE per expression instance instead of
  *    once per row.
  */
abstract class WkbBinaryGeomExpr extends BinaryExpression with ImplicitCastInputTypes {

  protected def kernel(a: Geometry, b: Geometry): Geometry

  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  // decode a literal operand once per expression instance (executor-lazy)
  @transient private lazy val litLeft: Geometry = decodeLit(left)
  @transient private lazy val litRight: Geometry = decodeLit(right)
  private def decodeLit(e: Expression): Geometry = e match {
    case Literal(b: Array[Byte], BinaryType) if b != null => GeoFunctions.fromWkb(b)
    case _ => null
  }

  /** Called from generated code and from nullSafeEval. */
  def evalGeom(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val ga = if (litLeft != null) litLeft else GeoFunctions.fromWkb(a)
    val gb = if (litRight != null) litRight else GeoFunctions.fromWkb(b)
    GeoFunctions.toWkb(kernel(ga, gb))
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    evalGeom(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wkbGeom", this, classOf[WkbBinaryGeomExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.evalGeom($a, $b);")
  }
}

/** B14 st_union. */
case class StUnionExpr(left: Expression, right: Expression) extends WkbBinaryGeomExpr {
  override def prettyName: String = "st_union"
  override protected def kernel(a: Geometry, b: Geometry): Geometry = a.union(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** B14 st_intersection (the clip-to-region shape). */
case class StIntersectionExpr(left: Expression, right: Expression) extends WkbBinaryGeomExpr {
  override def prettyName: String = "st_intersection"
  override protected def kernel(a: Geometry, b: Geometry): Geometry = a.intersection(b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** B12 st_buffer(geom, dist) — JTS default quadrant discretization, same
  * bytes as the UDF form (GOLDEN-tier semantics unchanged).
  */
case class StBufferExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "st_buffer"
  override def inputTypes: Seq[DataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  def evalBuffer(b: Array[Byte], d: Double): Array[Byte] =
    GeoFunctions.toWkb(GeoFunctions.fromWkb(b).buffer(d))

  override def nullSafeEval(b: Any, d: Any): Any =
    evalBuffer(b.asInstanceOf[Array[Byte]], d.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stBuffer", this, classOf[StBufferExpr].getName)
    nullSafeCodeGen(ctx, ev, (b, d) => s"${ev.value} = $ref.evalBuffer($b, $d);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** B12 st_buffer(geom, dist, quadSegments) — the PostGIS 3-arg form.
  * quadSegments controls the arc discretization (segments per circle
  * quadrant); qs = 1 turns a point buffer into its closed-form diamond
  * (vertices on the axes, area 2d², perimeter 4d√2), the degenerate
  * case the b25 oracle pins while full discretization stays GOLDEN.
  */
case class StBuffer3Expr(first: Expression, second: Expression,
    third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "st_buffer"
  override def inputTypes: Seq[DataType] = Seq(BinaryType, DoubleType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  def evalBuffer(b: Array[Byte], d: Double, qs: Int): Array[Byte] =
    GeoFunctions.toWkb(GeoFunctions.fromWkb(b).buffer(d, qs))

  override def nullSafeEval(b: Any, d: Any, q: Any): Any =
    evalBuffer(b.asInstanceOf[Array[Byte]], d.asInstanceOf[Double],
      q.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stBuffer3", this, classOf[StBuffer3Expr].getName)
    nullSafeCodeGen(ctx, ev, (b, d, q) => s"${ev.value} = $ref.evalBuffer($b, $d, $q);")
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): StBuffer3Expr = copy(f, s, t)
}

/** B13 st_convexhull. */
case class StConvexHullExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "st_convexhull"
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  def evalHull(b: Array[Byte]): Array[Byte] =
    GeoFunctions.toWkb(GeoFunctions.fromWkb(b).convexHull())

  override def nullSafeEval(b: Any): Any = evalHull(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stHull", this, classOf[StConvexHullExpr].getName)
    nullSafeCodeGen(ctx, ev, b => s"${ev.value} = $ref.evalHull($b);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** B16 st_srid — reads the EWKB SRID flag (0 for canonical no-SRID WKB). */
case class StSridExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "st_srid"
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  def evalSrid(b: Array[Byte]): Int = GeoFunctions.fromWkb(b).getSRID

  override def nullSafeEval(b: Any): Any = evalSrid(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stSrid", this, classOf[StSridExpr].getName)
    nullSafeCodeGen(ctx, ev, b => s"${ev.value} = $ref.evalSrid($b);")
  }
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** B16 st_setsrid — EWKB re-encode (includes the SRID word) so st_srid
  * round-trips; canonical no-SRID WKB everywhere else stays stable for
  * hashing (GeoFunctions scaladoc).
  */
case class StSetSridExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "st_setsrid"
  override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  def evalSetSrid(b: Array[Byte], srid: Int): Array[Byte] = {
    val g = GeoFunctions.fromWkb(b)
    g.setSRID(srid)
    new WKBWriter(2, 2, true).write(g)
  }

  override def nullSafeEval(b: Any, s: Any): Any =
    evalSetSrid(b.asInstanceOf[Array[Byte]], s.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stSetSrid", this, classOf[StSetSridExpr].getName)
    nullSafeCodeGen(ctx, ev, (b, s) => s"${ev.value} = $ref.evalSetSrid($b, $s);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** st_transform(geom, srcSrid, dstSrid) — bounded CRS reprojection
  * (NOTES_r11 decision memo): spherical lon/lat (EPSG:4326, axis order
  * lon,lat — the GeoJSON/WKB convention this engine stores) ↔ Web
  * Mercator (EPSG:3857), the pair that covers the overwhelming share of
  * web/tile workloads. The spherical forward is x = R·λrad,
  * y = R·ln(tan(π/4 + φrad/2)) with R = 6378137 (the WGS84 semi-major
  * axis — 3857 is DEFINED on the sphere, so this is exact, not an
  * approximation); the inverse is its closed-form mirror. Any other CRS
  * pair throws loudly — a silent null would let a mixed-CRS corpus
  * "succeed" with wrong coordinates, the confident-garbage the decoder
  * envelope forbids. The output carries the destination SRID in EWKB so
  * st_srid composes. Same-SRID calls are the identity plus SRID stamp.
  */
case class StTransformExpr(first: Expression, second: Expression,
    third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "st_transform"
  override def inputTypes: Seq[DataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  private val R = 6378137.0

  def evalTransform(b: Array[Byte], from: Int, to: Int): Array[Byte] = {
    val g = GeoFunctions.fromWkb(b)
    if (from != to) {
      val filter: org.locationtech.jts.geom.CoordinateFilter = (from, to) match {
        case (4326, 3857) => c => {
          c.x = R * math.toRadians(c.x)
          c.y = R * math.log(math.tan(math.Pi / 4 + math.toRadians(c.y) / 2))
        }
        case (3857, 4326) => c => {
          c.x = math.toDegrees(c.x / R)
          c.y = math.toDegrees(2 * math.atan(math.exp(c.y / R)) - math.Pi / 2)
        }
        case _ => throw new IllegalArgumentException(
          s"st_transform: unsupported CRS pair $from -> $to (supported: 4326 <-> 3857)")
      }
      g.apply(filter)
      g.geometryChanged()
    }
    g.setSRID(to)
    new WKBWriter(2, 2, true).write(g)
  }

  override def nullSafeEval(b: Any, f: Any, t: Any): Any =
    evalTransform(b.asInstanceOf[Array[Byte]], f.asInstanceOf[Int],
      t.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stTransform", this, classOf[StTransformExpr].getName)
    nullSafeCodeGen(ctx, ev, (b, f, t) => s"${ev.value} = $ref.evalTransform($b, $f, $t);")
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): StTransformExpr = copy(f, s, t)
}
