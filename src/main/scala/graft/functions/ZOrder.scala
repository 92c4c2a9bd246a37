package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** Z-order (Morton) curve value for spatial clustering.
  *
  * Interleaving the bits of the quantized x/y coordinates makes rows that
  * are CLOSE IN SPACE also close in sort order, so a Z-range-partitioned
  * write produces files/row groups with TIGHT bounding boxes — which is
  * what turns `__bbox_<col>` min/max statistics (plans.SpatialFilterRule) from
  * decorative into selective: a spatial filter then skips most row groups
  * instead of scanning everything. This is the standard lakehouse
  * clustering move (Z-ordering) applied to the geo layer.
  *
  * One implementation, [[value]], serves both the driver (the Z values of
  * a write's sampled midpoints, from which the file split points come) and
  * the rows (the native [[ZOrderValue]] expression that [[zorder]] builds
  * calls it). The frame enters generated code as a reference object, so
  * two writes over different extents compile the same classes.
  */
object ZOrder {

  private val Bits = 21 // 21+21 interleaved bits fit a positive long
  private val Cells = ((1L << Bits) - 1).toDouble

  /** The extent the curve is quantized over. */
  final case class Frame(xmin: Double, ymin: Double, xmax: Double, ymax: Double)

  /** Morton code of (x, y) quantized over the frame into 2^21 cells per
    * axis. Out-of-range values clamp to the edge cells; clamping happens
    * in double space before the long conversion, so far-out inputs cannot
    * overflow. A NaN coordinate lands in cell 0, and so does every value
    * of a degenerate axis (hi <= lo, e.g. all points on one line).
    */
  def value(x: Double, y: Double, frame: Frame): Long =
    spread(quant(x, frame.xmin, frame.xmax)) | (spread(quant(y, frame.ymin, frame.ymax)) << 1)

  private def quant(v: Double, lo: Double, hi: Double): Long =
    if (hi <= lo) 0L
    else {
      val scaled = (v - lo) / (hi - lo) * Cells
      math.floor(math.min(math.max(if (scaled.isNaN) 0.0 else scaled, 0.0), Cells)).toLong
    }

  /** Spread the low 21 bits of `v` so consecutive bits land 2 apart
    * (classic 2D Morton magic-number sequence, 64-bit variant — verified
    * bit-for-bit against the loop interleave in ZOrderSpec).
    */
  private def spread(v: Long): Long = {
    var x = v & ((1L << Bits) - 1)
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    (x | (x << 1)) & 0x5555555555555555L
  }

  /** The Z value of (x, y) over [xmin,xmax]×[ymin,ymax], as [[value]]
    * computes it; null when either coordinate is null.
    */
  def zorder(x: Column, y: Column,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double): Column =
    GraftColumnBridge.column(ZOrderValue(GraftColumnBridge.expression(x),
      GraftColumnBridge.expression(y), Frame(xmin, ymin, xmax, ymax)))

  /** The range a Z value falls in among ascending split points, as
    * `RangePartitioner.getPartition` places a key: a value equal to bound
    * i goes to range i, one above every bound to the last range.
    */
  def rangeId(z: Long, bounds: Array[Long]): Int = {
    val i = java.util.Arrays.binarySearch(bounds, z)
    if (i >= 0) i else -i - 1
  }
}

/** Native [[ZOrder.value]] of two double columns. The frame is read from
  * the stage's reference array, not inlined, and stays out of the hash
  * (see plans.BoundParam), so a new extent reuses the compiled classes.
  */
case class ZOrderValue(left: Expression, right: Expression, frame: ZOrder.Frame)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder"
  override def hashCode(): Int = (getClass.getName, left, right).hashCode

  override protected def nullSafeEval(x: Any, y: Any): Any =
    ZOrder.value(x.asInstanceOf[Double], y.asInstanceOf[Double], frame)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = ctx.addReferenceObj("zFrame", frame, classOf[ZOrder.Frame].getName)
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.ZOrder.value($x, $y, $f)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrderValue =
    copy(left = newLeft, right = newRight)
}

/** [[ZOrder.rangeId]] of a Z value among a write's split points; a null Z
  * (null or empty geometry) is range 0, where range partitioning puts
  * nulls. The bounds are a reference object, out of the hash, as above.
  */
case class ZRangeId(child: Expression, bounds: Array[Long]) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "z_range_id"
  override def hashCode(): Int = (getClass.getName, child).hashCode

  override def eval(input: InternalRow): Any = {
    val z = child.eval(input)
    if (z == null) 0 else ZOrder.rangeId(z.asInstanceOf[Long], bounds)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("zBounds", bounds, "long[]")
    val z = child.genCode(ctx)
    ev.copy(code = code"""${z.code}
      |final int ${ev.value} = ${z.isNull} ? 0 : graft.functions.ZOrder.rangeId(${z.value}, $b);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ZRangeId =
    copy(child = newChild)
}
