package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}

/** A planner-chosen double or float (a grid cell, a `st_dwithin` radius, a
  * covering-range bound) that the generated code reads from the stage's
  * reference array instead of inlining as a Java constant. Two plans that
  * differ only in the value then produce the same source, so Spark's
  * codegen cache hits and nothing recompiles. Non-foldable, so
  * ConstantFolding cannot turn it back into a `Literal`; deterministic, so
  * it is otherwise treated like one. It prints as the bare value, so plan
  * text reads as it would with the literal.
  *
  * A `FloatType` param holds its float widened to double, which is exact,
  * and narrows it back when read, so its value is the float bit for bit.
  */
case class BoundParam(value: Double, dataType: DataType = DoubleType) extends LeafExpression {
  require(dataType == DoubleType ||
      (dataType == FloatType && java.lang.Double.compare(value.toFloat.toDouble, value) == 0),
    s"BoundParam holds a double or a float, got $value: $dataType")

  private def literal: Literal =
    if (dataType == FloatType) Literal(value.toFloat) else Literal(value)

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any =
    if (dataType == FloatType) value.toFloat else value
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  // the value stays out of the hash too: subexpression elimination orders
  // equal-height candidates by hash, so a value-dependent hash would
  // reorder the generated functions and change the source after all
  override def hashCode(): Int = getClass.getName.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("boundParam", java.lang.Double.valueOf(value), "java.lang.Double")
    val read = if (dataType == FloatType) s"(float) $ref.doubleValue()" else s"$ref.doubleValue()"
    ev.copy(code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $read;", isNull = FalseLiteral)
  }
}
