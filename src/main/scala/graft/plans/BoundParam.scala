package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType}

/** A planner-chosen double (a grid cell, a `st_dwithin` radius) that the
  * generated code reads from the stage's reference array instead of
  * inlining as a Java constant. Two plans that differ only in the value
  * then produce the same source, so Spark's codegen cache hits and nothing
  * recompiles. Non-foldable, so ConstantFolding cannot turn it back into a
  * `Literal`; deterministic, so it is otherwise treated like one. It prints
  * as the bare value, so plan text reads as it would with the literal.
  */
case class BoundParam(value: Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = value.toString
  override def sql: String = Literal(value).sql
  // the value stays out of the hash too: subexpression elimination orders
  // equal-height candidates by hash, so a value-dependent hash would
  // reorder the generated functions and change the source after all
  override def hashCode(): Int = getClass.getName.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("boundParam", java.lang.Double.valueOf(value), "java.lang.Double")
    ev.copy(code = code"final double ${ev.value} = $ref.doubleValue();", isNull = FalseLiteral)
  }
}
