package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two `array<float>`
  * embedding columns (SURVEY.md §4.3 — hot scalar ops graduate from UDF/HOF
  * composition to `Expression` with `doGenCode`).
  *
  * One fused loop accumulates dot product and both norms; the SQL
  * higher-order-function formulation (aggregate ∘ zip_with, E3) traverses
  * the arrays three times and allocates a zipped intermediate per row.
  * Accumulation order per accumulator is the same sequential fold, so
  * results are bit-identical to the HOF version and to the DuckDB oracle.
  *
  * Stays inside whole-stage codegen: `doGenCode` emits a plain Java loop
  * over the unsafe array data — no boxing, no lambda dispatch.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def isFloatArray(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  // Zero-norm vectors yield NULL, not NaN: 0/0 is NULL in the DuckDB
  // oracle's arithmetic, NULL sorts/filters consistently on both engines,
  // and NaN would poison top-k ordering (NaN ranks first on DESC in Spark).
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $nx = 0.0, $ny = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $x = (double) $a.getFloat($i);
          double $y = (double) $b.getFloat($i);
          $dot += $x * $y; $nx += $x * $x; $ny += $y * $y;
        }
        if ($nx == 0.0 || $ny == 0.0) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
