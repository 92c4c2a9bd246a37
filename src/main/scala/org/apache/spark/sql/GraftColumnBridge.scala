package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the sql package for building `Column`s from native catalyst
  * Expressions (Spark 4 made `ExpressionUtils` private[sql]; extension
  * libraries conventionally expose this one hop). Used by graft's native
  * expressions (StEnvelope & co.) to offer a Column API without a session
  * registry round-trip.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an analyzed LogicalPlan as a DataFrame (Dataset.ofRows is
    * private[sql]) — used by optimizer rules that rebuild a subtree with
    * the DataFrame API (plans.SpatialJoinRule).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Arity and function builder of the ScalaUDF node that
    * `spark.udf.register(name, f)` installs (graft.GraftExtensions lists
    * its scalar UDFs through this, so no session is needed to build them).
    */
  def scalaUdf(name: String,
      f: expressions.UserDefinedFunction): (Int, Seq[Expression] => Expression) = {
    val named = f.withName(name).asInstanceOf[expressions.SparkUserDefinedFunction]
    (named.inputEncoders.size,
      es => classic.UserDefinedFunctionUtils.toScalaUDF(named, es))
  }
}
