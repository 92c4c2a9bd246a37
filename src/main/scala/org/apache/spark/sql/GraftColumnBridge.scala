package org.apache.spark.sql

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag
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
    * private[sql]) — used by the broadcast route of plans.SpatialJoinRule,
    * which builds and probes its index through the DataFrame API.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The physical plan of an already optimized LogicalPlan, ready to
    * execute (QueryExecution.prepareExecutedPlan is private[sql]). No
    * Dataset, no re-analysis and no SQL execution: plans.SpatialJoinRule
    * collects its cell sample through it at planning time.
    */
  def executedPlan(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): execution.SparkPlan =
    execution.QueryExecution.prepareExecutedPlan(spark.asInstanceOf[classic.SparkSession], plan)

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

  /** `RangePartitioner`'s per-partition sampler (private[spark]): a
    * reservoir sample of at most `k` items and the count of all of them.
    */
  def reservoirSampleAndCount[T: ClassTag](items: Iterator[T], k: Int,
      seed: Long): (Array[T], Long) =
    org.apache.spark.util.random.SamplingUtils.reservoirSampleAndCount(items, k, seed)

  /** `RangePartitioner`'s split points (private[spark]): at most
    * `partitions - 1` ascending, distinct bounds that cut the weighted
    * candidates into ranges of about equal weight.
    */
  def determineBounds(candidates: ArrayBuffer[(Long, Float)], partitions: Int): Array[Long] =
    org.apache.spark.RangePartitioner.determineBounds(candidates, partitions)
}
