package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Plans a file scan filtered on a bbox covering column
  * ([[SpatialFilterRule]]'s range conjuncts, or the user's own) so that a
  * new query box neither recompiles the generated filter nor opens files
  * its box cannot touch. It plans the scan with Spark's own
  * `FileSourceStrategy` and then changes two things in the result:
  *
  *  - the covering-range bounds in the `FilterExec` above the scan become
  *    [[BoundParam]]s, which the generated code reads from its reference
  *    array, so two queries that differ only in their box share one
  *    compiled class. The scan's `dataFilters` and `PushedFilters` keep
  *    their literals, so parquet row-group pushdown is unchanged;
  *  - the relation's file index is wrapped in a [[CoveringFileIndex]],
  *    which drops each file whose footer statistics show that no row group
  *    can satisfy the covering-range `dataFilters`. Those row groups are
  *    the ones parquet's pushdown skips anyway, so the rows read do not
  *    change; only the file opens and their tasks go.
  *
  * Only conjuncts over a covering column [[SpatialFilterRule.coveringsOf]]
  * accepts are touched; any other scan is left to `FileSourceStrategy`.
  * Installed through [[graft.GraftExtensions.strategies]].
  */
object CoveringScanStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ScanOperation(_, stayUp, filters, l: LogicalRelation)
        if l.relation.isInstanceOf[HadoopFsRelation] =>
      val ranges = (stayUp ++ filters).flatMap(conjuncts).collect { case CoveringRange(r) => r }
      // the footer-backed covering lookup runs only for a scan with a range
      lazy val covers = AttributeSet(SpatialFilterRule.coveringsOf(l))
      if (!ranges.exists(r => covers.contains(r.column))) Nil
      else FileSourceStrategy(plan).map(_.transformUp {
        case s: FileSourceScanExec =>
          val rel = s.relation
          s.copy(relation = rel.copy(location = CoveringFileIndex(rel.location,
            covers.toSeq.map(_.name).sorted)(
            () => rel.sparkSession.sessionState.newHadoopConfWithOptions(rel.options)))(
            rel.sparkSession))
        case f: FilterExec => f.copy(condition = bind(f.condition, covers))
      })
    case _ => Nil
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** `cond` with the literal bound of each top-level covering-range
    * conjunct replaced by a [[BoundParam]] of the same type and value;
    * the rest of the tree is kept as it is.
    */
  private def bind(cond: Expression, covers: AttributeSet): Expression = cond match {
    case And(l, r) => And(bind(l, covers), bind(r, covers))
    case c @ CoveringRange(r) if covers.contains(r.column) =>
      c.transformDown { case lit: Literal if lit eq r.bound =>
        BoundParam(lit.value.asInstanceOf[Number].doubleValue(), lit.dataType)
      }
    case c => c
  }
}

/** One covering-range conjunct, `<column>.<field> OP bound`, read as a
  * constraint on the field: `upper` when it bounds the field from above
  * (`field <= bound`, `field < bound`), `strict` for `<` and `>`.
  */
private[plans] final case class CoveringRange(
    column: Attribute, field: String, upper: Boolean, strict: Boolean, bound: Literal) {

  /** Whether some value of the field in [min, max] satisfies the
    * constraint, given each field's (min, max) in [[CoveringRange.Fields]]
    * order.
    */
  def admits(minMax: Array[Double]): Boolean = {
    val i = CoveringRange.Fields.indexOf(field)
    val v = bound.value.asInstanceOf[Number].doubleValue()
    if (upper) (if (strict) minMax(2 * i) < v else minMax(2 * i) <= v)
    else if (strict) minMax(2 * i + 1) > v else minMax(2 * i + 1) >= v
  }
}

private[plans] object CoveringRange {
  val Fields: Seq[String] = Seq("xmin", "ymin", "xmax", "ymax")

  /** A comparison of a bbox field of a column with a non-null, non-NaN
    * double or float literal of the field's own type, either way round.
    */
  def unapply(e: Expression): Option[CoveringRange] = e match {
    case LessThanOrEqual(Field(a, f), Bound(v)) => Some(CoveringRange(a, f, upper = true, strict = false, v))
    case LessThan(Field(a, f), Bound(v)) => Some(CoveringRange(a, f, upper = true, strict = true, v))
    case GreaterThanOrEqual(Field(a, f), Bound(v)) => Some(CoveringRange(a, f, upper = false, strict = false, v))
    case GreaterThan(Field(a, f), Bound(v)) => Some(CoveringRange(a, f, upper = false, strict = true, v))
    case GreaterThanOrEqual(Bound(v), Field(a, f)) => Some(CoveringRange(a, f, upper = true, strict = false, v))
    case GreaterThan(Bound(v), Field(a, f)) => Some(CoveringRange(a, f, upper = true, strict = true, v))
    case LessThanOrEqual(Bound(v), Field(a, f)) => Some(CoveringRange(a, f, upper = false, strict = false, v))
    case LessThan(Bound(v), Field(a, f)) => Some(CoveringRange(a, f, upper = false, strict = true, v))
    case _ => None
  }

  private object Field {
    def unapply(e: Expression): Option[(Attribute, String)] = e match {
      case g @ GetStructField(a: Attribute, ordinal, _)
          if (g.dataType == DoubleType || g.dataType == FloatType) &&
            Fields.contains(g.childSchema(ordinal).name) =>
        Some((a, g.childSchema(ordinal).name))
      case _ => None
    }
  }

  private object Bound {
    def unapply(e: Expression): Option[Literal] = e match {
      case l @ Literal(v: Double, DoubleType) if !v.isNaN => Some(l)
      case l @ Literal(v: Float, FloatType) if !v.isNaN => Some(l)
      case _ => None
    }
  }
}
