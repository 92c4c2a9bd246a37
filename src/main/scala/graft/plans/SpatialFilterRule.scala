package graft.plans

import graft.GeoFunctions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, StructType}

/** Bbox pushdown rewrite (SURVEY.md §4.3): spatial predicates over WKB are
  * black-box functions — Catalyst cannot push them into the parquet scan,
  * so a spatial filter alone reads every row group. GeoParquet datasets
  * written with covering columns (GeoParquet 1.1 pattern; GeoParquet.write
  * `addBboxColumn` emits one `__bbox_<col>` per geometry column) carry
  * per-row envelopes whose min/max parquet statistics CAN skip row groups.
  *
  * This rule rewrites
  *   Filter(st_intersects(geom, LITERAL_WKB), scan-with-__bbox_geom)
  * into
  *   Filter(st_intersects(...) AND __bbox_geom-range-conjunction, ...)
  * keeping the exact predicate (the bbox test is necessary, not sufficient)
  * while handing the planner sargable range predicates that reach the scan
  * (`PushedFilters: [GreaterThanOrEqual(__bbox_geometry.xmax, ...)]` —
  * asserted in SpatialRuleSpec). Also handles st_within(geom, lit),
  * st_contains(lit, geom) and either argument order for st_intersects.
  *
  * The covering column is resolved BY NAME from the geometry attribute the
  * predicate actually references (`g` → `__bbox_g`): on a multi-geometry
  * dataset, a filter over the second geometry column must never be
  * constrained by the first column's envelope — each predicate prunes on
  * its own covering column or not at all.
  *
  * Installed through GraftExtensions.rules (the session extension's
  * optimizer batch, or `experimental.extraOptimizations` via Graft.prepare).
  * That batch runs after predicate pushdown, which is fine: FileSourceStrategy
  * re-collects filters sitting above the relation at physical planning, so
  * conjuncts added here still reach the scan.
  */
object SpatialFilterRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, child) =>
      // Harvest ONLY top-level conjuncts that are themselves the spatial
      // predicate: a predicate under OR/NOT is not necessarily satisfied by
      // every output row, so ANDing its bbox range would wrongly drop rows
      // matching the other branch. The harvest is a cheap pattern match, so
      // the rule can consider every Filter; covering resolution (which may
      // consult the cached footer) only runs when a spatial predicate is
      // actually present.
      val cands = conjuncts(cond).flatMap {
        case n: graft.functions.WkbPredicate => harvest(n)
        case _ => None
      }
      if (cands.isEmpty) f
      else {
        val extras = cands.flatMap { case (geomAttr, queryWkb) =>
          coveringOf(geomAttr, child)
            // idempotence: if the condition already references this covering
            // column (user-written or a previous optimizer pass), add nothing
            .filterNot(cond.references.contains)
            .map(bbox => envelopeConjunct(queryWkb, bbox))
        }
        if (extras.isEmpty) f
        else Filter(And(cond, extras.reduce(And)), child)
      }
  }

  /** Resolve the covering column for a geometry attribute, in order:
    *
    *  1. a GeoParquet 1.1 covering DECLARED in the dataset's `geo` footer
    *     (resolved from the scan relation under the filter via a
    *     path-keyed cache — predicate pushdown strips column metadata
    *     from the filter's attributes, so the footer, which is where the
    *     declaration canonically lives, is consulted directly; foreign
    *     1.1 datasets prune whatever their covering column is called);
    *  2. the writer's `__bbox_<col>` naming convention (serves datasets
    *     read through a bare `spark.read.parquet` with no footer).
    *
    * Either way, a covering we cannot prove bbox-shaped must not prune —
    * a foreign footer may declare anything, and the optimizer must
    * neither throw nor constrain on the wrong fields.
    */
  private def coveringOf(geomAttr: Attribute, child: LogicalPlan): Option[Attribute] = {
    val declared = child.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.relation.isInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
        val rel = lr.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
        rel.location.rootPaths.headOption.flatMap { p =>
          graft.geo.GeoParquet.cachedMetadata(rel.sparkSession, p.toString)
            .flatMap(_.columns.get(geomAttr.name)).flatMap(_.covering)
        }
    }.flatten
    declared.flatMap(n => child.output.find(_.name == n))
      .orElse(child.output.find(_.name == s"__bbox_${geomAttr.name}"))
      .filter(a => bboxFieldType(a.dataType).isDefined)
  }

  /** The uniform numeric type of a bbox covering struct's four fields
    * (float per the published 1.1 recommendation, or double as our writer
    * emits), or None when the struct is not prunable-safe.
    */
  private def bboxFieldType(dt: DataType): Option[DataType] = dt match {
    case st: StructType =>
      val ts = Seq("xmin", "ymin", "xmax", "ymax")
        .map(f => st.fields.find(_.name == f).map(_.dataType))
      if (ts.forall(_.isDefined) && ts.flatten.distinct.size == 1 &&
          (ts.head.get == DoubleType || ts.head.get == FloatType)) ts.head
      else None
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** (geometry attribute tested, literal query geometry) of a native
    * predicate node (functions.WkbPredicates): st_intersects takes the
    * literal on either side (symmetric envelope test); st_within needs the
    * literal REGION on the right, st_contains on the left. st_disjoint gets
    * NO conjunct — its matching rows have non-overlapping envelopes, the
    * opposite of the bbox test. A user's own ScalaUDF that reuses one of
    * these names is never matched: its meaning is unknown, so a bbox
    * conjunct could drop rows it keeps.
    */
  private def harvest(
      p: graft.functions.WkbPredicate): Option[(Attribute, Array[Byte])] = {
    import graft.functions.{StContainsExpr, StIntersectsExpr, StWithinExpr}
    p match {
      case StIntersectsExpr(l, r) => symmetric(l, r)
      case StWithinExpr(g, region) => directed(geom = g, region = region)
      case StContainsExpr(region, g) => directed(geom = g, region = region)
      case _ => None
    }
  }

  private def symmetric(a: Expression, b: Expression): Option[(Attribute, Array[Byte])] =
    (a, b) match {
      case (g: Attribute, Literal(w: Array[Byte], _)) => Some((g, w))
      case (Literal(w: Array[Byte], _), g: Attribute) => Some((g, w))
      case _ => None
    }

  private def directed(geom: Expression, region: Expression): Option[(Attribute, Array[Byte])] =
    (geom, region) match {
      case (g: Attribute, Literal(w: Array[Byte], _)) => Some((g, w))
      case _ => None
    }

  /** envelope overlap: row.xmin <= q.xmax AND row.xmax >= q.xmin AND … */
  private def envelopeConjunct(wkb: Array[Byte], bbox: Attribute): Expression = {
    val env = GeoFunctions.fromWkb(wkb).getEnvelopeInternal
    // fields by NAME, not ordinal: a foreign 1.1 covering struct owes us
    // the field names, not their order
    val st = bbox.dataType.asInstanceOf[StructType]
    def fld(n: String) = GetStructField(bbox, st.fieldIndex(n), Some(n))
    val float = bboxFieldType(bbox.dataType).contains(FloatType)
    // float coverings (the 1.1 recommendation) round the QUERY envelope
    // OUTWARD: a bound that narrowed under double→float rounding would
    // wrongly prune rows the exact predicate keeps
    def hi(v: Double) = // upper bound, used as `field <= hi`
      if (!float) Literal(v, DoubleType)
      else {
        val f = v.toFloat
        Literal(if (f.toDouble < v) Math.nextUp(f) else f, FloatType)
      }
    def lo(v: Double) = // lower bound, used as `field >= lo`
      if (!float) Literal(v, DoubleType)
      else {
        val f = v.toFloat
        Literal(if (f.toDouble > v) Math.nextDown(f) else f, FloatType)
      }
    And(
      And(LessThanOrEqual(fld("xmin"), hi(env.getMaxX)),
        GreaterThanOrEqual(fld("xmax"), lo(env.getMinX))),
      And(LessThanOrEqual(fld("ymin"), hi(env.getMaxY)),
        GreaterThanOrEqual(fld("ymax"), lo(env.getMinY))))
  }
}
