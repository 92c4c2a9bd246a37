package graft.plans

import graft.GeoFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.{column, ofRows}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

/** Spatial-join routing (SURVEY.md §4.3; the automatic form of
  * operators.SpatialJoin): an inner join whose condition tests a spatial
  * predicate — `st_intersects(lg, rg)`, `st_contains`/`st_within`, or
  * `st_dwithin(lg, rg, r)` — would plan as a broadcast nested loop —
  * O(n·m) exact-predicate evaluations, a non-starter at scale. The rule
  * picks between TWO physical strategies by data shape, the way Spark
  * itself picks broadcast-hash vs shuffle joins:
  *
  * 1. BROADCAST-INDEX route (operators.BroadcastSpatialJoin) when one
  *    side's estimated size is under `spark.graft.spatialJoin
  *    .broadcastThreshold` (default: the session's
  *    autoBroadcastJoinThreshold; <= 0 disables): an STRtree over the
  *    small side broadcasts and the big side streams through it — NO
  *    shuffle, NO replication; the tree's envelope candidates are trimmed
  *    by st_intersects (candidate-complete for containment too: contains/
  *    within imply intersects) and the FULL original condition re-filters.
  *    Not taken for st_dwithin (the expansion radius belongs to the grid
  *    machinery). The children arrive already column-pruned, so the
  *    row-object boundary the probe introduces carries only the narrow
  *    projection.
  *
  * 2. GRID route otherwise (fact-fact):
  *
  *   explode each side's envelope into the grid cells it covers
  *     -> EQUI-join on (cellX, cellY)   [shuffle-partitioned, AQE-skew-safe]
  *     -> original condition as exact post-filter
  *     -> reference-point guard for dedup
  *
  * Envelope overlap is a NECESSARY condition for every routed predicate:
  * intersection and containment imply overlapping envelopes directly; for
  * `st_dwithin(a, b, r)` the envelope of the side carrying `r` is expanded
  * by `r` first (dist(a,b) <= r implies the expanded envelopes overlap).
  * The exact predicate re-runs as the post-filter, so routing never changes
  * results — only the candidate-generation strategy.
  *
  * The reference-point guard (emit a pair only from the cell containing
  * the min corner of the two envelopes' intersection) makes each
  * qualifying pair appear EXACTLY once without a distinct(): duplicate
  * input rows keep their multiplicity and no extra shuffle is added —
  * the standard PBSM trick (SpatialSpark/Sedona lineage).
  *
  * Grid cell size: `spark.graft.spatialJoin.cell`, when set, is used
  * verbatim (a tuned deployment pins it to ~ the median envelope extent in
  * the data's coordinate units). When UNSET the rule derives it from the
  * data at rewrite time — a bounded sample (first [[SampleRows]] rows per
  * side) of envelope extents, combined as
  * `max(2·max(median_extent per side), max_extent/64, span/4096)`:
  *  - 2·median targets ~1-4 cells per typical row (bounded replication);
  *    per-side medians, larger wins — a region-vs-points dwithin must grid
  *    at the region scale, not the union median the points drag to zero;
  *  - max/64 caps the worst single-row replication at ~65²=4k cells even
  *    when one geometry dwarfs the median;
  *  - span/4096 handles all-point inputs (median extent 0), gridding the
  *    observed data extent at 4096²;
  *  - degenerate stats (no rows / all-null geometries / zero span after
  *    both fallbacks) leave the join unrouted — correctness is the stock
  *    plan's, and an empty-or-null side makes BNL trivial anyway.
  * A fixed default constant would be unit-hostile: 500.0 is reasonable for
  * meter grids but puts an entire lon/lat dataset (extent <= 360) into ONE
  * cell — a single-partition near-cross-product, worse than the BNL it
  * replaces. Deriving from observed extents makes the route unit-agnostic.
  * The sample is limit-biased by design (bounded work at 100 TB: it reads
  * only the first partitions); an outlier geometry outside the sample can
  * still over-replicate, which the max/64 term bounds only to the sampled
  * maximum — documented trade-off of the convenience route (the explicit
  * operators.SpatialJoin takes a caller-chosen cell).
  *
  * Scope guards:
  *  - inner joins only, the spatial predicate as a TOP-LEVEL conjunct with
  *    each geometry built purely from one input (and `st_dwithin`'s radius
  *    foldable or single-sided);
  *  - skipped when the user broadcast-hints a side (a tiny build side
  *    makes BNL the better plan — respect the hint);
  *  - skipped when the condition already carries a cross-side equality
  *    (Spark hash-joins on it; the grid would only multiply rows).
  *
  * Implementation note: the rewrite rebuilds the subtree with the
  * DataFrame API over the already-analyzed children (GraftColumnBridge
  * .ofRows) and splices back the analyzed plan. The experimental batch
  * runs AFTER column pruning, so the children arrive already pruned —
  * the spliced subtree keeps their narrow scans (ReadSchema carries only
  * the join keys + geometry inputs; PlanSpec asserts this on a wide
  * table). The O(n·m)→O(candidates) work reduction then comes on top of
  * normal scan pruning.
  */
object SpatialJoinRule extends Rule[LogicalPlan] {

  val CellConf = "spark.graft.spatialJoin.cell"

  /** Rows sampled per side when deriving the cell size (limit-pushed, so
    * the stats job reads only the first partitions of each input).
    */
  val SampleRows = 20000

  /** A routable spatial conjunct: side geometries + an optional envelope
    * expansion radius per side (st_dwithin only).
    */
  private case class Route(lg: Expression, rg: Expression,
      lExpand: Option[Expression], rExpand: Option[Expression])

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case j @ Join(l, r, Inner, Some(cond), hint)
        if hint.leftHint.forall(_.strategy.isEmpty) &&
          hint.rightHint.forall(_.strategy.isEmpty) &&
          // STREAMING joins stay on the stock plan: cell derivation would
          // run a batch limit+collect over a streaming child at planning
          // time (an analysis error), and the rewrite's DataFrame rebuild
          // is only validated for batch children. Streams wanting the grid
          // route use operators.SpatialJoin explicitly on the static side.
          !l.isStreaming && !r.isStreaming &&
          // structural idempotence: our own rewrite carries __graft_cell cols
          !(l.output ++ r.output).exists(_.name.startsWith("__graft_cell")) =>
      // If the condition already carries a cross-side EQUALITY, Spark plans
      // a hash/sort-merge join on it with the spatial test as a post-filter —
      // no BNL to save, and the grid rewrite would only multiply rows.
      if (hasCrossEquality(cond, l, r)) j
      else harvest(cond, l, r) match {
        case Some(route) =>
          smallSide(l, r, route) match {
            case Some(smallIsLeft) => rewriteBroadcast(j, l, r, route, cond, smallIsLeft)
            case None => rewrite(j, l, r, route, cond)
          }
        case None => j
      }
  }

  val BroadcastThresholdConf = "spark.graft.spatialJoin.broadcastThreshold"

  /** Some(true) = left side broadcasts, Some(false) = right, None = grid
    * route. dwithin never broadcasts (the expansion radius belongs to the
    * grid machinery); stats are Spark's own size estimates, the same signal
    * its broadcast-hash decision uses.
    */
  private def smallSide(l: LogicalPlan, r: LogicalPlan, route: Route): Option[Boolean] = {
    if (route.lExpand.nonEmpty || route.rExpand.nonEmpty) return None
    val conf = SparkSession.active.sessionState.conf
    val threshold = SparkSession.active.conf.getOption(BroadcastThresholdConf)
      .map(_.toLong).getOrElse(conf.autoBroadcastJoinThreshold)
    if (threshold <= 0) return None
    val (ls, rs) = (l.stats.sizeInBytes, r.stats.sizeInBytes)
    if (ls <= threshold && ls <= rs) Some(true)
    else if (rs <= threshold) Some(false)
    else None
  }

  private def rewriteBroadcast(j: Join, l: LogicalPlan, r: LogicalPlan,
      route: Route, cond: Expression, smallIsLeft: Boolean): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    val spark = SparkSession.active
    val (bigPlan, bigGeom, smallPlan, smallGeom) =
      if (smallIsLeft) (r, route.rg, l, route.lg) else (l, route.lg, r, route.rg)
    // children are already pruned; only the geometry evaluation is added
    val bigDf = ofRows(spark, bigPlan).withColumn("__graft_bgeom", column(bigGeom))
    // the index (collect + broadcast of the small side) is memoized like
    // the grid cell: re-planning the same join must not re-pay the
    // planning-time job (bounded: cleared wholesale past 64 entries)
    val smallKey = {
      val idx = smallPlan.output.map(_.exprId).zipWithIndex.toMap
      val g = smallGeom.transform {
        case a: Attribute => BoundReference(idx.getOrElse(a.exprId, -1), a.dataType, a.nullable)
      }
      // applicationId scopes the memo to the live SparkContext: broadcasts
      // die with their context, so a restarted context must rebuild
      (spark.sparkContext.applicationId,
        smallPlan.canonicalized.semanticHash(), g.semanticHash()).hashCode()
    }
    if (indexMemo.size() > 64) indexMemo.clear()
    val index = indexMemo.computeIfAbsent(smallKey, _ => {
      val smallDf = ofRows(spark, smallPlan).withColumn("__graft_sgeom", column(smallGeom))
      graft.operators.BroadcastSpatialJoin.buildIndex(smallDf, "__graft_sgeom")
    })
    val base = graft.operators.BroadcastSpatialJoin
      .probe(bigDf, index, "__graft_bgeom", "intersects")
      .queryExecution.analyzed
    // the probe's object boundary mints FRESH ExprIds; map the original
    // attributes to their positional successors (base.output = big ++
    // [bgeom] ++ small ++ [sgeom], in order)
    val nb = bigPlan.output.length
    val newBig = base.output.slice(0, nb)
    val newSmall = base.output.slice(nb + 1, nb + 1 + smallPlan.output.length)
    val m: Map[ExprId, Attribute] =
      (bigPlan.output.zip(newBig) ++ smallPlan.output.zip(newSmall))
        .map { case (o, n) => o.exprId -> n }.toMap
    // exact semantics: the FULL original condition re-filters the
    // envelope+intersects candidates (covers contains/within directions
    // and any extra conjuncts)
    val condNew = cond.transform { case a: Attribute => m.getOrElse(a.exprId, a) }
    // restore the original join's schema: attribute order AND ExprIds (the
    // parent operators reference them)
    val restored = j.output.map(a =>
      Alias(m(a.exprId), a.name)(exprId = a.exprId))
    Project(restored, Filter(condNew, base))
  }

  private def hasCrossEquality(cond: Expression, l: LogicalPlan, r: LogicalPlan): Boolean =
    conjuncts(cond).exists {
      case EqualTo(a, b) =>
        (refsOnly(a, l) && refsOnly(b, r)) || (refsOnly(a, r) && refsOnly(b, l))
      case EqualNullSafe(a, b) =>
        (refsOnly(a, l) && refsOnly(b, r)) || (refsOnly(a, r) && refsOnly(b, l))
      case _ => false
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case x => Seq(x)
  }

  /** The first top-level spatial conjunct whose geometries each reference
    * exactly one input. Only the native graft predicate nodes route: a
    * user's own ScalaUDF that reuses one of their names may mean anything,
    * so envelope-overlap candidates could miss pairs it accepts.
    */
  private def harvest(cond: Expression, l: LogicalPlan,
      r: LogicalPlan): Option[Route] = {
    def sided(a: Expression, b: Expression): Option[(Expression, Expression)] =
      if (refsOnly(a, l) && refsOnly(b, r)) Some((a, b))
      else if (refsOnly(a, r) && refsOnly(b, l)) Some((b, a))
      else None
    def symmetric(a: Expression, b: Expression): Option[Route] =
      sided(a, b).map { case (lg, rg) => Route(lg, rg, None, None) }
    // dwithin: the radius expands the envelope of whichever side it
    // references (a per-row radius column); a foldable radius goes left.
    def dwithin(a: Expression, b: Expression, rad: Expression): Option[Route] =
      sided(a, b).flatMap { case (lg, rg) =>
        if (rad.references.isEmpty && rad.foldable) Some(Route(lg, rg, Some(rad), None))
        else if (refsOnly(rad, l)) Some(Route(lg, rg, Some(rad), None))
        else if (refsOnly(rad, r)) Some(Route(lg, rg, None, Some(rad)))
        else None
      }
    conjuncts(cond).view.flatMap {
      case graft.functions.StIntersectsExpr(a, b) => symmetric(a, b)
      case graft.functions.StContainsExpr(a, b) => symmetric(a, b)
      case graft.functions.StWithinExpr(a, b) => symmetric(a, b)
      case graft.functions.StDWithinExpr(a, b, rad) => dwithin(a, b, rad)
      case _ => None
    }.headOption
  }

  private def refsOnly(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  /** Envelope of `g`, expanded by `expand` when present (dwithin route). */
  private def envelopeOf(g: Expression, expand: Option[Expression]): Column = {
    val env = GeoFunctions.stEnvelopeStruct(column(g))
    expand match {
      case None => env
      case Some(e) =>
        val rad = column(e).cast("double")
        struct(
          (env.getField("xmin") - rad).as("xmin"),
          (env.getField("ymin") - rad).as("ymin"),
          (env.getField("xmax") + rad).as("xmax"),
          (env.getField("ymax") + rad).as("ymax"))
    }
  }

  /** Derive the grid cell from a bounded sample of both sides' envelope
    * extents (see scaladoc). Medians are taken PER SIDE and the larger one
    * wins: a dwithin join of expanded regions against raw points must grid
    * at the region scale, not at the union median (which the point side
    * would drag to zero, over-replicating the regions).
    * None = stats too degenerate to route on.
    */
  private def deriveCell(spark: SparkSession, l: LogicalPlan, r: LogicalPlan,
      route: Route): Option[Double] = {
    def extents(p: LogicalPlan, g: Expression, expand: Option[Expression],
        side: String): DataFrame = {
      val env = envelopeOf(g, expand)
      ofRows(spark, p)
        .limit(SampleRows)
        .select(lit(side).as("side"),
          greatest(env.getField("xmax") - env.getField("xmin"),
            env.getField("ymax") - env.getField("ymin")).as("ext"),
          env.getField("xmin").as("x0"), env.getField("xmax").as("x1"),
          env.getField("ymin").as("y0"), env.getField("ymax").as("y1"))
    }
    val rows = extents(l, route.lg, route.lExpand, "l")
      .unionAll(extents(r, route.rg, route.rExpand, "r"))
      .groupBy(col("side"))
      .agg(
        expr("percentile_approx(ext, 0.5)").as("med"),
        max(col("ext")).as("mx"),
        min(col("x0")).as("x0"), max(col("x1")).as("x1"),
        min(col("y0")).as("y0"), max(col("y1")).as("y1"))
      .collect()
    // both sides must contribute non-null envelope stats; otherwise the
    // inner join is empty-or-degenerate and the stock plan is fine
    if (rows.length < 2 || rows.exists(_.isNullAt(1))) None
    else {
      val meds = rows.map(_.getDouble(1)); val mxs = rows.map(_.getDouble(2))
      val span = math.max(
        rows.map(_.getDouble(4)).max - rows.map(_.getDouble(3)).min,
        rows.map(_.getDouble(6)).max - rows.map(_.getDouble(5)).min)
      val fromExtents = Seq(2.0 * meds.max, mxs.max / 64.0).filter(d => d > 0 && d.isFinite)
      if (fromExtents.nonEmpty) Some(fromExtents.max)
      else if (span > 0 && span.isFinite) Some(span / 4096.0)
      else None
    }
  }

  /** Derived-cell memo. Every fresh DataFrame over the same join re-runs
    * the optimizer and would re-pay deriveCell's sampling job (a bench
    * loop, a notebook re-execution, `.explain` before `.collect`); the memo
    * keys on the CANONICALIZED children + route expressions so re-plans of
    * the semantically same join reuse the stats. A hash collision can only
    * pick a suboptimal cell, never a wrong result (the exact predicate
    * post-filters), so the key needs no equality confirmation. Bounded:
    * cleared wholesale past 256 entries (cheap; recomputation is safe).
    * None is cached too — a degenerate-stats join stays unrouted without
    * re-sampling every plan.
    */
  private val cellMemo =
    new java.util.concurrent.ConcurrentHashMap[Int, Option[Double]]()

  /** Built small-side indexes for the broadcast route, keyed like
    * [[cellMemo]] (canonicalized small plan + ordinal-bound geometry).
    * A collision reuses an index built over the same canonical plan, so
    * results are unaffected; rows/schema compatibility is guaranteed by
    * the canonicalization including the output schema.
    */
  private val indexMemo = new java.util.concurrent.ConcurrentHashMap[
    Int, graft.operators.BroadcastSpatialJoin.Index]()

  private def memoKey(l: LogicalPlan, r: LogicalPlan, route: Route): Int = {
    // route expressions carry plan-instance ExprIds; bind attributes to
    // their ordinal in the combined child output so the semantically same
    // join hashes identically across re-plans
    val idx = (l.output ++ r.output).map(_.exprId).zipWithIndex.toMap
    def ord(e: Expression): Int = e.transform {
      case a: Attribute =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          idx.getOrElse(a.exprId, -1), a.dataType, a.nullable)
    }.semanticHash()
    (l.canonicalized.semanticHash(), r.canonicalized.semanticHash(),
      ord(route.lg), ord(route.rg),
      route.lExpand.map(ord), route.rExpand.map(ord)).hashCode()
  }

  private def rewrite(j: Join, l: LogicalPlan, r: LogicalPlan,
      route: Route, cond: Expression): LogicalPlan = {
    val spark = SparkSession.active
    val cell: Double = spark.conf.getOption(CellConf) match {
      case Some(v) => v.toDouble
      case None =>
        if (cellMemo.size() > 256) cellMemo.clear()
        cellMemo.computeIfAbsent(memoKey(l, r, route),
          _ => deriveCell(spark, l, r, route)) match {
          case Some(c) => c
          case None => return j // degenerate stats: leave the stock plan
        }
    }

    def prep(p: LogicalPlan, g: Expression, expand: Option[Expression],
        side: String): DataFrame = {
      val env = s"__graft_env_$side"
      val cx = s"__graft_cell_x_$side"
      val cy = s"__graft_cell_y_$side"
      ofRows(spark, p)
        .withColumn(env, envelopeOf(g, expand))
        .withColumn(cx, explode(sequence(
          floor(col(env).getField("xmin") / cell).cast("long"),
          floor(col(env).getField("xmax") / cell).cast("long"))))
        .withColumn(cy, explode(sequence(
          floor(col(env).getField("ymin") / cell).cast("long"),
          floor(col(env).getField("ymax") / cell).cast("long"))))
    }

    val lp = prep(l, route.lg, route.lExpand, "l")
    val rp = prep(r, route.rg, route.rExpand, "r")
    val lEnv = col("__graft_env_l"); val rEnv = col("__graft_env_r")
    // reference point: the min corner of the envelope intersection — it
    // lies in exactly one grid cell, so the pair is emitted exactly once
    val refX = floor(greatest(lEnv.getField("xmin"), rEnv.getField("xmin")) / cell).cast("long")
    val refY = floor(greatest(lEnv.getField("ymin"), rEnv.getField("ymin")) / cell).cast("long")
    val joined = lp.join(rp,
      col("__graft_cell_x_l") === col("__graft_cell_x_r") &&
        col("__graft_cell_y_l") === col("__graft_cell_y_r") &&
        column(cond) &&
        col("__graft_cell_x_l") === refX && col("__graft_cell_y_l") === refY)
      // restore the original join's schema (attribute order AND exprIds)
      .select((j.output.map(a => column(a))): _*)
    joined.queryExecution.analyzed
  }
}
