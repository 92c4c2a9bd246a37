package graft

import graft.geo.GeoParquet
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** §4.3 bbox pushdown: the SpatialFilterRule must turn an opaque spatial
  * UDF predicate into scan-reaching range filters on the __bbox covering
  * column — same rows, but with PushedFilters the parquet reader can use
  * for row-group skipping at 100 TB.
  */
class SpatialRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("st_intersects(geom, lit) gains pushdown-able __bbox range predicates") {
    val out = "/tmp/graft_test/spatial_rule"
    val df = spark.range(1000).toDF("id")
      .select(col("id"),
        GeoFunctions.st_point(col("id").cast("double"), (col("id") * 2).cast("double"))
          .as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"), addBboxColumn = true)

    val queryBox = GeoFunctions.stMakeBoxF(100.0, 0.0, 110.0, 1000.0)
    val q = GeoParquet.read(spark, out)
      .filter(call_udf("st_intersects", col("geometry"), lit(queryBox)))
      .select(col("id"))

    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("__bbox_geometry"), s"rule did not fire:\n$plan")
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThanOrEqual(__bbox_geometry.xmin,110.0)"),
      s"bbox predicates not pushed to scan:\n$plan")

    // Exactness preserved: same rows as the un-rewritten predicate.
    val got = q.collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (100L to 110L)) // points with x in [100,110]
  }

  test("covering pushdown SKIPS row groups: scan emits a fraction of total rows (r16, VERDICT item 5)") {
    // The plan-text pins above prove the predicates REACH the scan; this
    // pins that the parquet reader actually USES them. A range-sorted
    // layout gives each file/row group a tight disjoint __bbox_* stats
    // range, so a 3%-slice spatial filter must skip the other files:
    // FileSourceScan's numOutputRows counts rows in SURVIVING row groups
    // (the pushed filter is stats-level; exact re-filtering happens in
    // the Filter node above), so scan-output ≪ total is row-group skip
    // evidence, not row filtering.
    val out = "/tmp/graft_test/spatial_rule_skip"
    val n = 200000L
    val df = spark.range(n).toDF("id")
      .select(col("id"),
        GeoFunctions.st_point(col("id").cast("double"), lit(0.0)).as("geometry"))
      .repartitionByRange(16, col("id"))
    GeoParquet.write(df, out, Seq("geometry"), addBboxColumn = true)

    val hi = (n * 0.03).toInt // x ∈ [0, 6000] of [0, 199999]
    val box = GeoFunctions.stMakeBoxF(0.0, -1.0, hi.toDouble, 1.0)
    val q = GeoParquet.read(spark, out)
      .filter(call_udf("st_intersects", col("geometry"), lit(box)))
      .select(col("id"))
    assert(q.collect().length === hi + 1) // exactness first
    val scans = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no FileSourceScan in the executed plan")
    val scanned = scans.map(_.metrics("numOutputRows").value).sum
    assert(scanned < n / 4,
      s"scan emitted $scanned of $n rows — __bbox stats did not skip row groups")
  }

  test("1.1 footer-declared covering: foreign name + FLOAT fields prunes, outward-rounded") {
    // a dataset written by some OTHER GeoParquet 1.1 writer: covering
    // column named my_cover with FLOAT fields (the spec's recommendation),
    // declared in the footer rather than by our naming convention
    val out = "/tmp/graft_test/spatial_rule_declared"
    val df = spark.range(1000).toDF("id")
      .select(col("id"),
        GeoFunctions.st_point(col("id").cast("double"), (col("id") * 2).cast("double"))
          .as("geom"),
        struct(
          col("id").cast("float").as("xmin"),
          (col("id") * 2).cast("float").as("ymin"),
          col("id").cast("float").as("xmax"),
          (col("id") * 2).cast("float").as("ymax")).as("my_cover"))
    df.write.mode("overwrite").parquet(out)
    GeoParquet.injectFooterInto(spark, out,
      graft.geo.GeoParquetMetadata(primaryColumn = "geom",
        columns = Map("geom" -> graft.geo.GeoColumnMeta(
          covering = Some("my_cover")))).toJson)

    val queryBox = GeoFunctions.stMakeBoxF(100.0, 0.0, 110.0, 1000.0)
    val q = GeoParquet.read(spark, out)
      .filter(call_udf("st_intersects", col("geom"), lit(queryBox)))
      .select(col("id"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("my_cover.xmin"),
      s"declared covering not pruned on:\n$plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === (100L to 110L))
  }

  test("declared covering that is not bbox-shaped must not prune (and must not throw)") {
    val out = "/tmp/graft_test/spatial_rule_bad_cover"
    val df = spark.range(100).toDF("id")
      .select(col("id"),
        GeoFunctions.st_point(col("id").cast("double"), (col("id") * 2).cast("double"))
          .as("geom"),
        struct(col("id").as("a"), col("id").as("b")).as("odd_cover"))
    df.write.mode("overwrite").parquet(out)
    GeoParquet.injectFooterInto(spark, out,
      graft.geo.GeoParquetMetadata(primaryColumn = "geom",
        columns = Map("geom" -> graft.geo.GeoColumnMeta(
          covering = Some("odd_cover")))).toJson)
    val queryBox = GeoFunctions.stMakeBoxF(10.0, 0.0, 20.0, 1000.0)
    val q = GeoParquet.read(spark, out)
      .filter(call_udf("st_intersects", col("geom"), lit(queryBox)))
      .select(col("id"))
    // correctness unchanged; the malformed covering contributes nothing
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === (10L to 20L))
    assert(!q.queryExecution.executedPlan.toString.contains("odd_cover.xmin"))
  }

  test("spatial predicate under OR is NOT rewritten (disjunct must not constrain all rows)") {
    val out = "/tmp/graft_test/spatial_rule_or"
    val df = spark.range(1000).toDF("id")
      .select(col("id"),
        GeoFunctions.st_point(col("id").cast("double"), (col("id") * 2).cast("double"))
          .as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"), addBboxColumn = true)

    val queryBox = GeoFunctions.stMakeBoxF(100.0, 0.0, 110.0, 1000.0)
    // rows 100..110 intersect the box; rows 0..9 match the other disjunct
    val q = GeoParquet.read(spark, out)
      .filter(call_udf("st_intersects", col("geometry"), lit(queryBox)) ||
        col("id") < 10)
      .select(col("id"))
    val got = q.collect().map(_.getLong(0)).sorted.toSeq
    assert(got === ((0L to 9L) ++ (100L to 110L)),
      s"OR disjunct rows were wrongly dropped; plan:\n${q.queryExecution.executedPlan}")
  }

  test("DataFrame-path GeoFunctions.st_intersects (not call_udf) also gains __bbox pushdown") {
    val out = "/tmp/graft_test/spatial_rule_df"
    val df = spark.range(1000).toDF("id")
      .select(col("id"),
        GeoFunctions.st_point(col("id").cast("double"), (col("id") * 2).cast("double"))
          .as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"), addBboxColumn = true)

    val queryBox = GeoFunctions.stMakeBoxF(100.0, 0.0, 110.0, 1000.0)
    // The Column helper builds the same native predicate node that the SQL
    // name resolves to, so both paths must prune alike.
    val q = GeoParquet.read(spark, out)
      .filter(GeoFunctions.st_intersects(col("geometry"), lit(queryBox)))
      .select(col("id"))

    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThanOrEqual(__bbox_geometry.xmin,110.0)"),
      s"bbox predicates not pushed on the DataFrame path:\n$plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === (100L to 110L))
  }

  test("a user's own st_within UDF is not matched by the spatial rules") {
    val out = "/tmp/graft_test/spatial_rule_user_udf"
    val df = spark.range(1000).toDF("id")
      .select(col("id"),
        GeoFunctions.st_point(col("id").cast("double"), (col("id") * 2).cast("double"))
          .as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"), addBboxColumn = true)

    // a separate session, so the shared session keeps graft's st_within
    val ns = spark.newSession()
    Graft.prepare(ns)
    ns.udf.register("st_within", (_: Array[Byte], _: Array[Byte]) => true)
    val box = GeoFunctions.stMakeBoxF(100.0, 0.0, 110.0, 1000.0)

    // filter: a bbox conjunct from the name alone would keep only 100..110
    val q = GeoParquet.read(ns, out)
      .filter(call_udf("st_within", col("geometry"), lit(box)))
      .select(col("id"))
    assert(q.count() === 1000L, s"user UDF was treated as graft's st_within:\n" +
      q.queryExecution.executedPlan)

    // join: grid routing from the name alone would drop every pair, as no
    // point's envelope overlaps the far box
    val pts = ns.range(10).toDF("id")
      .select(col("id"), GeoFunctions.st_point(col("id").cast("double"), lit(0.0)).as("g"))
    import ns.implicits._
    val far = Seq((0L, GeoFunctions.stMakeBoxF(500.0, 500.0, 510.0, 510.0))).toDF("rid", "rg")
    val j = pts.join(far, call_udf("st_within", col("g"), col("rg")))
    assert(j.count() === 10L, s"user UDF join was routed:\n${j.queryExecution.executedPlan}")
  }

  test("two-geometry dataset: each filter prunes on ITS OWN covering column") {
    val out = "/tmp/graft_test/spatial_rule_two"
    // g1 runs along x, g2 along y — envelopes are disjoint per row, so
    // constraining a g2 filter with g1's bbox would visibly drop rows
    val df = spark.range(1000).toDF("id")
      .select(col("id"),
        GeoFunctions.st_point(col("id").cast("double"), lit(0.0)).as("g1"),
        GeoFunctions.st_point(lit(0.0), col("id").cast("double")).as("g2"))
    GeoParquet.write(df, out, Seq("g1", "g2"), addBboxColumn = true)

    val boxOnY = GeoFunctions.stMakeBoxF(-1.0, 100.0, 1.0, 110.0)
    val q2 = GeoParquet.read(spark, out)
      .filter(GeoFunctions.st_intersects(col("g2"), lit(boxOnY)))
      .select(col("id"))
    val plan2 = q2.queryExecution.executedPlan.toString
    // (Filter prints attrs with expr ids — `__bbox_g2#NNN.ymin` — and the
    // PushedFilters display truncates, so match the stable fragments.)
    assert(plan2.contains("__bbox_g2") && plan2.contains(".ymin <= 110.0"),
      s"g2 covering not used:\n$plan2")
    assert(!plan2.contains("__bbox_g1"), s"g1 covering wrongly constrained a g2 filter:\n$plan2")
    assert(q2.collect().map(_.getLong(0)).sorted.toSeq === (100L to 110L))

    val boxOnX = GeoFunctions.stMakeBoxF(200.0, -1.0, 205.0, 1.0)
    val q1 = GeoParquet.read(spark, out)
      .filter(GeoFunctions.st_intersects(col("g1"), lit(boxOnX)))
      .select(col("id"))
    val plan1 = q1.queryExecution.executedPlan.toString
    assert(plan1.contains("__bbox_g1") && plan1.contains(".xmin <= 205.0"),
      s"g1 covering not used:\n$plan1")
    assert(q1.collect().map(_.getLong(0)).sorted.toSeq === (200L to 205L))
  }

  test("rule is a no-op without a __bbox column") {
    val out = "/tmp/graft_test/spatial_rule_plain"
    val df = spark.range(100).toDF("id")
      .select(col("id"),
        GeoFunctions.st_point(col("id").cast("double"), lit(0.0)).as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"))
    val queryBox = GeoFunctions.stMakeBoxF(10.0, -1.0, 20.0, 1.0)
    val q = GeoParquet.read(spark, out)
      .filter(call_udf("st_intersects", col("geometry"), lit(queryBox)))
    assert(q.collect().length === 11)
  }
}
