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

  // --- CoveringScanStrategy: bound bounds and footer-statistics file skipping

  private def scanOf(q: org.apache.spark.sql.DataFrame) = {
    val scans = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size === 1, q.queryExecution.executedPlan.toString)
    scans.head
  }

  private def boundParams(q: org.apache.spark.sql.DataFrame): Seq[graft.plans.BoundParam] =
    q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.collect { case b: graft.plans.BoundParam => b }
    }.flatten

  test("two covering range filters that differ only in their box compile no new class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dbl = "/tmp/graft_test/spatial_rule_bind_double"
    GeoParquet.write(spark.range(1000).toDF("id").select(col("id"),
      GeoFunctions.st_point(col("id").cast("double"), (col("id") * 2).cast("double"))
        .as("geometry")), dbl, Seq("geometry"), addBboxColumn = true)
    // a foreign 1.1 dataset with a FLOAT covering declared in its footer
    val flt = "/tmp/graft_test/spatial_rule_bind_float"
    spark.range(1000).toDF("id").select(col("id"),
      GeoFunctions.st_point(col("id").cast("double"), (col("id") * 2).cast("double")).as("geom"),
      struct(col("id").cast("float").as("xmin"), (col("id") * 2).cast("float").as("ymin"),
        col("id").cast("float").as("xmax"), (col("id") * 2).cast("float").as("ymax"))
        .as("my_cover")).write.mode("overwrite").parquet(flt)
    GeoParquet.injectFooterInto(spark, flt,
      graft.geo.GeoParquetMetadata(primaryColumn = "geom",
        columns = Map("geom" -> graft.geo.GeoColumnMeta(covering = Some("my_cover")))).toJson)

    def ids(path: String, geom: String, x0: Double, x1: Double): Seq[Long] = {
      val q = GeoParquet.read(spark, path)
        .filter(GeoFunctions.st_intersects(col(geom), lit(GeoFunctions.stMakeBoxF(x0, 0.0, x1, 2000.0))))
        .select(col("id"))
      val got = q.collect().map(_.getLong(0)).sorted.toSeq
      // the filter reads the bounds the scan pushes, bit for bit: a float
      // covering keeps the outward-rounded float values
      import org.apache.spark.sql.types.{DoubleType, FloatType}
      val pushed = scanOf(q).dataFilters.flatMap(_.collect {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, t @ (DoubleType | FloatType)) => (v, t)
      }).toSet
      val bound = boundParams(q)
      assert(bound.size === 4)
      assert(bound.map(b => (b.eval(null), b.dataType)).toSet === pushed)
      got
    }
    for ((path, geom) <- Seq(dbl -> "geometry", flt -> "geom")) {
      assert(ids(path, geom, 100.0, 110.0) === (100L to 110L))
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(ids(path, geom, 200.1, 230.7) === (201L to 230L))
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0, s"$path recompiled")
    }
  }

  /** Seeded points in [0, 1000)², Z-order clustered into 32 files. */
  private lazy val clustered: (String, Array[Double], Array[Double]) = {
    val out = "/tmp/graft_test/spatial_rule_files32"
    val r = new scala.util.Random(17)
    val xs = Array.fill(20000)(r.nextDouble() * 1000)
    val ys = Array.fill(20000)(r.nextDouble() * 1000)
    val rows = xs.indices.map(i => (i.toLong, xs(i), ys(i)))
    GeoParquet.write(spark.createDataFrame(rows).toDF("id", "x", "y")
      .select(col("id"), GeoFunctions.st_point(col("x"), col("y")).as("geometry")),
      out, Seq("geometry"), addBboxColumn = true, spatialClusterFiles = Some(32))
    (out, xs, ys)
  }

  /** Files of `path` (after `where`) whose covering min/max can meet the
    * closed box, or whose coverings are all null: the files skipping keeps.
    */
  private def filesKept(path: String, where: org.apache.spark.sql.Column,
      x0: Double, y0: Double, x1: Double, y1: Double): Long =
    GeoParquet.read(spark, path).filter(where).groupBy(input_file_name())
      .agg(min(col("__bbox_geometry.xmin")).as("a"), max(col("__bbox_geometry.xmax")).as("b"),
        min(col("__bbox_geometry.ymin")).as("c"), max(col("__bbox_geometry.ymax")).as("d"))
      .filter(col("a").isNull || (col("a") <= x1 && col("b") >= x0 && col("c") <= y1 && col("d") >= y0))
      .count()

  test("a clustered range query opens only the files its box can touch: 50 seeded boxes") {
    val (path, xs, ys) = clustered
    def run(x0: Double, y0: Double, x1: Double, y1: Double): (Seq[Long], Long) = {
      val q = GeoParquet.read(spark, path)
        .filter(GeoFunctions.st_intersects(col("geometry"),
          lit(GeoFunctions.stMakeBoxF(x0, y0, x1, y1))))
        .select(col("id"))
      val got = q.collect().map(_.getLong(0)).sorted.toSeq
      (got, scanOf(q).metrics("numFiles").value)
    }
    def oracle(x0: Double, y0: Double, x1: Double, y1: Double): Seq[Long] =
      xs.indices.filter(i => xs(i) >= x0 && xs(i) <= x1 && ys(i) >= y0 && ys(i) <= y1).map(_.toLong)
    assert(filesKept(path, lit(true), -1e9, -1e9, 1e9, 1e9) === 32)
    val r = new scala.util.Random(5)
    val opened = (0 until 50).map { i =>
      val side = if (i % 2 == 0) 10.0 else 60.0
      val x0 = r.nextDouble() * (1000 - side); val y0 = r.nextDouble() * (1000 - side)
      val (got, files) = run(x0, y0, x0 + side, y0 + side)
      assert(got === oracle(x0, y0, x0 + side, y0 + side), s"box $i")
      assert(files === filesKept(path, lit(true), x0, y0, x0 + side, y0 + side), s"box $i")
      (side, files)
    }
    assert(opened.filter(_._1 == 10.0).forall(_._2 < 32), opened)

    // a box whose left edge is exactly a file's largest x keeps that file:
    // the comparisons are closed, and the point on the edge is found
    val fileMaxX = GeoParquet.read(spark, path).groupBy(input_file_name())
      .agg(max(col("__bbox_geometry.xmax")).as("m")).head().getDouble(1)
    val edge = xs.indexOf(fileMaxX)
    val (got, files) = run(fileMaxX, ys(edge) - 5, fileMaxX + 5, ys(edge) + 5)
    assert(got.contains(edge.toLong))
    assert(got === oracle(fileMaxX, ys(edge) - 5, fileMaxX + 5, ys(edge) + 5))
    assert(files === filesKept(path, lit(true), fileMaxX, ys(edge) - 5, fileMaxX + 5, ys(edge) + 5))

    // a box outside the extent opens no file
    assert(run(2000.0, 2000.0, 2010.0, 2010.0) === ((Seq.empty[Long], 0L)))
  }

  test("file skipping keeps a file whose geometries are all null") {
    val out = "/tmp/graft_test/spatial_rule_null_file"
    // groups 0..9 lie along x in [100g, 100g + 99]; group 10 has no geometry
    val df = spark.range(1100).toDF("id")
      .select(col("id"), (col("id") / 100).cast("int").as("grp"),
        when(col("id") < 1000, GeoFunctions.st_point(col("id").cast("double"), lit(0.0)))
          .as("geometry"))
      .repartitionByRange(11, col("grp"))
    GeoParquet.write(df, out, Seq("geometry"), addBboxColumn = true)
    val q = GeoParquet.read(spark, out)
      .filter(GeoFunctions.st_intersects(col("geometry"),
        lit(GeoFunctions.stMakeBoxF(150.0, -1.0, 160.0, 1.0))))
      .select(col("id"))
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === (150L to 160L))
    val nullFiles = GeoParquet.read(spark, out).groupBy(input_file_name())
      .agg(count(col("geometry")).as("n")).filter(col("n") === 0).count()
    assert(nullFiles >= 1)
    val files = scanOf(q).metrics("numFiles").value
    assert(files === filesKept(out, lit(true), 150.0, -1.0, 160.0, 1.0))
    assert(files < scanOf(q).relation.location.inputFiles.length)
  }

  test("partition pruning and file skipping compose on a partitionBy dataset") {
    val out = "/tmp/graft_test/spatial_rule_partitioned"
    // x = id / 4 in [0, 1000); band = x div 250; 16 x-ranged tasks, so
    // each band holds about four files with narrow x ranges
    val df = spark.range(4000).toDF("id")
      .select(col("id"), (col("id") / 1000).cast("int").as("band"),
        GeoFunctions.st_point(col("id") / 4.0, lit(0.0)).as("geometry"))
      .repartitionByRange(16, col("id"))
    GeoParquet.write(df, out, Seq("geometry"), addBboxColumn = true, partitionBy = Seq("band"))
    def run(band: Int, x0: Double, x1: Double): (Seq[Long], Long) = {
      val q = GeoParquet.read(spark, out)
        .filter(col("band") === band &&
          GeoFunctions.st_intersects(col("geometry"), lit(GeoFunctions.stMakeBoxF(x0, -1.0, x1, 1.0))))
        .select(col("id"))
      (q.collect().map(_.getLong(0)).sorted.toSeq, scanOf(q).metrics("numFiles").value)
    }
    val inBand1 = GeoParquet.read(spark, out).filter(col("band") === 1).inputFiles.length
    val (got, files) = run(1, 300.0, 310.0)
    assert(got === (1200L to 1240L))
    assert(files === filesKept(out, col("band") === 1, 300.0, -1.0, 310.0, 1.0))
    assert(files >= 1 && files < inBand1, s"$files of $inBand1")
    // the partition filter and the box each rule out what the other keeps
    assert(run(2, 300.0, 310.0) === ((Seq.empty[Long], 0L)))
  }

  test("a covering filter under OR skips no file, and inputFiles still lists every file") {
    val (path, xs, ys) = clustered
    val box = GeoFunctions.stMakeBoxF(100.0, 100.0, 110.0, 110.0)
    val q = GeoParquet.read(spark, path)
      .filter(col("__bbox_geometry.xmin") <= 5.0 ||
        GeoFunctions.st_intersects(col("geometry"), lit(box)))
      .select(col("id"))
    val got = q.collect().map(_.getLong(0)).sorted.toSeq
    assert(got === xs.indices.filter(i => xs(i) <= 5.0 ||
      (xs(i) >= 100 && xs(i) <= 110 && ys(i) >= 100 && ys(i) <= 110)).map(_.toLong))
    assert(scanOf(q).metrics("numFiles").value === 32)

    val ranged = GeoParquet.read(spark, path)
      .filter(GeoFunctions.st_intersects(col("geometry"), lit(box)))
    assert(ranged.inputFiles.length === 32)
    val location = scanOf(ranged).relation.location
    assert(location.isInstanceOf[graft.plans.CoveringFileIndex])
    assert(location.inputFiles.length === 32)
  }
}
