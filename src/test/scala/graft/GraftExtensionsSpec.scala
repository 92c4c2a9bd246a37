package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions=graft.GraftExtensions` installation path: a
  * session built with ONLY the conf (no Graft.prepare call) must resolve
  * the whole function surface and auto-route raw spatial joins — the way
  * a Thrift-gateway or Spark Connect deployment installs the library.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  import TestSpark.withExtensionsOnly

  test("conf-installed session resolves natives and routes spatial joins without prepare()") {
    withExtensionsOnly { s =>
      import s.implicits._
      // function surface (SQL path), no prepare(): point + predicate + json
      val one = s.sql(
        """SELECT st_intersects(st_point(1.0D, 1.0D), st_point(1.0D, 1.0D)) AS hit,
                  graft_json_get('{"k": 7}', 'k') AS k,
                  pack_ascii8('AB') AS p""").head()
      assert(one.getBoolean(0) === true)
      assert(one.getString(1) === "7")

      // optimizer rules injected: a raw st_intersects join routes to the
      // grid equi-join (no BNL) exactly as via Graft.prepare
      val l = Seq((1L, 0.0, 0.0, 10.0, 10.0), (2L, 100.0, 100.0, 110.0, 110.0))
        .toDF("id", "x0", "y0", "x1", "y1")
        .selectExpr("id", "st_makebox(x0, y0, x1, y1) AS ga")
      val r = Seq((10L, 5.0, 5.0, 15.0, 15.0))
        .toDF("id", "x0", "y0", "x1", "y1")
        .selectExpr("id AS rid", "st_makebox(x0, y0, x1, y1) AS gb")
      val q = l.join(r, GeoFunctions.st_intersects($"ga", $"gb"))
        .select($"id", $"rid")
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"rule not injected:\n$plan")
      assert(q.collect().map(x => (x.getLong(0), x.getLong(1))).toSet === Set((1L, 10L)))
    }
  }

  test("conf-installed session carries every name of the install table") {
    withExtensionsOnly { s =>
      val registry = s.sessionState.functionRegistry
      for ((name, info, _) <- GraftExtensions.functions) {
        val got = registry.lookupFunction(name)
        assert(got.map(_.getClassName) === Some(info.getClassName), s"$name not installed")
      }
      val row = s.sql(
        """SELECT st_area(st_buffer(st_point(0.0D, 0.0D), 1.0D, 8)) AS a,
                  st_transform(st_point(0.0D, 0.0D), 4326, 3857) AS m,
                  st_asgeojson(st_point(1.0D, 2.0D)) AS gj,
                  st_area(st_makebox(0.0D, 0.0D, 2.0D, 3.0D)) AS box,
                  size(minhash128('graft extensions install table')) AS mh""").head()
      // 32-gon inscribed in the unit circle: area just under pi
      assert(row.getDouble(0) > 3.1 && row.getDouble(0) < math.Pi)
      val m = row.getAs[Array[Byte]]("m")
      assert(GeoFunctions.fromWkb(m).getSRID === 3857)
      assert(row.getString(2) === GeoFunctions.stAsGeoJsonF(GeoFunctions.stPointF(1.0, 2.0)))
      assert(row.getDouble(3) === 6.0)
      assert(row.getInt(4) === 128)
    }
  }

  test("install table rejects a wrong argument count with an error naming the function") {
    val spark = TestSpark.spark // installed through Graft.prepare
    for ((call, name) <- Seq(
        "cosine_sim(array(1.0D, 0.0D))" -> "cosine_sim",
        "st_envelope_native()" -> "st_envelope_native",
        "st_buffer(st_point(0.0D, 0.0D))" -> "st_buffer",
        "st_area()" -> "st_area")) {
      val e = intercept[Exception](spark.sql(s"SELECT $call").collect())
      assert(e.getMessage.contains(name), s"$call: ${e.getMessage}")
      assert(!e.isInstanceOf[IndexOutOfBoundsException] &&
        !e.isInstanceOf[NoSuchElementException], s"$call: $e")
    }
  }

  test("a covering range query plans alike through the extension and through prepare()") {
    val out = "/tmp/graft_test/ext_covering_scan"
    val prepared = TestSpark.spark
    graft.geo.GeoParquet.write(prepared.range(1000).toDF("id")
      .select(org.apache.spark.sql.functions.col("id"),
        GeoFunctions.st_point(org.apache.spark.sql.functions.col("id").cast("double"),
          org.apache.spark.sql.functions.lit(0.0)).as("geometry")),
      out, Seq("geometry"), addBboxColumn = true)
    val box = GeoFunctions.stMakeBoxF(100.0, -1.0, 110.0, 1.0)
    // the planner's output, expression ids masked (each session numbers its own)
    def planned(s: SparkSession): String = {
      import org.apache.spark.sql.functions.{col, lit}
      val q = graft.geo.GeoParquet.read(s, out)
        .filter(GeoFunctions.st_intersects(col("geometry"), lit(box))).select(col("id"))
      val plan = q.queryExecution.sparkPlan
      val bound = plan.collect { case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.collect { case b: graft.plans.BoundParam => b.value }
      }.flatten
      assert(bound.sorted === Seq(-1.0, 1.0, 100.0, 110.0), plan.toString)
      assert(plan.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location }.forall(_.isInstanceOf[graft.plans.CoveringFileIndex]), plan.toString)
      assert(q.count() === 11)
      plan.toString.replaceAll("#\\d+", "#")
    }
    val viaPrepare = planned(prepared)
    withExtensionsOnly(s => assert(planned(s) === viaPrepare))
  }
}
