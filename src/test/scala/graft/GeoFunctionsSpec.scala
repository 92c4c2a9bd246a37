package graft

import org.locationtech.jts.geom.Coordinate
import org.scalatest.funsuite.AnyFunSuite

/** GOLDEN + PROP tier for the JTS-backed geometry kernel (SURVEY.md §5.2):
  * known-vector WKB bytes, codec round-trips, and the geometric invariants
  * that aren't DuckDB-oracle-able (buffer/hull/overlay are
  * discretization-defined).
  */
class GeoFunctionsSpec extends AnyFunSuite {
  import GeoFunctions._

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  test("WKB golden vector: POINT(1 2), little-endian, 2D, no SRID") {
    // 01 = NDR, 01000000 = Point, then two LE doubles.
    assert(hex(stPointF(1.0, 2.0)) ===
      "0101000000" + "000000000000f03f" + "0000000000000040")
  }

  test("WKB golden vector: POINT(-0.5 0) exercises sign bit") {
    assert(hex(stPointF(-0.5, 0.0)) ===
      "0101000000" + "000000000000e0bf" + "0000000000000000")
  }

  test("PROP: wkb decode∘encode = id over a coordinate sweep") {
    for (xi <- -30 to 30 by 7; yi <- -20 to 20 by 9) {
      val (x, y) = (xi / 10.0, yi / 10.0)
      val g = fromWkb(stPointF(x, y))
      assert(g.getCoordinate.x === x && g.getCoordinate.y === y)
    }
  }

  test("WKT round-trip preserves geometry") {
    val wkt = "POLYGON ((0 0, 10 0, 10 5, 0 5, 0 0))"
    assert(stAsTextF(stGeomFromTextF(wkt)) === wkt)
  }

  test("box constructor: area, perimeter, envelope, npoints") {
    val box = stMakeBoxF(1.0, 2.0, 4.0, 6.0)
    assert(stAreaF(box) === 12.0)
    assert(stLengthF(box) === 14.0)
    assert(stEnvelopeF(box) === ((1.0, 2.0, 4.0, 6.0)))
    assert(stNPointsF(box) === 5)
    assert(stGeometryTypeF(box) === "Polygon")
  }

  test("predicates: interior vs boundary semantics") {
    val box = stMakeBoxF(0, 0, 10, 10)
    val inside = stPointF(5, 5)
    val boundary = stPointF(0, 5)
    val outside = stPointF(11, 5)
    assert(stContainsF(box, inside) === true)
    assert(stContainsF(box, boundary) === false) // boundary is not interior
    assert(stIntersectsF(box, boundary) === true)
    assert(stDisjointF(box, outside) === true)
    assert(stWithinF(inside, box) === true)
  }

  test("PROP: buffer(g, d>0) contains g; hull contains all vertices") {
    val line = stGeomFromTextF("LINESTRING (0 0, 4 1, 7 5)")
    for (d <- Seq(0.5, 1.0, 2.5)) {
      assert(stContainsF(stBufferF(line, d), line) === true)
    }
    val cloud = stGeomFromTextF("MULTIPOINT ((0 0), (4 1), (2 7), (9 3), (5 5))")
    val hull = stConvexHullF(cloud)
    assert(stContainsF(hull, cloud) === true)
  }

  test("PROP: overlay area bounds — area(a∩b) <= min(area a, area b) <= area(a∪b)") {
    val a = stMakeBoxF(0, 0, 10, 10)
    val b = stMakeBoxF(5, 5, 15, 15)
    val ai = stAreaF(stIntersectionF(a, b))
    val au = stAreaF(stUnionF(a, b))
    assert(ai === 25.0)
    assert(au === 175.0)
    assert(ai <= math.min(stAreaF(a), stAreaF(b)))
    assert(au >= math.max(stAreaF(a), stAreaF(b)))
  }

  test("distance and dwithin agree") {
    val a = stPointF(0, 0)
    val b = stPointF(3, 4)
    assert(stDistanceF(a, b) === 5.0)
    assert(stDWithinF(a, b, 5.0) === true)
    assert(stDWithinF(a, b, 4.999) === false)
  }

  test("null safety: null in -> null out") {
    assert(stXF(null) === null)
    assert(stAreaF(null) === null)
    assert(stContainsF(null, stPointF(0, 0)) === null)
  }

  test("srid round-trips through EWKB re-encode (B16)") {
    val p = stPointF(3.0, 4.0)
    assert(stSridF(p) === 0)
    val tagged = stSetSridF(p, 4326)
    assert(stSridF(tagged) === 4326)
    // geometry unchanged
    assert(stXF(tagged) === 3.0 && stYF(tagged) === 4.0)
  }

  test("centroid of rectangle is its center") {
    val c = fromWkb(stCentroidF(stMakeBoxF(0, 0, 8, 4)))
    assert(c.getCoordinate.equals2D(new Coordinate(4, 2)))
  }

  test("st_collect: typed multi-geometries, null/empty handling, centroid = mean") {
    val pts = Seq(stPointF(0.0, 0.0), stPointF(2.0, 0.0), stPointF(1.0, 3.0))
    val mp = fromWkb(stCollectF(pts))
    assert(mp.getGeometryType === "MultiPoint")
    assert(mp.getNumPoints === 3)
    assert(mp.getCentroid.getX === 1.0 && mp.getCentroid.getY === 1.0)
    // uniform lines -> MultiLineString; mixed -> GeometryCollection
    val line = stGeomFromTextF("LINESTRING (0 0, 1 1)")
    assert(fromWkb(stCollectF(Seq(line, line))).getGeometryType === "MultiLineString")
    val box = stMakeBoxF(0, 0, 1, 1)
    assert(fromWkb(stCollectF(Seq(box, box))).getGeometryType === "MultiPolygon")
    assert(fromWkb(stCollectF(Seq(box, line))).getGeometryType === "GeometryCollection")
    // nulls inside drop; all-null/empty/null arrays -> null
    assert(fromWkb(stCollectF(Seq(null, pts.head))).getGeometryType === "MultiPoint")
    assert(stCollectF(Seq(null)) === null)
    assert(stCollectF(Seq.empty) === null)
    assert(stCollectF(null) === null)
  }

  test("st_simplify: DP drops interior vertices within tolerance, keeps endpoints") {
    val zigzag = stGeomFromTextF(
      "LINESTRING (0 0, 1 0.01, 2 -0.01, 3 0.01, 4 0)")
    val simple = fromWkb(stSimplifyF(zigzag, 0.1))
    assert(simple.getNumPoints === 2) // wiggles under tolerance vanish
    val cs = simple.getCoordinates
    assert(cs.head.x === 0.0 && cs.head.y === 0.0)
    assert(cs.last.x === 4.0 && cs.last.y === 0.0)
    // tolerance 0 keeps every vertex; a real corner survives its tolerance
    assert(fromWkb(stSimplifyF(zigzag, 0.0)).getNumPoints === 5)
    val corner = stGeomFromTextF("LINESTRING (0 0, 2 2, 4 0)")
    assert(fromWkb(stSimplifyF(corner, 0.5)).getNumPoints === 3)
    assert(stSimplifyF(null, 1.0) === null)
  }

  test("st_makeline + start/endpoint: order preserved, nulls dropped, degenerate -> null") {
    val pts = Seq(stPointF(0, 0), stPointF(1, 2), stPointF(3, 1))
    val line = fromWkb(stMakeLineF(pts))
    assert(line.getGeometryType === "LineString")
    assert(line.getNumPoints === 3)
    assert(fromWkb(stStartPointF(stMakeLineF(pts))).getCoordinate.x === 0.0)
    assert(fromWkb(stEndPointF(stMakeLineF(pts))).getCoordinate.x === 3.0)
    // nulls inside drop; under 2 surviving points -> null
    assert(fromWkb(stMakeLineF(Seq(null, pts(0), pts(1)))).getNumPoints === 2)
    assert(stMakeLineF(Seq(pts.head)) === null)
    assert(stMakeLineF(Seq.empty) === null)
    assert(stMakeLineF(null) === null)
    // non-point input fails loud, never a silently-wrong line
    assertThrows[IllegalArgumentException](stMakeLineF(Seq(stMakeBoxF(0, 0, 1, 1))))
    assert(stStartPointF(null) === null)
  }

  test("st_geohash: public known vectors, prefix hierarchy, domain guards") {
    // canonical public examples of the geohash encoding
    assert(stGeohashF(stPointF(-5.6, 42.6), 5) === "ezs42")
    assert(stGeohashF(stPointF(10.40744, 57.64911), 11) === "u4pruydqqvj")
    assert(stGeohashF(stPointF(-0.1278, 51.5074), 7) === "gcpvj0d") // London
    // hierarchy: a coarser geohash is a PREFIX of the finer one
    val fine = stGeohashF(stPointF(10.40744, 57.64911), 12)
    (1 to 11).foreach { p =>
      assert(fine.startsWith(stGeohashF(stPointF(10.40744, 57.64911), p)))
    }
    // guards: non-point, out-of-range coordinates, bad precision, null
    assert(stGeohashF(stMakeBoxF(0, 0, 1, 1), 5) === null)
    assert(stGeohashF(stPointF(200.0, 10.0), 5) === null)
    assert(stGeohashF(stPointF(1.0, 2.0), 0) === null)
    assert(stGeohashF(stPointF(1.0, 2.0), 13) === null)
    assert(stGeohashF(null, 5) === null)
  }

  test("native overlay expressions: byte parity with the scalar kernels, no ScalaUDF") {
    // B12-B14/B16 as catalyst Expressions (functions.WkbOverlay): same JTS
    // kernel, so the produced WKB must be byte-identical to the scalar F
    // forms; the plan must carry no ScalaUDF wrapper on either API path.
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val a = stMakeBoxF(0, 0, 10, 10)
    val b = stMakeBoxF(5, 5, 15, 15)
    val cloud = stGeomFromTextF("MULTIPOINT ((0 0), (4 0), (2 3), (2 1))")
    val df = Seq((a, b, cloud, stPointF(3, 4))).toDF("ga", "gb", "cloud", "p")
      .select(
        GeoFunctions.st_union(col("ga"), col("gb")).as("u"),
        GeoFunctions.st_intersection(col("ga"), col("gb")).as("i"),
        GeoFunctions.st_buffer(col("p"), org.apache.spark.sql.functions.lit(2.0)).as("buf"),
        GeoFunctions.st_convexhull(col("cloud")).as("hull"))
    assert(!df.queryExecution.executedPlan.toString.contains("ScalaUDF"))
    val row = df.head()
    assert(row.getAs[Array[Byte]]("u").sameElements(stUnionF(a, b)))
    assert(row.getAs[Array[Byte]]("i").sameElements(stIntersectionF(a, b)))
    assert(row.getAs[Array[Byte]]("buf").sameElements(stBufferF(stPointF(3, 4), 2.0)))
    assert(row.getAs[Array[Byte]]("hull").sameElements(stConvexHullF(cloud)))
    // SQL path: registry now binds the native expressions
    Graft.prepare(spark)
    val sqlRow = Seq((a, 0)).toDF("g", "z").createOrReplaceTempView("overlay_t")
    val _ = sqlRow
    val viaSql = spark.sql(
      "SELECT st_srid(st_setsrid(g, 4326)) AS s, st_convexhull(g) AS h FROM overlay_t").head()
    assert(viaSql.getInt(0) === 4326)
    assert(viaSql.getAs[Array[Byte]]("h").sameElements(stConvexHullF(a)))
    // literal-operand caching path: clip every row to a literal region
    val litClip = Seq((a, 0)).toDF("g", "z")
      .select(GeoFunctions.st_intersection(col("g"),
        org.apache.spark.sql.functions.lit(b)).as("c"))
      .head().getAs[Array[Byte]]("c")
    assert(litClip.sameElements(stIntersectionF(a, b)))
    // 3-arg st_buffer (quadSegments): qs=1 point buffer is the diamond
    // (5 ring points, area 2d² within fp residue), via BOTH API paths
    val p0 = stPointF(3, 4)
    val d3 = Seq((p0, 0)).toDF("g", "z")
      .select(GeoFunctions.st_buffer(col("g"),
        org.apache.spark.sql.functions.lit(2.0),
        org.apache.spark.sql.functions.lit(1)).as("dia"))
    assert(!d3.queryExecution.executedPlan.toString.contains("ScalaUDF"))
    val dia = d3.head().getAs[Array[Byte]]("dia")
    assert(stNPointsF(dia) === 5)
    assert(math.abs(stAreaF(dia) - 8.0) < 1e-9)
    Seq((p0, 0)).toDF("g", "z").createOrReplaceTempView("buf3_t")
    val viaSql3 = spark.sql(
      "SELECT st_buffer(g, 2.0, 1) AS dia FROM buf3_t").head()
    assert(viaSql3.getAs[Array[Byte]]("dia").sameElements(dia))
  }

  test("st_transform: 4326<->3857 closed forms, SRID stamping, loud reject") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    Graft.prepare(spark)
    val p = stPointF(6.0, 45.0)
    val df = Seq((p, 0)).toDF("g", "z")
      .select(GeoFunctions.st_transform(col("g"), lit(4326), lit(3857)).as("m"))
      .select(col("m"),
        GeoFunctions.st_transform(col("m"), lit(3857), lit(4326)).as("rt"))
    val row = df.head()
    val m = row.getAs[Array[Byte]]("m")
    val R = 6378137.0
    assert(math.abs(stXF(m) - R * math.toRadians(6.0)) < 1e-6)
    assert(math.abs(stYF(m) -
      R * math.log(math.tan(math.Pi / 4 + math.toRadians(45.0) / 2))) < 1e-6)
    assert(GeoFunctions.fromWkb(m).getSRID === 3857)
    val rt = row.getAs[Array[Byte]]("rt")
    assert(math.abs(stXF(rt) - 6.0) < 1e-9)
    assert(math.abs(stYF(rt) - 45.0) < 1e-9)
    assert(GeoFunctions.fromWkb(rt).getSRID === 4326)
    // SQL path binds the same expression
    Seq((p, 0)).toDF("g", "z").createOrReplaceTempView("xform_t")
    val viaSql = spark.sql(
      "SELECT st_transform(g, 4326, 3857) AS m FROM xform_t").head()
    assert(viaSql.getAs[Array[Byte]]("m").sameElements(m))
    // an unsupported CRS pair fails LOUDLY — silent nulls would let a
    // mixed-CRS corpus "succeed" with wrong coordinates
    val err = intercept[Exception] {
      Seq((p, 0)).toDF("g", "z")
        .select(GeoFunctions.st_transform(col("g"), lit(4326), lit(2154)))
        .head()
    }
    assert(err.getMessage != null)
    // same-SRID call is the identity plus SRID stamp
    val same = Seq((p, 0)).toDF("g", "z")
      .select(GeoFunctions.st_transform(col("g"), lit(4326), lit(4326)).as("s"))
      .head().getAs[Array[Byte]]("s")
    assert(stXF(same) === 6.0 && stYF(same) === 45.0)
    assert(GeoFunctions.fromWkb(same).getSRID === 4326)
  }
}
