package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf
import org.locationtech.jts.geom._
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader, WKTWriter}

/** JTS-backed geometry functions over WKB `BinaryType` columns
  * (SURVEY.md §2 blocks A4–A6, B1–B16).
  *
  * Representation decision (SURVEY.md §1.2): geometry travels as WKB bytes —
  * portable at rest (GeoParquet), comparable in the DuckDB oracle as hex, and
  * exactly what the reference stores in parquet. Planar math only; the
  * reference does no reprojection.
  *
  * All functions are null-safe (null in → null out) and offered both as
  * Scala `Column` helpers and SQL names (GraftExtensions.functions lists the
  * SQL names), so C37 SQL queries and DataFrame programs share one
  * implementation.
  *
  * Scale note: the hot spatial functions (predicates, distance, overlay,
  * accessors, envelope) are native codegen Expressions in graft.functions;
  * the rest stay Scala UDFs over the scalar `*F` kernels below, which tests
  * also use as JTS reference implementations. Spatial FILTERS gain sargable
  * range predicates via plans.SpatialFilterRule + the __bbox_<col> covering
  * columns (SURVEY.md §4.3).
  */
object GeoFunctions extends Serializable {

  // JTS readers/writers are stateful (not thread-safe) but reusable →
  // one instance per thread, not per row: these sit on the hottest scalar
  // path of every ST_* UDF. GeometryFactory is thread-safe.
  @transient private lazy val gf = new GeometryFactory(new PrecisionModel(), 0)
  @transient private lazy val readerTL =
    ThreadLocal.withInitial[WKBReader](() => new WKBReader(gf))
  // 2D, little-endian, no SRID — one canonical byte form so WKB hex hashes
  // are stable across engines and rounds.
  @transient private lazy val writerTL =
    ThreadLocal.withInitial[WKBWriter](() => new WKBWriter(2, 2, false))
  @transient private lazy val wktReaderTL =
    ThreadLocal.withInitial[WKTReader](() => new WKTReader(gf))
  @transient private lazy val wktWriterTL =
    ThreadLocal.withInitial[WKTWriter](() => new WKTWriter(2))
  private def reader = readerTL.get()
  private def writer = writerTL.get()
  private def wktReader = wktReaderTL.get()
  private def wktWriter = wktWriterTL.get()

  def toWkb(g: Geometry): Array[Byte] = writer.write(g)
  def fromWkb(b: Array[Byte]): Geometry = reader.read(b)

  // ---- scalar implementations (null-safe) --------------------------------
  private def g1[R](f: Geometry => R): Array[Byte] => R =
    (b: Array[Byte]) => if (b == null) null.asInstanceOf[R] else f(fromWkb(b))
  private def g2[R](f: (Geometry, Geometry) => R): (Array[Byte], Array[Byte]) => R =
    (a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) null.asInstanceOf[R] else f(fromWkb(a), fromWkb(b))

  val stPointF: (Double, Double) => Array[Byte] =
    (x, y) => toWkb(gf.createPoint(new Coordinate(x, y)))
  /** Axis-aligned rectangle (xmin ymin, xmax ymin, xmax ymax, xmin ymax),
    * CCW closed ring — the canonical bbox geometry (SURVEY.md §4.3).
    */
  val stMakeBoxF: (Double, Double, Double, Double) => Array[Byte] =
    (xmin, ymin, xmax, ymax) => toWkb(gf.createPolygon(Array(
      new Coordinate(xmin, ymin), new Coordinate(xmax, ymin),
      new Coordinate(xmax, ymax), new Coordinate(xmin, ymax),
      new Coordinate(xmin, ymin))))
  val stXF: Array[Byte] => java.lang.Double = g1(g => g.getCoordinate.x)
  val stYF: Array[Byte] => java.lang.Double = g1(g => g.getCoordinate.y)
  val stGeometryTypeF: Array[Byte] => String = g1(_.getGeometryType)
  val stAreaF: Array[Byte] => java.lang.Double = g1(_.getArea)
  val stLengthF: Array[Byte] => java.lang.Double = g1(_.getLength)
  val stNPointsF: Array[Byte] => java.lang.Integer = g1(_.getNumPoints)
  val stCentroidF: Array[Byte] => Array[Byte] = g1(g => toWkb(g.getCentroid))
  val stConvexHullF: Array[Byte] => Array[Byte] = g1(g => toWkb(g.convexHull()))
  val stDistanceF: (Array[Byte], Array[Byte]) => java.lang.Double = g2(_.distance(_))
  val stContainsF: (Array[Byte], Array[Byte]) => java.lang.Boolean = g2(_.contains(_))
  val stWithinF: (Array[Byte], Array[Byte]) => java.lang.Boolean = g2(_.within(_))
  val stIntersectsF: (Array[Byte], Array[Byte]) => java.lang.Boolean = g2(_.intersects(_))
  val stDisjointF: (Array[Byte], Array[Byte]) => java.lang.Boolean = g2(_.disjoint(_))
  val stUnionF: (Array[Byte], Array[Byte]) => Array[Byte] = g2((a, b) => toWkb(a.union(b)))
  val stIntersectionF: (Array[Byte], Array[Byte]) => Array[Byte] =
    g2((a, b) => toWkb(a.intersection(b)))
  // isWithinDistance short-circuits on envelope separation instead of
  // computing the exact distance; verdict identical to distance(b) <= r
  val stDWithinF: (Array[Byte], Array[Byte], Double) => java.lang.Boolean =
    (a, b, r) => if (a == null || b == null) null else fromWkb(a).isWithinDistance(fromWkb(b), r)
  val stBufferF: (Array[Byte], Double) => Array[Byte] =
    (b, d) => if (b == null) null else toWkb(fromWkb(b).buffer(d))
  // B16: SRID carried in the JTS user-data-free way — EWKB-style embedding
  // is deliberately avoided (canonical WKB stays 2D/no-SRID for stable
  // hashes); SRID travels on the geometry object and in geo metadata.
  /** Collect an array of WKB geometries into one multi-geometry: all-point
    * inputs build a MULTIPOINT (the common case: per-group point sets), a
    * uniform line/polygon array its Multi* counterpart, anything mixed a
    * GEOMETRYCOLLECTION. Nulls inside the array are dropped; an empty or
    * null array yields NULL. Deterministic given the array order — callers
    * wanting engine-independent bytes sort first (sort_array on WKB is a
    * stable lexicographic order).
    */
  val stCollectF: Seq[Array[Byte]] => Array[Byte] = (arr: Seq[Array[Byte]]) => {
    if (arr == null) null
    else {
      val gs = arr.filter(_ != null).map(fromWkb)
      if (gs.isEmpty) null
      else if (gs.forall(_.isInstanceOf[Point]))
        toWkb(gf.createMultiPoint(gs.map(_.asInstanceOf[Point]).toArray))
      else if (gs.forall(_.isInstanceOf[LineString]))
        toWkb(gf.createMultiLineString(gs.map(_.asInstanceOf[LineString]).toArray))
      else if (gs.forall(_.isInstanceOf[Polygon]))
        toWkb(gf.createMultiPolygon(gs.map(_.asInstanceOf[Polygon]).toArray))
      else toWkb(gf.createGeometryCollection(gs.toArray))
    }
  }

  /** LineString from an array of point WKBs, in array order. Nulls inside
    * drop; fewer than 2 surviving points yields NULL (JTS rejects
    * 1-point lines); a non-point element is an error — fail loud.
    */
  val stMakeLineF: Seq[Array[Byte]] => Array[Byte] = (arr: Seq[Array[Byte]]) => {
    if (arr == null) null
    else {
      val cs = arr.filter(_ != null).map(fromWkb).map {
        case p: Point => p.getCoordinate
        case g => throw new IllegalArgumentException(
          s"st_makeline expects points, got ${g.getGeometryType}")
      }
      if (cs.length < 2) null
      else toWkb(gf.createLineString(cs.toArray))
    }
  }

  /** First / last vertex as a point (any non-empty geometry; NULL for
    * empty or null input).
    */
  val stStartPointF: Array[Byte] => Array[Byte] = g1 { g =>
    if (g.isEmpty) null else toWkb(gf.createPoint(g.getCoordinates.head))
  }
  val stEndPointF: Array[Byte] => Array[Byte] = g1 { g =>
    if (g.isEmpty) null else toWkb(gf.createPoint(g.getCoordinates.last))
  }

  /** Douglas-Peucker simplification (JTS; topology NOT preserved — the
    * standard DP contract: endpoints kept, interior vertices within
    * `tolerance` of the simplified line dropped).
    */
  val stSimplifyF: (Array[Byte], Double) => Array[Byte] = (b, tol) =>
    if (b == null) null
    else toWkb(org.locationtech.jts.simplify.DouglasPeuckerSimplifier
      .simplify(fromWkb(b), tol))

  /** Geohash of a point (standard base32 lat/lon bisection encoding) —
    * the textual spatial-bucketing primitive: prefix-truncation gives
    * hierarchical cells (a coarser key is a prefix of a finer one), so
    * geohash substrings work directly as groupBy/join/partition keys.
    * Null for non-point geometries or coordinates outside lon/lat range
    * (the encoding is only defined there — fail to null, not garbage).
    */
  val stGeohashF: (Array[Byte], Int) => String = (b, precision) =>
    if (b == null) null
    else fromWkb(b) match {
      case p: Point if precision >= 1 && precision <= 12 &&
          math.abs(p.getX) <= 180.0 && math.abs(p.getY) <= 90.0 =>
        val base32 = "0123456789bcdefghjkmnpqrstuvwxyz"
        var (lonLo, lonHi, latLo, latHi) = (-180.0, 180.0, -90.0, 90.0)
        val sb = new StringBuilder(precision)
        var bit = 0; var ch = 0; var evenBit = true
        while (sb.length < precision) {
          if (evenBit) {
            val mid = (lonLo + lonHi) / 2
            if (p.getX >= mid) { ch = ch << 1 | 1; lonLo = mid }
            else { ch <<= 1; lonHi = mid }
          } else {
            val mid = (latLo + latHi) / 2
            if (p.getY >= mid) { ch = ch << 1 | 1; latLo = mid }
            else { ch <<= 1; latHi = mid }
          }
          evenBit = !evenBit
          bit += 1
          if (bit == 5) { sb.append(base32.charAt(ch)); bit = 0; ch = 0 }
        }
        sb.toString
      case _ => null
    }

  /** GeoJSON interchange (RFC 7946) — canonical writer + strict parser
    * (graft.geo.GeoJson). The JSON sibling of the WKT surface.
    */
  val stAsGeoJsonF: Array[Byte] => String = g1(g => geo.GeoJson.write(g))
  val stGeomFromGeoJsonF: String => Array[Byte] =
    (s: String) => if (s == null) null else toWkb(geo.GeoJson.parse(s, gf))

  val stSridF: Array[Byte] => java.lang.Integer = g1(_.getSRID)
  val stSetSridF: (Array[Byte], Int) => Array[Byte] =
    (b, srid) => if (b == null) null else {
      val g = fromWkb(b); g.setSRID(srid)
      // re-encode including SRID so st_srid round-trips
      new WKBWriter(2, 2, true).write(g)
    }
  val stAsTextF: Array[Byte] => String = g1(g => wktWriter.write(g))
  val stGeomFromTextF: String => Array[Byte] =
    (s: String) => if (s == null) null else toWkb(wktReader.read(s))
  // envelope as (xmin, ymin, xmax, ymax)
  val stEnvelopeF: Array[Byte] => (Double, Double, Double, Double) = g1 { g =>
    val e = g.getEnvelopeInternal
    (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
  }

  // ---- Column API ---------------------------------------------------------
  // UDF helpers carry .withName so plans and errors show the SQL name.
  // native constructor (byte-identical to toWkb(point) — see StMakePoint)
  def st_point(x: Column, y: Column): Column =
    native2(graft.functions.StMakePoint.apply)(x, y)
  val st_makebox = udf(stMakeBoxF).withName("st_makebox")
  // st_x/st_y route through the NATIVE byte-walking accessors — identical
  // plan shape whether a user writes SQL or the Column API.
  def st_x(g: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    column(graft.functions.StX(expression(g)))
  }
  def st_y(g: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    column(graft.functions.StY(expression(g)))
  }
  val st_geometrytype = udf(stGeometryTypeF).withName("st_geometrytype")
  val st_area = udf(stAreaF).withName("st_area")
  val st_length = udf(stLengthF).withName("st_length")
  val st_npoints = udf(stNPointsF).withName("st_npoints")
  val st_centroid = udf(stCentroidF).withName("st_centroid")
  def st_convexhull(g: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.StConvexHullExpr(GraftColumnBridge.expression(g)))
  }
  // st_distance / st_dwithin route through NATIVE expressions
  // (functions.WkbDistance): point-point byte fast path, codegen-resident.
  def st_distance(a: Column, b: Column): Column =
    native2(graft.functions.StDistanceExpr.apply)(a, b)
  // The four pure predicates route through NATIVE expressions
  // (functions.WkbPredicates): prepared-geometry fast path for literal
  // regions + codegen-resident evaluation. The UDF implementations remain
  // above as the scalar building blocks (st_dwithin, tests).
  private def native2(f: (org.apache.spark.sql.catalyst.expressions.Expression,
      org.apache.spark.sql.catalyst.expressions.Expression) =>
      org.apache.spark.sql.catalyst.expressions.Expression)(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    column(f(expression(a), expression(b)))
  }
  def st_contains(a: Column, b: Column): Column =
    native2(graft.functions.StContainsExpr.apply)(a, b)
  def st_within(a: Column, b: Column): Column =
    native2(graft.functions.StWithinExpr.apply)(a, b)
  def st_intersects(a: Column, b: Column): Column =
    native2(graft.functions.StIntersectsExpr.apply)(a, b)
  def st_disjoint(a: Column, b: Column): Column =
    native2(graft.functions.StDisjointExpr.apply)(a, b)
  // Overlay / constructive ops route through NATIVE expressions
  // (functions.WkbOverlay): literal operands decode once per expression
  // instance, evaluation stays codegen-resident. The JTS kernel (and thus
  // the GOLDEN-tier bytes) is identical to the scalar F forms above.
  def st_union(a: Column, b: Column): Column =
    native2(graft.functions.StUnionExpr.apply)(a, b)
  def st_intersection(a: Column, b: Column): Column =
    native2(graft.functions.StIntersectionExpr.apply)(a, b)
  def st_dwithin(a: Column, b: Column, r: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    column(graft.functions.StDWithinExpr(expression(a), expression(b), expression(r)))
  }
  def st_buffer(g: Column, d: Column): Column =
    native2(graft.functions.StBufferExpr.apply)(g, d)
  def st_buffer(g: Column, d: Column, quadSegments: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.StBuffer3Expr(
      GraftColumnBridge.expression(g), GraftColumnBridge.expression(d),
      GraftColumnBridge.expression(quadSegments)))
  }
  // EWKB SRID accessors — native, the same nodes as SQL st_srid/st_setsrid.
  def st_srid(g: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.StSridExpr(GraftColumnBridge.expression(g)))
  }
  def st_setsrid(g: Column, srid: Column): Column =
    native2(graft.functions.StSetSridExpr.apply)(g, srid)
  def st_transform(g: Column, fromSrid: Column, toSrid: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.StTransformExpr(
      GraftColumnBridge.expression(g), GraftColumnBridge.expression(fromSrid),
      GraftColumnBridge.expression(toSrid)))
  }
  val st_collect = udf(stCollectF).withName("st_collect")
  val st_simplify = udf(stSimplifyF).withName("st_simplify")
  val st_makeline = udf(stMakeLineF).withName("st_makeline")
  val st_startpoint = udf(stStartPointF).withName("st_startpoint")
  val st_endpoint = udf(stEndPointF).withName("st_endpoint")
  val st_asgeojson = udf(stAsGeoJsonF).withName("st_asgeojson")
  val st_geomfromgeojson = udf(stGeomFromGeoJsonF).withName("st_geomfromgeojson")
  val st_geohash = udf(stGeohashF).withName("st_geohash")
  val st_astext = udf(stAsTextF).withName("st_astext")
  val st_geomfromtext = udf(stGeomFromTextF).withName("st_geomfromtext")
  /** Envelope struct via the NATIVE byte-walking expression
    * (functions.StEnvelope) — the hot path under every __bbox covering
    * column.
    */
  def stEnvelopeStruct(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.StEnvelope(GraftColumnBridge.expression(c)))
  }
}
