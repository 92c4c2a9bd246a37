package graft.operators

import graft.GeoFunctions
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.types.StructType
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.index.strtree.STRtree

/** Broadcast-index spatial join (SURVEY.md §4.3 family; Sedona's
  * BroadcastIndexJoin lineage): inner join of a large table against a
  * SMALL geometry table — regions, admin boundaries, a query workload —
  * where the small side fits in executor memory.
  *
  * The grid route (operators.SpatialJoin / plans.SpatialJoinRule) pays one
  * shuffle of both sides plus cell replication; when one side is dim-sized
  * that is pure waste — the scale-correct plan is the spatial analogue of a
  * broadcast hash join: build ONE JTS STRtree over the small side, ship it
  * to every executor, stream the big side through it with NO shuffle and NO
  * replication. Candidates come from the tree's R-tree envelope query; the
  * exact JTS predicate is the verdict, so semantics equal the stock join.
  * The big side's partitioning (and pruned scan) pass through untouched —
  * this composes with bbox pushdown and keeps downstream stages shuffle-free
  * over the big side's layout.
  *
  * Row semantics match an inner join: output = big columns ++ small
  * columns, one row per qualifying pair, duplicate rows keep their
  * multiplicity, null geometries on either side drop.
  *
  * The whole small side is collected to the driver — same precondition as
  * `broadcast()`: caller guarantees it is dim-sized. The index is split
  * from the probe (`buildIndex` / `probe`) so a caller — notably
  * plans.SpatialJoinRule, which rewrites at every re-plan — can build and
  * broadcast it ONCE and reuse it across plannings.
  */
object BroadcastSpatialJoin {

  /** A built, broadcast small side: R-tree over envelopes + the decoded
    * geometries + the original rows (values are indices into the arrays).
    */
  final case class Index(
      tree: Broadcast[STRtree],
      rows: Broadcast[Array[Row]],
      geoms: Broadcast[Array[Geometry]],
      schema: StructType)

  /** Supported predicates, evaluated as pred(bigGeom, smallGeom). */
  private def relation(name: String): (Geometry, Geometry) => Boolean = name match {
    case "intersects" => (b, s) => b.intersects(s)
    case "contains" => (b, s) => b.contains(s)
    case "within" => (b, s) => b.within(s)
    case other => throw new IllegalArgumentException(
      s"unsupported predicate '$other' (intersects | contains | within)")
  }

  /** Collect, decode and index the small side; broadcast the result. */
  def buildIndex(small: DataFrame, smallGeom: String): Index = {
    val sc = small.sparkSession.sparkContext
    val schema = small.schema
    val geomIdx = schema.fieldIndex(smallGeom)
    val smallRows = small.collect()
    val tree = new STRtree()
    val geoms = new Array[Geometry](smallRows.length)
    var i = 0
    while (i < smallRows.length) {
      val wkb = smallRows(i).getAs[Array[Byte]](geomIdx)
      if (wkb != null) {
        val g = GeoFunctions.fromWkb(wkb)
        geoms(i) = g
        tree.insert(g.getEnvelopeInternal, Integer.valueOf(i))
      }
      i += 1
    }
    tree.build() // freeze before broadcast (lazy build is not thread-safe)
    Index(sc.broadcast(tree), sc.broadcast(smallRows), sc.broadcast(geoms), schema)
  }

  /** Stream `big` through a built index. */
  def probe(big: DataFrame, index: Index, bigGeom: String,
      predicate: String = "intersects"): DataFrame = {
    val pred = relation(predicate)
    val bigSchema = big.schema
    val bigGeomIdx = bigSchema.fieldIndex(bigGeom)
    val outSchema = StructType(bigSchema.fields ++ index.schema.fields)
    val bcTree = index.tree
    val bcRows = index.rows
    val bcGeoms = index.geoms

    big.mapPartitions { rows =>
      val t = bcTree.value
      val sRows = bcRows.value
      val sGeoms = bcGeoms.value
      rows.flatMap { row =>
        val wkb = row.getAs[Array[Byte]](bigGeomIdx)
        if (wkb == null) Iterator.empty
        else {
          val g = GeoFunctions.fromWkb(wkb)
          val candidates = t.query(g.getEnvelopeInternal)
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          val it = candidates.iterator()
          while (it.hasNext) {
            val idx = it.next().asInstanceOf[Integer].intValue()
            if (pred(g, sGeoms(idx)))
              out += concat(row, sRows(idx))
          }
          out.iterator
        }
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** `a`'s fields then `b`'s, as one row. */
  private def concat(a: Row, b: Row): Row = {
    val values = new Array[Any](a.length + b.length)
    var k = 0
    while (k < a.length) { values(k) = a.get(k); k += 1 }
    while (k < values.length) { values(k) = b.get(k - a.length); k += 1 }
    new GenericRow(values)
  }

  def apply(big: DataFrame, small: DataFrame, bigGeom: String, smallGeom: String,
      predicate: String = "intersects"): DataFrame =
    probe(big, buildIndex(small, smallGeom), bigGeom, predicate)
}
