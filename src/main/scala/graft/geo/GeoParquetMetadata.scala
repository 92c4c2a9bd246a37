package graft.geo

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** The GeoParquet `geo` footer metadata (SURVEY.md §2 A3).
  *
  * Schema follows the published OGC GeoParquet 1.0 spec (the reference's
  * 2019-era custom keys are unverifiable — SURVEY §1.1): a JSON document
  * under the parquet footer key-value key "geo" naming the primary geometry
  * column and, per geometry column, its encoding ("WKB"), observed geometry
  * types, CRS (default OGC:CRS84) and bbox [xmin, ymin, xmax, ymax].
  *
  * `covering` is the GeoParquet 1.1 addition: a per-column declaration of
  * the bbox COVERING COLUMN — the per-row envelope struct whose parquet
  * min/max statistics drive row-group pruning. The spec encodes it as
  * four `[column, field]` paths (`covering.bbox.xmin = ["bbox", "xmin"]`
  * …); this codec emits that form from the struct-column name and
  * accepts any footer whose four paths agree on one column with the
  * conventional field names (anything else decodes to None — a covering
  * we cannot prove safe must not prune). A footer that declares a
  * covering is stamped version 1.1.0; one without stays 1.0.0, keeping
  * the byte-stable 1.0 fixtures byte-stable.
  */
final case class GeoColumnMeta(
    encoding: String = "WKB",
    geometryTypes: Seq[String] = Nil,
    crs: String = GeoParquetMetadata.DefaultCrs,
    bbox: Option[(Double, Double, Double, Double)] = None,
    covering: Option[String] = None)

final case class GeoParquetMetadata(
    version: String = GeoParquetMetadata.Version,
    primaryColumn: String,
    columns: Map[String, GeoColumnMeta]) {

  def toJson: String = {
    val m = GeoParquetMetadata.mapper
    val root = m.createObjectNode()
    root.put("version",
      if (version == GeoParquetMetadata.Version &&
          columns.values.exists(_.covering.isDefined))
        GeoParquetMetadata.Version11
      else version)
    root.put("primary_column", primaryColumn)
    val cols = root.putObject("columns")
    // stable key order => byte-stable metadata fixtures
    columns.toSeq.sortBy(_._1).foreach { case (name, c) =>
      val n = cols.putObject(name)
      n.put("encoding", c.encoding)
      val gt = n.putArray("geometry_types")
      c.geometryTypes.sorted.foreach(gt.add)
      n.put("crs", c.crs)
      c.bbox.foreach { case (xmin, ymin, xmax, ymax) =>
        val b = n.putArray("bbox")
        Seq(xmin, ymin, xmax, ymax).foreach(b.add)
      }
      c.covering.foreach { covCol =>
        val bb = n.putObject("covering").putObject("bbox")
        Seq("xmin", "ymin", "xmax", "ymax").foreach { f =>
          val a = bb.putArray(f)
          a.add(covCol); a.add(f)
          ()
        }
      }
    }
    m.writeValueAsString(root)
  }
}

object GeoParquetMetadata {
  val Version = "1.0.0"
  val Version11 = "1.1.0"
  val DefaultCrs = "OGC:CRS84"
  val FooterKey = "geo"

  private[geo] val mapper = new ObjectMapper()

  def fromJson(json: String): GeoParquetMetadata = {
    val root = mapper.readTree(json)
    val cols = Option(root.get("columns")).map { cn =>
      cn.properties().asScala.map { e =>
        val v = e.getValue
        val gts = Option(v.get("geometry_types"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
        val bbox = Option(v.get("bbox")).filter(_.isArray).map { b =>
          val a = b.elements().asScala.map(_.asDouble()).toSeq
          (a(0), a(1), a(2), a(3))
        }
        val covering = Option(v.get("covering"))
          .flatMap(c => Option(c.get("bbox"))).flatMap { bb =>
            val fields = Seq("xmin", "ymin", "xmax", "ymax")
            val refs = fields.map(f => Option(bb.get(f)).filter(_.isArray)
              .map(_.elements().asScala.map(_.asText()).toSeq))
            val wellFormed = refs.zip(fields).forall { case (r, f) =>
              r.exists(a => a.length == 2 && a(1) == f)
            }
            val cols = refs.flatten.map(_.head).distinct
            if (wellFormed && cols.length == 1) Some(cols.head) else None
          }
        e.getKey -> GeoColumnMeta(
          encoding = Option(v.get("encoding")).map(_.asText()).getOrElse("WKB"),
          geometryTypes = gts,
          crs = Option(v.get("crs")).filterNot(_.isNull).map(_.asText()).getOrElse(DefaultCrs),
          bbox = bbox,
          covering = covering)
      }.toMap
    }.getOrElse(Map.empty)
    GeoParquetMetadata(
      version = Option(root.get("version")).map(_.asText()).getOrElse(Version),
      primaryColumn = Option(root.get("primary_column")).map(_.asText())
        .getOrElse(cols.keys.headOption.getOrElse("geometry")),
      columns = cols)
  }
}
