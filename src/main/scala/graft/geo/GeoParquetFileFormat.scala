package graft.geo

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.io.api.RecordConsumer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, StructType}

/** Write-time GeoParquet footer injection (SURVEY.md §2 A2, §7 hard-part 1).
  *
  * A thin FileFormat over Spark's stock ParquetFileFormat whose only change
  * is the task-side WriteSupport: every part file's footer carries the `geo`
  * key from the FIRST write — no second byte-level rewrite pass and no
  * stats pass before it.
  *
  * The option is a TEMPLATE: primary column and, per geometry column, CRS
  * and covering, with no types and no bbox. Each part file's writer fills
  * in `geometry_types` and `bbox` from the rows it writes, so a footer
  * describes the geometries in its own file (as the GeoParquet spec
  * defines them) and always describes the bytes on disk, whatever the
  * input plan does on re-execution.
  *
  * The read path is inherited untouched: vectorized reader, pushdown,
  * pruning — a `geo`-keyed footer is ordinary parquet metadata.
  *
  * Usage (what GeoParquet.write does):
  * {{{
  *   df.write.format("geoparquet").option(GeoParquetFileFormat.FooterOption, templateJson).save(path)
  * }}}
  */
class GeoParquetFileFormat extends ParquetFileFormat with DataSourceRegister {

  override def shortName(): String = "geoparquet"

  override def toString: String = "GeoParquet"

  override def prepareWrite(
      sparkSession: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(sparkSession, job, options, dataSchema)
    val conf = job.getConfiguration
    options.get(GeoParquetFileFormat.FooterOption).foreach { geoJson =>
      conf.set(GeoParquetFileFormat.FooterConfKey, geoJson)
      // swap Spark's WriteSupport for the delegating one below; it is
      // instantiated task-side by ParquetOutputFormat from this conf key
      conf.set(ParquetOutputFormat.WRITE_SUPPORT_CLASS,
        classOf[GeoParquetWriteSupport].getName)
    }
    factory
  }
}

object GeoParquetFileFormat {
  /** Writer option carrying the `geo` JSON template (no types, no bbox). */
  val FooterOption = "graft.geo.footer"
  /** Hadoop-conf relay of the option to task-side WriteSupport instances. */
  val FooterConfKey = "graft.geo.footer"
}

/** Spark's ParquetWriteSupport plus one extra footer key: delegates row
  * writing wholesale, folds each non-null geometry into its column's
  * [[GeoFileStats]] on the way, and returns the finished `geo` key from
  * `finalizeWrite` (parquet-java merges it into the footer at close).
  * One instance per part file, so the stats are the file's own. When the
  * row carries the covering column the template declares (the envelope
  * struct `GeoParquet.write(addBboxColumn = true)` adds), the bbox is read
  * from it rather than computed from the WKB a second time.
  */
class GeoParquetWriteSupport extends WriteSupport[InternalRow] {
  private val delegate = new ParquetWriteSupport
  private var template: GeoParquetMetadata = _
  private var columns: Array[String] = _
  private var ordinals: Array[Int] = _
  private var coverings: Array[Int] = _ // -1: no covering in the row
  private var stats: Array[GeoFileStats] = _

  override def init(configuration: Configuration): WriteSupport.WriteContext = {
    template = GeoParquetMetadata.fromJson(configuration.get(GeoParquetFileFormat.FooterConfKey))
    // the row schema Spark hands its own WriteSupport: the data columns in
    // record order (partition columns are not in the record)
    val rowSchema = DataType.fromJson(configuration.get(ParquetWriteSupport.SPARK_ROW_SCHEMA))
      .asInstanceOf[StructType]
    columns = template.columns.keys.toArray
    ordinals = columns.map(rowSchema.fieldIndex)
    // a covering of another shape (say float fields) is not the envelope
    val envelope = graft.functions.StEnvelope.schema.map(f => (f.name, f.dataType))
    coverings = columns.map(c => template.columns(c).covering
      .filter(cov => rowSchema.fieldNames.contains(cov) && (rowSchema(cov).dataType match {
        case t: StructType => t.map(f => (f.name, f.dataType)) == envelope
        case _ => false
      }))
      .fold(-1)(rowSchema.fieldIndex(_)))
    stats = columns.map(_ => new GeoFileStats)
    delegate.init(configuration)
  }

  override def prepareForWrite(recordConsumer: RecordConsumer): Unit =
    delegate.prepareForWrite(recordConsumer)

  override def write(record: InternalRow): Unit = {
    var i = 0
    while (i < ordinals.length) {
      if (!record.isNullAt(ordinals(i))) {
        val wkb = record.getBinary(ordinals(i))
        val cov = coverings(i)
        if (cov < 0) stats(i).add(wkb)
        else stats(i).add(wkb, if (record.isNullAt(cov)) null else record.getStruct(cov, 4))
      }
      i += 1
    }
    delegate.write(record)
  }

  override def finalizeWrite(): WriteSupport.FinalizedWriteContext = {
    val filled = columns.indices.map(i => columns(i) -> stats(i).fill(template.columns(columns(i))))
    new WriteSupport.FinalizedWriteContext(java.util.Collections.singletonMap(
      GeoParquetMetadata.FooterKey, template.copy(columns = filled.toMap).toJson))
  }
}

/** One file's geometry types and bbox, folded one WKB value at a time.
  * The bbox is [[graft.functions.StEnvelope.compute]]'s envelope (the
  * covering column's value, taken from the row when it has one); the type
  * name comes from the WKB header, so no geometry is built. Malformed
  * bytes throw, rejected by StEnvelope's JTS fallback (here or in the
  * covering expression, which parses the same bytes first): they are
  * never guessed at.
  */
private[geo] final class GeoFileStats {
  private var typeMask = 0 // bit k set once type code k (1..7) is seen
  private var hasBbox = false
  private var xmin, ymin = Double.MaxValue
  private var xmax, ymax = Double.MinValue

  def add(wkb: Array[Byte]): Unit = add(wkb, graft.functions.StEnvelope.compute(wkb))

  /** Fold `wkb`, whose envelope is `env` (null for an empty geometry). */
  def add(wkb: Array[Byte], env: InternalRow): Unit = {
    if (env != null) { // an empty geometry has no envelope
      hasBbox = true
      xmin = math.min(xmin, env.getDouble(0)); ymin = math.min(ymin, env.getDouble(1))
      xmax = math.max(xmax, env.getDouble(2)); ymax = math.max(ymax, env.getDouble(3))
    }
    typeMask |= 1 << GeoFileStats.typeCode(wkb)
  }

  def fill(c: GeoColumnMeta): GeoColumnMeta = c.copy(
    geometryTypes = GeoFileStats.TypeNames.indices
      .collect { case k if (typeMask & (1 << (k + 1))) != 0 => GeoFileStats.TypeNames(k) },
    bbox = if (hasBbox) Some((xmin, ymin, xmax, ymax)) else None)
}

private[geo] object GeoFileStats {
  /** The names `st_geometrytype` (JTS `getGeometryType`) gives codes 1..7. */
  val TypeNames: IndexedSeq[String] = IndexedSeq("Point", "LineString", "Polygon",
    "MultiPoint", "MultiLineString", "MultiPolygon", "GeometryCollection")

  /** Base type code of a WKB header, reduced as JTS's WKBReader reduces
    * it: the low 16 bits (EWKB Z/M/SRID flag bits masked) modulo 1000
    * (the ISO Z/M/ZM thousands digit taken off). [[GeoFileStats.add]]
    * calls it only on bytes StEnvelope has already accepted.
    */
  def typeCode(wkb: Array[Byte]): Int = {
    val code = (graft.functions.WkbCoordinate.typeOf(wkb) & 0xffff) % 1000
    if (code < 1 || code > TypeNames.length)
      throw new IllegalArgumentException(s"malformed WKB: unknown geometry type code $code")
    code
  }
}
