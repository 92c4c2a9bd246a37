package graft.plans

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.types.StructType

/** A file index that lists what `underlying` lists, minus each file whose
  * footer statistics show it holds no row a covering-range data filter
  * ([[CoveringRange]] over one of `coverings`) can keep. Per file, each
  * bbox field's min/max is the union over its row groups of the parquet
  * column statistics of `<covering>.<field>`; a file is dropped when some
  * range conjunct admits no value in that interval. Parquet's row-group
  * pushdown of the same conjunct (on by default) would then skip every row
  * group of the file, so dropping it changes no row read. A file is always
  * kept when its footer cannot be read, or when any of its row groups has
  * no statistics, or only nulls or NaNs, for a covering field.
  *
  * Everything but `listFiles` is delegated, so `inputFiles`, `sizeInBytes`
  * and `rootPaths` read as the wrapped index's. Equality is over the
  * wrapped index and the covering names, so plan canonicalization and
  * stage reuse see the same relation as before.
  *
  * @param newConf the Hadoop configuration footers are read with; built
  *   only when a footer is not already in [[CoveringFileIndex]]'s cache
  */
final case class CoveringFileIndex(underlying: FileIndex, coverings: Seq[String])(
    newConf: () => Configuration) extends FileIndex {

  override def rootPaths: Seq[Path] = underlying.rootPaths
  override def inputFiles: Array[String] = underlying.inputFiles
  override def refresh(): Unit = underlying.refresh()
  override def sizeInBytes: Long = underlying.sizeInBytes
  override def partitionSchema: StructType = underlying.partitionSchema
  override def metadataOpsTimeNs: Option[Long] = underlying.metadataOpsTimeNs

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val listed = underlying.listFiles(partitionFilters, dataFilters)
    val ranges = dataFilters.collect {
      case CoveringRange(r) if coverings.contains(r.column.name) => r
    }
    if (ranges.isEmpty) listed
    else {
      lazy val conf = newConf()
      val byCovering = ranges.groupBy(_.column.name).toSeq
      listed.map(p => p.copy(files = p.files.filter(f => byCovering.forall { case (covering, rs) =>
        CoveringFileIndex.stats(f.fileStatus, covering, conf).forall(mm => rs.forall(_.admits(mm)))
      })))
    }
  }
}

object CoveringFileIndex {

  /** Most (file, covering) entries the stats cache holds; the least
    * recently used goes first. An entry is a path and 8 doubles, so the
    * cache stays within a few tens of MiB.
    */
  val MaxCachedFiles: Int = 1 << 16

  private final case class Key(path: String, length: Long, modificationTime: Long, covering: String)

  // JVM-wide: keyed by length and modification time as well as the path,
  // so a rewritten file is a new key and an entry is never stale
  private val cache = new java.util.LinkedHashMap[Key, Option[Array[Double]]](256, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Option[Array[Double]]]): Boolean =
      size() > MaxCachedFiles
  }

  /** The file's (min, max) of each bbox field of `covering`, in
    * [[CoveringRange.Fields]] order, or None when they are not all known.
    */
  private[plans] def stats(file: FileStatus, covering: String,
      conf: => Configuration): Option[Array[Double]] = {
    val key = Key(file.getPath.toString, file.getLen, file.getModificationTime, covering)
    cache.synchronized(Option(cache.get(key))).getOrElse {
      try {
        val got = read(file, covering, conf)
        cache.synchronized(cache.put(key, got))
        got
      } catch {
        // an unreadable footer prunes nothing; it is not cached, so a
        // transient failure does not outlive the plan that met it
        case scala.util.control.NonFatal(_) => None
      }
    }
  }

  private def read(file: FileStatus, covering: String, conf: Configuration): Option[Array[Double]] = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.NO_FILTER)
    val blocks = footer.getBlocks.asScala
    val paths = CoveringRange.Fields.map(f => ColumnPath.get(covering, f))
    val perBlock = blocks.map { b =>
      val chunks = b.getColumns.asScala
      paths.map { p =>
        chunks.find(_.getPath == p).map(_.getStatistics).filter(s =>
          s != null && !s.isEmpty && s.hasNonNullValue).flatMap { s =>
          val lo = s.genericGetMin.asInstanceOf[Number].doubleValue()
          val hi = s.genericGetMax.asInstanceOf[Number].doubleValue()
          if (lo.isNaN || hi.isNaN) None else Some((lo, hi))
        }
      }
    }
    if (blocks.isEmpty || perBlock.exists(_.exists(_.isEmpty))) None
    else Some(paths.indices.toArray.flatMap { i =>
      val mm = perBlock.map(_(i).get)
      Array(mm.map(_._1).min, mm.map(_._2).max)
    })
  }
}
