package graft.geo

import graft.GeoFunctions
import graft.functions.{StEnvelope, ZOrder, ZRangeId}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

/** GeoParquet I/O (SURVEY.md §2 A1/A2): parquet files whose footer carries
  * the `geo` JSON metadata and whose geometry columns are WKB bytes.
  *
  * Write path: one parallel write through `GeoParquetFileFormat`, with no
  * stats pass before it. Each part file's writer folds the geometry types
  * and bbox of the rows it writes and puts the finished `geo` key in its
  * own footer AS IT CLOSES (SURVEY §7 hard-part 1), so every footer
  * describes its own file and the bytes on disk, even for a
  * nondeterministic input plan. [[readMetadata]] unions the per-file
  * footers into the dataset's. [[injectFooterInto]] retrofits a footer
  * onto a dataset another writer made (byte-level row-group copy, no
  * decode/re-encode).
  *
  * Read path: one listing and one footer open, no Spark job. The first
  * part file's footer (first by path, hidden `_`/`.` names skipped as
  * Spark's file index skips them) gives both the `geo` metadata and the
  * Spark schema — converted by the same function Spark's schema-inference
  * job runs on that same file — and the DataFrame is an ordinary
  * `spark.read.schema(..).parquet` (vectorized reader, pushdown, partition
  * discovery all intact). Geometry columns carry the `geo` entries as
  * Spark column `Metadata`, so downstream code can discover geometry
  * columns and CRS without re-reading footers. With
  * `spark.sql.parquet.mergeSchema` on, or when no part file is found, the
  * schema comes from Spark's own inference instead, since merging needs
  * every file's footer.
  */
object GeoParquet {

  private val MetaKeyEncoding = "geo.encoding"
  private val MetaKeyCrs = "geo.crs"

  /** Column-metadata key surfacing the footer-declared 1.1 covering-column
    * name on the read DataFrame's schema (introspection parity with
    * encoding/CRS). Pruning itself does NOT depend on this key:
    * [[graft.plans.SpatialFilterRule]] resolves declarations from the
    * footer via [[cachedMetadata]], because predicate pushdown strips
    * column metadata off filter attributes before the rule runs.
    */
  private[graft] val MetaKeyCovering = "geo.covering"

  /** Footer metadata by dataset path, cached for the optimizer: the
    * spatial rule consults this on every plan with a spatial predicate
    * over a file scan, so the footer read must cost one I/O per DATASET,
    * not per query. It is ONE footer, the first part file's, not
    * [[readMetadata]]'s union: encoding, CRS and the covering name are the
    * same in every file, but its `bbox` and `geometryTypes` describe that
    * one file only, so nothing may read them as the dataset's (a
    * "Point-only" test must use [[readMetadata]]). Bounded by distinct
    * dataset paths per JVM; invalidated by the writers ([[write]],
    * [[injectFooterInto]]).
    */
  private val metadataCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[GeoParquetMetadata]]()

  private[graft] def cachedMetadata(spark: SparkSession,
      path: String): Option[GeoParquetMetadata] =
    metadataCache.computeIfAbsent(path, p =>
      try firstFooter(spark, p).flatMap(geoOf)
      catch { case scala.util.control.NonFatal(_) => None })

  private def invalidateMetadata(path: String): Unit = {
    metadataCache.remove(path)
    // normalize trailing-slash and scheme-variant keys conservatively:
    // a different spelling of the same dataset path may sit in the cache
    val it = metadataCache.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k.stripSuffix("/") == path.stripSuffix("/") ||
          k.endsWith(path.stripSuffix("/"))) it.remove()
    }
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val legacyBboxWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** @param spatialClusterFiles when set, rows are range-partitioned into
    *   this many files by the Z-order (Morton) value of their envelope
    *   midpoint before writing — spatially close rows land in the same
    *   file/row group, so each file's `__bbox_<col>` min/max statistics cover a
    *   TIGHT region and SpatialFilterRule's range predicates skip most row
    *   groups. One job before the write reads the first geometry column
    *   (see [[zRanges]]): the curve is quantized over its extent, and the
    *   file split points come from a sample of its midpoints, as Spark's
    *   range partitioning samples. The write then shuffles each row
    *   straight to its Z range, so the input is evaluated twice in all.
    *   Rows the write sees outside the extent (a nondeterministic input)
    *   clamp to the edge cells, which costs clustering quality only —
    *   footers come from the written rows. Null and empty geometries go to
    *   the first file. An input with no envelope at all (empty, or only
    *   null/empty geometries) is written unclustered.
    */
  def write(
      df: DataFrame,
      path: String,
      geometryColumns: Seq[String],
      crs: String = GeoParquetMetadata.DefaultCrs,
      addBboxColumn: Boolean = false,
      partitionBy: Seq[String] = Nil,
      spatialClusterFiles: Option[Int] = None): Unit = {
    require(geometryColumns.nonEmpty, "at least one geometry column")
    require(geometryColumns.forall(df.columns.contains),
      s"geometry columns ${geometryColumns.mkString(", ")} not all in ${df.columns.mkString(", ")}")
    require(spatialClusterFiles.isEmpty || partitionBy.isEmpty,
      "spatial clustering and partitionBy together multiply to files-per-" +
        "partition-value × cluster files; choose one layout")
    require(spatialClusterFiles.forall(_ > 0), "spatial clustering needs at least one file")
    require(spatialClusterFiles.isEmpty || !df.columns.contains("__z"),
      "input already has a __z column — spatial clustering reserves that name")
    // GeoParquet 1.1 covering-column pattern: a per-row envelope struct
    // whose parquet min/max stats let spatial filters skip row groups
    // (rewritten into range predicates by plans.SpatialFilterRule).
    // One covering column PER geometry column, name-bound as __bbox_<col>,
    // so multi-geometry datasets prune on whichever column a filter
    // references (the rule matches covering to predicate by name — a
    // single shared __bbox would wrongly constrain filters on the others).
    val out =
      if (addBboxColumn)
        geometryColumns.foldLeft(df)((d, c) =>
          d.withColumn(s"__bbox_$c", GeoFunctions.stEnvelopeStruct(col(c))))
      else df
    // the footer template: each part file's writer fills in its own
    // geometry types and bbox (GeoParquetWriteSupport)
    val template = GeoParquetMetadata(primaryColumn = geometryColumns.head,
      columns = geometryColumns.map(c => c -> GeoColumnMeta(crs = crs,
        // GeoParquet 1.1: declare the covering column we just added, so
        // readers (ours included) need not rely on the naming convention
        covering = if (addBboxColumn) Some(s"__bbox_$c") else None)).toMap).toJson

    def save(src: DataFrame): Unit = {
      val writer = src.write.mode("overwrite").format("geoparquet")
        .option(GeoParquetFileFormat.FooterOption, template)
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer).save(path)
    }

    spatialClusterFiles.flatMap(zRanges(df, geometryColumns.head, _)) match {
      case Some((f, bounds)) =>
        val env = GeoFunctions.stEnvelopeStruct(col(geometryColumns.head))
        val cx = (env.getField("xmin") + env.getField("xmax")) / 2
        val cy = (env.getField("ymin") + env.getField("ymax")) / 2
        save(out.withColumn("__z", ZOrder.zorder(cx, cy, f.xmin, f.ymin, f.xmax, f.ymax))
          .repartitionById(bounds.length + 1, GraftColumnBridge.column(
            ZRangeId(GraftColumnBridge.expression(col("__z")), bounds)))
          .sortWithinPartitions("__z")
          .drop("__z"))
      case None => save(out)
    }
    invalidateMetadata(path)
  }

  /** The Z-order frame and the `n - 1` (or fewer: a file per range) Z
    * split points of a clustered write, from ONE job over `geom`: each
    * input partition returns its exact envelope extent, its count of rows
    * with an envelope and a reservoir sample of their midpoints. The
    * sizes, sampler, seeds and bounds are those of Spark's range exchange
    * (`RangePartitioner`: per output partition
    * `spark.sql.execution.rangeExchange.sampleSizePerPartition` samples,
    * at most 1e6 in all), each weighted by its partition's count over its
    * sample size; an
    * unbalanced partition is not re-sampled, so no second job runs. None
    * when no row has an envelope.
    */
  private def zRanges(df: DataFrame, geom: String,
      n: Int): Option[(ZOrder.Frame, Array[Long])] = {
    val rows = df.select(col(geom)).queryExecution.toRdd
    val sampleSize = math.min(
      SQLConf.get.rangeExchangeSampleSizePerPartition.toDouble * n, 1e6)
    val perPartition = math.ceil(3.0 * sampleSize / math.max(rows.getNumPartitions, 1)).toInt
    val shift = rows.id
    val sketches = rows.mapPartitionsWithIndex { (idx, it) =>
      val box = Array(Double.PositiveInfinity, Double.PositiveInfinity,
        Double.NegativeInfinity, Double.NegativeInfinity)
      // the sampler drains the iterator, so `box` is complete once it returns
      val mids = it.flatMap { r =>
        val env = if (r.isNullAt(0)) null else StEnvelope.compute(r.getBinary(0))
        if (env == null) Iterator.empty
        else {
          val x0 = env.getDouble(0); val y0 = env.getDouble(1)
          val x1 = env.getDouble(2); val y1 = env.getDouble(3)
          if (x0 < box(0)) box(0) = x0
          if (y0 < box(1)) box(1) = y0
          if (x1 > box(2)) box(2) = x1
          if (y1 > box(3)) box(3) = y1
          Iterator.single(((x0 + x1) / 2, (y0 + y1) / 2))
        }
      }
      val (sample, count) = GraftColumnBridge.reservoirSampleAndCount(
        mids, perPartition, scala.util.hashing.byteswap32(idx ^ (shift << 16)).toLong)
      Iterator.single((box, count, sample))
    }.collect().filter(_._2 > 0)
    if (sketches.isEmpty) None
    else {
      val boxes = sketches.map(_._1)
      val frame = ZOrder.Frame(boxes.map(_(0)).min, boxes.map(_(1)).min,
        boxes.map(_(2)).max, boxes.map(_(3)).max)
      val candidates = scala.collection.mutable.ArrayBuffer.empty[(Long, Float)]
      sketches.foreach { case (_, count, sample) =>
        val weight = (count.toDouble / sample.length).toFloat
        sample.foreach { case (x, y) => candidates += ((ZOrder.value(x, y, frame), weight)) }
      }
      Some((frame, GraftColumnBridge.determineBounds(candidates, math.min(n, candidates.size))))
    }
  }

  /** Retrofit a `geo` footer onto an EXISTING parquet dataset without
    * rewriting data pages: distributed byte-level row-group copy per part
    * file (`ParquetFileWriter.appendFile` — no decode/re-encode).
    */
  def injectFooterInto(spark: SparkSession, path: String, geoJson: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = listParquetFiles(new Path(path), conf).map(_.getPath.toString)
    spark.sparkContext.parallelize(parts, parts.length.max(1))
      .foreach(injectFooter(_, geoJson))
    invalidateMetadata(path)
  }

  /** The dataset's part files, by the rule Spark's file index lists them:
    * names starting with `_` (unless a `key=value` partition directory) or
    * `.` are skipped, so a leftover `_temporary/` attempt directory or a
    * `.crc` side file is never taken for data. A `listStatus` walk — no
    * block-location lookups, which `listFiles` pays per file.
    */
  private def listParquetFiles(root: Path, conf: Configuration): Seq[FileStatus] = {
    val fs = root.getFileSystem(conf)
    def walk(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq.flatMap { s =>
      val name = s.getPath.getName
      if ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".")) Nil
      else if (s.isDirectory) walk(s.getPath)
      else if (name.endsWith(".parquet")) Seq(s)
      else Nil
    }
    walk(root)
  }

  /** The dataset's part files sorted by path, or `path` itself when it
    * is a file.
    */
  private def partFiles(conf: Configuration, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val root = p.getFileSystem(conf).getFileStatus(p)
    if (root.isDirectory) listParquetFiles(p, conf).sortBy(_.getPath.toString)
    else Seq(root)
  }

  /** One part file's footer. Row groups are skipped: only the schema and
    * key-value metadata are used.
    */
  private def footerOf(conf: Configuration, f: FileStatus): Footer =
    new Footer(f.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))

  /** Footer of the dataset's first part file by path — the file Spark's
    * schema inference reads.
    */
  private def firstFooter(spark: SparkSession, path: String): Option[Footer] = {
    val conf = spark.sparkContext.hadoopConfiguration
    partFiles(conf, path).headOption.map(footerOf(conf, _))
  }

  private def geoOf(footer: Footer): Option[GeoParquetMetadata] =
    Option(footer.getParquetMetadata.getFileMetaData.getKeyValueMetaData
      .get(GeoParquetMetadata.FooterKey))
      .map(GeoParquetMetadata.fromJson)

  /** Rewrite one parquet file with the `geo` footer key added (runs on an
    * executor; local Configuration suffices for file/hdfs URIs it carries).
    */
  private def injectFooter(file: String, geoJson: String): Unit = {
    val conf = new Configuration()
    val src = new Path(file)
    val tmp = new Path(file + ".geo.tmp")
    val bak = new Path(file + ".geo.bak")
    val fs = src.getFileSystem(conf)

    // Crash recovery for a task retry: tmp is only ever complete once src
    // has been renamed away (writer.end precedes the rename chain), so a
    // missing src with a tmp present means the previous attempt died between
    // its renames — finish the swap instead of re-reading the gone src.
    if (!fs.exists(src)) {
      if (fs.exists(tmp) && !fs.rename(tmp, src))
        throw new java.io.IOException(s"geoparquet footer rewrite: recovery rename $tmp -> $src failed")
      if (!fs.exists(src))
        throw new java.io.IOException(s"geoparquet footer rewrite: $src missing and no recoverable tmp")
      fs.delete(bak, false)
      return
    }

    val in = HadoopInputFile.fromPath(src, conf)
    val reader = ParquetFileReader.open(in)
    val (schema, kv) = try {
      val fmd = reader.getFooter.getFileMetaData
      (fmd.getSchema, new java.util.HashMap[String, String](fmd.getKeyValueMetaData))
    } finally reader.close()
    // idempotence: a retry after a completed rewrite must not rewrite again
    if (geoJson == kv.get(GeoParquetMetadata.FooterKey)) {
      fs.delete(bak, false); fs.delete(tmp, false)
      return
    }
    kv.put(GeoParquetMetadata.FooterKey, geoJson)

    val writer = new ParquetFileWriter(
      HadoopOutputFile.fromPath(tmp, conf), schema,
      ParquetFileWriter.Mode.OVERWRITE,
      128L * 1024 * 1024, 8 * 1024 * 1024,
      ParquetProperties.DEFAULT_COLUMN_INDEX_TRUNCATE_LENGTH,
      ParquetProperties.DEFAULT_STATISTICS_TRUNCATE_LENGTH,
      ParquetProperties.DEFAULT_PAGE_WRITE_CHECKSUM_ENABLED)
    writer.start()
    writer.appendFile(in)
    writer.end(kv)

    // tmp is fully written before src is touched; the src copy survives as
    // .geo.bak until the swap completes (rename is atomic on HDFS/posix),
    // so no crash point loses the only copy of the part file.
    fs.delete(bak, false)
    if (!fs.rename(src, bak))
      throw new java.io.IOException(s"geoparquet footer rewrite: rename $src -> $bak failed")
    if (!fs.rename(tmp, src))
      throw new java.io.IOException(s"geoparquet footer rewrite: rename $tmp -> $src failed")
    fs.delete(bak, false)
  }

  /** Read a GeoParquet dataset; geometry columns keep their WKB binary form
    * and gain Spark column Metadata with encoding + CRS. The schema comes
    * from the first part file's footer, read once together with the `geo`
    * key, so no schema-inference job runs; with
    * `spark.sql.parquet.mergeSchema` on (or no part file found) Spark's
    * inference supplies it instead.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val footer = firstFooter(spark, path)
    val sqlConf = spark.sessionState.conf
    val fileSchema = footer.filter(_ => !sqlConf.isParquetSchemaMergingEnabled)
      .map(ParquetFileFormat.readSchemaFromFooter(_, new ParquetToSparkSchemaConverter(sqlConf)))
      .getOrElse(spark.read.parquet(path).schema)
    val geo = footer.flatMap(geoOf)
    val names = fileSchema.fieldNames.toSet
    val schema = StructType(fileSchema.map { f =>
      geo.flatMap(_.columns.get(f.name)).fold(f) { cm =>
        val mb = new MetadataBuilder()
          .putString(MetaKeyEncoding, cm.encoding)
          .putString(MetaKeyCrs, cm.crs)
        // only a covering column that actually exists may prune
        cm.covering.filter(names).foreach(mb.putString(MetaKeyCovering, _))
        f.copy(metadata = mb.build())
      }
    })
    // NOTE: covering columns are per-geometry-column (`__bbox_<col>`,
    // written by `write(addBboxColumn = true)`); SpatialFilterRule
    // resolves them by name against the attribute a predicate tests. A
    // pre-multi-covering dataset carrying a bare `__bbox` column gets
    // no automatic pruning (an alias-rename here would sit in a Project
    // the optimizer prunes away before the rule runs) — rewrite such
    // datasets once with the current writer. Silent pruning loss is a
    // scale surprise, so surface it once per JVM at read time.
    if (geo.isDefined && names("__bbox") && legacyBboxWarned.compareAndSet(false, true))
      log.warn(s"GeoParquet dataset at $path carries a legacy bare '__bbox' covering " +
        "column; spatial row-group pruning now binds per-column '__bbox_<col>' names " +
        "and will NOT use it. Rewrite the dataset once with GeoParquet.write(..., " +
        "addBboxColumn = true) to restore pruning.")
    spark.read.schema(schema).parquet(path)
  }

  /** The `geo` metadata of a whole dataset: every part file's footer is
    * opened (one driver-side read each) and their per-file stats unioned —
    * geometry types as a sorted union, bbox as the union of the files'
    * defined boxes (None when no file has one). Version, primary column
    * and each column's encoding, CRS and covering come from the first
    * footer by path that has a `geo` key. No optimizer path calls this;
    * [[read]] and the spatial rule open one footer only.
    */
  def readMetadata(spark: SparkSession, path: String): Option[GeoParquetMetadata] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val metas = partFiles(conf, path).flatMap(f => geoOf(footerOf(conf, f)))
    metas.headOption.map { first =>
      first.copy(columns = first.columns.map { case (name, c) =>
        val same = metas.flatMap(_.columns.get(name))
        name -> c.copy(
          geometryTypes = same.flatMap(_.geometryTypes).distinct.sorted,
          bbox = same.flatMap(_.bbox).reduceOption((a, b) =>
            (a._1 min b._1, a._2 min b._2, a._3 max b._3, a._4 max b._4)))
      })
    }
  }
}
