package graft

import graft.geo.{GeoColumnMeta, GeoParquet, GeoParquetMetadata}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, Metadata, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** A-block unit tier: metadata codec byte-fixture (A3), footer presence,
  * CRS carry-through (A7), column Metadata attach (A1).
  */
class GeoParquetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("GOLDEN: geo metadata JSON is byte-stable") {
    val m = GeoParquetMetadata(
      primaryColumn = "geometry",
      columns = Map("geometry" -> GeoColumnMeta(
        geometryTypes = Seq("Point"),
        bbox = Some((0.0, 1.0, 10.0, 11.0)))))
    assert(m.toJson ===
      """{"version":"1.0.0","primary_column":"geometry","columns":{"geometry":{"encoding":"WKB","geometry_types":["Point"],"crs":"OGC:CRS84","bbox":[0.0,1.0,10.0,11.0]}}}""")
  }

  test("metadata JSON round-trips") {
    val m = GeoParquetMetadata(
      primaryColumn = "geom",
      columns = Map("geom" -> GeoColumnMeta(
        geometryTypes = Seq("Point", "Polygon"), crs = "EPSG:4326",
        bbox = Some((-1.5, -2.5, 3.5, 4.5)))))
    assert(GeoParquetMetadata.fromJson(m.toJson) === m)
  }

  test("1.1 covering codec: round-trip, version bump, malformed refs decode to None") {
    val m = GeoParquetMetadata(
      primaryColumn = "g",
      columns = Map("g" -> GeoColumnMeta(covering = Some("cov"))))
    val j = m.toJson
    assert(j.contains("\"version\":\"1.1.0\""), j) // covering ⇒ 1.1
    assert(j.contains("\"covering\":{\"bbox\":{\"xmin\":[\"cov\",\"xmin\"]"), j)
    assert(GeoParquetMetadata.fromJson(j).columns("g").covering === Some("cov"))
    // the four paths must agree on ONE column — else no covering
    val split = j.replaceFirst("""\["cov","xmin"\]""", """["other","xmin"]""")
    assert(GeoParquetMetadata.fromJson(split).columns("g").covering === None)
    // wrong field name in a path — else no covering
    val wrongField = j.replaceFirst("""\["cov","ymin"\]""", """["cov","ymax"]""")
    assert(GeoParquetMetadata.fromJson(wrongField).columns("g").covering === None)
    // no covering anywhere ⇒ version stays 1.0.0 (byte-stable 1.0 footers)
    assert(GeoParquetMetadata(primaryColumn = "g",
      columns = Map("g" -> GeoColumnMeta())).toJson.contains("\"version\":\"1.0.0\""))
  }

  test("write(addBboxColumn) declares the 1.1 covering in the footer") {
    val out = "/tmp/graft_test/geo_spec_covering"
    val df = TestSpark.spark.range(10).toDF("id")
      .select(col("id"), GeoFunctions.st_point(col("id").cast("double"),
        lit(2.0) * col("id").cast("double")).as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"), addBboxColumn = true)
    val meta = GeoParquet.readMetadata(spark, out).get
    assert(meta.version === "1.1.0")
    assert(meta.columns("geometry").covering === Some("__bbox_geometry"))
    // read attaches the declared covering to the column metadata
    val back = GeoParquet.read(spark, out)
    assert(back.schema("geometry").metadata.getString("geo.covering")
      === "__bbox_geometry")
  }

  test("write injects footer geo key; read re-attaches column metadata + CRS") {
    val out = "/tmp/graft_test/geo_spec"
    val df = TestSpark.spark.range(10).toDF("id")
      .select(col("id"), GeoFunctions.st_point(col("id").cast("double"),
        lit(2.0) * col("id").cast("double")).as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"), crs = "EPSG:3857")

    val meta = GeoParquet.readMetadata(spark, out)
    assert(meta.isDefined)
    assert(meta.get.primaryColumn === "geometry")
    val cm = meta.get.columns("geometry")
    assert(cm.encoding === "WKB")
    assert(cm.crs === "EPSG:3857")
    assert(cm.geometryTypes === Seq("Point"))
    assert(cm.bbox === Some((0.0, 0.0, 9.0, 18.0)))

    val back = GeoParquet.read(spark, out)
    val fieldMeta = back.schema("geometry").metadata
    assert(fieldMeta.getString("geo.encoding") === "WKB")
    assert(fieldMeta.getString("geo.crs") === "EPSG:3857")
    // data intact
    assert(back.count() === 10)
    assert(back.select(GeoFunctions.st_y(col("geometry")))
      .collect().map(_.getDouble(0)).sorted.toSeq === (0 until 10).map(_ * 2.0))
  }

  test("mixed geometry types: stats record all types, bbox spans both") {
    val out = "/tmp/graft_test/geo_mixed"
    val pts = spark.range(5).toDF("id")
      .select(col("id"), GeoFunctions.st_point(col("id").cast("double"), lit(0.0)).as("geometry"))
    val boxes = spark.range(5, 10).toDF("id")
      .select(col("id"), GeoFunctions.st_makebox(lit(20.0), lit(-5.0),
        col("id").cast("double") * 10, lit(5.0)).as("geometry"))
    // header type codes with flag bits: an EWKB point with an SRID, and an
    // ISO LineString Z (code 1002), named as st_geometrytype names them
    val ewkb = spark.range(1).select((col("id") + 10).as("id"),
      GeoFunctions.st_setsrid(GeoFunctions.st_point(lit(1.0), lit(1.0)), lit(4326)).as("geometry"))
    val lineZ = java.nio.ByteBuffer.allocate(9 + 48).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(1.toByte).putInt(1002).putInt(2)
      .putDouble(1.0).putDouble(1.0).putDouble(7.0).putDouble(2.0).putDouble(2.0).putDouble(7.0)
      .array()
    val iso = spark.createDataFrame(Seq((11L, lineZ))).toDF("id", "geometry")
    GeoParquet.write(pts.unionByName(boxes).unionByName(ewkb).unionByName(iso),
      out, Seq("geometry"))
    val cm = GeoParquet.readMetadata(spark, out).get.columns("geometry")
    assert(cm.geometryTypes === Seq("LineString", "Point", "Polygon")) // sorted
    assert(cm.bbox === Some((0.0, -5.0, 90.0, 5.0)))
  }

  test("partitioned geoparquet write: footer injected in nested part files") {
    val out = "/tmp/graft_test/geo_part"
    val df = spark.range(100).toDF("id")
      .select(col("id"), (col("id") % 4).as("bucket"),
        GeoFunctions.st_point(col("id").cast("double"), lit(1.0)).as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"), partitionBy = Seq("bucket"))
    val meta = GeoParquet.readMetadata(spark, out)
    assert(meta.isDefined && meta.get.primaryColumn === "geometry")
    // the union over every bucket=<k>/ part file's own footer
    assert(meta.get.columns("geometry").bbox === Some((0.0, 1.0, 99.0, 1.0)))
    assert(meta.get.columns("geometry").geometryTypes === Seq("Point"))
    val back = GeoParquet.read(spark, out)
    assert(back.count() === 100)
    assert(back.schema("geometry").metadata.getString("geo.encoding") === "WKB")
    // partition pruning still works through the rewritten files
    val plan = back.filter(col("bucket") === 2).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"))
  }

  test("first write already carries the geo footer in EVERY part file (no rewrite pass)") {
    val out = "/tmp/graft_test/geo_writetime"
    val df = spark.range(64).toDF("id").repartition(4)
      .select(col("id"), GeoFunctions.st_point(col("id").cast("double"), lit(0.0)).as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"))

    val dir = new java.io.File(out)
    val parts = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.length >= 2, "want multiple part files to prove per-task injection")
    // no rewrite artifacts: write-time injection leaves no tmp/bak behind
    assert(!dir.listFiles().exists(f =>
      f.getName.endsWith(".geo.tmp") || f.getName.endsWith(".geo.bak")))
    val conf = spark.sparkContext.hadoopConfiguration
    parts.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      val kv = try reader.getFooter.getFileMetaData.getKeyValueMetaData finally reader.close()
      assert(kv.containsKey("geo"), s"part ${f.getName} missing geo footer")
      assert(kv.get("geo").contains("\"primary_column\":\"geometry\""))
    }
  }

  test("injectFooterInto retrofits a geo footer onto plain parquet") {
    val out = "/tmp/graft_test/geo_retrofit"
    spark.range(10).toDF("id")
      .select(col("id"), GeoFunctions.st_point(col("id").cast("double"), lit(3.0)).as("geometry"))
      .write.mode("overwrite").parquet(out)
    assert(GeoParquet.readMetadata(spark, out).isEmpty)
    val json = GeoParquetMetadata(primaryColumn = "geometry",
      columns = Map("geometry" -> GeoColumnMeta(geometryTypes = Seq("Point")))).toJson
    GeoParquet.injectFooterInto(spark, out, json)
    val meta = GeoParquet.readMetadata(spark, out)
    assert(meta.isDefined && meta.get.primaryColumn === "geometry")
    // data still reads after the byte-level rewrite
    assert(spark.read.parquet(out).count() === 10)
  }

  private def points(n: Int) = spark.range(n).toDF("id")
    .select(col("id"), GeoFunctions.st_point(col("id").cast("double"), lit(1.0)).as("geometry"))

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def stripMetadata(s: StructType): StructType =
    StructType(s.map(_.copy(metadata = Metadata.empty)))

  private def extentOf(df: org.apache.spark.sql.DataFrame) = {
    val e = GeoFunctions.stEnvelopeStruct(col("geometry"))
    val r = df.agg(min(e.getField("xmin")), min(e.getField("ymin")),
      max(e.getField("xmax")), max(e.getField("ymax"))).head()
    (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
  }

  // Fails at a writer that puts the dataset's stats in every file.
  test("per-file footers: each part file's bbox and types describe its own rows") {
    val out = "/tmp/graft_test/geo_perfile"
    withConf("spark.sql.files.maxRecordsPerFile", "7") {
      GeoParquet.write(points(40).repartition(2), out, Seq("geometry"))
    }
    val parts = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.length > 2, "want tasks that roll over to a second file")
    parts.foreach { f =>
      val cm = GeoParquet.readMetadata(spark, f.getPath).get.columns("geometry")
      val rows = spark.read.parquet(f.getPath)
      assert(cm.bbox === Some(extentOf(rows)), f.getName)
      assert(cm.geometryTypes === rows.select(GeoFunctions.st_geometrytype(col("geometry")))
        .distinct().collect().map(_.getString(0)).sorted.toSeq, f.getName)
    }
    assert(GeoParquet.readMetadata(spark, out).get.columns("geometry").bbox ===
      Some((0.0, 1.0, 39.0, 1.0)))
  }

  // Fails at a writer whose stats come from a separate execution of the
  // input plan: the stats job and the write draw different coordinates.
  test("nondeterministic input: the footer bbox is the extent of the rows written") {
    val out = "/tmp/graft_test/geo_nondet"
    val rnd = udf(() => scala.util.Random.nextDouble() * 100).asNondeterministic()
    val df = spark.range(50).toDF("id")
      .select(col("id"), GeoFunctions.st_point(rnd(), rnd()).as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"))
    assert(GeoParquet.readMetadata(spark, out).get.columns("geometry").bbox ===
      Some(extentOf(GeoParquet.read(spark, out))))
  }

  // Passes at a writer with a pre-write stats pass too.
  test("empty input: the footer names the column, with no types and no bbox") {
    val out = "/tmp/graft_test/geo_empty"
    GeoParquet.write(points(0), out, Seq("geometry"))
    val cm = GeoParquet.readMetadata(spark, out).get.columns("geometry")
    assert(cm.geometryTypes === Nil)
    assert(cm.bbox === None)
    assert(GeoParquet.read(spark, out).count() === 0)
  }

  // Passes at a writer with a pre-write stats pass too: its JTS parse
  // rejects the same bytes.
  test("malformed WKB: the write rejects an unknown geometry type code") {
    val out = "/tmp/graft_test/geo_malformed"
    val bad = spark.createDataFrame(Seq((1L, Array[Byte](1, 99, 0, 0, 0))))
      .toDF("id", "geometry")
    intercept[Exception](GeoParquet.write(bad, out, Seq("geometry")))
  }

  test("a stray part file under _temporary/ decides neither footer nor schema") {
    val out = "/tmp/graft_test/geo_stray"
    GeoParquet.write(points(10), out, Seq("geometry"))
    // a differently shaped GeoParquet file, planted where an aborted job
    // leaves its attempt output; "_temporary" sorts before "part-"
    val other = "/tmp/graft_test/geo_stray_src"
    GeoParquet.write(spark.range(3).select(col("id").cast("string").as("name"),
      GeoFunctions.st_point(lit(5.0), lit(5.0)).as("g2")), other, Seq("g2"), crs = "EPSG:3857")
    val src = new java.io.File(other).listFiles().filter(_.getName.endsWith(".parquet")).head
    val stray = java.nio.file.Paths.get(out, "_temporary", "0", "_temporary",
      "attempt_202610180000_0000_m_000000_0", "part-00000-stray.parquet")
    java.nio.file.Files.createDirectories(stray.getParent)
    java.nio.file.Files.copy(src.toPath, stray)

    val meta = GeoParquet.readMetadata(spark, out).get
    assert(meta.primaryColumn === "geometry")
    assert(meta.columns("geometry").crs === GeoParquetMetadata.DefaultCrs)
    val back = GeoParquet.read(spark, out)
    assert(back.schema.fieldNames.toSeq === Seq("id", "geometry"))
    assert(back.schema("geometry").metadata.getString("geo.encoding") === "WKB")
    assert(back.count() === 10)
  }

  test("mergeSchema on: read returns the merged column set, as spark.read.parquet does") {
    val out = "/tmp/graft_test/geo_merge"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    // each append adds a column the other part file lacks, so no single
    // footer holds the merged schema whichever file sorts first
    points(5).withColumn("a", lit(1)).write.mode("append").parquet(out)
    points(5).withColumn("b", lit("x")).write.mode("append").parquet(out)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val merged = spark.read.parquet(out).schema
      assert(merged.fieldNames.toSet === Set("id", "geometry", "a", "b"))
      val back = GeoParquet.read(spark, out)
      assert(stripMetadata(back.schema) === stripMetadata(merged))
      assert(back.count() === 10)
    }
    assert(GeoParquet.read(spark, out).schema.fieldNames.length === 3)
  }

  test("read schema equals spark.read.parquet's: plain, covering, partitioned, foreign writer") {
    def assertParity(p: String): StructType = {
      val s = GeoParquet.read(spark, p).schema
      assert(stripMetadata(s) === stripMetadata(spark.read.parquet(p).schema), p)
      s
    }
    val plain = "/tmp/graft_test/geo_parity_plain"
    GeoParquet.write(points(20).repartition(3), plain, Seq("geometry"))
    assertParity(plain)
    val covered = "/tmp/graft_test/geo_parity_covering"
    GeoParquet.write(points(20), covered, Seq("geometry"), addBboxColumn = true)
    assertParity(covered)
    val parted = "/tmp/graft_test/geo_parity_part"
    GeoParquet.write(points(20).withColumn("bucket", col("id") % 4), parted,
      Seq("geometry"), partitionBy = Seq("bucket"))
    assert(assertParity(parted).fieldNames.last === "bucket")

    // parquet-java's example writer: no Spark row-metadata key, and `raw`
    // is a binary column without a STRING annotation
    val foreign = "/tmp/graft_test/geo_parity_foreign"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(foreign))
    val mt = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary raw; optional binary name (STRING); }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$foreign/part-00000.parquet"),
        spark.sparkContext.hadoopConfiguration))
      .withType(mt).build()
    try {
      val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(mt)
      (0 until 3).foreach { i =>
        writer.write(groups.newGroup().append("id", i.toLong).append("raw", s"r$i").append("name", s"n$i"))
      }
    } finally writer.close()
    Seq("true" -> StringType, "false" -> BinaryType).foreach { case (asString, rawType) =>
      withConf("spark.sql.parquet.binaryAsString", asString) {
        assert(assertParity(foreign)("raw").dataType === rawType)
        assert(GeoParquet.read(spark, foreign).count() === 3)
      }
    }
  }

  test("read starts no Spark job on a multi-file dataset") {
    val out = "/tmp/graft_test/geo_nojob"
    GeoParquet.write(points(64).repartition(4), out, Seq("geometry"))
    assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet")) >= 2)
    val sc = spark.sparkContext
    val key = "graft.test.phase"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(key))).foreach(started.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "read")
      val df = GeoParquet.read(spark, out)
      // the listener bus delivers events in order: once the fence job's
      // start is seen, every job the read started has been seen as well
      sc.setLocalProperty(key, "fence")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.contains("fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains("fence"), "listener bus did not drain")
      assert(started.toArray.count(_ == "read") === 0)
      assert(df.count() === 64)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("footer rewrite preserves row-group statistics pushdown") {
    val out = "/tmp/graft_test/geo_spec2"
    val df = spark.range(1000).toDF("id")
      .select(col("id"), GeoFunctions.st_point(col("id").cast("double"), lit(0.0)).as("geometry"))
    GeoParquet.write(df, out, Seq("geometry"))
    val plan = spark.read.parquet(out).filter(col("id") > 990)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,990)]"))
    assert(spark.read.parquet(out).filter(col("id") > 990).count() === 9)
  }
}
