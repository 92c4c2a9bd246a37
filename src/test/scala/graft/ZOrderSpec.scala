package graft

import graft.functions.{ZOrder, ZOrderValue}
import graft.geo.GeoParquet
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order clustering: the Morton code matches a reference bit-interleave,
  * and a clustered GeoParquet write produces files whose bounding boxes
  * are drastically tighter than an unclustered write — which is what makes
  * `__bbox` statistics selective at scale.
  */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Reference Morton interleave (loop form). */
  private def mortonRef(xi: Long, yi: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 21) {
      z |= ((xi >> i) & 1L) << (2 * i)
      z |= ((yi >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("Column-algebra Morton code equals the reference bit interleave") {
    import spark.implicits._
    val cells = (1L << 21) - 1
    // mirror quant's double arithmetic exactly (same op order), so the
    // assertion tests the INTERLEAVE and not an unguaranteed float
    // identity like v/(2^21-1)*(2^21-1) == v
    def quantRef(v: Long): Long = {
      val scaled = (v.toDouble - 0.0) / cells.toDouble * cells.toDouble
      math.floor(math.min(math.max(scaled, 0.0), cells.toDouble)).toLong
    }
    val samples = Seq((0L, 0L), (1L, 0L), (0L, 1L), (123456L, 654321L),
      (cells, cells), (cells, 0L), (0L, cells), (1048576L, 2097151L),
      (77777L, 1999999L), (31L, 1L << 20))
    val df = samples.toDF("xi", "yi")
      .select(col("xi"), col("yi"),
        ZOrder.zorder(col("xi").cast("double"), col("yi").cast("double"),
          0.0, 0.0, cells.toDouble, cells.toDouble).as("z"))
    df.collect().foreach { r =>
      assert(r.getLong(2) === mortonRef(quantRef(r.getLong(0)), quantRef(r.getLong(1))),
        s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("degenerate bbox (one axis collapsed) and out-of-range inputs do not crash under ANSI") {
    import spark.implicits._
    // all points on y = 5: ymin == ymax in the global envelope
    val rows = Seq((0.0, 5.0), (10.0, 5.0), (1e18, 5.0), (-1e18, 5.0))
      .toDF("x", "y")
      .select(ZOrder.zorder(col("x"), col("y"), 0.0, 5.0, 10.0, 5.0).as("z"))
      .collect()
    assert(rows.length === 4)
    // far-out x clamps to the edge cells rather than overflowing the cast
    assert(rows.map(_.getLong(0)).forall(z => z >= 0L))
  }

  test("clustered write: per-file bboxes are far tighter than unclustered") {
    import spark.implicits._
    // deterministic pseudo-random points over [0,1000)^2
    val pts = (0 until 5000).map { i =>
      val h = TextFunctions.splitmix64(i.toLong + 99)
      val x = ((h >>> 11) % 1000000L) / 1000.0
      val y = ((TextFunctions.splitmix64(h) >>> 11) % 1000000L) / 1000.0
      (i.toLong, GeoFunctions.stPointF(x, y))
    }
    val df = pts.toDF("id", "geometry").repartition(8)

    def totalBboxArea(path: String): Double = {
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .select(min(GeoFunctions.st_x(col("geometry"))).as("x0"),
              max(GeoFunctions.st_x(col("geometry"))).as("x1"),
              min(GeoFunctions.st_y(col("geometry"))).as("y0"),
              max(GeoFunctions.st_y(col("geometry"))).as("y1"))
            .collect().head
          (r.getDouble(1) - r.getDouble(0)) * (r.getDouble(3) - r.getDouble(2))
        }.sum
    }

    val plain = "/tmp/graft_test/z_plain"
    val clustered = "/tmp/graft_test/z_clustered"
    GeoParquet.write(df, plain, Seq("geometry"))
    GeoParquet.write(df, clustered, Seq("geometry"), spatialClusterFiles = Some(8))

    val aPlain = totalBboxArea(plain)
    val aClustered = totalBboxArea(clustered)
    // 8 random-content files each span ~the whole extent (sum ≈ 8×10^6);
    // 8 z-range files tile it (sum ≈ 10^6 + fringe). 3x headroom on the
    // ≥4x expected improvement keeps the test robust.
    assert(aClustered < aPlain / 3.0,
      s"clustered=$aClustered plain=$aPlain — clustering had no locality effect")
    // same rows survive
    assert(spark.read.parquet(clustered).count() === 5000)
    assert(GeoParquet.readMetadata(spark, clustered).isDefined)
  }

  /** The Column-algebra quantize-and-interleave the clustered write used
    * before `ZOrder.value` existed: the reference for bit-for-bit parity.
    */
  private def columnZ(x: Column, y: Column, f: ZOrder.Frame): Column = {
    val cells = (1L << 21) - 1
    def spread(v: Column): Column = {
      var s = v.bitwiseAND(lit(cells))
      s = s.bitwiseOR(shiftleft(s, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      s = s.bitwiseOR(shiftleft(s, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      s = s.bitwiseOR(shiftleft(s, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      s = s.bitwiseOR(shiftleft(s, 2)).bitwiseAND(lit(0x3333333333333333L))
      s.bitwiseOR(shiftleft(s, 1)).bitwiseAND(lit(0x5555555555555555L))
    }
    def quant(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else floor(least(greatest(nanvl((c - lit(lo)) / lit(hi - lo) * lit(cells.toDouble),
        lit(0.0)), lit(0.0)), lit(cells.toDouble))).cast("long")
    spread(quant(x, f.xmin, f.xmax)).bitwiseOR(shiftleft(spread(quant(y, f.ymin, f.ymax)), 1))
  }

  test("ZOrder.value equals the native expression and the Column-algebra code") {
    import spark.implicits._
    val r = new scala.util.Random(5)
    val odd = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      1e300, -1e300, -50.0, 150.0, 0.0, -0.0)
    val pts: Seq[(Option[Double], Option[Double])] =
      Seq.fill(300)((Some(r.nextDouble() * 400 - 150), Some(r.nextDouble() * 400 - 150))) ++
        odd.flatMap(a => odd.map(b => (Some(a), Some(b)))) ++
        Seq((None, Some(1.0)), (Some(1.0), None))
    val frames = Seq(
      ZOrder.Frame(-50.0, -20.0, 150.0, 80.0),
      ZOrder.Frame(3.0, -20.0, 3.0, 80.0), // degenerate x axis
      ZOrder.Frame(-50.0, 7.5, 150.0, 7.5), // degenerate y axis
      ZOrder.Frame(10.0, 10.0, -10.0, -10.0), // inverted: both axes cell 0
      ZOrder.Frame(-1e308, -1e308, 1e308, 1e308)) // hi - lo overflows to infinity
    // the shuffle keeps the projection off the driver-side local relation,
    // so the native expression runs as generated code
    val df = pts.toDF("x", "y").repartition(2)
    frames.foreach { f =>
      val got = df.select(col("x"), col("y"),
          ZOrder.zorder(col("x"), col("y"), f.xmin, f.ymin, f.xmax, f.ymax).as("z"),
          columnZ(col("x"), col("y"), f).as("ref"))
        .collect()
      assert(got.length === pts.length)
      got.foreach { row =>
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val (x, y) = (row.getDouble(0), row.getDouble(1))
          assert(row.getLong(2) === row.getLong(3), s"$f $x $y")
          assert(row.getLong(2) === ZOrder.value(x, y, f), s"$f $x $y")
          assert(ZOrderValue(Literal(x), Literal(y), f).eval() === ZOrder.value(x, y, f))
        } else {
          // a null coordinate has no Z value (the Column code put it in
          // cell 0, as `greatest` skips nulls); the write sends it to range 0
          assert(row.isNullAt(2), s"$f ${row.get(0)} ${row.get(1)}")
        }
      }
    }
  }

  /** `n` seeded points uniform over [x0, x0 + w) × [y0, y0 + w). */
  private def uniform(n: Int, seed: Long, x0: Double, y0: Double, w: Double): DataFrame = {
    val r = new scala.util.Random(seed)
    val rows = (0 until n).map(i => (i.toLong, x0 + r.nextDouble() * w, y0 + r.nextDouble() * w))
    spark.createDataFrame(rows).toDF("id", "x", "y")
      .select(col("id"), GeoFunctions.st_point(col("x"), col("y")).as("geometry"))
  }

  private def partFiles(path: String): Seq[String] =
    new java.io.File(path).listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq

  test("clustered write: 100k uniform points spread evenly over 32 files") {
    val out = "/tmp/graft_test/z_balance"
    GeoParquet.write(uniform(100000, 41, 0.0, 0.0, 1000.0), out, Seq("geometry"),
      spatialClusterFiles = Some(32))
    val counts = spark.read.parquet(out).groupBy(input_file_name()).count()
      .collect().map(_.getLong(1).toDouble)
    assert(counts.length === 32)
    assert(counts.sum === 100000.0)
    val mean = counts.sum / counts.length
    val sd = math.sqrt(counts.map(c => (c - mean) * (c - mean)).sum / counts.length)
    assert(sd / mean <= 0.1, s"rows per file: ${counts.sorted.mkString(", ")}")
  }

  test("clustered write: null and empty geometries are written to the first file") {
    import spark.implicits._
    val out = "/tmp/graft_test/z_nulls"
    val emptyCollection = Array[Byte](1, 7, 0, 0, 0, 0, 0, 0, 0)
    val geoms: Seq[Option[Array[Byte]]] =
      (0 until 2000).map(i => Some(GeoFunctions.stPointF((i * 37 % 1000).toDouble, (i % 1000).toDouble))) ++
        Seq.fill(10)(None) ++ Seq.fill(5)(Some(emptyCollection))
    val df = geoms.zipWithIndex.map { case (g, i) => (i.toLong, g) }.toDF("id", "geometry")
    GeoParquet.write(df, out, Seq("geometry"), addBboxColumn = true, spatialClusterFiles = Some(4))
    val files = partFiles(out)
    assert(files.length === 4)
    val back = spark.read.parquet(out).withColumn("f", input_file_name())
    assert(back.count() === 2015)
    val noEnvelope = back.filter(col("__bbox_geometry").isNull)
      .select(col("f"), col("geometry").isNull.as("isNull")).collect()
    assert(noEnvelope.count(_.getBoolean(1)) === 10)
    assert(noEnvelope.length === 15)
    assert(noEnvelope.map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName).toSet ===
      Set(files.head))
  }

  test("clustered write: empty and all-null input is written unclustered") {
    import spark.implicits._
    val empty = "/tmp/graft_test/z_empty"
    GeoParquet.write(uniform(0, 1, 0.0, 0.0, 1.0), empty, Seq("geometry"),
      addBboxColumn = true, spatialClusterFiles = Some(8))
    assert(GeoParquet.read(spark, empty).count() === 0)
    assert(GeoParquet.readMetadata(spark, empty).get.columns("geometry").bbox === None)

    val nulls = "/tmp/graft_test/z_all_null"
    val df = (0 until 50).map(i => (i.toLong, Option.empty[Array[Byte]])).toDF("id", "geometry")
      .repartition(3)
    GeoParquet.write(df, nulls, Seq("geometry"), addBboxColumn = true, spatialClusterFiles = Some(8))
    val back = GeoParquet.read(spark, nulls)
    assert(back.count() === 50)
    assert(back.filter(col("geometry").isNotNull).count() === 0)
    assert(GeoParquet.readMetadata(spark, nulls).get.columns("geometry").bbox === None)
  }

  test("clustered write: negative and mixed-sign coordinates keep locality") {
    // boxes of 3% of the extent's area read < 25% of the rows on average
    val n = 20000
    val side = math.sqrt(0.03)
    val pick = new scala.util.Random(3)
    val boxes = Seq.fill(8)((pick.nextDouble() * (1 - side), pick.nextDouble() * (1 - side)))
    for ((x0, y0, w, name) <- Seq((-1000.0, -500.0, 1000.0, "mixed"),
        (-2.0e6, -3.0e6, 500.0, "negative"))) {
      val out = s"/tmp/graft_test/z_locality_$name"
      GeoParquet.write(uniform(n, 7, x0, y0, w), out, Seq("geometry"),
        addBboxColumn = true, spatialClusterFiles = Some(32))
      val r = new scala.util.Random(7)
      val pts = Seq.fill(n)((x0 + r.nextDouble() * w, y0 + r.nextDouble() * w))
      val scanned = boxes.map { case (fx, fy) =>
        val (bx, by) = (x0 + fx * w, y0 + fy * w)
        val (ex, ey) = (bx + side * w, by + side * w)
        val q = GeoParquet.read(spark, out)
          .filter(GeoFunctions.st_intersects(col("geometry"),
            lit(GeoFunctions.stMakeBoxF(bx, by, ex, ey))))
          .select(col("id"))
        assert(q.collect().length === pts.count { case (x, y) => x >= bx && x <= ex && y >= by && y <= ey })
        q.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numOutputRows").value
        }.sum
      }
      info(s"$name: rows read per box ${scanned.mkString(", ")} of $n")
      assert(scanned.sum < n.toLong * boxes.length / 4, s"$name: ${scanned.mkString(", ")} of $n")
    }
  }

  test("a second clustered write over a different extent compiles no new class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // inputs read from files, so the write's projections run as generated
    // code (over a local relation the optimizer would evaluate them)
    def input(seed: Long, x0: Double, y0: Double, w: Double): DataFrame = {
      val p = s"/tmp/graft_test/z_compile_in$seed"
      uniform(3000, seed, x0, y0, w).repartition(3).write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    val (a, b) = (input(1, 0.0, 0.0, 1000.0), input(2, -70.0, 5000.0, 3.5))
    GeoParquet.write(a, "/tmp/graft_test/z_compile_a",
      Seq("geometry"), addBboxColumn = true, spatialClusterFiles = Some(8))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    GeoParquet.write(b, "/tmp/graft_test/z_compile_b",
      Seq("geometry"), addBboxColumn = true, spatialClusterFiles = Some(8))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0)
    assert(GeoParquet.readMetadata(spark, "/tmp/graft_test/z_compile_b").get
      .columns("geometry").bbox.exists(b => b._1 >= -70.0 && b._2 >= 5000.0))
  }
}
