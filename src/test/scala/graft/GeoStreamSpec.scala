package graft

import graft.streaming.GeoStreamWriter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming GeoParquet ingest: file-stream source → st_point transform →
  * per-batch GeoParquet sink; every batch directory carries the geo
  * footer, and the union reads back complete.
  */
class GeoStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streamed points land as GeoParquet batches with footers") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_geostream_src").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_geostream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_geostream_ckpt").toString

    // cold start: readAll before any batch is a clear error, not a crash
    // deep inside the parquet reader
    val cold = intercept[IllegalStateException](GeoStreamWriter.readAll(spark, outDir))
    assert(cold.getMessage.contains("no GeoParquet batches"))

    (0 until 40).map(i => s"$i,${i * 1.5},${i * -0.5}")
      .grouped(20).zipWithIndex.foreach { case (lines, i) =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$srcDir/part$i.csv"),
          lines.mkString("\n").getBytes("UTF-8"))
      }

    val stream = spark.readStream
      .schema("id LONG, x DOUBLE, y DOUBLE")
      .option("maxFilesPerTrigger", "1") // force ≥2 micro-batches
      .csv(srcDir)
      .select(col("id"), GeoFunctions.st_point(col("x"), col("y")).as("geometry"))

    val finished = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(GeoStreamWriter.sink(outDir, "geometry"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination(120000)
    assert(finished, "stream did not finish within the timeout")

    val batches = new java.io.File(outDir).listFiles().filter(_.getName.startsWith("batch="))
    assert(batches.length >= 2, s"want ≥2 batch dirs, got ${batches.map(_.getName).toSeq}")
    batches.foreach { b =>
      val meta = graft.geo.GeoParquet.readMetadata(spark, b.getAbsolutePath)
      assert(meta.isDefined && meta.get.primaryColumn === "geometry", b.getName)
    }
    val back = GeoStreamWriter.readAll(spark, outDir)
    assert(back.count() === 40)
    assert(back.select(GeoFunctions.st_x(col("geometry")).as("x")).agg(max("x"))
      .collect().head.getDouble(0) === 39 * 1.5)
  }
}
