package graft.streaming

import graft.geo.GeoParquet
import org.apache.spark.sql.DataFrame

/** Streaming GeoParquet ingest (cross-block: D10 foreachBatch sink × A2
  * write-time footers): each micro-batch lands as a GeoParquet dataset
  * under `root/batch=<id>/` — every part file carries the `geo` footer
  * from its first write, and re-running a batch id (checkpoint replay
  * after failure) overwrites idempotently rather than duplicating.
  *
  * Consistency note: replayed batches REWRITE their directory (delete +
  * write), so a reader racing a replay can transiently miss that batch —
  * readers needing a stable view should snapshot the batch directory list
  * (or read a manifest) rather than globbing mid-recovery.
  *
  * Scale note: one directory per micro-batch is the standard streaming
  * lakehouse layout (compaction happens downstream); footer stats are
  * computed per part file by its writer — bounded work per trigger.
  */
object GeoStreamWriter {

  /** foreachBatch hook: `.writeStream.foreachBatch(GeoStreamWriter.sink(root, "geometry"))`.
    *
    * An empty batch writes no directory. Otherwise the batch plan runs
    * once more, for the write itself: each part file's writer computes
    * its own footer from the rows it writes, so there is no stats pass to
    * share a materialization with.
    */
  def sink(root: String, geometryColumn: String,
      crs: String = graft.geo.GeoParquetMetadata.DefaultCrs): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty)
        GeoParquet.write(batch, s"$root/batch=$batchId", Seq(geometryColumn), crs = crs)

  /** Read the union of all written batches (plain read keeps pushdown).
    * Throws with a clear message before any batch exists — the parquet
    * glob cannot produce a schema from zero files.
    */
  def readAll(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame = {
    val dirs = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    if (dirs.isEmpty)
      throw new IllegalStateException(
        s"no GeoParquet batches under $root yet (stream not started or all batches empty)")
    spark.read.parquet(s"$root/batch=*")
  }
}
