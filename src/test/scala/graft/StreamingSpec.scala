package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** D5/D11 GOLDEN trace (SURVEY.md §5.2): watermark late-data drop and
  * append-mode emission semantics over a scripted two-batch input — the one
  * streaming behavior with no batch oracle. The expected table below is the
  * hand-derived trace documented inline.
  */
class StreamingSpec extends AnyFunSuite {

  private def writeBatch(dir: String, name: String, rows: Seq[(String, Int)]): Unit = {
    val spark = TestSpark.spark
    import spark.implicits._
    val tmp = s"$dir/_stage_$name"
    rows.map { case (ts, v) => (Timestamp.valueOf(ts), v) }
      .toDF("ts", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.move(Paths.get(part), Paths.get(s"$dir/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("watermark drops late rows; append emits only watermark-closed windows") {
    val spark = TestSpark.spark
    val dir = Files.createTempDirectory("graft_wm").toString

    // Batch 1: two rows in [10:00,11:00) + a 12:00 row driving the
    // watermark to 11:30, which closes and emits window [10:00,11:00).
    // Batch 2 (strictly later mod time): 10:20 is LATE INTO A CLOSED WINDOW
    // (end 11:00 <= watermark 11:30 -> dropped; were it admitted it would
    // re-open evicted state and append a spurious ("10:00", 1) row);
    // 11:45 is on time (its window end 12:00 > watermark); 13:00 drives the
    // watermark to 12:30, closing [11:00,12:00).
    val ckpt = Files.createTempDirectory("graft_wm_ckpt").toString
    val outDir = Files.createTempDirectory("graft_wm_out").toString

    // Parquet sink: append-mode emissions accumulate as files and the
    // checkpoint carries watermark + window state across runs (memory sink
    // cannot recover from a checkpoint).
    def runOnce(): Set[(String, Long)] = {
      val agg = spark.readStream
        .schema("ts TIMESTAMP, v INT")
        .parquet(dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "HH:mm").as("w"), col("n"))
      val q = agg.writeStream.format("parquet")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).option("path", outDir).start()
      q.awaitTermination()
      spark.read.parquet(outDir)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }
    // Two explicit runs over one checkpoint = two micro-batches with
    // persisted watermark/state between them.
    writeBatch(dir, "b1", Seq(("2024-01-01 10:05:00", 1),
      ("2024-01-01 10:15:00", 1), ("2024-01-01 12:00:00", 1)))
    val afterB1 = runOnce()
    // Watermark now 11:30: [10:00,11:00) closed and emitted with n=2.
    assert(afterB1 === Set(("10:00", 2L)))

    writeBatch(dir, "b2", Seq(("2024-01-01 10:20:00", 1),
      ("2024-01-01 11:45:00", 1), ("2024-01-01 13:00:00", 1)))
    val afterB2 = runOnce()
    // 10:20 fell into the closed [10:00,11:00) window -> dropped (no
    // spurious ("10:00", 1) re-emission); 11:45 counted; watermark 12:30
    // closed [11:00,12:00); [12:00+] windows remain open, never emitted.
    assert(afterB2 === Set(("10:00", 2L), ("11:00", 1L)))
  }

  test("dropDuplicatesWithinWatermark evicts key state at the horizon (d06b's bound)") {
    // The trace plain dropDuplicates can never produce: a key's dedup state
    // is EVICTED once the watermark passes event_time + delay, so a later
    // duplicate is re-emitted — the price of BOUNDED state on an unbounded
    // stream. No batch oracle can express this (DISTINCT has no horizon);
    // d06b's oracle run uses a delay wider than the data span instead.
    val spark = TestSpark.spark
    val dir = Files.createTempDirectory("graft_ddw").toString
    val ckpt = Files.createTempDirectory("graft_ddw_ckpt").toString
    val outDir = Files.createTempDirectory("graft_ddw_out").toString

    def writeKeyed(name: String, rows: Seq[(String, String)]): Unit = {
      import org.apache.spark.sql.SaveMode
      val sp = TestSpark.spark
      import sp.implicits._
      val tmp = s"$dir/_stage_$name"
      rows.map { case (ts, k) => (Timestamp.valueOf(ts), k) }
        .toDF("ts", "k").coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.move(Paths.get(part), Paths.get(s"$dir/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }

    def runOnce(): Seq[(String, String)] = {
      val dedup = spark.readStream
        .schema("ts TIMESTAMP, k STRING")
        .parquet(dir)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark("k")
        .select(date_format(col("ts"), "HH:mm").as("t"), col("k"))
      val q = dedup.writeStream.format("parquet")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).option("path", outDir).start()
      q.awaitTermination()
      spark.read.parquet(outDir)
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    }

    // Batch 1: k first seen 10:00 (emitted), duplicate 10:10 (within the
    // 30-minute horizon -> dropped), adv 12:00 (emitted) drives the
    // watermark to 11:30 — past k's expiry 10:30, so k's state is evicted.
    writeKeyed("b1", Seq(("2024-01-01 10:00:00", "k"),
      ("2024-01-01 10:10:00", "k"), ("2024-01-01 12:00:00", "adv")))
    assert(runOnce() === Seq(("10:00", "k"), ("12:00", "adv")).sorted)

    // Batch 2: k again at 11:45 — on time (>= watermark 11:30) and its
    // state is GONE -> RE-EMITTED (bounded-state semantics; dropDuplicates
    // would have suppressed it forever). adv at 12:05 is still within
    // adv's live state (expiry 12:30) -> dropped.
    writeKeyed("b2", Seq(("2024-01-01 11:45:00", "k"),
      ("2024-01-01 12:05:00", "adv")))
    assert(runOnce() ===
      Seq(("10:00", "k"), ("12:00", "adv"), ("11:45", "k")).sorted)
  }

  test("d21 stream pack over a one-row documents table: the empty doc_id ranges are skipped") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_d21_one").toString
    // doc_id 5 alone: range width 5 / 4 + 1 = 2, so only range b=2 has
    // rows and b=0, b=1, b=3 have no part file
    val toks = (0 until 300).map(i => s"t$i")
    Seq((5L, "src", toks.mkString(" "))).toDF("doc_id", "source", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("d21_stream_pack")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getString(4))).toSeq
    // 300 tokens + "</s>" fill two 128-token windows; the tail is dropped
    def md5(ts: Seq[String]): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(ts.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rows === Seq(
      ("src", 0L, "t0", "t127", md5(toks.slice(0, 128))),
      ("src", 1L, "t128", "t255", md5(toks.slice(128, 256)))))
  }

  /** A `documents.parquet` holding the table's schema and no row. */
  private def emptyDocuments(prefix: String): String = {
    val spark = TestSpark.spark
    val dir = Files.createTempDirectory(prefix).toString
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("d21 stream pack over an empty documents table returns no rows") {
    val dir = emptyDocuments("graft_d21_empty")
    assert(SparkEntry.queries("d21_stream_pack")(TestSpark.spark, dir).collect().isEmpty)
  }

  test("d15 incremental stream dedup over an empty documents table returns no rows") {
    val dir = emptyDocuments("graft_d15_empty")
    assert(SparkEntry.queries("d15_stream_incr_dedup")(TestSpark.spark, dir).collect().isEmpty)
  }

  test("d14 stream LM score over an empty documents table returns no rows") {
    val dir = emptyDocuments("graft_d14_empty")
    assert(SparkEntry.queries("d14_stream_lm_score")(TestSpark.spark, dir).collect().isEmpty)
  }

  test("d17 stream crawl over an empty documents table (an empty WARC directory) returns no rows") {
    val dir = emptyDocuments("graft_d17_empty")
    assert(SparkEntry.queries("d17_stream_crawl")(TestSpark.spark, dir).collect().isEmpty)
  }
}
