package graft.queries

import graft.{Graft, QueryBlock, QueryDef, Tables}
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming operators (SURVEY.md §2 block D), ORACLE-B harness: each query
  * is a genuine Structured Streaming job (file source -> stateful transforms
  * -> memory sink) run to completion with AvailableNow; the FINAL table is
  * what the driver hash-compares against a batch DuckDB query.
  *
  * Event time is the ns-truncated-to-µs `ts` (SURVEY §1.2); oracles that
  * depend on time arithmetic (session gaps, sliding windows) compute on
  * epoch_ns(ts)//1000 so both engines see identical integers.
  */
object Streaming extends QueryBlock {
  import Graft._

  private def fmt(c: org.apache.spark.sql.Column) =
    date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** DuckDB byte-at-1-based-offset from `H = hex(content)` (the
    * LlmPipeline hex-walk idiom, needed here by d13's image oracle).
    */
  private def duckHexB(off: Int): String =
    s"(strpos('123456789ABCDEF', substr(H, ${2 * off - 1}, 1))*16 + strpos('123456789ABCDEF', substr(H, ${2 * off}, 1)))"

  val queries: Map[String, QueryDef] = Map(
    // D1 — file stream source scan: per-type counts of the full stream.
    "d01_stream_scan" -> QueryDef(
      (s, dir) => {
        val agg = EventStreams.events(s, dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sumD2(col("value")).as("sum_value"))
        EventStreams.runToTable(s, agg, "d01_sink").orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, count(*) AS n,
        ${sqlSumD2("value")} AS sum_value
        FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST""")),

    // D2 — tumbling event-time window (1 hour).
    "d02_tumbling_window" -> QueryDef(
      (s, dir) => {
        val agg = EventStreams.events(s, dir)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), sumD2(col("value")).as("sum_value"))
        EventStreams.runToTable(s, agg, "d02_sink")
          .select(fmt(col("window.start")).as("w"), col("event_type"), col("n"), col("sum_value"))
          .orderBy(col("w"), col("event_type"))
      },
      Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w, event_type,
        count(*) AS n, ${sqlSumD2("value")} AS sum_value
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""")),

    // D3 — sliding window (2h length, 30min slide): every event lands in
    // exactly 4 epoch-aligned windows; the oracle enumerates them.
    "d03_sliding_window" -> QueryDef(
      (s, dir) => {
        val agg = EventStreams.events(s, dir)
          .groupBy(window(col("ts"), "2 hours", "30 minutes"))
          .agg(count(lit(1)).as("n"))
        EventStreams.runToTable(s, agg, "d03_sink")
          .select(fmt(col("window.start")).as("w"), col("n"))
          .orderBy(col("w"))
      },
      Some("""WITH e AS (SELECT (epoch_ns(ts)//1000)//1800000000*1800000000 AS slide_floor_us
          FROM events WHERE ts IS NOT NULL),
        w AS (SELECT make_timestamp(slide_floor_us - i*1800000000) AS w_start
          FROM e, UNNEST(generate_series(CAST(0 AS BIGINT), CAST(3 AS BIGINT))) AS u(i))
        SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w, count(*) AS n
        FROM w GROUP BY 1 ORDER BY 1""")),

    // D4 — session window, 10-minute gap, per user (first 30 users to keep
    // the result bounded). Oracle: gaps-and-islands over µs integers.
    "d04_session_window" -> QueryDef(
      (s, dir) => {
        val agg = EventStreams.events(s, dir)
          .filter(col("user_id") < 30)
          .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
        EventStreams.runToTable(s, agg, "d04_sink")
          .select(fmt(col("session_window.start")).as("sess_start"), col("user_id"), col("n"))
          .orderBy(col("user_id"), col("sess_start"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_ns(ts)//1000 AS ts_us
          FROM events WHERE user_id < 30 AND ts IS NOT NULL),
        flagged AS (SELECT user_id, ts_us,
          CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) > 600000000
               OR lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
            THEN 1 ELSE 0 END AS new_sess
          FROM e),
        sess AS (SELECT user_id, ts_us,
          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us) AS sess_id
          FROM flagged)
        SELECT strftime(make_timestamp(min(ts_us)), '%Y-%m-%d %H:%M:%S') AS sess_start,
          user_id, count(*) AS n
        FROM sess GROUP BY user_id, sess_id ORDER BY user_id, sess_start""")),

    // D5 — WATERMARK + LATE-DATA DROP as a driver-ORACLE row (VERDICT r9
    // item 8, closing the last promotable GOLDEN): a SCRIPTED
    // out-of-order fixture whose drop set is known BY CONSTRUCTION, so
    // the final append-mode table is batch-derivable without modeling
    // watermark semantics in SQL. Four parquet files with explicitly
    // staggered mtimes arrive as four triggers (maxFilesPerTrigger=1);
    // each batch advances the 30s watermark past earlier windows, and
    // the planted late events (event_id ≥ 900000, each ≥ 50s inside the
    // already-passed region — no boundary-tie ambiguity) MUST drop; a
    // final far-future flush event pushes the closing watermark past
    // every surviving window so append mode emits them all, while the
    // flush's own window stays open and never emits. The oracle counts
    // the same fixture files EXCLUDING the planted late set (and the
    // flush) — if the engine fails to drop a late row, or over-drops an
    // on-time one, a count differs and the row goes red. 10 users
    // replicate the pattern so every (window, type) cell has weight.
    "d05_late_drop" -> QueryDef(
      (s, dir) => {
        val base = s"${Graft.scratchDir}/d05_late_${new java.io.File(dir).getName}"
        val fd = new java.io.File(base)
        if (fd.exists()) fd.listFiles().foreach(_.delete())
        fd.mkdirs()
        import s.implicits._
        def ts(min: Int, sec: Int): java.sql.Timestamp =
          java.sql.Timestamp.valueOf(f"2026-03-01 10:$min%02d:$sec%02d")
        // (event_id, ts, user_id, event_type, value, props) per user u
        def rows(u: Long, specs: Seq[(Long, java.sql.Timestamp, String)]) =
          specs.map { case (id, t, et) =>
            (u * 100 + id, t, u, et, 1.0, """{"k": 1}""") }
        val users = 0L until 10L
        val batches: Seq[Seq[(Long, java.sql.Timestamp, String)]] = Seq(
          // b0: two 10:00 windows + one 10:05 — sets the watermark clock
          Seq((1L, ts(0, 10), "a"), (2L, ts(0, 20), "b"), (3L, ts(5, 30), "a")),
          // b1: on-time only. The first watermark (10:05:00, from b0's
          // max 10:05:30 − 30 s) takes effect one batch after the stats
          // commit — measured, not assumed — so the late rows are held
          // until b2, when it is guaranteed active.
          Seq((4L, ts(5, 40), "b"), (5L, ts(6, 20), "a")),
          // b2: LATE 10:00:40 (window end 10:01) and LATE 10:03:30
          // (window end 10:04) — both ≥ 1 min inside the passed region
          // whichever of the two candidate watermarks (10:05:00 from b0
          // or 10:05:50 from b1) is active: MUST drop. Plus on-time
          // 10:06:40.
          Seq((900001L, ts(0, 40), "a"), (900002L, ts(3, 30), "b"),
            (6L, ts(6, 40), "b")),
          // b3: flush far future — closing WM 10:29:30 emits every
          // surviving window; the flush window [10:30,10:31) never emits
          Seq((999999L, ts(30, 0), "flush")))
        // r19 (VERDICT r18 item 5): ONE partitioned write job instead of
        // four single-batch write jobs — coalesce(1) + partitionBy splits
        // the same rows into one file per batch in a single pass (the
        // partition column is excluded from the data files, so each
        // b<i>.parquet carries exactly the columns and rows it did before,
        // in the same order). The mtime staggering below is unchanged.
        val tmp = s"$base/_tmp"
        batches.zipWithIndex.flatMap { case (specs, i) =>
          users.flatMap(u => rows(u, specs)).map { case (id, t, u2, et, v, p) =>
            (i, id, t, u2, et, v, p) }
        }.toDF("b", "event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.partitionBy("b").mode("overwrite").parquet(tmp)
        batches.indices.foreach { i =>
          val part = new java.io.File(s"$tmp/b=$i").listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dst = java.nio.file.Paths.get(s"$base/b$i.parquet")
          java.nio.file.Files.move(part.toPath, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          // explicit mtimes: the file source orders batches by mtime, and
          // sequential writes can collide at ms resolution
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 5000L))
        }
        locally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator()
            .asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
        val stream = s.readStream
          .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
          .option("maxFilesPerTrigger", "1")
          .parquet(base)
        val agg = stream
          .withWatermark("ts", "30 seconds")
          .groupBy(window(col("ts"), "1 minute"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        EventStreams.runToTable(s, agg, "d05_sink", mode = "append")
          .select(fmt(col("window.start")).as("w"), col("event_type"), col("n"))
          .orderBy(col("w"), col("event_type"))
      },
      Some(s"""SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS w,
          event_type, count(*) AS n
        FROM read_parquet('${Graft.scratchDir}/d05_late_${graft.queries.LlmPipeline.SfToken}/*.parquet')
        WHERE event_id < 900000
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // D6 — streaming dedup on a projected key (event_id is unique, so the
    // demo key is (user_id, event_type)); final counts oracle as DISTINCT.
    "d06_stream_dedup" -> QueryDef(
      (s, dir) => {
        val agg = EventStreams.events(s, dir)
          .select(col("user_id"), col("event_type"))
          .dropDuplicates("user_id", "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_users"))
        EventStreams.runToTable(s, agg, "d06_sink").orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n_users
        FROM (SELECT DISTINCT user_id, event_type FROM events)
        GROUP BY event_type ORDER BY event_type NULLS FIRST""")),

    // D10+ — STREAMING near-dup bucketing: the text-normalization dedup of
    // the E block run as a live stream (documents arriving as files). The
    // bucket key is the sorted distinct token bag — word-order-insensitive,
    // so shuffled near-duplicates land in one bucket — and the per-bucket
    // aggregate (keeper = min doc_id, multiplicity) is ORDER-INDEPENDENT:
    // the same answer whatever the arrival order, which is what makes a
    // batch oracle legitimate for a streaming computation. State per bucket
    // is one row; an unbounded deployment would bound it with a watermark
    // on an arrival-time column (the d06b pattern).
    "d10_stream_neardup" -> QueryDef(
      (s, dir) => {
        val bag = concat_ws(" ",
          sort_array(array_distinct(split(lower(col("text")), " "))))
        val agg = EventStreams.documents(s, dir)
          .filter(col("text").isNotNull)
          .groupBy(col("lang"), bag.as("bag"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))
        EventStreams.runToTable(s, agg, "d10_sink")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_buckets"),
            sum(col("n_docs")).as("n_docs"),
            sum(col("n_docs") - 1).as("n_neardups"),
            min(col("keeper")).as("first_keeper"))
          .orderBy(col("lang"))
      },
      Some("""WITH b AS (SELECT lang,
          array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ') AS bag,
          min(doc_id) AS keeper, count(*) AS n_docs
          FROM documents WHERE text IS NOT NULL GROUP BY 1, 2)
        SELECT lang, count(*) AS n_buckets,
          CAST(sum(n_docs) AS BIGINT) AS n_docs,
          CAST(sum(n_docs - 1) AS BIGINT) AS n_neardups,
          min(keeper) AS first_keeper
        FROM b GROUP BY lang ORDER BY lang""")),

    // D12 — ANN INGEST as a stream: vectors arrive as files, PQ codes
    // (the e28 index artifact) are computed by the native scan-local
    // expression as each batch lands, and a bounded streaming aggregate
    // profiles the subspace-0 code distribution (16 groups — the index
    // balance signal an ingest pipeline monitors). The codebook is built
    // BATCH-side first, as any real deployment trains/loads the quantizer
    // before streaming encode begins. The oracle re-derives codebook and
    // codes independently from the raw parquet (e28's derivation,
    // restricted to subspace 0) — batch/stream parity via hash equality.
    "d12_stream_pq_ingest" -> QueryDef(
      (s, dir) => {
        val cb = graft.operators.ProductQuantizer.codebook(
          Tables(s, dir, "embeddings"), "vec_id", "embedding", m = 8, k = 16)
        val encoded = graft.operators.ProductQuantizer.encode(
          EventStreams.embeddings(s, dir), "embedding", cb)
        val profile = encoded
          .select(col("vec_id"), (col("__pq_code") % 16).as("code0"))
          .groupBy(col("code0"))
          .agg(count(lit(1)).as("n"), min(col("vec_id")).as("first_id"))
        EventStreams.runToTable(s, profile, "d12_sink")
          .orderBy(col("code0"))
      },
      Some("""WITH samp AS (SELECT vec_id, embedding FROM embeddings
          ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR) LIMIT 16),
        cb AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)) - 1 AS c,
          embedding FROM samp),
        dist AS (SELECT e.vec_id, cb.c,
            list_sum(list_transform(list_zip(e.embedding[1:8], cb.embedding[1:8]),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
          FROM embeddings e, cb),
        codes AS (SELECT vec_id, c AS code0 FROM (
            SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
            FROM dist) rr
          WHERE rn = 1)
        SELECT code0, count(*) AS n, min(vec_id) AS first_id
        FROM codes GROUP BY code0 ORDER BY code0""")),

    // D13 — MULTIMODAL INGEST as a stream: image files arrive
    // (binaryFile stream source), the perceptual hash (e29's
    // imageAHash64) is computed scan-locally as each batch lands, and a
    // streaming aggregate maintains the exact-perceptual-dup groups
    // (keeper = min filename, multiplicity) — the monitoring signal an
    // image-ingest dedup pipeline tracks. Group identity crosses engines
    // WITHOUT the hash value itself: the engine groups by the 64-bit
    // hash, the oracle by the equivalent 64-char bit string it
    // re-derives from raw BMP bytes — a bijection, so the (keeper, n)
    // multisets match exactly.
    "d13_stream_image_hash" -> QueryDef(
      (s, dir) => {
        val imgDir = s"${graft.Graft.scratchDir}/img_stream"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(imgDir))
        new java.io.File(imgDir).listFiles().foreach(_.delete())
        def write(name: String, bytes: Array[Byte]): Unit =
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$imgDir/$name"), bytes)
        (0 until 6).foreach { i =>
          val base = graft.operators.Multimodal.makeBmp(16 + 8 * (i % 2), 16, seed = 41000 + i)
          write(f"img$i%02da.bmp", base)
          write(f"img$i%02db.bmp", base) // byte-identical arrival twin
          if (i < 4) { // near-dup: tiny brightness nudge on two pixels
            val dup = base.clone()
            Seq(20, 40).foreach { si =>
              dup(54 + si) = (math.min(253, dup(54 + si) & 0xff) + 2).toByte
            }
            write(f"img$i%02dc.bmp", dup)
          }
        }
        (0 until 4).foreach { i =>
          write(f"other$i%02d.bmp",
            graft.operators.Multimodal.makeBmp(16, 16, seed = 42000 + i))
        }
        val ah = udf((bytes: Array[Byte]) =>
          graft.operators.Multimodal.imageAHash64(bytes))
        val groups = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .load(imgDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            ah(col("content")).as("h"))
          .filter(col("h").isNotNull)
          .groupBy(col("h"))
          .agg(min(col("fname")).as("keeper"), count(lit(1)).as("n_files"))
        EventStreams.runToTable(s, groups, "d13_sink")
          .select(col("keeper"), col("n_files"))
          .orderBy(col("keeper"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('${graft.Graft.scratchDir}/img_stream/*.bmp')),
        hdr AS (SELECT filename, H,
          (${duckHexB(11)} + 256*${duckHexB(12)} + 65536*${duckHexB(13)} + 16777216*${duckHexB(14)}) AS data_off,
          (${duckHexB(19)} + 256*${duckHexB(20)}) AS w,
          (${duckHexB(23)} + 256*${duckHexB(24)}) AS ht FROM b),
        px AS (SELECT filename, w, ht, (i % w) AS x, ht - 1 - (i // w) AS y,
            data_off + (i // w) * (((w * 3 + 3) // 4) * 4) + (i % w) * 3 AS o, H
          FROM hdr, UNNEST(generate_series(0, w * ht - 1)) AS u(i)),
        br AS (SELECT filename, ((y * 8) // ht) * 8 + ((x * 8) // w) AS k,
            (strpos('123456789ABCDEF', substr(H, 2*o + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*o + 2, 1)))
          + (strpos('123456789ABCDEF', substr(H, 2*(o+1) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(o+1) + 2, 1)))
          + (strpos('123456789ABCDEF', substr(H, 2*(o+2) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(o+2) + 2, 1))) AS v
          FROM px),
        cells AS (SELECT filename, k, sum(v) AS cs, count(*) AS cn
          FROM br GROUP BY 1, 2),
        tot AS (SELECT filename, sum(cs) AS ts, sum(cn) AS n
          FROM cells GROUP BY 1),
        bits AS (SELECT c.filename, c.k,
            CASE WHEN c.cs * t.n > t.ts * c.cn THEN 1 ELSE 0 END AS bit
          FROM cells c JOIN tot t USING (filename)),
        sig AS (SELECT filename, string_agg(CAST(bit AS VARCHAR), '' ORDER BY k) AS sg
          FROM bits GROUP BY filename)
        SELECT regexp_extract(min(filename), '([^/]+)$$', 1) AS keeper,
          count(*) AS n_files
        FROM sig GROUP BY sg ORDER BY keeper""")),

    // D14 — LM-score quality filtering AS A STREAM: the model trains
    // BATCH-side (e33's trigram derivation — as any real deployment
    // trains offline), then documents arriving as files are scored by a
    // scan-local explode + stream-static join against the broadcastable
    // model, with ONE streaming aggregate per (doc, trigram) whose state
    // is TWO SCALARS (count + the trigram's log-prob — VERDICT r6
    // item 2: no unbounded collect_list in the stream); the
    // deterministic sorted fold over the bounded (≤ alphabet³ per doc)
    // trigram terms and the keep verdict finish batch-side on the final
    // table (the d11 single-agg pattern). SHARES e33's exact oracle —
    // batch/stream parity proof.
    "d14_stream_lm_score" -> QueryDef(
      (s, dir) => {
        val dBatch = Tables(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), lower(col("text")).as("t"))
          .filter(length(col("t")) >= 3)
        // char_trigrams: the native linear-time Generator (see e33 — the
        // substring-chain form is O(d²) on a long document)
        val trisBatch = dBatch.select(col("doc_id"), expr("char_trigrams(t)"))
        // r18 optimization: checkpoint the (dimension-scale) model — the
        // `total` collect and the stream-static join each re-derived it
        // from a full char_trigrams explode (the e33 fix's streaming twin).
        val model = trisBatch.groupBy(col("tri")).agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        // an empty corpus has no trigram: the model is empty, no stream
        // row joins it, and the total is never read
        val totalRow = model.agg(sum(col("cnt"))).head()
        val total: Double = if (totalRow.isNullAt(0)) 0.0 else totalRow.getLong(0).toDouble
        val stream = EventStreams.documents(s, dir)
          .filter(col("text").isNotNull)
          .select(col("doc_id"), lower(col("text")).as("t"))
          .filter(length(col("t")) >= 3)
          .select(col("doc_id"), expr("char_trigrams(t)"))
          // r19: explicit broadcast — the model is alphabet³-bounded (the
          // comment below has always said "model broadcasts at scale") but
          // the checkpointed LogicalRDD carries no size estimate, so the
          // streaming planner was free to pick a shuffled join; pin it.
          .join(broadcast(model), "tri") // stream-static broadcast
          .groupBy(col("doc_id"), col("tri"))
          .agg(count(lit(1)).as("k"),
            min(log(col("cnt").cast("double") / lit(total))).as("l")) // l constant per tri
        // r19 (VERDICT r18 item 4, guide §5): the stateful streaming
        // aggregation above is UNCHANGED — same keys, same two-scalar
        // state, same declared operator — but the sink moves from a
        // complete-mode memory sink (which re-collects EVERY (doc, trigram)
        // state row to the driver per trigger — corpus-scale driver
        // materialization) to an update-mode foreachBatch parquet append:
        // each trigger appends, executor-side, only the keys it updated,
        // carrying their CUMULATIVE aggregate values.
        //
        // Equivalence of the merge: a key's appended rows are its
        // cumulative (k, l) after each trigger that touched it; k strictly
        // increases across those rows (an update means >= 1 new occurrence
        // arrived) and l is constant per trigram, so
        // groupBy(doc_id, tri).agg(max(k), min(l)) over the appended rows
        // is exactly the final streaming state — the same table
        // complete-mode handed the driver, without shipping corpus-scale
        // rows through the driver. With one file per doc set (the staged
        // twin) there is one trigger and the merge is the identity; the
        // argument above covers any micro-batch slicing.
        val outDir = java.nio.file.Paths.get(
          s"${Graft.scratchDir}/d14_out_${new java.io.File(dir).getName}")
        if (java.nio.file.Files.exists(outDir)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(outDir).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
        val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_d14")
        try EventStreams.withSourceSizedWidth(s, stream) {
          val q = stream.writeStream
            .outputMode("update")
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batch.write.mode("append").parquet(outDir.toString)
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", ckpt.toString)
            .start()
          q.awaitTermination()
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
        // no micro-batch ran when nothing arrived, so nothing was written
        val appended =
          if (java.nio.file.Files.exists(outDir)) s.read.parquet(outDir.toString)
          else s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            stream.schema)
        appended
          .groupBy(col("doc_id"), col("tri"))
          .agg(max(col("k")).as("k"), min(col("l")).as("l"))
          .select(col("doc_id"), col("k"),
            (col("k").cast("double") * col("l")).as("kl"))
          .groupBy(col("doc_id"))
          .agg(sum(col("k")).as("n_tris"),
            expr("round(aggregate(sort_array(collect_list(kl)), 0D, (s, x) -> s + x) / sum(k), 6)")
              .as("lm_score"))
          .withColumn("keep", col("lm_score") > -9.0)
      },
      Some("""WITH d AS (SELECT doc_id, lower(text) AS t FROM documents
          WHERE text IS NOT NULL AND len(lower(text)) >= 3),
        tris AS (SELECT doc_id, unnest(list_transform(
            generate_series(1, len(t) - 2), i -> substr(t, i, 3))) AS tri
          FROM d),
        model AS (SELECT tri, count(*) AS cnt FROM tris GROUP BY tri),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM model),
        pt AS (SELECT doc_id, tri, count(*) AS k FROM tris GROUP BY doc_id, tri),
        ls AS (SELECT doc_id, k,
            k * ln(CAST(cnt AS DOUBLE) / total) AS kl
          FROM pt JOIN model USING (tri) CROSS JOIN tot)
        SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tris,
          round(list_sum(list_sort(list(kl))) / sum(k), 6) AS lm_score,
          round(list_sum(list_sort(list(kl))) / sum(k), 6) > -9.0 AS keep
        FROM ls GROUP BY doc_id""")),

    // D15 — INCREMENTAL DEDUP AS A STREAM: the e38 operator's deployment
    // shape. The historical index (docs below the batch threshold) is
    // STATIC — at scale its hash/band tables are precomputed bucketed
    // artifacts — and each arriving micro-batch of new documents is
    // resolved against it inside foreachBatch with
    // IncrementalDedup.verdictsVsIndex: exact sha256 probe + banded
    // MinHash-LSH whose probe side holds only the batch's band triples,
    // so per-trigger work scales with the batch, never the corpus.
    // Verdicts are per-doc vs the index ONLY, hence independent of how
    // arrivals slice into micro-batches — what makes the batch fixture
    // oracle legitimate. Within-batch duplicates are deliberately left to
    // e38's compaction when the batch merges into the index (the fixture
    // twin `d15_stream_dedup` differs from `e38_incremental_dedup` on
    // exactly those rows).
    "d15_stream_incr_dedup" -> QueryDef(
      (s, dir) => {
        val docsB = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
        val maxId = docsB.agg(max("doc_id")).head()
        // an empty table has no max: nothing is history and nothing arrives
        val thr = if (maxId.isNullAt(0)) 0L else (maxId.getLong(0) + 1L) * 4L / 5L
        val hist = docsB.filter(col("doc_id") < thr)
        val outDir = java.nio.file.Paths.get(
          s"${Graft.scratchDir}/d15_out_${new java.io.File(dir).getName}")
        if (java.nio.file.Files.exists(outDir)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(outDir).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
        val stream = EventStreams.documents(s, dir)
          .filter(col("doc_id") >= thr).select(col("doc_id"), col("text"))
        val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_d15")
        try EventStreams.withSourceSizedWidth(s, stream) {
          val q = stream.writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              graft.operators.IncrementalDedup
                .verdictsVsIndex(batch, hist, "doc_id", "text")
                .write.mode("append").parquet(outDir.toString)
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", ckpt.toString)
            .start()
          q.awaitTermination()
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
        // no micro-batch ran when nothing arrived, so nothing was written:
        // the answer is then the verdicts of an empty arrival
        val verdicts =
          if (java.nio.file.Files.exists(outDir)) s.read.parquet(outDir.toString)
          else graft.operators.IncrementalDedup.verdictsVsIndex(
            docsB.filter(col("doc_id") >= thr), hist, "doc_id", "text")
        LlmPipeline.fixtureCheck(s, dir, "d15_stream_dedup", verdicts, Seq("doc_id"))
      },
      Some(LlmPipeline.fixtureSql("d15_stream_dedup",
        Seq("doc_id", "status", "partner", "est_jaccard")))),

    // D16 — WARC container ingest AS A STREAM (e44's deployment shape: a
    // crawl drops .warc segments into a landing dir continuously; each
    // trigger parses only the files that arrived). Same fixture writer
    // and the SAME scan-local parse as e44 (Curation.parseWarc — record
    // split, header regexes, Content-Length payload slice), run through
    // a binaryFile file stream. Stateless per-file projection → append
    // mode; per-trigger work is bounded by arriving bytes, state is
    // zero. Shares e44's construction-arithmetic oracle verbatim — batch
    // and stream must extract byte-identical records.
    "d16_stream_warc" -> QueryDef(
      (s, dir) => {
        val warcDir = Curation.writeWarcFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .load(warcDir)
        EventStreams.runToTable(s, Curation.parseWarc(raw), "d16_sink",
            mode = "append")
          .orderBy(col("fname"), col("rec"))
      },
      Some(Curation.warcOracleSql)),

    // D18 — CDX indexing AS A STREAM (e51's deployment shape: a crawler
    // drops .warc segments into a landing dir; the archive index grows
    // per trigger as segments arrive). Same fixture writer, the SAME
    // offset walk (operators.WarcCdx — offsets are per-FILE positions,
    // so they are well-defined no matter how files slice into
    // micro-batches) and the SAME projection (Curation.cdxProject) as
    // the batch query; stateless per-file work → append mode, zero
    // streaming state, per-trigger cost bounded by arriving bytes.
    // Shares e51's construction oracle verbatim — batch and stream must
    // index byte-identical offsets.
    "d18_stream_cdx" -> QueryDef(
      (s, dir) => {
        val warcDir = Curation.writeWarcCdxFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "1") // 4 separate triggers
          .load(warcDir)
        EventStreams.runToTable(s,
            Curation.cdxProject(graft.operators.WarcCdx.parse(raw)),
            "d18_sink", mode = "append")
          .orderBy(col("fname"), col("rec"))
      },
      Some(Curation.cdxOracleSql)),

    // D17 — the e47 crawl pipeline AS A STREAM (its deployment shape:
    // .warc segments land continuously; each trigger runs ingest →
    // robots → strip → line-clean → dedup-verdict on ONLY the arriving
    // files, against STATIC state — the corpus line-df table and the
    // historical hash index, both periodically-recomputed batch
    // artifacts exactly as production maintains them). Stages 1-3 are
    // the e47 helpers verbatim (stateless projections); line cleaning is
    // LineDedup.cleanAgainst the static df table; the verdict joins the
    // static index on sha2(kept_text) with partner = min earlier rec_id.
    // Every record's output depends only on (record, static state), so
    // the result is INDEPENDENT of how files slice into micro-batches —
    // maxFilesPerTrigger=1 forces 4 separate triggers to prove it, and
    // the oracle is the same construction arithmetic as e47's, extended
    // with the hash-partner CTE. Per-trigger work is bounded by arriving
    // bytes; streaming state is zero (foreachBatch, append-only sink).
    "d17_stream_crawl" -> QueryDef(
      (s, dir) => {
        val warcDir = Curation.writeCrawlWarcFixture(s, dir)
        // static artifacts, batch-computed over the corpus at rest.
        // r18 optimization: checkpoint the stripped corpus once — its two
        // persisted consumers (dfTable, index) each re-ran the WARC parse
        // + HTML strip when they first materialized (the e47 fix's
        // streaming twin).
        // r19 (VERDICT r18 item 3): lineage-preserving persist was A/B'd
        // here per the verdict's instruction and REJECTED for these
        // corpus-TEXT artifacts — interleaved same-window pairs read d17
        // at 8.1-9.5 s under persist vs 6.7-8.6 s under localCheckpoint
        // (columnar string encode; the signature tables in
        // IncrementalDedup DID move to persist, see MaterializeOnce).
        // dfTable/index switch from the old lazy persist() to eager
        // localCheckpoint as part of the same measured configuration.
        val batchStripped = Curation.crawlStrip(Curation.crawlRobotsAllowed(s,
          Curation.crawlRecs(Curation.parseWarc(
            s.read.format("binaryFile").load(warcDir))))).localCheckpoint()
        val dfTable = graft.operators.LineDedup.lineDf(
          batchStripped.select(col("rec_id").as("doc_id"),
            col("cleaned").as("content"))).localCheckpoint()
        val index = graft.operators.LineDedup.cleanAgainst(
            batchStripped.select(col("rec_id").as("doc_id"),
              col("cleaned").as("content")), dfTable, tau = 10)
          .select(col("doc_id").as("p_id"),
            sha2(col("cleaned"), 256).as("p_h")).localCheckpoint()
        val outDir = java.nio.file.Paths.get(
          s"${Graft.scratchDir}/d17_out_${new java.io.File(dir).getName}")
        if (java.nio.file.Files.exists(outDir)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(outDir).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "1")
          .load(warcDir)
        // the verdicts of one micro-batch of WARC files
        def verdicts(batch: DataFrame): DataFrame = {
          val stripped = Curation.crawlStrip(Curation.crawlRobotsAllowed(s,
            Curation.crawlRecs(Curation.parseWarc(batch))))
          val cleaned = graft.operators.LineDedup.cleanAgainst(
              stripped.select(col("rec_id").as("doc_id"),
                col("cleaned").as("content")), dfTable, tau = 10)
            .withColumnRenamed("cleaned", "kept_text")
            .withColumn("h", sha2(col("kept_text"), 256))
          val partner = cleaned
            .join(index, col("p_h") === col("h") && col("p_id") < col("doc_id"))
            .groupBy(col("doc_id").as("n_id"))
            .agg(min(col("p_id")).as("partner"))
          cleaned
            .join(partner, col("doc_id") === col("n_id"), "left")
            .join(stripped.select(col("rec_id").as("doc_id"), col("uri")), "doc_id")
            .select(col("doc_id").as("rec_id"), col("uri"),
              col("n_lines"), col("n_kept"),
              when(col("partner").isNotNull, lit("dup"))
                .otherwise(lit("unique")).as("status"),
              col("partner"))
        }
        val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_d17")
        try EventStreams.withSourceSizedWidth(s, raw) {
          val q = raw.writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              verdicts(batch).write.mode("append").parquet(outDir.toString)
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", ckpt.toString)
            .start()
          q.awaitTermination()
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
        // no micro-batch ran when no WARC file arrived, so nothing was
        // written: the answer is then the verdicts of an empty arrival
        val all =
          if (java.nio.file.Files.exists(outDir)) s.read.parquet(outDir.toString)
          else verdicts(s.read.format("binaryFile").load(warcDir))
        all.orderBy(col("rec_id"))
      },
      Some("""WITH d AS (SELECT doc_id, source,
            list_concat(list_concat(list_concat(
              ['subscribe to our newsletter'],
              list_transform(generate_series(0, (len(string_split(text, ' ')) - 1) // 8),
                i -> array_to_string(string_split(text, ' ')[i*8 + 1 : i*8 + 8], ' '))),
              ['all rights reserved']),
              CASE WHEN doc_id % 2 = 0 THEN ['cookie policy accept'] ELSE [] END) AS lines
          FROM documents WHERE text IS NOT NULL AND doc_id < 400),
        hh AS (SELECT doc_id, source,
            '<html><head><script>var x = 1 < 2;</script><style>p { color: #fff; }</style></head><body>'
            || array_to_string(list_transform(lines,
                 l -> '<p>' || replace(l, ' ', '&nbsp;') || '</p>'), '')
            || '<!-- footer --></body></html>' AS html
          FROM d),
        recs AS (
          SELECT doc_id AS rec_id,
            'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS uri,
            source || '.example.com' AS domain,
            '/p/' || CAST(doc_id AS VARCHAR) AS path, html
          FROM hh
          UNION ALL
          SELECT 10000 + doc_id,
            'https://' || source || '.example.com/dup/' || CAST(doc_id AS VARCHAR),
            source || '.example.com',
            '/dup/' || CAST(doc_id AS VARCHAR), html
          FROM hh WHERE doc_id % 10 = 7),
        rules AS (SELECT 'src' || CAST(i AS VARCHAR) || '.example.com' AS domain,
            p.prefix, p.allow
          FROM generate_series(0, 19) g(i),
            (VALUES ('/p/1', false), ('/p/12', true)) p(prefix, allow)),
        v AS (SELECT rec_id, allow,
            row_number() OVER (PARTITION BY rec_id
              ORDER BY length(prefix) DESC, allow DESC) AS rn
          FROM recs JOIN rules USING (domain)
          WHERE starts_with(path, prefix)),
        allowed AS (SELECT r.* FROM recs r
          LEFT JOIN (SELECT rec_id, allow FROM v WHERE rn = 1) b USING (rec_id)
          WHERE coalesce(b.allow, true)),
        strip AS (SELECT rec_id, uri,
            trim(replace(
              regexp_replace(
                replace(
                  regexp_replace(
                    regexp_replace(html, '<script[^>]*>.*?</script>', '', 'gs'),
                    '<style[^>]*>.*?</style>', '', 'gs'),
                  '</p>', chr(10)),
                '<!--.*?-->|<[^>]+>', '', 'gs'),
              '&nbsp;', ' '), chr(10)) AS cleaned
          FROM allowed),
        sl AS (SELECT rec_id, string_split(cleaned, chr(10)) AS ll FROM strip),
        l2 AS (SELECT rec_id, CAST(i - 1 AS INT) AS pos, ll[i] AS ln
          FROM sl, UNNEST(generate_series(1, len(ll))) u(i)),
        f AS (SELECT ln, count(DISTINCT rec_id) AS df FROM l2 GROUP BY ln),
        kept AS (SELECT l2.rec_id, l2.pos, l2.ln
          FROM l2 JOIN f USING (ln) WHERE f.df < 10),
        ld AS (SELECT sl.rec_id, CAST(len(sl.ll) AS INT) AS n_lines,
            coalesce(k.n_kept, 0) AS n_kept, coalesce(k.kept_text, '') AS kept_text
          FROM sl LEFT JOIN (
            SELECT rec_id, CAST(count(*) AS INT) AS n_kept,
              array_to_string(list(ln ORDER BY pos), chr(10)) AS kept_text
            FROM kept GROUP BY rec_id) k USING (rec_id)),
        hsx AS (SELECT rec_id, sha256(kept_text) AS h FROM ld),
        p AS (SELECT a.rec_id, min(b.rec_id) AS partner
          FROM hsx a JOIN hsx b ON a.h = b.h AND b.rec_id < a.rec_id
          GROUP BY a.rec_id)
        SELECT ld.rec_id, st.uri, ld.n_lines, ld.n_kept,
          CASE WHEN p.partner IS NOT NULL THEN 'dup' ELSE 'unique' END AS status,
          p.partner
        FROM ld JOIN strip st USING (rec_id) LEFT JOIN p USING (rec_id)
        ORDER BY ld.rec_id""")),

    // D10++ — the E15 clean-corpus pipeline AS A STREAM: quality gate →
    // exact-dedup (keeper = min doc_id via min_by, order-independent) →
    // per-language profile, over documents arriving as files. Shares
    // e15's EXACT batch oracle — hash equality across the two execution
    // modes is the batch/stream parity proof (the d04/c39 precedent).
    // The per-text dedup state is one row per distinct text; an unbounded
    // deployment bounds it with dropDuplicatesWithinWatermark (d06b).
    "d11_stream_clean_corpus" -> QueryDef(
      (s, dir) => {
        val gated = EventStreams.documents(s, dir)
          .withColumn("toks", split(lower(col("text")), " "))
          .withColumn("stop_ratio",
            expr("CAST(size(filter(toks, x -> x IN ('the','and','of','value','data'))) AS DOUBLE) / size(toks)"))
          .filter(col("n_chars").between(50, 2000) &&
            size(col("toks")) >= 10 && col("stop_ratio") < 0.5)
        // one streaming aggregation (chained streaming aggs are not
        // allowed): keeper id + keeper-consistent lang/n_chars per text
        val dedup = gated.groupBy(col("text"))
          .agg(min(col("doc_id")).as("keep_id"),
            expr("min_by(lang, doc_id)").as("lang"),
            min(col("n_chars")).as("n_chars")) // n_chars is a function of text
        EventStreams.runToTable(s, dedup, "d11_sink")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
          .orderBy(col("lang"))
      },
      Some("""WITH gated AS (
          SELECT doc_id, text, lang, n_chars,
            string_split(lower(text), ' ') AS toks
          FROM documents
          WHERE n_chars BETWEEN 50 AND 2000),
        q AS (SELECT * FROM gated
          WHERE len(toks) >= 10
            AND CAST(len(list_filter(toks, x -> list_contains(['the','and','of','value','data'], x))) AS DOUBLE) / len(toks) < 0.5),
        dedup AS (SELECT min(doc_id) AS keep_id FROM q GROUP BY text)
        SELECT lang, count(*) AS n_kept,
          CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
        FROM dedup JOIN q ON keep_id = q.doc_id
        GROUP BY lang ORDER BY lang""")),

    // D6b — dedup WITHIN WATERMARK (dropDuplicatesWithinWatermark): the
    // bounded-state form that survives an unbounded stream — state for a
    // key is EVICTED once the watermark passes its event time plus the
    // delay, where plain dropDuplicates retains every key forever. Here the
    // delay (30 days) exceeds the bounded fixture's whole time span, so the
    // result is exactly global DISTINCT and shares d06's batch oracle; the
    // bounded-state semantics under a SHORT delay (duplicate re-admitted
    // after eviction) are asserted by trace in StreamingSpec, where no
    // batch oracle can exist. Dedup emits on first sight (append mode), so
    // the count aggregation runs as a batch op after the sink, like d08.
    "d06b_dedup_within_watermark" -> QueryDef(
      (s, dir) => {
        val deduped = EventStreams.events(s, dir)
          // watermarked dedup drops null-event-time rows; make that filter
          // explicit so the oracle states the same predicate
          .filter(col("ts").isNotNull)
          .select(col("user_id"), col("event_type"), col("ts"))
          .withWatermark("ts", "30 days")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          // project the key only: the first-arrival ts depends on partition
          // interleave (nondeterministic); the KEY SET is deterministic
          .select(col("user_id"), col("event_type"))
        EventStreams.runToTable(s, deduped, "d06b_sink", mode = "append")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n_users
        FROM (SELECT DISTINCT user_id, event_type FROM events WHERE ts IS NOT NULL)
        GROUP BY event_type ORDER BY event_type NULLS FIRST""")),

    // D7 — stream-static join: stream side shuffles nothing extra, static
    // dim broadcasts (customer keyed by user_id).
    "d07_stream_static_join" -> QueryDef(
      (s, dir) => {
        val dim = broadcast(Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")))
        val agg = EventStreams.events(s, dir)
          .filter(col("event_type") === "purchase")
          .join(dim, col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), sumD2(col("value")).as("sum_value"))
        EventStreams.runToTable(s, agg, "d07_sink").orderBy(col("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, count(*) AS n,
        ${sqlSumD2("value")} AS sum_value
        FROM events JOIN customer ON user_id = c_custkey
        WHERE event_type = 'purchase'
        GROUP BY c_mktsegment ORDER BY c_mktsegment NULLS FIRST""")),

    // D8 — stream-stream inner join with watermarks + event-time bound:
    // clicks within 1 hour before each purchase, per user.
    "d08_stream_stream_join" -> QueryDef(
      (s, dir) => {
        val purchases = EventStreams.events(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("event_id").as("p_id"))
          .withWatermark("p_ts", "2 hours")
        val clicks = EventStreams.events(s, dir)
          .filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("event_id").as("c_id"))
          .withWatermark("c_ts", "2 hours")
        val joined = purchases.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts"))
        // Append-mode pair stream; aggregate AFTER the sink (batch post-op)
        // so the streaming part is pure join.
        EventStreams.runToTable(s, joined.select(col("p_id"), col("c_id")),
            "d08_sink", mode = "append")
          .groupBy().agg(count(lit(1)).as("n_pairs"))
      },
      Some("""SELECT count(*) AS n_pairs
        FROM (SELECT p.event_id FROM
          (SELECT user_id, event_id, epoch_ns(ts)//1000 AS ts_us FROM events WHERE event_type='purchase') p
          JOIN
          (SELECT user_id, event_id, epoch_ns(ts)//1000 AS ts_us FROM events WHERE event_type='click') c
          ON p.user_id = c.user_id
         AND c.ts_us >= p.ts_us - 3600000000 AND c.ts_us <= p.ts_us)""")),

    // D9b — the Spark 4.1 transformWithState API (SURVEY §2 D9's preferred
    // form): typed per-key ValueState via a StatefulProcessor, RocksDB
    // state store. Same semantics (and same oracle) as d09.
    "d09b_transform_with_state" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          // not-null guard on BOTH sides: the Tuple2[Long, Double] encoder
          // rejects nulls outright (primitive fields)
          val typed = EventStreams.events(s, dir)
            .filter(col("user_id").isNotNull && col("value").isNotNull)
            .select(col("user_id"), col("value"))
            .as[(Long, Double)]
          val agg = typed
            .groupByKey(_._1)
            .transformWithState(new RunningTotalsProcessor(),
              TimeMode.None(), OutputMode.Update())
            .toDF("user_id", "n_events", "sum_value")
          EventStreams.runToTable(s, agg, "d09b_sink", mode = "update")
            .orderBy(col("user_id"))
        } finally s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      },
      Some(s"""SELECT user_id, count(*) AS n_events,
        ${sqlSumD2("value")} AS sum_value
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        GROUP BY user_id ORDER BY user_id""")),

    // D9 — arbitrary stateful processing: per-user running totals via
    // flatMapGroupsWithState (update mode; AvailableNow => final state).
    "d09_stateful_counters" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val typed = EventStreams.events(s, dir)
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .select(col("user_id"), col("value"))
          .as[(Long, Double)]
        val agg = typed
          .groupByKey(_._1)
          .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
            OutputMode.Update, GroupStateTimeout.NoTimeout) {
            (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
              val (n0, cents0) = state.getOption.getOrElse((0L, 0.0))
              var n = n0
              var cents = cents0
              rows.foreach { case (_, v) =>
                n += 1
                // exact integer cents: value is a 2-decimal double
                cents += math.floor(v * 100 + 0.5)
              }
              state.update((n, cents))
              Iterator((user, n, cents / 100))
          }
          .toDF("user_id", "n_events", "sum_value")
        EventStreams.runToTable(s, agg, "d09_sink", mode = "update")
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        GROUP BY user_id ORDER BY user_id""")),

    // D19 — frontier URL-seen AS A STREAM (e55's deployment shape:
    // link-extractor output lands as line-delimited URL lists; each
    // trigger verdicts only the arriving URLs against the STATIC global
    // Bloom filter — the periodically-rebuilt batch artifact exactly as
    // a production frontier maintains it). The bitmap is bounded by
    // CONFIG (m = 4096 bits = 64 longs, regardless of URLs seen), so it
    // rides inline as a literal array — the e03 bounded-lookup
    // precedent, leaving the per-trigger work a pure scan-local
    // projection: zero streaming state, zero joins, zero shuffles.
    // Every verdict depends only on (url, static bitmap) → output is
    // independent of micro-batch slicing (maxFilesPerTrigger=1 forces 4
    // triggers to prove it), and the oracle is e55's construction SQL
    // verbatim.
    "d19_stream_frontier" -> QueryDef(
      (s, dir) => {
        val urlDir = Curation.writeUrlListFixture(s, dir)
        val docs = graft.Tables(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"),
            concat(lit("https://"), col("source"), lit(".example.com/p/"),
              col("doc_id")).as("url"))
        val seen = docs.filter(col("doc_id") < 300 && col("source") =!= "src19")
        val bits: Seq[Long] = graft.operators.BloomSeen
          .bitmap(seen, "url", k = 3, hexChars = 3)
          .collect().head.getSeq[Long](0)
        val raw = s.readStream.format("text")
          .option("maxFilesPerTrigger", "1")
          .load(urlDir)
        val verdicts = raw
          .filter(length(col("value")) > 0)
          .select(
            regexp_extract(col("value"), "/p/([0-9]+)$", 1)
              .cast("bigint").as("doc_id"),
            col("value").as("url"),
            graft.operators.BloomSeen.maybeSeen(
              typedlit(bits), col("value"), k = 3, hexChars = 3)
              .as("maybe_seen"))
        EventStreams.runToTable(s, verdicts, "d19_sink", mode = "append")
          .orderBy(col("doc_id"))
      },
      Some(Curation.bloomOracleSql)),

    // D20 — sitemap ingest AS A STREAM (e57's deployment shape: sites
    // republish sitemaps continuously; each trigger parses only the
    // files that arrived). Same fixture writer and the SAME projection
    // (Curation.sitemapProject — root-element discrimination included:
    // the sitemapindex file arrives in its own trigger and contributes
    // zero rows there too). Stateless per-file work → append mode; each
    // row depends only on its file's bytes, so output is independent of
    // micro-batch slicing (maxFilesPerTrigger=1 forces 5 triggers) and
    // the oracle is e57's construction SQL verbatim.
    "d20_stream_sitemap" -> QueryDef(
      (s, dir) => {
        val smDir = Curation.writeSitemapFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "1")
          .load(smDir)
        EventStreams.runToTable(s, Curation.sitemapProject(raw),
            "d20_sink", mode = "append")
          .orderBy(col("fname"), col("pos"))
      },
      Some(Curation.sitemapOracleSql)),

    // D21 — SEQUENCE PACKING AS A STREAM (e68's deployment shape: the
    // tokenize-and-pack tail of the pipeline runs continuously as
    // cleaned documents land; each trigger extends every source's token
    // stream and emits each 128-token window the moment it fills). The
    // carry between triggers — operators.StreamPack's
    // flatMapGroupsWithState state — is the under-L token tail plus the
    // next sequence number per source: STRICTLY BOUNDED by L per key no
    // matter how long the stream runs, the textbook case for arbitrary
    // stateful processing over an unbounded stream. Packing is per
    // SOURCE (the shard key a production packer uses; a single global
    // stream would serialize on one state key). Batch parity requires
    // per-source doc order: the fixture range-partitions doc_id into 4
    // files with increasing mtimes (file source processes oldest-first,
    // one per trigger), and each trigger's group sorts its own arrivals
    // — so sequences that SPAN file boundaries prove the carry works.
    // Oracle = e68's construction partitioned by source; a sequence
    // number, boundary token or digest off anywhere breaks it.
    "d21_stream_pack" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val fixDir = s"${Graft.scratchDir}/d21_docs_${new java.io.File(dir).getName}"
        val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"), col("text"))
        val maxRow = docs.agg(max("doc_id")).head()
        // an empty table writes no range file, so the stream reads nothing
        val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
        val w = maxId / 4 + 1
        val fd = new java.io.File(fixDir)
        if (fd.exists()) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(fd.toPath).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
        fd.mkdirs()
        // r19 (VERDICT r18 item 5): ONE partitioned write job instead of
        // four range-filtered scan+write jobs — the same doc_id ranges
        // land as one file per range via partitionBy (the range column is
        // excluded from the data files, so each f<i>.parquet carries
        // exactly the (doc_id, source, text) rows of its range, in scan
        // order as before). The mtime staggering is unchanged.
        val tmp = s"$fixDir/_tmp"
        docs.withColumn("b", expr(s"CAST(doc_id DIV $w AS INT)"))
          .coalesce(1).write.partitionBy("b").mode("overwrite").parquet(tmp)
        // a range with no rows (e.g. a one-row table) has no b=<i>
        // directory: skip it, the stream reads the files that exist
        (0 until 4).foreach { i =>
          Option(new java.io.File(s"$tmp/b=$i").listFiles())
            .flatMap(_.find(_.getName.endsWith(".parquet"))).foreach { part =>
              val dst = new java.io.File(s"$fixDir/f$i.parquet")
              java.nio.file.Files.move(part.toPath, dst.toPath,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              dst.setLastModified(1700000000000L + i * 60000L)
            }
        }
        locally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator()
            .asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
        val typed = s.readStream
          .schema("doc_id LONG, source STRING, text STRING")
          .option("maxFilesPerTrigger", "1")
          .parquet(fixDir)
          .as[(Long, String, String)]
        val packed = typed.groupByKey(_._2)
          .flatMapGroupsWithState[graft.operators.StreamPack.Carry,
            (String, Long, String)](
            OutputMode.Append, GroupStateTimeout.NoTimeout)(
            graft.operators.StreamPack.pack)
          .toDF("source", "seq_no", "joined")
        EventStreams.runToTable(s, packed, "d21_sink", mode = "append")
          .select(col("source"), col("seq_no"),
            substring_index(col("joined"), " ", 1).as("first_tok"),
            substring_index(col("joined"), " ", -1).as("last_tok"),
            md5(col("joined").cast("binary")).as("digest"))
          .orderBy(col("source"), col("seq_no"))
      },
      Some("""WITH d AS (SELECT doc_id, source,
            list_concat(string_split(text, ' '), ['</s>']) AS toks
          FROM documents WHERE text IS NOT NULL),
        n AS (SELECT doc_id, source, toks,
            CAST(len(toks) AS BIGINT) AS n_toks FROM d),
        o AS (SELECT doc_id, source, toks,
            sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id) - n_toks
              AS doc_off FROM n),
        tok AS (SELECT source, doc_off + i - 1 AS gpos, toks[i] AS tok
          FROM o, UNNEST(generate_series(1, len(toks))) AS t(i)),
        sq AS (SELECT source, gpos // 128 AS seq_no, count(*) AS n,
            arg_min(tok, gpos) AS first_tok, arg_max(tok, gpos) AS last_tok,
            md5(string_agg(tok, ' ' ORDER BY gpos)) AS digest
          FROM tok GROUP BY 1, 2)
        SELECT source, CAST(seq_no AS BIGINT) AS seq_no, first_tok, last_tok,
          digest
        FROM sq WHERE n = 128 ORDER BY source, seq_no""")),

    // D22 — PDF ingest AS A STREAM (e72's deployment shape: fetched
    // documents land in a directory continuously; each trigger extracts
    // only the files that arrived). Same fixture writer and the SAME
    // per-file extraction (Curation.pdfProject → operators.PdfText) as
    // the batch query, through a binaryFile file stream. Extraction is
    // entirely per-file, so output is independent of micro-batch
    // slicing (maxFilesPerTrigger=8 forces several triggers) and the
    // oracle is e72's construction SQL verbatim. Stateless append;
    // per-trigger work bounded by arriving bytes.
    "d22_stream_pdf" -> QueryDef(
      (s, dir) => {
        val pdfDir = Curation.writePdfFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "8")
          .load(pdfDir)
        EventStreams.runToTable(s, Curation.pdfProject(s, raw),
            "d22_sink", mode = "append")
          .orderBy(col("fname"), col("page"))
      },
      Some(Curation.pdfOracleSql)),

    // D23 — the ANCHOR-TEXT INDEX as a stream (e76's deployment shape:
    // the index grows as crawled pages land; each trigger's anchors
    // merge into the per-target aggregation). Same construction, same
    // extraction helpers (Curation.anchorPages / anchorIndex), run as a
    // streaming aggregation in complete mode — per-target state is the
    // running count + text list, exactly the index a WAT stage
    // maintains; output after AvailableNow completion must equal the
    // batch index bit for bit (shares e76's oracle verbatim).
    "d23_stream_anchors" -> QueryDef(
      (s, dir) => {
        val agg = Curation.anchorIndex(Curation.anchorPages(
          EventStreams.documents(s, dir)))
        EventStreams.runToTable(s, agg, "d23_sink", mode = "complete")
          .orderBy(col("target"))
      },
      Some(Curation.anchorOracleSql)),

    // D24 — PDF embedded-image extraction as a STREAM (e72f's deployment
    // shape: figures come out of documents as files land in the archive
    // drop directory). Per-file extraction is stateless, so the stream
    // is a pure append map — slicing-independent by construction — and
    // the output after AvailableNow completion must equal the batch
    // projection bit for bit (shares e72f's fixture and oracle
    // verbatim, the d22 pattern).
    "d24_stream_pdf_images" -> QueryDef(
      (s, dir) => {
        val pdfDir = Curation.writePdfImageFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "8")
          .load(pdfDir)
        EventStreams.runToTable(s, Curation.pdfImageProject(s, raw),
            "d24_sink", mode = "append")
          .orderBy(col("fname"))
      },
      Some(Curation.pdfImageOracleSql)),

    // D25 — the KNESER-NEY perplexity filter as a STREAM (e92's
    // deployment shape: the model trains offline on the existing
    // corpus; arriving documents score against it). The count tables
    // come from the same batch construction; the stream side left-joins
    // them per-bigram (stream-static — the model broadcasts at scale),
    // computes the exact integer num/den per row, and aggregates
    // per-(doc, bigram) with num/den carried by min() since they are
    // constants within a group; the per-doc sorted fold happens
    // post-sink exactly as in d14. Joining BEFORE the streaming
    // aggregate (where e92 aggregates first) is the required stream
    // order; the result is identical and shares e92's oracle verbatim.
    "d25_stream_kn" -> QueryDef(
      (s, dir) => {
        val biB = LlmPipeline.knBigrams(Tables(s, dir, "documents"))
        val (c12, c1, ct, totT) = LlmPipeline.knModel(biB)
        val st = LlmPipeline.knNumDen(
          LlmPipeline.knBigrams(EventStreams.documents(s, dir))
            .filter(col("doc_id") < 350)
            .join(c12, Seq("w1", "w2"), "left")
            .join(c1, Seq("w1"), "left")
            .join(ct, Seq("w2"), "left"), totT)
          .groupBy(col("doc_id"), col("w1"), col("w2"))
          .agg(count(lit(1)).as("k"),
            min(col("num")).as("num"), min(col("den")).as("den"))
        LlmPipeline.knScoreOf(
          EventStreams.runToTable(s, st, "d25_sink"))
      },
      Some(LlmPipeline.knOracleSql)),

    // D26 — the WIKIPEDIA .xml.bz2 pipeline as a STREAM (e97b's
    // deployment shape: dump shards landing in a drop directory,
    // decompressed and page-extracted per trigger). Per-file work is
    // stateless — bzip2 decode + scoped page extraction + wikitext
    // cleanup are all within-file — so the stream is a pure append map,
    // slicing-independent by construction, sharing e97's fixture and
    // oracle verbatim (the d22/d24 pattern).
    "d26_stream_wiki" -> QueryDef(
      (s, dir) => {
        val wDir = Curation.writeWikiFixture(s, dir, bz2 = true)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "1")
          .load(wDir)
          .select(Curation.bz2ToXml(col("content")).as("xml"))
        EventStreams.runToTable(s, Curation.wikiProject(raw),
            "d26_sink", mode = "append")
          .orderBy(col("page_id"))
      },
      Some(Curation.wikiOracleSql)),

    // D27 — ZIP ingest as a STREAM (e93's deployment shape: archive
    // drops landing in a directory, members extracted and CRC-verified
    // per trigger). Archive decode is within-file — the stream is a
    // pure append map, slicing-independent, sharing e93's fixture and
    // oracle verbatim (the d22/d24/d26 pattern).
    "d27_stream_zip" -> QueryDef(
      (s, dir) => {
        val zDir = Curation.writeZipFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "2")
          .load(zDir)
        EventStreams.runToTable(s, Curation.zipProject(raw),
            "d27_sink", mode = "append")
          .orderBy(col("fname"), col("member"))
      },
      Some(Curation.zipOracleSql)),

    // D28 — ZSTD-SHARD ingest as a STREAM (e98's deployment shape:
    // `.jsonl.zst` drops landing in a directory, frames walked and
    // lines typed per trigger). Frame decode is within-file — the
    // stream is a pure append map, slicing-independent, sharing e98's
    // fixture and oracle verbatim (the d22/d24/d26/d27 pattern).
    "d28_stream_zstd" -> QueryDef(
      (s, dir) => {
        val zDir = Curation.writeZstdFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "2")
          .load(zDir)
        EventStreams.runToTable(s, Curation.zstdProject(raw),
            "d28_sink", mode = "append")
          .orderBy(col("fname"), col("line_no"))
      },
      Some(Curation.zstdOracleSql)),

    // D29 — XZ-SHARD ingest as a STREAM (e99's deployment shape:
    // `.jsonl.xz` drops landing in a directory, the from-scratch
    // LZMA/xz walk run per trigger). Decode is within-file — a pure
    // append map, slicing-independent, sharing e99's fixture and
    // oracle verbatim (the d28 pattern).
    "d29_stream_xz" -> QueryDef(
      (s, dir) => {
        val xDir = Curation.writeXzFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "2")
          .load(xDir)
        EventStreams.runToTable(s, Curation.xzProject(raw),
            "d29_sink", mode = "append")
          .orderBy(col("fname"), col("line_no"))
      },
      Some(Curation.xzOracleSql)),

    // D30 — GZIP-LINE-SHARD ingest as a STREAM (e98b's deployment
    // shape; strict member walk per trigger). Within-file decode = pure
    // append map, slicing-independent, sharing e98b's fixture and
    // oracle verbatim (the d28/d29 pattern).
    "d30_stream_gzip" -> QueryDef(
      (s, dir) => {
        val gDir = Curation.writeGzipFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "2")
          .load(gDir)
        EventStreams.runToTable(s, Curation.gzipLinesProject(raw),
            "d30_sink", mode = "append")
          .orderBy(col("fname"), col("line_no"))
      },
      Some(Curation.gzipLinesOracleSql)),

    // D31 — TAR.XZ ingest as a STREAM (e99b's deployment shape: repo
    // tarballs landing in a drop directory, container-in-container
    // decode per trigger). Within-file, pure append map, sharing
    // e99b's fixture and oracle verbatim.
    "d31_stream_tarxz" -> QueryDef(
      (s, dir) => {
        val tDir = Curation.writeTarXzFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "1")
          .load(tDir)
        EventStreams.runToTable(s, Curation.tarXzProject(raw),
            "d31_sink", mode = "append")
          .orderBy(col("doc_id"))
      },
      Some(Curation.tarXzOracleSql)),

    // D32 — EPUB ingest as a STREAM (e100's deployment shape: book
    // drops landing in a directory, the OCF/OPF walk run per trigger).
    // Within-file decode = pure append map, slicing-independent,
    // sharing e100's fixture and oracle verbatim.
    "d32_stream_epub" -> QueryDef(
      (s, dir) => {
        val eDir = Curation.writeEpubFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "3")
          .load(eDir)
        EventStreams.runToTable(s, Curation.epubProject(raw),
            "d32_sink", mode = "append")
          .orderBy(col("fname"), col("spine_idx"))
      },
      Some(Curation.epubOracleSql)),

    // D33 — DOCX ingest as a STREAM (e101's deployment shape: office
    // documents landing in a drop directory, the OPC walk run per
    // trigger). Within-file decode = pure append map,
    // slicing-independent, sharing e101's fixture and oracle verbatim.
    "d33_stream_docx" -> QueryDef(
      (s, dir) => {
        val dDir = Curation.writeDocxFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "3")
          .load(dDir)
        EventStreams.runToTable(s, Curation.docxProject(raw),
            "d33_sink", mode = "append")
          .orderBy(col("fname"), col("para_idx"))
      },
      Some(Curation.docxOracleSql)),

    // D34 — TFRecord ingest as a STREAM (e102's deployment shape:
    // tf.Example shards landing from an upstream tensor-stack
    // pipeline, the framing walk + proto decode run per trigger).
    // Within-file decode = pure append map, slicing-independent,
    // sharing e102's fixture and oracle verbatim.
    "d34_stream_tfrecord" -> QueryDef(
      (s, dir) => {
        val tDir = Curation.writeTfRecordFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "2")
          .load(tDir)
        EventStreams.runToTable(s,
            graft.operators.TfRecord.parseDocs(raw)
              .select(col("doc_id"),
                regexp_extract(col("fname"), "([0-9]+)", 1)
                  .cast("int").as("shard"),
                col("text")),
            "d34_sink", mode = "append")
          .orderBy(col("doc_id"))
      },
      Some(Curation.tfRecordOracleSql)),

    // D35 — FLAC ingest as a STREAM (e103's deployment shape: audio
    // recordings landing in a drop directory, the whole-file decode
    // run per trigger). Within-file decode = pure append map,
    // slicing-independent, sharing e103's fixture and oracle verbatim.
    "d35_stream_flac" -> QueryDef(
      (s, dir) => {
        val fDir = Curation.writeFlacFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "7")
          .load(fDir)
        EventStreams.runToTable(s, Curation.flacProject(raw),
            "d35_sink", mode = "append")
          .orderBy(col("doc_id"))
      },
      Some(Curation.flacOracleSql)),

    // D36 — SQLite ingest as a STREAM (e104's deployment shape:
    // database drops landing in a directory, the b-tree walk run per
    // trigger). Within-file decode = pure append map,
    // slicing-independent, sharing e104's fixture and oracle verbatim.
    "d36_stream_sqlite" -> QueryDef(
      (s, dir) => {
        val sDir = Curation.writeSqliteFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "3")
          .load(sDir)
        EventStreams.runToTable(s, Curation.sqliteProject(raw),
            "d36_sink", mode = "append")
          .orderBy(col("doc_id"))
      },
      Some(Curation.sqliteOracleSql)),

    // D37 — Avro ingest as a STREAM (e105's deployment shape:
    // container files landing from an upstream export pipeline, the
    // OCF walk run per trigger). Within-file decode = pure append map,
    // slicing-independent, sharing e105's fixture and oracle verbatim.
    "d37_stream_avro" -> QueryDef(
      (s, dir) => {
        val aDir = Curation.writeAvroFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "3")
          .load(aDir)
        EventStreams.runToTable(s, Curation.avroProject(raw),
            "d37_sink", mode = "append")
          .orderBy(col("doc_id"))
      },
      Some(Curation.avroOracleSql)),

    // D38 — TIFF ingest as a STREAM (e106's deployment shape: scan
    // batches landing from a digitization pipeline, the IFD walk run
    // per trigger). Within-file decode = pure append map,
    // slicing-independent, sharing e106's fixture and oracle verbatim.
    "d38_stream_tiff" -> QueryDef(
      (s, dir) => {
        val tDir = Curation.writeTiffFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "3")
          .load(tDir)
        EventStreams.runToTable(s, Curation.tiffProject(raw),
            "d38_sink", mode = "append")
          .orderBy(col("fname"), col("page"))
      },
      Some(Curation.tiffOracleSql)),

    // D39 — MP3 framing walk as a STREAM (e107's deployment shape:
    // recordings landing from a capture pipeline, the frame walk run
    // per trigger). Within-file walk = pure append map,
    // slicing-independent, sharing e107's fixture and oracle verbatim.
    "d39_stream_mp3" -> QueryDef(
      (s, dir) => {
        val mDir = Curation.writeMp3Fixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "13")
          .load(mDir)
        EventStreams.runToTable(s, Curation.mp3Project(raw),
            "d39_sink", mode = "append")
          .orderBy(col("doc_id"))
      },
      Some(Curation.mp3OracleSql)),

    // D40 — Ogg/Opus container walk as a STREAM (e108's deployment
    // shape: voice recordings landing from a capture pipeline, the
    // page walk run per trigger). Within-file walk = pure append map,
    // slicing-independent, sharing e108's fixture and oracle verbatim.
    "d40_stream_ogg" -> QueryDef(
      (s, dir) => {
        val oDir = Curation.writeOggFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "13")
          .load(oDir)
        EventStreams.runToTable(s, Curation.oggProject(raw),
            "d40_sink", mode = "append")
          .orderBy(col("doc_id"))
      },
      Some(Curation.oggOracleSql)),

    // D41 — WebM/Matroska walk as a STREAM (e109's deployment shape:
    // video drops landing from an upload pipeline, the EBML walk run
    // per trigger). Within-file walk = pure append map,
    // slicing-independent, sharing e109's fixture and oracle verbatim.
    "d41_stream_webm" -> QueryDef(
      (s, dir) => {
        val wDir = Curation.writeWebmFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "13")
          .load(wDir)
        EventStreams.runToTable(s, Curation.webmProject(raw),
            "d41_sink", mode = "append")
          .orderBy(col("doc_id"))
      },
      Some(Curation.webmOracleSql)),

    // D42 — 7z ingest as a STREAM (e110's deployment shape: archive
    // drops landing in a directory, members extracted per trigger).
    // Within-file decode = pure append map, slicing-independent,
    // sharing e110's fixture and oracle verbatim.
    "d42_stream_7z" -> QueryDef(
      (s, dir) => {
        val zDir = Curation.writeSevenZipFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "3")
          .load(zDir)
        EventStreams.runToTable(s, Curation.sevenZipProject(raw),
            "d42_sink", mode = "append")
          .orderBy(col("doc_id"))
      },
      Some(Curation.sevenZipOracleSql)),

    // D43 — LZ4 shard ingest as a STREAM (e111's deployment shape:
    // fast-path log shards landing per trigger). Within-file decode =
    // pure append map, slicing-independent, sharing e111's fixture and
    // oracle verbatim (the d28/d30 pattern).
    "d43_stream_lz4" -> QueryDef(
      (s, dir) => {
        val lDir = Curation.writeLz4Fixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "2")
          .load(lDir)
        EventStreams.runToTable(s, Curation.lz4Project(raw),
            "d43_sink", mode = "append")
          .orderBy(col("fname"), col("line_no"))
      },
      Some(Curation.lz4OracleSql)),

    // D44 — universal mixed-drop ingest as a STREAM (e112's deployment
    // shape: a heterogeneous drop directory filling from many
    // producers, every arriving file routed by its bytes and decoded
    // per trigger). Within-file sniff + decode = pure append map,
    // slicing-independent, sharing e112's fixture and oracle verbatim.
    "d44_stream_universal" -> QueryDef(
      (s, dir) => {
        val mDir = Curation.writeMixedDropFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "37")
          .load(mDir)
        EventStreams.runToTable(s,
            graft.operators.UniversalIngest.parse(raw),
            "d44_sink", mode = "append")
          .orderBy(col("fname"))
      },
      Some(Curation.mixedDropOracleSql)),

    // D45 — WebP decode as a STREAM (e113's deployment shape: crawled
    // images landing from a fetch pipeline, the VP8L decode run per
    // trigger). Within-file decode = pure append map,
    // slicing-independent, sharing e113's fixture and oracle verbatim.
    "d45_stream_webp" -> QueryDef(
      (s, dir) => {
        val wDir = Curation.writeWebpFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "13")
          .load(wDir)
        EventStreams.runToTable(s, Curation.webpProject(raw),
            "d45_sink", mode = "append")
          .orderBy(col("doc_id"))
      },
      Some(Curation.webpOracleSql)),

    // D50 — VP8-in-WebM keyframe extraction as a STREAM (e12x's
    // deployment shape: video drops landing from a crawl, thumbnails
    // decoded per trigger). Within-file walk + decode = pure append
    // map, slicing-independent, sharing e12x's fixture and oracle
    // verbatim.
    "d50_stream_webm_vp8" -> QueryDef(
      (s, dir) => {
        val mDir = LlmPipeline.writeWebmVp8Fixture(s, dir, "webm_vp8_d50")
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "6")
          .load(mDir)
        EventStreams.runToTable(s, LlmPipeline.webmVp8Project(raw),
            "d50_sink", mode = "append")
          .orderBy(col("fname"), col("frame"))
      },
      Some(LlmPipeline.webmVp8OracleSql)),

    // D51 — animated-WebP frame extraction as a STREAM (e117's
    // deployment shape). Within-file walk + decode = pure append map,
    // slicing-independent, sharing e117's fixture and oracle verbatim.
    "d51_stream_webp_anim" -> QueryDef(
      (s, dir) => {
        val aDir = Curation.writeWebpAnimFixture(s, dir, "webp_anim_d51")
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "6")
          .load(aDir)
        EventStreams.runToTable(s, Curation.webpAnimProject(raw),
            "d51_sink", mode = "append")
          .orderBy(col("fname"), col("frame"))
      },
      Some(Curation.webpAnimOracleSql)),

    // D49 — LOSSY WebP (VP8) decode as a STREAM (e113b's deployment
    // shape: crawled lossy images landing from a fetch pipeline, the
    // full RFC 6386 decode incl. ALPH alpha planes run per trigger).
    // Within-file decode = pure append map, slicing-independent; the
    // streamed result then full-outer-joins the committed
    // reference-derived stats fixture exactly like the batch row.
    "d49_stream_webp_lossy" -> QueryDef(
      (s, dir) => {
        val wDir = Curation.writeVp8LossyFixture("st", "webp_lossy_d49")
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "7")
          .load(wDir)
        val streamed = EventStreams.runToTable(s,
          graft.operators.WebpL.parse(raw), "d49_sink", mode = "append")
        LlmPipeline.fixtureCheck(
          s, dir, "e113b_webp_lossy", streamed, Seq("fname"))
      },
      Some(LlmPipeline.fixtureSql("e113b_webp_lossy",
        Seq("fname", "width", "height", "mean_a", "mean_r", "mean_g",
          "mean_b")))),

    // D52 — ICO/CUR ingest as a STREAM (e118's deployment shape:
    // favicons landing from a crawl fetch pipeline, entries parsed per
    // trigger). Within-file walk = pure append map, slicing-
    // independent, sharing e118's fixture and oracle verbatim.
    "d52_stream_ico" -> QueryDef(
      (s, dir) => {
        val iDir = Curation.writeIcoFixture("ico")
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "2")
          .load(iDir)
        EventStreams.runToTable(s, Curation.icoProject(raw),
            "d52_sink", mode = "append")
          .orderBy(col("fname"), col("idx"))
      },
      Some(Curation.icoOracleSql)),

    // D53 — AVIF/HEIC container ingest as a STREAM (e119's deployment
    // shape: modern-format images landing from a fetch pipeline, the
    // meta walk run per trigger). Within-file walk = pure append map,
    // slicing-independent, sharing e119's fixture and reference-pinned
    // expected rows verbatim.
    "d53_stream_avif" -> QueryDef(
      (s, dir) => {
        val aDir = Curation.writeAvifHeifFixture("avif_heif")
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "5")
          .load(aDir)
        val streamed = EventStreams.runToTable(s, Curation.heifProject(raw),
          "d53_sink", mode = "append")
        LlmPipeline.fixtureCheck(s, dir, "e119_avif", streamed, Seq("fname"))
      },
      Some(LlmPipeline.fixtureSql("e119_avif",
        Seq("fname", "item_type", "width", "height", "depth", "has_alpha",
          "n_items", "irot", "primary_bytes", "seq_profile",
          "still_picture", "obu_max_w", "obu_max_h", "obu_bitdepth",
          "obu_mono", "obu_sub_x", "obu_sub_y", "px_y_mean", "px_u_mean",
          "px_v_mean", "px_a_mean")))),

    // D46 — mbox/MIME ingest as a STREAM (e114's deployment shape:
    // archive files landing from a list-server export, messages parsed
    // per trigger). Within-file parse = pure append map,
    // slicing-independent, sharing e114's fixture and oracle verbatim.
    "d46_stream_mbox" -> QueryDef(
      (s, dir) => {
        val mDir = Curation.writeMboxFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "2")
          .load(mDir)
        EventStreams.runToTable(s, Curation.mboxProject(raw),
            "d46_sink", mode = "append")
          .orderBy(col("fname"), col("msg_idx"))
      },
      Some(Curation.mboxOracleSql)),

    // D47 — ODT ingest as a STREAM (e115's deployment shape: document
    // drops landing in a directory, the package walk run per trigger).
    // Within-file decode = pure append map, slicing-independent,
    // sharing e115's fixture and oracle verbatim.
    "d47_stream_odt" -> QueryDef(
      (s, dir) => {
        val oDir = Curation.writeOdtFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "3")
          .load(oDir)
        EventStreams.runToTable(s, Curation.odtProject(raw),
            "d47_sink", mode = "append")
          .orderBy(col("fname"), col("para_idx"))
      },
      Some(Curation.odtOracleSql)),

    // D48 — RTF extraction as a STREAM (e116's deployment shape:
    // legacy-document drops landing in a directory, parsed per
    // trigger). Within-file parse = pure append map,
    // slicing-independent, sharing e116's fixture and oracle verbatim.
    "d48_stream_rtf" -> QueryDef(
      (s, dir) => {
        val rDir = Curation.writeRtfFixture(s, dir)
        val raw = s.readStream.format("binaryFile")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .option("maxFilesPerTrigger", "3")
          .load(rDir)
        EventStreams.runToTable(s, Curation.rtfProject(raw),
            "d48_sink", mode = "append")
          .orderBy(col("fname"), col("para_idx"))
      },
      Some(Curation.rtfOracleSql))
  )
}

/** D9b processor: exact integer-cents running totals in typed ValueState. */
class RunningTotalsProcessor
    extends StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {

  @transient private var totals: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Double)](
      "totals", Encoders.product[(Long, Double)], TTLConfig.NONE)

  override def handleInputRows(
      user: Long,
      rows: Iterator[(Long, Double)],
      timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
    val (n0, cents0) = Option(totals.get()).getOrElse((0L, 0.0))
    var n = n0
    var cents = cents0
    rows.foreach { case (_, v) => n += 1; cents += math.floor(v * 100 + 0.5) }
    totals.update((n, cents))
    Iterator((user, n, cents / 100))
  }
}
