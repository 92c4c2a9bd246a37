package graft.queries

import graft.{Graft, QueryBlock, QueryDef, Tables, TextFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operators (SURVEY.md §2 block E): dedup, embedding
  * similarity / KNN, tokenization, n-grams, TF-IDF, sentiment, similarity
  * joins, multimodal ingest, corpus profiling.
  *
  * Scale notes (100 TB design point, SURVEY §7):
  *  - every similarity join here is join-shaped (pair generation via a key:
  *    LSH band, shared token, length bucket) — never a materialized
  *    cartesian; the only cross joins broadcast a bounded query set;
  *  - embedding math runs in codegen'd higher-order functions
  *    (aggregate/zip_with), not UDFs;
  *  - dedup/TF-IDF are partial+final hash aggregates — the stock
  *    HashAggregateExec path.
  */
object LlmPipeline extends QueryBlock {
  import Graft._

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)
  private val scratch = graft.Graft.scratchDir

  // --- Fixture oracles for the owned-hash-family queries ------------------
  //
  // MinHash/SimHash/fingerprint/hyperplane-LSH use graft's own hash family
  // (TextFunctions/AnnLsh) — no DuckDB SQL can recompute them, so their
  // expected outputs are committed as parquet fixtures generated by the
  // INDEPENDENT Python implementation (scripts/fixture_oracle.py, same
  // algorithm spec as scripts/minhash_reference.py whose golden vectors pin
  // the family cross-language). The engine result full-outer-joins the
  // fixture on every column (null-safe): when they agree the output IS the
  // fixture plus (1,1) flags, matching the oracle's SELECT over the same
  // file; any missing/extra/differing row surfaces as a 0-flag row — a
  // rows+hash mismatch, never a silent pass.
  private val FixtureRoot = "/root/repo/fixtures"

  /** Scale-factor directory name the ORACLE should read fixtures for —
    * a `def`, resolved at [[SparkEntry.oracleSql]] ACCESS time (never
    * frozen at object init): the query maps bake the `__GRAFT_SF__`
    * placeholder instead of a path, so a JVM that touches LlmPipeline
    * before Verify sets the property, or verifies two SF dirs in one
    * process, still gets SF-correct oracle SQL. Standalone (no property,
    * no env) defaults to the driver's gate SF.
    */
  private[graft] def fixtureSf: String =
    sys.props.getOrElse("graft.sf.name", sys.env.getOrElse("GRAFT_SF_NAME", "sf0.01"))

  /** Placeholder the fixture oracle SQL embeds; [[SparkEntry.oracleSql]]
    * substitutes the current [[fixtureSf]] on every access. */
  private[graft] val SfToken = "__GRAFT_SF__"

  private[graft] def fixtureCheck(s: SparkSession, dir: String, name: String,
      engine: DataFrame, orderCols: Seq[String],
      root: String = FixtureRoot): DataFrame = {
    val cols = engine.columns.toSeq
    val path = s"$root/${new java.io.File(dir).getName}/$name.parquet"
    // final sort via sortSmall (single-partition sort, no range sampling):
    // a plain orderBy would plan a range exchange whose boundary-sampling
    // job RE-EXECUTES the whole upstream pipeline — for e02 at the 10x
    // stress volume that tripled the runtime and spilled ~1 GiB. The
    // output here is comparison-sized (fixture rows + any diffs), so one
    // partition is the scale-correct shape.
    if (!new java.io.File(path).exists())
      // no committed fixture for this input dir (10x stress replica, staged
      // bench dirs): emit the engine result with a NULL fixture flag — a
      // driver compare here would go red, never silently green.
      Graft.sortSmall(engine.select(cols.map(col) :+ lit(1).as("in_engine")
        :+ lit(null).cast("int").as("in_fixture"): _*), orderCols.map(col): _*)
    else {
      val e = engine.select(cols.map(c => col(c).as("e_" + c)): _*)
        .withColumn("in_engine", lit(1))
      val f = s.read.parquet(path).select(cols.map(c => col(c).as("f_" + c)): _*)
        .withColumn("in_fixture", lit(1))
      Graft.sortSmall(
        e.join(f, cols.map(c => col("e_" + c) <=> col("f_" + c)).reduce(_ && _),
            "full_outer")
          .select(cols.map(c => coalesce(col("e_" + c), col("f_" + c)).as(c))
            :+ coalesce(col("in_engine"), lit(0)).as("in_engine")
            :+ coalesce(col("in_fixture"), lit(0)).as("in_fixture"): _*),
        orderCols.map(col): _*)
    }
  }

  /** e12x/d50 shared: WebM files over docs 465–485, each video track
    * carrying committed reference-encoded VP8 key frames (member
    * rotation (doc_id*7 + j) mod member-count over the sorted-name st*
    * set), interleaved with audio blocks and non-key junk.
    */
  private[graft] def writeWebmVp8Fixture(s: SparkSession, dir: String,
      sub: String): String = {
    val members = graft.queries.Curation.vp8LossyMembers("st")
      .map { case (n, riff) =>
        n -> graft.operators.Vp8.vp8Chunk(riff).get
      }
    val mDir = s"$scratch/$sub"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(mDir))
    new java.io.File(mDir).listFiles().foreach(_.delete())
    t(s, dir, "documents")
      .filter(col("text").isNotNull &&
        col("doc_id") >= 465 && col("doc_id") < 485)
      .select(col("doc_id")).collect().foreach { r =>
        val id = r.getLong(0)
        val n = 3 + (id % 4).toInt
        val frames = (0 until n).map(j =>
          members(((id * 7 + j) % members.size).toInt)._2)
        val f0 = frames.head
        val w0 = ((f0(6) & 0xff) | ((f0(7) & 0xff) << 8)) & 0x3fff
        val h0 = ((f0(8) & 0xff) | ((f0(9) & 0xff) << 8)) & 0x3fff
        java.nio.file.Files.write(
          java.nio.file.Paths.get(f"$mDir/m$id%04d.webm"),
          graft.operators.Webm.makeWebmVp8(w0, h0, frames, seed = id))
      }
    mDir
  }

  /** e12x/d50 shared: binaryFile rows -> per-keyframe decoded stats. */
  private[graft] def webmVp8Project(raw: DataFrame): DataFrame = {
    val ex = udf { (b: Array[Byte]) =>
      graft.operators.Webm.videoKeyframes(b).getOrElse(Vector.empty)
        .flatMap { case (idx, ts, payload) =>
          graft.operators.Vp8.decodePayload(payload).map { img =>
            val n = img.width * img.height
            var sr = 0L; var sg = 0L; var sb = 0L
            img.pixels.foreach { px =>
              sr += (px >>> 16) & 0xff
              sg += (px >>> 8) & 0xff
              sb += px & 0xff
            }
            def r6(v: Long): Double = BigDecimal(v.toDouble / n)
              .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
            (idx, ts, img.width, img.height, r6(sr), r6(sg), r6(sb))
          }
        }
    }
    raw
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        explode(ex(col("content"))).as("x"))
      .select(col("fname"), col("x._1").as("frame"),
        col("x._2").as("ts_ticks"),
        col("x._3").as("width"), col("x._4").as("height"),
        col("x._5").as("mean_r"), col("x._6").as("mean_g"),
        col("x._7").as("mean_b"))
  }

  private[graft] val webmVp8OracleSql: String =
    s"""WITH d AS (SELECT doc_id, 3 + CAST(doc_id % 4 AS INT) AS n
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 465 AND doc_id < 485),
      members AS (SELECT width, height, mean_r, mean_g, mean_b,
          row_number() OVER (ORDER BY fname) - 1 AS k,
          count(*) OVER () AS nm
        FROM read_parquet('/root/repo/fixtures/$SfToken/e113b_webp_lossy.parquet')),
      fr AS (SELECT doc_id, j, (doc_id * 7 + j) % (SELECT max(nm) FROM members) AS k
        FROM d, UNNEST(generate_series(0, n - 1)) AS t(j))
      SELECT 'm' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || '.webm' AS fname,
        CAST(j AS INTEGER) AS frame,
        CAST(40 * j AS BIGINT) AS ts_ticks,
        CAST(m.width AS INTEGER) AS width,
        CAST(m.height AS INTEGER) AS height,
        m.mean_r, m.mean_g, m.mean_b
      FROM fr JOIN members m USING (k)
      ORDER BY fname, frame"""

  /** Oracle twin of [[fixtureCheck]]: the fixture itself with (1,1) flags. */
  private[graft] def fixtureSql(name: String, cols: Seq[String]): String =
    s"""SELECT ${cols.mkString(", ")}, 1 AS in_engine, 1 AS in_fixture
      FROM read_parquet('$FixtureRoot/$SfToken/$name.parquet')
      ORDER BY ${cols.mkString(", ")}"""

  /** Spark-side cosine similarity: the fused codegen'd Catalyst expression
    * (graft.functions.CosineSimilarity) — one loop instead of the 3-pass
    * aggregate∘zip_with HOF chain, same sequential fold per accumulator, so
    * DuckDB's list_sum over the same casts reproduces it bit-for-bit.
    */
  private def cosineExpr(a: String, b: String): String =
    s"cosine_sim($a, $b)"

  /** DuckDB-side byte extraction from `H = hex(content)` (read_blob): 1.0
    * has no blob slicing, so byte `off` (1-based) is two hex chars; strpos
    * over '123456789ABCDEF' maps a nibble to its value ('0' -> 0 via the
    * deliberate 0-for-not-found).
    */
  private def duckHexByte(off: Int): String =
    s"(strpos('123456789ABCDEF', substr(H, ${2 * off - 1}, 1))*16 + strpos('123456789ABCDEF', substr(H, ${2 * off}, 1)))"
  private def duckLeU16(off: Int): String =
    s"(${duckHexByte(off)} + 256*${duckHexByte(off + 1)})"
  private def duckLeU32(off: Int): String =
    s"(${duckHexByte(off)} + 256*${duckHexByte(off + 1)} + 65536*${duckHexByte(off + 2)} + 16777216*${duckHexByte(off + 3)})"
  private def duckBeU16(off: Int): String =
    s"(256*${duckHexByte(off)} + ${duckHexByte(off + 1)})"
  private def duckBeU32(off: Int): String =
    s"(16777216*${duckHexByte(off)} + 65536*${duckHexByte(off + 1)} + 256*${duckHexByte(off + 2)} + ${duckHexByte(off + 3)})"

  /** DuckDB-side cosine with the same op order. */
  private def duckCosine(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""

  /** e92/d25 shared: whitespace-token bigrams over a documents-shaped
    * relation (lowercased; docs with ≥ 2 tokens). Works identically on
    * batch and streaming inputs. */
  def knBigrams(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
          i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"""))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** e92/d25 shared: the KN count tables from the doc_id<250 train
    * slice, plus the exact bigram-type total T as ONE long bound as a
    * literal (the e33/e28c pattern — a 1-row crossJoin would plan
    * BroadcastNestedLoopJoin). */
  def knModel(bi: DataFrame): (DataFrame, DataFrame, DataFrame, Long) = {
    // r18 optimization: checkpoint the bigram count table — its four
    // consumers (the T count, the c12 join, and the c1/ct derivations)
    // each re-ran the train-slice explode+aggregate. The count tables are
    // model-scale (distinct bigrams), so the checkpointed blocks stay
    // bounded at any corpus size.
    val c12 = bi.filter(col("doc_id") < 250)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val c1 = c12.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val ct = c12.groupBy("w2").agg(count(lit(1)).as("nct"))
    (c12, c1, ct, c12.count())
  }

  /** e92/d25 shared: the exact integer-rational KN probability — num
    * and den columns from the joined count columns, with the
    * three-step OOV ladder (unseen context → pure continuation; unseen
    * w2 under a seen context → the discount-mass floor; never-seen w2
    * → 1/(4T²)). */
  def knNumDen(joined: DataFrame, totT: Long): DataFrame =
    joined
      .withColumn("num", expr(s"""CASE WHEN c1 IS NULL THEN
          (CASE WHEN nct IS NULL THEN 1L ELSE nct END)
        ELSE greatest(
          greatest(4L * coalesce(c12, 0L) - 3L, 0L) * ${totT}L
            + 3L * n1f * coalesce(nct, 0L), 1L) END"""))
      .withColumn("den", expr(s"""CASE WHEN c1 IS NULL THEN
          (CASE WHEN nct IS NULL THEN 4L * ${totT}L * ${totT}L
           ELSE ${totT}L END)
        ELSE 4L * ${totT}L * c1 END"""))

  /** e92/d25 shared scoring tail: per-doc mean bigram log-prob via the
    * e33 sorted weighted fold, over rows carrying (doc_id, k, num, den). */
  def knScoreOf(nd: DataFrame): DataFrame =
    nd.select(col("doc_id"), col("k"),
        (col("k").cast("double")
          * log(col("num").cast("double") / col("den").cast("double"))).as("kl"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bi"),
        expr("round(aggregate(sort_array(collect_list(kl)), 0D, (s, x) -> s + x) / sum(k), 6)")
          .as("kn_score"))
      .withColumn("keep", col("kn_score") > -10.0)

  /** The e92/d25 oracle: the full KN pipeline re-derived in DuckDB. */
  val knOracleSql: String =
    """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        FROM documents WHERE text IS NOT NULL AND len(string_split(lower(text), ' ')) >= 2),
      bi AS (SELECT doc_id,
          unnest(list_transform(generate_series(1, len(toks) - 1),
            i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS b
        FROM d),
      bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi),
      c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg WHERE doc_id < 250 GROUP BY w1, w2),
      c1 AS (SELECT w1, sum(c12) AS c1, count(*) AS n1f FROM c12 GROUP BY w1),
      ct AS (SELECT w2, count(*) AS nct FROM c12 GROUP BY w2),
      tt AS (SELECT count(*) AS T FROM c12),
      pt AS (SELECT doc_id, w1, w2, count(*) AS k FROM bg WHERE doc_id < 350 GROUP BY doc_id, w1, w2),
      nd AS (SELECT doc_id, k,
          CASE WHEN c1 IS NULL THEN
            (CASE WHEN nct IS NULL THEN 1 ELSE nct END)
          ELSE GREATEST(
            GREATEST(4 * COALESCE(c12, 0) - 3, 0) * T
              + 3 * n1f * COALESCE(nct, 0), 1) END AS num,
          CASE WHEN c1 IS NULL THEN
            (CASE WHEN nct IS NULL THEN 4 * T * T ELSE T END)
          ELSE 4 * T * c1 END AS den
        FROM pt
        LEFT JOIN c12 USING (w1, w2)
        LEFT JOIN c1 USING (w1)
        LEFT JOIN ct USING (w2)
        CROSS JOIN tt),
      ls AS (SELECT doc_id, k,
          k * ln(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) AS kl
        FROM nd)
      SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bi,
        round(list_sum(list_sort(list(kl))) / sum(k), 6) AS kn_score,
        round(list_sum(list_sort(list(kl))) / sum(k), 6) > -10.0 AS keep
      FROM ls GROUP BY doc_id"""

  val queries: Map[String, QueryDef] = Map(
    // E1 — exact dedup: canonical keeper (min doc_id) + multiplicity per
    // distinct text. Partial+final hash agg; at 100 TB group on sha2(text)
    // instead of raw text to bound shuffle width (same result).
    // No final ORDER BY: dedup output scales with the corpus, so a global
    // sort is not part of the operator (at 100 TB it would be a second
    // full shuffle + a range-sampling rerun of the agg). The driver gate
    // and selfcheck both canonicalize by sorting rows before hashing.
    // The r8-item-5 TWO-LEVEL digest variant lives as e01b below: measured
    // at sf1 it LOSES (317 ms static vs 139 — the extra scan + stages cost
    // more than the ~15% crypto saving at 50k docs), so the single-pass
    // digest stays the headline form; e01b is the crypto-bound-corpus
    // alternative, correctness-gated by the same oracle.
    "e01_exact_dedup" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy(sha2(col("text"), 256).as("h"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .select(col("keep_id"), col("n_copies")),
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY sha256(text)""")),

    // E1b — exact dedup, TWO-LEVEL digest (VERDICT r8 item 5): level 1
    // groups on the LIGHT key (length, xxhash64) — 12 bytes of shuffle per
    // row and no crypto work — which is exact for every SINGLETON group (a
    // duplicate or collision would make its group bigger). Only the
    // multi-member groups — the duplicate minority plus any light-key
    // collision — take the sha2 pass: their keys restrict a second scan
    // (g1's exchange is reused across both branches; the join build side
    // is the bounded multi-key set), and sha2 separates true duplicates
    // from collisions exactly. xxhash64(NULL-text) folds to the seed and
    // length(NULL) to NULL, and the join uses <=> so the NULL group
    // survives (plain struct equality would null out and drop it).
    //
    // When to use which (measured, sf1 idle window): the single-pass e01
    // wins at bench scale (139 ms vs 317 — two extra stages outweigh the
    // crypto saving on a 15 MB corpus); e01b's win condition is a corpus
    // where sha2 CPU dominates stage overhead — digesting 100 TB at
    // ~1 GB/s/core is the bottleneck the light key removes for the
    // ~unique majority, at the price of a second (cheap-hash-only) scan.
    "e01b_twolevel_dedup" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val lightKey = struct(length(col("text")).as("len"),
          xxhash64(col("text")).as("xh"))
        val g1 = docs.groupBy(lightKey.as("k"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        val singles = g1.filter(col("n_copies") === 1)
          .select(col("keep_id"), col("n_copies"))
        val multiKeys = g1.filter(col("n_copies") > 1).select(col("k"))
        val multi = docs.join(multiKeys, lightKey <=> col("k"))
          .groupBy(sha2(col("text"), 256).as("h"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .select(col("keep_id"), col("n_copies"))
        singles.unionByName(multi)
      },
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY sha256(text)""")),

    // E3 — brute-force cosine top-10 against query vector 0 (BASELINE B9).
    // The single query vector is LITERAL-BOUND: one bounded driver-side
    // lookup (1 row by construction), then the scan scores against an
    // inlined array literal — no BroadcastExchange, no join; the whole
    // query is one TakeOrdered pass over the corpus. This is the 100 TB
    // plan: a 1-row "table" has no business in a distributed join.
    "e03_cosine_topk" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        // collect(), not head(): head's incremental limit probes partitions
        // in waves (several sub-jobs); one stats-pruned scan is one job
        val qv: Array[Float] = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).collect().head.getSeq[Float](0).toArray
        emb.select(col("vec_id"),
            call_function("cosine_sim", col("embedding"), typedlit(qv)).as("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH q AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)
        SELECT vec_id, ${duckCosine("embedding", "q")} AS sim
        FROM embeddings CROSS JOIN q
        ORDER BY sim DESC, vec_id LIMIT 10""")),

    // E4 — KNN join: 5 query vectors -> 3 nearest corpus vectors each.
    // Broadcast the bounded query side; scores stay distributed. The 100 TB
    // corpus-vs-corpus variant batches the probe side (SURVEY §4.3).
    "e04_knn_join" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("q"))
        val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
        emb.crossJoin(broadcast(q))
          .select(col("qid"), col("vec_id"), expr(cosineExpr("embedding", "q")).as("sim"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("qid"), col("rk"), col("vec_id"), col("sim"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS q FROM embeddings WHERE vec_id < 5),
        scored AS (SELECT qid, vec_id, ${duckCosine("embedding", "q")} AS sim
          FROM embeddings CROSS JOIN q),
        ranked AS (SELECT qid, vec_id, sim,
          CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rk
          FROM scored)
        SELECT qid, rk, vec_id, sim FROM ranked WHERE rk <= 3 ORDER BY qid, rk""")),

    // E4b — the SAME KNN join through the bounded-memory TopK aggregator
    // (operators.TopK, the 100 TB path: k-sized buffers map-side instead
    // of a full window sort) — deliberately shares e04's oracle, proving
    // path equivalence on real data.
    "e04b_knn_topk" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("q"))
        val scored = emb.crossJoin(broadcast(q))
          .select(col("qid"), col("vec_id"), expr(cosineExpr("embedding", "q")).as("sim"))
          .filter(col("sim").isNotNull) // zero-norm vectors: NULL sim
          .as[(Long, Long, Double)]
        scored.groupByKey(_._1)
          .mapValues(r => (r._3, r._2))
          .agg(new graft.operators.TopK(3).toColumn.name("top"))
          .flatMap { case (qid, top) =>
            top.zipWithIndex.map { case ((sim, vid), i) => (qid, i + 1, vid, sim) }
          }
          .toDF("qid", "rk", "vec_id", "sim")
          .orderBy(col("qid"), col("rk"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS q FROM embeddings WHERE vec_id < 5),
        scored AS (SELECT qid, vec_id, ${duckCosine("embedding", "q")} AS sim
          FROM embeddings CROSS JOIN q),
        ranked AS (SELECT qid, vec_id, sim,
          CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rk
          FROM scored)
        SELECT qid, rk, vec_id, sim FROM ranked WHERE rk <= 3 ORDER BY qid, rk""")),

    // E4c — corpus×corpus KNN BATCHED (the 100 TB path, SURVEY §4.3): when
    // neither side broadcasts, iterate the corpus in disjoint batches, keep
    // a bounded per-query TopK per batch, then merge batch results with the
    // SAME aggregator — TopK merge is associative, so top3(∪ batch-top3s)
    // = global top3. Each batch is one bounded join; running state is k
    // rows per query, never the full score matrix. Cross-validated against
    // e04's oracle on the full corpus (same 15 rows).
    "e04c_knn_batched" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("q"))
        val nBatches = 4
        val batchTopks = (0 until nBatches).map { b =>
          emb.filter(col("vec_id") % nBatches === b)
            .crossJoin(broadcast(q))
            .select(col("qid"), col("vec_id"), expr(cosineExpr("embedding", "q")).as("sim"))
            .filter(col("sim").isNotNull)
            .as[(Long, Long, Double)]
            .groupByKey(_._1)
            .mapValues(r => (r._3, r._2))
            .agg(new graft.operators.TopK(3).toColumn.name("top"))
            .flatMap { case (qid, top) => top.map { case (sim, vid) => (qid, vid, sim) } }
        }
        batchTopks.reduce(_ union _)
          .groupByKey(_._1)
          .mapValues(r => (r._3, r._2))
          .agg(new graft.operators.TopK(3).toColumn.name("top"))
          .flatMap { case (qid, top) =>
            top.zipWithIndex.map { case ((sim, vid), i) => (qid, i + 1, vid, sim) }
          }
          .toDF("qid", "rk", "vec_id", "sim")
          .orderBy(col("qid"), col("rk"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS q FROM embeddings WHERE vec_id < 5),
        scored AS (SELECT qid, vec_id, ${duckCosine("embedding", "q")} AS sim
          FROM embeddings CROSS JOIN q),
        ranked AS (SELECT qid, vec_id, sim,
          CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS rk
          FROM scored)
        SELECT qid, rk, vec_id, sim FROM ranked WHERE rk <= 3 ORDER BY qid, rk""")),

    // E5 — tokenize/normalize: codegen'd split/lower, no UDF.
    "e05_tokenize" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).as("n_tok"),
            size(array_distinct(split(lower(col("text")), " "))).as("n_distinct_tok"),
            element_at(split(col("text"), " "), 1).as("first_tok"),
            length(col("text")).as("n_char"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
        CAST(len(list_distinct(string_split(lower(text), ' '))) AS INT) AS n_distinct_tok,
        string_split(text, ' ')[1] AS first_tok,
        CAST(length(text) AS INT) AS n_char
        FROM documents ORDER BY doc_id""")),

    // E5b — BPE-ish regex tokenization (north star: "token counting —
    // whitespace + a BPE-ish regex"): letter-runs / digit-runs /
    // punctuation-runs, the RE2-safe core of GPT-2's pretokenizer split
    // (lookaheads excluded — DuckDB's RE2 lacks them).
    "e05_bpe_tokens" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            expr("""regexp_extract_all(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\\s]+)', 1)""").as("toks"))
          .select(col("doc_id"),
            size(col("toks")).as("n_bpe_tok"),
            expr("try_element_at(toks, 1)").as("tok1"),
            expr("size(filter(toks, x -> x rlike '^[0-9]+$'))").as("n_num_tok"))
          .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
          regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]+', 0) AS toks
          FROM documents)
        SELECT doc_id,
          CAST(len(toks) AS INT) AS n_bpe_tok,
          toks[1] AS tok1,
          CAST(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$'))) AS INT) AS n_num_tok
        FROM t ORDER BY doc_id""")),

    // E5c — WORDPIECE tokenization (VERDICT r9 item 7): the BERT
    // tokenizer family beside the trained BPE — likelihood-gain merges
    // (count(ab)/(count(a)·count(b)), the rule that distinguishes
    // WordPiece training from BPE) trained on a BOUNDED corpus slice
    // (doc_id < 50 — real tokenizers train on a sample; the exact-Long
    // score comparison assumes sample-scale counts), then BERT's greedy
    // longest-match-first encode over the whole declared set, [UNK]
    // collapse per the BERT rule. The trained vocabulary is written to
    // scratch (the e86 interop pattern) and the oracle INDEPENDENTLY
    // REIMPLEMENTS the greedy walk as a recursive CTE — bounded
    // 12-branch longest-match per step, ## continuation prefixes, ANTI
    // JOIN for the [UNK] words — over the same vocab file, so an
    // encoding that takes one wrong greedy step anywhere breaks the
    // hash. Training correctness is pinned separately in
    // TextFunctionsSpec. Scale shape: training is an offline bounded
    // sample; ENCODING is the distributed part — a scan-local UDF over
    // a broadcast vocab, zero shuffle at any corpus size.
    "e05_wordpiece" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") < 200)
          .select(col("doc_id"),
            expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
        // the oracle's recursive CTE enumerates word positions 1..4096
        // per doc — assert the declared slice actually fits the bound
        // instead of silently depending on it (review finding r10)
        require(docs.select(max(size(col("ws")))).collect()(0).getInt(0) <= 4096,
          "e05_wordpiece: a doc exceeds the oracle's 4096-word enumeration")
        val freq = docs.filter(col("doc_id") < 50)
          .select(explode(col("ws")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("f"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val vocab = graft.TextFunctions.wordpieceTrain(freq, nMerges = 200)
        val vocabDir = s"$scratch/wp_vocab_${new java.io.File(dir).getName}"
        import s.implicits._
        vocab.toDF("piece").coalesce(1)
          .write.mode("overwrite").parquet(vocabDir)
        val vset = vocab.toSet
        val enc = udf((ws: Seq[String]) =>
          ws.map(w => graft.TextFunctions.wordpieceEncode(w, vset)))
        docs.withColumn("pcs", enc(col("ws")))
          .select(col("doc_id"),
            size(col("ws")).as("n_words"),
            expr("aggregate(pcs, 0, (a, x) -> a + size(x))").as("n_pieces"),
            expr("size(filter(pcs, x -> x = array('[UNK]')))").as("n_unk"),
            array_join(flatten(col("pcs")), " ").as("pieces"))
          .orderBy(col("doc_id"))
      },
      Some {
        // longest-match CASE: 12 branches, longest first; '' vs '##'
        // prefix by position; NULL when nothing matches (word → [UNK])
        val branches = (12 to 1 by -1).map { L =>
          s"""CASE WHEN pos + $L - 1 <= length(word) AND list_contains(vv,
             (CASE WHEN pos = 1 THEN '' ELSE '##' END) || substr(word, pos, $L))
             THEN (CASE WHEN pos = 1 THEN '' ELSE '##' END) || substr(word, pos, $L) END"""
        }.mkString("COALESCE(", ", ", ")")
        s"""WITH RECURSIVE voc AS (
            SELECT list(piece ORDER BY piece) AS vv
            FROM read_parquet('$scratch/wp_vocab_$SfToken/*.parquet')),
          d AS (SELECT doc_id,
              regexp_extract_all(lower(text), '[a-z]+', 0) AS ws
            FROM documents WHERE text IS NOT NULL AND doc_id < 200),
          g AS (SELECT unnest(generate_series(1, 4096)) AS wi),
          w AS (SELECT doc_id, wi, ws[wi] AS word
            FROM d JOIN g ON wi <= len(ws)),
          steps AS (
            SELECT doc_id, wi, word, 1 AS pos,
              CAST([] AS VARCHAR[]) AS toks
            FROM w
            UNION ALL
            SELECT doc_id, wi, word,
              pos + length(piece) - (CASE WHEN pos = 1 THEN 0 ELSE 2 END),
              list_append(toks, piece)
            FROM (
              SELECT s.doc_id, s.wi, s.word, s.pos, s.toks, $branches AS piece
              FROM steps s, voc
              WHERE s.pos <= length(s.word)) x
            WHERE piece IS NOT NULL),
          enc AS (SELECT doc_id, wi, toks
            FROM steps WHERE pos = length(word) + 1),
          unks AS (SELECT doc_id, wi FROM w
            ANTI JOIN enc USING (doc_id, wi)),
          allw AS (SELECT doc_id, wi, toks FROM enc
            UNION ALL SELECT doc_id, wi, ['[UNK]'] FROM unks),
          agg AS (SELECT doc_id,
              CAST(count(*) AS INT) AS n_words,
              CAST(sum(len(toks)) AS INT) AS n_pieces,
              CAST(sum(CASE WHEN toks = ['[UNK]'] THEN 1 ELSE 0 END) AS INT)
                AS n_unk,
              array_to_string(flatten(list(toks ORDER BY wi)), ' ') AS pieces
            FROM allw GROUP BY doc_id)
          SELECT d.doc_id, coalesce(agg.n_words, 0) AS n_words,
            coalesce(agg.n_pieces, 0) AS n_pieces,
            coalesce(agg.n_unk, 0) AS n_unk,
            coalesce(agg.pieces, '') AS pieces
          FROM d LEFT JOIN agg USING (doc_id)
          ORDER BY d.doc_id"""
      }),

    // E5d — UNIGRAM-LM tokenization (SentencePiece family, Kudo 2018;
    // completes the r9 verdict's tokenizer-breadth item beside BPE and
    // WordPiece): TextFunctions.unigramTrain runs the published EM
    // E-step (forward–backward expected counts over the full
    // segmentation lattice) with probability-mass pruning on a BOUNDED
    // corpus slice (doc_id < 50), then quantizes log-probs to INTEGER
    // milli-nat costs — floats never cross an engine boundary. The
    // vocabulary file on scratch is the only shared artifact; encoding
    // is exact integer-cost Viterbi (min cost, then fewer pieces, then
    // lexicographic piece sequence — a right-monotonic total order, so
    // per-position DP is exact). The oracle INDEPENDENTLY re-derives
    // every segmentation by ENUMERATING all piece paths per word in a
    // recursive CTE and taking the same (cost, count, lex) argmin — a
    // single wrong Viterbi step anywhere breaks the hash. Words are
    // bounded to ≤10 chars ON BOTH SIDES so the oracle's enumeration
    // stays small; the Spark encoder itself has no such limit. Scale
    // shape: training is an offline bounded sample; encoding is a
    // scan-local UDF over a broadcast (piece → cost) map, zero shuffle
    // at any corpus size.
    "e05_unigram" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") < 100)
          .select(col("doc_id"),
            expr("filter(regexp_extract_all(lower(text), '[a-z]+', 0), x -> length(x) <= 10)").as("ws"))
        // same 4096-word oracle-enumeration bound as e05_wordpiece
        require(docs.select(max(size(col("ws")))).collect()(0).getInt(0) <= 4096,
          "e05_unigram: a doc exceeds the oracle's 4096-word enumeration")
        val freq = docs.filter(col("doc_id") < 50)
          .select(explode(col("ws")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("f"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val vocab = graft.TextFunctions.unigramTrain(freq, vocabSize = 300)
        val vocabDir = s"$scratch/ug_vocab_${new java.io.File(dir).getName}"
        import s.implicits._
        vocab.toDF("piece", "cost").coalesce(1)
          .write.mode("overwrite").parquet(vocabDir)
        val cmap = vocab.toMap
        val enc = udf((ws: Seq[String]) => {
          val per = ws.map(w => graft.TextFunctions.unigramEncode(w, cmap))
          val arrs = per.map(_.getOrElse(Seq("[UNK]")))
          val cost = per.flatten
            .map(_.iterator.map(p => cmap(p).toLong).sum).sum
          (arrs, cost)
        })
        docs.withColumn("r", enc(col("ws")))
          .select(col("doc_id"),
            size(col("ws")).as("n_words"),
            expr("aggregate(r._1, 0, (a, x) -> a + size(x))").as("n_pieces"),
            expr("size(filter(r._1, x -> x = array('[UNK]')))").as("n_unk"),
            col("r._2").as("total_cost"),
            array_join(flatten(col("r._1")), " ").as("pieces"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE voc AS (
            SELECT piece, cost
            FROM read_parquet('$scratch/ug_vocab_$SfToken/*.parquet')),
          d AS (SELECT doc_id,
              list_filter(regexp_extract_all(lower(text), '[a-z]+', 0),
                x -> length(x) <= 10) AS ws
            FROM documents WHERE text IS NOT NULL AND doc_id < 100),
          g AS (SELECT unnest(generate_series(1, 4096)) AS wi),
          w AS (SELECT doc_id, wi, ws[wi] AS word
            FROM d JOIN g ON wi <= len(ws)),
          paths AS (
            SELECT doc_id, wi, word, 1 AS pos,
              CAST([] AS VARCHAR[]) AS toks, CAST(0 AS BIGINT) AS c
            FROM w
            UNION ALL
            SELECT p.doc_id, p.wi, p.word, p.pos + length(v.piece),
              list_append(p.toks, v.piece), p.c + v.cost
            FROM paths p JOIN voc v
              ON substr(p.word, p.pos, length(v.piece)) = v.piece
            WHERE p.pos <= length(p.word)
              AND p.pos + length(v.piece) - 1 <= length(p.word)),
          fp AS (SELECT doc_id, wi, toks, c FROM paths
            WHERE pos = length(word) + 1),
          best AS (SELECT doc_id, wi, toks, c FROM (
              SELECT doc_id, wi, toks, c, row_number() OVER (
                PARTITION BY doc_id, wi
                ORDER BY c, len(toks), array_to_string(toks, ' ')) AS rn
              FROM fp) WHERE rn = 1),
          unks AS (SELECT doc_id, wi FROM w
            ANTI JOIN best USING (doc_id, wi)),
          allw AS (SELECT doc_id, wi, toks, c FROM best
            UNION ALL SELECT doc_id, wi, ['[UNK]'], 0 FROM unks),
          agg AS (SELECT doc_id,
              CAST(count(*) AS INT) AS n_words,
              CAST(sum(len(toks)) AS INT) AS n_pieces,
              CAST(sum(CASE WHEN toks = ['[UNK]'] THEN 1 ELSE 0 END) AS INT)
                AS n_unk,
              CAST(sum(c) AS BIGINT) AS total_cost,
              array_to_string(flatten(list(toks ORDER BY wi)), ' ') AS pieces
            FROM allw GROUP BY doc_id)
          SELECT d.doc_id, coalesce(agg.n_words, 0) AS n_words,
            coalesce(agg.n_pieces, 0) AS n_pieces,
            coalesce(agg.n_unk, 0) AS n_unk,
            CAST(coalesce(agg.total_cost, 0) AS BIGINT) AS total_cost,
            coalesce(agg.pieces, '') AS pieces
          FROM d LEFT JOIN agg USING (doc_id)
          ORDER BY d.doc_id""")),

    // E — document fingerprint (owned rolling hash; GOLDEN via
    // TextGoldenSpec cross-language vectors, full-output fixture oracle
    // via scripts/fixture_oracle.py).
    "e_fingerprint" -> QueryDef(
      (s, dir) => fixtureCheck(s, dir, "e_fingerprint",
        t(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp64")),
        Seq("doc_id")),
      Some(fixtureSql("e_fingerprint", Seq("doc_id", "fp64")))),

    // E20 — language-ID by n-gram profile scoring with COMMITTED profiles
    // (functions.LangId: 18 frequency-table trigrams per language, fixed
    // tie-break). Scoring is pure scan-local codegen string algebra — no
    // explode, no shuffle beyond the output sort — so the classifier runs
    // at full scan speed at any corpus size. The oracle SQL is GENERATED
    // from the same profile table, so profile edits can never desync the
    // two sides; LangIdSpec asserts real cross-language discrimination on
    // a multilingual fixture (the synthetic corpus here is English-ish
    // under every label, so this gate checks arithmetic parity).
    "e20_langid" -> QueryDef(
      (s, dir) => {
        import graft.functions.LangId
        t(s, dir, "documents")
          .select(Seq(col("doc_id")) ++ LangId.scoreColumns(col("text")): _*)
          .withColumn("pred_lang", LangId.predict)
          .orderBy(col("doc_id"))
      },
      Some {
        import graft.functions.LangId
        val scoreCols = LangId.Profiles.map { case (l, tris) =>
          s"${LangId.oracleScoreSql(tris)} AS s_$l"
        }.mkString(",\n          ")
        val sNames = LangId.Profiles.map(p => s"s_${p._1}").mkString(", ")
        s"""WITH sc AS (SELECT doc_id,
          $scoreCols
          FROM documents)
        SELECT doc_id, $sNames,
          ${LangId.oraclePredictSql} AS pred_lang
        FROM sc ORDER BY doc_id"""
      }),

    // E21 — repetition-based quality scoring (the Gopher/FineWeb-style
    // filters every corpus pipeline runs): per-document fraction of tokens
    // taken by the most frequent token, repeated-token fraction, and the
    // most frequent BIGRAM's share — high values mark boilerplate/spam.
    // Token stats reduce by (doc_id, token) with map-side partial
    // aggregation, so at 100 TB the shuffle carries per-doc-token partials,
    // never raw token streams; bigrams come from a scan-local zip_with of
    // the shifted token array (no second tokenization pass). Docs with <2
    // tokens keep NULL bigram stats through the left join in BOTH engines
    // (empty n-gram set → no rows → join null), not a fabricated zero.
    "e21_repetition_quality" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            expr("filter(split(lower(text), ' '), x -> x != '')").as("toks"))
        val wstats = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("nd_tok"),
            max(col("c")).as("max_tok"))
        val bgstats = docs.select(col("doc_id"),
            explode(when(size(col("toks")) >= 2, expr(
              "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), (a, b) -> concat(a, ' ', b))"))
              .otherwise(typedlit(Seq.empty[String]))).as("bg"))
          .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_bg"), max(col("c")).as("max_bg"))
        wstats.join(bgstats, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tok"), col("nd_tok"),
            (col("max_tok").cast("double") / col("n_tok")).as("top_word_frac"),
            (lit(1.0) - col("nd_tok").cast("double") / col("n_tok")).as("dup_word_frac"),
            (col("max_bg").cast("double") / col("n_bg")).as("top_bigram_frac"))
          .withColumn("keep",
            col("top_word_frac") <= 0.12 && col("dup_word_frac") <= 0.65)
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS s
          FROM documents WHERE text IS NOT NULL),
        toks AS (SELECT doc_id, unnest(s) AS tok FROM d),
        wc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        ws AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok, count(*) AS nd_tok,
            max(c) AS max_tok
          FROM wc GROUP BY 1),
        bg AS (SELECT doc_id, s[i] || ' ' || s[i+1] AS b
          FROM d, UNNEST(generate_series(1, len(s) - 1)) AS u(i)),
        bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        bs AS (SELECT doc_id, sum(c) AS n_bg, max(c) AS max_bg FROM bc GROUP BY 1)
        SELECT ws.doc_id, n_tok, nd_tok,
          CAST(max_tok AS DOUBLE) / n_tok AS top_word_frac,
          1.0 - CAST(nd_tok AS DOUBLE) / n_tok AS dup_word_frac,
          CAST(max_bg AS DOUBLE) / n_bg AS top_bigram_frac,
          (CAST(max_tok AS DOUBLE) / n_tok <= 0.12
            AND 1.0 - CAST(nd_tok AS DOUBLE) / n_tok <= 0.65) AS keep
        FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
        ORDER BY ws.doc_id""")),

    // E22 — eval-set decontamination (the stage every training pipeline
    // runs before a model sees the corpus): flag any training document
    // sharing a 4-token shingle with the held-out eval set (here: the
    // first 10 docs stand in for a benchmark suite). The eval shingle set
    // BROADCASTS — benchmark suites are kilobytes against terabyte corpora,
    // exactly the production shape — so the corpus side stays scan-local:
    // shingle, broadcast-hash semi-probe, per-doc count; no corpus shuffle
    // until the tiny flagged remainder aggregates.
    "e22_decontaminate" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            expr("filter(split(lower(text), ' '), x -> x != '')").as("toks"))
        val grams = docs.select(col("doc_id"),
          explode(when(size(col("toks")) >= 4, expr(
            """transform(sequence(1, size(toks) - 3),
               i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
                              element_at(toks, i + 2), element_at(toks, i + 3)))"""))
            .otherwise(typedlit(Seq.empty[String]))).as("gram"))
        val evalGrams = grams.filter(col("doc_id") < 10)
          .select(col("gram")).distinct()
        grams.filter(col("doc_id") >= 10)
          .join(broadcast(evalGrams), Seq("gram"))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("gram")).as("n_shared_grams"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS s
          FROM documents WHERE text IS NOT NULL),
        g AS (SELECT doc_id, array_to_string(s[i:i+3], ' ') AS gram
          FROM d, UNNEST(generate_series(1, len(s) - 3)) AS u(i)),
        ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10)
        SELECT doc_id, count(DISTINCT gram) AS n_shared_grams
        FROM g JOIN ev USING (gram)
        WHERE doc_id >= 10
        GROUP BY doc_id ORDER BY doc_id""")),

    // E23 — fixed-size deterministic per-group sample ("exactly k docs per
    // language"): score each doc by an integer hash permutation both
    // engines compute exactly in BIGINT arithmetic (Knuth multiplicative
    // step mod a prime; id*a stays in Long for id < ~3.4e9 — beyond that
    // domain swap in xxhash64 via Graft.hashSampleFilter, the production
    // fast path, at the cost of the DuckDB pairing), keep the k smallest
    // per group through the bounded
    // TopK aggregator — map-side state is k rows per partition per group
    // (the 100 TB path), never a full per-group sort. The oracle ranks the
    // same permutation with a window function.
    "e23_group_sample" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val k = 10
        t(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            (col("doc_id") * lit(2654435761L)) % lit(4294967311L)).as[(String, Long, Long)]
          .groupByKey(_._1)
          .mapValues(r => (-r._3.toDouble, r._2)) // TopK keeps largest; negate for smallest-h
          .agg(new graft.operators.TopK(k).toColumn.name("top"))
          .flatMap { case (lang, top) =>
            top.zipWithIndex.map { case ((negH, id), i) => (lang, i + 1, id, (-negH).toLong) }
          }
          .toDF("lang", "rk", "doc_id", "h")
          .orderBy(col("lang"), col("rk"))
      },
      Some("""WITH s AS (SELECT lang, doc_id,
          (doc_id * 2654435761) % 4294967311 AS h FROM documents),
        ranked AS (SELECT lang, doc_id, h,
          CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS INT) AS rk
          FROM s)
        SELECT lang, rk, doc_id, h FROM ranked WHERE rk <= 10 ORDER BY lang, rk""")),

    // E24 — symmetric int8 embedding quantization (4x smaller vectors at
    // rest / on the shuffle wire — the compression step before ANN
    // indexing at 100 TB): per-vector max-abs scale,
    // q = floor(x*127/maxabs + 0.5) — the EXPLICIT half-up formula, so
    // engine rounding semantics never enter; zero vectors quantize to
    // NULL. Scan-local arithmetic, no shuffle. Dequantization error
    // bound (<= maxabs/254 per component) is PipelineOpsPropertySpec's.
    // The quantized vector is emitted as a comma-joined scalar (c18
    // precedent): the driver's pandas canonicalization sorts rows across
    // all columns and cannot hash an array cell, so both engines encode
    // the vector as one string. maxabs is coalesced to 0.0 on BOTH sides
    // so a NULL embedding row yields (0.0, NULL) identically.
    "e24_int8_quantize" -> QueryDef(
      (s, dir) =>
        t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            coalesce(
              expr("aggregate(embedding, 0.0D, (s, x) -> greatest(s, abs(CAST(x AS DOUBLE))))"),
              lit(0.0)).as("maxabs"))
          .select(col("vec_id"),
            round(col("maxabs"), 6).as("scale_max"),
            when(col("maxabs") > 0, expr(
              "array_join(transform(embedding, x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5) AS INT) AS STRING)), ',')"))
              .as("q_csv"))
          .orderBy(col("vec_id")),
      Some("""WITH m AS (SELECT vec_id, embedding,
          coalesce(list_aggregate(list_transform(embedding,
            x -> abs(CAST(x AS DOUBLE))), 'max'), 0.0) AS maxabs
          FROM embeddings)
        SELECT vec_id, round(maxabs, 6) AS scale_max,
          CASE WHEN maxabs > 0 THEN list_aggregate(list_transform(embedding,
            x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5) AS INT) AS VARCHAR)),
            'string_agg', ',') END AS q_csv
        FROM m ORDER BY vec_id""")),

    // E27 — weighted sampling (Efraimidis-Spirakis A-Res): k docs chosen
    // with probability proportional to length (the quality/size-weighted
    // mixture step of corpus construction). u = deterministic hash uniform
    // in (0,1] (exact BIGINT arithmetic then one correctly-rounded
    // division; same id-domain note as e23 — swap in xxhash64 beyond
    // id ~3.4e9), priority = ln(u)/w — monotone with u^(1/w), top-k by
    // priority DESC. Rounded to 9dp with an id tie-break so a last-ulp
    // transcendental difference between engines cannot flip the ranking.
    // Global top-k plans as TakeOrderedAndProject: k-row state per
    // partition, no full sort — the same shape at any corpus size.
    "e27_weighted_sample" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .filter(col("n_chars") > 0)
          .withColumn("u",
            (((col("doc_id") * lit(2654435761L)) % lit(4294967311L)) + 1).cast("double")
              / lit(4294967312.0))
          .withColumn("priority", round(log(col("u")) / col("n_chars"), 9))
          .select(col("doc_id"), col("lang"), col("n_chars"), col("priority"))
          .orderBy(col("priority").desc, col("doc_id"))
          .limit(50),
      Some("""SELECT doc_id, lang, n_chars,
          round(ln(((doc_id * 2654435761) % 4294967311 + 1) / 4294967312.0)
            / n_chars, 9) AS priority
        FROM documents WHERE n_chars > 0
        ORDER BY priority DESC, doc_id LIMIT 50""")),

    // E26 — corpus-wide duplicated-passage profile (the Gopher/C4
    // "duplicate n-gram fraction" quality signal): a 5-token shingle is
    // duplicated when it occurs in >= 2 DISTINCT documents; per document,
    // count distinct shingles and the fraction that are corpus-duplicated.
    // Join-shaped (shingle-keyed shuffle + semi join back) — linear in
    // corpus size, no all-pairs comparison. Documents under 5 tokens have
    // no shingles and drop out on both sides.
    "e26_dup_passages" -> QueryDef(
      (s, dir) => {
        // r19 audit (VERDICT r18 item 9): a scan-local rewrite — per-doc
        // array_distinct before the explode plus map-side n_shingles, which
        // removes the corpus-wide distinct() and perDoc exchanges — was
        // MEASURED AND REJECTED: project collapse inlines the shingle
        // transform+array_distinct into every consumer (filter + explode +
        // size, across three subtrees ≈ 6 evaluations per document vs 1),
        // and the sweep read 60.6 s vs 2.5 s. The distinct() exchange below
        // is load-bearing: it materializes the shingle expression ONCE and
        // ReuseExchange shares it across all three consumers (verified in
        // plans/r19/e26_dup_passages_before.txt).
        val docs = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            expr("filter(split(lower(text), ' '), x -> x != '')").as("toks"))
        val grams = docs.select(col("doc_id"),
          explode(when(size(col("toks")) >= 5, expr(
            """transform(sequence(1, size(toks) - 4),
               i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
                              element_at(toks, i + 2), element_at(toks, i + 3),
                              element_at(toks, i + 4)))"""))
            .otherwise(typedlit(Seq.empty[String]))).as("gram"))
          .distinct()
        val dupGrams = grams.groupBy(col("gram"))
          .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2).select(col("gram"))
        val perDoc = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
        val dupPerDoc = grams.join(dupGrams, Seq("gram"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
        perDoc.join(dupPerDoc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_shingles"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup"),
            round(coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_shingles"), 6)
              .as("dup_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
          list_filter(string_split(lower(text), ' '), x -> x <> '') AS s
          FROM documents WHERE text IS NOT NULL),
        g AS (SELECT DISTINCT doc_id, array_to_string(s[i:i+4], ' ') AS gram
          FROM d, UNNEST(generate_series(1, len(s) - 4)) AS u(i)),
        dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        per_doc AS (SELECT doc_id, count(*) AS n_shingles FROM g GROUP BY doc_id),
        dup_per_doc AS (SELECT doc_id, count(*) AS n_dup
          FROM g WHERE gram IN (SELECT gram FROM dup) GROUP BY doc_id)
        SELECT p.doc_id, p.n_shingles, coalesce(dp.n_dup, 0) AS n_dup,
          round(CAST(coalesce(dp.n_dup, 0) AS DOUBLE) / p.n_shingles, 6) AS dup_frac
        FROM per_doc p LEFT JOIN dup_per_doc dp USING (doc_id)
        ORDER BY p.doc_id""")),

    // E6 — quality signals: stopword ratio (literal list), word stats,
    // language filter. All codegen'd higher-order fns.
    "e06_text_quality" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .filter(col("lang") === "en")
          .select(col("doc_id"), split(lower(col("text")), " ").as("toks"), col("n_chars"))
          .select(col("doc_id"),
            size(col("toks")).as("n_tok"),
            expr("size(filter(toks, x -> x IN ('the','and','of','to','a','in','is','value','data')))").as("n_stop"),
            expr("CAST(size(filter(toks, x -> x IN ('the','and','of','to','a','in','is','value','data'))) AS DOUBLE) / size(toks)").as("stop_ratio"),
            expr("CAST(n_chars AS DOUBLE) / size(toks)").as("chars_per_tok"))
          .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks, n_chars
          FROM documents WHERE lang = 'en')
        SELECT doc_id,
          CAST(len(toks) AS INT) AS n_tok,
          CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','value','data'], x))) AS INT) AS n_stop,
          CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','value','data'], x))) AS DOUBLE) / len(toks) AS stop_ratio,
          CAST(n_chars AS DOUBLE) / len(toks) AS chars_per_tok
        FROM t ORDER BY doc_id""")),

    // E7 — word bigrams via transform(sequence(...)) — guard the
    // single-token case (Spark's sequence(1,0) is DESCENDING, not empty).
    "e07_ngrams" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .filter(col("doc_id") < 20)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"),
            // Scalar \x01-joined encoding: driver's pandas oracle cannot
            // sort/hash array columns (round-1 `err` on this query).
            expr("""array_join(CASE WHEN size(toks) < 2 THEN array()
              ELSE transform(sequence(1, size(toks) - 1),
                i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) END,
              chr(1))""").as("bigrams"))
          .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE doc_id < 20)
        SELECT doc_id,
          array_to_string(list_transform(generate_series(1, len(toks) - 1),
            i -> toks[i] || ' ' || toks[i + 1]), chr(1)) AS bigrams
        FROM t ORDER BY doc_id""")),

    // E8 — TF-IDF, pure relational (explode -> tf; df join; smooth idf).
    // ln() may differ in the last ulp across libm builds -> round 6dp.
    "e08_tfidf" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val nDocs = docs.select(countDistinct(col("doc_id")).as("n_docs"))
        val toks = docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
        val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        tf.join(df, "tok").crossJoin(broadcast(nDocs))
          .filter(col("doc_id") < 30)
          .select(col("doc_id"), col("tok"), col("tf"),
            round(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 6).as("tfidf"))
          .orderBy(col("doc_id"), col("tok"))
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
        df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        SELECT doc_id, tf.tok AS tok, tf,
          round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
        FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
        WHERE doc_id < 30 ORDER BY doc_id, tok""")),

    // E33 — LM-score quality filter (the CCNet-style perplexity proxy):
    // a character-trigram language model TRAINED ON THE CORPUS ITSELF
    // (one grouped count pass), then every document scored by its mean
    // trigram log-probability; low scorers are the boilerplate/garbage a
    // perplexity filter drops. Two shuffles total (trigram counts, score
    // agg); at 100 TB the trigram table is bounded by the alphabet³ and
    // broadcasts, making scoring scan-local. ln + round(6) follows the
    // e08 oracle precedent for transcendental parity.
    "e33_lm_score" -> QueryDef(
      (s, dir) => {
        // length >= 3 guard stays (documents shorter than one trigram
        // drop out before scoring, matching the oracle's len >= 3)
        val d = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), lower(col("text")).as("t"))
          .filter(length(col("t")) >= 3)
        // char_trigrams is a native streaming Generator: the column-
        // algebra form (explode ∘ transform(sequence, substring(t,i,3)))
        // is O(d²) per document — substring re-scans the UTF-8 bytes to
        // find char i — which the r7 long-doc stress fixture exposed as
        // minutes of CPU on one 4 MB outlier. Same rows, linear walk.
        val tris = d.select(col("doc_id"), expr("char_trigrams(t)"))
        // r18 optimization: checkpoint the model — it was re-derived from
        // a full char_trigrams explode THREE times (the `total` collect,
        // then again inside the scoring join). The model is
        // dimension-scale (distinct trigrams), so the checkpointed blocks
        // stay small at any corpus size; the corpus-scale `tris` is NOT
        // checkpointed. 2.40 -> 1.60 s at sf0.1 (OptSweep;
        // src/main/scala/graft/OptSweep.scala at commit 94bd873).
        val model = tris.groupBy(col("tri")).agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        // the normalizer is ONE exact long, bound as a literal (the e28c
        // query-vector precedent) — a crossJoin(broadcast(1 row)) plans
        // as BroadcastNestedLoopJoin, which the stress shape gate rightly
        // refuses to see in a scale path
        val total: Double = model.agg(sum(col("cnt")))
          .collect()(0).getLong(0).toDouble
        // deterministic mean: SORTED sequential fold of per-TRIGRAM
        // weighted logs (a plain avg sums in partition order — not
        // reproducible). The fold buffer is BOUNDED (VERDICT r6 item 2):
        // instances pre-aggregate by (doc, tri) first, so the collected
        // list is capped by a doc's DISTINCT trigrams (≤ alphabet³),
        // never by its length — a 100 MB outlier document folds ≤ a few
        // thousand doubles, not 10⁸. No final ORDER BY: output scales
        // with the corpus (e01 note).
        tris.groupBy(col("doc_id"), col("tri"))
          .agg(count(lit(1)).as("k"))
          .join(model, "tri")
          .select(col("doc_id"), col("k"),
            (col("k").cast("double")
              * log(col("cnt").cast("double") / lit(total))).as("kl"))
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

    // E92 — KNESER-NEY bigram LM perplexity filter (r10): the smoothing
    // the real CCNet/KenLM pipeline ships, upgrading e33's MLE model.
    // Interpolated KN with absolute discount D = 3/4:
    //   P(w2|w1) = max(c12 − D, 0)/c1 + D·n1+(w1·)/c1 · n1+(·w2)/T
    // where c1 is the CONTEXT total, n1+(w1·)/n1+(·w2) the distinct
    // continuation/left-context counts, and T the bigram-type total —
    // the continuation-probability idea that makes KN the standard.
    // Every probability is built as an EXACT integer rational (D = 3/4
    // makes num/den pure Longs; both engines divide the same two exact
    // integers before the one ln call), with a documented OOV ladder:
    // unseen context → pure continuation nct/T; unseen w2 under a seen
    // context → the discount mass floor GREATEST(num,1)/(4·T·c1);
    // w2 never seen anywhere → 1/(4·T²). Per-doc score = mean bigram
    // log-prob via e33's SORTED weighted fold (buffer bounded by
    // distinct bigrams per doc), ln + round(6) per the e08 parity
    // precedent. Scale shape: the model tables are type-bounded (« the
    // corpus) and join broadcast-at-scale; scoring is two grouped
    // passes + three key joins, never token-window work.
    "e92_kn_bigram" -> QueryDef(
      (s, dir) => {
        val bi = knBigrams(t(s, dir, "documents"))
        val (c12, c1, ct, totT) = knModel(bi)
        val nd = knNumDen(
          bi.filter(col("doc_id") < 350)
            .groupBy(col("doc_id"), col("w1"), col("w2"))
            .agg(count(lit(1)).as("k"))
            .join(c12, Seq("w1", "w2"), "left")
            .join(c1, Seq("w1"), "left")
            .join(ct, Seq("w2"), "left"), totT)
        knScoreOf(nd)
      },
      Some(knOracleSql)),

    // E34 — HTML boilerplate stripping: the first stage of any web-crawl
    // training pipeline (script/style/comment removal, tag strip, entity
    // decode, whitespace normalization). Pure projection — scan-local,
    // zero shuffle; at 100 TB this runs at read parallelism with nothing
    // to tune. The fixture wraps each document in one of FOUR hostile
    // variants (doc_id % 4 — VERDICT r7 item 6's extended family):
    //  0: script body with a bare '<', style, comment, attributed tags,
    //     &-entities injected into the text;
    //  1: unclosed <p>/<div>, void tags, and a '>' INSIDE a quoted
    //     attribute — intentionally NOT handled: the RE2-subset
    //     tag-strip `<[^>]+>` closes at the first '>', leaving the
    //     attribute tail as text (a char-level HTML parser is the tool
    //     beyond this point, not a longer regex);
    //  2: "nested" comment — handled PER HTML5 (the first `-->` closes;
    //     the tail renders as text, exactly what a browser does) — plus
    //     an IE conditional comment (fully stripped);
    //  3: CDATA-marked script body (stripped with the script), a
    //     double-encoded entity `&amp;amp;` (decoded ONCE to `&amp;` —
    //     &amp; is replaced last so no double-decode), and
    //     entity-encoded angle brackets (decoded AFTER tag-strip, so an
    //     entity-smuggled `<tag>` stays text — the safe order).
    // Regexes stay inside the RE2 subset (non-greedy, (?s), NO
    // backreferences) so Spark's java.util.regex and DuckDB's RE2 agree.
    "e34_html_strip" -> QueryDef(
      (s, dir) => {
        val body = expr("replace(text, ' ', '&nbsp;')")
        val stripped = t(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") < 300)
          .withColumn("html",
            when(col("doc_id") % 4 === 1, concat(
              lit("<html><body><div class=\"x>y\" title=\"a>b\"><p>unclosed "),
              body,
              lit("<br><hr></body>")))
            .when(col("doc_id") % 4 === 2, concat(
              lit("<html><!-- outer <!-- inner --> tail --><body><p>"),
              body,
              lit("</p><!--[if IE]>legacy<![endif]--></body></html>")))
            .when(col("doc_id") % 4 === 3, concat(
              lit("<html><script>/*<![CDATA[*/ var a = 1 < 2 && 3 > 2; /*]]>*/</script><body><p>"),
              body,
              lit(" &amp;amp; &lt;tag&gt; &quot;q&quot;</p></body></html>")))
            .otherwise(concat(
              lit("<html><head><title>d</title><script type=\"text/javascript\">var x = 1 < 2;</script>" +
                "<style>p { color: #fff; }</style></head><body><h1 class=\"hdr\">doc</h1><p>"),
              body,
              lit("</p><!-- footer --><div>&amp;&lt;&gt;&quot;</div></body></html>"))))
          .withColumn("cleaned", expr(
            """trim(regexp_replace(
                 replace(replace(replace(replace(replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' '),
                       '(?s)<style[^>]*>.*?</style>', ' '),
                     '(?s)<!--.*?-->|<[^>]+>', ' '),
                   '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
                 '\\s+', ' '))"""))
          .select(col("doc_id"),
            length(col("html")).as("n_raw"),
            length(col("cleaned")).as("n_clean"),
            col("cleaned"))
          .orderBy(col("doc_id"))
        stripped
      },
      Some("""WITH h AS (SELECT doc_id,
          CASE CAST(doc_id % 4 AS INT)
            WHEN 1 THEN
              '<html><body><div class="x>y" title="a>b"><p>unclosed ' ||
              replace(text, ' ', '&nbsp;') || '<br><hr></body>'
            WHEN 2 THEN
              '<html><!-- outer <!-- inner --> tail --><body><p>' ||
              replace(text, ' ', '&nbsp;') ||
              '</p><!--[if IE]>legacy<![endif]--></body></html>'
            WHEN 3 THEN
              '<html><script>/*<![CDATA[*/ var a = 1 < 2 && 3 > 2; /*]]>*/</script><body><p>' ||
              replace(text, ' ', '&nbsp;') ||
              ' &amp;amp; &lt;tag&gt; &quot;q&quot;</p></body></html>'
            ELSE
              '<html><head><title>d</title><script type="text/javascript">var x = 1 < 2;</script>' ||
              '<style>p { color: #fff; }</style></head><body><h1 class="hdr">doc</h1><p>' ||
              replace(text, ' ', '&nbsp;') ||
              '</p><!-- footer --><div>&amp;&lt;&gt;&quot;</div></body></html>'
          END AS html
          FROM documents WHERE text IS NOT NULL AND doc_id < 300),
        c AS (SELECT doc_id, html,
          trim(regexp_replace(
            replace(replace(replace(replace(replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(html, '<script[^>]*>.*?</script>', ' ', 'gs'),
                  '<style[^>]*>.*?</style>', ' ', 'gs'),
                '<!--.*?-->|<[^>]+>', ' ', 'gs'),
              '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
            '\s+', ' ', 'g')) AS cleaned
          FROM h)
        SELECT doc_id, CAST(len(html) AS INT) AS n_raw,
          CAST(len(cleaned) AS INT) AS n_clean, cleaned
        FROM c ORDER BY doc_id""")),

    // E34b — char-level HTML parser fallback (VERDICT r8 missing-list
    // item 4): functions.HtmlStrip's state machine handles exactly what
    // e34's RE2-subset regex chain documents as unhandled — '>' inside
    // quoted attribute values — plus HTML5 raw-text script/style,
    // first-`-->`-closes comments, bogus comments, literal stray '<',
    // once-only entity decode, and EOF recovery (HtmlStripSpec pins each
    // in isolation). No regex engine can be oracle-paired for this, so
    // the oracle is CONSTRUCTION: four hostile wrappers whose correct
    // extraction is a closed-form function of the document text —
    // DuckDB re-derives the EXPECTED output arithmetically while Spark
    // must parse its way to it. Scan-local codegen projection; zero
    // shuffle at any scale.
    "e34b_html_parse" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") < 300)
          .withColumn("html",
            when(col("doc_id") % 4 === 0, concat(
              lit("<html><head><script type=\"text/javascript\">if (a<b && b>c) { x = \"</div>\"; }</script>" +
                "<style media=\"x>y\">p:after{content:\">\"}</style></head>" +
                "<body><p class=\"q>r\" title='a>b'>"),
              col("text"),
              lit("</p><p>1 < 2 and 3 > 1</p></body></html>")))
            .when(col("doc_id") % 4 === 1, concat(
              lit("<div data-x=\"1>2\"><p>"),
              col("text"),
              lit(" <b>bold</b>&nbsp;&amp;amp; &#65;&#x42;!</p></div>")))
            .when(col("doc_id") % 4 === 2, concat(
              lit("<!-- c1 <!-- inner --> tail --><p>"),
              col("text"),
              lit("</p><!-- trailing")))
            .otherwise(concat(
              lit("<!DOCTYPE html><ul><li>a<li>b</ul><script/>hidden()</script><p>"),
              col("text"),
              lit("</p><br/>"))))
          .withColumn("cleaned", expr("html_text(html)"))
          .select(col("doc_id"),
            length(col("html")).as("n_raw"),
            length(col("cleaned")).as("n_clean"),
            col("cleaned"))
          .orderBy(col("doc_id")),
      Some("""WITH h AS (SELECT doc_id, text,
          CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN
              '<html><head><script type="text/javascript">if (a<b && b>c) { x = "</div>"; }</script>' ||
              '<style media="x>y">p:after{content:">"}</style></head>' ||
              '<body><p class="q>r" title=''a>b''>' || text ||
              '</p><p>1 < 2 and 3 > 1</p></body></html>'
            WHEN 1 THEN
              '<div data-x="1>2"><p>' || text ||
              ' <b>bold</b>&nbsp;&amp;amp; &#65;&#x42;!</p></div>'
            WHEN 2 THEN
              '<!-- c1 <!-- inner --> tail --><p>' || text || '</p><!-- trailing'
            ELSE
              '<!DOCTYPE html><ul><li>a<li>b</ul><script/>hidden()</script><p>' ||
              text || '</p><br/>'
          END AS html,
          CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN text || ' 1 < 2 and 3 > 1'
            WHEN 1 THEN text || ' bold &amp; AB!'
            WHEN 2 THEN 'tail --> ' || text
            ELSE 'a b ' || text
          END AS cleaned
          FROM documents WHERE text IS NOT NULL AND doc_id < 300)
        SELECT doc_id, CAST(len(html) AS INT) AS n_raw,
          CAST(len(cleaned) AS INT) AS n_clean, cleaned
        FROM h ORDER BY doc_id""")),

    // E35 — context-window chunking with overlap: every pretraining
    // pipeline splits long documents into model-window-sized chunks with
    // a stride (here C=64 tokens, S=48 — 16-token overlap so no span is
    // seen only at a window edge). flatMap shape: one posexplode over a
    // scan-local transform, zero shuffle, chunk count ~n_toks/S per doc —
    // at 100 TB this is embarrassingly parallel and composes with e17's
    // sequence packing downstream. Chunks emit as space-joined strings
    // (the e07 scalar-encoding precedent: the driver's compare cannot
    // hash array columns).
    "e35_chunk_overlap" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"),
            posexplode(expr(
              "transform(sequence(0, CAST((size(toks) - 1) / 48 AS INT)), i -> array_join(slice(toks, i * 48 + 1, 64), ' '))")))
          .select(col("doc_id"), col("pos").as("chunk_id"),
            size(split(col("col"), " ")).as("n_toks"),
            col("col").as("chunk")),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        c AS (SELECT doc_id, CAST(i AS INT) AS chunk_id,
            array_to_string(toks[i*48 + 1 : i*48 + 64], ' ') AS chunk
          FROM d, UNNEST(generate_series(0, (len(toks) - 1) // 48)) AS u(i))
        SELECT doc_id, chunk_id,
          CAST(len(string_split(chunk, ' ')) AS INT) AS n_toks, chunk
        FROM c""")),

    // E36 — Unicode normalization (NFC + accent folding): multilingual
    // dedup/n-gram pipelines must normalize first or `é` and `e`+U+0301
    // count as different documents. Native codegen expressions
    // (functions.UnicodeNorm) registered under the SAME names DuckDB
    // uses (nfc_normalize / strip_accents — verified char-for-char
    // canonical-only semantics, UnicodeNormSpec), so the oracle pairs
    // 1:1. Scan-local projection, ASCII fast path — zero shuffle at any
    // scale. The fixture input injects composed accents into the text
    // AND appends a DECOMPOSED e+combining-acute tail, so n_chars must
    // SHRINK under NFC (composition provably ran) and the folded twin
    // must drop every mark. Lengths stay in the BMP so Spark's UTF-16
    // length and DuckDB's codepoint length agree.
    "e36_normalize" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") < 300)
          .withColumn("raw", concat(
            expr("replace(replace(replace(text, 'a', 'á'), 'e', 'è'), 'n', 'ñ')"),
            lit(" café 中文 ø")))
          .select(col("doc_id"),
            length(col("raw")).as("n_raw"),
            expr("length(nfc_normalize(raw))").as("n_nfc"),
            expr("strip_accents(lower(nfc_normalize(raw)))").as("folded"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
          CAST(length(raw) AS INT) AS n_raw,
          CAST(length(nfc_normalize(raw)) AS INT) AS n_nfc,
          strip_accents(lower(nfc_normalize(raw))) AS folded
        FROM (SELECT doc_id,
            replace(replace(replace(text, 'a', 'á'), 'e', 'è'), 'n', 'ñ')
              || ' café 中文 ø' AS raw
          FROM documents WHERE text IS NOT NULL AND doc_id < 300)
        ORDER BY doc_id""")),

    // E37 — URL parsing + registrable-domain curation: crawl pipelines
    // group, filter, and mix by DOMAIN, not by page. The fixture
    // assembles a deterministic URL per document (scheme, optional www,
    // source-derived host over 6 TLDs incl. the two-label `co.uk`,
    // `com.au`, and `org.uk`, path, optional ?ref= query); Spark must
    // then RECOVER every component with stock `parse_url` (codegen'd, no
    // UDF) and fold the host to its registrable domain via the committed
    // public-suffix subset (functions.PublicSuffix — table-driven
    // longest-match, replacing r7's single `co.uk` literal), while
    // the oracle re-derives each component directly from the fixture
    // arithmetic — so parse_url AND the suffix fold are both checked
    // against construction-time ground truth, not against themselves.
    // Blocklist removal is a NOT IN over registrable domains (the shape
    // a 100 TB crawl uses: tiny broadcast list, scan-local filter).
    // Whole thing is one scan + one small-key aggregate.
    "e37_url_domains" -> QueryDef(
      (s, dir) => {
        // r9: the TLD list now exercises every PSL rule kind — plain
        // multi-label suffixes, wildcard (*.ck, *.kawasaki.jp) and
        // exception (!www.ck, !city.kawasaki.jp) rules — and every 7th
        // host uppercases its site label to pin case-insensitive folding
        val tlds = lit(Array("com", "org", "co.uk", "io", "com.au",
          "org.uk", "ck", "www.ck", "kawasaki.jp", "city.kawasaki.jp"))
        val site = concat(col("source"), (col("doc_id") % 5).cast("string"))
        val docs = t(s, dir, "documents")
          .filter(col("text").isNotNull)
          .withColumn("url", concat(
            lit("https://"),
            when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
            when(col("doc_id") % 7 === 0, upper(site)).otherwise(site), lit("."),
            element_at(tlds, (col("doc_id") % 10 + 1).cast("int")),
            lit("/p/"), col("doc_id"),
            when(col("doc_id") % 2 === 0, concat(lit("?ref="), col("lang")))
              .otherwise(lit(""))))
        val parsed = docs.select(col("n_chars"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY', 'ref')").as("ref"))
        parsed
          .withColumn("domain",
            graft.functions.PublicSuffix.registrableDomain(col("host")))
          .filter(!col("domain").isin("src00.com", "src11.org"))
          .groupBy("domain")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("host").startsWith("www."), 1L).otherwise(0L)).as("n_www"),
            sum(when(col("ref").isNotNull, 1L).otherwise(0L)).as("n_ref"),
            sum(col("n_chars")).as("sum_chars"),
            max(length(col("path"))).cast("int").as("max_path_len"))
          .orderBy("domain")
      },
      Some("""WITH u AS (
          SELECT doc_id, n_chars,
            (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS has_www,
            (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS has_ref,
            length('/p/' || CAST(doc_id AS VARCHAR)) AS path_len,
            source || CAST(doc_id % 5 AS VARCHAR) AS site,
            (['com','org','co.uk','io','com.au','org.uk','ck','www.ck',
              'kawasaki.jp','city.kawasaki.jp'])[CAST(doc_id % 10 AS INT) + 1] AS tld
          FROM documents WHERE text IS NOT NULL),
        d AS (SELECT doc_id, n_chars, has_www, has_ref, path_len,
            -- expected registrable domain by PSL rule kind (lowercase —
            -- matching is case-insensitive, so the %7 uppercase hosts
            -- fold to the same groups):
            --   *.ck / *.kawasaki.jp: site.tld is itself a public suffix,
            --     so a www. host registers one label deeper;
            --   !www.ck / !city.kawasaki.jp: the exception rule IS the
            --     registrable domain;
            --   plain suffixes register at site.tld
            CASE tld
              WHEN 'ck' THEN CASE WHEN has_www = 1
                THEN 'www.' || site || '.ck' ELSE site || '.ck' END
              WHEN 'kawasaki.jp' THEN CASE WHEN has_www = 1
                THEN 'www.' || site || '.kawasaki.jp'
                ELSE site || '.kawasaki.jp' END
              WHEN 'www.ck' THEN 'www.ck'
              WHEN 'city.kawasaki.jp' THEN 'city.kawasaki.jp'
              ELSE site || '.' || tld END AS domain
          FROM u)
        SELECT domain,
          count(*) AS n_docs,
          CAST(sum(has_www) AS BIGINT) AS n_www,
          CAST(sum(has_ref) AS BIGINT) AS n_ref,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          CAST(max(path_len) AS INT) AS max_path_len
        FROM d WHERE domain NOT IN ('src00.com', 'src11.org')
        GROUP BY domain ORDER BY domain""")),

    // E50 — URL normalization (functions.UrlNormalize, RFC 3986 §6.2.2):
    // the canonicalization a crawl frontier runs before its URL-seen
    // test — e37 parses and folds domains, but without syntax
    // normalization `HTTP://Host:80/a/../b` and `http://host/b` are two
    // frontier entries and the page fetches twice. Four hostile
    // construction variants (case+default port, dot segments incl. a
    // %2E-encoded one, percent decode/uppercase, empty path + fragment);
    // the oracle states each variant's EXPECTED canonical form as closed
    // -form construction arithmetic (the e34b pattern: Spark must
    // normalize its way to the string DuckDB merely writes down), and
    // the final equality column proves each doc's hostile and clean
    // twins collapse to one frontier entry. Scan-local codegen scalar;
    // zero shuffle.
    "e50_url_normalize" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") < 300)
          .withColumn("raw",
            when(col("doc_id") % 4 === 0, concat(
              lit("HTTPS://"), upper(col("source")), lit(".Example.COM:443/p/"),
              col("doc_id")))
            .when(col("doc_id") % 4 === 1, concat(
              lit("https://"), col("source"), lit(".example.com/a/./"),
              col("doc_id"), lit("/%2E%2E/b/p"), col("doc_id")))
            .when(col("doc_id") % 4 === 2, concat(
              lit("https://"), col("source"), lit(".example.com/%7e"),
              col("doc_id"), lit("/%41%2fx")))
            .otherwise(concat(
              lit("http://"), col("source"), lit(".example.com:80?q="),
              col("doc_id"), lit("#frag"))))
          .withColumn("clean",
            when(col("doc_id") % 4 === 0, concat(
              lit("https://"), col("source"), lit(".example.com/p/"), col("doc_id")))
            .when(col("doc_id") % 4 === 1, concat(
              lit("https://"), col("source"), lit(".example.com/a/b/p"), col("doc_id")))
            .when(col("doc_id") % 4 === 2, concat(
              lit("https://"), col("source"), lit(".example.com/~"),
              col("doc_id"), lit("/A%2Fx")))
            .otherwise(concat(
              lit("http://"), col("source"), lit(".example.com/?q="), col("doc_id"))))
          .select(col("doc_id"), col("raw"),
            expr("url_normalize(raw)").as("normalized"),
            (expr("url_normalize(raw)") === expr("url_normalize(clean)"))
              .as("collapses"))
          .orderBy(col("doc_id"))
        docs
      },
      Some("""SELECT doc_id,
          CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN 'HTTPS://' || upper(source) || '.Example.COM:443/p/' || CAST(doc_id AS VARCHAR)
            WHEN 1 THEN 'https://' || source || '.example.com/a/./' || CAST(doc_id AS VARCHAR)
              || '/%2E%2E/b/p' || CAST(doc_id AS VARCHAR)
            WHEN 2 THEN 'https://' || source || '.example.com/%7e' || CAST(doc_id AS VARCHAR) || '/%41%2fx'
            ELSE 'http://' || source || '.example.com:80?q=' || CAST(doc_id AS VARCHAR) || '#frag'
          END AS raw,
          CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN 'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR)
            WHEN 1 THEN 'https://' || source || '.example.com/a/b/p' || CAST(doc_id AS VARCHAR)
            WHEN 2 THEN 'https://' || source || '.example.com/~' || CAST(doc_id AS VARCHAR) || '/A%2Fx'
            ELSE 'http://' || source || '.example.com/?q=' || CAST(doc_id AS VARCHAR)
          END AS normalized,
          true AS collapses
        FROM documents WHERE text IS NOT NULL AND doc_id < 300
        ORDER BY doc_id""")),

    // E9 — lexicon sentiment: token explode ⋈ broadcast lexicon, exact
    // decimal mean. The lexicon is a committed literal (same in oracle).
    "e09_sentiment" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val lex = Seq(("fast", 1.0), ("slow", -1.0), ("small", -0.5),
          ("agg", 0.5), ("join", 0.75), ("scan", -0.25)).toDF("tok", "polarity")
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
        toks.join(broadcast(lex), "tok")
          .groupBy(col("doc_id"))
          .agg(((sum(cents2(col("polarity"))).cast("double") / lit(100.0)) / count(lit(1))).as("sentiment"),
            count(lit(1)).as("n_hits"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH lex AS (SELECT * FROM (VALUES ('fast', 1.0), ('slow', -1.0), ('small', -0.5),
          ('agg', 0.5), ('join', 0.75), ('scan', -0.25)) AS t(tok, polarity)),
        toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        SELECT doc_id,
          (${sqlSumD2("polarity")}) / count(*) AS sentiment,
          count(*) AS n_hits
        FROM toks JOIN lex ON toks.tok = lex.tok
        GROUP BY doc_id ORDER BY doc_id""")),

    // E10 — string-similarity self-join with the scale-path prefilter
    // (length band) before the expensive levenshtein verify.
    "e10_string_sim_join" -> QueryDef(
      (s, dir) => {
        val types = t(s, dir, "part").select(col("p_type")).distinct()
        val a = types.select(col("p_type").as("ta"))
        val b = types.select(col("p_type").as("tb"))
        a.join(b, col("ta") < col("tb") &&
            abs(length(col("ta")) - length(col("tb"))) <= 4 &&
            levenshtein(col("ta"), col("tb")) <= 6)
          .select(col("ta"), col("tb"), levenshtein(col("ta"), col("tb")).as("dist"))
          .orderBy(col("ta"), col("tb"))
      },
      Some("""WITH t AS (SELECT DISTINCT p_type FROM part)
        SELECT a.p_type AS ta, b.p_type AS tb,
          CAST(levenshtein(a.p_type, b.p_type) AS INT) AS dist
        FROM t a JOIN t b ON a.p_type < b.p_type
          AND abs(length(a.p_type) - length(b.p_type)) <= 4
          AND levenshtein(a.p_type, b.p_type) <= 6
        ORDER BY ta, tb""")),

    // E11 — Jaccard token-set join via PREFIX-FILTERED candidate
    // generation (operators.PrefixFilterJoin): candidates come only from
    // each doc's rarest ⌈(1−τ)·|tokens|⌉+1 tokens in global df order —
    // lossless for J ≥ τ, and the hot-token bucket explosion of a raw
    // shared-token join (n docs sharing a stopword → n(n−1)/2 pairs on
    // one key) cannot occur: hot tokens sort out of every prefix. The
    // exact verify step makes the output identical to the all-pairs form,
    // so the oracle is unchanged.
    "e11_jaccard_join" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
        val toks = docs
          .select(col("doc_id"), explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
        graft.operators.PrefixFilterJoin.pairs(toks, "doc_id", "tok", 0.8)
          .select(col("d1"), col("d2"),
            graft.operators.PrefixFilterJoin.jaccard.as("jaccard"))
          .filter(col("jaccard") >= 0.8)
          .orderBy(col("d1"), col("d2"))
      },
      Some("""WITH toks AS (SELECT DISTINCT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
          FROM documents WHERE doc_id < 100),
        sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY d1, d2)
        SELECT d1, d2,
          CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) AS jaccard
        FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.8
        ORDER BY d1, d2""")),

    // E12 — multimodal binary ingest: deterministic blob fixtures written
    // from document texts, read back through the binaryFile source.
    "e12_binary_ingest" -> QueryDef(
      (s, dir) => {
        val blobDir = s"$scratch/blobs"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(blobDir))
        // clear stale fixtures from prior runs; null texts write empty blobs
        new java.io.File(blobDir).listFiles().foreach(_.delete())
        t(s, dir, "documents").filter(col("doc_id") < 5)
          .select(col("doc_id"), col("text")).collect()
          .foreach { r =>
            val text = Option(r.getString(1)).getOrElse("")
            java.nio.file.Files.write(
              java.nio.file.Paths.get(f"$blobDir/doc${r.getLong(0)}%03d.bin"),
              text.getBytes("UTF-8"))
          }
        s.read.format("binaryFile").load(blobDir)
          .select(
            regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            length(col("content")).as("n_bytes"),
            sha2(col("content"), 256).as("sha"))
          .orderBy(col("fname"))
      },
      Some(s"""SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
        CAST(size AS INT) AS n_bytes,
        sha256(decode(content)) AS sha
        FROM read_blob('$scratch/blobs/*.bin') ORDER BY fname""")),

    // E12b — REAL image metadata decode: valid BMP fixtures, header fields
    // (width/height/bpp) read from the BYTES by operators.Multimodal's
    // byte-arithmetic decoder on the Spark side and by hex arithmetic over
    // read_blob on the DuckDB side — both engines parse the same bytes
    // independently (no shared generator formula in the oracle).
    "e12b_image_meta" -> QueryDef(
      (s, dir) => {
        val bmpDir = s"$scratch/bmp"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(bmpDir))
        new java.io.File(bmpDir).listFiles().foreach(_.delete())
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$bmpDir/img$i%02d.bmp"),
            graft.operators.Multimodal.makeBmp(16 + 8 * i, 9 + 4 * i, seed = 1000 + i))
        }
        val meta = udf((b: Array[Byte]) => graft.operators.Multimodal.decodeBmpHeader(b))
        s.read.format("binaryFile").load(bmpDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            length(col("content")).as("n_bytes"),
            meta(col("content")).as("m"))
          .select(col("fname"), col("n_bytes"),
            col("m._1").as("width"), col("m._2").as("height"), col("m._3").as("bpp"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, size, hex(content) AS H
          FROM read_blob('$scratch/bmp/*.bmp'))
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(size AS INT) AS n_bytes,
          CAST(${duckLeU32(19)} AS INT) AS width,
          CAST(${duckLeU32(23)} AS INT) AS height,
          CAST(${duckLeU16(29)} AS INT) AS bpp
        FROM b ORDER BY fname""")),

    // E12c — REAL audio metadata decode: valid PCM WAV fixtures; Spark
    // walks RIFF chunks (operators.Multimodal.decodeWavHeader), DuckDB
    // reads the canonical 44-byte header offsets from the same bytes.
    "e12c_audio_meta" -> QueryDef(
      (s, dir) => {
        val wavDir = s"$scratch/wav"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wavDir))
        new java.io.File(wavDir).listFiles().foreach(_.delete())
        val rates = Array(8000, 16000, 22050, 44100, 48000)
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$wavDir/au$i%02d.wav"),
            graft.operators.Multimodal.makeWav(1 + i % 2, rates(i), 100 + 37 * i, seed = 2000 + i))
        }
        val meta = udf((b: Array[Byte]) => graft.operators.Multimodal.decodeWavHeader(b))
        s.read.format("binaryFile").load(wavDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            meta(col("content")).as("m"))
          .select(col("fname"),
            col("m._1").as("channels"), col("m._2").as("sample_rate"),
            col("m._3").as("bits"), col("m._4").as("n_samples"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/wav/*.wav'))
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(${duckLeU16(23)} AS INT) AS channels,
          CAST(${duckLeU32(25)} AS INT) AS sample_rate,
          CAST(${duckLeU16(35)} AS INT) AS bits,
          CAST(${duckLeU32(41)} / (${duckLeU16(23)} * (${duckLeU16(35)} / 8)) AS BIGINT) AS n_samples
        FROM b ORDER BY fname""")),

    // E12d — REAL PNG header decode: chunk-structure-valid PNG fixtures
    // (CRC-correct IHDR, verified by the Spark decoder); DuckDB reads the
    // same big-endian IHDR fields by hex arithmetic — both engines parse
    // the identical bytes independently, like e12b/e12c.
    "e12d_png_meta" -> QueryDef(
      (s, dir) => {
        val pngDir = s"$scratch/png"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pngDir))
        new java.io.File(pngDir).listFiles().foreach(_.delete())
        val colorTypes = Array(0, 2, 3, 4, 6) // gray, rgb, palette, gray+a, rgba
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$pngDir/img$i%02d.png"),
            graft.operators.Multimodal.makePng(
              32 + 17 * i, 20 + 11 * i, bitDepth = 8, colorTypes(i), seed = 3000 + i))
        }
        val meta = udf((b: Array[Byte]) => graft.operators.Multimodal.decodePngHeader(b))
        s.read.format("binaryFile").load(pngDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            length(col("content")).as("n_bytes"),
            meta(col("content")).as("m"))
          .select(col("fname"), col("n_bytes"),
            col("m._1").as("width"), col("m._2").as("height"),
            col("m._3").as("bit_depth"), col("m._4").as("color_type"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, size, hex(content) AS H
          FROM read_blob('$scratch/png/*.png'))
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(size AS INT) AS n_bytes,
          CAST(${duckBeU32(17)} AS INT) AS width,
          CAST(${duckBeU32(21)} AS INT) AS height,
          CAST(${duckHexByte(25)} AS INT) AS bit_depth,
          CAST(${duckHexByte(26)} AS INT) AS color_type
        FROM b ORDER BY fname""")),

    // E12e — REAL video-container metadata decode: structurally valid MP4
    // shells (ftyp + moov{mvhd} + mdat). The Spark decoder WALKS the box
    // sequence (operators.Multimodal.decodeMp4Header); the fixture's fixed
    // layout lets DuckDB address the same big-endian fields by offset —
    // completing the image/audio/video metadata triple (e12b/e12c/e12e).
    "e12e_video_meta" -> QueryDef(
      (s, dir) => {
        val mp4Dir = s"$scratch/mp4"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(mp4Dir))
        new java.io.File(mp4Dir).listFiles().foreach(_.delete())
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$mp4Dir/v$i%02d.mp4"),
            graft.operators.Multimodal.makeMp4(
              minorVersion = 512 + i, timescale = 1000 * (i + 1),
              duration = 90000L + 7321L * i, mediaBytes = 64 + 13 * i,
              seed = 4000 + i))
        }
        val meta = udf((b: Array[Byte]) => graft.operators.Multimodal.decodeMp4Header(b))
        s.read.format("binaryFile").load(mp4Dir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            meta(col("content")).as("m"))
          .select(col("fname"),
            col("m._1").as("major_brand"), col("m._2").as("minor_version"),
            col("m._3").as("timescale"), col("m._4").as("duration"),
            col("m._5").as("media_bytes"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/mp4/*.mp4'))
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          chr(CAST(${duckHexByte(9)} AS INT)) || chr(CAST(${duckHexByte(10)} AS INT)) ||
            chr(CAST(${duckHexByte(11)} AS INT)) || chr(CAST(${duckHexByte(12)} AS INT)) AS major_brand,
          CAST(${duckBeU32(13)} AS BIGINT) AS minor_version,
          CAST(${duckBeU32(49)} AS BIGINT) AS timescale,
          CAST(${duckBeU32(53)} AS BIGINT) AS duration,
          CAST(${duckBeU32(137)} - 8 AS BIGINT) AS media_bytes
        FROM b ORDER BY fname""")),

    // E12f — REAL GIF metadata decode (logical screen descriptor +
    // global-color-table sizing): the little-endian twin of e12d's
    // big-endian PNG walk. The oracle recomputes the GCT entry count from
    // the packed byte's flag + size-exponent bits in SQL.
    "e12f_gif_meta" -> QueryDef(
      (s, dir) => {
        val gifDir = s"$scratch/gif"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(gifDir))
        new java.io.File(gifDir).listFiles().foreach(_.delete())
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$gifDir/anim$i%02d.gif"),
            graft.operators.Multimodal.makeGif(
              width = 40 + 23 * i, height = 30 + 13 * i, gctExp = (i * 2) % 8,
              bgIndex = i * 3, seed = 5000 + i,
              version = if (i % 2 == 0) "89a" else "87a"))
        }
        val meta = udf((b: Array[Byte]) => graft.operators.Multimodal.decodeGifHeader(b))
        s.read.format("binaryFile").load(gifDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            length(col("content")).as("n_bytes"),
            meta(col("content")).as("m"))
          .select(col("fname"), col("n_bytes"),
            col("m._1").as("version"), col("m._2").as("width"),
            col("m._3").as("height"), col("m._4").as("gct_colors"),
            col("m._5").as("bg_index"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, size, hex(content) AS H
          FROM read_blob('$scratch/gif/*.gif'))
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(size AS INT) AS n_bytes,
          chr(CAST(${duckHexByte(4)} AS INT)) || chr(CAST(${duckHexByte(5)} AS INT)) ||
            chr(CAST(${duckHexByte(6)} AS INT)) AS version,
          CAST(${duckLeU16(7)} AS INT) AS width,
          CAST(${duckLeU16(9)} AS INT) AS height,
          CAST(CASE WHEN ${duckHexByte(11)} >= 128
            THEN power(2, (${duckHexByte(11)} % 8) + 1) ELSE 0 END AS INT) AS gct_colors,
          CAST(${duckHexByte(12)} AS INT) AS bg_index
        FROM b ORDER BY fname""")),

    // E12g — REAL JPEG frame-header decode: the decoder WALKS the
    // marker-segment sequence (skipping APP0/DQT, stepping over standalone
    // markers) to the SOF0 frame header; the fixture's fixed layout
    // (SOF0 at byte 89) lets the oracle address precision/height/width/
    // component-count by offset. Together with BMP/PNG/GIF this covers the
    // common raster formats' metadata without any codec library.
    "e12g_jpeg_meta" -> QueryDef(
      (s, dir) => {
        val jpgDir = s"$scratch/jpg"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(jpgDir))
        new java.io.File(jpgDir).listFiles().foreach(_.delete())
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$jpgDir/photo$i%02d.jpg"),
            graft.operators.Multimodal.makeJpeg(
              width = 640 + 31 * i, height = 480 + 17 * i,
              nComp = 1 + (i % 3), seed = 6000 + i))
        }
        val meta = udf((b: Array[Byte]) => graft.operators.Multimodal.decodeJpegHeader(b))
        s.read.format("binaryFile").load(jpgDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            length(col("content")).as("n_bytes"),
            meta(col("content")).as("m"))
          .select(col("fname"), col("n_bytes"),
            col("m._1").as("width"), col("m._2").as("height"),
            col("m._3").as("precision"), col("m._4").as("n_components"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, size, hex(content) AS H
          FROM read_blob('$scratch/jpg/*.jpg'))
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(size AS INT) AS n_bytes,
          CAST(${duckBeU16(97)} AS INT) AS width,
          CAST(${duckBeU16(95)} AS INT) AS height,
          CAST(${duckHexByte(94)} AS INT) AS precision,
          CAST(${duckHexByte(99)} AS INT) AS n_components
        FROM b ORDER BY fname""")),

    // E12h — REAL pixel-level decode: per-channel means over the raw
    // 24bpp BMP pixel rows (bottom-up, 4-byte padded — padding bytes are
    // skipped on both sides). The DuckDB oracle walks the SAME pixel
    // bytes with computed hex offsets — feature extraction from pixels
    // with zero codec libraries, exact to the bit.
    "e12h_bmp_pixels" -> QueryDef(
      (s, dir) => {
        val bmpDir = s"$scratch/bmp_px"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(bmpDir))
        new java.io.File(bmpDir).listFiles().foreach(_.delete())
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$bmpDir/px$i%02d.bmp"),
            graft.operators.Multimodal.makeBmp(
              width = 5 + 3 * i, height = 3 + 2 * i, seed = 7000 + i))
        }
        val sums = udf((b: Array[Byte]) => graft.operators.Multimodal.bmpChannelSums(b))
        s.read.format("binaryFile").load(bmpDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            sums(col("content")).as("m"))
          .select(col("fname"),
            col("m._4").as("n_px"),
            round(col("m._1").cast("double") / col("m._4"), 6).as("mean_b"),
            round(col("m._2").cast("double") / col("m._4"), 6).as("mean_g"),
            round(col("m._3").cast("double") / col("m._4"), 6).as("mean_r"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/bmp_px/*.bmp')),
        hdr AS (SELECT filename, H,
          ${duckLeU32(11)} AS data_off, ${duckLeU16(19)} AS w, ${duckLeU16(23)} AS ht
          FROM b),
        px AS (SELECT filename, w, ht,
          data_off + (i // w) * (((w * 3 + 3) // 4) * 4) + (i % w) * 3 AS o, H
          FROM hdr, UNNEST(generate_series(0, w * ht - 1)) AS u(i)),
        ch AS (SELECT filename, w, ht,
          strpos('123456789ABCDEF', substr(H, 2*o + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*o + 2, 1)) AS blue,
          strpos('123456789ABCDEF', substr(H, 2*(o+1) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(o+1) + 2, 1)) AS green,
          strpos('123456789ABCDEF', substr(H, 2*(o+2) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(o+2) + 2, 1)) AS red
          FROM px)
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(w * ht AS BIGINT) AS n_px,
          round(CAST(sum(blue) AS DOUBLE) / (w * ht), 6) AS mean_b,
          round(CAST(sum(green) AS DOUBLE) / (w * ht), 6) AS mean_g,
          round(CAST(sum(red) AS DOUBLE) / (w * ht), 6) AS mean_r
        FROM ch GROUP BY filename, w, ht ORDER BY fname""")),

    // E12i — REAL pixel-level PNG decode: the engine inflates the IDAT
    // zlib stream (JDK Inflater), un-filters scanlines, and means the RGB
    // channels; the fixtures' stored (uncompressed) deflate blocks put
    // every scanline byte at a computable offset — sig(8)+IHDR(25)+IDAT
    // hdr(8)+zlib(2)+stored hdr(5) = pixels from byte 48 — so the DuckDB
    // oracle walks the SAME bytes the engine decompresses. The decoder
    // itself handles any conforming deflate stream and all five filter
    // types (MultimodalSpec feeds real Deflater output); only the FIXTURE
    // is layout-pinned, retiring the last honest image-decode stub.
    "e12i_png_pixels" -> QueryDef(
      (s, dir) => {
        val pngDir = s"$scratch/png_px"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pngDir))
        new java.io.File(pngDir).listFiles().foreach(_.delete())
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$pngDir/px$i%02d.png"),
            graft.operators.Multimodal.makePngPixels(
              width = 6 + 3 * i, height = 4 + 2 * i, seed = 8000 + i))
        }
        val sums = udf((b: Array[Byte]) => graft.operators.Multimodal.pngChannelSums(b))
        s.read.format("binaryFile").load(pngDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            sums(col("content")).as("m"))
          .select(col("fname"),
            col("m._4").as("n_px"),
            round(col("m._1").cast("double") / col("m._4"), 6).as("mean_r"),
            round(col("m._2").cast("double") / col("m._4"), 6).as("mean_g"),
            round(col("m._3").cast("double") / col("m._4"), 6).as("mean_b"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/png_px/*.png')),
        hdr AS (SELECT filename, H,
          ${duckBeU32(17)} AS w, ${duckBeU32(21)} AS ht
          FROM b),
        px AS (SELECT filename, w, ht,
          48 + (i // w) * (1 + w * 3) + 1 + (i % w) * 3 AS o, H
          FROM hdr, UNNEST(generate_series(0, w * ht - 1)) AS u(i)),
        ch AS (SELECT filename, w, ht,
          strpos('123456789ABCDEF', substr(H, 2*o + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*o + 2, 1)) AS red,
          strpos('123456789ABCDEF', substr(H, 2*(o+1) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(o+1) + 2, 1)) AS green,
          strpos('123456789ABCDEF', substr(H, 2*(o+2) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(o+2) + 2, 1)) AS blue
          FROM px)
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(w * ht AS BIGINT) AS n_px,
          round(CAST(sum(red) AS DOUBLE) / (w * ht), 6) AS mean_r,
          round(CAST(sum(green) AS DOUBLE) / (w * ht), 6) AS mean_g,
          round(CAST(sum(blue) AS DOUBLE) / (w * ht), 6) AS mean_b
        FROM ch GROUP BY filename, w, ht ORDER BY fname""")),

    // E12j — REAL pixel-level GIF decode: the engine runs a GENERAL LZW
    // decoder (variable code widths, dictionary growth, CLEAR/EOI, KwKwK)
    // and maps indices through the global color table; the fixtures use
    // the classic "uncompressed GIF" encoding — min code size 7 with a
    // CLEAR before every 120 pixel codes keeps all codes byte-aligned at
    // 8 bits — so pixel k's byte sits at offset 409 + ci + ci/255 with
    // ci = k + k/120 + 1 (sub-block length bytes accounted), and the
    // DuckDB oracle walks the SAME bytes the engine LZW-decodes. The
    // grayscale palette (entry i = (i,i,i)) makes the oracle's index
    // bytes equal the channel values while the engine still performs the
    // real palette lookup.
    "e12j_gif_pixels" -> QueryDef(
      (s, dir) => {
        val gifDir = s"$scratch/gif_px"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(gifDir))
        new java.io.File(gifDir).listFiles().foreach(_.delete())
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$gifDir/px$i%02d.gif"),
            graft.operators.Multimodal.makeGifPixels(
              width = 10 + 3 * i, height = 8 + 2 * i, seed = 9000 + i))
        }
        val sums = udf((b: Array[Byte]) => graft.operators.Multimodal.gifChannelSums(b))
        s.read.format("binaryFile").load(gifDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            sums(col("content")).as("m"))
          .select(col("fname"),
            col("m._4").as("n_px"),
            round(col("m._1").cast("double") / col("m._4"), 6).as("mean_r"),
            round(col("m._2").cast("double") / col("m._4"), 6).as("mean_g"),
            round(col("m._3").cast("double") / col("m._4"), 6).as("mean_b"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/gif_px/*.gif')),
        hdr AS (SELECT filename, H,
          ${duckLeU16(7)} AS w, ${duckLeU16(9)} AS ht
          FROM b),
        px AS (SELECT filename, w, ht,
          409 + (i + i // 120 + 1) + (i + i // 120 + 1) // 255 AS o, H
          FROM hdr, UNNEST(generate_series(0, w * ht - 1)) AS u(i)),
        ch AS (SELECT filename, w, ht,
          strpos('123456789ABCDEF', substr(H, 2*o + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*o + 2, 1)) AS v
          FROM px)
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(w * ht AS BIGINT) AS n_px,
          round(CAST(sum(v) AS DOUBLE) / (w * ht), 6) AS mean_r,
          round(CAST(sum(v) AS DOUBLE) / (w * ht), 6) AS mean_g,
          round(CAST(sum(v) AS DOUBLE) / (w * ht), 6) AS mean_b
        FROM ch GROUP BY filename, w, ht ORDER BY fname""")),

    // E12k — REAL sample-level WAV decode: 16-bit PCM is already the
    // decoded form, so the engine computes genuine audio content features
    // (DC offset, RMS energy, peak) from the data chunk the chunk-walk
    // locates; the oracle decodes the SAME little-endian samples by
    // offset arithmetic (fixtures put data at byte 44, the canonical
    // layout). Integer sums are exact on both engines; the RMS double is
    // one identical sqrt+division.
    "e12k_wav_samples" -> QueryDef(
      (s, dir) => {
        val wavDir = s"$scratch/wav_px"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wavDir))
        new java.io.File(wavDir).listFiles().foreach(_.delete())
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$wavDir/s$i%02d.wav"),
            graft.operators.Multimodal.makeWav(
              channels = 1 + (i % 2), sampleRate = 8000 + 1000 * i,
              nSamples = 300 + 50 * i, seed = 11000 + i))
        }
        val stats = udf((b: Array[Byte]) => graft.operators.Multimodal.wavSampleStats(b))
        s.read.format("binaryFile").load(wavDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            stats(col("content")).as("m"))
          .select(col("fname"),
            col("m._4").as("n_vals"),
            col("m._1").as("sum_amp"),
            col("m._3").as("peak_abs"),
            round(sqrt(col("m._2").cast("double") / col("m._4")), 6).as("rms"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/wav_px/*.wav')),
        hdr AS (SELECT filename, H, ${duckLeU32(41)} // 2 AS n FROM b),
        u16 AS (SELECT filename, n,
          (strpos('123456789ABCDEF', substr(H, 2*(44 + 2*j) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(44 + 2*j) + 2, 1)))
            + 256*(strpos('123456789ABCDEF', substr(H, 2*(45 + 2*j) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(45 + 2*j) + 2, 1))) AS u
          FROM hdr, UNNEST(generate_series(0, n - 1)) AS t(j)),
        sm AS (SELECT filename, n,
          CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
          FROM u16)
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(n AS BIGINT) AS n_vals,
          CAST(sum(v) AS BIGINT) AS sum_amp,
          CAST(max(abs(v)) AS BIGINT) AS peak_abs,
          round(sqrt(CAST(sum(v*v) AS DOUBLE) / n), 6) AS rms
        FROM sm GROUP BY filename, n ORDER BY fname""")),

    // E12l — REAL pixel-level baseline JPEG decode: the engine runs a
    // GENERAL baseline-sequential decoder (marker walk, canonical Huffman
    // reconstruction, differential DC + run/size AC entropy decode with
    // FF00 un-stuffing, dequantization, separable IDCT, level shift) while
    // the fixtures use DC-only streams whose Huffman tables make each
    // block exactly 16 byte-aligned bits — so the DuckDB oracle hex-walks
    // the SAME entropy bytes, chains the DC differences, and computes the
    // flat block value clamp(round(128 + dc·q0/8)) the IDCT produces for
    // a DC-only block (the stored-deflate-PNG / byte-aligned-LZW-GIF
    // precedent, JPEG edition). The generator keeps dc·q0 ≢ 4 (mod 8) so
    // both engines' rounding agrees everywhere; AC runs, ZRL, stuffing
    // and edge crops are MultimodalSpec's in-test-encoder territory.
    "e12l_jpeg_pixels" -> QueryDef(
      (s, dir) => {
        val jDir = s"$scratch/jpg_px"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(jDir))
        new java.io.File(jDir).listFiles().foreach(_.delete())
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$jDir/jp$i%02d.jpg"),
            graft.operators.Multimodal.makeJpegPixels(
              wBlocks = 2 + i, hBlocks = 1 + (i % 2), q0 = 1 + (i % 3),
              seed = 12000 + i))
        }
        val sums = udf((b: Array[Byte]) => graft.operators.Multimodal.jpegGraySums(b))
        s.read.format("binaryFile").load(jDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            sums(col("content")).as("m"))
          .select(col("fname"),
            col("m._2").as("n_px"),
            round(col("m._1").cast("double") / col("m._2"), 6).as("mean_lum"),
            col("m._3").as("min_lum"),
            col("m._4").as("max_lum"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/jpg_px/*.jpg')),
        hdr AS (SELECT filename, H, ${duckBeU16(97)} AS w, ${duckBeU16(95)} AS ht,
          ${duckHexByte(26)} AS q0 FROM b),
        blk AS (SELECT filename, w, ht, q0, j,
          (strpos('123456789ABCDEF', substr(H, 2*(156 + 2*j) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(156 + 2*j) + 2, 1))) AS b0,
          (strpos('123456789ABCDEF', substr(H, 2*(157 + 2*j) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(157 + 2*j) + 2, 1))) AS b1
          FROM hdr, UNNEST(generate_series(0, (w // 8) * (ht // 8) - 1)) AS t(j)),
        dcs AS (SELECT filename, w, ht, q0, j,
          SUM(CASE WHEN (b0 % 128) * 2 + b1 // 128 < 128
            THEN (b0 % 128) * 2 + b1 // 128 - 255
            ELSE (b0 % 128) * 2 + b1 // 128 END)
            OVER (PARTITION BY filename ORDER BY j) AS dc
          FROM blk),
        vals AS (SELECT filename, w, ht,
          LEAST(255, GREATEST(0, CAST(round(128 + dc * q0 / 8.0, 0) AS INTEGER))) AS v
          FROM dcs)
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(w * ht AS BIGINT) AS n_px,
          round(CAST(64 * sum(v) AS DOUBLE) / (w * ht), 6) AS mean_lum,
          CAST(min(v) AS INTEGER) AS min_lum,
          CAST(max(v) AS INTEGER) AS max_lum
        FROM vals GROUP BY filename, w, ht ORDER BY fname""")),

    // E12m — REAL pixel-level baseline COLOR JPEG decode (4:4:4 YCbCr,
    // interleaved MCUs, per-component DC predictors, JFIF YCbCr→RGB):
    // same engine decoder as e12l generalized to 3 components; the
    // fixtures keep every MCU at 6 byte-aligned stream bytes so the
    // oracle hex-walks three DC chains and applies the identical
    // conversion matrix on exact integer samples (rounding guarded away
    // from every .5 boundary by the generator — see makeJpegColorPixels).
    "e12m_jpeg_color" -> QueryDef(
      (s, dir) => {
        val jDir = s"$scratch/jpgc_px"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(jDir))
        new java.io.File(jDir).listFiles().foreach(_.delete())
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$jDir/jc$i%02d.jpg"),
            graft.operators.Multimodal.makeJpegColorPixels(
              wBlocks = 2 + i, hBlocks = 1 + (i % 2), q0 = 1 + (i % 3),
              seed = 13000 + i))
        }
        val sums = udf((b: Array[Byte]) =>
          graft.operators.Multimodal.jpegPixelStats(b).collect {
            case st if st.nComp == 3 => (st.sumR, st.sumG, st.sumB, st.nPx)
          })
        s.read.format("binaryFile").load(jDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            sums(col("content")).as("m"))
          .select(col("fname"),
            col("m._4").as("n_px"),
            round(col("m._1").cast("double") / col("m._4"), 6).as("mean_r"),
            round(col("m._2").cast("double") / col("m._4"), 6).as("mean_g"),
            round(col("m._3").cast("double") / col("m._4"), 6).as("mean_b"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/jpgc_px/*.jpg')),
        hdr AS (SELECT filename, H, ${duckBeU16(97)} AS w, ${duckBeU16(95)} AS ht,
          ${duckHexByte(26)} AS q0 FROM b),
        raw AS (SELECT filename, w, ht, q0, j, c,
          (strpos('123456789ABCDEF', substr(H, 2*(166 + 6*j + 2*c) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(166 + 6*j + 2*c) + 2, 1))) AS b0,
          (strpos('123456789ABCDEF', substr(H, 2*(167 + 6*j + 2*c) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(167 + 6*j + 2*c) + 2, 1))) AS b1
          FROM hdr,
            UNNEST(generate_series(0, (w // 8) * (ht // 8) - 1)) AS t(j),
            UNNEST(generate_series(0, 2)) AS u(c)),
        dcs AS (SELECT filename, w, ht, q0, j, c,
          SUM(CASE WHEN (b0 % 128) * 2 + b1 // 128 < 128
            THEN (b0 % 128) * 2 + b1 // 128 - 255
            ELSE (b0 % 128) * 2 + b1 // 128 END)
            OVER (PARTITION BY filename, c ORDER BY j) AS dc
          FROM raw),
        sm AS (SELECT filename, w, ht, j,
          MAX(CASE WHEN c = 0 THEN LEAST(255, GREATEST(0, CAST(round(128 + dc * q0 / 8.0, 0) AS INTEGER))) END) AS y,
          MAX(CASE WHEN c = 1 THEN LEAST(255, GREATEST(0, CAST(round(128 + dc * q0 / 8.0, 0) AS INTEGER))) END) AS cb,
          MAX(CASE WHEN c = 2 THEN LEAST(255, GREATEST(0, CAST(round(128 + dc * q0 / 8.0, 0) AS INTEGER))) END) AS cr
          FROM dcs GROUP BY filename, w, ht, j),
        rgb AS (SELECT filename, w, ht,
          LEAST(255, GREATEST(0, CAST(round(y + 1.402 * (cr - 128), 0) AS INTEGER))) AS r,
          LEAST(255, GREATEST(0, CAST(round(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128), 0) AS INTEGER))) AS g,
          LEAST(255, GREATEST(0, CAST(round(y + 1.772 * (cb - 128), 0) AS INTEGER))) AS bl
          FROM sm)
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(w * ht AS BIGINT) AS n_px,
          round(CAST(64 * sum(r) AS DOUBLE) / (w * ht), 6) AS mean_r,
          round(CAST(64 * sum(g) AS DOUBLE) / (w * ht), 6) AS mean_g,
          round(CAST(64 * sum(bl) AS DOUBLE) / (w * ht), 6) AS mean_b
        FROM rgb GROUP BY filename, w, ht ORDER BY fname""")),

    // E12n — REAL 4:2:0 baseline JPEG decode (the dominant layout in any
    // real image corpus): 16×16-pixel MCUs of 4 luma + 2 chroma blocks,
    // per-component predictor chains, nearest-neighbor chroma upsampling.
    // Fixtures keep each MCU at 12 byte-aligned stream bytes; the oracle
    // hex-walks the Y chain in decode order (j·4+b) and the per-MCU
    // chroma chains, then converts each flat Y block against the MCU's
    // (Cb, Cr) — rounding guarded as in e12m.
    "e12n_jpeg_420" -> QueryDef(
      (s, dir) => {
        val jDir = s"$scratch/jpg420_px"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(jDir))
        new java.io.File(jDir).listFiles().foreach(_.delete())
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$jDir/j4$i%02d.jpg"),
            graft.operators.Multimodal.makeJpeg420Pixels(
              wMcus = 1 + i, hMcus = 1 + (i % 2), q0 = 1 + (i % 3),
              seed = 14000 + i))
        }
        val sums = udf((b: Array[Byte]) =>
          graft.operators.Multimodal.jpegPixelStats(b).collect {
            case st if st.nComp == 3 => (st.sumR, st.sumG, st.sumB, st.nPx)
          })
        s.read.format("binaryFile").load(jDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            sums(col("content")).as("m"))
          .select(col("fname"),
            col("m._4").as("n_px"),
            round(col("m._1").cast("double") / col("m._4"), 6).as("mean_r"),
            round(col("m._2").cast("double") / col("m._4"), 6).as("mean_g"),
            round(col("m._3").cast("double") / col("m._4"), 6).as("mean_b"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/jpg420_px/*.jpg')),
        hdr AS (SELECT filename, H, ${duckBeU16(97)} AS w, ${duckBeU16(95)} AS ht,
          ${duckHexByte(26)} AS q0 FROM b),
        yraw AS (SELECT filename, w, ht, q0, j, blk,
          (strpos('123456789ABCDEF', substr(H, 2*(166 + 12*j + 2*blk) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(166 + 12*j + 2*blk) + 2, 1))) AS b0,
          (strpos('123456789ABCDEF', substr(H, 2*(167 + 12*j + 2*blk) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(167 + 12*j + 2*blk) + 2, 1))) AS b1
          FROM hdr,
            UNNEST(generate_series(0, (w // 16) * (ht // 16) - 1)) AS t(j),
            UNNEST(generate_series(0, 3)) AS u(blk)),
        ydc AS (SELECT filename, w, ht, q0, j, blk,
          SUM(CASE WHEN (b0 % 128) * 2 + b1 // 128 < 128
            THEN (b0 % 128) * 2 + b1 // 128 - 255
            ELSE (b0 % 128) * 2 + b1 // 128 END)
            OVER (PARTITION BY filename ORDER BY j * 4 + blk) AS dc
          FROM yraw),
        craw AS (SELECT filename, q0, j, c,
          (strpos('123456789ABCDEF', substr(H, 2*(174 + 12*j + 2*c) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(174 + 12*j + 2*c) + 2, 1))) AS b0,
          (strpos('123456789ABCDEF', substr(H, 2*(175 + 12*j + 2*c) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(175 + 12*j + 2*c) + 2, 1))) AS b1
          FROM hdr,
            UNNEST(generate_series(0, (w // 16) * (ht // 16) - 1)) AS t(j),
            UNNEST(generate_series(0, 1)) AS u(c)),
        cdc AS (SELECT filename, q0, j, c,
          SUM(CASE WHEN (b0 % 128) * 2 + b1 // 128 < 128
            THEN (b0 % 128) * 2 + b1 // 128 - 255
            ELSE (b0 % 128) * 2 + b1 // 128 END)
            OVER (PARTITION BY filename, c ORDER BY j) AS dc
          FROM craw),
        chroma AS (SELECT filename, j,
          MAX(CASE WHEN c = 0 THEN LEAST(255, GREATEST(0, CAST(round(128 + dc * q0 / 8.0, 0) AS INTEGER))) END) AS cb,
          MAX(CASE WHEN c = 1 THEN LEAST(255, GREATEST(0, CAST(round(128 + dc * q0 / 8.0, 0) AS INTEGER))) END) AS cr
          FROM cdc GROUP BY filename, j),
        rgb AS (SELECT y.filename, y.w, y.ht,
          LEAST(255, GREATEST(0, CAST(round(yv + 1.402 * (cr - 128), 0) AS INTEGER))) AS r,
          LEAST(255, GREATEST(0, CAST(round(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128), 0) AS INTEGER))) AS g,
          LEAST(255, GREATEST(0, CAST(round(yv + 1.772 * (cb - 128), 0) AS INTEGER))) AS bl
          FROM (SELECT filename, w, ht, j, blk,
              LEAST(255, GREATEST(0, CAST(round(128 + dc * q0 / 8.0, 0) AS INTEGER))) AS yv
            FROM ydc) y
          JOIN chroma ON y.filename = chroma.filename AND y.j = chroma.j)
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(w * ht AS BIGINT) AS n_px,
          round(CAST(64 * sum(r) AS DOUBLE) / (w * ht), 6) AS mean_r,
          round(CAST(64 * sum(g) AS DOUBLE) / (w * ht), 6) AS mean_g,
          round(CAST(64 * sum(bl) AS DOUBLE) / (w * ht), 6) AS mean_b
        FROM rgb GROUP BY filename, w, ht ORDER BY fname""")),

    // E12q — REAL 4:1:1 baseline JPEG decode (VERDICT r6 item 6 — the
    // one previously-rejected layout with non-negligible wild frequency:
    // old cameras and video frames): 32×8-pixel MCUs of 4 horizontal
    // luma blocks + Cb + Cr, chroma upsampled 4× horizontally by the
    // same per-axis index scaling. The fixture stream is byte-for-byte
    // the e12n layout (12 bytes/MCU), so the oracle is the e12n hex walk
    // with the 32×8 MCU count.
    "e12q_jpeg_411" -> QueryDef(
      (s, dir) => {
        val jDir = s"$scratch/jpg411_px"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(jDir))
        new java.io.File(jDir).listFiles().foreach(_.delete())
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$jDir/j5$i%02d.jpg"),
            graft.operators.Multimodal.makeJpeg411Pixels(
              wMcus = 1 + i, hMcus = 1 + (i % 2), q0 = 1 + (i % 3),
              seed = 15000 + i))
        }
        val sums = udf((b: Array[Byte]) =>
          graft.operators.Multimodal.jpegPixelStats(b).collect {
            case st if st.nComp == 3 => (st.sumR, st.sumG, st.sumB, st.nPx)
          })
        s.read.format("binaryFile").load(jDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            sums(col("content")).as("m"))
          .select(col("fname"),
            col("m._4").as("n_px"),
            round(col("m._1").cast("double") / col("m._4"), 6).as("mean_r"),
            round(col("m._2").cast("double") / col("m._4"), 6).as("mean_g"),
            round(col("m._3").cast("double") / col("m._4"), 6).as("mean_b"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/jpg411_px/*.jpg')),
        hdr AS (SELECT filename, H, ${duckBeU16(97)} AS w, ${duckBeU16(95)} AS ht,
          ${duckHexByte(26)} AS q0 FROM b),
        yraw AS (SELECT filename, w, ht, q0, j, blk,
          (strpos('123456789ABCDEF', substr(H, 2*(166 + 12*j + 2*blk) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(166 + 12*j + 2*blk) + 2, 1))) AS b0,
          (strpos('123456789ABCDEF', substr(H, 2*(167 + 12*j + 2*blk) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(167 + 12*j + 2*blk) + 2, 1))) AS b1
          FROM hdr,
            UNNEST(generate_series(0, (w // 32) * (ht // 8) - 1)) AS t(j),
            UNNEST(generate_series(0, 3)) AS u(blk)),
        ydc AS (SELECT filename, w, ht, q0, j, blk,
          SUM(CASE WHEN (b0 % 128) * 2 + b1 // 128 < 128
            THEN (b0 % 128) * 2 + b1 // 128 - 255
            ELSE (b0 % 128) * 2 + b1 // 128 END)
            OVER (PARTITION BY filename ORDER BY j * 4 + blk) AS dc
          FROM yraw),
        craw AS (SELECT filename, q0, j, c,
          (strpos('123456789ABCDEF', substr(H, 2*(174 + 12*j + 2*c) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(174 + 12*j + 2*c) + 2, 1))) AS b0,
          (strpos('123456789ABCDEF', substr(H, 2*(175 + 12*j + 2*c) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(175 + 12*j + 2*c) + 2, 1))) AS b1
          FROM hdr,
            UNNEST(generate_series(0, (w // 32) * (ht // 8) - 1)) AS t(j),
            UNNEST(generate_series(0, 1)) AS u(c)),
        cdc AS (SELECT filename, q0, j, c,
          SUM(CASE WHEN (b0 % 128) * 2 + b1 // 128 < 128
            THEN (b0 % 128) * 2 + b1 // 128 - 255
            ELSE (b0 % 128) * 2 + b1 // 128 END)
            OVER (PARTITION BY filename, c ORDER BY j) AS dc
          FROM craw),
        chroma AS (SELECT filename, j,
          MAX(CASE WHEN c = 0 THEN LEAST(255, GREATEST(0, CAST(round(128 + dc * q0 / 8.0, 0) AS INTEGER))) END) AS cb,
          MAX(CASE WHEN c = 1 THEN LEAST(255, GREATEST(0, CAST(round(128 + dc * q0 / 8.0, 0) AS INTEGER))) END) AS cr
          FROM cdc GROUP BY filename, j),
        rgb AS (SELECT y.filename, y.w, y.ht,
          LEAST(255, GREATEST(0, CAST(round(yv + 1.402 * (cr - 128), 0) AS INTEGER))) AS r,
          LEAST(255, GREATEST(0, CAST(round(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128), 0) AS INTEGER))) AS g,
          LEAST(255, GREATEST(0, CAST(round(yv + 1.772 * (cb - 128), 0) AS INTEGER))) AS bl
          FROM (SELECT filename, w, ht, j, blk,
              LEAST(255, GREATEST(0, CAST(round(128 + dc * q0 / 8.0, 0) AS INTEGER))) AS yv
            FROM ydc) y
          JOIN chroma ON y.filename = chroma.filename AND y.j = chroma.j)
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(w * ht AS BIGINT) AS n_px,
          round(CAST(64 * sum(r) AS DOUBLE) / (w * ht), 6) AS mean_r,
          round(CAST(64 * sum(g) AS DOUBLE) / (w * ht), 6) AS mean_g,
          round(CAST(64 * sum(bl) AS DOUBLE) / (w * ht), 6) AS mean_b
        FROM rgb GROUP BY filename, w, ht ORDER BY fname""")),

    // E12r — LOSSLESS JPEG (SOF3, T.81 Annex H) pixel decode: the
    // predictive no-DCT frame type DNG and medical archives carry — the
    // last member of the r8 missing-list's "exotic JPEG" family now
    // DECODED rather than rejected (arithmetic/hierarchical still reject
    // cleanly). The engine runs the general Annex H decoder (Huffman
    // category + EXTEND differences, 7 predictors, modulo-65536
    // reconstruction, precisions 2–16 — JpegLosslessSpec drives all of
    // it through an in-test encoder); the fixtures are single-row
    // predictor-1 streams whose lone "0000"→category-4 Huffman code
    // makes every sample exactly one byte-aligned byte, so the DuckDB
    // oracle hex-walks the SAME entropy bytes and chains the EXTENDed
    // low nibbles with a running sum (the e12l byte-aligned-DC
    // precedent, lossless edition).
    "e12r_jpeg_lossless" -> QueryDef(
      (s, dir) => {
        val jDir = s"$scratch/jpg_ll"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(jDir))
        new java.io.File(jDir).listFiles().foreach(_.delete())
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$jDir/jl$i%02d.jpg"),
            graft.operators.Multimodal.makeJpegLossless(
              nSamples = 16 + 6 * i, seed = 4300 + i))
        }
        val sums = udf((b: Array[Byte]) => graft.operators.Multimodal.jpegGraySums(b))
        s.read.format("binaryFile").load(jDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            sums(col("content")).as("m"))
          .select(col("fname"),
            col("m._2").as("n_px"),
            round(col("m._1").cast("double") / col("m._2"), 6).as("mean_lum"),
            col("m._3").as("min_lum"),
            col("m._4").as("max_lum"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/jpg_ll/*.jpg')),
        hdr AS (SELECT filename, H, ${duckBeU16(32)} AS n FROM b),
        nib AS (SELECT filename, n, j,
          (strpos('123456789ABCDEF', substr(H, 2*(47 + j) + 2, 1))) AS v
          FROM hdr, UNNEST(generate_series(0, n - 1)) AS t(j)),
        px AS (SELECT filename, n, j,
          128 + SUM(CASE WHEN v >= 8 THEN v ELSE v - 15 END)
            OVER (PARTITION BY filename ORDER BY j) AS p
          FROM nib)
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(n AS BIGINT) AS n_px,
          round(CAST(sum(p) AS DOUBLE) / n, 6) AS mean_lum,
          CAST(min(p) AS INTEGER) AS min_lum,
          CAST(max(p) AS INTEGER) AS max_lum
        FROM px GROUP BY filename, n ORDER BY fname""")),

    // E12t — MP4 SAMPLE TABLES + keyframe sampling (r10): upgrades the
    // e12e "walk is metadata-only" envelope to the full ISO 14496-12
    // sample-table machinery — the mechanics a video frame sampler
    // actually needs. Per track, every SYNC sample (stss; the only
    // frames decodable without inter-frame state) resolves to its
    // decode timestamp through the stts run-length table, its byte
    // size through stsz, its containing chunk through the stsc run
    // mapping (a partial last chunk by construction), and its ABSOLUTE
    // FILE OFFSET through stco + the within-chunk size prefix — the
    // seek positions frame extraction performs. The fixture writer
    // computes stco from the real mdat layout, and the oracle
    // re-derives every field — including the absolute offsets, which
    // encode the complete box layout arithmetic — from doc_id
    // construction; a parser that mis-walks ANY of the five tables
    // shifts a value and the row goes red. Scan-local, zero shuffle.
    "e12t_mp4_samples" -> QueryDef(
      (s, dir) => {
        val mDir = s"$scratch/mp4_st"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(mDir))
        new java.io.File(mDir).listFiles().foreach(_.delete())
        t(s, dir, "documents")
          .filter(col("text").isNotNull &&
            col("doc_id") >= 285 && col("doc_id") < 310)
          .select(col("doc_id")).collect().foreach { r =>
            val id = r.getLong(0)
            val n = 8 + (id % 5).toInt * 4
            java.nio.file.Files.write(
              java.nio.file.Paths.get(f"$mDir/m$id%04d.mp4"),
              graft.operators.Multimodal.makeMp4Tracks(
                trackId = 1, timescale = 1000 + (id % 4) * 500,
                run1 = (n / 2, 100 + id % 3), run2 = (n - n / 2, 200 + id % 5),
                sizes = (1 to n).map(i => 100L + (id * 7 + i * 13) % 50),
                spc1 = 3, chunks2From = 3, spc2 = 2))
          }
        val ex = udf((b: Array[Byte]) =>
          graft.operators.Multimodal.mp4SyncSamples(b).getOrElse(Seq.empty))
        s.read.format("binaryFile").load(mDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            explode(ex(col("content"))).as("x"))
          .select(col("fname"), col("x.track").as("track"),
            col("x.timescale").as("ts"), col("x.sample").as("sample"),
            col("x.dts").as("dts"), col("x.size").as("size"),
            col("x.chunk").as("chunk"), col("x.offset").as("offset"))
          .orderBy(col("fname"), col("sample"))
      },
      Some("""WITH d AS (SELECT doc_id,
            CAST(8 + (doc_id % 5) * 4 AS INTEGER) AS n,
            100 + doc_id % 3 AS d1, 200 + doc_id % 5 AS d2,
            1000 + (doc_id % 4) * 500 AS ts
          FROM documents WHERE text IS NOT NULL
            AND doc_id >= 285 AND doc_id < 310),
        -- box layout arithmetic (mirrors the writer): chunk count
        -- 2 + (n-6)/2, sync count (n+3)/4, mdat payload offset
        lay AS (SELECT *, 2 + (n - 6) // 2 AS nch, (n + 3) // 4 AS nsy
          FROM d),
        off AS (SELECT *, 349 + 4*n + 4*nch + 4*nsy AS mdat0 FROM lay),
        sm AS (SELECT doc_id, n, d1, d2, ts, mdat0, i,
            100 + (doc_id * 7 + i * 13) % 50 AS sz
          FROM off, UNNEST(generate_series(1, n)) AS t(i)),
        pos AS (SELECT *,
            SUM(sz) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pfx
          FROM sm)
        SELECT 'm' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || '.mp4' AS fname,
          CAST(1 AS BIGINT) AS track, CAST(ts AS BIGINT) AS ts,
          CAST(i AS INTEGER) AS sample,
          CAST(LEAST(i - 1, n // 2) * d1
            + GREATEST(i - 1 - n // 2, 0) * d2 AS BIGINT) AS dts,
          CAST(sz AS BIGINT) AS size,
          CAST(CASE WHEN i <= 6 THEN (i - 1) // 3 + 1
            ELSE 3 + (i - 7) // 2 END AS INTEGER) AS chunk,
          CAST(mdat0 + COALESCE(pfx, 0) AS BIGINT) AS offset
        FROM pos WHERE i % 4 = 1 ORDER BY fname, sample""")),

    // E12u — WAV SILENCE SEGMENTATION (r10): the VAD-style splitter a
    // speech-corpus pipeline runs before transcription — fixed windows
    // gated on mean |amplitude| with exact integer cross-multiplication
    // (no float at the boundary), consecutive speech windows merged
    // gaps-and-islands style. The fixture writes EXPLICIT sample values
    // (loud/quiet window blocks phase-shifted per doc, alternating
    // sign to exercise the s16 decode + |·|, a partial final window by
    // length construction), and the oracle rebuilds every sample from
    // the same arithmetic, re-applies the identical gate, and re-merges
    // with window-index islands — segment boundaries, counts and sums
    // all go red on a one-sample drift. Scan-local, zero shuffle.
    "e12u_wav_segments" -> QueryDef(
      (s, dir) => {
        val wDir = s"$scratch/wav_seg"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wDir))
        new java.io.File(wDir).listFiles().foreach(_.delete())
        t(s, dir, "documents")
          .filter(col("text").isNotNull &&
            col("doc_id") >= 310 && col("doc_id") < 335)
          .select(col("doc_id")).collect().foreach { r =>
            val id = r.getLong(0)
            val n = 1600 + (id % 4).toInt * 440
            val samples = (0 until n).map { i =>
              val w = i / 160
              val loud = ((w + id) / 3) % 2 == 0
              val a =
                if (loud) 1000 + (i * 37) % 100
                else (i * 13) % 50
              if (i % 2 == 1) -a else a
            }
            java.nio.file.Files.write(
              java.nio.file.Paths.get(f"$wDir/w$id%04d.wav"),
              graft.operators.Multimodal.makeWavSamples(16000, samples))
          }
        val ex = udf((b: Array[Byte]) =>
          graft.operators.Multimodal.wavSegments(b, 160, 500000L)
            .getOrElse(Seq.empty))
        s.read.format("binaryFile").load(wDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            explode(ex(col("content"))).as("x"))
          .select(col("fname"), col("x.seg").as("seg"),
            col("x.winFrom").as("win_from"), col("x.winTo").as("win_to"),
            col("x.nSamples").as("n_samples"), col("x.absSum").as("abs_sum"))
          .orderBy(col("fname"), col("seg"))
      },
      Some("""WITH d AS (SELECT doc_id,
            CAST(1600 + (doc_id % 4) * 440 AS INTEGER) AS n
          FROM documents WHERE text IS NOT NULL
            AND doc_id >= 310 AND doc_id < 335),
        sm AS (SELECT doc_id, i, i // 160 AS w,
            CASE WHEN ((i // 160 + doc_id) // 3) % 2 = 0
              THEN 1000 + (i * 37) % 100 ELSE (i * 13) % 50 END AS a
          FROM d, UNNEST(generate_series(0, n - 1)) AS t(i)),
        wn AS (SELECT doc_id, w, sum(a) AS ws, count(*) AS wc
          FROM sm GROUP BY doc_id, w),
        isl AS (SELECT doc_id, w, ws, wc,
            w - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w) AS grp
          FROM wn WHERE ws * 1000 > 500000 * wc),
        seg AS (SELECT doc_id, grp, min(w) AS win_from, max(w) AS win_to,
            sum(wc) AS n_samples, sum(ws) AS abs_sum
          FROM isl GROUP BY doc_id, grp)
        SELECT 'w' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || '.wav' AS fname,
          CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY win_from)
            AS INTEGER) AS seg,
          CAST(win_from AS INTEGER) AS win_from,
          CAST(win_to AS INTEGER) AS win_to,
          CAST(n_samples AS BIGINT) AS n_samples,
          CAST(abs_sum AS BIGINT) AS abs_sum
        FROM seg ORDER BY fname, seg""")),

    // E12w — MJPEG-in-MP4 KEYFRAME EXTRACTION (VERDICT r10 item 5): the
    // one video form decodable with in-repo machinery — e12t's sample-
    // table resolution composed with the real JPEG pixel decoder. Each
    // fixture mdat holds complete JPEGs as samples; every SYNC sample
    // (stss: 1, 5, 9, …) is sliced at its resolved absolute offset and
    // pixel-decoded. The oracle re-derives the offsets from the SAME
    // box-layout arithmetic as e12t (sizes now the deterministic JPEG
    // byte lengths, 158 + 2·blocks) and then runs the e12l DC-chain hex
    // walk AT those offsets — so a mis-resolved offset lands the walk in
    // the wrong bytes and every pixel statistic goes red, proving the
    // extraction seam end to end, not just each side alone. Scan-local,
    // zero shuffle, per-file parallel.
    "e12w_mp4_keyframes" -> QueryDef(
      (s, dir) => {
        val mDir = s"$scratch/mp4_mj"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(mDir))
        new java.io.File(mDir).listFiles().foreach(_.delete())
        t(s, dir, "documents")
          .filter(col("text").isNotNull &&
            col("doc_id") >= 440 && col("doc_id") < 465)
          .select(col("doc_id")).collect().foreach { r =>
            val id = r.getLong(0)
            val n = 8 + (id % 3).toInt * 4
            val wB = 2 + (id % 3).toInt
            val hB = 1 + (id % 2).toInt
            val q0 = 1 + (id % 3).toInt
            val jpegs = (1 to n).map(j =>
              graft.operators.Multimodal.makeJpegPixels(
                wB, hB, q0, seed = id * 100 + j))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(f"$mDir/v$id%04d.mp4"),
              graft.operators.Multimodal.makeMp4Media(
                trackId = 1, timescale = 1000,
                run1 = (n / 2, 100L), run2 = (n - n / 2, 200L),
                payloads = jpegs, spc1 = 3, chunks2From = 3, spc2 = 2))
          }
        val ex = udf { (b: Array[Byte]) =>
          graft.operators.Multimodal.mp4SyncSamples(b).getOrElse(Seq.empty)
            .flatMap { sm =>
              val frame = java.util.Arrays.copyOfRange(
                b, sm.offset.toInt, (sm.offset + sm.size).toInt)
              graft.operators.Multimodal.jpegGraySums(frame).map {
                case (sum, nPx, mn, mx) => (sm.sample, sm.offset, sum, nPx, mn, mx)
              }
            }
        }
        s.read.format("binaryFile").load(mDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            explode(ex(col("content"))).as("x"))
          .select(col("fname"), col("x._1").as("sample"),
            col("x._2").as("offset"),
            col("x._4").as("n_px"),
            round(col("x._3").cast("double") / col("x._4"), 6).as("mean_lum"),
            col("x._5").as("min_lum"), col("x._6").as("max_lum"))
          .orderBy(col("fname"), col("sample"))
      },
      Some("""WITH d AS (SELECT doc_id,
            CAST(8 + (doc_id % 3) * 4 AS INTEGER) AS n,
            CAST(2 + doc_id % 3 AS INTEGER) AS wb,
            CAST(1 + doc_id % 2 AS INTEGER) AS hb,
            CAST(1 + doc_id % 3 AS INTEGER) AS q0
          FROM documents WHERE text IS NOT NULL
            AND doc_id >= 440 AND doc_id < 465),
        -- box layout (the e12t arithmetic): uniform JPEG sample size
        -- 158 + 2*blocks; chunk count 2 + (n-6)//2; sync count (n+3)//4
        lay AS (SELECT *, wb * hb AS nblk, 158 + 2 * wb * hb AS sz,
            2 + (n - 6) // 2 AS nch, (n + 3) // 4 AS nsy
          FROM d),
        off AS (SELECT *, 349 + 4*n + 4*nch + 4*nsy AS mdat0 FROM lay),
        sy AS (SELECT doc_id, n, wb, hb, q0, nblk, sz,
            mdat0 + (i - 1) * sz AS aoff, i
          FROM off, UNNEST(generate_series(1, n)) AS t(i)
          WHERE i % 4 = 1),
        b AS (SELECT filename, hex(content) AS H
          FROM read_blob('""" + s"$scratch/mp4_mj" + """/*.mp4')),
        j AS (SELECT s.*, b.H
          FROM sy s JOIN b
            ON regexp_extract(b.filename, '([^/]+)$', 1)
             = 'v' || lpad(CAST(s.doc_id AS VARCHAR), 4, '0') || '.mp4'),
        blk AS (SELECT doc_id, i, aoff, nblk, q0, wb, hb, k,
          (strpos('123456789ABCDEF', substr(H, 2*(aoff + 156 + 2*k) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(aoff + 156 + 2*k) + 2, 1))) AS b0,
          (strpos('123456789ABCDEF', substr(H, 2*(aoff + 157 + 2*k) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(aoff + 157 + 2*k) + 2, 1))) AS b1
          FROM j, UNNEST(generate_series(0, nblk - 1)) AS t(k)),
        dcs AS (SELECT doc_id, i, aoff, nblk, q0, wb, hb, k,
          SUM(CASE WHEN (b0 % 128) * 2 + b1 // 128 < 128
            THEN (b0 % 128) * 2 + b1 // 128 - 255
            ELSE (b0 % 128) * 2 + b1 // 128 END)
            OVER (PARTITION BY doc_id, i ORDER BY k) AS dc
          FROM blk),
        vals AS (SELECT doc_id, i, aoff, nblk, wb, hb,
          LEAST(255, GREATEST(0, CAST(round(128 + dc * q0 / 8.0, 0) AS INTEGER))) AS v
          FROM dcs)
        SELECT 'v' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || '.mp4' AS fname,
          CAST(i AS INTEGER) AS sample,
          CAST(aoff AS BIGINT) AS offset,
          CAST(64 * nblk AS BIGINT) AS n_px,
          round(CAST(sum(v) AS DOUBLE) / nblk, 6) AS mean_lum,
          CAST(min(v) AS INTEGER) AS min_lum,
          CAST(max(v) AS INTEGER) AS max_lum
        FROM vals GROUP BY doc_id, i, aoff, nblk, wb, hb
        ORDER BY fname, sample""")),

    // E12x — VP8-in-WebM KEYFRAME EXTRACTION (r15, the e12w-MJPEG
    // precedent carried to the REAL web-video pairing): each fixture
    // WebM holds committed reference-encoded VP8 key frames on a V_VP8
    // track, interleaved with an audio track's blocks and NON-key junk
    // video blocks — the extractor must keep exactly the video-track
    // keyframes by container rules, and every kept payload is pixel-
    // decoded by operators.Vp8. The oracle is structurally independent:
    // it re-derives the member rotation in SQL and joins the committed
    // REFERENCE-derived stats parquet (e113b's fixture) by sorted-name
    // rank, so a mis-filtered block, a broken rotation, or a single
    // wrong decoded pixel statistic goes red. Scan-local, zero shuffle.
    "e12x_webm_vp8" -> QueryDef(
      (s, dir) => {
        val mDir = writeWebmVp8Fixture(s, dir, "webm_vp8")
        webmVp8Project(s.read.format("binaryFile").load(mDir))
          .orderBy(col("fname"), col("frame"))
      },
      Some(webmVp8OracleSql)),

    // E12v — EXIF metadata decode (r10): the APP1 TIFF walk a curation
    // pipeline needs for the rotate-before-train orientation signal and
    // capture metadata. BOTH byte orders rotate through the fixture
    // (II/MM by doc_id parity — the single most common EXIF-parser
    // bug), Make/DateTime live in the data area behind offset entries,
    // Orientation is a left-justified inline SHORT, and the pixel
    // dimensions resolve through the 0x8769 Exif sub-IFD pointer. The
    // oracle re-derives every field from doc_id construction; the
    // parser reads the real TIFF bytes, so any endian/offset/IFD-walk
    // bug shifts a value and goes red. Scan-local, zero shuffle.
    "e12v_jpeg_exif" -> QueryDef(
      (s, dir) => {
        val jDir = s"$scratch/jpg_exif"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(jDir))
        new java.io.File(jDir).listFiles().foreach(_.delete())
        t(s, dir, "documents")
          .filter(col("text").isNotNull &&
            col("doc_id") >= 335 && col("doc_id") < 360)
          .select(col("doc_id")).collect().foreach { r =>
            val id = r.getLong(0)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(f"$jDir/x$id%04d.jpg"),
              graft.operators.Multimodal.withExif(
                graft.operators.Multimodal.makeJpegPixels(2, 1, 1, 15000 + id),
                bigEndian = id % 2 == 1,
                orientation = 1 + (id % 8).toInt,
                make = s"Cam${id % 5}",
                dateTime = f"2026:${1 + id % 12}%02d:${1 + id % 28}%02d 10:30:00",
                pixelW = 640 + (id % 4) * 160,
                pixelH = 360 + (id % 3) * 120))
          }
        val ex = udf((b: Array[Byte]) => graft.operators.Multimodal.jpegExif(b))
        s.read.format("binaryFile").load(jDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            ex(col("content")).as("e"))
          .filter(col("e").isNotNull)
          .select(col("fname"), col("e.endian").as("endian"),
            col("e.orientation").as("orientation"), col("e.make").as("make"),
            col("e.dateTime").as("dt"),
            col("e.pixelW").as("px_w"), col("e.pixelH").as("px_h"))
          .orderBy(col("fname"))
      },
      Some("""SELECT 'x' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || '.jpg' AS fname,
          CASE WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS endian,
          CAST(1 + doc_id % 8 AS INTEGER) AS orientation,
          'Cam' || CAST(doc_id % 5 AS VARCHAR) AS make,
          '2026:' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') || ':'
            || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
            || ' 10:30:00' AS dt,
          CAST(640 + (doc_id % 4) * 160 AS BIGINT) AS px_w,
          CAST(360 + (doc_id % 3) * 120 AS BIGINT) AS px_h
        FROM documents WHERE text IS NOT NULL
          AND doc_id >= 335 AND doc_id < 360 ORDER BY fname""")),

    // E12o — restart-interval JPEG decode (DRI + cyclic RSTn): virtually
    // every camera/libjpeg stream carries restarts for error resilience,
    // and they change decode semantics (byte realignment + DC predictor
    // resets). The byte-aligned fixtures keep RST markers at computable
    // offsets — block j's bytes at 162 + 2j + 2*floor(j/dri) — so the
    // oracle partitions each DC chain by restart group instead of
    // running it over the whole scan.
    "e12o_jpeg_restart" -> QueryDef(
      (s, dir) => {
        val jDir = s"$scratch/jpgr_px"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(jDir))
        new java.io.File(jDir).listFiles().foreach(_.delete())
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$jDir/jr$i%02d.jpg"),
            graft.operators.Multimodal.makeJpegRestartPixels(
              wBlocks = 3 + i, hBlocks = 1 + (i % 2), q0 = 1 + (i % 3),
              dri = 2 + (i % 3), seed = 15000 + i))
        }
        val sums = udf((b: Array[Byte]) => graft.operators.Multimodal.jpegGraySums(b))
        s.read.format("binaryFile").load(jDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            sums(col("content")).as("m"))
          .select(col("fname"),
            col("m._2").as("n_px"),
            round(col("m._1").cast("double") / col("m._2"), 6).as("mean_lum"),
            col("m._3").as("min_lum"),
            col("m._4").as("max_lum"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/jpgr_px/*.jpg')),
        hdr AS (SELECT filename, H, ${duckBeU16(97)} AS w, ${duckBeU16(95)} AS ht,
          ${duckHexByte(26)} AS q0, ${duckBeU16(151)} AS dri FROM b),
        blk AS (SELECT filename, w, ht, q0, dri, j,
          (strpos('123456789ABCDEF', substr(H, 2*(162 + 2*j + 2*(j // dri)) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(162 + 2*j + 2*(j // dri)) + 2, 1))) AS b0,
          (strpos('123456789ABCDEF', substr(H, 2*(163 + 2*j + 2*(j // dri)) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(163 + 2*j + 2*(j // dri)) + 2, 1))) AS b1
          FROM hdr, UNNEST(generate_series(0, (w // 8) * (ht // 8) - 1)) AS t(j)),
        dcs AS (SELECT filename, w, ht, q0, j,
          SUM(CASE WHEN (b0 % 128) * 2 + b1 // 128 < 128
            THEN (b0 % 128) * 2 + b1 // 128 - 255
            ELSE (b0 % 128) * 2 + b1 // 128 END)
            OVER (PARTITION BY filename, j // dri ORDER BY j) AS dc
          FROM blk),
        vals AS (SELECT filename, w, ht,
          LEAST(255, GREATEST(0, CAST(round(128 + dc * q0 / 8.0, 0) AS INTEGER))) AS v
          FROM dcs)
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(w * ht AS BIGINT) AS n_px,
          round(CAST(64 * sum(v) AS DOUBLE) / (w * ht), 6) AS mean_lum,
          CAST(min(v) AS INTEGER) AS min_lum,
          CAST(max(v) AS INTEGER) AS max_lum
        FROM vals GROUP BY filename, w, ht ORDER BY fname""")),

    // E12p — PROGRESSIVE JPEG decode (SOF2, successive approximation):
    // the fixture carries two DC scans — category-8 diffs at Al=1, then
    // the Ah=1→Al=0 refinement as one raw bit per block — both
    // byte-aligned and stuffing-free, so the oracle hex-walks the same
    // entropy bytes: scan-1 diff bits at 135+2j, scan-2 bit j at bit
    // (7−j%8) of byte 144+2·blocks+⌊j/8⌋, dc = 2·sv + bit. The general
    // progressive path (AC bands, EOB runs, refinement correction bits)
    // is driven by JpegProgressiveSpec's in-test encoder against an
    // independent direct IDCT.
    "e12p_jpeg_progressive" -> QueryDef(
      (s, dir) => {
        val jDir = s"$scratch/jpgp_px"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(jDir))
        new java.io.File(jDir).listFiles().foreach(_.delete())
        (0 until 5).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$jDir/jp$i%02d.jpg"),
            graft.operators.Multimodal.makeJpegProgressivePixels(
              wBlocks = 3 + i, hBlocks = 1 + (i % 2), q0 = 1 + (i % 3),
              seed = 17000 + i))
        }
        val sums = udf((b: Array[Byte]) => graft.operators.Multimodal.jpegGraySums(b))
        s.read.format("binaryFile").load(jDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            sums(col("content")).as("m"))
          .select(col("fname"),
            col("m._2").as("n_px"),
            round(col("m._1").cast("double") / col("m._2"), 6).as("mean_lum"),
            col("m._3").as("min_lum"),
            col("m._4").as("max_lum"))
          .orderBy(col("fname"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/jpgp_px/*.jpg')),
        hdr AS (SELECT filename, H, ${duckBeU16(97)} AS w, ${duckBeU16(95)} AS ht,
          ${duckHexByte(26)} AS q0, (${duckBeU16(97)} // 8) * (${duckBeU16(95)} // 8) AS nb
          FROM b),
        blk AS (SELECT filename, w, ht, q0, nb, j,
          (strpos('123456789ABCDEF', substr(H, 2*(135 + 2*j) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(135 + 2*j) + 2, 1))) AS b1,
          (strpos('123456789ABCDEF', substr(H, 2*(144 + 2*nb + j // 8) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(144 + 2*nb + j // 8) + 2, 1))) AS rb
          FROM hdr, UNNEST(generate_series(0, nb - 1)) AS t(j)),
        dcs AS (SELECT filename, w, ht, q0, j,
          2 * SUM(CASE WHEN b1 < 128 THEN b1 - 255 ELSE b1 END)
            OVER (PARTITION BY filename ORDER BY j)
          + ((rb // (1 << (7 - (j % 8)))) % 2) AS dc
          FROM blk),
        vals AS (SELECT filename, w, ht,
          LEAST(255, GREATEST(0, CAST(round(128 + dc * q0 / 8.0, 0) AS INTEGER))) AS v
          FROM dcs)
        SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
          CAST(w * ht AS BIGINT) AS n_px,
          round(CAST(64 * sum(v) AS DOUBLE) / (w * ht), 6) AS mean_lum,
          CAST(min(v) AS INTEGER) AS min_lum,
          CAST(max(v) AS INTEGER) AS max_lum
        FROM vals GROUP BY filename, w, ht ORDER BY fname""")),

    // E28 — product quantization + ADC search (operators.ProductQuantizer):
    // the embedding-compression half of the large-scale ANN stack — 8-byte
    // packed codes at rest instead of 256-byte vectors, scored by m table
    // lookups per candidate without ever re-reading the vector column.
    // The ORACLE IS FULLY INDEPENDENT: DuckDB re-derives the codebook from
    // the raw parquet (same engine-neutral md5 spread-sample rule as e16),
    // recomputes every code (same first-minimum tie-break via ORDER BY
    // dist, idx), and folds the ADC sum over an ORDERED list — all
    // distance arithmetic runs the identical left-to-right fold, so the
    // top-10 hash-matches bit-for-bit. A shared-bug channel would require
    // the two engines to mis-derive the same codebook from the same rule
    // independently.
    "e28_pq_adc" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cb = graft.operators.ProductQuantizer.codebook(emb, "vec_id", "embedding", m = 8, k = 16)
        val q: Array[Float] = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).collect().head.getSeq[Float](0).toArray
        val encoded = graft.operators.ProductQuantizer.encode(emb, "embedding", cb)
        graft.operators.ProductQuantizer.adcSearch(encoded, "vec_id", q, cb, topK = 10)
      },
      Some("""WITH samp AS (SELECT vec_id, embedding FROM embeddings
          ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR) LIMIT 16),
        cb AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)) - 1 AS c,
          embedding FROM samp),
        js AS (SELECT unnest(generate_series(0, 7)) AS j),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        dist AS (SELECT e.vec_id, js.j, cb.c,
            list_sum(list_transform(list_zip(e.embedding[js.j*8+1 : js.j*8+8], cb.embedding[js.j*8+1 : js.j*8+8]),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
          FROM embeddings e, js, cb),
        codes AS (SELECT vec_id, j, c FROM (
            SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
            FROM dist) rr
          WHERE rn = 1),
        qdist AS (SELECT js.j, cb.c,
            list_sum(list_transform(list_zip(q.qv[js.j*8+1 : js.j*8+8], cb.embedding[js.j*8+1 : js.j*8+8]),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
          FROM q, js, cb),
        adc AS (SELECT codes.vec_id, list_sum(list(qdist.d2 ORDER BY codes.j)) AS adc_dist
          FROM codes JOIN qdist ON codes.j = qdist.j AND codes.c = qdist.c
          GROUP BY codes.vec_id)
        SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10""")),

    // E28b — IVF+PQ composed (the production ANN shape: coarse bucket
    // partition prunes candidates, 8-byte PQ codes score them): bucket
    // assignment and PQ encoding coexist on the scan, the probe filter is
    // an ordinary pushable IN over the partition column, and scoring is
    // e28's ADC. At FULL probe the bucket filter passes every row, making
    // the result PROVABLY identical to plain ADC — which is what lets the
    // composed pipeline share e28's independent oracle (the e_ann_ivf
    // full-probe ≡ brute-force precedent); partial-probe recall is
    // PqSpec's clustered-fixture property.
    "e28b_ivfpq" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val k = 8
        val cs = graft.operators.IvfAnn.centroids(emb, "vec_id", "embedding", k)
        val cb = graft.operators.ProductQuantizer.codebook(emb, "vec_id", "embedding", m = 8, k = 16)
        val q: Array[Float] = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).collect().head.getSeq[Float](0).toArray
        val indexed = graft.operators.IvfAnn.assign(emb, "embedding", cs)
        val encoded = graft.operators.ProductQuantizer.encode(indexed, "embedding", cb)
        val probes = graft.operators.IvfAnn.probeOrder(q, cs).take(k).map(_.toLong)
        graft.operators.ProductQuantizer.adcSearch(
          encoded.filter(col("__ivf_bucket").isin(probes.toIndexedSeq: _*)),
          "vec_id", q, cb, topK = 10)
      },
      Some("""WITH samp AS (SELECT vec_id, embedding FROM embeddings
          ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR) LIMIT 16),
        cb AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)) - 1 AS c,
          embedding FROM samp),
        js AS (SELECT unnest(generate_series(0, 7)) AS j),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        dist AS (SELECT e.vec_id, js.j, cb.c,
            list_sum(list_transform(list_zip(e.embedding[js.j*8+1 : js.j*8+8], cb.embedding[js.j*8+1 : js.j*8+8]),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
          FROM embeddings e, js, cb),
        codes AS (SELECT vec_id, j, c FROM (
            SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
            FROM dist) rr
          WHERE rn = 1),
        qdist AS (SELECT js.j, cb.c,
            list_sum(list_transform(list_zip(q.qv[js.j*8+1 : js.j*8+8], cb.embedding[js.j*8+1 : js.j*8+8]),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
          FROM q, js, cb),
        adc AS (SELECT codes.vec_id, list_sum(list(qdist.d2 ORDER BY codes.j)) AS adc_dist
          FROM codes JOIN qdist ON codes.j = qdist.j AND codes.c = qdist.c
          GROUP BY codes.vec_id)
        SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10""")),

    // E28c — ADC shortlist + exact cosine re-rank (the production PQ
    // config; see ProductQuantizer.adcSearchRerank). The 8-byte-code scan
    // orders a 50-candidate shortlist, exact cosine re-ranks ONLY those 50
    // vectors (broadcast id join — the corpus vector column is read just
    // for shortlist rows). Oracle re-derives codebook → codes → ADC
    // shortlist → exact-cosine re-rank independently; the cosine fold is
    // e03's bit-exact duckCosine twin.
    "e28c_pq_rerank" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cb = graft.operators.ProductQuantizer.codebook(emb, "vec_id", "embedding", m = 8, k = 16)
        val q: Array[Float] = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).collect().head.getSeq[Float](0).toArray
        val encoded = graft.operators.ProductQuantizer.encode(emb, "embedding", cb)
        graft.operators.ProductQuantizer.adcSearchRerank(
          encoded, "vec_id", "embedding", q, cb, shortlist = 50, topK = 10)
      },
      Some(s"""WITH samp AS (SELECT vec_id, embedding FROM embeddings
          ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR) LIMIT 16),
        cb AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)) - 1 AS c,
          embedding FROM samp),
        js AS (SELECT unnest(generate_series(0, 7)) AS j),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        dist AS (SELECT e.vec_id, js.j, cb.c,
            list_sum(list_transform(list_zip(e.embedding[js.j*8+1 : js.j*8+8], cb.embedding[js.j*8+1 : js.j*8+8]),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
          FROM embeddings e, js, cb),
        codes AS (SELECT vec_id, j, c FROM (
            SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
            FROM dist) rr
          WHERE rn = 1),
        qdist AS (SELECT js.j, cb.c,
            list_sum(list_transform(list_zip(q.qv[js.j*8+1 : js.j*8+8], cb.embedding[js.j*8+1 : js.j*8+8]),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
          FROM q, js, cb),
        adc AS (SELECT codes.vec_id, list_sum(list(qdist.d2 ORDER BY codes.j)) AS adc_dist
          FROM codes JOIN qdist ON codes.j = qdist.j AND codes.c = qdist.c
          GROUP BY codes.vec_id),
        short AS (SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT 50)
        SELECT e.vec_id, ${duckCosine("e.embedding", "q.qv")} AS sim
        FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q
        ORDER BY sim DESC, vec_id LIMIT 10""")),

    // E28d — driver-gated ANN RECALL row (VERDICT r6 item 4): the
    // production partial-probe configurations must hold recall@10 ≥ 0.9
    // while scanning ≤ 25% of the corpus — asserted on the committed
    // 50-cluster fixture corpus (graft.ClusteredFixture — the shape real
    // embedding spaces have; NOTES_r6's report-only recall table, promoted
    // to a correctness gate). 10 query vectors (one per 5th cluster) run
    // BOTH paths — IVF partial probe (nprobe=2/16) and IVF+PQ+rerank
    // (8-byte codes -> ADC shortlist 100 -> exact re-rank) — through the
    // real operators; ground truth is exact cosine top-10 over the full
    // corpus. Output: one row per config with total/min hits, the worst
    // candidate count, and the two gate booleans (integer arithmetic
    // only — recall_ok = total_hits ≥ 9·n_queries·10/10, cand_ok =
    // 4·max_cand ≤ corpus−1). The oracle re-derives EVERYTHING — sample
    // centroids, bucket argmax, probe ranking, PQ codes, ADC, shortlist,
    // re-rank, truth — independently from the same parquet, so a probe-
    // selection or re-rank regression flips a value and the row goes red.
    // Centroids use the md5 spread-sample rule (the PQ codebook/e16
    // precedent) rather than IvfAnn.centroids' xxhash64 rule, which
    // DuckDB cannot re-derive; IvfAnn.assign/search consume any centroid
    // array and still run their real cluster-side code paths.
    "e28d_ann_recall" -> QueryDef(
      (s, dir) => {
        val corpus = s.read.parquet(graft.ClusteredFixture.path)
        val k = 16
        val nprobe = 2
        val qids = (0 until 10).map(c => c * 5L * 40L)
        val cs: Array[Array[Float]] = corpus
          .select(col("vec_id").cast("string").as("id"), col("embedding"))
          .orderBy(md5(col("id").cast("binary")), col("id"))
          .limit(k).collect().map(_.getSeq[Float](1).toArray)
        val cb = graft.operators.ProductQuantizer
          .codebook(corpus, "vec_id", "embedding", m = 8, k = 16)
        val qvs: Map[Long, Array[Float]] = corpus
          .filter(col("vec_id").isin(qids: _*))
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
        val indexed = graft.operators.IvfAnn.assign(corpus, "embedding", cs)
        // r18 optimization (guide §3.3: very wide unions — materialize an
        // intermediate to truncate the plan): the 40-branch union below
        // re-derived the IVF assignment + PQ encode of the corpus inside
        // EVERY branch; checkpoint the encoded index once. Measured
        // 6.97 -> 2.29 s (Lab, equality-checked; src/main/scala/graft/
        // Lab.scala at commit 94bd873). This is the index-build
        // step a production ANN deployment materializes anyway.
        val encoded = graft.operators.ProductQuantizer
          .encode(indexed, "embedding", cb).localCheckpoint()
        val rows = qids.flatMap { qid =>
          val q = qvs(qid)
          val probes = graft.operators.IvfAnn.probeOrder(q, cs)
            .take(nprobe).map(_.toLong)
          val rest = encoded.filter(col("vec_id") =!= qid)
          val cand = rest.filter(col("__ivf_bucket").isin(probes.toIndexedSeq: _*))
          val truth = rest
            .select(col("vec_id"),
              call_function("cosine_sim", col("embedding"), typedlit(q.toSeq)).as("sim"))
            .orderBy(col("sim").desc, col("vec_id")).limit(10)
            .select(col("vec_id"))
          val ivf10 = graft.operators.IvfAnn
            .search(rest, "vec_id", "embedding", cs, q, topK = 10, nprobe = nprobe)
            .select(col("vec_id"))
          val pq10 = graft.operators.ProductQuantizer
            .adcSearchRerank(cand, "vec_id", "embedding", q, cb,
              shortlist = 100, topK = 10)
            .select(col("vec_id"))
          val nCand = cand.agg(count(lit(1)).as("n_cand"))
          Seq(("ivf", ivf10), ("ivf_pq_rerank", pq10)).map { case (config, ann) =>
            ann.join(truth, "vec_id").agg(count(lit(1)).as("n_hits"))
              .crossJoin(broadcast(nCand))
              .select(lit(config).as("config"), lit(qid).as("qid"),
                col("n_hits"), col("n_cand"))
          }
        }
        rows.reduce(_ unionAll _)
          .groupBy(col("config"))
          .agg(count(lit(1)).as("n_queries"),
            sum(col("n_hits")).as("total_hits"),
            min(col("n_hits")).as("min_hits"),
            max(col("n_cand")).as("max_cand"))
          .withColumn("recall_ok", col("total_hits") >= lit(90L))
          .withColumn("cand_ok", col("max_cand") * 4 <= lit(1999L))
          .orderBy(col("config"))
      },
      Some(s"""WITH corpus AS (SELECT vec_id, embedding
          FROM read_parquet('${graft.ClusteredFixture.path}')),
        cent AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)) - 1 AS c,
            embedding AS ce
          FROM (SELECT vec_id, embedding FROM corpus
            ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR) LIMIT 16)),
        qs AS (SELECT unnest([0, 200, 400, 600, 800, 1000, 1200, 1400, 1600, 1800]) AS qid),
        qv AS (SELECT qid, embedding AS q FROM corpus JOIN qs ON vec_id = qid),
        asg AS (SELECT vec_id, c AS bucket FROM (
            SELECT e.vec_id, cent.c,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${duckCosine("e.embedding", "cent.ce")} DESC, cent.c) AS rn
            FROM corpus e, cent) t WHERE rn = 1),
        probe AS (SELECT qid, c FROM (
            SELECT qv.qid, cent.c,
              row_number() OVER (PARTITION BY qv.qid
                ORDER BY ${duckCosine("qv.q", "cent.ce")} DESC, cent.c) AS rn
            FROM qv, cent) t WHERE rn <= 2),
        cand AS (SELECT p.qid, e.vec_id, e.embedding
          FROM corpus e JOIN asg ON e.vec_id = asg.vec_id
          JOIN probe p ON asg.bucket = p.c
          WHERE e.vec_id != p.qid),
        truth AS (SELECT qid, vec_id FROM (
            SELECT qv.qid, e.vec_id,
              row_number() OVER (PARTITION BY qv.qid
                ORDER BY ${duckCosine("e.embedding", "qv.q")} DESC, e.vec_id) AS rn
            FROM corpus e, qv WHERE e.vec_id != qv.qid) t WHERE rn <= 10),
        ivf AS (SELECT qid, vec_id FROM (
            SELECT cand.qid, cand.vec_id,
              row_number() OVER (PARTITION BY cand.qid
                ORDER BY ${duckCosine("cand.embedding", "qv.q")} DESC, cand.vec_id) AS rn
            FROM cand JOIN qv ON cand.qid = qv.qid) t WHERE rn <= 10),
        js AS (SELECT unnest(generate_series(0, 7)) AS j),
        dist AS (SELECT e.vec_id, js.j, cent.c,
            list_sum(list_transform(list_zip(e.embedding[js.j*8+1 : js.j*8+8], cent.ce[js.j*8+1 : js.j*8+8]),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
          FROM corpus e, js, cent),
        codes AS (SELECT vec_id, j, c FROM (
            SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
            FROM dist) rr WHERE rn = 1),
        qdist AS (SELECT qv.qid, js.j, cent.c,
            list_sum(list_transform(list_zip(qv.q[js.j*8+1 : js.j*8+8], cent.ce[js.j*8+1 : js.j*8+8]),
              p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
          FROM qv, js, cent),
        adc AS (SELECT cand.qid, cand.vec_id,
            list_sum(list(qdist.d2 ORDER BY codes.j)) AS adc_dist
          FROM cand JOIN codes ON cand.vec_id = codes.vec_id
          JOIN qdist ON qdist.qid = cand.qid AND qdist.j = codes.j AND qdist.c = codes.c
          GROUP BY cand.qid, cand.vec_id),
        short AS (SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rn
            FROM adc) t WHERE rn <= 100),
        pq AS (SELECT qid, vec_id FROM (
            SELECT sh.qid, sh.vec_id,
              row_number() OVER (PARTITION BY sh.qid
                ORDER BY ${duckCosine("e.embedding", "qv.q")} DESC, sh.vec_id) AS rn
            FROM short sh JOIN corpus e ON sh.vec_id = e.vec_id
            JOIN qv ON sh.qid = qv.qid) t WHERE rn <= 10),
        hits AS (
          SELECT 'ivf' AS config, qs.qid, coalesce(h.n, 0) AS n_hits
          FROM qs LEFT JOIN (SELECT i.qid, count(*) AS n FROM ivf i
            JOIN truth t ON i.qid = t.qid AND i.vec_id = t.vec_id GROUP BY i.qid) h
            ON qs.qid = h.qid
          UNION ALL
          SELECT 'ivf_pq_rerank', qs.qid, coalesce(h.n, 0)
          FROM qs LEFT JOIN (SELECT p.qid, count(*) AS n FROM pq p
            JOIN truth t ON p.qid = t.qid AND p.vec_id = t.vec_id GROUP BY p.qid) h
            ON qs.qid = h.qid),
        cands AS (SELECT qid, count(*) AS n_cand FROM cand GROUP BY qid)
        SELECT config, CAST(count(*) AS BIGINT) AS n_queries,
          CAST(sum(n_hits) AS BIGINT) AS total_hits,
          CAST(min(n_hits) AS BIGINT) AS min_hits,
          CAST(max(n_cand) AS BIGINT) AS max_cand,
          sum(n_hits) >= 90 AS recall_ok,
          max(n_cand) * 4 <= 1999 AS cand_ok
        FROM hits JOIN cands USING (qid)
        GROUP BY config ORDER BY config""")),

    // E39 — SemDeDup semantic dedup (operators.SemDedup; Abbas et al.
    // arXiv:2303.09540): coarse-cluster the embedding corpus (the e28d
    // md5 spread-sample centroids, for cross-engine derivability), then
    // within each bucket drop every vector with a smaller-id mate at
    // cosine >= tau, partner = the smallest such id. Runs on the
    // committed clustered corpus (the production-shaped case — on the
    // structureless sf embeddings nothing clears tau; same honesty note
    // as the ANN block). The oracle re-derives centroids, argmax
    // assignment, within-bucket pairs, and the per-vector verdict from
    // the same parquet — assignment AND pair logic check against an
    // independent implementation. Per-vector rows (2000) make the hash
    // sensitive to any single verdict flip.
    "e39_semdedup" -> QueryDef(
      (s, dir) => {
        val corpus = s.read.parquet(graft.ClusteredFixture.path)
        val cs: Array[Array[Float]] = corpus
          .select(col("vec_id").cast("string").as("id"), col("embedding"))
          .orderBy(md5(col("id").cast("binary")), col("id"))
          .limit(16).collect().map(_.getSeq[Float](1).toArray)
        graft.operators.SemDedup
          .verdicts(corpus, "vec_id", "embedding", cs, tau = 0.9975)
          .withColumnRenamed("id", "vec_id")
          .orderBy("vec_id")
      },
      Some(s"""WITH corpus AS (SELECT vec_id, embedding
          FROM read_parquet('${graft.ClusteredFixture.path}')),
        cent AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)) - 1 AS c,
            embedding AS ce
          FROM (SELECT vec_id, embedding FROM corpus
            ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR) LIMIT 16)),
        asg AS (SELECT vec_id, embedding, c AS bucket FROM (
            SELECT e.vec_id, e.embedding, cent.c,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${duckCosine("e.embedding", "cent.ce")} DESC, cent.c) AS rn
            FROM corpus e, cent) t WHERE rn = 1),
        pairs AS (SELECT b.vec_id AS n, a.vec_id AS p,
            ${duckCosine("a.embedding", "b.embedding")} AS sim
          FROM asg a JOIN asg b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        best AS (SELECT n, p AS partner, sim FROM (
            SELECT n, p, sim, row_number() OVER (PARTITION BY n ORDER BY p) AS rn
            FROM pairs WHERE sim >= 0.9975) t WHERE rn = 1)
        SELECT a.vec_id, a.bucket,
          CASE WHEN best.partner IS NOT NULL THEN 'dropped' ELSE 'kept' END AS status,
          best.partner, best.sim
        FROM asg a LEFT JOIN best ON a.vec_id = best.n
        ORDER BY a.vec_id""")),

    // E29 — image near-dup: 64-bit average-hash over DECODED pixels
    // (operators/Multimodal.imageAHash64 — integer cross-multiplied
    // thresholds, so the oracle reproduces it exactly), pairs via the
    // banded hamming join (operators/ImageNearDup — pigeonhole-lossless
    // for hamming <= 3, never all-pairs). Fixtures are BMPs (raw pixels
    // hex-walkable); ImageHashSpec covers the PNG/GIF/JPEG hash paths and
    // proves band completeness against brute force. The oracle computes
    // the same 8x8 cell bits per image and brute-forces pair distances —
    // structurally independent of the engine's banding.
    "e29_image_neardup" -> QueryDef(
      (s, dir) => {
        val imgDir = s"$scratch/img_dup"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(imgDir))
        new java.io.File(imgDir).listFiles().foreach(_.delete())
        def write(name: String, bytes: Array[Byte]): Unit =
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$imgDir/$name"), bytes)
        (0 until 8).foreach { i =>
          val w = 16 + 8 * (i % 3)
          val base = graft.operators.Multimodal.makeBmp(w, 16, seed = 26000 + i)
          write(f"base$i%02d.bmp", base)
          // near-duplicate: +2 brightness on three pixels (same dims)
          val dup = base.clone()
          val rowBytes = (w * 3 + 3) / 4 * 4
          Seq((2, 3), (9, 7), (13, 11)).foreach { case (x, y) =>
            val o = 54 + y * rowBytes + 3 * x
            dup(o) = (math.min(253, dup(o) & 0xff) + 2).toByte
          }
          write(f"dup$i%02d.bmp", dup)
        }
        // a byte-identical copy -> a guaranteed hamming-0 pair
        write("copy00.bmp", graft.operators.Multimodal.makeBmp(16, 16, seed = 26000))
        (0 until 8).foreach { i =>
          write(f"rand$i%02d.bmp",
            graft.operators.Multimodal.makeBmp(16, 16, seed = 27000 + i))
        }
        val ah = udf((bytes: Array[Byte]) =>
          graft.operators.Multimodal.imageAHash64(bytes))
        val hashes = s.read.format("binaryFile").load(imgDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            ah(col("content")).as("h"))
          .filter(col("h").isNotNull)
        graft.operators.ImageNearDup.pairs(hashes, "fname", "h", maxDist = 3)
          .select(col("id1").as("f1"), col("id2").as("f2"), col("hamming"))
          .orderBy(col("f1"), col("f2"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/img_dup/*.bmp')),
        hdr AS (SELECT filename, H, ${duckLeU32(11)} AS data_off,
          ${duckLeU16(19)} AS w, ${duckLeU16(23)} AS ht FROM b),
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
        pairs AS (SELECT a.filename AS fa, bb.filename AS fb,
            sum(CASE WHEN a.bit != bb.bit THEN 1 ELSE 0 END) AS hm
          FROM bits a JOIN bits bb
            ON a.k = bb.k AND a.filename < bb.filename
          GROUP BY 1, 2)
        SELECT regexp_extract(fa, '([^/]+)$$', 1) AS f1,
          regexp_extract(fb, '([^/]+)$$', 1) AS f2,
          CAST(hm AS INT) AS hamming
        FROM pairs WHERE hm <= 3 ORDER BY f1, f2""")),

    // E30 — audio near-dup: 64-segment envelope hash over DECODED PCM16
    // samples (Multimodal.audioEnvelopeHash64 — same integer
    // cross-multiplied thresholds as the image aHash, so the oracle
    // re-derives every bit from the raw WAV bytes), pairs via the same
    // generic banded hamming join. The operator pair (perceptual hash +
    // pigeonhole-lossless banding) is modality-independent by design.
    "e30_audio_neardup" -> QueryDef(
      (s, dir) => {
        val aDir = s"$scratch/wav_dup"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(aDir))
        new java.io.File(aDir).listFiles().foreach(_.delete())
        def write(name: String, bytes: Array[Byte]): Unit =
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$aDir/$name"), bytes)
        (0 until 8).foreach { i =>
          val n = 256 + 64 * (i % 3)
          val base = graft.operators.Multimodal.makeWav(1, 8000, n, seed = 31000 + i)
          write(f"base$i%02d.wav", base)
          // near-duplicate: nudge the low byte of three samples
          val dup = base.clone()
          Seq(10, 100, 200).foreach { si =>
            val o = 44 + 2 * si
            dup(o) = (dup(o) ^ 0x05).toByte
          }
          write(f"dup$i%02d.wav", dup)
        }
        write("copy00.wav", graft.operators.Multimodal.makeWav(1, 8000, 256, seed = 31000))
        (0 until 8).foreach { i =>
          write(f"rand$i%02d.wav",
            graft.operators.Multimodal.makeWav(1, 8000, 256, seed = 32000 + i))
        }
        val eh = udf((bytes: Array[Byte]) =>
          graft.operators.Multimodal.audioEnvelopeHash64(bytes))
        val hashes = s.read.format("binaryFile").load(aDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            eh(col("content")).as("h"))
          .filter(col("h").isNotNull)
        graft.operators.ImageNearDup.pairs(hashes, "fname", "h", maxDist = 3)
          .select(col("id1").as("f1"), col("id2").as("f2"), col("hamming"))
          .orderBy(col("f1"), col("f2"))
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/wav_dup/*.wav')),
        hdr AS (SELECT filename, H, ${duckLeU32(41)} // 2 AS n FROM b),
        smp AS (SELECT filename, n, (i * 64) // n AS k,
            ABS(CASE WHEN
              (strpos('123456789ABCDEF', substr(H, 2*(44 + 2*i) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(44 + 2*i) + 2, 1)))
            + 256*(strpos('123456789ABCDEF', substr(H, 2*(45 + 2*i) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(45 + 2*i) + 2, 1))) >= 32768
            THEN (strpos('123456789ABCDEF', substr(H, 2*(44 + 2*i) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(44 + 2*i) + 2, 1)))
              + 256*(strpos('123456789ABCDEF', substr(H, 2*(45 + 2*i) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(45 + 2*i) + 2, 1))) - 65536
            ELSE (strpos('123456789ABCDEF', substr(H, 2*(44 + 2*i) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(44 + 2*i) + 2, 1)))
              + 256*(strpos('123456789ABCDEF', substr(H, 2*(45 + 2*i) + 1, 1))*16 + strpos('123456789ABCDEF', substr(H, 2*(45 + 2*i) + 2, 1)))
            END) AS a
          FROM hdr, UNNEST(generate_series(0, n - 1)) AS u(i)),
        cells AS (SELECT filename, k, sum(a) AS cs, count(*) AS cn
          FROM smp GROUP BY 1, 2),
        tot AS (SELECT filename, sum(cs) AS ts, sum(cn) AS n2
          FROM cells GROUP BY 1),
        bits AS (SELECT c.filename, c.k,
            CASE WHEN c.cs * t.n2 > t.ts * c.cn THEN 1 ELSE 0 END AS bit
          FROM cells c JOIN tot t USING (filename)),
        pairs AS (SELECT a.filename AS fa, bb.filename AS fb,
            sum(CASE WHEN a.bit != bb.bit THEN 1 ELSE 0 END) AS hm
          FROM bits a JOIN bits bb
            ON a.k = bb.k AND a.filename < bb.filename
          GROUP BY 1, 2)
        SELECT regexp_extract(fa, '([^/]+)$$', 1) AS f1,
          regexp_extract(fb, '([^/]+)$$', 1) AS f2,
          CAST(hm AS INT) AS hamming
        FROM pairs WHERE hm <= 3 ORDER BY f1, f2""")),

    // E31 — domain-mixture sampling: the LLM training-data mixture op.
    // Each language gets a TOKEN budget (the materialized form of target
    // mixture weights — en 50%, fr 20%, es 15%, zh 10%, de 5% of a 100k
    // budget); documents are admitted in seedless hash-rank order until
    // their cumulative token count would exceed the budget.
    //
    // Scale shape (VERDICT r6 item 1): the naive form is ONE window
    // cumsum per language — but the partition key has five distinct
    // values, so at 100 TB each language's whole corpus shuffles to a
    // single task. Instead the cumsum is bucket-parallel and EXACT:
    // `rk` is fixed-width lowercase hex (md5), so its first two hex
    // digits range-bucket the rank order — every rk in bucket b sorts
    // before every rk in bucket b+1. Per-(lang, bucket) token subtotals
    // are a tiny aggregate (5 langs x 256 buckets); an exclusive prefix
    // sum over those ≤256 rows per language yields each bucket's
    // starting offset (the only remaining per-lang window runs over
    // BUCKET COUNTS, bounded by B, never by corpus size); offsets
    // broadcast back and the cumsum runs locally within each
    // (lang, bucket) sort partition — max partition rows ≈ corpus/256
    // per language, parallelism 5*256. At 100 TB widen the prefix to 3
    // hex digits (4096 buckets); the plan shape is unchanged.
    "e31_domain_mix" -> QueryDef(
      (s, dir) => {
        val budgets = typedLit(Map(
          "en" -> 50000L, "fr" -> 20000L, "es" -> 15000L,
          "zh" -> 10000L, "de" -> 5000L))
        val W = org.apache.spark.sql.expressions.Window
        // No final ORDER BY: output scales with the budget (e01 note);
        // the driver gate and selfcheck canonicalize before hashing.
        val base = t(s, dir, "documents")
          .filter(col("text").isNotNull && col("lang").isNotNull)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_toks"),
            md5(col("doc_id").cast("string").cast("binary")).as("rk"))
          .withColumn("lang_budget", element_at(budgets, col("lang")))
          .filter(col("lang_budget").isNotNull)
          .withColumn("bkt", conv(substring(col("rk"), 1, 2), 16, 10)
            .cast("int"))
        // exclusive prefix sum of per-bucket subtotals: ≤256 rows/lang
        val offsets = base.groupBy(col("lang"), col("bkt"))
          .agg(sum(col("n_toks")).as("bkt_toks"))
          .withColumn("bkt_off", coalesce(sum(col("bkt_toks")).over(
            W.partitionBy(col("lang")).orderBy(col("bkt"))
              .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
          .select(col("lang"), col("bkt"), col("bkt_off"))
        base.join(broadcast(offsets), Seq("lang", "bkt"))
          .withColumn("cum", col("bkt_off") + sum(col("n_toks")).over(
            W.partitionBy(col("lang"), col("bkt"))
              .orderBy(col("rk"), col("doc_id"))))
          .filter(col("cum") <= col("lang_budget"))
          .select(col("doc_id"), col("lang"), col("n_toks"), col("cum"))
      },
      Some("""WITH d AS (SELECT doc_id, lang,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
          md5(CAST(doc_id AS VARCHAR)) AS rk,
          CASE lang WHEN 'en' THEN 50000 WHEN 'fr' THEN 20000
            WHEN 'es' THEN 15000 WHEN 'zh' THEN 10000 WHEN 'de' THEN 5000
          END AS lang_budget
          FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
        c AS (SELECT doc_id, lang, n_toks,
            sum(n_toks) OVER (PARTITION BY lang ORDER BY rk, doc_id) AS cum,
            lang_budget
          FROM d WHERE lang_budget IS NOT NULL)
        SELECT doc_id, lang, n_toks, CAST(cum AS BIGINT) AS cum
        FROM c WHERE cum <= lang_budget""")),

    // E32 — image-embedding retrieval: the bridge from the multimodal
    // block into the ANN stack. Every image thumbnail-embeds
    // scan-locally (imageThumb64: 8x8 mean-brightness cells, each the
    // exact IEEE quotient of two integers), then cosine top-k against a
    // query image — the e03 HOF fold, so DuckDB re-derives vectors AND
    // similarities bit-exactly from the raw BMP bytes. At 100 TB the
    // same vectors feed IVF/PQ (e28/e28b) instead of brute force.
    "e32_image_embed" -> QueryDef(
      (s, dir) => {
        val iDir = s"$scratch/img_embed"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(iDir))
        new java.io.File(iDir).listFiles().foreach(_.delete())
        (0 until 19).foreach { i =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$iDir/img$i%02d.bmp"),
            graft.operators.Multimodal.makeBmp(
              16 + 8 * (i % 2), 16, seed = 51000 + i))
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$iDir/q00.bmp"),
          graft.operators.Multimodal.makeBmp(16, 16, seed = 51000)) // = img00's twin
        val th = udf((bytes: Array[Byte]) =>
          graft.operators.Multimodal.imageThumb64(bytes))
        val vecs = s.read.format("binaryFile").load(iDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
            th(col("content")).as("t"))
          .filter(col("t").isNotNull)
        val q: Seq[Double] = vecs.filter(col("fname") === "q00.bmp")
          .select(col("t")).collect().head.getSeq[Double](0)
        vecs.withColumn("q", typedLit(q))
          .select(col("fname"),
            expr("""aggregate(zip_with(t, q, (x, y) -> x * y), 0D, (s, x) -> s + x)
              / (sqrt(aggregate(t, 0D, (s, x) -> s + x * x))
               * sqrt(aggregate(q, 0D, (s, x) -> s + x * x)))""").as("sim"))
          .orderBy(col("sim").desc, col("fname"))
          .limit(5)
      },
      Some(s"""WITH b AS (SELECT filename, hex(content) AS H
          FROM read_blob('$scratch/img_embed/*.bmp')),
        hdr AS (SELECT filename, H, ${duckLeU32(11)} AS data_off,
          ${duckLeU16(19)} AS w, ${duckLeU16(23)} AS ht FROM b),
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
        vecs AS (SELECT filename, list(CAST(cs AS DOUBLE) / cn ORDER BY k) AS t
          FROM cells GROUP BY filename),
        q AS (SELECT t AS qv FROM vecs WHERE filename LIKE '%q00.bmp')
        SELECT regexp_extract(v.filename, '([^/]+)$$', 1) AS fname,
          list_sum(list_transform(list_zip(v.t, q.qv), p -> p[1] * p[2]))
            / (sqrt(list_sum(list_transform(v.t, x -> x * x)))
             * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS sim
        FROM vecs v CROSS JOIN q
        ORDER BY sim DESC, fname LIMIT 5""")),

    // E13 — corpus quality profile: one pass per lang.
    "e13_quality_profile" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("text")).as("n_distinct"),
            sum(when(col("text").isNull, 1).otherwise(0)).as("n_null"),
            round(expr("percentile(n_chars, 0.5)"), 6).as("len_p50"),
            (sum(col("n_chars")).cast("double") / count(lit(1))).as("len_avg"))
          .orderBy(col("lang").asc_nulls_last),
      Some("""SELECT lang, count(*) AS n_docs, count(DISTINCT text) AS n_distinct,
        CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        round(quantile_cont(n_chars, 0.5), 6) AS len_p50,
        CAST(sum(n_chars) AS DOUBLE) / count(*) AS len_avg
        FROM documents GROUP BY lang ORDER BY lang""")),

    // E-block: embedding-cosine near-duplicate pairs, brute force on a
    // bounded slice (the declared ORACLE semantics; the LSH-bucketed scale
    // path is e_ann_lsh below + RandomHyperplaneLSH spec).
    "e_cosine_neardup" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings").filter(col("vec_id") < 300)
        val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"))
        val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"))
        a.join(b, col("va") < col("vb"))
          .select(col("va"), col("vb"), expr(cosineExpr("ea", "eb")).as("sim"))
          .filter(col("sim") >= 0.35)
          .orderBy(col("va"), col("vb"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300)
        SELECT a.vec_id AS va, b.vec_id AS vb,
          ${duckCosine("a.embedding", "b.embedding")} AS sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.35
        ORDER BY va, vb""")),

    // E — IVF ANN (coarse-quantizer scale path, operators.IvfAnn): k
    // deterministic centroids -> codegen'd argmax bucket assignment ->
    // probe-filtered brute force. Declared with nprobe = k, where IVF is
    // EXACTLY brute force — so this row shares e03's hard oracle (same
    // top-10); partial-probe recall + candidate reduction live in
    // IvfAnnSpec.
    "e_ann_ivf" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val k = 8
        val cs = graft.operators.IvfAnn.centroids(emb, "vec_id", "embedding", k)
        val qv: Array[Float] = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).collect().head.getSeq[Float](0).toArray
        val indexed = graft.operators.IvfAnn.assign(emb, "embedding", cs)
        graft.operators.IvfAnn.search(indexed, "vec_id", "embedding", cs, qv,
          topK = 10, nprobe = k)
      },
      Some(s"""WITH q AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)
        SELECT vec_id, ${duckCosine("embedding", "q")} AS sim
        FROM embeddings CROSS JOIN q
        ORDER BY sim DESC, vec_id LIMIT 10""")),

    // E — SimHash near-dup: 64-bit signature buckets by 4x16-bit bands,
    // hamming<=6 verify. Owned hash family -> fixture oracle
    // (scripts/fixture_oracle.py recomputes the full pair set).
    "e_simhash_neardup" -> QueryDef(
      (s, dir) => fixtureCheck(s, dir, "e_simhash_neardup", {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.simhash(col("text")).as("sig"))
        val bands = docs.select(col("doc_id"), col("sig"),
          posexplode(expr(
            "transform(sequence(0, 3), b -> (sig >> (b * 16)) & 65535)")))
          .select(col("doc_id"), col("sig"), col("pos").as("band"), col("col").as("bkey"))
        bands.alias("a")
          .join(bands.alias("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
            col("a.sig").as("s1"), col("b.sig").as("s2"))
          .distinct()
          .select(col("d1"), col("d2"),
            expr("bit_count(s1 ^ s2)").as("hamming"))
          .filter(col("hamming") <= 6)
      }, Seq("d1", "d2")),
      Some(fixtureSql("e_simhash_neardup", Seq("d1", "d2", "hamming")))),

    // E16 — deterministic hash sampling (training-data subsetting without
    // RNG state): keep a doc iff the md5 hex of its id sorts below a
    // threshold prefix — reproducible across engines, runs and cluster
    // layouts, and composable (a 10% sample of a 10% sample is stable).
    // Lexicographic hex compare == numeric compare; '1a' keeps 26/256 ≈
    // 10.2% in expectation. At 100 TB this is a scan-local filter: no
    // shuffle, no seed coordination, prunes before any downstream join.
    "e16_hash_sample" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("h", md5(col("doc_id").cast("string").cast("binary")))
          .filter(col("h") < "1a")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_sampled"),
            min(col("doc_id")).as("first_id"),
            max(col("doc_id")).as("last_id"))
          .orderBy(col("lang").asc_nulls_last),
      Some("""SELECT lang, count(*) AS n_sampled,
        min(doc_id) AS first_id, max(doc_id) AS last_id
        FROM documents WHERE md5(CAST(doc_id AS VARCHAR)) < '1a'
        GROUP BY lang ORDER BY lang""")),

    // E16b — STRATIFIED hash sampling (mixture weighting): per-language
    // keep-rates via per-group hash thresholds — downsample the dominant
    // language, keep more of the rare ones. Same seedless scan-local
    // mechanics as e16; the rate table would be a broadcast dim at scale.
    "e16b_stratified_sample" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("h", md5(col("doc_id").cast("string").cast("binary")))
          .filter(col("h") < when(col("lang") === "en", lit("1a")).otherwise(lit("4d")))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_sampled"))
          .orderBy(col("lang").asc_nulls_last),
      Some("""SELECT lang, count(*) AS n_sampled
        FROM documents
        WHERE md5(CAST(doc_id AS VARCHAR)) < (CASE WHEN lang = 'en' THEN '1a' ELSE '4d' END)
        GROUP BY lang ORDER BY lang""")),

    // E17 — sequence packing (batch assembly for training): greedy running-
    // offset packing — docs stream in id order per language, cumulative
    // token count divides into fixed token-budget packs. Pure window
    // algebra (no UDF, no driver loop); partition-by-language keeps the
    // prefix sums parallel at scale (one sequential chain per group, the
    // standard packing parallelization).
    "e17_sequence_packing" -> QueryDef(
      (s, dir) => {
        val budget = 512
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        t(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("lang"), col("doc_id"),
            size(split(col("text"), " ")).as("n_tok"))
          .withColumn("cum", sum(col("n_tok")).over(w))
          .withColumn("pack_id", floor((col("cum") - col("n_tok")) / budget))
          .orderBy(col("lang").asc_nulls_last, col("doc_id"))
      },
      Some("""SELECT lang, doc_id,
        CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
        CAST(sum(CAST(len(string_split(text, ' ')) AS INT))
          OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum,
        CAST(floor((CAST(sum(CAST(len(string_split(text, ' ')) AS INT))
          OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT)
          - CAST(len(string_split(text, ' ')) AS INT)) / 512) AS BIGINT) AS pack_id
        FROM documents WHERE text IS NOT NULL
        ORDER BY lang, doc_id""")),

    // E18 — near-dup CLUSTER formation (operators.ConnectedComponents):
    // pairwise similarity joins emit edges; min-label propagation turns
    // them into dedup groups with one canonical (min-id) doc each — the
    // step between "found near-dup pairs" and "kept one copy per group".
    // Oracle: DuckDB recursive-CTE transitive closure over the SAME pair
    // query (min reachable id == min label at fixpoint).
    "e18_dedup_clusters" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
        val toks = docs
          .select(col("doc_id"), explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
        // edge generation through the prefix-filtered join (see e11):
        // bounded candidate buckets, identical edge set at τ=0.95
        val edges = graft.operators.PrefixFilterJoin.pairs(toks, "doc_id", "tok", 0.95)
          .filter(graft.operators.PrefixFilterJoin.jaccard >= 0.95)
          .select(col("d1"), col("d2"))
        graft.operators.ConnectedComponents.run(edges)
          .select(col("id").as("doc_id"), col("component"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE toks AS (SELECT DISTINCT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
          FROM documents WHERE doc_id < 500),
        sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY d1, d2),
        sim AS (SELECT d1, d2
          FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
          WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.95),
        edges AS (SELECT d1 AS a, d2 AS b FROM sim UNION SELECT d2, d1 FROM sim),
        reach(a, b) AS (SELECT a, a FROM (SELECT DISTINCT a FROM edges)
          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a
        ORDER BY doc_id""")),

    // E64 — LEAKAGE-FREE train/val/test split: the often-botched pipeline
    // step where near-duplicate documents straddle the split and the
    // eval set silently measures memorization. The split key is the
    // near-dup CLUSTER representative (e18's connected components over
    // the τ=0.95 prefix-filtered Jaccard edges; singletons represent
    // themselves), hashed through the seedless md5-threshold rule
    // (80/10/10 at 'cc'/'e6') — same rep ⇒ same split BY CONSTRUCTION,
    // so no pair above the similarity bar can ever cross sets. Scale
    // shape: the component computation is e18's (bounded candidate
    // buckets, iterative min-label propagation); the split itself is a
    // scan-local hash — no extra shuffle beyond the cluster join.
    "e64_leakfree_split" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
        val toks = docs.select(col("doc_id"),
          explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
        val edges = graft.operators.PrefixFilterJoin.pairs(toks, "doc_id", "tok", 0.95)
          .filter(graft.operators.PrefixFilterJoin.jaccard >= 0.95)
          .select(col("d1"), col("d2"))
        val comps = graft.operators.ConnectedComponents.run(edges)
          .select(col("id").as("c_id"), col("component"))
        docs.select(col("doc_id"))
          .join(comps, col("doc_id") === col("c_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("rep"))
          .withColumn("h", md5(col("rep").cast("string").cast("binary")))
          .withColumn("split",
            when(col("h") < "cc", "train")
              .when(col("h") < "e6", "val")
              .otherwise("test"))
          .select(col("doc_id"), col("rep"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE toks AS (SELECT DISTINCT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
          FROM documents WHERE doc_id < 500),
        sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY d1, d2),
        sim AS (SELECT d1, d2
          FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
          WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.95),
        edges AS (SELECT d1 AS a, d2 AS b FROM sim UNION SELECT d2, d1 FROM sim),
        reach(a, b) AS (SELECT a, a FROM (SELECT DISTINCT a FROM edges)
          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
        alldocs AS (SELECT doc_id FROM documents WHERE doc_id < 500),
        r AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
          FROM alldocs d LEFT JOIN comp c ON d.doc_id = c.doc_id)
        SELECT doc_id, rep,
          CASE WHEN md5(CAST(rep AS VARCHAR)) < 'cc' THEN 'train'
               WHEN md5(CAST(rep AS VARCHAR)) < 'e6' THEN 'val'
               ELSE 'test' END AS split
        FROM r ORDER BY doc_id""")),

    // E19 — PII-style scrubbing (privacy stage of a training pipeline):
    // stable pseudonymization of identifiers (salted sha256 — joinable
    // across tables, not reversible) + inline redaction of digit runs,
    // with a redaction-volume audit column. All codegen'd string ops; at
    // 100 TB this is a scan-local transform, no shuffle.
    "e19_redact" -> QueryDef(
      (s, dir) =>
        t(s, dir, "events")
          .filter(col("event_id") < 5000)
          .select(col("event_id"),
            sha2(concat(lit("salt:"), col("user_id").cast("string")), 256).as("user_pseudo"),
            regexp_replace(col("props"), "[0-9]+", "#").as("props_redacted"),
            // translate (plain char loop) counts digits without a second
            // regex pass; same value as length-delta via regexp_replace
            (length(col("props")) - length(translate(col("props"), "0123456789", "")))
              .as("n_digits"))
          .orderBy(col("event_id")),
      Some("""SELECT event_id,
        sha256('salt:' || CAST(user_id AS VARCHAR)) AS user_pseudo,
        regexp_replace(props, '[0-9]+', '#', 'g') AS props_redacted,
        CAST(length(props) - length(regexp_replace(props, '[0-9]+', '', 'g')) AS INT) AS n_digits
        FROM events WHERE event_id < 5000 ORDER BY event_id""")),

    // E15 — the composite training-data pipeline: quality gate (length +
    // token-count + stopword-ratio thresholds) -> exact dedup keeping the
    // canonical doc -> per-language corpus stats. One declarative program,
    // one oracle; this is the end-to-end shape everything above feeds.
    "e15_clean_corpus" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("toks", split(lower(col("text")), " "))
          .withColumn("stop_ratio",
            expr("CAST(size(filter(toks, x -> x IN ('the','and','of','value','data'))) AS DOUBLE) / size(toks)"))
          .filter(col("n_chars").between(50, 2000) &&
            size(col("toks")) >= 10 && col("stop_ratio") < 0.5)
        val deduped = docs
          .groupBy(col("text")).agg(min(col("doc_id")).as("keep_id"))
          .join(docs.select(col("doc_id"), col("lang"), col("n_chars")),
            col("keep_id") === col("doc_id"))
        deduped.groupBy(col("lang"))
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

    // E2 — MinHash-LSH near-dup candidates (owned hash family; fixture
    // oracle — scripts/fixture_oracle.py recomputes the full pair set).
    // Pipeline: shingle -> 128-perm minhash -> 32 bands of 4 -> band-key
    // equi-join -> estimated-similarity filter. The banded join runs on
    // LIGHT (band, bkey, doc_id) triples — the 128-long signatures never
    // shuffle through pair generation (AnnLsh precedent: at corpus scale
    // they would multiply the shuffle volume by the band count; measured
    // 57 s -> ~8 s on the 10x stress, where replicated texts make every
    // bucket dense). The signatures re-attach by id for the slot-level
    // similarity estimate: two extra scan-local minhash passes, which
    // parallelize embarrassingly and shuffle only matched ids — the right
    // trade at any scale (at 100 TB you would materialize the signature
    // table once and all three passes become column reads).
    "e02_minhash_pairs" -> QueryDef(
      (s, dir) => fixtureCheck(s, dir, "e02_minhash_pairs", {
        // r18 optimization: materialize the signature table ONCE
        // (localCheckpoint) instead of recomputing the 128-perm minhash in
        // all three consumer subtrees (bands + both signature re-attaches)
        // — the form the note below already names as the 100 TB shape
        // ("materialize the signature table once and all three passes
        // become column reads"). Join-strategy stats now come from AQE's
        // runtime sizes instead of scan estimates — same adaptive
        // behavior, real numbers. Measured 4.58 -> 3.80 s at sf0.1 (Lab,
        // equality-checked; src/main/scala/graft/Lab.scala at commit
        // 94bd873).
        // r19 (VERDICT r18 item 3): lineage-preserving persist was A/B'd
        // here and stays REJECTED for this site — clean-window interleaved
        // pairs read persist at mean 4.32 s vs checkpoint 4.08 s and the
        // full-session sweeps read persist markedly worse (5.25 vs 3.40
        // baseline); kept per the verdict's "keep whichever is not slower"
        // (the IncrementalDedup signature tables DID move to persist —
        // their pairs favored it).
        val sigs = t(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.minhash128(col("text")).as("sig"))
          .localCheckpoint()
        // r18 optimization: the band key is the raw 4-slot slice itself —
        // band matching is slice EQUALITY, which the array key expresses
        // exactly (the Python fixture twin bands the same way); the old
        // sha2(cast(slice AS STRING)) paid 32 SHA-256 hashes + a string
        // render per doc for a 64-char key where the raw 32-byte array
        // both shuffles smaller and skips the crypto. Candidate set —
        // and therefore the output — is unchanged (fixture oracle PASS).
        val bands = sigs.select(col("doc_id"),
          posexplode(expr("transform(sequence(0, 31), b -> slice(sig, b * 4 + 1, 4))")))
          .select(col("doc_id"), col("pos").as("band"), col("col").as("bkey"))
        // join strategy stays UNHINTED deliberately: the bands/signature
        // subtrees' size estimates derive from the documents scan, so at
        // local volume Spark broadcasts (measured fastest AND the only
        // zero-spill form at 10x: 17.5 s vs 21-23 s +0.1-0.2 GiB spill
        // shuffle-hash, 25-30 s +32 GiB spill sort-merge) while at corpus
        // scale the same file-size-derived estimate blows past the
        // broadcast threshold and the planner flips to shuffled joins on
        // its own — declare the plan, let stats pick the physical form.
        val pairs = bands.alias("a")
          .join(bands.alias("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .distinct()
        pairs
          .join(sigs.select(col("doc_id").as("d1"), col("sig").as("s1")), "d1")
          .join(sigs.select(col("doc_id").as("d2"), col("sig").as("s2")), "d2")
          .select(col("d1"), col("d2"),
            expr("CAST(size(filter(zip_with(s1, s2, (x, y) -> x = y), v -> v)) AS DOUBLE) / 128").as("est_jaccard"))
          .filter(col("est_jaccard") >= 0.5)
      }, Seq("d1", "d2")),
      Some(fixtureSql("e02_minhash_pairs", Seq("d1", "d2", "est_jaccard")))),

    // E38 — INCREMENTAL dedup: the production 100 TB shape. A corpus is
    // never re-deduped whole; each ingest batch (here: the top 20% of
    // doc_ids — in production the batch id is ingest metadata, not a
    // max-scan; the driver-side max fetch is fixture plumbing only) is
    // checked against the historical index + earlier batch rows, and
    // old×old pairs are NEVER generated: the banded join's probe side
    // holds only new-batch band triples, so candidate volume scales with
    // the BATCH, not the corpus. Two paths, exact precedence first:
    //  - exact: sha256 equi-join against earlier hashes (at 100 TB the
    //    historical hash set is a bucketed table; the join stays
    //    hash-local),
    //  - near: e02's banded MinHash-LSH, probe side = new docs only,
    //    signatures re-attached by id (light triples through the join).
    // Verdict per new doc: exact(min earlier id) | near(best est, then
    // min id) | unique. Fixture oracle: the Python twin recomputes both
    // paths from raw text (scripts/fixture_oracle.py).
    "e38_incremental_dedup" -> QueryDef(
      (s, dir) => fixtureCheck(s, dir, "e38_incremental_dedup", {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        // an empty table has a null max: threshold 0, so no doc is old
        val maxId = docs.agg(max("doc_id")).head()
        val threshold = if (maxId.isNullAt(0)) 0L else (maxId.getLong(0) + 1L) * 4L / 5L
        graft.operators.IncrementalDedup.verdicts(docs, "doc_id", "text", threshold)
      }, Seq("doc_id")),
      Some(fixtureSql("e38_incremental_dedup",
        Seq("doc_id", "status", "partner", "est_jaccard")))),

    // E3b — ANN scale path as a declared surface: hyperplane-LSH candidate
    // pairs with exact cosine verify (owned deterministic planes; recall
    // properties in AnnLshSpec; full-output fixture oracle — the Python
    // twin replicates plane generation and the sequential cosine fold
    // bit-for-bit).
    "e_ann_lsh" -> QueryDef(
      (s, dir) => fixtureCheck(s, dir, "e_ann_lsh",
        graft.operators.AnnLsh
          .nearDupCandidates(t(s, dir, "embeddings"), "vec_id", "embedding")
          .filter(col("sim") >= 0.3),
        Seq("id1", "id2")),
      Some(fixtureSql("e_ann_lsh", Seq("id1", "id2", "sim")))),

    // E14 — sketches: approx vs exact side by side (PROP-tested bounds; not
    // oracle-able — sketch internals differ across engines by design).
    "e14_approx_distinct" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(
            countDistinct(col("source")).as("exact_nd"),
            approx_count_distinct(col("source")).as("approx_nd"))
          .orderBy(col("lang")),
      None),

    // E59 — sentence segmentation (functions.SentenceSplit: the
    // deterministic rule-based sentencizer — terminator runs split, a
    // lone period after an abbreviation or single initial does not;
    // SentenceSplitSpec pins each rule). Chunking/packing cut cleaner at
    // sentence edges and per-sentence quality stats need the same
    // boundaries. No engine-neutral segmenter exists to pair with, so
    // the oracle is CONSTRUCTION (the e34b pattern): each document is
    // wrapped into three planted sentences whose expected boundaries —
    // including a `Dr.` and a `Prof.` that must NOT split — are a
    // closed-form function of the token array, which DuckDB re-derives
    // arithmetically while Spark must segment its way to them.
    // Scan-local flatMap (posexplode over a scalar projection), zero
    // shuffle at any scale.
    "e59_sentences" -> QueryDef(
      (s, dir) =>
        t(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 18)
          // the fixed "ok" before the lone period keeps the construction
          // out of the segmenter's single-initial exception: corpus
          // tokens include the word "a", and "… a." would (correctly,
          // per rule 3) refuse to split
          .withColumn("para", concat(
            lit("Dr. "), array_join(slice(col("toks"), 1, 6), " "), lit(" ok. "),
            lit("Meet Prof. "), array_join(slice(col("toks"), 7, 6), " "), lit("! "),
            lit("Is "), array_join(slice(col("toks"), 13, 6), " "), lit("?")))
          .select(col("doc_id"), expr("split_sentences(para)").as("sents"))
          .select(col("doc_id"), size(col("sents")).as("n_sents"),
            posexplode(col("sents")))
          .select(col("doc_id"), col("pos").as("sid"), col("n_sents"),
            col("col").as("sentence"))
          .orderBy(col("doc_id"), col("sid")),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 18),
        l AS (
          SELECT doc_id, 0 AS sid,
            'Dr. ' || array_to_string(toks[1:6], ' ') || ' ok.' AS sentence FROM f
          UNION ALL SELECT doc_id, 1,
            'Meet Prof. ' || array_to_string(toks[7:12], ' ') || '!' FROM f
          UNION ALL SELECT doc_id, 2,
            'Is ' || array_to_string(toks[13:18], ' ') || '?' FROM f)
        SELECT doc_id, sid, CAST(3 AS INT) AS n_sents, sentence
        FROM l ORDER BY doc_id, sid""")),

    // E68 — SEQUENCE PACKING: the last batch op before training — the
    // GPT-style concat-and-chunk that turns a variable-length document
    // corpus into fixed-length training sequences: append an EOS token
    // per document, concatenate in deterministic corpus order (doc_id),
    // slice the global token stream into windows of L=128, drop the
    // final partial window. Each sequence row carries its boundary
    // tokens and an order-sensitive digest, so a packing that dropped,
    // duplicated or reordered ONE token anywhere breaks the oracle.
    //
    // Scale shape: the global concat looks inherently sequential, but
    // only the OFFSETS are — and those are the e31 bucket-parallel
    // exact cumsum: doc_id div 256 range-buckets the corpus order, the
    // per-bucket token subtotals are a tiny aggregate, ONE bounded
    // window over bucket counts (corpus/256 rows; widen the divisor
    // with corpus size — the e31 knob) yields each bucket's start
    // offset, and every doc's exclusive offset then computes inside its
    // own (bucket)-partition. Tokens shuffle ONCE keyed by seq_id with
    // per-key state bounded by L — never a corpus-wide window. The
    // digest makes the reassembly order-exact without materializing
    // sequence text in the result.
    "e68_sequence_pack" -> QueryDef(
      (s, dir) => {
        val L = 128
        val W = org.apache.spark.sql.expressions.Window
        val base = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            concat(split(col("text"), " "), array(lit("</s>"))).as("toks"))
          .withColumn("n_toks", size(col("toks")).cast("long"))
          .withColumn("bkt", (col("doc_id") / 256).cast("long"))
        val offsets = base.groupBy(col("bkt"))
          .agg(sum(col("n_toks")).as("bkt_toks"))
          .withColumn("bkt_off", coalesce(sum(col("bkt_toks")).over(
            W.orderBy(col("bkt")).rowsBetween(W.unboundedPreceding, -1)),
            lit(0L)))
          .select(col("bkt"), col("bkt_off"))
        base.join(broadcast(offsets), Seq("bkt"))
          .withColumn("doc_off", col("bkt_off") +
            sum(col("n_toks")).over(
              W.partitionBy(col("bkt")).orderBy(col("doc_id"))) - col("n_toks"))
          .select(col("doc_off"), posexplode(col("toks")))
          .select((col("doc_off") + col("pos")).as("gpos"), col("col").as("tok"))
          .withColumn("seq_id", floor(col("gpos") / L).cast("long"))
          .groupBy(col("seq_id"))
          .agg(count(lit(1)).cast("int").as("n_toks"),
            min_by(col("tok"), col("gpos")).as("first_tok"),
            max_by(col("tok"), col("gpos")).as("last_tok"),
            md5(array_join(transform(
              array_sort(collect_list(struct(col("gpos"), col("tok")))),
              x => x.getField("tok")), " ").cast("binary")).as("digest"))
          .filter(col("n_toks") === L)
          .orderBy(col("seq_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
            list_concat(string_split(text, ' '), ['</s>']) AS toks
          FROM documents WHERE text IS NOT NULL),
        n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks FROM d),
        o AS (SELECT doc_id, toks,
            sum(n_toks) OVER (ORDER BY doc_id) - n_toks AS doc_off FROM n),
        tok AS (SELECT doc_off + i - 1 AS gpos, toks[i] AS tok
          FROM o, UNNEST(generate_series(1, len(toks))) AS t(i)),
        sq AS (SELECT gpos // 128 AS seq_id, count(*) AS n_toks,
            arg_min(tok, gpos) AS first_tok, arg_max(tok, gpos) AS last_tok,
            md5(string_agg(tok, ' ' ORDER BY gpos)) AS digest
          FROM tok GROUP BY 1)
        SELECT CAST(seq_id AS BIGINT) AS seq_id, CAST(n_toks AS INT) AS n_toks,
          first_tok, last_tok, digest
        FROM sq WHERE n_toks = 128 ORDER BY seq_id""")),

    // E69 — C4-STYLE page cleaning (Raffel et al. 2020 §2.2, the
    // published rule set behind the C4 corpus): line level — keep only
    // lines ending in terminal punctuation, with ≥3 words, not
    // containing "javascript"; page level — drop pages containing "{"
    // or "lorem ipsum", and pages with fewer than 5 retained lines
    // (the paper counts sentences; retained lines is the standard
    // single-pass approximation). The fixture plants one line per
    // line-rule violation in EVERY page and one page-rule violation
    // per doc_id%5 branch, so each rule's firing is individually
    // observable; the cleaned text survives only on kept pages. The
    // whole pass is a scan-local HOF filter — zero shuffle, zero UDF,
    // policy stays declarative column algebra at any scale.
    "e69_c4_clean" -> QueryDef(
      (s, dir) => {
        val m = col("m")
        val emptyArr = array().cast("array<string>")
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 21)
          .withColumn("m", (col("doc_id") % 5).cast("int"))
          .withColumn("lines", concat(
            array(
              concat(array_join(slice(col("toks"), 1, 5), " "), lit(".")),
              concat(array_join(slice(col("toks"), 6, 2), " "), lit(".")),
              array_join(slice(col("toks"), 8, 5), " "),
              lit("please enable javascript here."),
              concat(array_join(slice(col("toks"), 13, 5), " "), lit("!")),
              concat(array_join(slice(col("toks"), 18, 4), " "), lit("?"))),
            when(m =!= 1, array(
              concat(array_join(slice(col("toks"), 1, 4), " "), lit(" ok.")),
              concat(array_join(slice(col("toks"), 5, 4), " "), lit(" done."))))
              .otherwise(emptyArr),
            when(m === 2, array(lit("curly { brace."))).otherwise(emptyArr),
            when(m === 3, array(lit("standard lorem ipsum text.")))
              .otherwise(emptyArr)))
          .withColumn("page", array_join(col("lines"), "\n"))
          .withColumn("kept_lines", expr(
            """filter(lines, l -> (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?')
               AND size(split(l, ' ')) >= 3
               AND NOT contains(lower(l), 'javascript'))"""))
          .withColumn("page_kept",
            !col("page").contains("{") &&
            !col("page").contains("lorem ipsum") &&
            size(col("kept_lines")) >= 5)
          .select(col("doc_id"),
            size(col("lines")).as("n_lines"),
            size(col("kept_lines")).as("n_kept"),
            col("page_kept"),
            when(col("page_kept"), array_join(col("kept_lines"), "\n"))
              .otherwise(lit(null).cast("string")).as("cleaned"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
            CAST(doc_id % 5 AS INT) AS m
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, toks, m FROM d WHERE len(toks) >= 21),
        built AS (SELECT doc_id, m, list_concat(list_concat(list_concat(
            list_value(
              array_to_string(toks[1:5], ' ') || '.',
              array_to_string(toks[6:7], ' ') || '.',
              array_to_string(toks[8:12], ' '),
              'please enable javascript here.',
              array_to_string(toks[13:17], ' ') || '!',
              array_to_string(toks[18:21], ' ') || '?'),
            CASE WHEN m <> 1 THEN list_value(
              array_to_string(toks[1:4], ' ') || ' ok.',
              array_to_string(toks[5:8], ' ') || ' done.')
            ELSE CAST([] AS VARCHAR[]) END),
            CASE WHEN m = 2 THEN ['curly { brace.']
              ELSE CAST([] AS VARCHAR[]) END),
            CASE WHEN m = 3 THEN ['standard lorem ipsum text.']
              ELSE CAST([] AS VARCHAR[]) END) AS lines
          FROM f),
        ck AS (SELECT doc_id, lines,
            array_to_string(lines, chr(10)) AS page,
            list_filter(lines, l -> (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?')
              AND len(string_split(l, ' ')) >= 3
              AND NOT contains(lower(l), 'javascript')) AS kept_lines
          FROM built),
        v AS (SELECT doc_id, len(lines) AS n_lines, len(kept_lines) AS n_kept,
            (NOT contains(page, '{') AND NOT contains(page, 'lorem ipsum')
              AND len(kept_lines) >= 5) AS page_kept,
            kept_lines
          FROM ck)
        SELECT doc_id, CAST(n_lines AS INT) AS n_lines,
          CAST(n_kept AS INT) AS n_kept, page_kept,
          CASE WHEN page_kept THEN array_to_string(kept_lines, chr(10))
            ELSE NULL END AS cleaned
        FROM v ORDER BY doc_id""")),

    // E70 — GOPHER QUALITY FILTER (Rae et al. 2021 Appendix A1.1, the
    // published rule set): word count in [50, 100000], mean word length
    // in [3, 10], symbol-to-word ratio (# and ...) < 0.1, <90% of lines
    // bullet-led, ≤30% of lines ellipsis-ended, ≥80% of words contain
    // an alphabetic character, ≥2 distinct stop words present. One
    // branch per rule plants exactly that rule's violation (doc_id%8;
    // the long-word branch uses 40 copies so even an adversarial
    // all-single-char document still trips it); a fixed stop-word tail
    // line keeps the stop-word rule out of every other branch's way.
    // BOTH engines compute every statistic from the SAME constructed
    // text with generic expressions (no stated per-branch numbers), so
    // the oracle checks the measurement, not just the verdict. Flag
    // comparisons run on the UNROUNDED IEEE ratios — identical division
    // on both engines — with round(6) applied only to reported columns.
    // Scan-local HOF algebra: zero shuffle, zero UDF.
    "e70_gopher_filter" -> QueryDef(
      (s, dir) => {
        val m = col("m")
        def tl(from: Int, len: Int) =
          array_join(slice(col("toks"), from, len), " ")
        val tailLine = lit("that will have to do with the and be of")
        val baseLines = array(tl(1, 12), tl(13, 12), tl(25, 12), tl(37, 12),
          tl(49, 12), tailLine)
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 60)
          .withColumn("m", (col("doc_id") % 8).cast("int"))
          .withColumn("lines",
            when(m === 1, array(tl(1, 15), tl(16, 15), tailLine))
              .when(m === 2, concat(baseLines,
                array(expr("trim(repeat('# ', 10))"))))
              .when(m === 3, concat(baseLines,
                array(expr("trim(repeat('pneumonoultramicroscopicsilico ', 40))"))))
              .when(m === 4, array(
                concat(lit("• "), tl(1, 12)), concat(lit("• "), tl(13, 12)),
                concat(lit("• "), tl(25, 12)), concat(lit("• "), tl(37, 12)),
                concat(lit("• "), tl(49, 12)),
                lit("• buy now today"), lit("• buy now today"),
                lit("• buy now today"), lit("• buy now today"),
                tailLine))
              .when(m === 5, array(
                concat(tl(1, 12), lit("...")), concat(tl(13, 12), lit("...")),
                tl(25, 12), tl(37, 12), tl(49, 12), tailLine))
              .when(m === 6, array(expr(
                "trim(repeat('zork blip grum flep twix ', 12))")))
              .when(m === 7, concat(baseLines,
                array(expr("trim(repeat('12345 ', 25))"))))
              .otherwise(baseLines))
          .withColumn("text", array_join(col("lines"), "\n"))
          .withColumn("words", split(col("text"), "[ \\n]"))
          .withColumn("n_words", size(col("words")).cast("long"))
          .withColumn("sum_wl",
            expr("aggregate(words, 0L, (a, x) -> a + length(x))"))
          .withColumn("n_hash",
            length(col("text")) - length(regexp_replace(col("text"), "#", "")))
          .withColumn("n_ellip",
            ((length(col("text")) -
              length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / lit(3))
              .cast("int"))
          .withColumn("n_lines", size(col("lines")).cast("long"))
          .withColumn("n_bullet", expr(
            "size(filter(lines, l -> startswith(l, '•')))").cast("long"))
          .withColumn("n_eline", expr(
            "size(filter(lines, l -> endswith(l, '...')))").cast("long"))
          .withColumn("n_alpha", expr(
            "size(filter(words, w -> w RLIKE '[A-Za-z]'))").cast("long"))
          .withColumn("n_stop",
            Seq("the", "be", "to", "of", "and", "that", "have", "with")
              .map(w => when(array_contains(col("words"), w), 1).otherwise(0))
              .reduce(_ + _).cast("int"))
          .withColumn("mwl", col("sum_wl").cast("double") / col("n_words"))
          .withColumn("symr",
            (col("n_hash") + col("n_ellip")).cast("double") / col("n_words"))
          .withColumn("bulf", col("n_bullet").cast("double") / col("n_lines"))
          .withColumn("ellf", col("n_eline").cast("double") / col("n_lines"))
          .withColumn("alpf", col("n_alpha").cast("double") / col("n_words"))
          .withColumn("first_fail",
            when(col("n_words") < 50 || col("n_words") > 100000, "word_count")
              .when(col("mwl") < 3.0 || col("mwl") > 10.0, "mean_word_len")
              .when(col("symr") >= 0.1, "symbol_ratio")
              .when(col("bulf") >= 0.9, "bullet_lines")
              .when(col("ellf") > 0.3, "ellipsis_lines")
              .when(col("alpf") < 0.8, "alpha_words")
              .when(col("n_stop") < 2, "stop_words")
              .otherwise(lit(null).cast("string")))
          .select(col("doc_id"), col("n_words"),
            round(col("mwl"), 6).as("mean_wl"),
            round(col("symr"), 6).as("sym_ratio"),
            round(col("bulf"), 6).as("bullet_frac"),
            round(col("ellf"), 6).as("ellip_frac"),
            round(col("alpf"), 6).as("alpha_frac"),
            col("n_stop"),
            col("first_fail").isNull.as("kept"), col("first_fail"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
            CAST(doc_id % 8 AS INT) AS m
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, toks, m FROM d WHERE len(toks) >= 60),
        built AS (SELECT doc_id, m,
          CASE m
            WHEN 1 THEN list_value(array_to_string(toks[1:15], ' '),
              array_to_string(toks[16:30], ' '),
              'that will have to do with the and be of')
            WHEN 4 THEN list_value(
              chr(8226) || ' ' || array_to_string(toks[1:12], ' '),
              chr(8226) || ' ' || array_to_string(toks[13:24], ' '),
              chr(8226) || ' ' || array_to_string(toks[25:36], ' '),
              chr(8226) || ' ' || array_to_string(toks[37:48], ' '),
              chr(8226) || ' ' || array_to_string(toks[49:60], ' '),
              chr(8226) || ' buy now today', chr(8226) || ' buy now today',
              chr(8226) || ' buy now today', chr(8226) || ' buy now today',
              'that will have to do with the and be of')
            WHEN 5 THEN list_value(
              array_to_string(toks[1:12], ' ') || '...',
              array_to_string(toks[13:24], ' ') || '...',
              array_to_string(toks[25:36], ' '),
              array_to_string(toks[37:48], ' '),
              array_to_string(toks[49:60], ' '),
              'that will have to do with the and be of')
            WHEN 6 THEN list_value(trim(repeat('zork blip grum flep twix ', 12)))
            ELSE list_concat(list_value(
              array_to_string(toks[1:12], ' '), array_to_string(toks[13:24], ' '),
              array_to_string(toks[25:36], ' '), array_to_string(toks[37:48], ' '),
              array_to_string(toks[49:60], ' '),
              'that will have to do with the and be of'),
              CASE m WHEN 2 THEN list_value(trim(repeat('# ', 10)))
                WHEN 3 THEN list_value(trim(repeat('pneumonoultramicroscopicsilico ', 40)))
                WHEN 7 THEN list_value(trim(repeat('12345 ', 25)))
                ELSE CAST([] AS VARCHAR[]) END)
          END AS lines FROM f),
        tx AS (SELECT doc_id, lines, array_to_string(lines, chr(10)) AS text
          FROM built),
        st AS (SELECT doc_id, lines, text,
            string_split_regex(text, '[ \n]') AS words FROM tx),
        agg AS (SELECT doc_id,
            CAST(len(words) AS BIGINT) AS n_words,
            list_sum(list_transform(words, w -> length(w))) AS sum_wl,
            length(text) - length(replace(text, '#', '')) AS n_hash,
            (length(text) - length(replace(text, '...', ''))) // 3 AS n_ellip,
            CAST(len(lines) AS BIGINT) AS n_lines,
            CAST(len(list_filter(lines, l -> starts_with(l, chr(8226)))) AS BIGINT)
              AS n_bullet,
            CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT) AS n_eline,
            CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
              AS BIGINT) AS n_alpha,
            CAST((CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END)
              + (CASE WHEN list_contains(words, 'be') THEN 1 ELSE 0 END)
              + (CASE WHEN list_contains(words, 'to') THEN 1 ELSE 0 END)
              + (CASE WHEN list_contains(words, 'of') THEN 1 ELSE 0 END)
              + (CASE WHEN list_contains(words, 'and') THEN 1 ELSE 0 END)
              + (CASE WHEN list_contains(words, 'that') THEN 1 ELSE 0 END)
              + (CASE WHEN list_contains(words, 'have') THEN 1 ELSE 0 END)
              + (CASE WHEN list_contains(words, 'with') THEN 1 ELSE 0 END)
              AS INT) AS n_stop
          FROM st),
        r AS (SELECT doc_id, n_words,
            CAST(sum_wl AS DOUBLE) / n_words AS mwl,
            CAST(n_hash + n_ellip AS DOUBLE) / n_words AS symr,
            CAST(n_bullet AS DOUBLE) / n_lines AS bulf,
            CAST(n_eline AS DOUBLE) / n_lines AS ellf,
            CAST(n_alpha AS DOUBLE) / n_words AS alpf,
            n_stop
          FROM agg),
        v AS (SELECT doc_id, n_words, mwl, symr, bulf, ellf, alpf, n_stop,
            CASE WHEN n_words < 50 OR n_words > 100000 THEN 'word_count'
              WHEN mwl < 3.0 OR mwl > 10.0 THEN 'mean_word_len'
              WHEN symr >= 0.1 THEN 'symbol_ratio'
              WHEN bulf >= 0.9 THEN 'bullet_lines'
              WHEN ellf > 0.3 THEN 'ellipsis_lines'
              WHEN alpf < 0.8 THEN 'alpha_words'
              WHEN n_stop < 2 THEN 'stop_words'
              ELSE NULL END AS first_fail
          FROM r)
        SELECT doc_id, n_words, round(mwl, 6) AS mean_wl,
          round(symr, 6) AS sym_ratio, round(bulf, 6) AS bullet_frac,
          round(ellf, 6) AS ellip_frac, round(alpf, 6) AS alpha_frac,
          n_stop, (first_fail IS NULL) AS kept, first_fail
        FROM v ORDER BY doc_id""")),

    // E70b — CJK-AWARE quality filtering (VERDICT r9 item 5): the
    // word-statistic rules of e69/e70 assume space-delimited text and
    // spuriously fail any zh document on word_count. This query is the
    // lang-dispatched form a real multilingual pipeline runs: rows
    // whose lang is zh take a CHAR-based branch — unit count = Han
    // characters (the \\x{4E00}-\\x{9FFF} CJK Unified block, counted by
    // regex-strip arithmetic on BOTH engines), purity = Han fraction of
    // all characters, and the stop-word rule becomes a functional-
    // character rule (≥2 distinct of the 8 commonest particles 的了是在
    // 我有他这); all other rows keep the word rules (count / alpha
    // fraction / stopwords). Each branch's rules fire individually by
    // doc_id%4 construction: m=0 kept, m=1 unit-count fail (zh: 22 Han
    // chars; word: 10 words), m=2 purity fail (zh: 40 ASCII x's
    // injected; word: 20 numeric tokens), m=3 functional fail (zh: only
    // one particle; word: a stopword-free filler). Han text builds by
    // arithmetic over a 64-char literal slice of the block chosen to
    // EXCLUDE all eight particles, so particle presence is exactly the
    // planted one. Stats recompute from the built text on both engines
    // (the e70 pattern) — scan-local, one projection, zero shuffle.
    "e70b_gopher_cjk" -> QueryDef(
      (s, dir) => {
        val m = col("m")
        def tl(from: Int, len: Int) =
          array_join(slice(col("toks"), from, len), " ")
        // 64 Han chars 4E00..4E3F — none of the 8 particles lies there
        val hanLit = typedlit((0 until 64).map(j => (0x4E00 + j).toChar.toString))
        val particles = Seq('的', '了', '是', '在',
          '我', '有', '他', '这').map(_.toString)
        val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
        def hanBody(count: Int) = expr(
          s"array_join(transform(sequence(0, ${count - 1})," +
            " i -> element_at(hanlit, CAST((k + i) % 64 AS INT) + 1)), '')")
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 40)
          .withColumn("k", (col("doc_id") % 16).cast("int"))
          .withColumn("m", (col("doc_id") % 4).cast("int"))
          .withColumn("hanlit", hanLit)
          .withColumn("zh", col("lang") === "zh")
          .withColumn("text",
            when(col("zh"),
              when(m === 1, concat(lit(particles.head), hanBody(20), lit(particles(1))))
                .when(m === 2, concat(lit(particles.head), hanBody(60),
                  lit(particles(1)), expr("repeat('x', 40)")))
                .when(m === 3, concat(lit(particles.head), hanBody(60)))
                .otherwise(concat(lit(particles.head), hanBody(60), lit(particles(1)))))
            .otherwise(
              when(m === 1, tl(1, 10))
                .when(m === 2, concat(tl(1, 30), expr("repeat(' 12345', 20)"), lit(" the of")))
                .when(m === 3, expr("trim(repeat('lorem ipsum dolor sit amet ', 8))"))
                .otherwise(concat(tl(1, 38), lit(" the of")))))
          .withColumn("n_han",
            (length(col("text")) - length(regexp_replace(col("text"),
              "[\\x{4E00}-\\x{9FFF}]", ""))).cast("long"))
          .withColumn("words", split(col("text"), " "))
          .withColumn("n_units",
            when(col("zh"), col("n_han")).otherwise(size(col("words")).cast("long")))
          .withColumn("frac",
            when(col("zh"), col("n_han").cast("double") / length(col("text")))
              .otherwise(expr("size(filter(words, w -> w RLIKE '[A-Za-z]'))")
                .cast("double") / size(col("words"))))
          .withColumn("n_func",
            when(col("zh"),
              particles.map(p => when(col("text").contains(p), 1).otherwise(0))
                .reduce(_ + _))
            .otherwise(
              stops.map(w => when(array_contains(col("words"), w), 1).otherwise(0))
                .reduce(_ + _)).cast("int"))
          .withColumn("first_fail",
            when(col("zh"),
              when(col("n_units") < 50, "char_count")
                .when(col("frac") < 0.8, "han_frac")
                .when(col("n_func") < 2, "functional_chars")
                .otherwise(lit(null).cast("string")))
            .otherwise(
              when(col("n_units") < 30, "word_count")
                .when(col("frac") < 0.8, "alpha_words")
                .when(col("n_func") < 2, "stop_words")
                .otherwise(lit(null).cast("string"))))
          .select(col("doc_id"), col("lang"),
            when(col("zh"), "char").otherwise("word").as("branch"),
            col("n_units"), round(col("frac"), 6).as("frac"), col("n_func"),
            col("first_fail").isNull.as("kept"), col("first_fail"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks,
            CAST(doc_id % 16 AS INT) AS k, CAST(doc_id % 4 AS INT) AS m,
            (lang = 'zh') AS zh
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT * FROM d WHERE len(toks) >= 40),
        built AS (SELECT doc_id, lang, zh, m,
            CASE WHEN zh THEN
              CASE m
                WHEN 1 THEN chr(30340) || array_to_string(list_transform(
                  generate_series(0, 19), i -> chr(CAST(19968 + (k + i) % 64 AS INT))), '') || chr(20102)
                WHEN 2 THEN chr(30340) || array_to_string(list_transform(
                  generate_series(0, 59), i -> chr(CAST(19968 + (k + i) % 64 AS INT))), '') || chr(20102) || repeat('x', 40)
                WHEN 3 THEN chr(30340) || array_to_string(list_transform(
                  generate_series(0, 59), i -> chr(CAST(19968 + (k + i) % 64 AS INT))), '')
                ELSE chr(30340) || array_to_string(list_transform(
                  generate_series(0, 59), i -> chr(CAST(19968 + (k + i) % 64 AS INT))), '') || chr(20102)
              END
            ELSE
              CASE m
                WHEN 1 THEN array_to_string(toks[1:10], ' ')
                WHEN 2 THEN array_to_string(toks[1:30], ' ') || repeat(' 12345', 20) || ' the of'
                WHEN 3 THEN trim(repeat('lorem ipsum dolor sit amet ', 8))
                ELSE array_to_string(toks[1:38], ' ') || ' the of'
              END
            END AS text
          FROM f),
        st AS (SELECT doc_id, lang, zh, text,
            CAST(length(text) - length(regexp_replace(text,
              '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS n_han,
            string_split(text, ' ') AS words
          FROM built),
        r AS (SELECT doc_id, lang, zh,
            CASE WHEN zh THEN n_han ELSE CAST(len(words) AS BIGINT) END AS n_units,
            CASE WHEN zh THEN CAST(n_han AS DOUBLE) / length(text)
              ELSE CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
                AS DOUBLE) / len(words) END AS frac,
            CASE WHEN zh THEN
              CAST((CASE WHEN contains(text, chr(30340)) THEN 1 ELSE 0 END)
                + (CASE WHEN contains(text, chr(20102)) THEN 1 ELSE 0 END)
                + (CASE WHEN contains(text, chr(26159)) THEN 1 ELSE 0 END)
                + (CASE WHEN contains(text, chr(22312)) THEN 1 ELSE 0 END)
                + (CASE WHEN contains(text, chr(25105)) THEN 1 ELSE 0 END)
                + (CASE WHEN contains(text, chr(26377)) THEN 1 ELSE 0 END)
                + (CASE WHEN contains(text, chr(20182)) THEN 1 ELSE 0 END)
                + (CASE WHEN contains(text, chr(36825)) THEN 1 ELSE 0 END) AS INT)
            ELSE
              CAST((CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(words, 'be') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(words, 'to') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(words, 'of') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(words, 'and') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(words, 'that') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(words, 'have') THEN 1 ELSE 0 END)
                + (CASE WHEN list_contains(words, 'with') THEN 1 ELSE 0 END) AS INT)
            END AS n_func
          FROM st),
        v AS (SELECT doc_id, lang, zh, n_units, frac, n_func,
            CASE WHEN zh THEN
              CASE WHEN n_units < 50 THEN 'char_count'
                WHEN frac < 0.8 THEN 'han_frac'
                WHEN n_func < 2 THEN 'functional_chars' ELSE NULL END
            ELSE
              CASE WHEN n_units < 30 THEN 'word_count'
                WHEN frac < 0.8 THEN 'alpha_words'
                WHEN n_func < 2 THEN 'stop_words' ELSE NULL END
            END AS first_fail
          FROM r)
        SELECT doc_id, lang,
          CASE WHEN zh THEN 'char' ELSE 'word' END AS branch,
          n_units, round(frac, 6) AS frac, n_func,
          (first_fail IS NULL) AS kept, first_fail
        FROM v ORDER BY doc_id""")),

    // E90 — Unicode SCRIPT PROFILING: the pre-lang-ID triage a
    // multilingual crawl runs — per-document codepoint counts by script
    // block (Latin letters, Cyrillic U+0400–04FF, Greek U+0370–03FF,
    // Han U+4E00–9FFF, ASCII digits) and the dominant script with a
    // FIXED tie order (latin > cyrillic > greek > han, encoded as a
    // CASE chain whose branch conditions are identical on both
    // engines). Counts are the e70b regex-strip length arithmetic —
    // scan-local codegen string algebra, zero shuffle at any corpus
    // size. The fixture plants real multi-script rows by arithmetic
    // (doc_id%4 branches: latin-only / +80 Cyrillic / +30 Greek +10 Han
    // / 60 Han alone), so every count column and every dominance branch
    // is exercised and re-derived from construction in the oracle.
    "e90_script_profile" -> QueryDef(
      (s, dir) => {
        val cyrLit = typedlit((0 until 32).map(j => (0x0410 + j).toChar.toString))
        val grkLit = typedlit((0 until 24).map(j => (0x03B1 + j).toChar.toString))
        val hanLit = typedlit((0 until 64).map(j => (0x4E00 + j).toChar.toString))
        def run(arr: String, count: Int, mod: Int) = expr(
          s"array_join(transform(sequence(0, ${count - 1})," +
            s" i -> element_at($arr, CAST((k + i) % $mod AS INT) + 1)), '')")
        def strip(pat: String) =
          (length(col("text")) - length(regexp_replace(col("text"), pat, "")))
            .cast("int")
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 12)
          .withColumn("k", (col("doc_id") % 16).cast("int"))
          .withColumn("m", (col("doc_id") % 4).cast("int"))
          .withColumn("cyr", cyrLit).withColumn("grk", grkLit)
          .withColumn("han", hanLit)
          .withColumn("base", array_join(slice(col("toks"), 1, 12), " "))
          .withColumn("text",
            when(col("m") === 1, concat(col("base"), lit(" "), run("cyr", 80, 32)))
              .when(col("m") === 2, concat(col("base"), lit(" "),
                run("grk", 30, 24), lit(" "), run("han", 10, 64)))
              .when(col("m") === 3, run("han", 60, 64))
              .otherwise(col("base")))
          .withColumn("n_latin", strip("[A-Za-z]"))
          .withColumn("n_cyr", strip("[\\x{0400}-\\x{04FF}]"))
          .withColumn("n_greek", strip("[\\x{0370}-\\x{03FF}]"))
          .withColumn("n_han", strip("[\\x{4E00}-\\x{9FFF}]"))
          .withColumn("n_digit", strip("[0-9]"))
          .withColumn("dominant",
            when(col("n_latin") >= col("n_cyr") &&
              col("n_latin") >= col("n_greek") &&
              col("n_latin") >= col("n_han"), "latin")
            .when(col("n_cyr") >= col("n_greek") &&
              col("n_cyr") >= col("n_han"), "cyrillic")
            .when(col("n_greek") >= col("n_han"), "greek")
            .otherwise("han"))
          .select(col("doc_id"), col("n_latin"), col("n_cyr"),
            col("n_greek"), col("n_han"), col("n_digit"), col("dominant"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
            CAST(doc_id % 16 AS INT) AS k, CAST(doc_id % 4 AS INT) AS m
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, k, m,
            array_to_string(toks[1:12], ' ') AS base
          FROM d WHERE len(toks) >= 12),
        t AS (SELECT doc_id,
            CASE m
              WHEN 1 THEN base || ' ' || array_to_string(list_transform(
                generate_series(0, 79), i -> chr(CAST(1040 + (k + i) % 32 AS INT))), '')
              WHEN 2 THEN base || ' ' || array_to_string(list_transform(
                generate_series(0, 29), i -> chr(CAST(945 + (k + i) % 24 AS INT))), '')
                || ' ' || array_to_string(list_transform(
                generate_series(0, 9), i -> chr(CAST(19968 + (k + i) % 64 AS INT))), '')
              WHEN 3 THEN array_to_string(list_transform(
                generate_series(0, 59), i -> chr(CAST(19968 + (k + i) % 64 AS INT))), '')
              ELSE base END AS text
          FROM f),
        c AS (SELECT doc_id,
            CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS INT) AS n_latin,
            CAST(length(text) - length(regexp_replace(text, '[\\x{0400}-\\x{04FF}]', '', 'g')) AS INT) AS n_cyr,
            CAST(length(text) - length(regexp_replace(text, '[\\x{0370}-\\x{03FF}]', '', 'g')) AS INT) AS n_greek,
            CAST(length(text) - length(regexp_replace(text, '[\\x{4E00}-\\x{9FFF}]', '', 'g')) AS INT) AS n_han,
            CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INT) AS n_digit
          FROM t)
        SELECT doc_id, n_latin, n_cyr, n_greek, n_han, n_digit,
          CASE WHEN n_latin >= n_cyr AND n_latin >= n_greek AND n_latin >= n_han
              THEN 'latin'
            WHEN n_cyr >= n_greek AND n_cyr >= n_han THEN 'cyrillic'
            WHEN n_greek >= n_han THEN 'greek'
            ELSE 'han' END AS dominant
        FROM c ORDER BY doc_id""")),

    // E84 — CONTRASTIVE PAIR MINING: the training-pair construction an
    // embedding-model pipeline runs — for each anchor vector, the
    // hardest POSITIVE (most-similar same-label vector, self excluded)
    // and the HARD NEGATIVE (most-similar different-label vector: the
    // pair that actually moves a contrastive loss, unlike a random
    // negative). Declared-ORACLE semantics on a bounded slice (the
    // e_cosine_neardup precedent); at corpus scale the same argmax
    // runs per-IVF-bucket (e28's probe path) instead of all-pairs.
    // Similarities are the e03 bit-exact HOF fold, ties break by
    // candidate id — fully deterministic cross-engine.
    "e84_contrastive_pairs" -> QueryDef(
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val emb = t(s, dir, "embeddings").filter(col("vec_id") < 150)
        val a = emb.select(col("vec_id").as("va"), col("label").as("la"),
          col("embedding").as("ea"))
        val b = emb.select(col("vec_id").as("vb"), col("label").as("lb"),
          col("embedding").as("eb"))
        val pairs = a.join(b, col("va") =!= col("vb"))
          .withColumn("sim", expr(cosineExpr("ea", "eb")))
        def best(filtered: org.apache.spark.sql.DataFrame, idc: String,
            simc: String): org.apache.spark.sql.DataFrame =
          filtered.withColumn("rn", row_number().over(
              W.partitionBy(col("va")).orderBy(col("sim").desc, col("vb"))))
            .filter(col("rn") === 1)
            .select(col("va"), col("la"), col("vb").as(idc),
              round(col("sim"), 6).as(simc))
        val pos = best(pairs.filter(col("la") === col("lb")), "pos_id", "pos_sim")
        val neg = best(pairs.filter(col("la") =!= col("lb")), "neg_id", "neg_sim")
        pos.join(neg.drop("la"), Seq("va"))
          .select(col("va").as("vec_id"), col("la").as("label"),
            col("pos_id"), col("pos_sim"), col("neg_id"), col("neg_sim"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings
            WHERE vec_id < 150),
        p AS (SELECT a.vec_id AS va, a.label AS la, b.vec_id AS vb,
            b.label AS lb,
            ${duckCosine("a.embedding", "b.embedding")} AS sim
          FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        pos AS (SELECT va, la, vb AS pos_id, round(sim, 6) AS pos_sim,
            row_number() OVER (PARTITION BY va ORDER BY sim DESC, vb) AS rn
          FROM p WHERE la = lb),
        neg AS (SELECT va, vb AS neg_id, round(sim, 6) AS neg_sim,
            row_number() OVER (PARTITION BY va ORDER BY sim DESC, vb) AS rn
          FROM p WHERE la <> lb)
        SELECT pos.va AS vec_id, pos.la AS label, pos_id, pos_sim,
          neg_id, neg_sim
        FROM pos JOIN neg ON pos.va = neg.va
        WHERE pos.rn = 1 AND neg.rn = 1
        ORDER BY vec_id""")),

    // E84b — contrastive mining at CORPUS SCALE (VERDICT r9 item 3): the
    // per-IVF-bucket form e84's comment promised, now a driver-gated
    // query over the FULL embeddings table. Vectors first assign to
    // their nearest coarse centroid (IvfAnn.assign — scan-local argmax
    // against broadcast literal centroids, the e28 machinery); the
    // hardest-positive / hard-negative argmax then runs WITHIN each
    // bucket via a bucket-keyed equi-join — pair volume is bounded by
    // Σ bucket² instead of corpus², and the join shuffles on the bucket
    // key like any equi-join (Stress pins the bound at 10×). Anchors
    // whose bucket holds no same-label or no other-label peer drop
    // (inner-join semantics — a real miner widens nprobe for those; the
    // declared query keeps the well-defined single-bucket form).
    // Centroids use the md5 spread-sample rule (e28d precedent) so the
    // oracle re-derives them; bucket argmax = first-max-wins, mirrored
    // by ORDER BY sim DESC, c. Sims are the e03 bit-exact cosine fold.
    "e84b_contrastive_bucketed" -> QueryDef(
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val emb = t(s, dir, "embeddings")
        val k = 8
        val cs: Array[Array[Float]] = emb
          .select(col("vec_id").cast("string").as("id"), col("embedding"))
          .orderBy(md5(col("id").cast("binary")), col("id"))
          .limit(k).collect().map(_.getSeq[Float](1).toArray)
        val indexed = graft.operators.IvfAnn.assign(emb, "embedding", cs)
        val a = indexed.select(col("__ivf_bucket").as("bucket"),
          col("vec_id").as("va"), col("label").as("la"),
          col("embedding").as("ea"))
        val b = indexed.select(col("__ivf_bucket").as("bucket"),
          col("vec_id").as("vb"), col("label").as("lb"),
          col("embedding").as("eb"))
        val pairs = a.join(b, Seq("bucket"))
          .filter(col("va") =!= col("vb"))
          .withColumn("sim", expr(cosineExpr("ea", "eb")))
        def best(filtered: org.apache.spark.sql.DataFrame, idc: String,
            simc: String): org.apache.spark.sql.DataFrame =
          filtered.withColumn("rn", row_number().over(
              W.partitionBy(col("va")).orderBy(col("sim").desc, col("vb"))))
            .filter(col("rn") === 1)
            .select(col("bucket"), col("va"), col("la"), col("vb").as(idc),
              round(col("sim"), 6).as(simc))
        val pos = best(pairs.filter(col("la") === col("lb")), "pos_id", "pos_sim")
        val neg = best(pairs.filter(col("la") =!= col("lb")), "neg_id", "neg_sim")
        pos.join(neg.drop("la", "bucket"), Seq("va"))
          .select(col("va").as("vec_id"), col("la").as("label"),
            col("bucket").cast("int").as("bucket"),
            col("pos_id"), col("pos_sim"), col("neg_id"), col("neg_sim"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH samp AS (SELECT vec_id, embedding FROM embeddings
          ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR) LIMIT 8),
        cs AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
            CAST(vec_id AS VARCHAR)) - 1 AS c, embedding AS cv FROM samp),
        sims AS (SELECT e.vec_id, cs.c,
            ${duckCosine("e.embedding", "cs.cv")} AS sim
          FROM embeddings e CROSS JOIN cs),
        buck AS (SELECT vec_id, c AS bucket FROM (
            SELECT vec_id, c,
              row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c) AS rn
            FROM sims) rr WHERE rn = 1),
        e2 AS (SELECT e.vec_id, e.label, e.embedding, b.bucket
          FROM embeddings e JOIN buck b USING (vec_id)),
        p AS (SELECT a.bucket, a.vec_id AS va, a.label AS la,
            b.vec_id AS vb, b.label AS lb,
            ${duckCosine("a.embedding", "b.embedding")} AS sim
          FROM e2 a JOIN e2 b
            ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        pos AS (SELECT bucket, va, la, vb AS pos_id, round(sim, 6) AS pos_sim,
            row_number() OVER (PARTITION BY va ORDER BY sim DESC, vb) AS rn
          FROM p WHERE la = lb),
        neg AS (SELECT va, vb AS neg_id, round(sim, 6) AS neg_sim,
            row_number() OVER (PARTITION BY va ORDER BY sim DESC, vb) AS rn
          FROM p WHERE la <> lb)
        SELECT pos.va AS vec_id, pos.la AS label,
          CAST(pos.bucket AS INT) AS bucket, pos_id, pos_sim,
          neg_id, neg_sim
        FROM pos JOIN neg ON pos.va = neg.va
        WHERE pos.rn = 1 AND neg.rn = 1
        ORDER BY vec_id""")),

    // E85 — TEMPERATURE-WEIGHTED source mixing (the T5/mT5 α-scaling
    // rule, Raffel et al. / Xue et al.): sampling weights ∝ n_s^α
    // flatten the source distribution so small sources are not drowned
    // (α=1 is proportional, α=0 uniform). α = 0.5 keeps the power a
    // CORRECTLY-ROUNDED IEEE sqrt — bit-identical on both engines, no
    // round() laundering needed on the weights; each source's integer
    // quota is floor(k·w_s), filled in seedless md5-rank order (the
    // e16/e27 determinism), so the sample is exactly reproducible
    // anywhere. Shape: the weight table is a tiny source-keyed
    // aggregate joined back as a broadcast dimension; admission is the
    // e31 rank-filter — no corpus-wide sort.
    "e85_temperature_mix" -> QueryDef(
      (s, dir) => {
        val k = 300
        val W = org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents").filter(col("text").isNotNull)
        val counts = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("w_raw", sqrt(col("n_docs").cast("double")))
        val tot = counts.agg(sum(col("w_raw")).as("tot"))
        val quotas = counts.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"),
            floor(lit(k) * col("w_raw") / col("tot")).cast("int").as("quota"))
        docs.select(col("doc_id"), col("source"),
            md5(col("doc_id").cast("string").cast("binary")).as("rk"))
          .withColumn("rn", row_number().over(
            W.partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))))
          .join(broadcast(quotas), Seq("source"))
          .filter(col("rn") <= col("quota"))
          .select(col("doc_id"), col("source"), col("n_docs"),
            col("quota"), col("rn").cast("int").as("rn"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, source FROM documents
            WHERE text IS NOT NULL),
        c AS (SELECT source, count(*) AS n_docs,
            sqrt(CAST(count(*) AS DOUBLE)) AS w_raw
          FROM d GROUP BY source),
        q AS (SELECT source, n_docs,
            CAST(floor(300 * w_raw / (SELECT sum(w_raw) FROM c)) AS INT)
              AS quota
          FROM c),
        r AS (SELECT doc_id, source,
            row_number() OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM d)
        SELECT r.doc_id, r.source, CAST(q.n_docs AS BIGINT) AS n_docs,
          q.quota, CAST(r.rn AS INT) AS rn
        FROM r JOIN q ON r.source = q.source
        WHERE r.rn <= q.quota ORDER BY r.doc_id""")),

    // E87 — SPAN-CORRUPTION objective prep (the T5 denoising format,
    // Raffel et al. §3.1.4): mask ~15% of tokens, merge ADJACENT
    // masked tokens into one span, replace each span in the input with
    // an ordered sentinel <extra_id_k>, and emit the target as the
    // sentinel-prefixed spans in order — the (input, target) pair a
    // denoising trainer consumes. Masking is the seedless md5 rule
    // (deterministic anywhere); span merging is gaps-and-islands
    // (pos − rank over masked positions), sentinels number by island
    // order. Every window partitions by doc_id — state bounded by
    // document length, never corpus-keyed — and reassembly is
    // doc-bounded, the e40/e65 shape. DuckDB re-derives the mask, the
    // islands, both rendered texts and the counts from the same
    // arithmetic.
    "e87_span_corruption" -> QueryDef(
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val toks = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"))
          .withColumn("h",
            (conv(substring(md5(concat(col("doc_id"), lit(":"), col("pos"))
              .cast("binary")), 1, 2), 16, 10) % 100).cast("int"))
          .withColumn("masked", col("h") < 15)
        val isl = toks.filter(col("masked"))
          .withColumn("ikey", col("pos") - row_number().over(
            W.partitionBy(col("doc_id")).orderBy(col("pos"))))
        val spans = isl.groupBy(col("doc_id"), col("ikey"))
          .agg(min(col("pos")).as("p0"),
            count(lit(1)).cast("int").as("len"),
            array_join(transform(array_sort(collect_list(
              struct(col("pos"), col("tok")))), x => x.getField("tok")), " ")
              .as("span_text"))
          .withColumn("k", row_number().over(
            W.partitionBy(col("doc_id")).orderBy(col("p0"))) - 1)
        val inputParts = toks.filter(!col("masked"))
          .select(col("doc_id"), col("pos"), col("tok").as("out"))
          .unionByName(spans.select(col("doc_id"), col("p0").as("pos"),
            concat(lit("<extra_id_"), col("k"), lit(">")).as("out")))
        val inputs = inputParts
          .groupBy(col("doc_id"))
          .agg(array_join(transform(array_sort(collect_list(
            struct(col("pos"), col("out")))), x => x.getField("out")), " ")
            .as("input_text"))
        val targets = spans.groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("int").as("n_spans"),
            sum(col("len")).cast("int").as("n_masked"),
            array_join(transform(array_sort(collect_list(struct(
              col("k").as("k"),
              concat(lit("<extra_id_"), col("k"), lit("> "), col("span_text"))
                .as("st")))),
              x => x.getField("st")), " ").as("target_text"))
        inputs.join(targets, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_spans"), lit(0)).as("n_spans"),
            coalesce(col("n_masked"), lit(0)).as("n_masked"),
            col("input_text"),
            coalesce(col("target_text"), lit("")).as("target_text"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (SELECT doc_id, i AS pos, toks[i] AS tok
          FROM (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE text IS NOT NULL) d,
          UNNEST(generate_series(1, len(toks))) AS t(i)),
        m AS (SELECT doc_id, pos, tok,
            ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)
              || ':' || CAST(pos AS VARCHAR)), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)
              || ':' || CAST(pos AS VARCHAR)), 2, 1)) - 1) % 100 < 15 AS masked
          FROM tk),
        isl AS (SELECT doc_id, pos, tok,
            pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS ikey
          FROM m WHERE masked),
        spans AS (SELECT doc_id, ikey, min(pos) AS p0,
            CAST(count(*) AS INT) AS len,
            string_agg(tok, ' ' ORDER BY pos) AS span_text
          FROM isl GROUP BY doc_id, ikey),
        ks AS (SELECT doc_id, p0, len, span_text,
            row_number() OVER (PARTITION BY doc_id ORDER BY p0) - 1 AS k
          FROM spans),
        parts AS (
          SELECT doc_id, pos, tok AS outt FROM m WHERE NOT masked
          UNION ALL
          SELECT doc_id, p0, '<extra_id_' || CAST(k AS VARCHAR) || '>' FROM ks),
        inputs AS (SELECT doc_id,
            string_agg(outt, ' ' ORDER BY pos) AS input_text
          FROM parts GROUP BY doc_id),
        tgt AS (SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
            CAST(sum(len) AS INT) AS n_masked,
            string_agg('<extra_id_' || CAST(k AS VARCHAR) || '> ' || span_text,
              ' ' ORDER BY k) AS target_text
          FROM ks GROUP BY doc_id)
        SELECT i.doc_id, coalesce(t.n_spans, 0) AS n_spans,
          coalesce(t.n_masked, 0) AS n_masked, i.input_text,
          coalesce(t.target_text, '') AS target_text
        FROM inputs i LEFT JOIN tgt t ON i.doc_id = t.doc_id
        ORDER BY i.doc_id""")),

    // E88 — FILL-IN-THE-MIDDLE objective prep (Bavarian et al. 2022,
    // arXiv:2207.14255 — the infilling transform code models train
    // with): split each document at two seedless md5-derived cut
    // points into prefix/middle/suffix and render the PSM permutation
    // — prefix, suffix, THEN middle — so the model learns to infill
    // conditioned on both sides. Cut arithmetic keeps all three parts
    // non-empty by construction (a ≤ ⌊n/3⌋ < b); both engines derive
    // the cuts, the three segments and the rendered sample from the
    // same integer arithmetic. Scan-local, zero shuffle.
    "e88_fim_prep" -> QueryDef(
      (s, dir) => {
        def h(tag: String): org.apache.spark.sql.Column =
          (conv(substring(md5(concat(col("doc_id"), lit(tag)).cast("binary")),
            1, 4), 16, 10) % greatest(col("third"), lit(1))).cast("int")
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("n", size(col("toks")))
          .filter(col("n") >= 6)
          .withColumn("third", (col("n") / 3).cast("int"))
          .withColumn("a", lit(1) + h(":a"))
          .withColumn("b", col("n") - h(":b"))
          .withColumn("pre", array_join(expr("slice(toks, 1, a)"), " "))
          .withColumn("mid", array_join(expr("slice(toks, a + 1, b - a - 1)"), " "))
          .withColumn("suf", array_join(expr("slice(toks, b, n - b + 1)"), " "))
          .select(col("doc_id"), col("a").cast("int").as("pre_len"),
            (col("b") - col("a") - 1).cast("int").as("mid_len"),
            (col("n") - col("b") + 1).cast("int").as("suf_len"),
            concat(lit("<|pre|> "), col("pre"), lit(" <|suf|> "), col("suf"),
              lit(" <|mid|> "), col("mid")).as("fim_text"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, toks, len(toks) AS n,
            GREATEST(len(toks) // 3, 1) AS third
          FROM d WHERE len(toks) >= 6),
        c AS (SELECT doc_id, toks, n,
            1 + ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || ':a'), 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || ':a'), 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || ':a'), 3, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || ':a'), 4, 1)) - 1) % third AS a,
            n - ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || ':b'), 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || ':b'), 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || ':b'), 3, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || ':b'), 4, 1)) - 1) % third AS b
          FROM f)
        SELECT doc_id, CAST(a AS INT) AS pre_len,
          CAST(b - a - 1 AS INT) AS mid_len,
          CAST(n - b + 1 AS INT) AS suf_len,
          '<|pre|> ' || array_to_string(toks[1:a], ' ')
            || ' <|suf|> ' || array_to_string(toks[b:n], ' ')
            || ' <|mid|> ' || array_to_string(toks[a+1:b-1], ' ') AS fim_text
        FROM c ORDER BY doc_id""")),

    // E89 — DPO/RLHF PREFERENCE-PAIR construction (Rafailov et al.
    // 2023, arXiv:2305.18290): the prep stage between response sampling
    // and preference training. Candidates arrive scored (here 4 per
    // prompt, scores distinct by construction: v·17 differences are
    // nonzero mod 101); the op picks chosen = argmax score and
    // rejected = argmin score per prompt — max_by/min_by over
    // struct-ordered keys, a PARTIAL-AGG-CLOSED single hash aggregate,
    // deliberately NOT a window (no per-group sort, no full-partition
    // materialization; the 100 TB shape is one keyed shuffle of
    // pre-reduced pairs). Both sequences render through the e80 chat
    // template; prefix_len is the exact shared-prompt char span a DPO
    // loss needs to skip, re-checked against both rendered strings (the
    // e80 mask_ok discipline) — one char of template drift anywhere
    // breaks the row. margin = score gap, > 0 by construction.
    "e89_dpo_pairs" -> QueryDef(
      (s, dir) => {
        val sysP = "<|system|>\nBe helpful.\n"
        t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 24)
          .withColumn("prompt", array_join(slice(col("toks"), 1, 6), " "))
          .select(col("doc_id"), col("prompt"),
            explode(expr("sequence(0, 3)")).as("v"), col("toks"))
          .withColumn("score",
            ((col("doc_id") * 31 + col("v") * 17) % 101).cast("int"))
          .withColumn("resp",
            array_join(expr("slice(toks, 7 + v * 4, 4)"), " "))
          .groupBy(col("doc_id"), col("prompt"))
          .agg(
            max_by(struct(col("v"), col("score"), col("resp")),
              struct(col("score"), -col("v"))).as("ch"),
            min_by(struct(col("v"), col("score"), col("resp")),
              struct(col("score"), col("v"))).as("rj"))
          .withColumn("prefix", concat(lit(sysP), lit("<|user|>\n"),
            col("prompt"), lit("\n<|assistant|>\n")))
          .select(col("doc_id"),
            col("ch.v").cast("int").as("chosen_v"),
            col("rj.v").cast("int").as("rejected_v"),
            (col("ch.score") - col("rj.score")).cast("int").as("margin"),
            length(col("prefix")).as("prefix_len"),
            concat(col("prefix"), col("ch.resp"), lit("<|end|>")).as("chosen_r"),
            concat(col("prefix"), col("rj.resp"), lit("<|end|>")).as("rejected_r"),
            col("prefix").as("p0"))
          .withColumn("prefix_ok",
            (substring(col("chosen_r"), lit(1), col("prefix_len")) === col("p0")) &&
            (substring(col("rejected_r"), lit(1), col("prefix_len")) === col("p0")))
          .drop("p0")
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 24),
        c AS (SELECT doc_id,
            array_to_string(toks[1:6], ' ') AS prompt, v,
            CAST((doc_id * 31 + v * 17) % 101 AS INT) AS score,
            array_to_string(toks[7 + v * 4 : 10 + v * 4], ' ') AS resp
          FROM f, (SELECT unnest(generate_series(0, 3)) AS v)),
        b AS (SELECT *,
            row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, v) AS rb,
            row_number() OVER (PARTITION BY doc_id ORDER BY score ASC, v) AS rw
          FROM c),
        ch AS (SELECT doc_id, prompt, v AS cv, score AS cs, resp AS cr
          FROM b WHERE rb = 1),
        rj AS (SELECT doc_id, v AS rv, score AS rs, resp AS rr
          FROM b WHERE rw = 1),
        j AS (SELECT doc_id, prompt, cv, rv, cs, rs, cr, rr,
            '<|system|>' || chr(10) || 'Be helpful.' || chr(10)
              || '<|user|>' || chr(10) || prompt || chr(10)
              || '<|assistant|>' || chr(10) AS prefix
          FROM ch JOIN rj USING (doc_id))
        SELECT doc_id, CAST(cv AS INT) AS chosen_v, CAST(rv AS INT) AS rejected_v,
          CAST(cs - rs AS INT) AS margin,
          CAST(length(prefix) AS INT) AS prefix_len,
          prefix || cr || '<|end|>' AS chosen_r,
          prefix || rr || '<|end|>' AS rejected_r,
          (substr(prefix || cr || '<|end|>', 1, length(prefix)) = prefix
            AND substr(prefix || rr || '<|end|>', 1, length(prefix)) = prefix)
            AS prefix_ok
        FROM j ORDER BY doc_id""")),

    // E91 — CONVERSATION-THREAD flattening: forum/chat corpora arrive
    // as message TREES (msg_id, parent_id, text); SFT prep needs every
    // root→leaf path as one linearized conversation. The operator
    // discovers leaves STRUCTURALLY (anti-join against the distinct
    // parent set — no construction knowledge leaks in), then walks each
    // leaf to its root with depth-bounded iterative equi-joins on
    // (thread, msg) keys — the e78-HITS shape: per-level keyed
    // shuffles, frontier-sized state, no recursion in the engine and no
    // driver collect; real thread data is depth-bounded, so the static
    // 6-level unroll is the honest plan at any corpus size. The fixture
    // derives per-doc trees of VARYING shape (5/6/7 messages by
    // doc_id%3, heap parenting parent(i) = (i−1)/2, texts from token
    // slices) and the oracle re-walks every path with a recursive CTE —
    // one wrong hop, depth, or join direction anywhere breaks the hash.
    "e91_thread_paths" -> QueryDef(
      (s, dir) => {
        val msgs0 = t(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 21)
          .withColumn("nm", (lit(5) + col("doc_id") % 3).cast("int"))
          .select(col("doc_id"), col("toks"),
            explode(expr("sequence(0, nm - 1)")).as("mid"))
          .select(col("doc_id"), col("mid").cast("int").as("mid"),
            when(col("mid") === 0, lit(null).cast("int"))
              .otherwise(((col("mid") - 1) / 2).cast("int")).as("pid"),
            array_join(expr("slice(toks, 1 + mid * 3, 3)"), " ").as("mtext"))
        // r18 optimization: the message table is map-only (no exchange
        // for ReuseExchange to share) and appears in every unrolled
        // frontier level — ~15 subtree copies re-split the corpus;
        // materialize once (the e78/e45 iterative-recompute fix).
        // r19 evidence (VERDICT r18 item 8): interleaved A/B, 3 rounds,
        // with-checkpoints 2.04/2.22/2.09 s vs without 2.37/2.17/2.50 s —
        // kept (the win the r18 sweep could not see under that window's
        // noise is real, +6-11%).
        val msgs = msgs0.localCheckpoint()
        val parents = msgs.filter(col("pid").isNotNull)
          .select(col("doc_id").as("pd"), col("pid").as("pp")).distinct()
        val leaves = msgs.join(parents,
          msgs("doc_id") === parents("pd") && msgs("mid") === parents("pp"),
          "left_anti")
        val up = msgs.select(col("doc_id").as("d2"), col("mid").as("m2"),
          col("pid").as("p2"), col("mtext").as("t2"))
        var frontier = leaves.select(col("doc_id"), col("mid").as("leaf_id"),
          col("pid").as("nextp"), col("mtext").as("path"),
          lit(1).as("depth"))
        var done = frontier.filter(col("nextp").isNull)
        var i = 0
        while (i < 6) {
          frontier = frontier.filter(col("nextp").isNotNull)
            .join(up, col("doc_id") === col("d2") && col("nextp") === col("m2"))
            .select(col("doc_id"), col("leaf_id"), col("p2").as("nextp"),
              concat(col("t2"), lit(" > "), col("path")).as("path"),
              (col("depth") + 1).as("depth"))
          // per-level materialization: each level otherwise re-executes
          // every level below it, once for the next join and once for
          // the done-union (bounded rows: one per live leaf path)
          frontier = frontier.localCheckpoint()
          done = done.unionByName(frontier.filter(col("nextp").isNull))
          i += 1
        }
        done.select(col("doc_id"), col("leaf_id"),
            col("depth").cast("int").as("depth"), col("path"))
          .orderBy(col("doc_id"), col("leaf_id"))
      },
      Some("""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS toks,
            CAST(5 + doc_id % 3 AS INT) AS nm
          FROM documents WHERE text IS NOT NULL),
        f AS (SELECT doc_id, toks, nm FROM d WHERE len(toks) >= 21),
        m AS (SELECT doc_id, CAST(mid AS INT) AS mid,
            CASE WHEN mid = 0 THEN NULL
              ELSE CAST((mid - 1) // 2 AS INT) END AS pid,
            array_to_string(toks[1 + mid * 3 : 3 + mid * 3], ' ') AS mtext
          FROM f, LATERAL (SELECT unnest(generate_series(0, nm - 1)) AS mid)),
        p AS (SELECT DISTINCT doc_id, pid FROM m WHERE pid IS NOT NULL),
        leaves AS (SELECT m.* FROM m
          ANTI JOIN p ON m.doc_id = p.doc_id AND m.mid = p.pid),
        walk AS (
          SELECT doc_id, mid AS leaf_id, pid AS nextp, mtext AS path,
            1 AS depth
          FROM leaves
          UNION ALL
          SELECT w.doc_id, w.leaf_id, m.pid,
            m.mtext || ' > ' || w.path, w.depth + 1
          FROM walk w JOIN m ON m.doc_id = w.doc_id AND m.mid = w.nextp)
        SELECT doc_id, leaf_id, CAST(depth AS INT) AS depth, path
        FROM walk WHERE nextp IS NULL
        ORDER BY doc_id, leaf_id""")),

    // E71 — DSIR-style importance resampling (Xie et al. 2023,
    // arXiv:2302.03169 "Data Selection via Importance Resampling"): the
    // target-distribution-matching selection op. Bag-of-hashed-unigrams
    // model with B=64 buckets (first two md5 hex chars mod 64); target
    // distribution from the lang='en' slice, source from the whole
    // corpus, both Laplace-smoothed; per-document importance weight
    // log w(x) = Σ_tokens ln(p_target[b]/p_source[b]); selection is
    // Gumbel top-k on log w + g with the e27 seedless uniform, so the
    // sample is deterministic and cross-engine derivable.
    //
    // Float discipline: the per-BUCKET log-ratios are quantized to
    // nano-units as INTEGERS (round(Δln·1e9)), so every document score
    // is an order-free exact integer sum — no cross-engine float-sum
    // drift no matter how Spark's partial aggregates interleave; ln()
    // itself appears only on the 64 bucket constants (the e08 round-
    // after-ln precedent). Scale shape: the bucket tables are 64-row
    // dimensions (broadcast), the token pass is ONE hash aggregate per
    // (doc, bucket), and top-k is TakeOrderedAndProject — no corpus-
    // wide sort, no window, no collect.
    "e71_dsir_resample" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("text").isNotNull)
        val toks = docs.select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("tok"))
          .withColumn("b",
            (conv(substring(md5(col("tok").cast("binary")), 1, 2), 16, 10)
              % 64).cast("int"))
        val spine = docs.sparkSession.range(64)
          .select(col("id").cast("int").as("b"))
        val tgt = toks.filter(col("lang") === "en")
          .groupBy(col("b")).agg(count(lit(1)).as("ct"))
        val src = toks.groupBy(col("b")).agg(count(lit(1)).as("cs"))
        val totals = toks.agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tt"),
          count(lit(1)).as("ts"))
        val lr = spine
          .join(tgt, Seq("b"), "left").join(src, Seq("b"), "left")
          .crossJoin(broadcast(totals))
          .select(col("b"),
            round((log((coalesce(col("ct"), lit(0L)) + lit(1)).cast("double") /
                (col("tt") + lit(64)).cast("double")) -
              log((coalesce(col("cs"), lit(0L)) + lit(1)).cast("double") /
                (col("ts") + lit(64)).cast("double"))) * lit(1e9), 0)
              .cast("long").as("lri"))
        toks.join(broadcast(lr), Seq("b"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("int").as("n_toks"),
            sum(col("lri")).as("si"))
          .withColumn("score", round(col("si").cast("double") / lit(1e9), 6))
          .withColumn("u",
            ((col("doc_id") * 2654435761L) % 4294967311L + 1L).cast("double")
              / lit(4294967312.0))
          .withColumn("g", round(-log(-log(col("u"))), 6))
          .withColumn("priority", round(col("score") + col("g"), 6))
          .select(col("doc_id"), col("n_toks"), col("score"), col("priority"))
          .orderBy(col("priority").desc, col("doc_id"))
          .limit(100)
      },
      Some("""WITH docs AS (SELECT doc_id, lang, text FROM documents
            WHERE text IS NOT NULL),
        toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
          FROM docs),
        tb AS (SELECT doc_id, lang,
            ((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) % 64 AS b
          FROM toks),
        spine AS (SELECT i AS b FROM UNNEST(generate_series(0, 63)) AS t(i)),
        tgt AS (SELECT b, count(*) AS ct FROM tb WHERE lang = 'en' GROUP BY b),
        src AS (SELECT b, count(*) AS cs FROM tb GROUP BY b),
        tot AS (SELECT
            (SELECT count(*) FROM tb WHERE lang = 'en') AS tt,
            (SELECT count(*) FROM tb) AS ts),
        lr AS (SELECT spine.b,
            CAST(round((ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE)
                / (tt + 64)) - ln(CAST(coalesce(cs, 0) + 1 AS DOUBLE)
                / (ts + 64))) * 1e9, 0) AS BIGINT) AS lri
          FROM spine LEFT JOIN tgt ON spine.b = tgt.b
            LEFT JOIN src ON spine.b = src.b, tot),
        sc AS (SELECT tb.doc_id, CAST(count(*) AS INT) AS n_toks,
            sum(lri) AS si
          FROM tb JOIN lr ON tb.b = lr.b GROUP BY tb.doc_id),
        pr AS (SELECT doc_id, n_toks,
            round(CAST(si AS DOUBLE) / 1e9, 6) AS score,
            round(-ln(-ln(CAST((doc_id * 2654435761) % 4294967311 + 1 AS DOUBLE)
              / 4294967312.0)), 6) AS g
          FROM sc)
        SELECT doc_id, n_toks, score, round(score + g, 6) AS priority
        FROM pr ORDER BY priority DESC, doc_id LIMIT 100"""))
  )
}
