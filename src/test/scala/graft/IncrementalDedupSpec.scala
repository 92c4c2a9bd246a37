package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IncrementalDedup.verdicts on a hand-built corpus where every expected
  * verdict is known by construction. The driver gate (e38) checks the
  * real-corpus output against the independent Python twin; this spec
  * covers the paths the sf0.01 corpus happens not to exercise (exact-dup
  * across the boundary, exact-dup WITHIN the batch resolving to the
  * earliest copy) and the structural guarantees (old docs never appear
  * in the output even when old×old duplicates exist).
  */
class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Long, mutually dissimilar texts: every token carries a doc-unique
  // stem, so 5-char shingle sets across different bases barely overlap
  // and MinHash est_jaccard stays far below 0.5.
  private def baseText(i: Int): String =
    (0 until 40).map(j => s"q${i}z$j").mkString(" ")

  //  0..7 historical (5 and 6 IDENTICAL — old×old dup must stay silent),
  //  8 = copy of 3 (exact across boundary), 9 = near-copy of 2,
  //  10 = unique, 11 = copy of 8 (within-batch dup -> earliest copy is 3).
  private val docs = Seq(
    (0L, baseText(0)), (1L, baseText(1)), (2L, baseText(2)), (3L, baseText(3)),
    (4L, baseText(4)), (5L, baseText(50)), (6L, baseText(50)), (7L, baseText(7)),
    (8L, baseText(3)),
    (9L, baseText(2).replace("q2z6 ", "q2zX ")),
    (10L, baseText(10)),
    (11L, baseText(3)))

  test("verdicts: exact across boundary, within-batch exact, near, unique") {
    val out = operators.IncrementalDedup
      .verdicts(docs.toDF("doc_id", "text"), "doc_id", "text", threshold = 8L)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(8L, 9L, 10L, 11L),
      "only batch docs in the output — the 5/6 old dup pair must not surface")
    val byId = out.map(r => r.getLong(0) ->
      (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2), !r.isNullAt(3))).toMap
    assert(byId(8L) === (("exact", 3L, false)))
    assert(byId(11L) === (("exact", 3L, false)), "earliest copy wins, not 8")
    assert(byId(9L)._1 === "near")
    assert(byId(9L)._2 === 2L)
    assert(byId(9L)._3, "near verdict carries est_jaccard")
    assert(byId(10L) === (("unique", -1L, false)))
    val est = out.find(_.getLong(0) == 9L).get.getDouble(3)
    assert(est >= 0.5 && est <= 1.0)
  }

  test("empty batch (threshold beyond max id) emits zero rows") {
    val out = operators.IncrementalDedup
      .verdicts(docs.toDF("doc_id", "text"), "doc_id", "text", threshold = 100L)
      .collect()
    assert(out.isEmpty)
  }

  test("verdictsVsIndex: partners come from the index only") {
    val df = docs.toDF("doc_id", "text")
    val out = operators.IncrementalDedup
      .verdictsVsIndex(df.filter(col("doc_id") >= 8), df.filter(col("doc_id") < 8),
        "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(8L, 9L, 10L, 11L))
    val byId = out.map(r => r.getLong(0) ->
      (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(byId(8L) === (("exact", 3L)))
    // 11 duplicates batch-mate 8, but vs-index its partner is still the
    // HISTORICAL copy 3 — within-batch pairs are never generated here
    // (that resolution is verdicts()' compaction job).
    assert(byId(11L) === (("exact", 3L)))
    assert(byId(9L)._1 === "near")
    assert(byId(9L)._2 === 2L)
    assert(byId(10L) === (("unique", -1L)))
  }

  test("verdictsVsIndex: a within-batch-only duplicate reads unique") {
    // 12 and 13 are copies of each other but of nothing historical: the
    // vs-index form must call BOTH unique (verdict independent of how a
    // stream slices them into micro-batches).
    val df = (docs ++ Seq((12L, baseText(60)), (13L, baseText(60))))
      .toDF("doc_id", "text")
    val out = operators.IncrementalDedup
      .verdictsVsIndex(df.filter(col("doc_id") >= 12), df.filter(col("doc_id") < 8),
        "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((12L, "unique"), (13L, "unique")))
  }

  test("e38 over an empty documents table returns no rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_e38_empty").toString
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    assert(SparkEntry.queries("e38_incremental_dedup")(spark, dir).collect().isEmpty)
  }
}
