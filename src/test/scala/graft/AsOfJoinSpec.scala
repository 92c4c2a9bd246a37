package graft

import graft.operators.AsOfJoin
import org.scalatest.funsuite.AnyFunSuite

class AsOfJoinSpec extends AnyFunSuite {

  test("asOf picks latest right row at ts <= left ts, per key; inclusive ties") {
    val spark = TestSpark.spark
    import spark.implicits._
    val left = Seq((1L, 10L, "l1"), (1L, 20L, "l2"), (2L, 5L, "l3"))
      .toDF("k", "ts", "lv")
    val right = Seq((1L, 5L, "r5"), (1L, 10L, "r10"), (1L, 15L, "r15"), (2L, 9L, "r9"))
      .toDF("k", "rts", "rv")

    val out = AsOfJoin.asOf(left, right,
        partitionCols = Seq("k"), leftTs = "ts", rightTs = "rts",
        rightVals = Seq("rv"))
      .select("k", "lv", "rv").as[(Long, String, String)]
      .collect().toSet

    assert(out === Set(
      (1L, "l1", "r10"), // tie at ts=10 matches inclusively
      (1L, "l2", "r15"),
      (2L, "l3", null))) // right ts=9 > left ts=5 -> no match
  }

  test("matched row with null value stays null (no fall-through) and is_match distinguishes it") {
    val spark = TestSpark.spark
    import spark.implicits._
    val left = Seq((1L, 10L, "early"), (1L, 30L, "late"), (2L, 10L, "alone"))
      .toDF("k", "ts", "lv")
    // latest right row for "late" has rv = null — the OLD ignoreNulls
    // per-column fill leaked "r5" into it; the struct fill must not
    val right = Seq((1L, 5L, Some("r5")), (1L, 20L, None), (2L, 99L, Some("never")))
      .toDF("k", "rts", "rv")

    val out = AsOfJoin.asOf(left, right,
        partitionCols = Seq("k"), leftTs = "ts", rightTs = "rts",
        rightVals = Seq("rv"))
      .select("k", "lv", "rv", "is_match").as[(Long, String, String, Boolean)]
      .collect().toSet

    assert(out === Set(
      (1L, "early", "r5", true),
      (1L, "late", null, true), // matched ts=20 row carries ITS null
      (2L, "alone", null, false))) // genuinely unmatched
  }

  test("matchMarker = None omits the marker column") {
    val spark = TestSpark.spark
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "ts")
    val right = Seq((1L, 5L, 7.5)).toDF("k", "rts", "rv")
    val out = AsOfJoin.asOf(left, right, Seq("k"), "ts", "rts", Seq("rv"),
      matchMarker = None)
    assert(!out.columns.contains("is_match"))
    assert(out.select("rv").as[Double].collect().toSeq === Seq(7.5))
  }
}
