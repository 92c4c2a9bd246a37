package graft

import graft.operators.BroadcastSpatialJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Broadcast-index spatial join: inner-join semantics (multiplicity, null
  * drop, predicate direction), equivalence with the stock join, and the
  * no-shuffle plan claim.
  */
class BroadcastSpatialJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def boxes(rows: Seq[(Long, Double, Double, Double, Double)], g: String) = {
    import spark.implicits._
    rows.toDF("id", "x0", "y0", "x1", "y1")
      .select(col("id"),
        GeoFunctions.st_makebox(col("x0"), col("y0"), col("x1"), col("y1")).as(g))
  }

  test("matches the stock join on random boxes (inner semantics, all predicates)") {
    val rnd = new scala.util.Random(7)
    def randBoxes(n: Int, g: String, idBase: Long) = boxes(
      (0 until n).map { i =>
        val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 100
        (idBase + i, x, y, x + rnd.nextDouble() * 20, y + rnd.nextDouble() * 20)
      }, g)
    val big = randBoxes(200, "gb", 1000)
    val small = randBoxes(15, "ga", 1).withColumnRenamed("id", "rid")
    for (pred <- Seq("intersects", "contains", "within")) {
      val got = BroadcastSpatialJoin(big, small, "gb", "ga", pred)
        .select(col("id"), col("rid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val predCol = pred match {
        case "intersects" => GeoFunctions.st_intersects(col("gb"), col("ga"))
        case "contains" => GeoFunctions.st_contains(col("gb"), col("ga"))
        case "within" => GeoFunctions.st_within(col("gb"), col("ga"))
      }
      val want = big.join(small, predCol)
        .select(col("id"), col("rid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === want, s"predicate $pred")
    }
  }

  test("duplicate big rows keep multiplicity; null geometries drop") {
    import spark.implicits._
    val big = boxes(Seq((1L, 0.0, 0.0, 10.0, 10.0), (1L, 0.0, 0.0, 10.0, 10.0)), "gb")
      .unionAll(Seq(9L).toDF("id").withColumn("gb", lit(null).cast("binary")))
    val small = boxes(Seq((100L, 5.0, 5.0, 15.0, 15.0)), "ga")
      .withColumnRenamed("id", "rid")
    val out = BroadcastSpatialJoin(big, small, "gb", "ga")
      .select(col("id"), col("rid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out === Seq((1L, 100L), (1L, 100L)))
  }

  test("null geometries on the SMALL side drop from the index") {
    import spark.implicits._
    val big = boxes(Seq((1L, 0.0, 0.0, 10.0, 10.0)), "gb")
    val small = boxes(Seq((100L, 5.0, 5.0, 15.0, 15.0)), "ga")
      .unionAll(Seq(101L).toDF("id").withColumn("ga", lit(null).cast("binary")))
      .withColumnRenamed("id", "rid")
    val out = BroadcastSpatialJoin(big, small, "gb", "ga")
      .select(col("id"), col("rid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out === Seq((1L, 100L)))
  }

  test("no shuffle: the plan carries no Exchange over the big side") {
    val big = boxes((1L to 50L).map(i =>
      (i, i * 10.0, 0.0, i * 10.0 + 5.0, 5.0)), "gb")
    val small = boxes(Seq((100L, 95.0, 0.0, 125.0, 5.0)), "ga")
      .withColumnRenamed("id", "rid")
    val joined = BroadcastSpatialJoin(big, small, "gb", "ga")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"broadcast spatial join must not shuffle:\n$plan")
    // boxes 9 (boundary touch at 95), 10, 11, 12 intersect [95, 125]
    assert(joined.count() === 4)
  }
}
