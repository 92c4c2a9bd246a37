package graft

import graft.operators.TopK
import org.scalatest.funsuite.AnyFunSuite

/** C36/E4: bounded top-k aggregator must agree with the window-function
  * formulation while never buffering more than k rows per partition.
  */
class TopKSpec extends AnyFunSuite {

  test("TopK agrees with orderBy().limit() per group") {
    val spark = TestSpark.spark
    import spark.implicits._
    val scored = (0L until 1000L).map(i => (i % 7, (i * 37 % 1000).toDouble, i))
      .toDF("g", "score", "id").as[(Long, Double, Long)]

    val agg = new TopK(3).toColumn
    val got = scored
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.name("top"))
      .collect()
      .toMap

    // reference: brute force per group
    val ref = (0L until 1000L).map(i => (i % 7, ((i * 37 % 1000).toDouble, i)))
      .groupBy(_._1)
      .map { case (g, xs) =>
        g -> xs.map(_._2).sortBy { case (s, id) => (-s, id) }.take(3)
      }
    ref.foreach { case (g, expect) =>
      assert(got(g).toSeq === expect, s"group $g")
    }
  }

  test("TopK reduce never grows past k") {
    val t = new TopK(5)
    var buf = t.zero
    (1 to 100).foreach(i => buf = t.reduce(buf, (i.toDouble, i.toLong)))
    assert(buf.size === 5)
    assert(buf.map(_._1) === Seq(100.0, 99.0, 98.0, 97.0, 96.0))
  }
}
