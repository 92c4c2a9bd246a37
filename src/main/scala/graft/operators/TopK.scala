package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k aggregator (SURVEY.md §2 C36, §4.3 KNN batching).
  *
  * The window-function top-k (row_number over full sort) shuffles and sorts
  * EVERY scored row per group; this Aggregator keeps only k candidates per
  * partition (map-side) and merges k-sized buffers (reduce-side) — the
  * bounded-memory path for KNN joins where the per-group candidate count is
  * huge (100 TB corpus vs broadcast query batch). Ties broken by id
  * ascending for deterministic output.
  */
class TopK(k: Int) extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {

  // java.lang.Double.compare gives a TOTAL order (NaN sorts greatest),
  // so sortWith never violates strict-weak-ordering even on NaN scores
  // and NaN ranks first on DESC — matching the window/row_number path.
  private def best(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  override def zero: Seq[(Double, Long)] = Vector.empty

  override def reduce(buf: Seq[(Double, Long)], x: (Double, Long)): Seq[(Double, Long)] =
    if (buf.size < k) (buf :+ x).sortWith(best)
    else if (best(x, buf.last)) (buf.init :+ x).sortWith(best)
    else buf

  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
    (a ++ b).sortWith(best).take(k)

  override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()

  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
}
