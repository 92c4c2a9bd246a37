package graft.operators

import graft.TextFunctions.splitmix64
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate nearest neighbour via random-hyperplane LSH (SURVEY.md §2
  * E3 "scale path"; SimHash-for-vectors).
  *
  * Deterministic hyperplanes derived from splitmix64 (owned seed family, no
  * RNG state): table t gets `bits` planes; a vector's bucket in table t is
  * the sign pattern of its dot products with those planes. Near vectors (by
  * cosine) collide with probability (1 - θ/π)^bits per table; `tables`
  * independent tables boost recall. The candidate join is a plain equi-join
  * on (table, bucket) — shuffle-partitioned, no cartesian — followed by an
  * exact cosine_sim verify. This is the join-shaped 100 TB pattern: bucket
  * cardinality bounds candidate blowup, and skewed buckets fall under AQE
  * skew-join splitting.
  */
object AnnLsh {

  /** Deterministic plane component for (table, bit, dim-index), in (-1, 1). */
  def plane(t: Int, b: Int, d: Int): Double = {
    val h = splitmix64(((t.toLong * 1031 + b) * 8209 + d) * 13007 + 17)
    (h >>> 11).toDouble / (1L << 52).toDouble - 1.0
  }

  /** Bucket ids per table for one embedding. The plane matrix is
    * precomputed once and shipped in the UDF closure — an unrolled SQL
    * expression at tables*bits*dim terms explodes analysis/codegen.
    */
  def bucketsOf(emb: Array[Float], planes: Array[Array[Array[Double]]]): Array[Long] =
    planes.map { tablePlanes =>
      var bucket = 0L
      var b = 0
      while (b < tablePlanes.length) {
        val p = tablePlanes(b)
        var dot = 0.0
        var d = 0
        val n = math.min(p.length, emb.length)
        while (d < n) { dot += emb(d).toDouble * p(d); d += 1 }
        if (dot >= 0) bucket |= (1L << b)
        b += 1
      }
      bucket
    }

  def planeMatrix(dim: Int, tables: Int, bits: Int): Array[Array[Array[Double]]] =
    Array.tabulate(tables, bits, dim)((t, b, d) => plane(t, b, d))

  /** Candidate pairs (id1 < id2) sharing any (table, bucket), with exact
    * cosine similarity attached.
    */
  def nearDupCandidates(
      df: DataFrame, idCol: String, embCol: String,
      dim: Int = 64, tables: Int = 8, bits: Int = 12): DataFrame = {
    // Bucket join runs on LIGHT (table, bucket, id) triples — the fat
    // embedding arrays never shuffle through the pair-generation join (at
    // scale they'd multiply the shuffle volume by `tables`); they re-attach
    // by id afterwards for the exact verify.
    val planes = planeMatrix(dim, tables, bits)
    val bucketsUdf = udf((e: Array[Float]) => if (e == null) null else bucketsOf(e, planes))
    val buckets = df.select(
      col(idCol).as("__id"),
      posexplode(bucketsUdf(col(embCol))))
    val a = buckets.select(col("pos").as("t"), col("col").as("bkt"), col("__id").as("id1"))
    val b = buckets.select(col("pos").as("t2"), col("col").as("bkt2"), col("__id").as("id2"))
    val pairs = a.join(b.hint("shuffle_hash"),
        col("t") === col("t2") && col("bkt") === col("bkt2") && col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    val e1 = df.select(col(idCol).as("id1"), col(embCol).as("e1"))
    val e2 = df.select(col(idCol).as("id2"), col(embCol).as("e2"))
    pairs.join(e1, "id1").join(e2, "id2")
      .select(col("id1"), col("id2"), expr("cosine_sim(e1, e2)").as("sim"))
  }
}
