package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbour — the coarse-quantizer
  * scale path named by the driver north star next to LSH (operators.AnnLsh).
  *
  * Shape (and why it survives 100 TB):
  *  - `centroids`: k representative vectors chosen DETERMINISTICALLY by a
  *    hash-spread sample (k is small — a driver-side array, broadcast as
  *    literals). `refine` Lloyd-iterates them with DECIMAL-exact
  *    per-dimension sums, so the distributed mean is order-independent
  *    (a float sum would make the quantizer depend on partitioning) —
  *    deterministic k-means steps inside the engine, no offline job.
  *  - `assign`: bucket = argmax over k codegen'd `cosine_sim` calls against
  *    literal centroids — a scan-local projection, no shuffle, no UDF. At
  *    ingest time this is a partition/bucket column for the parquet write.
  *  - `search`: probe the `nprobe` centroids nearest the query, then
  *    brute-force ONLY vectors in the probed buckets (a pushdown-able
  *    `bucket IN (...)` filter + one TakeOrdered). Candidate set shrinks
  *    ~k/nprobe-fold; with nprobe = k the result is EXACTLY the
  *    brute-force top-k, which is the oracle twin (`e_ann_ivf`).
  */
object IvfAnn {

  /** k deterministic centroids: the k corpus vectors with the smallest
    * xxhash64(id) — a seeded spread sample, stable across runs/layouts.
    */
  def centroids(emb: DataFrame, idCol: String, vecCol: String, k: Int): Array[Array[Float]] =
    emb.select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(k)
      .collect()
      .map(_.getSeq[Float](1).toArray)

  /** Lloyd refinement, deterministic: `iters` rounds of assign → exact
    * per-bucket mean. Per-dimension sums run as DECIMAL(28,10) — exact, so
    * the mean does not depend on partition/merge order the way float sums
    * do — and the k×dim sums collect to the driver (tiny). A bucket that
    * loses all members keeps its previous centroid (standard empty-cluster
    * handling, also deterministic). Full-probe exactness is centroid-
    * independent, so `e_ann_ivf`'s brute-force oracle holds for refined
    * quantizers too; refinement only moves RECALL at partial probe
    * (IvfAnnSpec measures it on the clustered fixture).
    */
  def refine(emb: DataFrame, vecCol: String,
      cs: Array[Array[Float]], iters: Int): Array[Array[Float]] = {
    var cur = cs
    (1 to iters).foreach { _ =>
      val sums = assign(emb, vecCol, cur)
        .select(col("__ivf_bucket").as("b"), posexplode(col(vecCol)))
        .groupBy(col("b"), col("pos"))
        .agg(sum(col("col").cast("decimal(28,10)")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cur.map(_.clone())
      sums.foreach { r =>
        val b = r.getLong(0).toInt
        val p = r.getInt(1)
        // a null sum means the decimal(28,10) cast overflowed (|component|
        // >= 1e18 — far beyond any real embedding, but Float allows it):
        // keep the previous centroid rather than NPE / poison the mean
        if (!r.isNullAt(2))
          next(b)(p) = (r.getDecimal(2).doubleValue() / r.getLong(3)).toFloat
      }
      cur = next
    }
    cur
  }

  /** Per-centroid cosine columns against literal centroids (codegen'd). */
  private def simArray(vecCol: Column, cs: Array[Array[Float]]): Column =
    array(cs.toIndexedSeq.map(c => call_function("cosine_sim", vecCol, typedlit(c))): _*)

  /** argmax bucket id (first max wins — deterministic); NULL-sim (zero
    * norm) vectors land in bucket 0.
    */
  def assign(emb: DataFrame, vecCol: String, cs: Array[Array[Float]]): DataFrame =
    emb.withColumn("__sims", simArray(col(vecCol), cs))
      .withColumn("__ivf_bucket",
        coalesce(expr("array_position(__sims, array_max(__sims)) - 1"), lit(0L)))
      .drop("__sims")

  /** Buckets (indices into `cs`) nearest to `q`, best first. */
  def probeOrder(q: Array[Float], cs: Array[Array[Float]]): Array[Int] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0 || nb == 0) Double.MinValue else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    cs.indices.sortBy(i => (-cos(q, cs(i)), i)).toArray
  }

  /** Top-k by cosine within the `nprobe` probed buckets. */
  def search(
      indexed: DataFrame, idCol: String, vecCol: String,
      cs: Array[Array[Float]], q: Array[Float],
      topK: Int, nprobe: Int): DataFrame = {
    val probes = probeOrder(q, cs).take(nprobe).map(_.toLong)
    indexed
      .filter(col("__ivf_bucket").isin(probes.toIndexedSeq: _*))
      .select(col(idCol),
        call_function("cosine_sim", col(vecCol), typedlit(q)).as("sim"))
      .filter(col("sim").isNotNull)
      .orderBy(col("sim").desc, col(idCol))
      .limit(topK)
  }
}
