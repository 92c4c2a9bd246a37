package graft

import graft.operators.ProductQuantizer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product quantization invariants (the e28 oracle pins cross-engine
  * exactness; this spec pins the operator's own algebra).
  */
class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val emb = ClusteredEmbeddings.df(spark)
    .select(col("id").as("vec_id"), col("embedding"))
  private lazy val cb =
    ProductQuantizer.codebook(emb, "vec_id", "embedding", m = 8, k = 16)

  test("codebook shape and determinism") {
    assert(cb.length === 8 && cb.forall(_.length === 16) &&
      cb.forall(_.forall(_.length === 4))) // 32 dims / 8 subspaces
    val again = ProductQuantizer.codebook(emb, "vec_id", "embedding", m = 8, k = 16)
    assert(cb.flatten.flatten.toSeq === again.flatten.flatten.toSeq)
  }

  test("codes pack 8 nibbles, each below k, deterministically") {
    val codes = ProductQuantizer.encode(emb, "embedding", cb)
      .select(col("vec_id"), col("__pq_code")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codes.size === ClusteredEmbeddings.vectors.size)
    codes.values.foreach { code =>
      (0 until 8).foreach { j =>
        val nib = (code >>> (4 * j)) & 15
        assert(nib >= 0 && nib < 16)
      }
      assert((code >>> 32) === 0L) // nothing above the 8 packed nibbles
    }
    val again = ProductQuantizer.encode(emb, "embedding", cb)
      .select(col("vec_id"), col("__pq_code")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codes === again)
  }

  test("a codebook member encodes to its own centroid index in every subspace") {
    // the sampled codebook vectors ARE corpus rows: their sub-distance to
    // their own centroid is exactly 0, so argmin must pick it (or an
    // exact duplicate with a smaller index — not present in this fixture)
    val sampleIds = emb
      .select(col("vec_id").cast("string").as("id"), col("embedding"))
      .orderBy(md5(col("id").cast("binary")), col("id"))
      .limit(16).collect().map(_.getString(0).toLong)
    val codes = ProductQuantizer.encode(emb, "embedding", cb)
      .filter(col("vec_id").isin(sampleIds.toIndexedSeq: _*))
      .select(col("vec_id"), col("__pq_code")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sampleIds.zipWithIndex.foreach { case (id, c) =>
      (0 until 8).foreach { j =>
        assert(((codes(id) >>> (4 * j)) & 15) === c,
          s"sample $id (centroid $c) mis-coded in subspace $j")
      }
    }
  }

  test("native PqEncode matches the HOF formulation code-for-code") {
    // the codegen'd expression and the aggregate∘zip_with twin must agree
    // on every vector — same fold order, same first-min tie-break
    val native = ProductQuantizer.encode(emb, "embedding", cb)
      .select(col("vec_id"), col("__pq_code")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = ProductQuantizer.encodeHof(emb, "embedding", cb)
      .select(col("vec_id"), col("__pq_code")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native === hof)
    // short, null, and non-finite vectors reject on the native path — a
    // NaN component makes every distance NaN, which must surface as NULL,
    // never a silent centroid-0 code
    import spark.implicits._
    val nanVec = Array.fill(32)(1.0f); nanVec(5) = Float.NaN
    val odd = Seq((1L, Array(0.5f, 1.5f)),
      (2L, null.asInstanceOf[Array[Float]]), (3L, nanVec))
      .toDF("vec_id", "embedding")
    val got = ProductQuantizer.encode(odd, "embedding", cb)
      .select(col("__pq_code")).collect()
    assert(got.forall(_.isNullAt(0)))
  }

  test("a NULL slot inside the embedding rejects to NULL, never quantizes garbage") {
    // ArrayData.getFloat on a null slot reads an undefined value; the
    // expression must NULL out instead (matching the HOF twin, which
    // propagates NULL through zip_with/aggregate)
    import spark.implicits._
    val holey = Seq(
      (1L, Array.fill[Option[Float]](32)(Some(1.0f)).updated(7, Option.empty[Float])),
      (2L, Array.fill[Option[Float]](32)(Some(0.25f))))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val got = ProductQuantizer.encode(holey, "embedding", cb)
      .orderBy(col("vec_id")).select(col("__pq_code")).collect()
    assert(got(0).isNullAt(0), "holey vector must encode to NULL")
    assert(!got(1).isNullAt(0), "clean vector still encodes")
  }

  test("adcSearch never ranks rejected (NULL-code) vectors into the top-k") {
    // ascending orderBy is nulls-first: without the explicit filter a
    // corrupt vector (NULL __pq_code -> NULL adc_dist) would occupy the
    // top-k ahead of every real neighbor
    import spark.implicits._
    val q = ClusteredEmbeddings.vectors.head._2
    val nanVec = Array.fill(32)(1.0f); nanVec(3) = Float.NaN
    val corrupt = Seq((100000L, Array(1.0f, 2.0f)), (100001L, nanVec))
      .toDF("vec_id", "embedding")
    val encoded = ProductQuantizer.encode(emb.unionByName(corrupt), "embedding", cb)
    val top = ProductQuantizer.adcSearch(encoded, "vec_id", q, cb, topK = 10).collect()
    assert(top.length === 10)
    assert(top.forall(r => r.getLong(0) < 100000L), "corrupt ids leaked into top-k")
    assert(top.forall(!_.isNullAt(1)), "NULL adc_dist leaked into top-k")
  }

  test("IVF+PQ partial probe keeps the true cluster (the production composition)") {
    // nprobe = 2 of 8 buckets prunes most of the corpus, yet the ADC
    // top-10 must still come from the query's true cluster — bucket
    // geometry and quantized distance agree on well-separated data
    val q = ClusteredEmbeddings.vectors.head._2
    val cs = operators.IvfAnn.centroids(emb, "vec_id", "embedding", 8)
    val indexed = operators.IvfAnn.assign(emb, "embedding", cs)
    val encoded = ProductQuantizer.encode(indexed, "embedding", cb)
    val probes = operators.IvfAnn.probeOrder(q, cs).take(2).map(_.toLong)
    val top = ProductQuantizer.adcSearch(
      encoded.filter(col("__ivf_bucket").isin(probes.toIndexedSeq: _*)),
      "vec_id", q, cb, topK = 10).collect()
    assert(top.length === 10)
    val sameCluster = top.map(_.getLong(0)).count(id =>
      ClusteredEmbeddings.vectors(id.toInt)._3 === ClusteredEmbeddings.vectors.head._3)
    assert(sameCluster >= 8, s"only $sameCluster/10 from the true cluster at nprobe=2")
  }

  test("rerank recovers exact top-k where raw ADC ties a whole cluster") {
    // at m=8/k=16 resolution every member of a tight cluster gets the
    // SAME code, so raw ADC ranks within the cluster by id (recall ~k/|C|);
    // the shortlist+exact-rerank path must return the TRUE exact top-10
    val (qid, q, _) = ClusteredEmbeddings.vectors.head
    val encoded = ProductQuantizer.encode(emb, "embedding", cb)
    val got = ProductQuantizer.adcSearchRerank(
      encoded, "vec_id", "embedding", q, cb, shortlist = 50, topK = 10)
      .collect().map(_.getLong(0)).toSeq
    val exact = ClusteredEmbeddings.vectors
      .map { case (id, v, _) => (id, ClusteredEmbeddings.cosine(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1)
    assert(got === exact, "rerank diverged from exact cosine top-10")
    assert(got.head === qid, "self-query must rank itself first")
  }

  test("ADC self-query ranks the query vector first on clustered data") {
    val q = ClusteredEmbeddings.vectors.head._2
    val encoded = ProductQuantizer.encode(emb, "embedding", cb)
    val top = ProductQuantizer.adcSearch(encoded, "vec_id", q, cb, topK = 10)
      .collect()
    assert(top.length === 10)
    // distances ascend and are non-negative
    val ds = top.map(_.getDouble(1))
    assert(ds.forall(_ >= 0.0) && ds.sameElements(ds.sorted))
    // the query's own cluster dominates the top-10: quantized distance
    // must preserve the coarse geometry (cluster separation >> quant error)
    val sameCluster = top.map(_.getLong(0)).count(id =>
      ClusteredEmbeddings.vectors(id.toInt)._3 === ClusteredEmbeddings.vectors.head._3)
    assert(sameCluster >= 8, s"only $sameCluster/10 from the true cluster")
  }
}
