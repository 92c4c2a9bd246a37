package graft

import graft.operators.{ImageNearDup, Multimodal}
import org.scalatest.funsuite.AnyFunSuite

/** imageAHash64 + ImageNearDup: the hash is checked against an
  * INDEPENDENT in-test implementation over raw pixel arrays (catching
  * orientation and cell-boundary bugs the engine's own decode path could
  * mask), its shift-invariance property is exercised, and the banded
  * hamming join is proven lossless against a brute-force pair scan.
  */
class ImageHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Independent aHash reference: brightness grid (top-down, row-major)
    * → 8×8 floor cells → strict cross-multiplied threshold, bit k at
    * hash position 63−k. Written directly from the scaladoc contract,
    * sharing no code with the engine.
    */
  private def refHash(w: Int, h: Int, bright: Array[Int]): Long = {
    val cs = new Array[Long](64)
    val cn = new Array[Long](64)
    var tot = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val k = (y * 8 / h) * 8 + x * 8 / w
      cs(k) += bright(y * w + x); cn(k) += 1; tot += bright(y * w + x)
    }
    val n = w.toLong * h
    (0 until 64).foldLeft(0L) { (acc, k) =>
      if (cs(k) * n > tot * cn(k)) acc | (1L << (63 - k)) else acc
    }
  }

  /** Brightness of a makeBmp fixture, decoded independently (bottom-up
    * rows, 4-byte padding skipped).
    */
  private def bmpBright(bmp: Array[Byte], w: Int, h: Int): Array[Int] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val v = new Array[Int](w * h)
    for (r <- 0 until h; c <- 0 until w) {
      val o = 54 + r * rowBytes + c * 3
      v((h - 1 - r) * w + c) =
        (bmp(o) & 0xff) + (bmp(o + 1) & 0xff) + (bmp(o + 2) & 0xff)
    }
    v
  }

  test("BMP hash equals the independent reference (sizes incl. non-multiples of 8)") {
    for ((w, h, seed) <- Seq((16, 16, 1L), (24, 16, 2L), (13, 9, 3L), (8, 8, 4L), (37, 21, 5L))) {
      val bmp = Multimodal.makeBmp(w, h, seed)
      val got = Multimodal.imageAHash64(bmp)
      assert(got === Some(refHash(w, h, bmpBright(bmp, w, h))), s"($w,$h,$seed)")
    }
  }

  test("thumbnail embedding equals the independent cell means") {
    for ((w, h, seed) <- Seq((16, 16, 70L), (13, 9, 71L), (37, 21, 72L))) {
      val bmp = Multimodal.makeBmp(w, h, seed)
      val bright = bmpBright(bmp, w, h)
      val cs = new Array[Long](64)
      val cn = new Array[Long](64)
      for (y <- 0 until h; x <- 0 until w) {
        val k = (y * 8 / h) * 8 + x * 8 / w
        cs(k) += bright(y * w + x); cn(k) += 1
      }
      val expected = Array.tabulate(64)(k => cs(k).toDouble / cn(k))
      assert(Multimodal.imageThumb64(bmp).map(_.toSeq) === Some(expected.toSeq), s"($w,$h)")
    }
    assert(Multimodal.imageThumb64(Multimodal.makeBmp(7, 16, 73L)).isEmpty)
  }

  test("uniform brightness shift never changes the hash") {
    val w = 16; val h = 12
    val base = Multimodal.makeBmp(w, h, 99L)
    val rowBytes = (w * 3 + 3) / 4 * 4
    // halve every pixel byte (headroom), then add a constant: same hash
    val halved = base.clone()
    val shifted = base.clone()
    for (r <- 0 until h; i <- 0 until w * 3) {
      val o = 54 + r * rowBytes + i
      halved(o) = ((base(o) & 0xff) / 2).toByte
      shifted(o) = (((base(o) & 0xff) / 2) + 60).toByte
    }
    val hHalved = Multimodal.imageAHash64(halved)
    assert(hHalved.isDefined)
    assert(Multimodal.imageAHash64(shifted) === hHalved)
  }

  test("every decodable format hashes; tiny and undecodable inputs reject") {
    assert(Multimodal.imageAHash64(Multimodal.makeBmp(16, 16, 7L)).isDefined)
    assert(Multimodal.imageAHash64(Multimodal.makePngPixels(12, 10, 8L)).isDefined)
    assert(Multimodal.imageAHash64(Multimodal.makeGifPixels(16, 9, 9L)).isDefined)
    assert(Multimodal.imageAHash64(Multimodal.makeJpegPixels(2, 1, q0 = 2, seed = 10L)).isDefined)
    assert(Multimodal.imageAHash64(Multimodal.makeJpegColorPixels(2, 2, q0 = 2, seed = 11L)).isDefined)
    assert(Multimodal.imageAHash64(Multimodal.makeJpegRestartPixels(3, 1, q0 = 2, dri = 2, seed = 14L)).isDefined)
    assert(Multimodal.imageAHash64(Multimodal.makeJpegProgressivePixels(2, 1, q0 = 2, seed = 15L)).isDefined)
    assert(Multimodal.imageAHash64(Multimodal.makeGifPixels(16, 9, 16L, interlaced = true)).isDefined)
    assert(Multimodal.imageAHash64(Multimodal.makeBmp(7, 16, 12L)).isEmpty) // w < 8
    assert(Multimodal.imageAHash64(Multimodal.makeGifPixels(16, 7, 13L)).isEmpty) // h < 8
    assert(Multimodal.imageAHash64(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.imageAHash64(null).isEmpty)
  }

  test("byte-identical images collide; small perturbations stay close") {
    val base = Multimodal.makeBmp(16, 16, 321L)
    assert(Multimodal.imageAHash64(base.clone()) === Multimodal.imageAHash64(base))
    // +2 on the blue channel of three pixels: at most a handful of bits
    val tweaked = base.clone()
    val rowBytes = 16 * 3
    for ((x, y) <- Seq((2, 3), (9, 7), (14, 12))) {
      val o = 54 + y * rowBytes + x * 3
      tweaked(o) = (math.min(253, tweaked(o) & 0xff) + 2).toByte
    }
    val d = java.lang.Long.bitCount(
      Multimodal.imageAHash64(base).get ^ Multimodal.imageAHash64(tweaked).get)
    assert(d <= 3, s"hamming $d after a 3-pixel tweak")
  }

  /** Independent envelope-hash reference over raw samples. */
  private def refAudioHash(samples: Array[Int]): Long = {
    val n = samples.length
    val cs = new Array[Long](64)
    val cn = new Array[Long](64)
    var tot = 0L
    samples.zipWithIndex.foreach { case (v, i) =>
      val k = (i.toLong * 64 / n).toInt
      cs(k) += math.abs(v); cn(k) += 1; tot += math.abs(v)
    }
    (0 until 64).foldLeft(0L) { (acc, k) =>
      if (cs(k) * n > tot * cn(k)) acc | (1L << (63 - k)) else acc
    }
  }

  private def wavOf(samples: Array[Int]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(44 + 2 * samples.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * samples.length)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(2 * samples.length)
    samples.foreach(v => out.putShort(v.toShort))
    out.array()
  }

  test("audio envelope hash equals the independent reference") {
    for (seed <- Seq(50L, 51L, 52L)) {
      val wav = Multimodal.makeWav(1, 8000, 300, seed)
      val samples = (0 until 300).map { i =>
        (((wav(44 + 2 * i) & 0xff) | ((wav(45 + 2 * i) & 0xff) << 8)).toShort).toInt
      }.toArray
      assert(Multimodal.audioEnvelopeHash64(wav) === Some(refAudioHash(samples)))
    }
  }

  test("audio hash is invariant under exact volume doubling; rejects tiny clips") {
    val rnd = new scala.util.Random(60L)
    val samples = Array.fill(200)(rnd.nextInt(20001) - 10000)
    val h1 = Multimodal.audioEnvelopeHash64(wavOf(samples))
    assert(h1.isDefined)
    assert(Multimodal.audioEnvelopeHash64(wavOf(samples.map(_ * 2))) === h1)
    assert(Multimodal.audioEnvelopeHash64(wavOf(Array.fill(63)(5))).isEmpty) // < 64
    assert(Multimodal.audioEnvelopeHash64(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("SQL surface: image_ahash64 / audio_envelope_hash64 / image_thumb64 registered") {
    import spark.implicits._
    val img = Multimodal.makeBmp(16, 16, 80L)
    val wav = Multimodal.makeWav(1, 8000, 128, 81L)
    val row = Seq((img, wav)).toDF("img", "wav")
      .selectExpr("image_ahash64(img) AS h", "audio_envelope_hash64(wav) AS a",
        "image_thumb64(img) AS t")
      .collect()(0)
    assert(Option(row.getAs[java.lang.Long]("h")).map(_.toLong) ===
      Multimodal.imageAHash64(img))
    assert(Option(row.getAs[java.lang.Long]("a")).map(_.toLong) ===
      Multimodal.audioEnvelopeHash64(wav))
    assert(Option(row.getSeq[Double](2)).map(_.toArray.toSeq) ===
      Multimodal.imageThumb64(img).map(_.toSeq))
    // undecodable content -> NULL, never an exception
    val bad = Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("b")
      .selectExpr("image_ahash64(b)", "audio_envelope_hash64(b)", "image_thumb64(b)")
      .collect()(0)
    assert(bad.isNullAt(0) && bad.isNullAt(1) && bad.isNullAt(2))
  }

  test("banded pair join is lossless vs brute force (maxDist 3 and 4)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    // 240 random hashes + 60 controlled near-dups (flip <= maxDist bits)
    val baseHashes = Seq.fill(240)(rnd.nextLong())
    val nearDups = baseHashes.take(60).map { v =>
      (1 to rnd.nextInt(4)).foldLeft(v)((acc, _) => acc ^ (1L << rnd.nextInt(64)))
    }
    val all = (baseHashes ++ nearDups).zipWithIndex
      .map { case (v, i) => (f"img$i%04d", v) }
    for (maxDist <- Seq(3, 4)) {
      val expected = (for {
        (id1, h1) <- all
        (id2, h2) <- all
        if id1 < id2 && java.lang.Long.bitCount(h1 ^ h2) <= maxDist
      } yield (id1, id2, java.lang.Long.bitCount(h1 ^ h2))).toSet
      val got = ImageNearDup.pairs(all.toDF("id", "h"), "id", "h", maxDist)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(got === expected, s"maxDist=$maxDist")
      assert(expected.nonEmpty)
    }
  }
}
