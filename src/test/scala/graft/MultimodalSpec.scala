package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** E12 plumbing: binaryFile -> batched mapPartitions feature extraction.
  * The decode is a documented stub; schema, batch shape and determinism
  * are the real assertions.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def blobs = {
    val dir = "/tmp/graft_test/mm_blobs"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    (0 until 10).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$dir/img$i%02d.bin"),
        s"fake-image-payload-$i".getBytes("UTF-8"))
    }
    spark.read.format("binaryFile").load(dir)
  }

  test("feature extraction: schema, row count, determinism, feature dim") {
    val out = Multimodal.extractImageFeatures(blobs, batchSize = 3)
    assert(out.schema === Multimodal.featureSchema)
    val rows = out.orderBy(col("path")).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getAs[Seq[Float]]("features").length === Multimodal.FeatureDim)
      assert(r.getAs[Int]("width") >= 64 && r.getAs[Int]("channels") === 3)
    }
    // determinism across runs
    val again = Multimodal.extractImageFeatures(blobs, batchSize = 7)
      .orderBy(col("path")).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("REAL BMP header decode: round-trips the builder, rejects non-BMP bytes") {
    val bytes = Multimodal.makeBmp(width = 37, height = 21, seed = 7L)
    assert(Multimodal.decodeBmpHeader(bytes) === Some((37, 21, 24)))
    // byte count matches the 24bpp padded-row formula
    assert(bytes.length === 54 + ((37 * 3 + 3) / 4 * 4) * 21)
    assert(Multimodal.decodeBmpHeader("not a bitmap at all".getBytes) === None)
    assert(Multimodal.decodeBmpHeader(Array[Byte]('B', 'M')) === None) // truncated
  }

  test("REAL PNG IHDR decode: round-trips the builder, verifies CRC, rejects non-PNG") {
    val bytes = Multimodal.makePng(width = 640, height = 480, bitDepth = 8,
      colorType = 6, seed = 11L)
    assert(Multimodal.decodePngHeader(bytes) === Some((640, 480, 8, 6)))
    assert(Multimodal.decodePngHeader("definitely not a png".getBytes) === None)
    assert(Multimodal.decodePngHeader(bytes.take(20)) === None) // truncated
    // a bit-flip in the width field must fail the CRC check, not return
    // garbage dimensions (the decoder VALIDATES, it does not trust)
    val flipped = bytes.clone()
    flipped(16) = (flipped(16) ^ 0x01).toByte
    assert(Multimodal.decodePngHeader(flipped) === None)
    // BMP/WAV bytes are not PNGs and vice versa — decoders are disjoint
    assert(Multimodal.decodePngHeader(Multimodal.makeBmp(8, 8, 1L)) === None)
    assert(Multimodal.decodeBmpHeader(bytes) === None)
  }

  test("REAL BMP pixel walk: channel sums skip row padding, reject truncated data") {
    // width 1 => rowBytes 4: each row is 3 pixel bytes + 1 padding byte.
    // Overwrite pixels with known values and padding with 0xFF — the sums
    // must see only the pixels (summing padding is the classic walk bug).
    val bmp = Multimodal.makeBmp(width = 1, height = 2, seed = 1L)
    // data starts at offset 54; rows bottom-up: row0 = B,G,R,pad row1 = ...
    val px = bmp.clone()
    px(54) = 10; px(55) = 20; px(56) = 30; px(57) = 0xff.toByte
    px(58) = 1; px(59) = 2; px(60) = 3; px(61) = 0xff.toByte
    assert(Multimodal.bmpChannelSums(px) === Some((11L, 22L, 33L, 2L)))
    // truncated pixel data -> None, never partial sums
    assert(Multimodal.bmpChannelSums(px.take(px.length - 1)) === None)
    // non-BMP and non-24bpp reject
    assert(Multimodal.bmpChannelSums("pixels?".getBytes) === None)
    val bpp8 = px.clone(); bpp8(28) = 8
    assert(Multimodal.bmpChannelSums(bpp8) === None)
  }

  test("REAL PNG pixel decode: stored-block fixture inflates to the generator's own bytes") {
    val (w, h) = (6, 4)
    val png = Multimodal.makePngPixels(w, h, seed = 8000L)
    // independent expectation: regenerate the deterministic pixel stream
    // and sum channels directly (the generator walks splitmix64 across
    // scanlines in row order, one byte per step)
    var s = 8000L
    var (er, eg, eb) = (0L, 0L, 0L)
    (0 until h).foreach { _ =>
      (0 until w * 3).foreach { i =>
        s = TextFunctions.splitmix64(s)
        val v = (s & 0xff).toInt
        (i % 3: @unchecked) match {
          case 0 => er += v
          case 1 => eg += v
          case 2 => eb += v
        }
      }
    }
    assert(Multimodal.pngChannelSums(png) === Some((er, eg, eb, (w * h).toLong)))
    // the stored-block layout claim the ORACLE depends on: raw scanline
    // bytes start at file offset 48 (filter byte) / 49 (first pixel)
    assert(png(48) === 0.toByte)
    var s2 = 8000L; s2 = TextFunctions.splitmix64(s2)
    assert((png(49) & 0xff) === (s2 & 0xff).toInt)
    // truncation and zlib corruption reject, never partial sums (stored
    // blocks copy bytes verbatim, so corrupt the stored-block LEN field)
    assert(Multimodal.pngChannelSums(png.take(png.length - 8)) === None)
    val badLen = png.clone(); badLen(44) = (badLen(44) ^ 0x7f).toByte
    assert(Multimodal.pngChannelSums(badLen) === None)
  }

  test("REAL PNG pixel decode: real Deflater stream with all five filter types") {
    // Hand-build a PNG: known pixels, each row filtered with its own type
    // (None/Sub/Up/Average/Paeth), zlib stream from java.util.zip.Deflater
    // (dynamic huffman — NOT the stored-block fixture path). The decoder
    // must recover the original pixel sums exactly.
    val (w, h) = (5, 5)
    val pix = Array.tabulate(h, w * 3)((r, i) => (r * 37 + i * 11) % 256)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val raw = new java.io.ByteArrayOutputStream()
    (0 until h).foreach { r =>
      val ft = r % 5
      raw.write(ft)
      (0 until w * 3).foreach { i =>
        val x = pix(r)(i)
        val a = if (i >= 3) pix(r)(i - 3) else 0
        val up = if (r >= 1) pix(r - 1)(i) else 0
        val c = if (r >= 1 && i >= 3) pix(r - 1)(i - 3) else 0
        val enc = ft match {
          case 0 => x
          case 1 => (x - a) & 0xff
          case 2 => (x - up) & 0xff
          case 3 => (x - ((a + up) >> 1)) & 0xff
          case 4 => (x - paeth(a, up, c)) & 0xff
        }
        raw.write(enc)
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw.toByteArray); defl.finish()
    val zbuf = new Array[Byte](raw.size() + 64)
    val zlen = defl.deflate(zbuf); defl.end()
    def chunk(tag: String, payload: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + payload.length)
      out.putInt(payload.length).put(tag.getBytes("US-ASCII")).put(payload)
      val crc = new java.util.zip.CRC32
      crc.update(tag.getBytes("US-ASCII")); crc.update(payload)
      out.putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array()
    // split the zlib stream across TWO IDAT chunks: per spec they form one
    // continuous stream, a real-file shape the decoder must reassemble
    val (z1, z2) = zbuf.take(zlen).splitAt(zlen / 2)
    val png = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", z1) ++ chunk("IDAT", z2) ++
      chunk("IEND", Array.emptyByteArray)
    val er = pix.flatMap(_.zipWithIndex.collect { case (v, i) if i % 3 == 0 => v.toLong }).sum
    val eg = pix.flatMap(_.zipWithIndex.collect { case (v, i) if i % 3 == 1 => v.toLong }).sum
    val eb = pix.flatMap(_.zipWithIndex.collect { case (v, i) if i % 3 == 2 => v.toLong }).sum
    assert(Multimodal.pngChannelSums(png) === Some((er, eg, eb, (w * h).toLong)))
    // non-truecolor and interlaced reject (decoder scope is honest)
    val gray = png.clone(); gray(25) = 0
    assert(Multimodal.pngChannelSums(gray) === None)
  }

  test("REAL GIF pixel decode: uncompressed-trick fixture round-trips the generator") {
    val (w, h) = (10, 8)
    val gif = Multimodal.makeGifPixels(w, h, seed = 9000L)
    // independent expectation: regenerate the pixel index stream; the
    // grayscale palette makes every channel sum equal the index sum
    var s = 9000L
    var exp = 0L
    (0 until w * h).foreach { _ => s = TextFunctions.splitmix64(s); exp += (s & 0x7f) }
    assert(Multimodal.gifChannelSums(gif) === Some((exp, exp, exp, (w * h).toLong)))
    // the byte-offset claim the ORACLE depends on: pixel 0's code byte at
    // file offset 410 (= 409 + ci + ci/255 with ci = 1)
    var s2 = 9000L; s2 = TextFunctions.splitmix64(s2)
    assert((gif(410) & 0xff) === (s2 & 0x7f).toInt)
    // truncated stream and a code referencing an unassigned slot reject
    assert(Multimodal.gifChannelSums(gif.take(gif.length - 6)) === None)
    val bad = gif.clone(); bad(410) = 0xf0.toByte // code 240 > next
    assert(Multimodal.gifChannelSums(bad) === None)
  }

  test("GIF variants: interlace de-scatters, local color table overrides global") {
    val (w, h) = (12, 11) // odd height exercises all four interlace passes
    val plain = Multimodal.makeGifPixels(w, h, seed = 9100L)
    val inter = Multimodal.makeGifPixels(w, h, seed = 9100L, interlaced = true)
    // same LOGICAL image stored in pass order: the order-invariant sums
    // AND the position-sensitive perceptual hash must both agree
    assert(Multimodal.gifChannelSums(inter) === Multimodal.gifChannelSums(plain))
    assert(Multimodal.imageAHash64(inter).isDefined)
    assert(Multimodal.imageAHash64(inter) === Multimodal.imageAHash64(plain))
    // local color table: a decoder that wrongly keeps reading the global
    // grayscale table would get equal channels; the LCT maps them apart
    val lct = Multimodal.makeGifPixels(w, h, seed = 9100L, localPalette = true)
    var s = 9100L
    var (er, eg, eb) = (0L, 0L, 0L)
    (0 until w * h).foreach { _ =>
      s = TextFunctions.splitmix64(s)
      val c = (s & 0x7f).toInt
      er += c; eg += 127 - c; eb += c / 2
    }
    assert(Multimodal.gifChannelSums(lct) === Some((er, eg, eb, (w * h).toLong)))
  }

  test("REAL PNG pixel decode: 8-bit paletted (PLTE) images, all filter types") {
    val (w, h) = (7, 6)
    val nPal = 40
    val idx = Array.tabulate(h, w)((r, c) => (r * 7 + c * 3) % nPal)
    val pal = Array.tabulate(nPal)(i => ((i * 6) % 256, (255 - i * 5) % 256, (i * 11) % 256))
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val raw = new java.io.ByteArrayOutputStream()
    (0 until h).foreach { r =>
      val ft = r % 5
      raw.write(ft)
      (0 until w).foreach { i =>
        val x = idx(r)(i)
        val a = if (i >= 1) idx(r)(i - 1) else 0
        val up = if (r >= 1) idx(r - 1)(i) else 0
        val c = if (r >= 1 && i >= 1) idx(r - 1)(i - 1) else 0
        val enc = ft match {
          case 0 => x
          case 1 => (x - a) & 0xff
          case 2 => (x - up) & 0xff
          case 3 => (x - ((a + up) >> 1)) & 0xff
          case 4 => (x - paeth(a, up, c)) & 0xff
        }
        raw.write(enc)
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw.toByteArray); defl.finish()
    val zbuf = new Array[Byte](raw.size() + 64)
    val zlen = defl.deflate(zbuf); defl.end()
    def chunk(tag: String, payload: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + payload.length)
      out.putInt(payload.length).put(tag.getBytes("US-ASCII")).put(payload)
      val crc = new java.util.zip.CRC32
      crc.update(tag.getBytes("US-ASCII")); crc.update(payload)
      out.putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(3.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array()
    val plte = pal.flatMap { case (r, g, b2) => Seq(r.toByte, g.toByte, b2.toByte) }
    val png = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("PLTE", plte) ++
      chunk("IDAT", zbuf.take(zlen)) ++ chunk("IEND", Array.emptyByteArray)
    val flat = idx.flatten
    val er = flat.map(i => pal(i)._1.toLong).sum
    val eg = flat.map(i => pal(i)._2.toLong).sum
    val eb = flat.map(i => pal(i)._3.toLong).sum
    assert(Multimodal.pngChannelSums(png) === Some((er, eg, eb, (w * h).toLong)))
    // an index beyond the palette rejects: re-encode with a poisoned row
    val raw2 = raw.toByteArray.clone()
    raw2(1) = nPal.toByte // row 0 is filter None: direct index byte
    val defl2 = new java.util.zip.Deflater()
    defl2.setInput(raw2); defl2.finish()
    val zbuf2 = new Array[Byte](raw2.length + 64)
    val zlen2 = defl2.deflate(zbuf2); defl2.end()
    val bad = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("PLTE", plte) ++
      chunk("IDAT", zbuf2.take(zlen2)) ++ chunk("IEND", Array.emptyByteArray)
    assert(Multimodal.pngChannelSums(bad) === None)
  }

  test("REAL PNG pixel decode: grayscale, gray+alpha and RGBA color types") {
    val (w, h) = (6, 5)
    def pngOf(ct: Int, bpp: Int, sample: (Int, Int, Int) => Int): Array[Byte] = {
      // filter types cycle; samples from the (row, px, channel) function
      def paeth(a: Int, b: Int, c: Int): Int = {
        val p = a + b - c
        val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
        if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
      }
      val rows = Array.tabulate(h, w * bpp)((r, i) => sample(r, i / bpp, i % bpp))
      val raw = new java.io.ByteArrayOutputStream()
      (0 until h).foreach { r =>
        val ft = r % 5
        raw.write(ft)
        (0 until w * bpp).foreach { i =>
          val x = rows(r)(i)
          val a = if (i >= bpp) rows(r)(i - bpp) else 0
          val up = if (r >= 1) rows(r - 1)(i) else 0
          val c = if (r >= 1 && i >= bpp) rows(r - 1)(i - bpp) else 0
          raw.write(ft match {
            case 0 => x
            case 1 => (x - a) & 0xff
            case 2 => (x - up) & 0xff
            case 3 => (x - ((a + up) >> 1)) & 0xff
            case 4 => (x - paeth(a, up, c)) & 0xff
          })
        }
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw.toByteArray); defl.finish()
      val zbuf = new Array[Byte](raw.size() + 64)
      val zlen = defl.deflate(zbuf); defl.end()
      def chunk(tag: String, payload: Array[Byte]): Array[Byte] = {
        val out = java.nio.ByteBuffer.allocate(12 + payload.length)
        out.putInt(payload.length).put(tag.getBytes("US-ASCII")).put(payload)
        val crc = new java.util.zip.CRC32
        crc.update(tag.getBytes("US-ASCII")); crc.update(payload)
        out.putInt(crc.getValue.toInt).array()
      }
      val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
        .put(8.toByte).put(ct.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array()
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
        chunk("IHDR", ihdr) ++ chunk("IDAT", zbuf.take(zlen)) ++
        chunk("IEND", Array.emptyByteArray)
    }
    val n = (w * h).toLong
    // grayscale: every channel sums the single gray channel
    val gv = (r: Int, p: Int, _: Int) => (r * 41 + p * 13) % 256
    val gSum = (for (r <- 0 until h; p <- 0 until w) yield gv(r, p, 0).toLong).sum
    assert(Multimodal.pngChannelSums(pngOf(0, 1, gv)) === Some((gSum, gSum, gSum, n)))
    // gray+alpha: alpha (channel 1) must NOT leak into the sums
    val gav = (r: Int, p: Int, ch: Int) =>
      if (ch == 0) (r * 29 + p * 17) % 256 else 255 - (p % 7)
    val gaSum = (for (r <- 0 until h; p <- 0 until w) yield gav(r, p, 0).toLong).sum
    assert(Multimodal.pngChannelSums(pngOf(4, 2, gav)) === Some((gaSum, gaSum, gaSum, n)))
    // RGBA: alpha (channel 3) dropped, RGB channels independent
    val rgbav = (r: Int, p: Int, ch: Int) => (r * 31 + p * 7 + ch * 83) % 256
    def chSum(ch: Int) =
      (for (r <- 0 until h; p <- 0 until w) yield rgbav(r, p, ch).toLong).sum
    assert(Multimodal.pngChannelSums(pngOf(6, 4, rgbav)) ===
      Some((chSum(0), chSum(1), chSum(2), n)))
    // the perceptual hash works on all of them (w < 8 pads nothing: 6 < 8 rejects)
    assert(Multimodal.imageAHash64(pngOf(6, 4, rgbav)).isEmpty) // w = 6 < 8
  }

  test("REAL PNG pixel decode: Adam7 interlace scatters back to raster order") {
    val (w, h) = (13, 11) // odd dims: every pass non-trivial, ragged edges
    val pix = Array.tabulate(h, w * 3)((r, i) => (r * 53 + i * 19) % 256)
    def chunk(tag: String, payload: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + payload.length)
      out.putInt(payload.length).put(tag.getBytes("US-ASCII")).put(payload)
      val crc = new java.util.zip.CRC32
      crc.update(tag.getBytes("US-ASCII")); crc.update(payload)
      out.putInt(crc.getValue.toInt).array()
    }
    def pngOf(interlace: Int, raw: Array[Byte]): Array[Byte] = {
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw); defl.finish()
      val zbuf = new Array[Byte](raw.length + 64)
      val zlen = defl.deflate(zbuf); defl.end()
      val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
        .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte)
        .put(interlace.toByte).array()
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
        chunk("IHDR", ihdr) ++ chunk("IDAT", zbuf.take(zlen)) ++
        chunk("IEND", Array.emptyByteArray)
    }
    // straight twin: filter-0 scanlines in raster order
    val straightRaw = new java.io.ByteArrayOutputStream()
    (0 until h).foreach { r =>
      straightRaw.write(0)
      (0 until w * 3).foreach(i => straightRaw.write(pix(r)(i)))
    }
    // Adam7: the same logical pixels emitted pass-major (filter 0 rows)
    val passes = Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val interRaw = new java.io.ByteArrayOutputStream()
    passes.foreach { case (xs, ys, xst, yst) =>
      val pw = math.max(0, (w - xs + xst - 1) / xst)
      val ph = math.max(0, (h - ys + yst - 1) / yst)
      (0 until ph).foreach { r =>
        interRaw.write(0)
        (0 until pw).foreach { px =>
          val sx = xs + px * xst
          val sy = ys + r * yst
          (0 until 3).foreach(c => interRaw.write(pix(sy)(sx * 3 + c)))
        }
      }
    }
    val straight = pngOf(0, straightRaw.toByteArray)
    val inter = pngOf(1, interRaw.toByteArray)
    assert(Multimodal.pngChannelSums(straight).isDefined)
    assert(Multimodal.pngChannelSums(inter) === Multimodal.pngChannelSums(straight))
    // the position-sensitive hash proves the scatter-back, not just sums
    assert(Multimodal.imageAHash64(inter).isDefined)
    assert(Multimodal.imageAHash64(inter) === Multimodal.imageAHash64(straight))
  }

  test("REAL GIF pixel decode: genuine LZW stream with dictionary growth and width bumps") {
    // A real greedy LZW ENCODER (dictionary of sequences, variable width
    // LSB-first) — the repetitive image forces multi-byte dictionary hits,
    // width growth past 9 bits, and the KwKwK case; the decoder must
    // reproduce the exact source indices.
    val (w, h) = (64, 48)
    val minCode = 7
    val px = Array.tabulate(w * h)(i => ((i % 11) * 3 + (i / w) % 5) % 128)
    val clear = 1 << minCode
    val eoi = clear + 1
    val codes = scala.collection.mutable.ArrayBuffer[Int](clear)
    val dict = scala.collection.mutable.HashMap[Vector[Int], Int]()
    (0 until clear).foreach(c => dict(Vector(c)) = c)
    var next = eoi + 1
    var cur = Vector.empty[Int]
    px.foreach { p =>
      val ext = cur :+ p
      if (dict.contains(ext)) cur = ext
      else {
        codes += dict(cur)
        if (next < 4096) { dict(ext) = next; next += 1 }
        cur = Vector(p)
      }
    }
    codes += dict(cur)
    codes += eoi
    // pack codes with the DECODER's width schedule: width bumps AFTER the
    // code whose emission makes the decoder's next == 1<<width. The
    // decoder's dict lags the encoder's by one entry, so replay it.
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nAcc = 0
    var width = minCode + 1
    var dNext = eoi + 1
    var started = false
    codes.foreach { c =>
      acc |= (c.toLong << nAcc); nAcc += width
      while (nAcc >= 8) { bits.write((acc & 0xff).toInt); acc >>= 8; nAcc -= 8 }
      if (c == clear) { dNext = eoi + 1; width = minCode + 1; started = false }
      else if (c != eoi) {
        if (started && dNext < 4096) {
          dNext += 1
          if (dNext == (1 << width) && width < 12) width += 1
        }
        started = true
      }
    }
    if (nAcc > 0) bits.write((acc & 0xff).toInt)
    val stream = bits.toByteArray
    // assemble the GIF around the compressed stream
    val nBlocks = (stream.length + 254) / 255
    val out = java.nio.ByteBuffer.allocate(13 + 3 * 128 + 10 + 1 + stream.length + nBlocks + 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("GIF89a".getBytes("US-ASCII"))
    out.putShort(w.toShort).putShort(h.toShort)
    out.put((0x80 | 6).toByte).put(0.toByte).put(0.toByte)
    (0 until 128).foreach(c => out.put(c.toByte).put(c.toByte).put(c.toByte))
    out.put(0x2c.toByte).putShort(0.toShort).putShort(0.toShort)
      .putShort(w.toShort).putShort(h.toShort).put(0.toByte)
    out.put(minCode.toByte)
    var off = 0
    while (off < stream.length) {
      val len = math.min(255, stream.length - off)
      out.put(len.toByte); out.put(stream, off, len); off += len
    }
    out.put(0.toByte).put(0x3b.toByte)
    val gif = out.array()
    val expSum = px.map(_.toLong).sum
    assert(Multimodal.gifChannelSums(gif) === Some((expSum, expSum, expSum, (w * h).toLong)),
      s"compressed stream: ${stream.length} bytes for ${w * h} pixels (ratio proves real compression)")
    // the stream must actually be COMPRESSED (dictionary hits), or this
    // test wouldn't exercise multi-byte entries
    assert(stream.length < w * h * 3 / 4, s"stream ${stream.length} not compressed vs ${w * h}")
  }

  test("REAL WAV sample decode: stats round-trip the builder's PCM stream, rejects non-PCM") {
    val wav = Multimodal.makeWav(channels = 2, sampleRate = 16000, nSamples = 100, seed = 5L)
    // independent expectation: regenerate the sample stream
    var s = 5L
    var (sum, sumSq, peak) = (0L, 0L, 0L)
    (0 until 200).foreach { _ =>
      s = TextFunctions.splitmix64(s)
      val v = (s & 0xffff).toShort.toLong
      sum += v; sumSq += v * v; val a = math.abs(v); if (a > peak) peak = a
    }
    assert(Multimodal.wavSampleStats(wav) === Some((sum, sumSq, peak, 200L)))
    // truncated data and non-PCM format reject
    assert(Multimodal.wavSampleStats(wav.take(wav.length - 3)) === None)
    val alaw = wav.clone(); alaw(20) = 6 // fmt audioFormat = A-law
    assert(Multimodal.wavSampleStats(alaw) === None)
    assert(Multimodal.wavSampleStats("RIFFnope".getBytes) === None)
  }

  test("REAL GIF header decode: round-trips the builder, validates GCT length, rejects non-GIF") {
    val bytes = Multimodal.makeGif(width = 320, height = 200, gctExp = 7,
      bgIndex = 5, seed = 9L)
    assert(Multimodal.decodeGifHeader(bytes) === Some(("89a", 320, 200, 256, 5)))
    assert(Multimodal.decodeGifHeader(
      Multimodal.makeGif(16, 8, gctExp = 0, bgIndex = 0, seed = 1L, version = "87a"))
      === Some(("87a", 16, 8, 2, 0)))
    assert(Multimodal.decodeGifHeader("graphics interchange?".getBytes) === None)
    assert(Multimodal.decodeGifHeader(bytes.take(10)) === None) // truncated header
    // GCT flag set but table truncated: reject, no phantom palette
    assert(Multimodal.decodeGifHeader(bytes.take(13 + 3 * 256 - 1)) === None)
    // unknown version string is not a GIF we understand
    val badVer = bytes.clone(); badVer(4) = '6'.toByte
    assert(Multimodal.decodeGifHeader(badVer) === None)
    // disjoint from the other decoders
    assert(Multimodal.decodeGifHeader(Multimodal.makeBmp(8, 8, 1L)) === None)
    assert(Multimodal.decodeBmpHeader(bytes) === None)
    assert(Multimodal.decodePngHeader(bytes) === None)
  }

  test("REAL JPEG marker walk: SOF found by WALKING segments, rejects non-JPEG") {
    val bytes = Multimodal.makeJpeg(width = 1920, height = 1080, nComp = 3, seed = 7L)
    assert(Multimodal.decodeJpegHeader(bytes) === Some((1920, 1080, 8, 3)))
    assert(Multimodal.decodeJpegHeader("not a photo".getBytes) === None)
    assert(Multimodal.decodeJpegHeader(bytes.take(40)) === None) // truncated before SOF
    // the decoder must WALK segments, not assume offsets: inject a COM
    // segment between APP0 and DQT and re-check
    val com = Array(0xff, 0xfe, 0x00, 0x06, 'g', 'r', 'a', 'f').map(_.toByte)
    val shifted = bytes.take(20) ++ com ++ bytes.drop(20)
    assert(Multimodal.decodeJpegHeader(shifted) === Some((1920, 1080, 8, 3)))
    // a standalone RST marker (no length field) is stepped over, not parsed
    val rst = Array(0xff, 0xd0).map(_.toByte)
    val withRst = bytes.take(20) ++ rst ++ bytes.drop(20)
    assert(Multimodal.decodeJpegHeader(withRst) === Some((1920, 1080, 8, 3)))
    // marker misalignment (a stray non-FF byte) halts the walk -> None
    val bad = bytes.clone(); bad(20) = 0x00
    assert(Multimodal.decodeJpegHeader(bad) === None)
    // reaching EOI without any SOF yields None (SOI + EOI only)
    assert(Multimodal.decodeJpegHeader(
      Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)) === None)
    // disjoint from the other decoders
    assert(Multimodal.decodeJpegHeader(Multimodal.makeBmp(8, 8, 1L)) === None)
    assert(Multimodal.decodeBmpHeader(bytes) === None)
    assert(Multimodal.decodePngHeader(bytes) === None)
    // spec-legal 0xFF fill padding before a marker (T.81 B.1.1.2) is
    // skipped, matching jpegExif's envelope — a padded camera file must
    // not parse EXIF yet reject here (ADVICE r10)
    val padded = bytes.take(2) ++ Array.fill(3)(0xff.toByte) ++ bytes.drop(2)
    assert(Multimodal.decodeJpegHeader(padded) === Some((1920, 1080, 8, 3)))
    assert(Multimodal.decodeGifHeader(bytes) === None)
  }

  test("REAL MP4 box walk: ftyp/moov/mvhd/mdat found by WALKING, rejects non-BMFF") {
    val bytes = Multimodal.makeMp4(minorVersion = 512, timescale = 1000,
      duration = 90000, mediaBytes = 77, seed = 3L)
    assert(Multimodal.decodeMp4Header(bytes) === Some(("isom", 512L, 1000L, 90000L, 77L)))
    assert(Multimodal.decodeMp4Header("not a movie".getBytes) === None)
    assert(Multimodal.decodeMp4Header(bytes.take(30)) === None) // truncated
    // the decoder must WALK boxes, not assume offsets: inject a free box
    // between ftyp and moov and re-check
    val free = java.nio.ByteBuffer.allocate(16).putInt(16)
      .put("free".getBytes("US-ASCII")).put(new Array[Byte](8)).array()
    val shifted = bytes.take(20) ++ free ++ bytes.drop(20)
    assert(Multimodal.decodeMp4Header(shifted) === Some(("isom", 512L, 1000L, 90000L, 77L)))
    // corrupt box size (< 8) halts the walk -> None, no infinite loop
    val bad = bytes.clone()
    bad(23) = 2 // moov size low byte -> 2
    assert(Multimodal.decodeMp4Header(bad) === None)
    // disjoint from the other decoders
    assert(Multimodal.decodeBmpHeader(bytes) === None)
    assert(Multimodal.decodePngHeader(bytes) === None)
  }

  test("REAL WAV header decode: chunk walk finds fmt + data, rejects non-WAV") {
    val bytes = Multimodal.makeWav(channels = 2, sampleRate = 22050, nSamples = 441, seed = 9L)
    assert(Multimodal.decodeWavHeader(bytes) === Some((2, 22050, 16, 441L)))
    assert(Multimodal.decodeWavHeader("RIFFxxxxJUNK".getBytes) === None)
    // decoder must WALK chunks, not assume fmt at 12: insert an extra
    // chunk before fmt and re-check
    val extra = java.nio.ByteBuffer.allocate(bytes.length + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    extra.put(bytes, 0, 12)
    extra.put("LIST".getBytes("US-ASCII")).putInt(4).put("INFO".getBytes("US-ASCII"))
    extra.put(bytes, 12, bytes.length - 12)
    val shifted = extra.array()
    // fix RIFF size field (+12)
    val bb = java.nio.ByteBuffer.wrap(shifted).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, bb.getInt(4) + 12)
    assert(Multimodal.decodeWavHeader(shifted) === Some((2, 22050, 16, 441L)))
  }

  test("corrupt RIFF chunk sizes terminate (no infinite loop), return None") {
    // chunk size 0xFFFFFFF8 used to truncate to -8 and stall the walk
    val bad = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bad.put("RIFF".getBytes("US-ASCII")).putInt(56).put("WAVE".getBytes("US-ASCII"))
    bad.put("junk".getBytes("US-ASCII")).putInt(0xFFFFFFF8)
    assert(Multimodal.decodeWavHeader(bad.array()) === None)
    // zero-size chunks still advance
    val zeros = java.nio.ByteBuffer.allocate(60).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    zeros.put("RIFF".getBytes("US-ASCII")).putInt(52).put("WAVE".getBytes("US-ASCII"))
    zeros.put("junk".getBytes("US-ASCII")).putInt(0)
    zeros.put("junk".getBytes("US-ASCII")).putInt(0)
    assert(Multimodal.decodeWavHeader(zeros.array()) === None)
  }

  test("feature extractor uses the real BMP decoder when bytes are BMP") {
    val dir = "/tmp/graft_test/mm_bmp"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.bmp"),
      Multimodal.makeBmp(64, 48, seed = 3L))
    val row = Multimodal.extractImageFeatures(
      spark.read.format("binaryFile").load(dir)).collect().head
    assert(row.getInt(2) === 64 && row.getInt(3) === 48 && row.getInt(4) === 3)
  }

  test("audio decode stub: valid rate, deterministic") {
    val c = "audio-bytes".getBytes("UTF-8")
    val (rate, n, feats) = Multimodal.decodeAudioStub(c)
    assert(Set(8000, 16000, 22050, 44100, 48000).contains(rate))
    assert(n >= 1000 && feats.length === Multimodal.FeatureDim)
    assert(Multimodal.decodeAudioStub(c)._3.toSeq === feats.toSeq)
  }

  test("frame sampling stub: n frames, deterministic") {
    val c = "video-bytes".getBytes("UTF-8")
    val f1 = Multimodal.frameSampleStub(c, 4)
    val f2 = Multimodal.frameSampleStub(c, 4)
    assert(f1.length === 4)
    assert(f1.map(_.toSeq).toSeq === f2.map(_.toSeq).toSeq)
    assert(f1(0).toSeq !== f1(1).toSeq)
  }

  test("mp4SyncSamples: full stts/stsz/stsc/stco/stss resolution, hand-derived") {
    // 8 samples: stts (4 x 10, 4 x 20); sizes 100..107; chunks of 3,3
    // then 2 from chunk 3; stss = 1, 5
    val b = Multimodal.makeMp4Tracks(trackId = 7, timescale = 1000,
      run1 = (4, 10L), run2 = (4, 20L),
      sizes = (0 until 8).map(i => 100L + i),
      spc1 = 3, chunks2From = 3, spc2 = 2)
    val s = Multimodal.mp4SyncSamples(b).get
    assert(s.map(x => (x.track, x.timescale, x.sample)) ===
      Seq((7L, 1000L, 1), (7L, 1000L, 5)))
    // dts: sample 1 = 0; sample 5 = 4*10 = 40 (first run exhausted)
    assert(s.map(_.dts) === Seq(0L, 40L))
    assert(s.map(_.size) === Seq(100L, 104L))
    // chunks: 1,1,1 | 2,2,2 | 3,3 -> sample 5 is the 2nd of chunk 2
    assert(s.map(_.chunk) === Seq(1, 2))
    // offset of sample 5 = chunk-2 base + size(sample 4)
    val mdatPayload = b.length - (0 until 8).map(i => 100L + i).sum
    assert(s(0).offset === mdatPayload)
    assert(s(1).offset === mdatPayload + (100 + 101 + 102) + 103)
  }

  test("mp4SyncSamples: missing stss means every sample is sync") {
    val b = Multimodal.makeMp4Tracks(1, 600, (2, 5L), (2, 7L),
      Seq(10L, 11L, 12L, 13L), spc1 = 2, chunks2From = 2, spc2 = 2,
      withStss = false)
    val all = Multimodal.mp4SyncSamples(b).get
    assert(all.map(_.sample) === Seq(1, 2, 3, 4))
    assert(all.map(_.dts) === Seq(0L, 5L, 10L, 17L))
    val withS = Multimodal.mp4SyncSamples(Multimodal.makeMp4Tracks(1, 600,
      (2, 5L), (2, 7L), Seq(10L, 11L, 12L, 13L), 2, 2, 2)).get
    assert(withS.map(_.sample) === Seq(1))
  }

  test("mp4SyncSamples: truncation and corrupt tables reject cleanly") {
    val b = Multimodal.makeMp4Tracks(1, 1000, (3, 10L), (3, 10L),
      (0 until 6).map(_ => 50L), spc1 = 3, chunks2From = 2, spc2 = 3)
    assert(Multimodal.mp4SyncSamples(b).isDefined)
    // any truncation must REJECT: either the tables are gone, or the
    // resolved offsets are no longer backed by bytes (mdat cut short)
    // b.length - 60 cuts into the LAST sync sample's bytes (offset 589,
    // size 50) — the emitted offset would no longer be byte-backed
    for (cut <- Seq(30, 100, b.length / 2, b.length - 60)) {
      assert(Multimodal.mp4SyncSamples(b.take(cut)) === None)
    }
    assert(Multimodal.mp4SyncSamples("nope".getBytes("US-ASCII")) === None)
    assert(Multimodal.mp4SyncSamples(null) === None)
    // malformed stsc (first entry not covering chunk 1) rejects instead
    // of resolving confident garbage — flip first_chunk 1 -> 2
    val hex = b.map(x => f"${x & 0xff}%02X").mkString
    val stscAt = hex.indexOf("73747363") / 2 // 'stsc' tag byte offset
    val k = b.clone()
    k(stscAt + 4 + 4 + 4 + 3) = 2.toByte // first entry first_chunk u32 LSB
    assert(Multimodal.mp4SyncSamples(k) === None)
  }

  test("makeMp4Media: real payloads land at the resolved offsets; JPEG sync frames decode") {
    val jpegs = (1 to 8).map(j =>
      Multimodal.makeJpegPixels(2, 1, 1, seed = 9000L + j))
    val b = Multimodal.makeMp4Media(1, 1000, (4, 100L), (4, 200L),
      jpegs, spc1 = 3, chunks2From = 3, spc2 = 2)
    val sync = Multimodal.mp4SyncSamples(b).get
    assert(sync.map(_.sample) === Seq(1, 5))
    // the bytes at each resolved offset ARE the sample's JPEG
    sync.foreach { sm =>
      val frame = java.util.Arrays.copyOfRange(
        b, sm.offset.toInt, (sm.offset + sm.size).toInt)
      assert(frame.toSeq === jpegs(sm.sample - 1).toSeq)
      assert(Multimodal.jpegGraySums(frame) ===
        Multimodal.jpegGraySums(jpegs(sm.sample - 1)))
    }
    // truncating into the LAST sync sample's bytes rejects the whole
    // resolution (offsets must be byte-backed — the e12t discipline)
    val cutAt = sync.last.offset.toInt + 10
    assert(Multimodal.mp4SyncSamples(b.take(cutAt)) === None)
    // a corrupted frame payload fails its own JPEG decode but leaves
    // the sample-table resolution intact (the seam degrades per-frame)
    val k = b.clone()
    k(sync.head.offset.toInt) = 0x00 // break SOI of frame 1
    val sync2 = Multimodal.mp4SyncSamples(k).get
    assert(sync2 === sync)
    val broken = java.util.Arrays.copyOfRange(
      k, sync2.head.offset.toInt, (sync2.head.offset + sync2.head.size).toInt)
    assert(Multimodal.jpegGraySums(broken) === None)
  }

  test("mp4SyncSamples: stts run-count SUM bomb rejects before materializing") {
    // 512 runs of 2^20 samples each: every run passes the per-run guard,
    // but the total (2^29 deltas ≈ 4 GiB of Longs) must trip the guard
    // DURING expansion — pre-fix this OOM'd past the Exception envelope
    // (ADVICE r10, medium)
    def box(t: String, payload: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(8 + payload.length)
      out.putInt(8 + payload.length).put(t.getBytes("US-ASCII")).put(payload)
      out.array()
    }
    def full(t: String, body: Array[Byte]): Array[Byte] =
      box(t, new Array[Byte](4) ++ body)
    def be(vs: Long*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 * vs.length)
      vs.foreach(v => bb.putInt(v.toInt))
      bb.array()
    }
    val nRuns = 512
    val runs = (0 until nRuns).flatMap(_ => Seq(1L << 20, 1L)) // (count, delta)*
    val stts = full("stts", be((nRuns.toLong +: runs): _*))
    val stbl = box("stbl", stts)
    val minf = box("minf", stbl)
    val mdhd = full("mdhd", be(0, 0, 600, 0) ++ Array[Byte](0, 0, 0, 0))
    val mdia = box("mdia", mdhd ++ minf)
    val tkhd = full("tkhd", be(0, 0, 1) ++ new Array[Byte](68))
    val moov = box("moov", box("trak", tkhd ++ mdia))
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be(0) ++
      "mp41".getBytes("US-ASCII"))
    val hostile = ftyp ++ moov
    val t0 = System.nanoTime()
    assert(Multimodal.mp4SyncSamples(hostile) === None)
    // the reject must come from the running-total guard, not from an
    // attempted multi-GiB materialization: well under a second
    assert((System.nanoTime() - t0) < 5000000000L)
  }

  test("wavSegments: hand-derived islands, partial window, threshold tie") {
    // 5 windows of 4 samples: |amp| means 100, 600, 700, 100, 600 with
    // threshold 500 -> segments [1..2], [4..4]
    val amps = Seq(100, 600, 700, 100, 600)
    val samples = amps.flatMap { a =>
      (0 until 4).map(i => if (i % 2 == 1) -a else a)
    }
    val b = Multimodal.makeWavSamples(8000, samples)
    val s = Multimodal.wavSegments(b, 4, 500000L).get
    assert(s.map(x => (x.seg, x.winFrom, x.winTo, x.nSamples, x.absSum)) ===
      Seq((1, 1, 2, 8L, (600 + 700) * 4L), (2, 4, 4, 4L, 2400L)))
    // a mean EXACTLY at the threshold is silence (strict >)
    val tie = Multimodal.makeWavSamples(8000, Seq(500, -500, 500, -500))
    assert(Multimodal.wavSegments(tie, 4, 500000L).get === Seq())
    // partial final window gates on its own count
    val part = Multimodal.makeWavSamples(8000, Seq(0, 0, 0, 0, 900, -900))
    val p = Multimodal.wavSegments(part, 4, 500000L).get
    assert(p === Seq(Multimodal.WavSegment(1, 1, 1, 2L, 1800L)))
  }

  test("wavSegments: envelope — non-PCM16 and empty reject") {
    assert(Multimodal.wavSegments("RIFF".getBytes("US-ASCII"), 4, 1L) === None)
    assert(Multimodal.wavSegments(Multimodal.makeWavSamples(8000, Seq()), 4, 1L) === None)
    assert(Multimodal.wavSegments(null, 4, 1L) === None)
  }

  test("jpegExif: both byte orders round-trip; base image still decodes") {
    val base = Multimodal.makeJpegPixels(2, 1, 1, 6000L)
    for (big <- Seq(false, true)) {
      val j = Multimodal.withExif(base, big, orientation = 6,
        make = "CamCo", dateTime = "2026:08:14 10:00:00",
        pixelW = 1600L, pixelH = 900L)
      val e = Multimodal.jpegExif(j).get
      assert(e === Multimodal.JpegExif(if (big) "MM" else "II", 6,
        "CamCo", "2026:08:14 10:00:00", 1600L, 900L))
      // the inserted APP1 is transparent to the pixel decoder
      assert(Multimodal.jpegGraySums(j) === Multimodal.jpegGraySums(base))
    }
  }

  test("jpegExif: envelope — absent, truncated, corrupt all reject") {
    val base = Multimodal.makeJpegPixels(2, 1, 1, 6001L)
    assert(Multimodal.jpegExif(base) === None)
    val j = Multimodal.withExif(base, bigEndian = false, 3, "M",
      "2026:01:01 00:00:00", 10L, 10L)
    assert(Multimodal.jpegExif(j.take(20)) === None)
    // flip the TIFF magic
    val k = j.clone()
    val magicAt = j.indexOfSlice("II".getBytes("US-ASCII"))
    k(magicAt + 2) = 0x2b.toByte // 42 -> 43
    assert(Multimodal.jpegExif(k) === None)
    assert(Multimodal.jpegExif(null) === None)
    // spec-legal 0xFF fill padding before the APP1 marker must not
    // lose the EXIF (review finding r10)
    val padded = j.take(2) ++ Array.fill(3)(0xff.toByte) ++ j.drop(2)
    assert(Multimodal.jpegExif(padded) === Multimodal.jpegExif(j))
  }
}
