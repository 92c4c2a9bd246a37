package graft

import graft.operators.Multimodal
import org.scalatest.funsuite.AnyFunSuite

/** The e12l oracle exercises only the DC path (its fixtures are the JPEG
  * analog of stored-deflate PNG), so this spec drives the GENERAL baseline
  * decoder — AC run/size coding, ZRL, FF00 stuffing, dequantization, the
  * full IDCT, edge cropping, reject paths — through an IN-TEST encoder
  * that shares nothing with the decoder: different Huffman code lengths
  * (4-bit DC / uniform 9-bit AC vs the fixtures' 1/7), an independently
  * written DIRECT (non-separable) IDCT as the pixel reference, and its own
  * bit writer with stuffing.
  */
class JpegPixelSpec extends AnyFunSuite {

  // zigzag k -> natural v*8+u (same public T.81 table, re-typed here so a
  // transposition bug in either copy fails the round-trip)
  private val zig = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** AC symbol order = code order: EOB, ZRL, then (r,s) ascending. */
  private val acSymbols: Array[Int] =
    Array(0x00, 0xf0) ++ (for (r <- 0 to 15; s2 <- 1 to 10) yield (r << 4) | s2)
  private val acCodeOf: Map[Int, Int] = acSymbols.zipWithIndex.toMap

  private class BitWriter {
    val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var n = 0
    def putBit(b: Int): Unit = {
      acc = (acc << 1) | b; n += 1
      if (n == 8) {
        out.write(acc)
        if (acc == 0xff) out.write(0) // stuffing
        acc = 0; n = 0
      }
    }
    def put(code: Int, len: Int): Unit =
      (len - 1 to 0 by -1).foreach(i => putBit((code >> i) & 1))
    def flush(): Unit = while (n != 0) putBit(1) // pad with 1s per spec
  }

  private def category(v: Int): Int =
    if (v == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** Encode a grayscale baseline JPEG from QUANTIZED zigzag-order
    * coefficient blocks (raster order) and a zigzag-order quant table.
    */
  private def encode(w: Int, h: Int, q: Array[Int],
      blocks: Seq[Array[Int]], dri: Int = 0): Array[Byte] = {
    val bw = new BitWriter
    var pred = 0
    var rst = 0
    blocks.zipWithIndex.foreach { case (qc, bi) =>
      if (dri > 0 && bi > 0 && bi % dri == 0) {
        bw.flush() // byte-align (1-pad; a resulting 0xFF byte gets stuffed)
        bw.out.write(0xff); bw.out.write(0xd0 + (rst % 8))
        rst += 1
        pred = 0 // predictors reset at every restart (T.81 E.2.4)
      }
      val diff = qc(0) - pred
      pred = qc(0)
      val t = category(diff)
      bw.put(t, 4) // DC: category IS the 4-bit code (counts[4]=12)
      if (t > 0) bw.put(if (diff >= 0) diff else diff + (1 << t) - 1, t)
      var k = 1
      var lastNz = 63
      while (lastNz >= 1 && qc(lastNz) == 0) lastNz -= 1
      while (k <= lastNz) {
        var run = 0
        while (qc(k) == 0) { run += 1; k += 1 }
        while (run >= 16) { bw.put(acCodeOf(0xf0), 9); run -= 16 }
        val s2 = category(qc(k))
        assert(s2 >= 1 && s2 <= 10, s"coefficient ${qc(k)} out of test-table range")
        bw.put(acCodeOf((run << 4) | s2), 9)
        bw.put(if (qc(k) >= 0) qc(k) else qc(k) + (1 << s2) - 1, s2)
        k += 1
      }
      if (lastNz < 63) bw.put(acCodeOf(0x00), 9) // EOB
    }
    bw.flush()
    val stream = bw.out.toByteArray
    val bos = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = bos.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    u16(0xffd8) // SOI
    u16(0xffdb); u16(67); u8(0) // DQT
    q.foreach(u8)
    u16(0xffc0); u16(11); u8(8); u16(h); u16(w); u8(1); u8(1); u8(0x11); u8(0) // SOF0
    u16(0xffc4); u16(2 + 1 + 16 + 12); u8(0x00) // DHT DC: 12 codes, all 4-bit
    (1 to 16).foreach(l => u8(if (l == 4) 12 else 0))
    (0 to 11).foreach(u8)
    u16(0xffc4); u16(2 + 1 + 16 + acSymbols.length); u8(0x10) // DHT AC: all 9-bit
    (1 to 16).foreach(l => u8(if (l == 9) acSymbols.length else 0))
    acSymbols.foreach(u8)
    if (dri > 0) { u16(0xffdd); u16(4); u16(dri) } // DRI
    u16(0xffda); u16(8); u8(1); u8(1); u8(0x00); u8(0); u8(63); u8(0) // SOS
    bos.write(stream)
    u16(0xffd9) // EOI
    bos.toByteArray
  }

  /** Independent reference: DIRECT double-sum IDCT per pixel (not the
    * decoder's separable form), dequantizing zigzag coefficients in place.
    */
  private def refSums(w: Int, h: Int, q: Array[Int],
      blocks: Seq[Array[Int]]): (Long, Long, Int, Int) = {
    val bx = (w + 7) / 8
    var sum = 0L
    var mn = 256
    var mx = -1
    blocks.zipWithIndex.foreach { case (qc, bi) =>
      val f = new Array[Double](64)
      (0 until 64).foreach(k => f(zig(k)) = qc(k).toDouble * q(k))
      val x0 = (bi % bx) * 8
      val y0 = (bi / bx) * 8
      for (py <- 0 until 8; px <- 0 until 8
          if y0 + py < h && x0 + px < w) {
        var acc = 0.0
        for (v <- 0 until 8; u <- 0 until 8) {
          val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
          val cv = if (v == 0) 1.0 / math.sqrt(2.0) else 1.0
          acc += cu * cv / 4.0 * f(v * 8 + u) *
            math.cos((2 * px + 1) * u * math.Pi / 16.0) *
            math.cos((2 * py + 1) * v * math.Pi / 16.0)
        }
        val p0 = math.floor(acc + 128.5).toInt
        val p = if (p0 < 0) 0 else if (p0 > 255) 255 else p0
        sum += p; if (p < mn) mn = p; if (p > mx) mx = p
      }
    }
    (sum, w.toLong * h, mn, mx)
  }

  private def randBlocks(n: Int, seed: Long, dense: Boolean): Seq[Array[Int]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n) {
      val qc = new Array[Int](64)
      qc(0) = rnd.nextInt(200) - 100
      (1 until 64).foreach { k =>
        if (rnd.nextDouble() < (if (dense) 0.3 else 0.08))
          qc(k) = rnd.nextInt(40) - 20
      }
      qc
    }
  }

  test("general AC stream: engine decode equals the independent direct IDCT") {
    val q = Array.tabulate(64)(k => 1 + k % 7)
    val blocks = randBlocks(6, 424242L, dense = true) // 24x16, 3x2 blocks
    val bytes = encode(24, 16, q, blocks)
    assert(Multimodal.jpegGraySums(bytes) === Some(refSums(24, 16, q, blocks)))
  }

  test("ZRL (16-zero runs) and FF00 stuffing decode correctly") {
    val q = Array.fill(64)(2)
    // one block with a >16 zero gap forcing ZRL, plus sparse noise blocks
    val zrl = new Array[Int](64)
    zrl(0) = 50
    zrl(1) = 15 // then 33 zeros -> ZRL + run
    zrl(35) = -9
    zrl(63) = 4 // tail coefficient: no EOB emitted
    // search seeds until the entropy stream actually contains a stuffed
    // FF00 (bounded: dense random codes hit an FF byte within a few tries)
    val (blocks, bytes) = (777L to 877L).iterator.map { seed =>
      val bl = zrl +: randBlocks(3, seed, dense = true)
      (bl, encode(16, 16, q, bl))
    }.find { case (_, by) =>
      by.drop(2).dropRight(2).sliding(2).exists(p =>
        (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0x00)
    }.getOrElse(fail("no seed in range produced an FF byte — widen the search"))
    assert(Multimodal.jpegGraySums(bytes) === Some(refSums(16, 16, q, blocks)))
  }

  test("spec-legal 0xFF fill padding before markers decodes identically") {
    // T.81 B.1.1.2 permits fill runs before any marker code; the pixel
    // walk must skip them exactly as jpegExif does (ADVICE r10) — the
    // same padded camera file must not yield EXIF but no pixels
    val bytes = Multimodal.makeJpegPixels(2, 1, 1, 4242L)
    val padded = bytes.take(2) ++ Array.fill(4)(0xff.toByte) ++ bytes.drop(2)
    assert(Multimodal.jpegGraySums(padded) === Multimodal.jpegGraySums(bytes))
    assert(Multimodal.jpegGraySums(bytes).isDefined)
    // a fill run that runs off the buffer end still rejects
    assert(Multimodal.jpegGraySums(
      bytes.take(2) ++ Array.fill(4)(0xff.toByte)) === None)
  }

  test("edge crop: non-multiple-of-8 dims count only visible pixels") {
    val q = Array.tabulate(64)(k => 1 + k % 5)
    val blocks = randBlocks(4, 99L, dense = true) // 2x2 blocks for 12x10
    val bytes = encode(12, 10, q, blocks)
    val got = Multimodal.jpegGraySums(bytes)
    assert(got === Some(refSums(12, 10, q, blocks)))
    assert(got.get._2 === 120L) // 12*10 visible, not 16*16 decoded
  }

  test("large coefficients clamp at 0 and 255, bit-exactly") {
    val q = Array.fill(64)(16)
    val hot = new Array[Int](64)
    hot(0) = 120 // dc*q = 1920 -> flat 368 -> clamps to 255
    val cold = new Array[Int](64)
    cold(0) = -120 // -> clamps to 0
    val bytes = encode(16, 8, q, Seq(hot, cold))
    assert(Multimodal.jpegGraySums(bytes) ===
      Some((255L * 64 + 0L * 64, 128L, 0, 255)))
  }

  test("fixture generator round-trips against its own dc chain (oracle twin)") {
    for (i <- 0 until 5) {
      val (wb, hb, q0) = (2 + i, 1 + i % 2, 1 + i % 3)
      val bytes = Multimodal.makeJpegPixels(wb, hb, q0, 12000 + i)
      // independent expected: replay the generator's documented stream
      // layout (2 bytes/block from offset 156) with plain arithmetic
      val n = wb * hb
      var pred = 0
      var sum = 0L
      var mn = 256
      var mx = -1
      (0 until n).foreach { j =>
        val b0 = bytes(156 + 2 * j) & 0xff
        val b1 = bytes(157 + 2 * j) & 0xff
        val bits = (b0 % 128) * 2 + b1 / 128
        pred += (if (bits < 128) bits - 255 else bits)
        val v0 = math.round(128 + pred * q0 / 8.0).toInt
        val v = if (v0 < 0) 0 else if (v0 > 255) 255 else v0
        sum += 64L * v; if (v < mn) mn = v; if (v > mx) mx = v
      }
      assert(Multimodal.jpegGraySums(bytes) ===
        Some((sum, 64L * n, mn, mx)), s"fixture $i diverged")
    }
  }

  /** Color encoder: 4:4:4 interleaved, TWO quant tables (luma 0 /
    * chroma 1 — exercising multi-table DQT and per-component selectors),
    * shared Huffman tables. Blocks per MCU: (Y, Cb, Cr) zigzag-quantized.
    */
  private def encodeColor(w: Int, h: Int, qY: Array[Int], qC: Array[Int],
      mcus: Seq[Seq[Array[Int]]]): Array[Byte] = {
    val bw = new BitWriter
    val pred = new Array[Int](3)
    mcus.foreach { mcu =>
      mcu.zipWithIndex.foreach { case (qc, ci) =>
        val diff = qc(0) - pred(ci)
        pred(ci) = qc(0)
        val t = category(diff)
        bw.put(t, 4)
        if (t > 0) bw.put(if (diff >= 0) diff else diff + (1 << t) - 1, t)
        var k = 1
        var lastNz = 63
        while (lastNz >= 1 && qc(lastNz) == 0) lastNz -= 1
        while (k <= lastNz) {
          var run = 0
          while (qc(k) == 0) { run += 1; k += 1 }
          while (run >= 16) { bw.put(acCodeOf(0xf0), 9); run -= 16 }
          val s2 = category(qc(k))
          bw.put(acCodeOf((run << 4) | s2), 9)
          bw.put(if (qc(k) >= 0) qc(k) else qc(k) + (1 << s2) - 1, s2)
          k += 1
        }
        if (lastNz < 63) bw.put(acCodeOf(0x00), 9)
      }
    }
    bw.flush()
    val bos = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = bos.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    u16(0xffd8)
    u16(0xffdb); u16(2 + 65 * 2); u8(0x00); qY.foreach(u8); u8(0x01); qC.foreach(u8)
    u16(0xffc0); u16(8 + 9); u8(8); u16(h); u16(w); u8(3)
    u8(1); u8(0x11); u8(0) // Y  -> qtable 0
    u8(2); u8(0x11); u8(1) // Cb -> qtable 1
    u8(3); u8(0x11); u8(1) // Cr -> qtable 1
    u16(0xffc4); u16(2 + 1 + 16 + 12); u8(0x00)
    (1 to 16).foreach(l => u8(if (l == 4) 12 else 0))
    (0 to 11).foreach(u8)
    u16(0xffc4); u16(2 + 1 + 16 + acSymbols.length); u8(0x10)
    (1 to 16).foreach(l => u8(if (l == 9) acSymbols.length else 0))
    acSymbols.foreach(u8)
    u16(0xffda); u16(6 + 6); u8(3)
    (1 to 3).foreach { id => u8(id); u8(0x00) }
    u8(0); u8(63); u8(0)
    bos.write(bw.out.toByteArray)
    u16(0xffd9)
    bos.toByteArray
  }

  private def clamp8(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** Independent color reference: per-component direct IDCT planes, then
    * the JFIF conversion — mirrors the engine's documented rounding.
    */
  private def refColorSums(w: Int, h: Int, qY: Array[Int], qC: Array[Int],
      mcus: Seq[Seq[Array[Int]]]): (Long, Long, Long, Long) = {
    val bx = (w + 7) / 8
    var (sr, sg, sb) = (0L, 0L, 0L)
    mcus.zipWithIndex.foreach { case (mcu, bi) =>
      val planes = mcu.zipWithIndex.map { case (qc, ci) =>
        val q = if (ci == 0) qY else qC
        val f = new Array[Double](64)
        (0 until 64).foreach(k => f(zig(k)) = qc(k).toDouble * q(k))
        Array.tabulate(8, 8) { (py, px) =>
          var acc = 0.0
          for (v <- 0 until 8; u <- 0 until 8) {
            val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
            val cv = if (v == 0) 1.0 / math.sqrt(2.0) else 1.0
            acc += cu * cv / 4.0 * f(v * 8 + u) *
              math.cos((2 * px + 1) * u * math.Pi / 16.0) *
              math.cos((2 * py + 1) * v * math.Pi / 16.0)
          }
          clamp8(math.floor(acc + 128.5).toInt)
        }
      }
      val x0 = (bi % bx) * 8
      val y0 = (bi / bx) * 8
      for (py <- 0 until 8; px <- 0 until 8 if y0 + py < h && x0 + px < w) {
        val y = planes(0)(py)(px)
        val cb = planes(1)(py)(px)
        val cr = planes(2)(py)(px)
        sr += clamp8(math.floor(y + 1.402 * (cr - 128) + 0.5).toInt)
        sg += clamp8(math.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5).toInt)
        sb += clamp8(math.floor(y + 1.772 * (cb - 128) + 0.5).toInt)
      }
    }
    (sr, sg, sb, w.toLong * h)
  }

  test("color 4:4:4: interleaved MCUs, per-component predictors and quant tables") {
    val qY = Array.tabulate(64)(k => 1 + k % 7)
    val qC = Array.tabulate(64)(k => 2 + k % 5) // distinct chroma table
    val rnd = new scala.util.Random(31337L)
    val mcus = Seq.fill(6) { // 24x16
      Seq.fill(3) {
        val qc = new Array[Int](64)
        qc(0) = rnd.nextInt(160) - 80
        (1 until 64).foreach(k => if (rnd.nextDouble() < 0.15) qc(k) = rnd.nextInt(30) - 15)
        qc
      }
    }
    val bytes = encodeColor(24, 16, qY, qC, mcus)
    val got = Multimodal.jpegPixelStats(bytes)
    assert(got.isDefined && got.get.nComp === 3)
    val (sr, sg, sb, n) = refColorSums(24, 16, qY, qC, mcus)
    assert((got.get.sumR, got.get.sumG, got.get.sumB, got.get.nPx) === ((sr, sg, sb, n)))
    // grayscale view must refuse color frames (e12l's 1-component contract)
    assert(Multimodal.jpegGraySums(bytes).isEmpty)
  }

  test("color fixture generator round-trips its three dc chains (oracle twin)") {
    for (i <- 0 until 5) {
      val (wb, hb, q0) = (2 + i, 1 + i % 2, 1 + i % 3)
      val bytes = Multimodal.makeJpegColorPixels(wb, hb, q0, 13000 + i)
      val n = wb * hb
      val pred = new Array[Int](3)
      var (sr, sg, sb) = (0L, 0L, 0L)
      (0 until n).foreach { j =>
        val sm = (0 until 3).map { c =>
          val b0 = bytes(166 + 6 * j + 2 * c) & 0xff
          val b1 = bytes(167 + 6 * j + 2 * c) & 0xff
          val bits = (b0 % 128) * 2 + b1 / 128
          pred(c) += (if (bits < 128) bits - 255 else bits)
          clamp8(math.round(128 + pred(c) * q0 / 8.0).toInt)
        }
        val (y, cb, cr) = (sm(0), sm(1), sm(2))
        sr += 64L * clamp8(math.floor(y + 1.402 * (cr - 128) + 0.5).toInt)
        sg += 64L * clamp8(math.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5).toInt)
        sb += 64L * clamp8(math.floor(y + 1.772 * (cb - 128) + 0.5).toInt)
      }
      val got = Multimodal.jpegPixelStats(bytes).get
      assert((got.sumR, got.sumG, got.sumB, got.nPx) === ((sr, sg, sb, 64L * n)),
        s"color fixture $i diverged")
    }
  }

  /** 4:2:0 encoder: SOF luma sampling 0x22, MCU = 4 Y blocks (raster) +
    * Cb + Cr, 16×16 pixels per MCU.
    */
  private def encodeColor420(w: Int, h: Int, qY: Array[Int], qC: Array[Int],
      mcus: Seq[Seq[Array[Int]]]): Array[Byte] =
    encodeColorSampled(w, h, qY, qC, mcus, ySampling = 0x22, nYBlocks = 4)

  /** Subsampled-color encoder for any luma sampling (0x22 = 4:2:0,
    * 0x21 = 4:2:2, 0x12 = 4:4:0): nYBlocks luma blocks per MCU in raster
    * order, then Cb, Cr.
    */
  private def encodeColorSampled(w: Int, h: Int, qY: Array[Int], qC: Array[Int],
      mcus: Seq[Seq[Array[Int]]], ySampling: Int, nYBlocks: Int): Array[Byte] = {
    // header donor only (stream replaced below): same tables/dims, any blocks
    val base = encodeColor(w, h, qY, qC, Seq(Seq.fill(3)(Array.fill(64)(0))))
    val bw = new BitWriter
    val pred = new Array[Int](3)
    val compOf = Array.tabulate(nYBlocks + 2)(i =>
      if (i < nYBlocks) 0 else i - nYBlocks + 1) // block slot -> component
    mcus.foreach { mcu =>
      mcu.zipWithIndex.foreach { case (qc, slot) =>
        val ci = compOf(slot)
        val diff = qc(0) - pred(ci)
        pred(ci) = qc(0)
        val t = category(diff)
        bw.put(t, 4)
        if (t > 0) bw.put(if (diff >= 0) diff else diff + (1 << t) - 1, t)
        var k = 1
        var lastNz = 63
        while (lastNz >= 1 && qc(lastNz) == 0) lastNz -= 1
        while (k <= lastNz) {
          var run = 0
          while (qc(k) == 0) { run += 1; k += 1 }
          while (run >= 16) { bw.put(acCodeOf(0xf0), 9); run -= 16 }
          val s2 = category(qc(k))
          bw.put(acCodeOf((run << 4) | s2), 9)
          bw.put(if (qc(k) >= 0) qc(k) else qc(k) + (1 << s2) - 1, s2)
          k += 1
        }
        if (lastNz < 63) bw.put(acCodeOf(0x00), 9)
      }
    }
    bw.flush()
    // splice: reuse encodeColor's header (identical except Y sampling) and
    // replace the entropy stream
    val sosAt = base.indices.find(i =>
      (base(i) & 0xff) == 0xff && (base(i + 1) & 0xff) == 0xda).get
    val streamAt = sosAt + 2 + ((base(sosAt + 2) & 0xff) << 8 | (base(sosAt + 3) & 0xff))
    val out = new java.io.ByteArrayOutputStream()
    out.write(base, 0, streamAt)
    out.write(bw.out.toByteArray)
    out.write(0xff); out.write(0xd9)
    val bytes = out.toByteArray
    val sofAt = bytes.indices.find(i =>
      (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xc0).get
    bytes(sofAt + 11) = ySampling.toByte
    bytes
  }

  test("4:2:0: 6-block MCUs, chroma upsampling, shared predictors per component") {
    val qY = Array.tabulate(64)(k => 1 + k % 7)
    val qC = Array.tabulate(64)(k => 2 + k % 5)
    val rnd = new scala.util.Random(271828L)
    def block(dcRange: Int): Array[Int] = {
      val qc = new Array[Int](64)
      qc(0) = rnd.nextInt(2 * dcRange) - dcRange
      (1 until 64).foreach(k => if (rnd.nextDouble() < 0.12) qc(k) = rnd.nextInt(30) - 15)
      qc
    }
    val mcus = Seq.fill(2)(Seq.fill(4)(block(80)) ++ Seq(block(40), block(40))) // 32x16
    val bytes = encodeColor420(32, 16, qY, qC, mcus)
    val got = Multimodal.jpegPixelStats(bytes)
    assert(got.isDefined && got.get.nComp === 3 && got.get.nPx === 512L)
    // independent reference: decode planes directly, upsample chroma 2x
    val bxM = 2
    var (sr, sg, sb) = (0L, 0L, 0L)
    def plane(qc: Array[Int], q: Array[Int]): Array[Array[Int]] = {
      val f = new Array[Double](64)
      (0 until 64).foreach(k => f(zig(k)) = qc(k).toDouble * q(k))
      Array.tabulate(8, 8) { (py, px) =>
        var acc = 0.0
        for (v <- 0 until 8; u <- 0 until 8) {
          val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
          val cv = if (v == 0) 1.0 / math.sqrt(2.0) else 1.0
          acc += cu * cv / 4.0 * f(v * 8 + u) *
            math.cos((2 * px + 1) * u * math.Pi / 16.0) *
            math.cos((2 * py + 1) * v * math.Pi / 16.0)
        }
        clamp8(math.floor(acc + 128.5).toInt)
      }
    }
    // qc(0) is the ABSOLUTE dc (the encoder differentially codes it), so
    // each block's plane is independent of scan order
    val compOf = Array(0, 0, 0, 0, 1, 2)
    val mcuPlanes = mcus.map { mcu =>
      mcu.zipWithIndex.map { case (qc, slot) =>
        plane(qc, if (compOf(slot) == 0) qY else qC)
      }
    }
    mcuPlanes.zipWithIndex.foreach { case (planes, mi) =>
      val x0 = (mi % bxM) * 16
      for (py <- 0 until 16; px <- 0 until 16 if x0 + px < 32) {
        val y = planes(2 * (py / 8) + (px / 8))(py % 8)(px % 8)
        val cb = planes(4)(py / 2)(px / 2)
        val cr = planes(5)(py / 2)(px / 2)
        sr += clamp8(math.floor(y + 1.402 * (cr - 128) + 0.5).toInt)
        sg += clamp8(math.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5).toInt)
        sb += clamp8(math.floor(y + 1.772 * (cb - 128) + 0.5).toInt)
      }
    }
    assert((got.get.sumR, got.get.sumG, got.get.sumB) === ((sr, sg, sb)))
  }

  test("4:2:2 and 4:4:0: 4-block MCUs, single-axis chroma upsampling") {
    val qY = Array.tabulate(64)(k => 1 + k % 6)
    val qC = Array.tabulate(64)(k => 2 + k % 4)
    val rnd = new scala.util.Random(314159L)
    def block(dcRange: Int): Array[Int] = {
      val qc = new Array[Int](64)
      qc(0) = rnd.nextInt(2 * dcRange) - dcRange
      (1 until 64).foreach(k => if (rnd.nextDouble() < 0.12) qc(k) = rnd.nextInt(30) - 15)
      qc
    }
    def plane(qc: Array[Int], q: Array[Int]): Array[Array[Int]] = {
      val f = new Array[Double](64)
      (0 until 64).foreach(k => f(zig(k)) = qc(k).toDouble * q(k))
      Array.tabulate(8, 8) { (py, px) =>
        var acc = 0.0
        for (v <- 0 until 8; u <- 0 until 8) {
          val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
          val cv = if (v == 0) 1.0 / math.sqrt(2.0) else 1.0
          acc += cu * cv / 4.0 * f(v * 8 + u) *
            math.cos((2 * px + 1) * u * math.Pi / 16.0) *
            math.cos((2 * py + 1) * v * math.Pi / 16.0)
        }
        clamp8(math.floor(acc + 128.5).toInt)
      }
    }
    def jfif(y: Int, cb: Int, cr: Int): (Int, Int, Int) = (
      clamp8(math.floor(y + 1.402 * (cr - 128) + 0.5).toInt),
      clamp8(math.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5).toInt),
      clamp8(math.floor(y + 1.772 * (cb - 128) + 0.5).toInt))

    // 4:2:2 — luma 2x1: 16x8-pixel MCUs, chroma upsampled 2x horizontally
    val mcus422 = Seq.fill(2)(Seq.fill(2)(block(80)) ++ Seq(block(40), block(40))) // 32x8
    val b422 = encodeColorSampled(32, 8, qY, qC, mcus422, ySampling = 0x21, nYBlocks = 2)
    val got422 = Multimodal.jpegPixelStats(b422)
    assert(got422.isDefined && got422.get.nPx === 256L, "4:2:2 must decode")
    var (sr, sg, sb) = (0L, 0L, 0L)
    mcus422.foreach { mcu =>
      val planes = mcu.zipWithIndex.map { case (qc, slot) =>
        plane(qc, if (slot < 2) qY else qC)
      }
      for (py <- 0 until 8; px <- 0 until 16) {
        val y = planes(px / 8)(py)(px % 8)
        val (r, g, b2) = jfif(y, planes(2)(py)(px / 2), planes(3)(py)(px / 2))
        sr += r; sg += g; sb += b2
      }
    }
    assert((got422.get.sumR, got422.get.sumG, got422.get.sumB) === ((sr, sg, sb)), "4:2:2 sums")

    // 4:4:0 — luma 1x2: 8x16-pixel MCUs, chroma upsampled 2x vertically
    val mcus440 = Seq.fill(2)(Seq.fill(2)(block(80)) ++ Seq(block(40), block(40))) // 16x16
    val b440 = encodeColorSampled(16, 16, qY, qC, mcus440, ySampling = 0x12, nYBlocks = 2)
    val got440 = Multimodal.jpegPixelStats(b440)
    assert(got440.isDefined && got440.get.nPx === 256L, "4:4:0 must decode")
    var (tr, tg, tb) = (0L, 0L, 0L)
    mcus440.foreach { mcu =>
      val planes = mcu.zipWithIndex.map { case (qc, slot) =>
        plane(qc, if (slot < 2) qY else qC)
      }
      for (py <- 0 until 16; px <- 0 until 8) {
        val y = planes(py / 8)(py % 8)(px)
        val (r, g, b2) = jfif(y, planes(2)(py / 2)(px), planes(3)(py / 2)(px))
        tr += r; tg += g; tb += b2
      }
    }
    assert((got440.get.sumR, got440.get.sumG, got440.get.sumB) === ((tr, tg, tb)), "4:4:0 sums")
  }

  test("4:2:0 fixture generator round-trips its dc chains (oracle twin)") {
    for (i <- 0 until 5) {
      val (wm, hm, q0) = (1 + i, 1 + i % 2, 1 + i % 3)
      val bytes = Multimodal.makeJpeg420Pixels(wm, hm, q0, 14000 + i)
      val n = wm * hm
      var predY = 0
      val predC = new Array[Int](2)
      var (sr, sg, sb) = (0L, 0L, 0L)
      (0 until n).foreach { j =>
        def bits(off: Int): Int = {
          val b0 = bytes(off) & 0xff
          val b1 = bytes(off + 1) & 0xff
          val v = (b0 % 128) * 2 + b1 / 128
          if (v < 128) v - 255 else v
        }
        val ys = (0 until 4).map { blk =>
          predY += bits(166 + 12 * j + 2 * blk)
          clamp8(math.round(128 + predY * q0 / 8.0).toInt)
        }
        val cs = (0 until 2).map { c =>
          predC(c) += bits(174 + 12 * j + 2 * c)
          clamp8(math.round(128 + predC(c) * q0 / 8.0).toInt)
        }
        val (cb, cr) = (cs(0), cs(1))
        ys.foreach { y =>
          sr += 64L * clamp8(math.floor(y + 1.402 * (cr - 128) + 0.5).toInt)
          sg += 64L * clamp8(math.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5).toInt)
          sb += 64L * clamp8(math.floor(y + 1.772 * (cb - 128) + 0.5).toInt)
        }
      }
      val got = Multimodal.jpegPixelStats(bytes).get
      assert((got.sumR, got.sumG, got.sumB, got.nPx) === ((sr, sg, sb, 256L * n)),
        s"4:2:0 fixture $i diverged")
    }
  }

  test("restart intervals: byte-align, cyclic RSTn, predictor resets") {
    val q = Array.tabulate(64)(k => 1 + k % 7)
    val blocks = randBlocks(7, 606L, dense = true) // 56x8, restarts at 2,4,6
    val bytes = encode(56, 8, q, blocks, dri = 2)
    // the stream really contains three restart markers
    val rsts = bytes.sliding(2).count(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) >= 0xd0 && (p(1) & 0xff) <= 0xd7)
    assert(rsts === 3, s"expected 3 RSTn markers, found $rsts")
    assert(Multimodal.jpegGraySums(bytes) === Some(refSums(56, 8, q, blocks)))
    // an out-of-cycle RSTn (encoder bug / corruption) rejects
    val corrupt = bytes.clone()
    val at = corrupt.indices.find(i =>
      (corrupt(i) & 0xff) == 0xff && (corrupt(i + 1) & 0xff) == 0xd0).get
    corrupt(at + 1) = 0xd5.toByte
    assert(Multimodal.jpegGraySums(corrupt).isEmpty)
  }

  test("4:1:1: 6-block 32x8 MCUs, 4x horizontal chroma upsampling") {
    val qY = Array.tabulate(64)(k => 1 + k % 6)
    val qC = Array.tabulate(64)(k => 2 + k % 4)
    val rnd = new scala.util.Random(141421L)
    def block(dcRange: Int): Array[Int] = {
      val qc = new Array[Int](64)
      qc(0) = rnd.nextInt(2 * dcRange) - dcRange
      (1 until 64).foreach(k => if (rnd.nextDouble() < 0.12) qc(k) = rnd.nextInt(30) - 15)
      qc
    }
    def plane(qc: Array[Int], q: Array[Int]): Array[Array[Int]] = {
      val f = new Array[Double](64)
      (0 until 64).foreach(k => f(zig(k)) = qc(k).toDouble * q(k))
      Array.tabulate(8, 8) { (py, px) =>
        var acc = 0.0
        for (v <- 0 until 8; u <- 0 until 8) {
          val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
          val cv = if (v == 0) 1.0 / math.sqrt(2.0) else 1.0
          acc += cu * cv / 4.0 * f(v * 8 + u) *
            math.cos((2 * px + 1) * u * math.Pi / 16.0) *
            math.cos((2 * py + 1) * v * math.Pi / 16.0)
        }
        clamp8(math.floor(acc + 128.5).toInt)
      }
    }
    // 2 MCUs side by side: 64x8 pixels, luma 4x1, chroma 1x1
    val mcus = Seq.fill(2)(Seq.fill(4)(block(80)) ++ Seq(block(40), block(40)))
    val bytes = encodeColorSampled(64, 8, qY, qC, mcus, ySampling = 0x41, nYBlocks = 4)
    val got = Multimodal.jpegPixelStats(bytes)
    assert(got.isDefined && got.get.nComp === 3 && got.get.nPx === 512L, "4:1:1 must decode")
    var (sr, sg, sb) = (0L, 0L, 0L)
    mcus.foreach { mcu =>
      val planes = mcu.zipWithIndex.map { case (qc, slot) =>
        plane(qc, if (slot < 4) qY else qC)
      }
      for (py <- 0 until 8; px <- 0 until 32) {
        val y = planes(px / 8)(py)(px % 8)
        val cb = planes(4)(py)(px / 4) // 4x horizontal index scaling
        val cr = planes(5)(py)(px / 4)
        sr += clamp8(math.floor(y + 1.402 * (cr - 128) + 0.5).toInt)
        sg += clamp8(math.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5).toInt)
        sb += clamp8(math.floor(y + 1.772 * (cb - 128) + 0.5).toInt)
      }
    }
    assert((got.get.sumR, got.get.sumG, got.get.sumB) === ((sr, sg, sb)), "4:1:1 sums")
  }

  test("unsupported sampling (4x2 luma / subsampled chroma / 4x1 chroma) rejects cleanly") {
    val qY = Array.fill(64)(2)
    val mcus = Seq(Seq.fill(3)(Array.fill(64)(0)))
    val bytes = encodeColor(8, 8, qY, qY, mcus)
    val sofAt = bytes.indices.find(i =>
      (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xc0).get
    val bad42 = bytes.clone()
    bad42(sofAt + 11) = 0x42.toByte // 4×2 luma: outside the envelope
    assert(Multimodal.jpegPixelStats(bad42).isEmpty)
    val bad14 = bytes.clone()
    bad14(sofAt + 11) = 0x14.toByte // 1×4 luma: outside the envelope
    assert(Multimodal.jpegPixelStats(bad14).isEmpty)
    val badChroma = bytes.clone()
    badChroma(sofAt + 14) = 0x21.toByte // subsampled-geometry chroma
    assert(Multimodal.jpegPixelStats(badChroma).isEmpty)
    val badChroma41 = bytes.clone()
    badChroma41(sofAt + 14) = 0x41.toByte // 4×1 is a LUMA-only allowance
    assert(Multimodal.jpegPixelStats(badChroma41).isEmpty)
    // 4:1:1 progressive stays outside the envelope (rare-times-rare)
    val prog41 = bytes.clone()
    prog41(sofAt + 1) = 0xc2.toByte
    prog41(sofAt + 11) = 0x41.toByte
    assert(Multimodal.jpegPixelStats(prog41).isEmpty)
  }

  test("rejects: progressive, multi-component, truncation, garbage") {
    val q = Array.fill(64)(2)
    val ok = encode(16, 8, q, randBlocks(2, 5L, dense = false))
    assert(Multimodal.jpegGraySums(ok).isDefined)
    // progressive: flip SOF0 (FFC0) to SOF2 (FFC2)
    val prog = ok.clone()
    val sofAt = prog.indices.find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(Multimodal.jpegGraySums(prog).isEmpty)
    // truncated entropy stream
    assert(Multimodal.jpegGraySums(ok.take(ok.length - 20)).isEmpty)
    // multi-component fixture (header-level) has no scan: rejects cleanly
    assert(Multimodal.jpegGraySums(Multimodal.makeJpeg(32, 32, 3, 7L)).isEmpty)
    // not a JPEG
    assert(Multimodal.jpegGraySums(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.jpegGraySums(null).isEmpty)
  }
}
