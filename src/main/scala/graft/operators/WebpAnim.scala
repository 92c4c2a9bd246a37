package graft.operators

/** Animated WebP (VP8X/ANIM/ANMF) frame EXTRACTION — the container
  * walk a crawl pipeline needs for animated stickers/memes: per-frame
  * geometry, timing, dispose/blend flags, and the embedded still
  * bitstreams handed to the reference-pinned [[WebpL]]/[[Vp8]]
  * decoders (each ANMF's chunks are re-wrapped as a canonical still
  * container, so ALPH+VP8, bare VP8 and VP8L frames all decode through
  * the one pinned path).
  *
  * Scope decision (r15 memo): canvas COMPOSITING (background fill +
  * dispose-to-background + per-frame alpha blending) is deliberately
  * out of scope — no reference implementation exists on this runtime
  * (no libwebpdemux; WebPDecodeRGBA rejects animations), so composited
  * canvases would be unpinnable round-trip-blind output. Extraction is
  * the honest boundary: the container layout below is transcribed from
  * the PUBLIC WebP container spec, every field is validated
  * structurally (sizes, bounds, reserved bits, even-offset rule), and
  * a layout misunderstanding cannot silently corrupt pixels because
  * the embedded streams are self-delimiting and pixel-pinned against
  * libwebp by Vp8Spec/WebpLSpec. Revisit trigger: libwebpdemux (the
  * WebPAnimDecoder reference) appearing on the runtime.
  *
  * Layout (container spec): VP8X(10 bytes: 1 flag byte — ICC 0x20,
  * ALPHA 0x10, EXIF 0x08, XMP 0x04, ANIM 0x02 — 3 reserved bytes,
  * 24-bit LE canvasW-1, 24-bit LE canvasH-1); ANIM(6: 32-bit BGRA
  * background, 16-bit LE loop count); per frame ANMF(16 + payload:
  * 24-bit x/2, y/2, w-1, h-1, duration; 1 flag byte — bit1 set =
  * do-NOT-blend, bit0 set = dispose-to-background — then the frame's
  * ALPH?+(VP8|VP8L) chunks).
  *
  * Shape at 100 TB: per-file scan-local walk + decode, zero shuffle.
  */
object WebpAnim {

  private object Malformed extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  final case class Frame(idx: Int, x: Int, y: Int, width: Int, height: Int,
      durationMs: Int, disposeToBackground: Boolean, blend: Boolean,
      still: Array[Byte] /* canonical still-WebP re-wrap */)

  final case class Anim(canvasW: Int, canvasH: Int, background: Int,
      loopCount: Int, frames: Vector[Frame])

  private def u24(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16)

  private def u32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** Strict parse; None on any container violation. Requires the ANIM
    * flag, an ANIM chunk before the first ANMF, and ≥1 frame whose
    * embedded bitstream chunks are structurally intact.
    */
  def parse(bytes: Array[Byte]): Option[Anim] = {
    try {
      if (bytes == null || bytes.length < 30) throw Malformed
      if (!(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F'))
        throw Malformed
      if (u32(bytes, 4) + 8 != bytes.length) throw Malformed
      if (!(bytes(8) == 'W' && bytes(9) == 'E' && bytes(10) == 'B' && bytes(11) == 'P'))
        throw Malformed
      var p = 12
      var canvasW = -1
      var canvasH = -1
      var background = 0
      var loopCount = -1
      val frames = Vector.newBuilder[Frame]
      var nFrames = 0
      while (p + 8 <= bytes.length) {
        val fourcc = new String(bytes, p, 4, "ISO-8859-1")
        val size = u32(bytes, p + 4)
        if (size < 0 || p + 8 + size > bytes.length) throw Malformed
        val off = p + 8
        fourcc match {
          case "VP8X" =>
            if (size != 10 || canvasW >= 0) throw Malformed
            val flags = bytes(off) & 0xff
            if ((flags & 0x02) == 0) throw Malformed // not an animation
            if ((flags & 0xc1) != 0) throw Malformed // reserved bits
            canvasW = u24(bytes, off + 4) + 1
            canvasH = u24(bytes, off + 7) + 1
          case "ANIM" =>
            if (size != 6 || canvasW < 0 || loopCount >= 0) throw Malformed
            background = u32(bytes, off).toInt
            loopCount = (bytes(off + 4) & 0xff) | ((bytes(off + 5) & 0xff) << 8)
          case "ANMF" =>
            if (loopCount < 0 || size < 16) throw Malformed
            val x = u24(bytes, off) * 2
            val y = u24(bytes, off + 3) * 2
            val w = u24(bytes, off + 6) + 1
            val h = u24(bytes, off + 9) + 1
            val dur = u24(bytes, off + 12)
            val flags = bytes(off + 15) & 0xff
            if ((flags & 0xfc) != 0) throw Malformed // reserved
            if (x + w > canvasW || y + h > canvasH) throw Malformed
            // re-wrap the frame's chunks as a canonical still container
            val payload = java.util.Arrays.copyOfRange(
              bytes, off + 16, (off + size).toInt)
            if (payload.length < 8) throw Malformed
            val still = new java.io.ByteArrayOutputStream()
            still.write("RIFF".getBytes("ISO-8859-1"))
            val total = 4 + payload.length
            var i = 0
            while (i < 4) { still.write((total >>> (8 * i)) & 0xff); i += 1 }
            still.write("WEBP".getBytes("ISO-8859-1"))
            still.write(payload, 0, payload.length)
            frames += Frame(nFrames, x, y, w, h, dur,
              disposeToBackground = (flags & 1) != 0,
              blend = (flags & 2) == 0, still.toByteArray)
            nFrames += 1
            if (nFrames > (1 << 16)) throw Malformed
          case _ => // ICCP/EXIF/XMP and unknown chunks walk over
        }
        p += 8 + size.toInt + (size.toInt & 1)
      }
      if (canvasW < 0 || loopCount < 0 || nFrames == 0) throw Malformed
      Some(Anim(canvasW, canvasH, background, loopCount, frames.result()))
    } catch {
      case Malformed => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  /** Fixture reverse direction: an animation from still-WebP members
    * (each member's VP8/VP8L/ALPH chunks are embedded verbatim).
    * Offsets must be even per the spec's /2 encoding.
    */
  def make(canvasW: Int, canvasH: Int, background: Int, loopCount: Int,
      frames: Seq[(Int, Int, Int, Boolean, Boolean, Array[Byte])]
      /* (x, y, durationMs, dispose, blend, stillWebp) */): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def chunk(cc: String, body: Array[Byte]): Unit = {
      out.write(cc.getBytes("ISO-8859-1"))
      var i = 0
      while (i < 4) { out.write((body.length >>> (8 * i)) & 0xff); i += 1 }
      out.write(body, 0, body.length)
      if ((body.length & 1) == 1) out.write(0)
    }
    val vp8x = new java.io.ByteArrayOutputStream()
    vp8x.write(0x02) // ANIM flag
    vp8x.write(0); vp8x.write(0); vp8x.write(0)
    Seq(canvasW - 1, canvasH - 1).foreach { v =>
      vp8x.write(v & 0xff); vp8x.write((v >> 8) & 0xff); vp8x.write((v >> 16) & 0xff)
    }
    val anim = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < 4) { anim.write((background >>> (8 * i)) & 0xff); i += 1 }
    anim.write(loopCount & 0xff); anim.write((loopCount >> 8) & 0xff)
    out.write("RIFF????WEBP".getBytes("ISO-8859-1")) // size patched below
    chunk("VP8X", vp8x.toByteArray)
    chunk("ANIM", anim.toByteArray)
    frames.foreach { case (x, y, dur, dispose, blend, still) =>
      require(x % 2 == 0 && y % 2 == 0, "ANMF offsets are even")
      // strip the member's RIFF header; keep its chunks verbatim
      require(still.length > 12 && still(0) == 'R' && still(8) == 'W')
      val inner = java.util.Arrays.copyOfRange(still, 12, still.length)
      val w = ((still(12 + 8 + 6) & 0xff) | ((still(12 + 8 + 7) & 0xff) << 8)) & 0x3fff
      val body = new java.io.ByteArrayOutputStream()
      def b24(v: Int): Unit = { body.write(v & 0xff); body.write((v >> 8) & 0xff); body.write((v >> 16) & 0xff) }
      b24(x / 2); b24(y / 2)
      // frame dims from the embedded still (via the pinned decoder)
      val img = WebpL.decode(still).getOrElse(throw new IllegalArgumentException(
        s"fixture member does not decode (w=$w)"))
      b24(img.width - 1); b24(img.height - 1)
      b24(dur)
      body.write((if (dispose) 1 else 0) | (if (blend) 0 else 2))
      body.write(inner, 0, inner.length)
      chunk("ANMF", body.toByteArray)
    }
    val bytes = out.toByteArray
    val size = bytes.length - 8
    i = 0
    while (i < 4) { bytes(4 + i) = ((size >>> (8 * i)) & 0xff).toByte; i += 1 }
    bytes
  }
}
