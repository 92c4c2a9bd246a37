package graft.operators

import graft.TextFunctions.{fnv1a64, splitmix64}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column processing (SURVEY.md §2 E12 / driver north star).
  *
  * Media travel as opaque `binary` columns with typed metadata. The
  * Spark-side plumbing — schemas, per-partition batch processing, column
  * wiring — is real and tested. Decoding is REAL, in pure JVM byte
  * arithmetic (no codec libraries ship in this environment): header
  * decode for BMP/PNG/GIF/JPEG/WAV/MP4; full pixel decode for BMP
  * (24bpp), PNG (any conforming zlib stream, all five filters, every
  * 8-bit color type, sequential and Adam7-interlaced), GIF (general
  * LZW, interlace, local color tables), and JPEG from
  * baseline-sequential through PROGRESSIVE — gray/4:4:4/4:2:0/4:2:2/
  * 4:4:0 sampling (baseline additionally 4:1:1), restart intervals,
  * full T.81 Annex G successive
  * approximation (canonical Huffman, DC/AC entropy decode with EOB
  * runs and refinement correction bits, dequant + IDCT, JFIF color
  * conversion) — plus WAV PCM16 sample stats. On top of the decoders:
  * perceptual features ([[imageAHash64]], [[audioEnvelopeHash64]],
  * [[imageThumb64]]) defined with integer-exact arithmetic so the
  * DuckDB oracle re-derives them from raw bytes. Only true codec
  * bitstreams (video) fall back to clearly-labeled deterministic
  * STUBS — swapping a stub for a real decoder changes only the
  * function body, not the pipeline shape.
  *
  * The batch API mirrors the `mapInPandas` pattern: `mapPartitions` walks
  * the iterator in bounded batches so a real decoder could amortize model
  * or codec initialization per batch instead of per row (the entire point
  * of batched UDFs at 100 TB).
  */
object Multimodal {

  val FeatureDim = 16

  // ---- REAL format decoders (pure byte arithmetic, no codec libs) --------

  private def leU16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def leU32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def leS32(b: Array[Byte], o: Int): Int = leU32(b, o).toInt

  /** REAL BMP header decode (BITMAPINFOHEADER layout): `BM` magic, then
    * width/height as little-endian i32 at offsets 18/22 and bits-per-pixel
    * as LE u16 at 28. None for anything that is not a BMP.
    */
  def decodeBmpHeader(b: Array[Byte]): Option[(Int, Int, Int)] =
    if (b != null && b.length >= 54 && b(0) == 'B'.toByte && b(1) == 'M'.toByte)
      Some((leS32(b, 18), leS32(b, 22), leU16(b, 28)))
    else None

  /** REAL WAV (RIFF) decode: verifies `RIFF..WAVE`, then walks chunks —
    * `fmt ` carries channels (LE u16 at +2), sample rate (LE u32 at +4) and
    * bits/sample (LE u16 at +14); `data`'s chunk size over the frame size
    * gives the sample count. None for non-WAV bytes.
    */
  def decodeWavHeader(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def tag(o: Int): String =
      if (b.length >= o + 4) new String(b.slice(o, o + 4), "US-ASCII") else ""
    if (b == null || b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") None
    else {
      var o = 12
      var fmt: Option[(Int, Int, Int)] = None // channels, rate, bits
      var dataBytes = -1L
      var halt = false
      while (!halt && o + 8 <= b.length && (fmt.isEmpty || dataBytes < 0)) {
        val id = tag(o)
        val sz = leU32(b, o + 4)
        // fmt field reads span to o+23: guard against the FILE end — a
        // chunk declared near EOF has a size its bytes don't back
        if (id == "fmt " && sz >= 16 && o + 24 <= b.length)
          fmt = Some((leU16(b, o + 10), leU32(b, o + 12).toInt, leU16(b, o + 22)))
        else if (id == "data") dataBytes = sz
        // advance in Long: a corrupt u32 size truncated to Int can go
        // non-positive (infinite loop) or overflow o — halt instead
        val next = o.toLong + 8L + sz + (sz & 1L) // chunks are word-aligned
        if (next <= o || next > b.length.toLong) halt = true else o = next.toInt
      }
      fmt.collect { case (ch, rate, bits) if dataBytes >= 0 && ch > 0 && bits > 0 =>
        (ch, rate, bits, dataBytes / (ch.toLong * (bits / 8).max(1)))
      }
    }
  }

  private def beU32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  /** REAL PNG IHDR decode: 8-byte signature, then the mandatory first chunk
    * must be IHDR (length 13) — width/height as big-endian u32 at offsets
    * 16/20, bit depth and color type at 24/25. The chunk CRC (CRC-32 over
    * tag+payload, offsets 12..28) is VERIFIED, not skipped — a truncated or
    * bit-flipped header yields None, never garbage dimensions. None for
    * anything that is not a PNG.
    */
  def decodePngHeader(b: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    if (b == null || b.length < 33 || !b.take(8).sameElements(sig)) None
    else if (beU32(b, 8) != 13L || new String(b.slice(12, 16), "US-ASCII") != "IHDR") None
    else {
      val crc = new java.util.zip.CRC32
      crc.update(b, 12, 17) // tag + 13-byte payload
      if (crc.getValue != beU32(b, 29)) None
      else Some((beU32(b, 16).toInt, beU32(b, 20).toInt, b(24) & 0xff, b(25) & 0xff))
    }
  }

  /** REAL pixel-level PNG decode for EVERY 8-bit color type — grayscale
    * (0), truecolor (2), paletted (3, PLTE-mapped), gray+alpha (4), RGBA
    * (6; alpha dropped) — sequential AND Adam7-interlaced: the chunk
    * walk collects every IDAT payload, the concatenated zlib stream
    * inflates through `java.util.zip.Inflater` (JDK — zero codec
    * dependencies), scanlines un-filter per the PNG spec
    * (None/Sub/Up/Average/Paeth at the color type's bpp, per interlace
    * pass), and interlaced passes scatter back into raster order.
    * Returns per-channel RGB sums + pixel count, from which channel
    * means follow exactly. None for non-PNG, 16-bit depths, a
    * missing/oversized PLTE or out-of-palette index, a corrupt or
    * truncated zlib stream, or bad filter bytes — validate, don't
    * trust. Handles ANY conforming deflate stream (stored OR
    * huffman-compressed): fixtures use stored blocks so the DuckDB
    * oracle can hex-walk the same bytes (e12i), while MultimodalSpec
    * feeds real Deflater-compressed streams exercising every filter
    * type.
    */
  def pngChannelSums(b: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    var (sumR, sumG, sumB) = (0L, 0L, 0L)
    pngRows(b) { (_, cur, rowPx) =>
      var j = 0
      while (j < rowPx) {
        sumR += cur(j); sumG += cur(j + 1); sumB += cur(j + 2)
        j += 3
      }
    }.map { case (w, h) => (sumR, sumG, sumB, w.toLong * h) }
  }

  /** Adam7 pass geometry: (xStart, yStart, xStep, yStep). */
  private val adam7: Array[(Int, Int, Int, Int)] = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** The shared PNG decode core behind [[pngChannelSums]] and
    * [[imageAHash64]] — every 8-bit color type (0 grayscale, 2 truecolor,
    * 3 paletted/PLTE-mapped, 4 gray+alpha, 6 RGBA; alpha dropped), both
    * sequential and Adam7-interlaced: validates, reassembles IDAT,
    * inflates, un-filters at the color type's bpp, expands each scanline
    * to RGB (interlaced passes scatter back into raster order), and
    * feeds the row's RGB bytes (top-down; `rowPx` = 3·w valid ints) to
    * `row`. Some((w,h)) only on FULL success — the callback may have
    * seen a prefix of rows when the result is None, so callers must not
    * publish side effects until the Option returns.
    */
  private def pngRows(b: Array[Byte])(row: (Int, Array[Int], Int) => Unit): Option[(Int, Int)] =
    decodePngHeader(b) match {
      case Some((w, h, 8, ct))
        if (ct == 0 || ct == 2 || ct == 3 || ct == 4 || ct == 6) &&
          w > 0 && h > 0 &&
          (b(26) & 0xff) == 0 && (b(27) & 0xff) == 0 && (b(28) & 0xff) <= 1 =>
        val interlaced = (b(28) & 0xff) == 1
        // chunk walk: concatenate IDAT payloads (multiple chunks are one
        // continuous zlib stream per spec); record the PLTE for type 3
        val idat = new java.io.ByteArrayOutputStream()
        var o = 33L
        var ok = true
        var done = false
        var plteOff = -1
        var plteColors = 0
        while (!done && ok && o + 8 <= b.length) {
          val len = beU32(b, o.toInt)
          val tag = new String(b.slice(o.toInt + 4, o.toInt + 8), "US-ASCII")
          if (o + 12 + len > b.length) ok = false
          else {
            if (tag == "IDAT") idat.write(b, o.toInt + 8, len.toInt)
            if (tag == "PLTE") {
              if (len % 3 != 0 || len == 0 || len > 3 * 256) ok = false
              else { plteOff = o.toInt + 8; plteColors = (len / 3).toInt }
            }
            if (tag == "IEND") done = true
            o += 12 + len
          }
        }
        // channels per pixel: gray 1, RGB 3, paletted 1, gray+alpha 2,
        // RGBA 4 — all at bit depth 8
        val bpp = ct match {
          case 0 | 3 => 1
          case 4 => 2
          case 6 => 4
          case _ => 3
        }
        if (ct == 3 && plteOff < 0) ok = false // paletted requires PLTE
        // pass list: Adam7 sub-images, or one full-frame pass
        val passes: Seq[(Int, Int, Int, Int, Int, Int)] =
          if (!interlaced) Seq((0, 0, 1, 1, w, h))
          else adam7.toSeq.map { case (xs, ys, xst, yst) =>
            (xs, ys, xst, yst,
              math.max(0, (w - xs + xst - 1) / xst),
              math.max(0, (h - ys + yst - 1) / yst))
          }
        val need = passes.map { case (_, _, _, _, pw, ph) =>
          if (pw == 0 || ph == 0) 0L else ph.toLong * (1L + pw.toLong * bpp)
        }.sum
        // interlace materializes the whole sample grid (4·w·h·bpp bytes
        // of Int): bound it against hostile dimensions
        if (interlaced && w.toLong * h * bpp > (1 << 26)) ok = false
        // `done` = IEND reached: a stream that ends mid-chunk (truncated
        // download) rejects even when every IDAT byte happens to be there
        if (!ok || !done || need == 0 || need > Int.MaxValue - 8) None
        else {
          val raw = new Array[Byte](need.toInt)
          val inf = new java.util.zip.Inflater()
          inf.setInput(idat.toByteArray)
          val inflated =
            try {
              var off = 0
              var stuck = false
              while (off < raw.length && !inf.finished() && !stuck) {
                val n = inf.inflate(raw, off, raw.length - off)
                if (n == 0 && (inf.needsInput() || inf.needsDictionary())) stuck = true
                off += n
              }
              !stuck && off == raw.length
            } catch { case _: java.util.zip.DataFormatException => false }
            finally inf.end()
          if (!inflated) None
          else {
            val rgb = new Array[Int](w * 3)
            var valid = true
            // normalize one full-width sample row to RGB: palette map
            // (out-of-range index = corrupt file), gray replication,
            // alpha dropped
            def convertRow(cur: Array[Int], curOff: Int): Boolean = {
              var px = 0
              while (px < w) {
                ct match {
                  case 2 =>
                    rgb(3 * px) = cur(curOff + 3 * px)
                    rgb(3 * px + 1) = cur(curOff + 3 * px + 1)
                    rgb(3 * px + 2) = cur(curOff + 3 * px + 2)
                  case 3 =>
                    val idx = cur(curOff + px)
                    if (idx >= plteColors) return false
                    rgb(3 * px) = b(plteOff + 3 * idx) & 0xff
                    rgb(3 * px + 1) = b(plteOff + 3 * idx + 1) & 0xff
                    rgb(3 * px + 2) = b(plteOff + 3 * idx + 2) & 0xff
                  case 0 | 4 =>
                    val v = cur(curOff + px * bpp)
                    rgb(3 * px) = v; rgb(3 * px + 1) = v; rgb(3 * px + 2) = v
                  case _ => // 6: RGBA
                    rgb(3 * px) = cur(curOff + 4 * px)
                    rgb(3 * px + 1) = cur(curOff + 4 * px + 1)
                    rgb(3 * px + 2) = cur(curOff + 4 * px + 2)
                }
                px += 1
              }
              true
            }
            val full = if (interlaced) new Array[Int](w * h * bpp) else null
            var rawOff = 0
            passes.foreach { case (xs, ys, xst, yst, pw, ph) =>
              if (valid && pw > 0 && ph > 0) {
                val prl = pw * bpp
                val prev = new Array[Int](prl)
                val cur = new Array[Int](prl)
                var r = 0
                while (r < ph && valid) {
                  val base = rawOff + r * (prl + 1)
                  val ft = raw(base) & 0xff
                  var i = 0
                  while (i < prl && valid) {
                    val x = raw(base + 1 + i) & 0xff
                    val a = if (i >= bpp) cur(i - bpp) else 0
                    val up = prev(i)
                    val v = ft match {
                      case 0 => x
                      case 1 => (x + a) & 0xff
                      case 2 => (x + up) & 0xff
                      case 3 => (x + ((a + up) >> 1)) & 0xff
                      case 4 =>
                        val c = if (i >= bpp) prev(i - bpp) else 0
                        val p = a + up - c
                        val pa = math.abs(p - a)
                        val pb = math.abs(p - up)
                        val pc = math.abs(p - c)
                        val pred = if (pa <= pb && pa <= pc) a
                          else if (pb <= pc) up else c
                        (x + pred) & 0xff
                      case _ => valid = false; 0
                    }
                    cur(i) = v
                    i += 1
                  }
                  if (valid) {
                    if (interlaced) {
                      // scatter the pass row into the full sample grid
                      var px = 0
                      while (px < pw) {
                        val dst = ((ys + r * yst) * w + (xs + px * xst)) * bpp
                        var c = 0
                        while (c < bpp) { full(dst + c) = cur(px * bpp + c); c += 1 }
                        px += 1
                      }
                    } else {
                      valid = convertRow(cur, 0)
                      if (valid) row(r, rgb, w * 3)
                    }
                    System.arraycopy(cur, 0, prev, 0, prl)
                  }
                  r += 1
                }
                rawOff += ph * (prl + 1)
              }
            }
            if (valid && interlaced) {
              var r = 0
              while (r < h && valid) {
                valid = convertRow(full, r * w * bpp)
                if (valid) row(r, rgb, w * 3)
                r += 1
              }
            }
            if (valid) Some((w, h)) else None
          }
        }
      case _ => None
    }

  /** A REAL, fully decodable 8-bit RGB PNG whose zlib stream uses one
    * STORED deflate block: every scanline byte sits at a fixed computable
    * file offset — sig(8) + IHDR chunk(25) + IDAT len/tag(8) + zlib
    * header(2) + stored-block header(5) = raw filter-0 scanlines from
    * byte 48 — which is what lets the DuckDB oracle hex-walk the SAME
    * pixel bytes the engine inflates (e12h BMP precedent). Deterministic
    * pixels from splitmix64; adler32 + chunk CRCs are genuine, so any
    * spec-conforming PNG reader decodes the file identically.
    */
  def makePngPixels(width: Int, height: Int, seed: Long): Array[Byte] = {
    val stride = width * 3
    val rawLen = (1 + stride) * height
    require(rawLen <= 65535, "fixture must fit one stored deflate block")
    val raw = new Array[Byte](rawLen)
    var s = seed
    var r = 0
    while (r < height) {
      val base = r * (stride + 1)
      raw(base) = 0 // filter: None
      var i = 0
      while (i < stride) {
        s = splitmix64(s); raw(base + 1 + i) = (s & 0xff).toByte; i += 1
      }
      r += 1
    }
    val adler = new java.util.zip.Adler32()
    adler.update(raw)
    val z = java.nio.ByteBuffer.allocate(2 + 5 + rawLen + 4)
    z.put(0x78.toByte).put(0x01.toByte) // CMF/FLG, (0x78*256+1) % 31 == 0
    z.put(1.toByte) // BFINAL=1, BTYPE=00 stored
    z.put((rawLen & 0xff).toByte).put(((rawLen >> 8) & 0xff).toByte) // LEN le
    z.put((~rawLen & 0xff).toByte).put(((~rawLen >> 8) & 0xff).toByte) // NLEN
    z.put(raw)
    z.putInt(adler.getValue.toInt) // big-endian, as ByteBuffer default
    def chunk(tag: String, payload: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + payload.length)
      out.putInt(payload.length).put(tag.getBytes("US-ASCII")).put(payload)
      val crc = new java.util.zip.CRC32
      crc.update(tag.getBytes("US-ASCII")); crc.update(payload)
      out.putInt(crc.getValue.toInt)
      out.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte).put(2.toByte) // 8-bit truecolor
      .put(0.toByte).put(0.toByte).put(0.toByte)
      .array()
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", z.array()) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** REAL MP4/ISO-BMFF header decode: walks the top-level box sequence
    * ([u32-BE size][4cc type] ...), reads the brand from `ftyp`, descends
    * ONE level into `moov` for the `mvhd` (version-0) timescale/duration,
    * and takes the media payload size from `mdat`. Size 0 ("to end of
    * file") and 1 (64-bit largesize) are left unsupported → None, as are
    * truncated or non-BMFF bytes — validate, don't trust.
    * @return (major_brand, minor_version, timescale, duration, media_bytes)
    */
  def decodeMp4Header(b: Array[Byte]): Option[(String, Long, Long, Long, Long)] = {
    def tag(o: Int): String =
      if (b != null && b.length >= o + 4) new String(b.slice(o, o + 4), "US-ASCII") else ""
    if (b == null || b.length < 20 || tag(4) != "ftyp") return None
    var brand: Option[(String, Long)] = None
    var mvhd: Option[(Long, Long)] = None
    var mdatBytes = -1L
    var o = 0L
    var halt = false
    while (!halt && o + 8 <= b.length) {
      val sz = beU32(b, o.toInt)
      val t = tag(o.toInt + 4)
      if (sz < 8) halt = true // 0 = to-EOF, 1 = largesize, <8 corrupt: unsupported
      else {
        t match {
          // every field read is guarded against the FILE end, not just the
          // declared box size — a truncated download declares sizes its
          // bytes don't back (DecoderFuzzSpec truncation family)
          case "ftyp" if sz >= 16 && o + 16 <= b.length =>
            brand = Some((tag(o.toInt + 8), beU32(b, o.toInt + 12)))
          case "moov" =>
            // one-level walk inside moov for the version-0 mvhd
            var i = o + 8
            val end = math.min(o + sz, b.length.toLong)
            while (mvhd.isEmpty && i + 8 <= end) {
              val isz = beU32(b, i.toInt)
              if (isz < 8) { i = end } // corrupt inner size: stop the walk
              else {
                if (tag(i.toInt + 4) == "mvhd" && isz >= 32 && i + 28 <= end &&
                  (b(i.toInt + 8) & 0xff) == 0)
                  mvhd = Some((beU32(b, i.toInt + 20), beU32(b, i.toInt + 24)))
                i += isz
              }
            }
          case "mdat" => mdatBytes = sz - 8
          case _ => ()
        }
        val next = o + sz
        if (next <= o || next > b.length.toLong) halt = true else o = next
      }
    }
    for {
      (mb, mv) <- brand
      (ts, dur) <- mvhd
      if mdatBytes >= 0
    } yield (mb, mv, ts, dur, mdatBytes)
  }

  private def beU16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  /** Immediate child boxes of the byte range [start, end): (tag,
    * payloadStart, payloadEnd). Stops at the first corrupt size (< 8 or
    * overrunning the range) — the decodeMp4Header truncation
    * discipline, shared by the sample-table walk.
    */
  private def mp4Children(b: Array[Byte], start: Long, end: Long): Vector[(String, Long, Long)] = {
    val out = Vector.newBuilder[(String, Long, Long)]
    val lim = math.min(end, b.length.toLong)
    var o = start
    var halt = false
    while (!halt && o + 8 <= lim) {
      val sz = beU32(b, o.toInt)
      if (sz < 8 || o + sz > lim) halt = true
      else {
        out += ((new String(b.slice(o.toInt + 4, o.toInt + 8), "US-ASCII"),
          o + 8, o + sz))
        o += sz
      }
    }
    out.result()
  }

  /** One sync (key) sample resolved through the full ISO 14496-12
    * sample-table machinery: decode timestamp from the stts run-length
    * table, byte size from stsz (uniform or per-sample), containing
    * chunk from the stsc run mapping, absolute file offset from the
    * stco chunk base plus the within-chunk size prefix. `dts` is in
    * the track's mdhd timescale units.
    */
  final case class Mp4Sample(track: Long, timescale: Long, sample: Int,
      dts: Long, size: Long, chunk: Int, offset: Long)

  /** REAL frame sampling for video: the sync-sample (keyframe) set of
    * every track, each resolved to (dts, size, chunk, file offset) —
    * exactly the positions a frame extractor seeks to, and the only
    * samples decodable without inter-frame state. stss absent means
    * every sample is sync per spec. Table-size zip-bomb guard at 2^20
    * entries; any malformed/truncated table yields None, never
    * garbage offsets (the decoder-family envelope).
    */
  def mp4SyncSamples(b: Array[Byte]): Option[Seq[Mp4Sample]] = {
    try {
      if (b == null || b.length < 20) return None
      val top = mp4Children(b, 0L, Long.MaxValue)
      if (!top.headOption.exists(_._1 == "ftyp")) return None
      val moov = top.find(_._1 == "moov").getOrElse(return None)
      val out = Seq.newBuilder[Mp4Sample]
      def u32(o: Long): Long = beU32(b, o.toInt)
      def bad(): Nothing =
        throw new IllegalArgumentException("malformed sample table")
      def guard(n: Long): Int = {
        if (n < 0 || n > (1 << 20)) throw new IllegalArgumentException("table too large")
        n.toInt
      }
      mp4Children(b, moov._2, moov._3).filter(_._1 == "trak").foreach { trak =>
        val kids = mp4Children(b, trak._2, trak._3)
        // tkhd v0: track_ID at payload +12 (after version/flags + times)
        val trackId = kids.find(_._1 == "tkhd")
          .filter(k => k._3 - k._2 >= 16 && (b(k._2.toInt) & 0xff) == 0)
          .map(k => u32(k._2 + 12)).getOrElse(bad())
        val mdia = kids.find(_._1 == "mdia").getOrElse(bad())
        val mkids = mp4Children(b, mdia._2, mdia._3)
        val timescale = mkids.find(_._1 == "mdhd")
          .filter(k => k._3 - k._2 >= 20 && (b(k._2.toInt) & 0xff) == 0)
          .map(k => u32(k._2 + 12)).getOrElse(bad())
        val minf = mkids.find(_._1 == "minf").getOrElse(bad())
        val stbl = mp4Children(b, minf._2, minf._3).find(_._1 == "stbl")
          .getOrElse(bad())
        val tbl = mp4Children(b, stbl._2, stbl._3)
        def need(tag: String): (Long, Long) =
          tbl.find(_._1 == tag).map(k => (k._2, k._3))
            .getOrElse(throw new IllegalArgumentException(s"missing $tag"))
        // stts: (count, delta) runs → per-sample decode-time deltas
        val (sttsP, sttsE) = need("stts")
        val nRuns = guard(u32(sttsP + 4))
        if (sttsP + 8 + 8L * nRuns > sttsE) bad()
        val deltas = Vector.newBuilder[Long]
        // The zip-bomb guard must bound the SUM of run counts, not just
        // each run: many runs x 2^20 would otherwise materialize a
        // multi-billion-element vector (an OutOfMemoryError escapes the
        // Exception envelope below). stsz's n must equal the total
        // anyway, so bail as soon as the running total trips the guard.
        var totalSamples = 0L
        (0 until nRuns).foreach { r =>
          val cnt = guard(u32(sttsP + 8 + 8L * r))
          totalSamples += cnt
          guard(totalSamples)
          val d = u32(sttsP + 12 + 8L * r)
          (0 until cnt).foreach(_ => deltas += d)
        }
        val deltaV = deltas.result()
        // stsz: uniform size or per-sample table
        val (stszP, stszE) = need("stsz")
        val uniform = u32(stszP + 4)
        val n = guard(u32(stszP + 8))
        if (n != deltaV.length) bad()
        val sizes: Int => Long =
          if (uniform != 0) _ => uniform
          else {
            if (stszP + 12 + 4L * n > stszE) bad()
            i => u32(stszP + 12 + 4L * (i - 1))
          }
        // stsc: (first_chunk, samples_per_chunk) runs expand until the
        // sample count is exhausted; the last chunk may be partial
        val (stscP, stscE) = need("stsc")
        val nSc = guard(u32(stscP + 4))
        if (stscP + 8 + 12L * nSc > stscE) bad()
        val scRuns = (0 until nSc).map(r =>
          (u32(stscP + 8 + 12L * r), u32(stscP + 12 + 12L * r)))
        // ISO 14496-12: the first entry must cover chunk 1 and
        // first_chunk must strictly increase — anything else would make
        // the resolver emit confident garbage, which the envelope
        // forbids (reject, never mis-resolve)
        if (scRuns.isEmpty || scRuns.head._1 != 1L ||
          scRuns.exists(_._2 <= 0L) ||
          scRuns.sliding(2).exists(p => p.length == 2 && p(1)._1 <= p(0)._1))
          bad()
        // stco: chunk base offsets
        val (stcoP, stcoE) = need("stco")
        val nCh = guard(u32(stcoP + 4))
        if (stcoP + 8 + 4L * nCh > stcoE) bad()
        val chunkBase = (0 until nCh).map(c => u32(stcoP + 8 + 4L * c))
        // stss: sync sample numbers; ABSENT = all samples are sync
        val sync: Set[Int] = tbl.find(_._1 == "stss") match {
          case None => (1 to n).toSet
          case Some(k) =>
            val m = guard(u32(k._2 + 4))
            if (k._2 + 8 + 4L * m > k._3) bad()
            (0 until m).map(i => guard(u32(k._2 + 8 + 4L * i))).toSet
        }
        // resolve every sample's (chunk, within-chunk index) through the
        // stsc expansion, then its offset through stco + the size prefix
        var dts = 0L
        var chunk = 1
        var run = 0
        var inChunk = 0
        var chunkOff =
          if (chunkBase.isEmpty) bad() else chunkBase(0)
        (1 to n).foreach { i =>
          val perChunk = scRuns(run)._2
          if (inChunk == perChunk) {
            // advance to the next chunk; maybe into the next stsc run
            chunk += 1
            inChunk = 0
            if (run + 1 < nSc && chunk >= scRuns(run + 1)._1) run += 1
            if (chunk > nCh) bad()
            chunkOff = chunkBase(chunk - 1)
          }
          if (sync.contains(i)) {
            // a resolved offset must be backed by bytes — a truncated
            // download (mdat cut short) rejects instead of emitting a
            // seek position past EOF
            if (chunkOff + sizes(i) > b.length) bad()
            out += Mp4Sample(trackId, timescale, i, dts, sizes(i), chunk, chunkOff)
          }
          chunkOff += sizes(i)
          inChunk += 1
          dts += deltaV(i - 1)
        }
      }
      Some(out.result())
    } catch { case _: Exception => None }
  }

  /** Fixture twin of [[mp4SyncSamples]]: one video track whose sample
    * tables derive from the arguments — stts as exactly the two given
    * (count, delta) runs, explicit per-sample stsz sizes, stsc as
    * (1, spc1) + (firstChunk2, spc2), stco computed from the REAL mdat
    * layout (samples contiguous in order), stss = every 4th sample
    * from 1. tkhd/mdhd/hdlr are spec-shaped version-0 boxes.
    */
  def makeMp4Tracks(trackId: Long, timescale: Long,
      run1: (Int, Long), run2: (Int, Long), sizes: Seq[Long],
      spc1: Int, chunks2From: Int, spc2: Int,
      withStss: Boolean = true): Array[Byte] =
    makeMp4Media(trackId, timescale, run1, run2,
      sizes.map(sz => Array.fill(sz.toInt)(0x55.toByte)),
      spc1, chunks2From, spc2, withStss)

  /** [[makeMp4Tracks]] with REAL sample payloads in the mdat (the MJPEG
    * fixture form: each sample is a complete JPEG, sync samples
    * extractable + decodable by composition with the JPEG decoder).
    */
  def makeMp4Media(trackId: Long, timescale: Long,
      run1: (Int, Long), run2: (Int, Long), payloads: Seq[Array[Byte]],
      spc1: Int, chunks2From: Int, spc2: Int,
      withStss: Boolean = true): Array[Byte] = {
    val sizes = payloads.map(_.length.toLong)
    val n = sizes.length
    require(run1._1 + run2._1 == n, "stts runs must cover the samples")
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
    // chunk layout: spc1 samples/chunk before chunk chunks2From, spc2 after
    val chunkOf = (1 to n).map { i =>
      val before2 = (chunks2From - 1) * spc1
      if (i <= before2) (i - 1) / spc1 + 1
      else chunks2From + (i - 1 - before2) / spc2
    }
    val nCh = chunkOf.last
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be(0) ++
      "mp41".getBytes("US-ASCII"))
    val stts = full("stts", be(2, run1._1, run1._2, run2._1, run2._2))
    val stsz = full("stsz", be(0L, n.toLong) ++ be(sizes: _*))
    val stsc = full("stsc", be(2, 1, spc1, 1, chunks2From, spc2, 1))
    val stssNums = (1 to n by 4).map(_.toLong)
    val stss = full("stss", be(stssNums.length.toLong) ++ be(stssNums: _*))
    // stco needs the absolute mdat payload offset: compute the fixed
    // part of the layout first with a placeholder, then fill
    def stcoOf(mdatPayload: Long): Array[Byte] = {
      val firstOfChunk = (1 to nCh).map(c => chunkOf.indexOf(c) + 1)
      val bases = firstOfChunk.map(f =>
        mdatPayload + sizes.take(f - 1).sum)
      full("stco", be(nCh.toLong) ++ be(bases: _*))
    }
    def assemble(stco: Array[Byte]): Array[Byte] = {
      val stbl = box("stbl", stts ++ stsz ++ stsc ++ stco ++
        (if (withStss) stss else Array.emptyByteArray))
      val minf = box("minf", stbl)
      val mdhd = full("mdhd", be(0, 0, timescale, 0) ++ Array[Byte](0, 0, 0, 0))
      val hdlr = full("hdlr", be(0) ++ "vide".getBytes("US-ASCII") ++
        new Array[Byte](12) ++ Array[Byte](0))
      val mdia = box("mdia", mdhd ++ hdlr ++ minf)
      val tkhd = full("tkhd", be(0, 0, trackId) ++ new Array[Byte](68))
      val trak = box("trak", tkhd ++ mdia)
      box("moov", trak)
    }
    val probe = assemble(stcoOf(0L))
    val mdatPayload = ftyp.length + probe.length + 8L
    val moov = assemble(stcoOf(mdatPayload))
    val media = payloads.toArray.flatten
    ftyp ++ moov ++ box("mdat", media)
  }

  /** REAL pixel-level BMP decode: walks the uncompressed 24bpp pixel rows
    * (bottom-up, 4-byte padded — the padding bytes are SKIPPED, summing
    * them is the classic BMP-walk bug) and returns per-channel sums +
    * pixel count, from which channel means follow exactly. None for
    * non-BMP, non-24bpp, top-down (negative height), or truncated data.
    */
  def bmpChannelSums(b: Array[Byte]): Option[(Long, Long, Long, Long)] =
    decodeBmpHeader(b) match {
      case Some((w, h, 24)) if w > 0 && h > 0 =>
        val dataOff = leU32(b, 10).toInt
        // rowBytes in LONG: a hostile width >= ~7.1e8 overflows the Int
        // form to a negative stride, slipping past the length guard into
        // an out-of-bounds pixel walk. The guard divides instead of
        // multiplying (rowBytes * h can overflow even Long); once it
        // passes, every offset fits in Int because the data fits b.length.
        val rowBytes = (w.toLong * 3 + 3) / 4 * 4
        if (dataOff < 54 || dataOff > b.length ||
          (b.length - dataOff) / h < rowBytes) None
        else {
          val rowBytesI = rowBytes.toInt
          var (sumB, sumG, sumR) = (0L, 0L, 0L)
          var r = 0
          while (r < h) {
            val base = dataOff + r * rowBytesI
            var c = 0
            while (c < w) {
              val o = base + c * 3
              sumB += b(o) & 0xff; sumG += b(o + 1) & 0xff; sumR += b(o + 2) & 0xff
              c += 1
            }
            r += 1
          }
          Some((sumB, sumG, sumR, w.toLong * h))
        }
      case _ => None
    }

  /** REAL JPEG header decode: SOI (FFD8), then a WALK of the marker-segment
    * sequence ([FF][marker][len-BE u16 incl. itself][payload]) until a
    * start-of-frame marker (SOF0-SOF15, excluding the non-frame C4/C8/CC) —
    * frame precision u8, height/width as big-endian u16, component count u8.
    * Standalone markers (RSTn, TEM) carry no length and are stepped over;
    * a length < 2, a truncated segment, or reaching SOS/EOI without a SOF
    * yields None — validate, don't trust.
    * @return (width, height, precision, n_components)
    */
  def decodeJpegHeader(b: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (b == null || b.length < 4 ||
      (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) None
    else {
      var o = 2
      var out: Option[(Int, Int, Int, Int)] = None
      var halt = false
      while (!halt && out.isEmpty && o + 4 <= b.length) {
        if ((b(o) & 0xff) != 0xff) halt = true // marker misalignment: corrupt
        else {
          // JPEG permits any run of 0xFF FILL bytes before the marker
          // code (T.81 B.1.1.2) — skip them, mirroring jpegExif, so the
          // same padded camera file doesn't parse EXIF but reject here
          while (o + 2 < b.length && (b(o + 1) & 0xff) == 0xff) o += 1
          val m = b(o + 1) & 0xff
          val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
          if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) o += 2 // standalone
          else if (m == 0xd9 || m == 0xda) halt = true // EOI / SOS: no SOF seen
          else if (o + 4 > b.length) halt = true // fill run ran off the buffer
          else {
            val len = beU16(b, o + 2)
            if (len < 2 || o + 2 + len > b.length) halt = true
            else if (isSof) {
              if (len >= 8)
                out = Some((beU16(b, o + 7), beU16(b, o + 5), b(o + 4) & 0xff, b(o + 9) & 0xff))
              else halt = true
            } else o += 2 + len
          }
        }
      }
      out
    }
  }

  // ---- baseline JPEG pixel decode (pure JVM, no codec libs) --------------

  /** Zigzag scan order: entry k = the natural (v*8 + u) position of the
    * k-th coefficient in the entropy stream (ITU-T T.81 Figure A.6).
    */
  private val jpegZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** 1-D IDCT basis: basis(u)(x) = C(u)/2 · cos((2x+1)uπ/16), C(0)=1/√2 —
    * so pixel(x,y) = Σ_v Σ_u basis(u)(x)·basis(v)(y)·F(u,v), the textbook
    * separable form (T.81 A.3.3).
    */
  private lazy val jpegBasis: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val c = if (u == 0) 1.0 / math.sqrt(8.0) else 0.5
    c * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  /** Canonical Huffman table in the T.81 Annex F decode form. maxcode(l)
    * is −1 where no codes of length l exist, so the length-walk can never
    * false-match.
    */
  private final class JpegHuff(counts: Array[Int], val vals: Array[Int]) {
    val mincode = new Array[Int](17)
    val maxcode = Array.fill(17)(-1)
    val valptr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valptr(l) = k
        mincode(l) = code
        if (counts(l) > 0) { code += counts(l); k += counts(l); maxcode(l) = code - 1 }
        code <<= 1
        l += 1
      }
    }
  }

  /** Entropy-segment bit reader with FF00 un-stuffing; any other FF-marker
    * byte (or running off the buffer) flips `eos` and every subsequent
    * read returns −1 — the caller rejects, never fabricates bits. The FF
    * of a real marker is NOT consumed, so [[restartMarker]] can take over
    * at an RSTn boundary.
    */
  private final class JpegBits(b: Array[Byte], start: Int) {
    private var pos = start
    private var cur = 0
    private var n = 0
    var eos = false
    def bit(): Int = {
      if (eos) return -1
      if (n == 0) {
        if (pos >= b.length) { eos = true; return -1 }
        val v = b(pos) & 0xff
        pos += 1
        if (v == 0xff) {
          val nxt = if (pos < b.length) b(pos) & 0xff else -1
          if (nxt == 0) pos += 1 // stuffed data byte
          else { pos -= 1; eos = true; return -1 } // marker: stop BEFORE it
        }
        cur = v
        n = 8
      }
      n -= 1
      (cur >> n) & 1
    }
    def receive(t: Int): Int = {
      var v = 0
      var i = 0
      while (i < t) {
        val x = bit(); if (x < 0) return -1
        v = (v << 1) | x
        i += 1
      }
      v
    }
    /** Consume an RSTn marker at a restart boundary: drop the partial
      * byte (encoders pad with 1-bits to align before the marker), expect
      * FF D0..D7 at the cursor, clear the stream state. Returns n of RSTn
      * or −1 — callers verify the 0..7 cycle.
      */
    def restartMarker(): Int = {
      n = 0 // byte-align: discard padding bits
      eos = false
      if (pos + 2 > b.length || (b(pos) & 0xff) != 0xff) return -1
      val m = b(pos + 1) & 0xff
      if (m < 0xd0 || m > 0xd7) return -1
      pos += 2
      m - 0xd0
    }
    /** Byte cursor — after a finished scan this sits at (or just before)
      * the next marker; the progressive multi-scan walk resumes here.
      */
    def position: Int = pos
  }

  /** DQT segment body → `qt` (both precisions, multiple entries). */
  private def jpegParseDqt(b: Array[Byte], o: Int, end: Int,
      qt: Array[Array[Int]]): Boolean = {
    var p = o + 4
    while (p < end) {
      val pq = (b(p) & 0xff) >> 4
      val tq = b(p) & 0x0f
      val span = 1 + 64 * (pq + 1)
      if (tq > 3 || pq > 1 || p + span > end) return false
      qt(tq) = Array.tabulate(64) { i =>
        if (pq == 0) b(p + 1 + i) & 0xff else beU16(b, p + 1 + 2 * i)
      }
      p += span
    }
    true
  }

  /** DHT segment body → canonical Huffman tables (multiple entries). */
  private def jpegParseDht(b: Array[Byte], o: Int, end: Int,
      dcTabs: Array[JpegHuff], acTabs: Array[JpegHuff]): Boolean = {
    var p = o + 4
    while (p < end) {
      if (p + 17 > end) return false
      val tc = (b(p) & 0xff) >> 4
      val th = b(p) & 0x0f
      val counts = new Array[Int](17)
      var total = 0
      (1 to 16).foreach { l =>
        counts(l) = b(p + l) & 0xff; total += counts(l)
      }
      if (tc > 1 || th > 3 || total > 256 || p + 17 + total > end) return false
      val vals = Array.tabulate(total)(i => b(p + 17 + i) & 0xff)
      val huff = new JpegHuff(counts, vals)
      if (tc == 0) dcTabs(th) = huff else acTabs(th) = huff
      p += 17 + total
    }
    true
  }

  /** Separable float IDCT of one natural-order dequantized block, with
    * level shift, ⌊x+0.5⌋ rounding and [0,255] clamp, into
    * `dst(dstOff + py*dstStride + px)`.
    */
  private def jpegIdct8x8(coef: Array[Int], tmp: Array[Array[Double]],
      dst: Array[Int], dstOff: Int, dstStride: Int): Unit = {
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var u = 0
        while (u < 8) { acc += coef(v * 8 + u) * jpegBasis(u)(x); u += 1 }
        tmp(v)(x) = acc
        x += 1
      }
      v += 1
    }
    var py = 0
    while (py < 8) {
      var px = 0
      while (px < 8) {
        var acc = 0.0
        var vv = 0
        while (vv < 8) { acc += tmp(vv)(px) * jpegBasis(vv)(py); vv += 1 }
        val s = math.floor(acc + 128.5).toInt
        dst(dstOff + py * dstStride + px) =
          if (s < 0) 0 else if (s > 255) 255 else s
        px += 1
      }
      py += 1
    }
  }

  /** Shared per-MCU pixel accumulation (sums, luma min/max, optional
    * brightness sink) for the baseline streaming path and the progressive
    * final pass — identical sampling/upsampling/JFIF arithmetic by
    * construction.
    */
  private final class JpegAccum(w: Int, h: Int, nComp: Int,
      compH: Array[Int], compV: Array[Int], bright: Array[Int]) {
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var minY = 256; var maxY = -1
    private val hMax = compH(0)
    private val vMax = compV(0)
    private val mcuW = 8 * hMax
    private val mcuH = 8 * vMax
    private def clamp8(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

    def addMcu(samples: Array[Array[Int]], mcuX: Int, mcuY: Int): Unit = {
      var py = 0
      while (py < mcuH) {
        val iy = mcuY * mcuH + py
        var px = 0
        while (px < mcuW) {
          val ix = mcuX * mcuW + px
          if (iy < h && ix < w) {
            val y = samples(0)(py * mcuW + px)
            if (y < minY) minY = y
            if (y > maxY) maxY = y
            if (nComp == 1) {
              sumR += y; sumG += y; sumB += y
              if (bright != null) bright(iy * w + ix) = 3 * y
            } else {
              // chroma fetch with per-axis index scaling (1×1 chroma
              // under 2×2 luma → px/2, py/2)
              val cx1 = px * compH(1) / hMax
              val cy1 = py * compV(1) / vMax
              val cb = samples(1)(cy1 * 8 * compH(1) + cx1)
              val cx2 = px * compH(2) / hMax
              val cy2 = py * compV(2) / vMax
              val cr = samples(2)(cy2 * 8 * compH(2) + cx2)
              val rr = clamp8(math.floor(y + 1.402 * (cr - 128) + 0.5).toInt)
              val gg = clamp8(math.floor(
                y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5).toInt)
              val bb = clamp8(math.floor(y + 1.772 * (cb - 128) + 0.5).toInt)
              sumR += rr; sumG += gg; sumB += bb
              if (bright != null) bright(iy * w + ix) = rr + gg + bb
            }
          }
          px += 1
        }
        py += 1
      }
    }

    def result: (JpegStats, Array[Int]) =
      (JpegStats(w, h, nComp, sumR, sumG, sumB, minY, maxY), bright)
  }

  private def jpegDecodeHuff(br: JpegBits, h: JpegHuff): Int = {
    var code = 0
    var l = 0
    while (l < 16) {
      val x = br.bit(); if (x < 0) return -1
      code = (code << 1) | x
      l += 1
      if (h.maxcode(l) >= 0 && code <= h.maxcode(l))
        return h.vals(h.valptr(l) + code - h.mincode(l))
    }
    -1
  }

  /** EXTEND (T.81 F.2.2.1): map t magnitude bits to the signed value. */
  private def jpegExtend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** Decoded JPEG pixel statistics: per-channel sums are RGB for color
    * frames (JFIF YCbCr→RGB applied), or the single luma channel
    * replicated for grayscale; min/max track channel 0 (Y / luma).
    */
  final case class JpegStats(w: Int, h: Int, nComp: Int,
    sumR: Long, sumG: Long, sumB: Long, minY: Int, maxY: Int) {
    def nPx: Long = w.toLong * h
  }

  /** REAL baseline-sequential JPEG pixel decode for 8-bit grayscale and
    * YCbCr color in every common chroma layout — 4:4:4, 4:2:0, 4:2:2,
    * 4:4:0 (luma sampling h,v ∈ {1,2}) and 4:1:1 (4×1 luma — old
    * cameras/video frames), chroma always 1×1: full marker walk
    * (DQT — both precisions, DHT — canonical code reconstruction per
    * Annex C/F, SOF0, SOS), then interleaved-MCU entropy decode —
    * hᵢ×vᵢ blocks per component in SOS order, per-component differential
    * DC predictors and table selectors, run/size AC with EOB and ZRL,
    * FF00 un-stuffing — dequantization in zigzag order and the textbook
    * separable float IDCT with level shift, sample rounding via ⌊x+0.5⌋
    * and [0,255] clamp. Subsampled chroma upsamples by nearest-neighbor
    * index scaling; color converts per the JFIF matrix R = Y +
    * 1.402·(Cr−128), G = Y − 0.344136·(Cb−128) − 0.714136·(Cr−128),
    * B = Y + 1.772·(Cb−128), each ⌊x+0.5⌋-rounded and clamped. Edge
    * blocks beyond the image bounds are decoded but only visible pixels
    * count. Restart intervals (DRI + cyclic RSTn markers) are honored:
    * the reader byte-aligns at each boundary, verifies the 0..7 marker
    * cycle, and resets every DC predictor (T.81 E.2.4).
    *
    * Progressive frames (SOF2) route to [[jpegProgressiveDecode]] — the
    * full Annex G successive-approximation procedure — and share every
    * sampling/IDCT/JFIF rule above (progressive keeps the h,v ∈ {1,2}
    * envelope — 4:1:1 progressive is rare-times-rare and rejects).
    * Lossless frames (SOF3) route to [[jpegLosslessDecode]] — Annex H
    * predictive coding, precisions 2–16 (r9).
    * None for: extended/arithmetic/hierarchical frames (SOF1/5…),
    * component counts other than 1/3, sampling factors outside the
    * supported set (4×2, 1×4, …) or non-1×1 chroma, sub-8-bit
    * precision, a missing or out-of-cycle RSTn, missing tables, a
    * truncated or marker-corrupted entropy stream.
    * Validate, don't trust. Fixture streams (makeJpegPixels / makeJpegColorPixels)
    * are DC-only with byte-aligned 16-bit-per-block codes so the DuckDB
    * oracle can hex-walk the SAME entropy bytes (the stored-deflate-PNG
    * precedent); JpegPixelSpec drives the general path — AC runs, ZRL,
    * FF stuffing, edge crops, per-component tables, 4:2:0 MCU geometry —
    * through an in-test encoder.
    */
  def jpegPixelStats(b: Array[Byte]): Option[JpegStats] =
    jpegDecode(b, wantBrightness = false).map(_._1)

  /** Per-pixel brightness (r+g+b; 3·Y for grayscale) in top-down raster
    * order — the [[imageAHash64]] view of a baseline JPEG. Bounded at
    * 2^24 pixels (a 67 MB Int array per image is the accepted ceiling;
    * training-corpus thumbnails sit far below it).
    */
  private def jpegBrightness(b: Array[Byte]): Option[(Int, Int, Array[Int])] =
    jpegDecode(b, wantBrightness = true).map { case (st, br) => (st.w, st.h, br) }

  private def jpegDecode(b: Array[Byte],
      wantBrightness: Boolean): Option[(JpegStats, Array[Int])] = {
    if (b == null || b.length < 4 ||
      (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    val qt = new Array[Array[Int]](4)
    val dcTabs = new Array[JpegHuff](4)
    val acTabs = new Array[JpegHuff](4)
    var w = 0; var h = 0
    var nComp = 0
    var dri = 0
    val compId = new Array[Int](3)
    val compQ = new Array[Int](3) // quant table selector per SOF component
    val compH = new Array[Int](3) // sampling factors per SOF component
    val compV = new Array[Int](3)
    val compDc = new Array[Int](3) // huff selectors per SOS component
    val compAc = new Array[Int](3)
    var scanStart = -1
    var o = 2
    while (scanStart < 0 && o + 4 <= b.length) {
      if ((b(o) & 0xff) != 0xff) return None
      // skip spec-legal 0xFF fill runs before the marker code
      // (T.81 B.1.1.2) — same envelope as jpegExif/decodeJpegHeader
      while (o + 2 < b.length && (b(o + 1) & 0xff) == 0xff) o += 1
      val m = b(o + 1) & 0xff
      if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { o += 2 }
      else if (m == 0xd9) return None // EOI before any scan
      else if (o + 4 > b.length) return None // fill run ran off the buffer
      else {
        val len = beU16(b, o + 2)
        if (len < 2 || o + 2 + len > b.length) return None
        val end = o + 2 + len
        m match {
          case 0xdb => // DQT: one or more (pq/tq, 64 values) entries
            if (!jpegParseDqt(b, o, end, qt)) return None
          case 0xc4 => // DHT: one or more (class/id, 16 counts, symbols)
            if (!jpegParseDht(b, o, end, dcTabs, acTabs)) return None
          case 0xc0 => // SOF0 — baseline sequential only
            if (len < 8 || (b(o + 4) & 0xff) != 8) return None
            h = beU16(b, o + 5); w = beU16(b, o + 7)
            nComp = b(o + 9) & 0xff
            if (nComp != 1 && nComp != 3) return None
            if (len < 8 + 3 * nComp) return None
            var ci = 0
            while (ci < nComp) {
              compId(ci) = b(o + 10 + 3 * ci) & 0xff
              val smp = b(o + 11 + 3 * ci) & 0xff
              compH(ci) = smp >> 4
              compV(ci) = smp & 0x0f
              // supported layouts: grayscale 1×1; color with full-res luma
              // h,v ∈ {1,2} (4:4:4 / 4:2:2 / 4:4:0 / 4:2:0) plus 4×1 luma
              // (4:1:1 — old cameras and video frames; VERDICT r6 item 6),
              // all with 1×1 chroma. The MCU walk, tile strides and the
              // accumulator's per-axis index upsampling are general in
              // (h, v), so 4:1:1 is pure validation surface. Anything
              // else (4×2, 1×4, 3×…, subsampled-geometry chroma) rejects.
              val okLuma = (compH(ci) >= 1 && compH(ci) <= 2 &&
                compV(ci) >= 1 && compV(ci) <= 2) ||
                (ci == 0 && compH(ci) == 4 && compV(ci) == 1)
              if (!okLuma) return None
              if ((nComp == 1 || ci > 0) && smp != 0x11) return None
              compQ(ci) = b(o + 12 + 3 * ci) & 0xff
              if (compQ(ci) > 3) return None // Tq ∈ 0..3 (T.81 B.2.2)
              ci += 1
            }
          case 0xc2 => // progressive: its own multi-scan walk from scratch
            return jpegProgressiveDecode(b, wantBrightness)
          case 0xc3 => // lossless: its own predictive walk from scratch
            return jpegLosslessDecode(b, wantBrightness)
          case 0xc1 | 0xc5 | 0xc6 | 0xc7 |
               0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
            return None // extended/arithmetic/hierarchical frames
          case 0xdd => // DRI: restart interval in MCUs (0 = none)
            if (len < 4) return None
            dri = beU16(b, o + 4)
          case 0xda => // SOS: single interleaved scan over all components
            if (w == 0 || (b(o + 4) & 0xff) != nComp) return None
            if (len < 6 + 2 * nComp) return None
            var ci = 0
            while (ci < nComp) {
              // components must appear in SOF order (the layout every
              // baseline encoder emits)
              if ((b(o + 5 + 2 * ci) & 0xff) != compId(ci)) return None
              compDc(ci) = (b(o + 6 + 2 * ci) & 0xff) >> 4
              compAc(ci) = b(o + 6 + 2 * ci) & 0x0f
              if (compDc(ci) > 3 || compAc(ci) > 3) return None // Td,Ta ∈ 0..3
              ci += 1
            }
            // baseline full-band scan: Ss=0, Se=63, Ah=Al=0
            val sb = o + 5 + 2 * nComp
            if ((b(sb) & 0xff) != 0 || (b(sb + 1) & 0xff) != 63 ||
              (b(sb + 2) & 0xff) != 0) return None
            scanStart = end
          case _ => () // APPn / COM / others: skip
        }
        o = end
      }
    }
    if (scanStart < 0 || w <= 0 || h <= 0) return None
    var tci = 0
    while (tci < nComp) {
      if (qt(compQ(tci)) == null || dcTabs(compDc(tci)) == null ||
        acTabs(compAc(tci)) == null) return None
      tci += 1
    }
    val bright =
      if (!wantBrightness) null
      else if (w.toLong * h > (1 << 24)) return None // 67 MB Int ceiling
      else new Array[Int](w * h)
    val br = new JpegBits(b, scanStart)
    val coef = new Array[Int](64) // natural order, dequantized
    val tmp = Array.ofDim[Double](8, 8) // (v, x) partial IDCT
    // MCU geometry: luma carries the max sampling factors (validated in
    // SOF), so the MCU covers 8·hMax × 8·vMax pixels; component ci
    // contributes hᵢ×vᵢ blocks per MCU into a tile of stride 8·hᵢ, and
    // chroma upsamples by index scaling (nearest-neighbor — the exact
    // inverse of the averaging subsample every baseline encoder applies,
    // and deterministic for the oracle)
    val hMax = compH(0)
    val vMax = compV(0)
    val mcuW = 8 * hMax
    val mcuH = 8 * vMax
    val samples = Array.ofDim[Int](3, mcuW * mcuH) // per-comp MCU tiles
    val mx = (w + mcuW - 1) / mcuW
    val my = (h + mcuH - 1) / mcuH
    val pred = new Array[Int](3)
    val accum = new JpegAccum(w, h, nComp, compH, compV, bright)
    var mcuIndex = 0
    var restartCount = 0
    var mcuY = 0
    while (mcuY < my) {
      var mcuX = 0
      while (mcuX < mx) {
        // restart boundary: byte-align, consume the cyclically-numbered
        // RSTn, reset every DC predictor (T.81 E.2.4)
        if (dri > 0 && mcuIndex > 0 && mcuIndex % dri == 0) {
          if (br.restartMarker() != restartCount % 8) return None
          restartCount += 1
          pred(0) = 0; pred(1) = 0; pred(2) = 0
        }
        mcuIndex += 1
        var ci = 0
        while (ci < nComp) {
          val q = qt(compQ(ci))
          val stride = 8 * compH(ci)
          var bv = 0
          while (bv < compV(ci)) {
            var bh = 0
            while (bh < compH(ci)) {
              java.util.Arrays.fill(coef, 0)
              val t = jpegDecodeHuff(br, dcTabs(compDc(ci)))
              if (t < 0 || t > 11) return None
              val dv = br.receive(t)
              if (dv < 0) return None
              pred(ci) += jpegExtend(dv, t)
              coef(0) = pred(ci) * q(0)
              var k = 1
              var open = true
              while (open && k < 64) {
                val rs = jpegDecodeHuff(br, acTabs(compAc(ci)))
                if (rs < 0) return None
                val r = rs >> 4
                val s2 = rs & 15
                if (s2 == 0) {
                  if (r == 15) k += 16 // ZRL: sixteen zeros
                  else open = false // EOB
                } else {
                  k += r
                  if (k > 63) return None
                  val av = br.receive(s2)
                  if (av < 0) return None
                  coef(jpegZigzag(k)) = jpegExtend(av, s2) * q(k)
                  k += 1
                }
              }
              jpegIdct8x8(coef, tmp, samples(ci), (bv * 8) * stride + bh * 8, stride)
              bh += 1
            }
            bv += 1
          }
          ci += 1
        }
        accum.addMcu(samples, mcuX, mcuY)
        mcuX += 1
      }
      mcuY += 1
    }
    Some(accum.result)
  }

  /** Lossless JPEG (SOF3) decode — T.81 Annex H predictive coding, the
    * frame type DNG/medical archives still carry: no DCT, no
    * quantization — each sample is a Huffman-coded DIFFERENCE from a
    * neighbor prediction. DC-class tables code the magnitude category
    * SSSS (0–16; 16 means diff = 32768 with no extra bits), EXTEND maps
    * the magnitude bits to the signed difference, and reconstruction is
    * (prediction + diff) mod 2^16 — T.81's exact arithmetic, no
    * clamping, so precisions 2–16 decode verbatim.
    *
    * Prediction (H.1.2.2): sample (0,0) predicts 2^(P−1); the rest of
    * the first line uses predictor 1 (left); the first sample of every
    * other line uses predictor 2 (above); elsewhere the scan-selected
    * predictor 1–7 applies (a, b, c, a+b−c, a+((b−c)>>1), b+((a−c)>>1),
    * (a+b)>>1 — a=left, b=above, c=above-left, all integer shifts).
    *
    * Component samples are emitted VERBATIM into the stats (sum per
    * component, min/max on component 0; brightness = component sum):
    * lossless JPEG declares no JFIF color model (DNG carries CFA/RGB),
    * so no YCbCr matrix applies.
    *
    * Envelope: 1 or 3 components, all sampling factors 1×1 (the layout
    * every lossless writer emits — an MCU is one sample per component);
    * point transform 0 and no restart interval (both reject — the
    * shifted/segmented variants are vanishingly rare and a wrong guess
    * would be silently lossy); predictor selection outside 1–7, missing
    * tables, truncated entropy, EOI before SOS all reject. The entropy
    * reader shares [[JpegBits]] — FF00 un-stuffing included.
    */
  private def jpegLosslessDecode(b: Array[Byte],
      wantBrightness: Boolean): Option[(JpegStats, Array[Int])] = {
    val dcTabs = new Array[JpegHuff](4)
    var w = 0; var h = 0
    var nComp = 0
    var prec = 0
    val compId = new Array[Int](3)
    val compDc = new Array[Int](3)
    var predSel = 0
    var scanStart = -1
    var o = 2
    while (scanStart < 0 && o + 4 <= b.length) {
      if ((b(o) & 0xff) != 0xff) return None
      // skip spec-legal 0xFF fill runs before the marker code
      // (T.81 B.1.1.2) — same envelope as jpegExif/decodeJpegHeader
      while (o + 2 < b.length && (b(o + 1) & 0xff) == 0xff) o += 1
      val m = b(o + 1) & 0xff
      if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { o += 2 }
      else if (m == 0xd9) return None // EOI before any scan
      else if (o + 4 > b.length) return None // fill run ran off the buffer
      else {
        val len = beU16(b, o + 2)
        if (len < 2 || o + 2 + len > b.length) return None
        val end = o + 2 + len
        m match {
          case 0xc4 => // DHT: lossless uses DC-class tables only; a
            // class-1 table in the file parses into a throwaway slot
            if (!jpegParseDht(b, o, end, dcTabs, new Array[JpegHuff](4)))
              return None
          case 0xc3 =>
            if (len < 8) return None
            prec = b(o + 4) & 0xff
            if (prec < 2 || prec > 16) return None
            h = beU16(b, o + 5); w = beU16(b, o + 7)
            nComp = b(o + 9) & 0xff
            if (nComp != 1 && nComp != 3) return None
            if (len < 8 + 3 * nComp) return None
            var ci = 0
            while (ci < nComp) {
              compId(ci) = b(o + 10 + 3 * ci) & 0xff
              if ((b(o + 11 + 3 * ci) & 0xff) != 0x11) return None // 1×1 only
              ci += 1 // Tq byte ignored — lossless has no quantization
            }
          case 0xc0 | 0xc1 | 0xc2 | 0xc5 | 0xc6 | 0xc7 |
               0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
            return None // a second frame of a different type
          case 0xdd => // DRI: only "none" accepted in the lossless path
            if (len < 4 || beU16(b, o + 4) != 0) return None
          case 0xda =>
            if (w == 0 || (b(o + 4) & 0xff) != nComp) return None
            if (len < 6 + 2 * nComp) return None
            var ci = 0
            while (ci < nComp) {
              if ((b(o + 5 + 2 * ci) & 0xff) != compId(ci)) return None
              compDc(ci) = (b(o + 6 + 2 * ci) & 0xff) >> 4
              if (compDc(ci) > 3) return None
              ci += 1
            }
            val sb = o + 5 + 2 * nComp
            predSel = b(sb) & 0xff // Ss = predictor selection in lossless
            if (predSel < 1 || predSel > 7) return None
            if ((b(sb + 1) & 0xff) != 0) return None // Se must be 0
            if ((b(sb + 2) & 0xff) != 0) return None // Ah=0, Al(=Pt)=0 only
            scanStart = end
          case _ => () // APPn / COM / others: skip
        }
        o = end
      }
    }
    if (scanStart < 0 || w <= 0 || h <= 0) return None
    var tci = 0
    while (tci < nComp) {
      if (dcTabs(compDc(tci)) == null) return None
      tci += 1
    }
    val bright =
      if (!wantBrightness) null
      else if (w.toLong * h > (1 << 24)) return None // 67 MB Int ceiling
      else new Array[Int](w * h)
    val br = new JpegBits(b, scanStart)
    val prev = Array.ofDim[Int](nComp, w)
    val cur = Array.ofDim[Int](nComp, w)
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var minY = Int.MaxValue; var maxY = Int.MinValue
    val half = 1 << (prec - 1)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var brSum = 0
        var c = 0
        while (c < nComp) {
          val t = jpegDecodeHuff(br, dcTabs(compDc(c)))
          if (t < 0 || t > 16) return None
          val diff =
            if (t == 16) 32768 // H.1.2.3: SSSS=16 carries no extra bits
            else if (t == 0) 0
            else {
              val v = br.receive(t); if (v < 0) return None
              jpegExtend(v, t)
            }
          val px =
            if (y == 0 && x == 0) half
            else if (y == 0) cur(c)(x - 1) // first line: predictor 1
            else if (x == 0) prev(c)(0) // line start: predictor 2
            else {
              val a = cur(c)(x - 1)
              val bb = prev(c)(x)
              val cc = prev(c)(x - 1)
              predSel match {
                case 1 => a
                case 2 => bb
                case 3 => cc
                case 4 => a + bb - cc
                case 5 => a + ((bb - cc) >> 1)
                case 6 => bb + ((a - cc) >> 1)
                case _ => (a + bb) >> 1
              }
            }
          val sVal = (px + diff) & 0xffff // T.81 modulo-65536 arithmetic
          cur(c)(x) = sVal
          if (c == 0) {
            if (sVal < minY) minY = sVal
            if (sVal > maxY) maxY = sVal
          }
          if (c == 0) sumR += sVal else if (c == 1) sumG += sVal else sumB += sVal
          brSum += sVal
          c += 1
        }
        if (nComp == 1) {
          sumG += cur(0)(x); sumB += cur(0)(x); brSum *= 3
        }
        if (bright != null) bright(y * w + x) = brSum
        x += 1
      }
      var rc = 0
      while (rc < nComp) {
        System.arraycopy(cur(rc), 0, prev(rc), 0, w)
        rc += 1
      }
      y += 1
    }
    Some((JpegStats(w, h, nComp, sumR, sumG, sumB, minY, maxY), bright))
  }

  /** Progressive JPEG (SOF2) decode — the full T.81 Annex G Huffman
    * procedure: spectral selection (per-band scans), successive
    * approximation (high-bits-first with refinement scans), EOB runs,
    * ZRL-in-refinement, per-scan restart intervals. Coefficients
    * accumulate per component across every scan (DC scans interleaved
    * over all components or non-interleaved; AC scans single-component
    * non-interleaved per G.1.1.1.1), then one final dequantize + IDCT +
    * upsample + JFIF pass reuses the baseline arithmetic exactly.
    *
    * Scan-script validation is stateful, not cosmetic: each (component,
    * coefficient) tracks its successive-approximation position — a first
    * scan must carry Ah=0, a refinement must carry Ah = previous Al, AC
    * before DC rejects, band overlap at the wrong precision rejects. A
    * file may end before the script completes (progressive renders
    * partial data by design) — whatever precision arrived is decoded;
    * EOI before any DC scan rejects.
    *
    * Envelope beyond the shared baseline limits: total pixels capped at
    * 2^22 (the multi-pass coefficient store is ~4 B/px/component — a
    * deliberately bounded executor allocation for hostile dimensions).
    */
  private def jpegProgressiveDecode(b: Array[Byte],
      wantBrightness: Boolean): Option[(JpegStats, Array[Int])] = {
    val qt = new Array[Array[Int]](4)
    val dcTabs = new Array[JpegHuff](4)
    val acTabs = new Array[JpegHuff](4)
    var w = 0; var h = 0
    var nComp = 0
    var dri = 0
    val compId = new Array[Int](3)
    val compQ = new Array[Int](3)
    val compH = new Array[Int](3)
    val compV = new Array[Int](3)
    // per-component coefficient grids (natural order per block) and dims
    var coefs: Array[Array[Int]] = null
    val gw = new Array[Int](3) // full (MCU-padded) block-grid width
    val gh = new Array[Int](3)
    val cw = new Array[Int](3) // real block dims (non-interleaved scans)
    val ch = new Array[Int](3)
    // successive-approximation state per (component, spectral index):
    // -2 = never coded; otherwise the Al of the last scan covering it
    var sas: Array[Array[Int]] = null
    var mx = 0; var my = 0
    val pred = new Array[Int](3)

    var o = 2
    var sawEoi = false
    while (!sawEoi && o + 2 <= b.length) {
      if ((b(o) & 0xff) != 0xff) return None
      // skip spec-legal 0xFF fill runs before the marker code
      // (T.81 B.1.1.2) — same envelope as jpegExif/decodeJpegHeader
      while (o + 2 < b.length && (b(o + 1) & 0xff) == 0xff) o += 1
      val m = b(o + 1) & 0xff
      if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { o += 2 }
      else if (m == 0xd9) { sawEoi = true }
      else {
        if (o + 4 > b.length) return None
        val len = beU16(b, o + 2)
        if (len < 2 || o + 2 + len > b.length) return None
        val end = o + 2 + len
        var nextO = end
        m match {
          case 0xdb => if (!jpegParseDqt(b, o, end, qt)) return None
          case 0xc4 => if (!jpegParseDht(b, o, end, dcTabs, acTabs)) return None
          case 0xdd =>
            if (len < 4) return None
            dri = beU16(b, o + 4)
          case 0xc2 =>
            if (w != 0) return None // one frame header only
            if (len < 8 || (b(o + 4) & 0xff) != 8) return None
            h = beU16(b, o + 5); w = beU16(b, o + 7)
            nComp = b(o + 9) & 0xff
            if (w <= 0 || h <= 0 || (nComp != 1 && nComp != 3)) return None
            if (w.toLong * h > (1 << 22)) return None // coef-store ceiling
            if (len < 8 + 3 * nComp) return None
            var ci = 0
            while (ci < nComp) {
              compId(ci) = b(o + 10 + 3 * ci) & 0xff
              val smp = b(o + 11 + 3 * ci) & 0xff
              compH(ci) = smp >> 4
              compV(ci) = smp & 0x0f
              if (compH(ci) < 1 || compH(ci) > 2 || compV(ci) < 1 || compV(ci) > 2)
                return None
              if ((nComp == 1 || ci > 0) && smp != 0x11) return None
              compQ(ci) = b(o + 12 + 3 * ci) & 0xff
              if (compQ(ci) > 3) return None
              ci += 1
            }
            val hMax = compH(0)
            val vMax = compV(0)
            mx = (w + 8 * hMax - 1) / (8 * hMax)
            my = (h + 8 * vMax - 1) / (8 * vMax)
            coefs = new Array[Array[Int]](nComp)
            sas = Array.fill(nComp)(Array.fill(64)(-2))
            ci = 0
            while (ci < nComp) {
              gw(ci) = mx * compH(ci)
              gh(ci) = my * compV(ci)
              // ceil(ceil(w·Hc/Hmax)/8) — the real block count for
              // non-interleaved scans (A.2.2)
              cw(ci) = ((w * compH(ci) + hMax - 1) / hMax + 7) / 8
              ch(ci) = ((h * compV(ci) + vMax - 1) / vMax + 7) / 8
              coefs(ci) = new Array[Int](gw(ci) * gh(ci) * 64)
              ci += 1
            }
          case 0xc0 | 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 |
               0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
            return None // a second, non-progressive frame
          case 0xda =>
            if (w == 0) return None // SOF2 must precede every scan
            val ns = b(o + 4) & 0xff
            if (ns < 1 || ns > nComp || len < 6 + 2 * ns) return None
            if (ns != 1 && ns != nComp) return None // no partial interleave
            val scomp = new Array[Int](ns)
            val sDc = new Array[Int](ns)
            val sAc = new Array[Int](ns)
            var si = 0
            while (si < ns) {
              val id = b(o + 5 + 2 * si) & 0xff
              var ci = -1
              var j = 0
              while (j < nComp) { if (compId(j) == id) ci = j; j += 1 }
              if (ci < 0) return None
              scomp(si) = ci
              sDc(si) = (b(o + 6 + 2 * si) & 0xff) >> 4
              sAc(si) = b(o + 6 + 2 * si) & 0x0f
              if (sDc(si) > 3 || sAc(si) > 3) return None
              si += 1
            }
            val sb = o + 5 + 2 * ns
            val ss = b(sb) & 0xff
            val se = b(sb + 1) & 0xff
            val ah = (b(sb + 2) & 0xff) >> 4
            val al = b(sb + 2) & 0x0f
            if (se > 63 || ss > se || al > 13 || ah > 13) return None
            if (ss == 0 && se != 0) return None // DC scans carry only k=0
            if (ss > 0 && ns != 1) return None // AC scans: one component
            if (ah != 0 && ah != al + 1) return None // refinement steps by 1
            // progression state: first scan Ah=0, refinement Ah = prev Al
            si = 0
            while (si < ns) {
              val st = sas(scomp(si))
              if (ss > 0 && st(0) == -2) return None // DC before AC
              var k = ss
              while (k <= se) {
                if (ah == 0) { if (st(k) != -2) return None }
                else if (st(k) != ah) return None
                st(k) = al
                k += 1
              }
              si += 1
            }
            if (ss == 0 && ah == 0) {
              si = 0
              while (si < ns) {
                if (dcTabs(sDc(si)) == null) return None
                si += 1
              }
            }
            if (ss > 0 && ah == 0 && acTabs(sAc(0)) == null) return None
            if (ss > 0 && ah > 0 && acTabs(sAc(0)) == null) return None
            val br = new JpegBits(b, end)
            pred(0) = 0; pred(1) = 0; pred(2) = 0
            var eobrun = 0
            var unit = 0
            var restartCount = 0
            def restartIfDue(): Boolean = {
              if (dri > 0 && unit > 0 && unit % dri == 0) {
                if (br.restartMarker() != restartCount % 8) return false
                restartCount += 1
                pred(0) = 0; pred(1) = 0; pred(2) = 0
                eobrun = 0
              }
              true
            }
            // one block's worth of this scan, into coefs(ci) at `base`
            // only reached with ns == 1 (the interleaved branch decodes
            // DC inline with per-scan-position selectors)
            def decodeDcFirst(ci: Int, base: Int): Boolean = {
              val t = jpegDecodeHuff(br, dcTabs(sDc(0)))
              if (t < 0 || t > 11) return false
              val dv = br.receive(t)
              if (dv < 0) return false
              pred(ci) += jpegExtend(dv, t)
              coefs(ci)(base) = pred(ci) << al
              true
            }
            def decodeDcRefine(ci: Int, base: Int): Boolean = {
              val bit = br.bit()
              if (bit < 0) return false
              if (bit == 1) coefs(ci)(base) |= 1 << al
              true
            }
            def decodeAcFirst(ci: Int, base: Int): Boolean = {
              if (eobrun > 0) { eobrun -= 1; return true }
              var k = ss
              while (k <= se) {
                val rs = jpegDecodeHuff(br, acTabs(sAc(0)))
                if (rs < 0) return false
                val r = rs >> 4
                val s2 = rs & 15
                if (s2 == 0) {
                  if (r < 15) {
                    eobrun = (1 << r) - 1
                    if (r > 0) {
                      val x = br.receive(r); if (x < 0) return false
                      eobrun += x
                    }
                    k = 64
                  } else k += 16 // ZRL
                } else {
                  k += r
                  if (k > se) return false
                  val x = br.receive(s2); if (x < 0) return false
                  coefs(ci)(base + jpegZigzag(k)) = jpegExtend(x, s2) << al
                  k += 1
                }
              }
              true
            }
            def decodeAcRefine(ci: Int, base: Int): Boolean = {
              val p1 = 1 << al
              val m1 = -1 << al
              val cf = coefs(ci)
              def correct(ze: Int): Boolean = {
                val cb = br.bit()
                if (cb < 0) return false
                if (cb == 1 && (cf(base + ze) & p1) == 0)
                  cf(base + ze) += (if (cf(base + ze) >= 0) p1 else m1)
                true
              }
              var k = ss
              if (eobrun == 0) {
                var brk = false
                while (k <= se && !brk) {
                  val rs = jpegDecodeHuff(br, acTabs(sAc(0)))
                  if (rs < 0) return false
                  var r = rs >> 4
                  val s2 = rs & 15
                  var newval = 0
                  if (s2 == 0) {
                    if (r < 15) {
                      eobrun = 1 << r
                      if (r > 0) {
                        val x = br.receive(r); if (x < 0) return false
                        eobrun += x
                      }
                      brk = true
                    }
                    // r == 15: ZRL — pass 16 zero-history positions
                  } else {
                    if (s2 != 1) return false // refinement sends ±1 only
                    val sbit = br.bit()
                    if (sbit < 0) return false
                    newval = if (sbit == 1) p1 else m1
                  }
                  if (!brk) {
                    var placed = false
                    while (k <= se && !placed) {
                      val ze = jpegZigzag(k)
                      if (cf(base + ze) != 0) {
                        if (!correct(ze)) return false
                      } else {
                        if (r == 0) {
                          if (s2 != 0) cf(base + ze) = newval
                          placed = true
                        } else r -= 1
                      }
                      k += 1
                    }
                    if (!placed && s2 != 0) return false // band overran
                  }
                }
              }
              if (eobrun > 0) {
                while (k <= se) {
                  val ze = jpegZigzag(k)
                  if (cf(base + ze) != 0) { if (!correct(ze)) return false }
                  k += 1
                }
                eobrun -= 1
              }
              true
            }
            if (ss == 0 && ns > 1) {
              // interleaved DC scan: MCU walk over every component
              var mcuY = 0
              while (mcuY < my) {
                var mcuX = 0
                while (mcuX < mx) {
                  if (!restartIfDue()) return None
                  unit += 1
                  var si2 = 0
                  while (si2 < ns) {
                    val ci = scomp(si2)
                    var bv = 0
                    while (bv < compV(ci)) {
                      var bh2 = 0
                      while (bh2 < compH(ci)) {
                        val row = mcuY * compV(ci) + bv
                        val colB = mcuX * compH(ci) + bh2
                        val base = (row * gw(ci) + colB) * 64
                        val ok =
                          if (ah == 0) { // selector index = si2 in scan order
                            val t = jpegDecodeHuff(br, dcTabs(sDc(si2)))
                            if (t < 0 || t > 11) false
                            else {
                              val dv = br.receive(t)
                              if (dv < 0) false
                              else {
                                pred(ci) += jpegExtend(dv, t)
                                coefs(ci)(base) = pred(ci) << al
                                true
                              }
                            }
                          } else decodeDcRefine(ci, base)
                        if (!ok) return None
                        bh2 += 1
                      }
                      bv += 1
                    }
                    si2 += 1
                  }
                  mcuX += 1
                }
                mcuY += 1
              }
            } else {
              // non-interleaved: one component, real-block raster walk
              val ci = scomp(0)
              var row = 0
              while (row < ch(ci)) {
                var colB = 0
                while (colB < cw(ci)) {
                  if (!restartIfDue()) return None
                  unit += 1
                  val base = (row * gw(ci) + colB) * 64
                  val ok =
                    if (ss == 0) {
                      if (ah == 0) decodeDcFirst(ci, base)
                      else decodeDcRefine(ci, base)
                    } else {
                      if (ah == 0) decodeAcFirst(ci, base)
                      else decodeAcRefine(ci, base)
                    }
                  if (!ok) return None
                  colB += 1
                }
                row += 1
              }
            }
            // resync: skip pad bits/bytes to the next marker
            var p = br.position
            while (p + 1 < b.length &&
              !((b(p) & 0xff) == 0xff && (b(p + 1) & 0xff) != 0)) p += 1
            if (p + 1 >= b.length) return None
            nextO = p
          case _ => () // APPn / COM
        }
        o = nextO
      }
    }
    if (!sawEoi || w == 0) return None
    var ci0 = 0
    while (ci0 < nComp) {
      if (sas(ci0)(0) == -2) return None // DC never arrived
      if (qt(compQ(ci0)) == null) return None
      ci0 += 1
    }
    val bright =
      if (!wantBrightness) null
      else new Array[Int](w * h) // already capped at 2^22 px
    // final pass: dequantize + IDCT every stored block, MCU-assembled
    // through the same tiles/arithmetic as the baseline path
    val hMax = compH(0)
    val vMax = compV(0)
    val mcuW = 8 * hMax
    val mcuH = 8 * vMax
    val samples = Array.ofDim[Int](3, mcuW * mcuH)
    val dq = new Array[Int](64)
    val tmp = Array.ofDim[Double](8, 8)
    val accum = new JpegAccum(w, h, nComp, compH, compV, bright)
    var mcuY = 0
    while (mcuY < my) {
      var mcuX = 0
      while (mcuX < mx) {
        var ci = 0
        while (ci < nComp) {
          val q = qt(compQ(ci))
          val stride = 8 * compH(ci)
          var bv = 0
          while (bv < compV(ci)) {
            var bh2 = 0
            while (bh2 < compH(ci)) {
              val row = mcuY * compV(ci) + bv
              val colB = mcuX * compH(ci) + bh2
              val base = (row * gw(ci) + colB) * 64
              var k = 0
              while (k < 64) {
                val ze = jpegZigzag(k)
                dq(ze) = coefs(ci)(base + ze) * q(k)
                k += 1
              }
              jpegIdct8x8(dq, tmp, samples(ci), (bv * 8) * stride + bh2 * 8, stride)
              bh2 += 1
            }
            bv += 1
          }
          ci += 1
        }
        accum.addMcu(samples, mcuX, mcuY)
        mcuX += 1
      }
      mcuY += 1
    }
    Some(accum.result)
  }

  /** Grayscale view of [[jpegPixelStats]] — (lum_sum, n_pixels, min_lum,
    * max_lum); None for color frames (e12l's contract is 1-component).
    */
  def jpegGraySums(b: Array[Byte]): Option[(Long, Long, Int, Int)] =
    jpegPixelStats(b).collect {
      case s if s.nComp == 1 => (s.sumR, s.nPx, s.minY, s.maxY)
    }

  /** 64-bit average-hash (aHash) over the DECODED pixels of any image
    * format this module decodes — BMP 24bpp; PNG in every 8-bit color
    * type (gray, truecolor, paletted, gray+alpha, RGBA), sequential or
    * Adam7-interlaced; GIF with global or local color tables, sequential
    * or interlaced; JPEG baseline (gray or color, any supported
    * sampling, restart intervals) AND progressive (SOF2 routes through
    * jpegProgressiveDecode) — callers need not pre-filter inputs to a
    * narrower envelope than brightnessOf itself accepts.
    * The hash is the classic 8×8 thumbnail threshold, defined with
    * integer-only arithmetic so any engine reproduces it bit-exactly:
    * pixel brightness v = r+g+b; cell (bx,by) = (⌊x·8/w⌋, ⌊y·8/h⌋);
    * bit k = by·8+bx — stored at hash bit 63−k, row-major from the top
    * left — is set iff cellSum·nPx > totalSum·cellN (strict; ties → 0).
    * Cross-multiplication avoids division entirely, and a uniform
    * brightness shift provably never changes the hash (it adds
    * δ·cellN·nPx to both sides of every comparison). None when the image
    * fails to decode, when w or h < 8 (empty cells), or beyond 2^24
    * pixels (the cap that keeps 765·n² inside a Long).
    *
    * This is the image twin of the text SimHash: near-duplicate images
    * (re-encodes, small edits, global brightness shifts) land within a
    * few bits; pair generation at scale goes through
    * [[ImageNearDup]]'s banded hamming join, never all-pairs.
    */
  def imageAHash64(b: Array[Byte]): Option[Long] =
    brightnessOf(b).flatMap { case (w, h, v) =>
      if (w < 8 || h < 8) None
      else {
        val cellSum = new Array[Long](64)
        val cellN = new Array[Long](64)
        var total = 0L
        var y = 0
        while (y < h) {
          val rowK = (y * 8 / h) * 8
          var x = 0
          while (x < w) {
            val k = rowK + x * 8 / w
            val p = v(y * w + x)
            cellSum(k) += p; cellN(k) += 1; total += p
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        var hash = 0L
        var k = 0
        while (k < 64) {
          if (cellSum(k) * n > total * cellN(k)) hash |= 1L << (63 - k)
          k += 1
        }
        Some(hash)
      }
    }

  /** 64-dim image embedding: the 8×8 grid of mean cell brightness over
    * the DECODED pixels (same floor-boundary cells as [[imageAHash64]]),
    * each mean the exact IEEE quotient of two integers (cellSum/cellN) —
    * so any engine reproduces the vector bit-for-bit from the raw bytes,
    * and cosine similarity over it is oracle-exact. The natural bridge
    * from the multimodal block into the ANN stack: thumbnail-embed every
    * image scan-locally, then search with the e03/e04/IVF/PQ machinery.
    * None exactly when [[imageAHash64]] would reject.
    */
  def imageThumb64(b: Array[Byte]): Option[Array[Double]] =
    brightnessOf(b).flatMap { case (w, h, v) =>
      if (w < 8 || h < 8) None
      else {
        val cellSum = new Array[Long](64)
        val cellN = new Array[Long](64)
        var y = 0
        while (y < h) {
          val rowK = (y * 8 / h) * 8
          var x = 0
          while (x < w) {
            val k = rowK + x * 8 / w
            cellSum(k) += v(y * w + x); cellN(k) += 1
            x += 1
          }
          y += 1
        }
        Some(Array.tabulate(64)(k => cellSum(k).toDouble / cellN(k)))
      }
    }

  /** Decoded per-pixel brightness (r+g+b; top-down raster order) for every
    * format [[imageAHash64]] supports, uniformly capped at 2^24 pixels so
    * the downstream cross-multiplication can never overflow.
    */
  private def brightnessOf(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b == null || b.length < 8) return None
    def capped(w: Int, h: Int): Boolean = w > 0 && h > 0 && w.toLong * h <= (1 << 24)
    val m0 = b(0) & 0xff
    val m1 = b(1) & 0xff
    if (m0 == 'B' && m1 == 'M') decodeBmpHeader(b) match {
      case Some((w, h, 24)) if capped(w, h) =>
        val dataOff = leU32(b, 10).toInt
        val rowBytes = (w.toLong * 3 + 3) / 4 * 4 // Long: hostile-width guard
        if (dataOff < 54 || dataOff > b.length ||
          (b.length - dataOff) / h < rowBytes) None
        else {
          val rowBytesI = rowBytes.toInt
          val v = new Array[Int](w * h)
          var r = 0
          while (r < h) {
            val base = dataOff + r * rowBytesI
            val y = h - 1 - r // BMP rows are bottom-up
            var c = 0
            while (c < w) {
              val o = base + c * 3
              v(y * w + c) = (b(o) & 0xff) + (b(o + 1) & 0xff) + (b(o + 2) & 0xff)
              c += 1
            }
            r += 1
          }
          Some((w, h, v))
        }
      case _ => None
    }
    else if (m0 == 0x89 && m1 == 'P') decodePngHeader(b) match {
      case Some((w, h, 8, ct))
        if (ct == 0 || ct == 2 || ct == 3 || ct == 4 || ct == 6) &&
          capped(w, h) =>
        val v = new Array[Int](w * h)
        pngRows(b) { (r, cur, rowPx) =>
          var x = 0
          var j = 0
          while (j < rowPx) {
            v(r * w + x) = cur(j) + cur(j + 1) + cur(j + 2)
            x += 1; j += 3
          }
        }.map(_ => (w, h, v))
      case _ => None
    }
    else if (m0 == 'G' && m1 == 'I') gifPixelIndices(b).flatMap {
      case (iw, ih, idx, gctOff) =>
        if (!capped(iw, ih)) None
        else {
          val v = new Array[Int](iw * ih)
          var i = 0
          while (i < idx.length) {
            val p = gctOff + 3 * idx(i)
            v(i) = (b(p) & 0xff) + (b(p + 1) & 0xff) + (b(p + 2) & 0xff)
            i += 1
          }
          Some((iw, ih, v))
        }
    }
    else if (m0 == 0xff && m1 == 0xd8) jpegBrightness(b)
    else if (m0 == 'R' && m1 == 'I') WebpL.decode(b) match {
      // WebP, both profiles (VP8L lossless; lossy VP8 via the r15
      // decoder) — the strict decoders carry their own pixel caps
      case Some(img) if capped(img.width, img.height) =>
        val v = new Array[Int](img.width * img.height)
        var i = 0
        while (i < v.length) {
          val px = img.pixels(i)
          v(i) = ((px >>> 16) & 0xff) + ((px >>> 8) & 0xff) + (px & 0xff)
          i += 1
        }
        Some((img.width, img.height, v))
      case _ => None
    }
    else None
  }

  /** A REAL, fully decodable baseline grayscale JPEG whose entropy stream
    * is BYTE-ALIGNED at two bytes per 8×8 block: the DC table holds one
    * 1-bit code ("0" → category 8) and the AC table one 7-bit code
    * ("0000000" → EOB), so each block codes as 1 + 8 + 7 = 16 bits —
    * byte0 = diff bits 7..1, byte1 = diff bit 0 then the EOB zeros. Every
    * stream byte therefore has its top bit ≠ 1-filled and can never be
    * 0xFF (no stuffing), and the DuckDB oracle reads block j's DC diff
    * straight out of bytes streamOff+2j / +2j+1 — the stored-deflate-PNG
    * trick, JPEG edition. DC-only blocks IDCT to a flat value
    * clamp(round(128 + dc·q0/8)), which the oracle mirrors EXACTLY
    * because the generator keeps dc·q0 ≢ 4 (mod 8) — the only place
    * engine ⌊x+.5⌋ and DuckDB round() could disagree is an exact .5, and
    * that residue is the only way dc·q0/8 produces one.
    *
    * Fixed layout (0-based): SOI 0, APP0 2, DQT 20 (q0 at byte 25), SOF0
    * 89 (height BE 94, width BE 96), DHT-DC 102, DHT-AC 124, SOS 146,
    * entropy stream 156 (2 bytes/block, blocks in raster order), EOI.
    */
  def makeJpegPixels(wBlocks: Int, hBlocks: Int, q0: Int, seed: Long): Array[Byte] = {
    require(wBlocks > 0 && hBlocks > 0 && q0 >= 1 && q0 <= 3,
      "q0 in 1..3 keeps every DC-only pixel inside [0,255] (no clamp in fixtures)")
    val blocks = wBlocks * hBlocks
    val out = java.nio.ByteBuffer.allocate(156 + 2 * blocks + 2)
    out.putShort(0xffd8.toShort) // SOI
    out.putShort(0xffe0.toShort).putShort(16) // APP0, len 16
      .put("JFIF".getBytes("US-ASCII")).put(0.toByte)
      .put(1.toByte).put(2.toByte)
      .put(0.toByte).putShort(1).putShort(1)
      .put(0.toByte).put(0.toByte)
    out.putShort(0xffdb.toShort).putShort(67).put(0.toByte) // DQT table 0
    out.put(q0.toByte) // q[0] — the only quantizer a DC-only stream uses
    var s = seed
    (1 until 64).foreach { _ => s = splitmix64(s); out.put((1 + (s & 0x7f)).toByte) }
    out.putShort(0xffc0.toShort).putShort(11) // SOF0, 1 component
      .put(8.toByte)
      .putShort((hBlocks * 8).toShort).putShort((wBlocks * 8).toShort)
      .put(1.toByte)
      .put(1.toByte).put(0x11.toByte).put(0.toByte)
    def dht(classId: Int, lenWithOneCode: Int, symbol: Int): Unit = {
      out.putShort(0xffc4.toShort).putShort(20).put(classId.toByte)
      (1 to 16).foreach(l => out.put(if (l == lenWithOneCode) 1.toByte else 0.toByte))
      out.put(symbol.toByte)
    }
    dht(0x00, lenWithOneCode = 1, symbol = 0x08) // DC: "0" -> category 8
    dht(0x10, lenWithOneCode = 7, symbol = 0x00) // AC: "0000000" -> EOB
    out.putShort(0xffda.toShort).putShort(8).put(1.toByte) // SOS
      .put(1.toByte).put(0x00.toByte)
      .put(0.toByte).put(63.toByte).put(0.toByte)
    var pred = 0
    (0 until blocks).foreach { _ =>
      s = splitmix64(s)
      var mag = 128 + ((s & 0x7fffL) % 113).toInt // 128..240: category 8
      val sign = if (pred > 0) -1 else 1
      // keep dc·q0 off the mod-8 residue 4: the exact-.5 rounding guard
      while ((((pred + sign * mag) * q0) % 8 + 8) % 8 == 4) mag += 1
      pred += sign * mag
      val bits = if (sign > 0) mag else sign * mag + 255 // category-8 code
      out.put((bits >> 1).toByte) // huff "0" + diff bits 7..1
      out.put(((bits & 1) << 7).toByte) // diff bit 0 + EOB "0000000"
    }
    out.putShort(0xffd9.toShort) // EOI
    out.array()
  }

  /** Single-row lossless JPEG (SOF3) whose entropy stream is exactly ONE
    * byte-aligned byte per sample, for the e12r oracle (the
    * byte-aligned-DC-stream precedent, lossless edition): the lone
    * Huffman code is "0000" → category 4, so each sample byte is
    * 0000vvvv — high nibble the code, low nibble the 4 difference bits —
    * and never 0xFF (no stuffing to perturb alignment). One row means
    * prediction is always "left" after the 2^(P−1)=128 seed, so an
    * oracle can chain EXTENDed nibbles with a running sum. Differences
    * pair up as +(8+r) then −(8+r) (both category-4 magnitudes, exact
    * cancellation), so the walk stays inside [128, 143] at any length —
    * no clamp ever fires and the P=8 range holds.
    *
    * Fixed layout (0-based): SOI 0, DHT 2 (counts at 7, symbol 23),
    * SOF3 24 (precision 28, height BE 29, width BE 31), SOS 37
    * (predictor=Ss at 44), entropy 47 (1 byte/sample), EOI.
    */
  def makeJpegLossless(nSamples: Int, seed: Long): Array[Byte] = {
    require(nSamples >= 1 && nSamples <= 1024, "u16 width bound (layout fixed)")
    val out = java.nio.ByteBuffer.allocate(47 + nSamples + 2)
    out.putShort(0xffd8.toShort) // SOI
    out.putShort(0xffc4.toShort).putShort(20).put(0x00.toByte) // DHT class 0
    (1 to 16).foreach(l => out.put(if (l == 4) 1.toByte else 0.toByte))
    out.put(0x04.toByte) // "0000" -> category 4
    out.putShort(0xffc3.toShort).putShort(11) // SOF3, 1 component
      .put(8.toByte) // precision
      .putShort(1).putShort(nSamples.toShort) // h=1, w=n
      .put(1.toByte)
      .put(1.toByte).put(0x11.toByte).put(0.toByte)
    out.putShort(0xffda.toShort).putShort(8).put(1.toByte) // SOS
      .put(1.toByte).put(0x00.toByte)
      .put(1.toByte) // Ss = predictor 1 (left)
      .put(0.toByte).put(0.toByte) // Se = 0, Ah/Al = 0
    var s = seed
    var r = 0
    (0 until nSamples).foreach { j =>
      val v = if (j % 2 == 0) {
        s = splitmix64(s); r = (s & 7).toInt
        8 + r // diff +(8+r)
      } else 7 - r // EXTEND(7-r, 4) = -(8+r): cancels the pair exactly
      out.put(v.toByte)
    }
    out.putShort(0xffd9.toShort) // EOI
    out.array()
  }

  /** REAL GIF header decode: `GIF87a`/`GIF89a` signature, then the logical
    * screen descriptor — width/height as little-endian u16 at offsets 6/8,
    * the packed byte at 10 (bit 7 = global-color-table flag, bits 2-0 its
    * size exponent: 2^(n+1) entries), background color index at 11. When
    * the GCT flag is set the header must actually be long enough to hold
    * the table — a truncated file yields None, never a phantom palette.
    * @return (version, width, height, gct_colors, bg_index)
    */
  def decodeGifHeader(b: Array[Byte]): Option[(String, Int, Int, Int, Int)] = {
    if (b == null || b.length < 13 ||
      b(0) != 'G'.toByte || b(1) != 'I'.toByte || b(2) != 'F'.toByte) None
    else {
      val version = new String(b.slice(3, 6), "US-ASCII")
      if (version != "87a" && version != "89a") None
      else {
        val packed = b(10) & 0xff
        val gctColors = if ((packed & 0x80) != 0) 1 << ((packed & 0x07) + 1) else 0
        if (gctColors > 0 && b.length < 13 + 3 * gctColors) None
        else Some((version, leU16(b, 6), leU16(b, 8), gctColors, b(11) & 0xff))
      }
    }
  }

  // ---- fixture builders (valid files, deterministic content) -------------

  /** A complete, valid 24bpp BMP (header + padded pixel rows). */
  def makeBmp(width: Int, height: Int, seed: Long): Array[Byte] = {
    val rowBytes = (width * 3 + 3) / 4 * 4
    val dataSize = rowBytes * height
    val size = 54 + dataSize
    val out = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    out.putInt(40).putInt(width).putInt(height)
      .putShort(1).putShort(24).putInt(0).putInt(dataSize)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var s = seed
    (0 until dataSize).foreach { _ =>
      s = splitmix64(s); out.put((s & 0xff).toByte)
    }
    out.array()
  }

  /** A complete, valid PCM WAV file. */
  /** REAL sample-level WAV decode: the chunk walk locates the `data`
    * payload, 16-bit PCM little-endian samples decode to signed values,
    * and the stats (sum, sum of squares, peak absolute, count) follow
    * exactly — audio content features with zero codec dependencies
    * (PCM IS the decoded form; this covers every uncompressed WAV).
    * None for non-PCM (format != 1), non-16-bit, odd-length or truncated
    * data — validate, don't trust.
    */
  def wavSampleStats(b: Array[Byte]): Option[(Long, Long, Long, Long)] =
    wavPcm16Data(b).map { case (dataOff, n) =>
      var (sum, sumSq, peak) = (0L, 0L, 0L)
      var i = dataOff
      val end = dataOff + 2 * n
      while (i < end) {
        val v = ((b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)).toShort.toLong
        sum += v; sumSq += v * v
        val a = math.abs(v); if (a > peak) peak = a
        i += 2
      }
      (sum, sumSq, peak, n.toLong)
    }

  /** The shared WAV chunk walk behind [[wavSampleStats]] and
    * [[audioEnvelopeHash64]]: (data offset, sample count) of a validated
    * PCM-s16 payload.
    */
  private def wavPcm16Data(b: Array[Byte]): Option[(Int, Int)] = {
    def tag(o: Int): String =
      if (b.length >= o + 4) new String(b.slice(o, o + 4), "US-ASCII") else ""
    if (b == null || b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") None
    else {
      var o = 12
      var fmtOk = false
      var dataOff = -1
      var dataLen = -1L
      var halt = false
      while (!halt && o + 8 <= b.length && !(fmtOk && dataOff >= 0)) {
        val id = tag(o)
        val sz = leU32(b, o + 4)
        if (id == "fmt " && sz >= 16 && o + 24 <= b.length)
          fmtOk = leU16(b, o + 8) == 1 && leU16(b, o + 22) == 16 // PCM s16
        else if (id == "data") { dataOff = o + 8; dataLen = sz }
        val next = o.toLong + 8L + sz + (sz & 1L)
        if (next <= o || next > b.length.toLong) halt = true else o = next.toInt
      }
      if (!fmtOk || dataOff < 0 || dataLen < 0 || (dataLen & 1L) != 0 ||
        dataOff + dataLen > b.length) None
      else Some((dataOff, (dataLen / 2).toInt))
    }
  }

  /** 64-bit audio envelope hash — the audio twin of [[imageAHash64]]:
    * PCM16 samples (all channels interleaved, as stored) split into 64
    * equal floor-boundary segments; bit k — at hash position 63−k,
    * segments in time order — is set iff the segment's mean absolute
    * amplitude exceeds the whole clip's: segSum·n > total·segN with
    * exact integer cross-multiplication (ties → 0). Reproducible by any
    * engine from the raw PCM bytes, and invariant under exact integer
    * volume scaling (both sides of every comparison scale together).
    * None for non-PCM16 WAV, clips under 64 samples (empty segments),
    * or beyond 2^22 samples (keeps 2^15·n² inside a Long).
    *
    * Near-duplicate clips (re-encodes, gain changes, small edits) land
    * within a few bits; pair generation shares [[ImageNearDup]]'s
    * banded hamming join — the operator is generic over any 64-bit
    * perceptual hash.
    */
  def audioEnvelopeHash64(b: Array[Byte]): Option[Long] =
    wavPcm16Data(b).flatMap { case (dataOff, n) =>
      if (n < 64 || n > (1 << 22)) None
      else {
        val segSum = new Array[Long](64)
        val segN = new Array[Long](64)
        var total = 0L
        var i = 0
        while (i < n) {
          val v = ((b(dataOff + 2 * i) & 0xff) |
            ((b(dataOff + 2 * i + 1) & 0xff) << 8)).toShort.toInt
          val a = math.abs(v)
          val k = (i.toLong * 64 / n).toInt
          segSum(k) += a; segN(k) += 1; total += a
          i += 1
        }
        val nn = n.toLong
        var hash = 0L
        var k = 0
        while (k < 64) {
          if (segSum(k) * nn > total * segN(k)) hash |= 1L << (63 - k)
          k += 1
        }
        Some(hash)
      }
    }

  /** EXIF fields a curation pipeline actually consumes: byte order of
    * the TIFF body, orientation (1–8; the rotate-before-train signal),
    * camera make, capture timestamp, and the Exif sub-IFD pixel
    * dimensions. */
  final case class JpegExif(endian: String, orientation: Int, make: String,
      dateTime: String, pixelW: Long, pixelH: Long)

  /** REAL EXIF decode: scan the JPEG marker stream for APP1 "Exif\0\0",
    * then walk the embedded TIFF structure — BOTH byte orders (II/MM),
    * the 42 magic, IFD0 entries (Make ASCII via data-area offset,
    * Orientation inline SHORT left-justified per TIFF, DateTime ASCII),
    * and the Exif sub-IFD through the 0x8769 pointer for
    * PixelX/YDimension (SHORT or LONG — cameras emit both). Standalone
    * markers skip without a length field; the scan stops at SOS. Every
    * read is bounds-guarded against the APP1 segment end; anything
    * malformed yields None (decoder-family envelope).
    */
  def jpegExif(b: Array[Byte]): Option[JpegExif] = {
    try {
      if (b == null || b.length < 4 ||
        (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
      var o = 2
      var app1 = -1
      var app1Len = 0
      var halt = false
      while (!halt && app1 < 0 && o + 4 <= b.length) {
        if ((b(o) & 0xff) != 0xff) halt = true
        else {
          // JPEG permits any run of 0xFF FILL bytes before the marker
          // code — skip them, or a spec-legal padded file loses its EXIF
          while (o + 1 < b.length && (b(o + 1) & 0xff) == 0xff) o += 1
          if (o + 4 > b.length) halt = true
          else {
            val m = b(o + 1) & 0xff
            if ((m >= 0xd0 && m <= 0xd7) || m == 0x01) o += 2
            else if (m == 0xda) halt = true
            else {
              val len = ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
              if (len < 2 || o + 2 + len > b.length) halt = true
              else {
                if (m == 0xe1) { app1 = o + 4; app1Len = len - 2 }
                o += 2 + len
              }
            }
          }
        }
      }
      if (app1 < 0 || app1Len < 16) return None
      if (new String(b.slice(app1, app1 + 6), "US-ASCII") != "Exif\u0000\u0000")
        return None
      val t0 = app1 + 6
      val end = app1 + app1Len
      def bad(): Nothing = throw new IllegalArgumentException("malformed EXIF")
      val big = new String(b.slice(t0, t0 + 2), "US-ASCII") match {
        case "MM" => true
        case "II" => false
        case _ => return None
      }
      def chk(p: Int, w: Int): Int = { if (p < t0 || p + w > end) bad(); p }
      def u16(p0: Int): Int = {
        val p = chk(p0, 2)
        if (big) ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
        else ((b(p + 1) & 0xff) << 8) | (b(p) & 0xff)
      }
      def u32(p0: Int): Long = {
        val p = chk(p0, 4)
        if (big) beU32(b, p)
        else leU32(b, p)
      }
      if (u16(t0 + 2) != 42) return None
      // one IFD: tag -> (type, count, value-field offset)
      def ifd(at: Int): Map[Int, (Int, Long, Int)] = {
        val n = u16(at)
        if (n > 256) bad()
        (0 until n).map { e =>
          val p = at + 2 + 12 * e
          u16(p) -> ((u16(p + 2), u32(p + 4), p + 8))
        }.toMap
      }
      def shortOrLong(v: (Int, Long, Int)): Long = v._1 match {
        case 3 => u16(v._3).toLong
        case 4 => u32(v._3)
        case _ => bad()
      }
      def ascii(v: (Int, Long, Int)): String = {
        if (v._1 != 2 || v._2 < 1 || v._2 > 4096) bad()
        val c = v._2.toInt
        val p = if (c <= 4) v._3 else chk(t0 + u32(v._3).toInt, c)
        if (p + c > end) bad()
        new String(b.slice(p, p + c - 1), "US-ASCII") // NUL-terminated
      }
      val ifd0 = ifd(t0 + u32(t0 + 4).toInt)
      val orientation = ifd0.get(0x0112).map(shortOrLong).getOrElse(bad())
      val make = ifd0.get(0x010f).map(ascii).getOrElse(bad())
      val dt = ifd0.get(0x0132).map(ascii).getOrElse(bad())
      val sub = ifd0.get(0x8769) match {
        case Some(v) if v._1 == 4 => ifd(t0 + u32(v._3).toInt)
        case _ => bad()
      }
      val pw = sub.get(0xa002).map(shortOrLong).getOrElse(bad())
      val ph = sub.get(0xa003).map(shortOrLong).getOrElse(bad())
      if (orientation < 1 || orientation > 8) bad()
      Some(JpegExif(if (big) "MM" else "II", orientation.toInt, make, dt, pw, ph))
    } catch { case _: Exception => None }
  }

  /** Insert a constructed APP1 Exif segment right after SOI of an
    * existing JPEG — the fixture twin of [[jpegExif]]. Writes the TIFF
    * body in the requested byte order with Make/DateTime in the data
    * area, Orientation as a left-justified inline SHORT, and the Exif
    * sub-IFD pixel dimensions as LONGs.
    */
  def withExif(jpeg: Array[Byte], bigEndian: Boolean, orientation: Int,
      make: String, dateTime: String, pixelW: Long, pixelH: Long): Array[Byte] = {
    val makeB = make.getBytes("US-ASCII") :+ 0.toByte
    val dtB = dateTime.getBytes("US-ASCII") :+ 0.toByte
    // layout (offsets relative to TIFF origin): header 8, IFD0 at 8
    // with 4 entries (2 + 48 + 4 next), sub-IFD follows, then data
    val ifd0At = 8
    val subAt = ifd0At + 2 + 4 * 12 + 4
    val dataAt = subAt + 2 + 2 * 12 + 4
    val makeAt = dataAt
    val dtAt = dataAt + makeB.length
    val total = dtAt + dtB.length
    val tiff = java.nio.ByteBuffer.allocate(total)
      .order(if (bigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
    tiff.put((if (bigEndian) "MM" else "II").getBytes("US-ASCII"))
      .putShort(42).putInt(ifd0At)
    def entry(tag: Int, typ: Int, cnt: Long)(value: => Unit): Unit = {
      tiff.putShort(tag.toShort).putShort(typ.toShort).putInt(cnt.toInt)
      val before = tiff.position()
      value
      while (tiff.position() < before + 4) tiff.put(0.toByte)
    }
    tiff.putShort(4) // IFD0 entry count (ascending tag order per spec)
    entry(0x010f, 2, makeB.length.toLong)(tiff.putInt(makeAt))
    entry(0x0112, 3, 1L)(tiff.putShort(orientation.toShort))
    entry(0x0132, 2, dtB.length.toLong)(tiff.putInt(dtAt))
    entry(0x8769, 4, 1L)(tiff.putInt(subAt))
    tiff.putInt(0) // next-IFD
    tiff.putShort(2)
    entry(0xa002, 4, 1L)(tiff.putInt(pixelW.toInt))
    entry(0xa003, 4, 1L)(tiff.putInt(pixelH.toInt))
    tiff.putInt(0)
    tiff.put(makeB).put(dtB) // the data area the offset entries point into
    val body = "Exif\u0000\u0000".getBytes("US-ASCII") ++ tiff.array()
    val seg = java.nio.ByteBuffer.allocate(4 + body.length)
      .put(0xff.toByte).put(0xe1.toByte)
      .putShort((body.length + 2).toShort).put(body).array()
    jpeg.take(2) ++ seg ++ jpeg.drop(2)
  }

  /** One speech segment from [[wavSegments]]: 0-based first/last window,
    * with the segment's exact sample count and |amplitude| sum. */
  final case class WavSegment(seg: Int, winFrom: Int, winTo: Int,
      nSamples: Long, absSum: Long)

  /** Energy-gated silence segmentation — the VAD-style splitter a
    * speech-corpus pipeline runs before transcription/alignment.
    * Fixed windows of `win` samples (the last may be partial); a window
    * is SPEECH iff its mean |amplitude| clears `thresholdMilli`/1000 by
    * exact integer cross-multiplication (sum·1000 > threshold·count —
    * no floats, so every engine agrees at the boundary); consecutive
    * speech windows merge into segments. Same PCM-s16 envelope and
    * 2^22-sample bound as the other WAV ops; None otherwise.
    */
  def wavSegments(b: Array[Byte], win: Int,
      thresholdMilli: Long): Option[Seq[WavSegment]] =
    wavPcm16Data(b).flatMap { case (dataOff, n) =>
      if (win <= 0 || n == 0 || n > (1 << 22)) None
      else {
        val nw = (n + win - 1) / win
        val ws = new Array[Long](nw)
        val wc = new Array[Long](nw)
        var i = 0
        while (i < n) {
          val v = ((b(dataOff + 2 * i) & 0xff) |
            ((b(dataOff + 2 * i + 1) & 0xff) << 8)).toShort.toInt
          val k = i / win
          ws(k) += math.abs(v); wc(k) += 1
          i += 1
        }
        val out = Seq.newBuilder[WavSegment]
        var seg = 0
        var from = -1
        var sSum = 0L
        var sN = 0L
        var k = 0
        while (k <= nw) {
          val speech = k < nw && ws(k) * 1000L > thresholdMilli * wc(k)
          if (speech) {
            if (from < 0) from = k
            sSum += ws(k); sN += wc(k)
          } else if (from >= 0) {
            seg += 1
            out += WavSegment(seg, from, k - 1, sN, sSum)
            from = -1; sSum = 0L; sN = 0L
          }
          k += 1
        }
        Some(out.result())
      }
    }

  /** Mono PCM-s16 WAV with EXPLICIT sample values — the fixture form
    * for [[wavSegments]], where the oracle re-derives every sample from
    * construction arithmetic rather than from a seed stream. */
  def makeWavSamples(sampleRate: Int, samples: Seq[Int]): Array[Byte] = {
    val dataSize = samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 2).putShort(2).putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(v => out.putShort(v.toShort))
    out.array()
  }

  def makeWav(channels: Int, sampleRate: Int, nSamples: Int, seed: Long): Array[Byte] = {
    val bits = 16
    val dataSize = nSamples * channels * (bits / 8)
    val out = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * (bits / 8))
      .putShort((channels * (bits / 8)).toShort).putShort(bits.toShort)
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var s = seed
    (0 until dataSize / 2).foreach { _ =>
      s = splitmix64(s); out.putShort((s & 0xffff).toShort)
    }
    out.array()
  }

  /** A chunk-structure-valid PNG: real signature, CRC-correct IHDR/IEND,
    * one IDAT chunk of deterministic filler bytes (the payload is NOT a
    * zlib stream — header-level fixtures only; decodePngHeader never
    * inflates, so the oracle parses the identical header bytes).
    */
  def makePng(width: Int, height: Int, bitDepth: Int, colorType: Int,
      seed: Long): Array[Byte] = {
    def chunk(tag: String, payload: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + payload.length)
      out.putInt(payload.length).put(tag.getBytes("US-ASCII")).put(payload)
      val crc = new java.util.zip.CRC32
      crc.update(tag.getBytes("US-ASCII")); crc.update(payload)
      out.putInt(crc.getValue.toInt)
      out.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(bitDepth.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive, no interlace
      .array()
    var s = seed
    val idat = Array.fill(64) { s = splitmix64(s); (s & 0xff).toByte }
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++ chunk("IEND", Array.emptyByteArray)
  }

  /** A structurally valid GIF: signature + logical screen descriptor +
    * global color table of deterministic entries + trailer. No image data
    * blocks — header-level fixture; the decoder and the oracle both read
    * only the first 13 bytes (+ GCT length validation).
    */
  def makeGif(width: Int, height: Int, gctExp: Int, bgIndex: Int,
      seed: Long, version: String = "89a"): Array[Byte] = {
    require(gctExp >= 0 && gctExp <= 7, "GCT size exponent is 3 bits")
    val gctColors = 1 << (gctExp + 1)
    val out = java.nio.ByteBuffer.allocate(13 + 3 * gctColors + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put(("GIF" + version).getBytes("US-ASCII"))
    out.putShort(width.toShort).putShort(height.toShort)
    out.put((0x80 | gctExp).toByte) // GCT present, color resolution 0
    out.put(bgIndex.toByte).put(0.toByte) // bg index, square pixels
    var s = seed
    (0 until 3 * gctColors).foreach { _ =>
      s = splitmix64(s); out.put((s & 0xff).toByte)
    }
    out.put(0x3b.toByte) // trailer
    out.array()
  }

  /** REAL pixel-level GIF decode: GENERAL LZW (variable code widths
    * 3..12 bits LSB-first, dictionary growth, CLEAR rebuild, the KwKwK
    * self-reference case, EOI) over the first image's concatenated data
    * sub-blocks, indices mapped through the active color table — LOCAL
    * if the image descriptor carries one, global otherwise — to
    * per-channel RGB sums + pixel count. Interlaced images decode and
    * de-interlace through the 4-pass row map. Scope is stated, not
    * fudged: first image descriptor only; any truncated stream, any code
    * referencing an unassigned dictionary slot, any index outside the
    * active palette, or fewer decoded indices than width*height yields
    * None. The decoder handles ANY conforming LZW stream (MultimodalSpec
    * feeds a real greedy-dictionary encoder); e12j's fixtures
    * additionally use byte-aligned 8-bit codes (the classic
    * "uncompressed GIF" trick) so the DuckDB oracle can address every
    * pixel byte with integer arithmetic.
    */
  def gifChannelSums(b: Array[Byte]): Option[(Long, Long, Long, Long)] =
    gifPixelIndices(b).map { case (iw, ih, indices, palOff) =>
      var (sr, sg, sb) = (0L, 0L, 0L)
      var i = 0
      while (i < indices.length) {
        val idx = indices(i)
        sr += b(palOff + 3 * idx) & 0xff
        sg += b(palOff + 3 * idx + 1) & 0xff
        sb += b(palOff + 3 * idx + 2) & 0xff
        i += 1
      }
      (sr, sg, sb, iw.toLong * ih)
    }

  /** The shared GIF decode core behind [[gifChannelSums]] and
    * [[imageAHash64]]: (width, height, palette indices in top-down raster
    * order — de-interlaced if needed, every one validated against the
    * active palette, offset of the active (local-else-global) color
    * table).
    */
  private def gifPixelIndices(b: Array[Byte]): Option[(Int, Int, Array[Int], Int)] =
    decodeGifHeader(b) match {
      case Some((_, _, _, gctColors, _)) =>
        val gctOff = 13
        var o = gctOff + 3 * gctColors
        // skip extension blocks (0x21 label, then length-prefixed
        // sub-blocks to a 0 terminator) to the first image descriptor
        var ok = o < b.length
        while (ok && o < b.length && (b(o) & 0xff) == 0x21) {
          o += 2 // introducer + label
          while (ok && o < b.length && (b(o) & 0xff) != 0) {
            o += 1 + (b(o) & 0xff)
            if (o > b.length) ok = false
          }
          o += 1 // sub-block terminator
        }
        if (!ok || o + 10 > b.length || (b(o) & 0xff) != 0x2c) None
        else {
          val iw = leU16(b, o + 5)
          val ih = leU16(b, o + 7)
          val iflags = b(o + 9) & 0xff
          val interlaced = (iflags & 0x40) != 0
          val hasLct = (iflags & 0x80) != 0
          o += 10
          // the ACTIVE table: local (follows the descriptor) beats global
          val (palOff, palColors) =
            if (hasLct) {
              val n = 1 << ((iflags & 0x07) + 1)
              val po = o
              o += 3 * n
              (po, n)
            } else (gctOff, gctColors)
          if (iw <= 0 || ih <= 0 || palColors <= 0 ||
            palOff + 3 * palColors > b.length || o >= b.length) None
          else {
            val minCode = b(o) & 0xff
            o += 1
            // concatenate data sub-blocks
            val data = new java.io.ByteArrayOutputStream()
            var blockOk = true
            var done = false
            while (blockOk && !done && o < b.length) {
              val len = b(o) & 0xff
              if (len == 0) done = true
              else if (o + 1 + len > b.length) blockOk = false
              else data.write(b, o + 1, len)
              o += 1 + len
            }
            if (!blockOk || !done || minCode < 2 || minCode > 8) None
            else lzwDecode(data.toByteArray, minCode, iw.toLong * ih).flatMap {
              indices =>
                var bad = false
                var i = 0
                while (i < indices.length && !bad) {
                  if (indices(i) >= palColors) bad = true
                  i += 1
                }
                if (bad) None
                else {
                  val ordered =
                    if (!interlaced) indices
                    else {
                      // 4-pass interlace (GIF89a appendix E): decoded rows
                      // arrive pass-major; scatter back to raster order
                      val outA = new Array[Int](indices.length)
                      var srcRow = 0
                      Seq((0, 8), (4, 8), (2, 4), (1, 2)).foreach {
                        case (start, step) =>
                          var y = start
                          while (y < ih) {
                            System.arraycopy(indices, srcRow * iw, outA, y * iw, iw)
                            srcRow += 1
                            y += step
                          }
                      }
                      outA
                    }
                  Some((iw, ih, ordered, palOff))
                }
            }
          }
        }
      case _ => None
    }

  /** General GIF-flavor LZW decode: returns exactly `need` palette
    * indices, or None for a malformed/short stream. Codes read LSB-first;
    * width starts at minCode+1, bumps when the next dict slot reaches
    * 1<<width (capped at 12 bits per spec); CLEAR resets the table.
    */
  private def lzwDecode(data: Array[Byte], minCode: Int, need: Long): Option[Array[Int]] = {
    if (need > Int.MaxValue - 8) return None
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new Array[Int](need.toInt)
    var outN = 0
    // dictionary as prefix-link + last-byte tables (classic compact form)
    val maxDict = 1 << 12
    val prefix = new Array[Int](maxDict)
    val last = new Array[Int](maxDict)
    var next = eoi + 1
    var width = minCode + 1
    var prev = -1
    var bitPos = 0L
    val bitEnd = data.length.toLong * 8
    val scratch = new Array[Int](maxDict)
    def emit(code: Int): Boolean = { // expand `code` into out; false on overflow
      var n = 0
      var c = code
      while (c >= clear) { scratch(n) = last(c); n += 1; c = prefix(c) }
      scratch(n) = c; n += 1
      if (outN + n > out.length) return false
      var i = n - 1
      while (i >= 0) { out(outN) = scratch(i); outN += 1; i -= 1 }
      true
    }
    def firstByte(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    var halt = false
    var sawEoi = false
    while (!halt && !sawEoi && bitPos + width <= bitEnd && outN < out.length) {
      // read `width` bits LSB-first
      var v = 0
      var got = 0
      while (got < width) {
        val byteI = (bitPos >> 3).toInt
        val bitI = (bitPos & 7).toInt
        val take = math.min(8 - bitI, width - got)
        v |= (((b2i(data(byteI)) >> bitI) & ((1 << take) - 1)) << got)
        got += take
        bitPos += take
      }
      val code = v
      if (code == clear) { next = eoi + 1; width = minCode + 1; prev = -1 }
      else if (code == eoi) sawEoi = true
      else if (prev == -1) {
        if (code >= clear) halt = true // first code must be a literal
        else { if (!emit(code)) halt = true; prev = code }
      } else if (code < next) {
        if (!emit(code)) halt = true
        else {
          if (next < maxDict) {
            prefix(next) = prev; last(next) = firstByte(code); next += 1
            if (next == (1 << width) && width < 12) width += 1
          }
          prev = code
        }
      } else if (code == next && next < maxDict) { // KwKwK
        prefix(next) = prev; last(next) = firstByte(prev); next += 1
        if (!emit(code - 0)) halt = true
        else {
          if (next == (1 << width) && width < 12) width += 1
          prev = code
        }
      } else halt = true // code references an unassigned slot: corrupt
    }
    if (halt || outN != out.length) None else Some(out)
  }

  private def b2i(b: Byte): Int = b & 0xff

  /** A REAL, fully decodable GIF whose LZW stream uses the classic
    * "uncompressed" encoding: min code size 7 (128-color grayscale
    * palette, entry i = (i,i,i)), a CLEAR code before every run of 120
    * pixel codes so the code width never grows past 8 bits — every code
    * is exactly one byte. Pixel k's byte therefore sits at a computable
    * offset: data byte index ci = k + k/120 + 1, file offset =
    * base + (ci/255)*256 + 1 + (ci%255) with base = 13 + 384 + 10 + 1
    * (header + GCT + image descriptor + min-code byte) — what lets the
    * DuckDB oracle hex-walk the SAME pixel bytes the engine LZW-decodes
    * (e12h/e12i precedent). Deterministic pixels from splitmix64, any
    * conforming GIF reader decodes the file identically.
    */
  def makeGifPixels(width: Int, height: Int, seed: Long,
      interlaced: Boolean = false, localPalette: Boolean = false): Array[Byte] = {
    val n = width * height
    val px = new Array[Byte](n) // logical pixels, raster order
    var s = seed
    (0 until n).foreach { i => s = splitmix64(s); px(i) = (s & 0x7f).toByte }
    // stream rows in storage order: raster, or the 4-pass interlace walk
    val rowOrder: Seq[Int] =
      if (!interlaced) 0 until height
      else Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap {
        case (start, step) => start until height by step
      }
    // code stream: CLEAR + 120 pixels, repeated; EOI
    val codes = new java.io.ByteArrayOutputStream()
    var written = 0
    rowOrder.foreach { y =>
      var x = 0
      while (x < width) {
        if (written % 120 == 0) codes.write(0x80) // CLEAR (code 128)
        codes.write(px(y * width + x))
        written += 1
        x += 1
      }
    }
    codes.write(0x81) // EOI
    val stream = codes.toByteArray
    val nBlocks = (stream.length + 254) / 255
    val out = java.nio.ByteBuffer.allocate(
      13 + 3 * 128 + 10 + (if (localPalette) 3 * 128 else 0) + 1 +
        stream.length + nBlocks + 1 + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("GIF89a".getBytes("US-ASCII"))
    out.putShort(width.toShort).putShort(height.toShort)
    out.put((0x80 | 6).toByte) // GCT present, 2^(6+1)=128 entries
    out.put(0.toByte).put(0.toByte)
    (0 until 128).foreach { c => // grayscale: index == channel value
      out.put(c.toByte).put(c.toByte).put(c.toByte)
    }
    out.put(0x2c.toByte) // image descriptor
    out.putShort(0.toShort).putShort(0.toShort)
    out.putShort(width.toShort).putShort(height.toShort)
    out.put((((if (localPalette) 0x80 else 0) |
      (if (interlaced) 0x40 else 0) |
      (if (localPalette) 6 else 0))).toByte)
    if (localPalette) {
      // a DIFFERENT mapping from the global table, so a decoder that
      // wrongly reads the GCT produces different sums and fails
      (0 until 128).foreach { c =>
        out.put(c.toByte).put((127 - c).toByte).put((c / 2).toByte)
      }
    }
    out.put(7.toByte) // LZW min code size
    var off = 0
    while (off < stream.length) {
      val len = math.min(255, stream.length - off)
      out.put(len.toByte)
      out.put(stream, off, len)
      off += len
    }
    out.put(0.toByte) // block terminator
    out.put(0x3b.toByte) // trailer
    out.array()
  }

  /** A structurally valid JPEG header sequence: SOI + JFIF APP0 (18 B) +
    * a dummy DQT (69 B) + SOF0 with `nComp` components + EOI. No entropy
    * stream — header-level fixture. The layout is FIXED — SOI at 0, APP0
    * at 2, DQT at 20, SOF0 at 89 (precision at 93, height BE at 94, width
    * BE at 96, component count at 98, 0-based) — so the DuckDB oracle can
    * address fields by offset while the decoder WALKS the segments.
    */
  def makeJpeg(width: Int, height: Int, nComp: Int, seed: Long): Array[Byte] = {
    require(nComp >= 1 && nComp <= 4, "JPEG frames carry 1-4 components")
    val out = java.nio.ByteBuffer.allocate(2 + 18 + 69 + (2 + 8 + 3 * nComp) + 2)
    out.putShort(0xffd8.toShort) // SOI
    out.putShort(0xffe0.toShort).putShort(16) // APP0, len 16
      .put("JFIF".getBytes("US-ASCII")).put(0.toByte)
      .put(1.toByte).put(2.toByte) // version 1.02
      .put(0.toByte).putShort(1).putShort(1) // no density units, 1:1
      .put(0.toByte).put(0.toByte) // no thumbnail
    out.putShort(0xffdb.toShort).putShort(67).put(0.toByte) // DQT, table 0
    var s = seed
    (0 until 64).foreach { _ => s = splitmix64(s); out.put((1 + (s & 0x7f)).toByte) }
    out.putShort(0xffc0.toShort).putShort((8 + 3 * nComp).toShort) // SOF0
      .put(8.toByte) // precision
      .putShort(height.toShort).putShort(width.toShort)
      .put(nComp.toByte)
    (1 to nComp).foreach { c =>
      out.put(c.toByte).put(0x11.toByte).put(0.toByte) // id, 1x1 sampling, qtable 0
    }
    out.putShort(0xffd9.toShort) // EOI
    out.array()
  }

  /** The color twin of [[makeJpegPixels]]: a REAL, fully decodable
    * baseline 4:4:4 YCbCr JPEG (3 components, each 1×1) whose interleaved
    * entropy stream stays byte-aligned — every MCU is Y, Cb, Cr blocks at
    * 2 bytes each (same 1-bit-DC/category-8/7-bit-EOB tables, shared by
    * all components), so MCU j's three DC diffs live at bytes
    * 166+6j .. 166+6j+5 and the DuckDB oracle hex-walks them, chains
    * three per-component DC predictors, and applies the SAME JFIF
    * YCbCr→RGB matrix on exact integer samples. Rounding can never split
    * the engines: the generator rejection-samples the per-MCU diffs until
    * (a) every component's dc·q0 ≢ 4 (mod 8) — the flat-sample guard —
    * and (b) each of the three RGB conversion results sits > 1e-6 away
    * from a .5 boundary; both engines then compute bit-identical doubles
    * from identical integers and literals.
    *
    * Fixed layout (0-based): SOI 0, APP0 2, DQT 20 (q0 at 25), SOF0 89
    * (height BE 94, width BE 96, 3 components), DHT-DC 108, DHT-AC 130,
    * SOS 152, entropy stream 166 (6 bytes/MCU, raster order), EOI.
    */
  def makeJpegColorPixels(wBlocks: Int, hBlocks: Int, q0: Int, seed: Long): Array[Byte] = {
    require(wBlocks > 0 && hBlocks > 0 && q0 >= 1 && q0 <= 3,
      "q0 in 1..3 keeps every DC-only sample inside [0,255] (no clamp in fixtures)")
    val blocks = wBlocks * hBlocks
    val out = java.nio.ByteBuffer.allocate(166 + 6 * blocks + 2)
    out.putShort(0xffd8.toShort) // SOI
    out.putShort(0xffe0.toShort).putShort(16) // APP0, len 16
      .put("JFIF".getBytes("US-ASCII")).put(0.toByte)
      .put(1.toByte).put(2.toByte)
      .put(0.toByte).putShort(1).putShort(1)
      .put(0.toByte).put(0.toByte)
    out.putShort(0xffdb.toShort).putShort(67).put(0.toByte) // DQT table 0
    out.put(q0.toByte)
    var s = seed
    (1 until 64).foreach { _ => s = splitmix64(s); out.put((1 + (s & 0x7f)).toByte) }
    out.putShort(0xffc0.toShort).putShort(17) // SOF0, 3 components
      .put(8.toByte)
      .putShort((hBlocks * 8).toShort).putShort((wBlocks * 8).toShort)
      .put(3.toByte)
    (1 to 3).foreach(id => out.put(id.toByte).put(0x11.toByte).put(0.toByte))
    def dht(classId: Int, lenWithOneCode: Int, symbol: Int): Unit = {
      out.putShort(0xffc4.toShort).putShort(20).put(classId.toByte)
      (1 to 16).foreach(l => out.put(if (l == lenWithOneCode) 1.toByte else 0.toByte))
      out.put(symbol.toByte)
    }
    dht(0x00, lenWithOneCode = 1, symbol = 0x08) // DC: "0" -> category 8
    dht(0x10, lenWithOneCode = 7, symbol = 0x00) // AC: "0000000" -> EOB
    out.putShort(0xffda.toShort).putShort(12).put(3.toByte) // SOS, 3 comps
    (1 to 3).foreach(id => out.put(id.toByte).put(0x00.toByte))
    out.put(0.toByte).put(63.toByte).put(0.toByte)
    val pred = new Array[Int](3)
    (0 until blocks).foreach { _ =>
      // rejection-sample the MCU's three diffs until every guard holds
      var diffs: Array[Int] = null
      while (diffs == null) {
        val cand = Array.tabulate(3) { c =>
          s = splitmix64(s)
          val mag = 128 + ((s & 0x7fffL) % 113).toInt // category 8
          if (pred(c) > 0) -mag else mag
        }
        val dcs = Array.tabulate(3)(c => pred(c) + cand(c))
        if (dcs.forall(dc => ((dc * q0) % 8 + 8) % 8 != 4)) {
          val sm = dcs.map(dc => math.round(128 + dc * q0 / 8.0).toInt)
          val (y, cb, cr) = (sm(0), sm(1), sm(2))
          def stable(x: Double): Boolean = {
            val t = x + 0.5; math.abs(t - math.rint(t)) > 1e-6
          }
          if (stable(y + 1.402 * (cr - 128)) &&
            stable(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)) &&
            stable(y + 1.772 * (cb - 128))) diffs = cand
        }
      }
      (0 until 3).foreach { c =>
        pred(c) += diffs(c)
        val bits = if (diffs(c) >= 0) diffs(c) else diffs(c) + 255
        out.put((bits >> 1).toByte)
        out.put(((bits & 1) << 7).toByte)
      }
    }
    out.putShort(0xffd9.toShort) // EOI
    out.array()
  }

  /** The 4:2:0 twin of [[makeJpegColorPixels]]: luma 2×2 / chroma 1×1, so
    * every MCU covers 16×16 pixels and codes as 4 Y blocks + Cb + Cr =
    * 12 byte-aligned stream bytes (same 16-bit-per-block tables). MCU j's
    * six DC diffs live at bytes 166+12j .. 166+12j+11 — Y's predictor
    * chains across blocks in decode order (j·4+b), chroma per MCU — and
    * the oracle applies the JFIF matrix per Y block against the MCU's
    * single upsampled (Cb, Cr). Same two rounding guards as the color
    * generator, checked for all four (y, cb, cr) triples per MCU.
    * Layout: identical to makeJpegColorPixels except the Y sampling byte
    * (0x22 at offset 100) and the stream stride.
    */
  def makeJpeg420Pixels(wMcus: Int, hMcus: Int, q0: Int, seed: Long): Array[Byte] =
    makeJpegFourLumaPixels(wMcus, hMcus, q0, seed,
      ySampling = 0x22, mcuW = 16, mcuH = 16)

  /** The 4:1:1 twin of [[makeJpeg420Pixels]]: luma 4×1 / chroma 1×1, so
    * every MCU covers 32×8 pixels; the entropy stream layout is
    * byte-for-byte the 4:2:0 one (4 Y + Cb + Cr = 12 bytes per MCU) —
    * only the SOF dimensions and the Y sampling byte (0x41) differ, so
    * the e12q oracle reuses the e12n hex walk with the 32×8 MCU count.
    */
  def makeJpeg411Pixels(wMcus: Int, hMcus: Int, q0: Int, seed: Long): Array[Byte] =
    makeJpegFourLumaPixels(wMcus, hMcus, q0, seed,
      ySampling = 0x41, mcuW = 32, mcuH = 8)

  /** Shared four-luma-block fixture core behind [[makeJpeg420Pixels]]
    * (2×2) and [[makeJpeg411Pixels]] (4×1) — same tables, same stream,
    * same rejection-sampling guards; the sampling byte and MCU pixel
    * geometry are the only parameters.
    */
  private def makeJpegFourLumaPixels(wMcus: Int, hMcus: Int, q0: Int,
      seed: Long, ySampling: Int, mcuW: Int, mcuH: Int): Array[Byte] = {
    require(wMcus > 0 && hMcus > 0 && q0 >= 1 && q0 <= 3,
      "q0 in 1..3 keeps every DC-only sample inside [0,255] (no clamp in fixtures)")
    val mcus = wMcus * hMcus
    val out = java.nio.ByteBuffer.allocate(166 + 12 * mcus + 2)
    out.putShort(0xffd8.toShort) // SOI
    out.putShort(0xffe0.toShort).putShort(16) // APP0, len 16
      .put("JFIF".getBytes("US-ASCII")).put(0.toByte)
      .put(1.toByte).put(2.toByte)
      .put(0.toByte).putShort(1).putShort(1)
      .put(0.toByte).put(0.toByte)
    out.putShort(0xffdb.toShort).putShort(67).put(0.toByte) // DQT table 0
    out.put(q0.toByte)
    var s = seed
    (1 until 64).foreach { _ => s = splitmix64(s); out.put((1 + (s & 0x7f)).toByte) }
    out.putShort(0xffc0.toShort).putShort(17) // SOF0, 3 components
      .put(8.toByte)
      .putShort((hMcus * mcuH).toShort).putShort((wMcus * mcuW).toShort)
      .put(3.toByte)
    out.put(1.toByte).put(ySampling.toByte).put(0.toByte) // Y sampling
    out.put(2.toByte).put(0x11.toByte).put(0.toByte)
    out.put(3.toByte).put(0x11.toByte).put(0.toByte)
    def dht(classId: Int, lenWithOneCode: Int, symbol: Int): Unit = {
      out.putShort(0xffc4.toShort).putShort(20).put(classId.toByte)
      (1 to 16).foreach(l => out.put(if (l == lenWithOneCode) 1.toByte else 0.toByte))
      out.put(symbol.toByte)
    }
    dht(0x00, lenWithOneCode = 1, symbol = 0x08)
    dht(0x10, lenWithOneCode = 7, symbol = 0x00)
    out.putShort(0xffda.toShort).putShort(12).put(3.toByte) // SOS
    (1 to 3).foreach(id => out.put(id.toByte).put(0x00.toByte))
    out.put(0.toByte).put(63.toByte).put(0.toByte)
    val pred = new Array[Int](3)
    (0 until mcus).foreach { _ =>
      // rejection-sample the MCU's six diffs (4 Y + Cb + Cr) until every
      // guard holds for all four (y, cb, cr) conversion triples
      var diffs: Array[Int] = null
      while (diffs == null) {
        val cand = Array.fill(6) {
          s = splitmix64(s)
          128 + ((s & 0x7fffL) % 113).toInt // category-8 magnitudes
        }
        // chain the dc values: Y's predictor passes through all 4 blocks,
        // each diff signed to pull the running dc back toward zero
        val dcs = new Array[Int](6)
        var py = pred(0)
        var ok = true
        (0 until 4).foreach { b =>
          val d = if (py > 0) -cand(b) else cand(b)
          py += d
          dcs(b) = py
          cand(b) = d
        }
        (4 until 6).foreach { slot =>
          val c = slot - 3
          val d = if (pred(c) > 0) -cand(slot) else cand(slot)
          dcs(slot) = pred(c) + d
          cand(slot) = d
        }
        ok = dcs.forall(dc => ((dc * q0) % 8 + 8) % 8 != 4)
        if (ok) {
          def sample(dc: Int): Int = math.round(128 + dc * q0 / 8.0).toInt
          val cb = sample(dcs(4))
          val cr = sample(dcs(5))
          def stable(x: Double): Boolean = {
            val t = x + 0.5; math.abs(t - math.rint(t)) > 1e-6
          }
          ok = (0 until 4).forall { b =>
            val y = sample(dcs(b))
            stable(y + 1.402 * (cr - 128)) &&
              stable(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)) &&
              stable(y + 1.772 * (cb - 128))
          }
        }
        if (ok) diffs = cand
      }
      pred(0) += diffs(0) + diffs(1) + diffs(2) + diffs(3)
      pred(1) += diffs(4)
      pred(2) += diffs(5)
      diffs.foreach { d =>
        val bits = if (d >= 0) d else d + 255
        out.put((bits >> 1).toByte)
        out.put(((bits & 1) << 7).toByte)
      }
    }
    out.putShort(0xffd9.toShort) // EOI
    out.array()
  }

  /** The restart-interval twin of [[makeJpegPixels]]: grayscale DC-only
    * blocks with a DRI segment and a cyclic RSTn every `dri` blocks.
    * Because every block codes as exactly 16 bits, the stream stays
    * byte-aligned THROUGH the restart markers (no padding bits exist), so
    * block j's two stream bytes sit at 162 + 2j + 2·⌊j/dri⌋ and each RSTn
    * at the preceding even offset — fully hex-walkable. DC predictors
    * reset at every restart, so the oracle's chain partitions by restart
    * group ⌊j/dri⌋ instead of running over the whole scan.
    * Layout (0-based): as makeJpegPixels through DHT-AC (ends 146), then
    * DRI 146 (interval BE at 150), SOS 152, stream 162, EOI.
    */
  def makeJpegRestartPixels(wBlocks: Int, hBlocks: Int, q0: Int, dri: Int,
      seed: Long): Array[Byte] = {
    require(wBlocks > 0 && hBlocks > 0 && q0 >= 1 && q0 <= 3 && dri >= 1,
      "q0 in 1..3 keeps every DC-only pixel inside [0,255]; dri >= 1")
    val blocks = wBlocks * hBlocks
    val nRst = (blocks - 1) / dri
    val out = java.nio.ByteBuffer.allocate(162 + 2 * blocks + 2 * nRst + 2)
    out.putShort(0xffd8.toShort) // SOI
    out.putShort(0xffe0.toShort).putShort(16) // APP0, len 16
      .put("JFIF".getBytes("US-ASCII")).put(0.toByte)
      .put(1.toByte).put(2.toByte)
      .put(0.toByte).putShort(1).putShort(1)
      .put(0.toByte).put(0.toByte)
    out.putShort(0xffdb.toShort).putShort(67).put(0.toByte) // DQT table 0
    out.put(q0.toByte)
    var s = seed
    (1 until 64).foreach { _ => s = splitmix64(s); out.put((1 + (s & 0x7f)).toByte) }
    out.putShort(0xffc0.toShort).putShort(11) // SOF0, 1 component
      .put(8.toByte)
      .putShort((hBlocks * 8).toShort).putShort((wBlocks * 8).toShort)
      .put(1.toByte)
      .put(1.toByte).put(0x11.toByte).put(0.toByte)
    def dht(classId: Int, lenWithOneCode: Int, symbol: Int): Unit = {
      out.putShort(0xffc4.toShort).putShort(20).put(classId.toByte)
      (1 to 16).foreach(l => out.put(if (l == lenWithOneCode) 1.toByte else 0.toByte))
      out.put(symbol.toByte)
    }
    dht(0x00, lenWithOneCode = 1, symbol = 0x08)
    dht(0x10, lenWithOneCode = 7, symbol = 0x00)
    out.putShort(0xffdd.toShort).putShort(4).putShort(dri.toShort) // DRI
    out.putShort(0xffda.toShort).putShort(8).put(1.toByte) // SOS
      .put(1.toByte).put(0x00.toByte)
      .put(0.toByte).put(63.toByte).put(0.toByte)
    var pred = 0
    var rst = 0
    (0 until blocks).foreach { j =>
      if (j > 0 && j % dri == 0) {
        out.putShort((0xffd0 + (rst % 8)).toShort)
        rst += 1
        pred = 0
      }
      s = splitmix64(s)
      var mag = 128 + ((s & 0x7fffL) % 113).toInt
      val sign = if (pred > 0) -1 else 1
      while ((((pred + sign * mag) * q0) % 8 + 8) % 8 == 4) mag += 1
      pred += sign * mag
      val bits = if (sign > 0) mag else sign * mag + 255
      out.put((bits >> 1).toByte)
      out.put(((bits & 1) << 7).toByte)
    }
    out.putShort(0xffd9.toShort) // EOI
    out.array()
  }

  /** Progressive (SOF2) grayscale fixture: TWO DC scans — successive
    * approximation Al=1, then the Ah=1→Al=0 refinement — and no AC scans
    * (the band stays zero; progressive decodes whatever precision
    * arrived). Scan 1 codes each block as exactly 16 bits (the 8-bit
    * Huffman code "00000000" for category 8, then 8 diff bits), scan 2 as
    * one raw bit per block (MSB-first within each byte), and every block
    * with index ≡ 7 (mod 8) carries refinement bit 0 so no stream byte
    * can reach 0xFF — both scans stay byte-aligned and stuffing-free,
    * fully hex-walkable: scan-1 diff bits of block j at byte 135+2j;
    * scan-2 bit of block j = bit (7−j%8) of byte 144+2·blocks+⌊j/8⌋.
    * The DC after both scans is (sv<<1)|bit, the flat pixel
    * clamp(round(128+dc·q0/8)), with dc·q0 kept off residue 4 (mod 8) so
    * both engines round identically.
    * Layout (0-based): SOI 0, APP0 2, DQT 20 (q0 at 25), SOF2 89
    * (height BE 94, width BE 96), DHT-DC 102, SOS1 124 (data 134),
    * SOS2 134+2·blocks, refinement bits 144+2·blocks, EOI.
    */
  def makeJpegProgressivePixels(wBlocks: Int, hBlocks: Int, q0: Int,
      seed: Long): Array[Byte] = {
    require(wBlocks > 0 && hBlocks > 0 && q0 >= 1 && q0 <= 3,
      "q0 in 1..3 bounds the flat-block values near the displayable range")
    val blocks = wBlocks * hBlocks
    val bitBytes = (blocks + 7) / 8
    val out = java.nio.ByteBuffer.allocate(146 + 2 * blocks + bitBytes)
    out.putShort(0xffd8.toShort) // SOI
    out.putShort(0xffe0.toShort).putShort(16) // APP0, len 16
      .put("JFIF".getBytes("US-ASCII")).put(0.toByte)
      .put(1.toByte).put(2.toByte)
      .put(0.toByte).putShort(1).putShort(1)
      .put(0.toByte).put(0.toByte)
    out.putShort(0xffdb.toShort).putShort(67).put(0.toByte) // DQT table 0
    out.put(q0.toByte)
    var s = seed
    (1 until 64).foreach { _ => s = splitmix64(s); out.put((1 + (s & 0x7f)).toByte) }
    out.putShort(0xffc2.toShort).putShort(11) // SOF2, 1 component
      .put(8.toByte)
      .putShort((hBlocks * 8).toShort).putShort((wBlocks * 8).toShort)
      .put(1.toByte)
      .put(1.toByte).put(0x11.toByte).put(0.toByte)
    out.putShort(0xffc4.toShort).putShort(20).put(0x00.toByte) // DHT DC 0
    (1 to 16).foreach(l => out.put(if (l == 8) 1.toByte else 0.toByte))
    out.put(0x08.toByte) // the single code "00000000" → category 8
    def sos(ahAl: Int): Unit =
      out.putShort(0xffda.toShort).putShort(8).put(1.toByte)
        .put(1.toByte).put(0x00.toByte)
        .put(0.toByte).put(0.toByte).put(ahAl.toByte)
    sos(0x01) // scan 1: DC first, Ah=0 Al=1
    var pred = 0
    val refBits = new Array[Int](blocks)
    (0 until blocks).foreach { j =>
      s = splitmix64(s)
      val bit = if (j % 8 == 7) 0 else ((s >> 17) & 1L).toInt
      refBits(j) = bit
      var mag = 128 + ((s & 0x7fffL) % 113).toInt
      val sign = if (pred > 0) -1 else 1
      while ((((2 * (pred + sign * mag) + bit) * q0) % 8 + 8) % 8 == 4) mag += 1
      pred += sign * mag
      val bits = if (sign > 0) mag else sign * mag + 255
      out.put(0.toByte) // the 8-bit Huffman code for category 8
      out.put(bits.toByte)
    }
    sos(0x10) // scan 2: DC refinement, Ah=1 Al=0 — one raw bit per block
    (0 until bitBytes).foreach { bi =>
      var v = 0
      (0 until 8).foreach { k =>
        val j = bi * 8 + k
        v = (v << 1) | (if (j < blocks) refBits(j) else 0)
      }
      out.put(v.toByte)
    }
    out.putShort(0xffd9.toShort) // EOI
    out.array()
  }

  /** A structurally valid MP4 shell: ftyp(isom) + moov{mvhd v0} + mdat of
    * deterministic filler (no codec bitstream — header-level fixture; the
    * moov carries a real version-0 mvhd whose timescale/duration the
    * decoder and the oracle both read). Box layout is fixed — ftyp 20 B at
    * 0, moov at 20 (mvhd body at 36), mdat at 136 — so the DuckDB oracle
    * can address the same fields by offset while the decoder WALKS.
    */
  def makeMp4(minorVersion: Long, timescale: Long, duration: Long,
      mediaBytes: Int, seed: Long): Array[Byte] = {
    def box(t: String, payload: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(8 + payload.length)
      out.putInt(8 + payload.length).put(t.getBytes("US-ASCII")).put(payload)
      out.array()
    }
    val ftypPayload = java.nio.ByteBuffer.allocate(12)
      .put("isom".getBytes("US-ASCII")).putInt(minorVersion.toInt)
      .put("mp41".getBytes("US-ASCII")).array()
    val mvhdBody = java.nio.ByteBuffer.allocate(100)
      .put(0.toByte).put(new Array[Byte](3)) // version 0 + flags
      .putInt(0).putInt(0) // ctime, mtime
      .putInt(timescale.toInt).putInt(duration.toInt)
      .array() // remaining rate/volume/matrix fields stay zero
    val moov = box("moov", box("mvhd", mvhdBody))
    var s = seed
    val media = Array.fill(mediaBytes) { s = splitmix64(s); (s & 0xff).toByte }
    box("ftyp", ftypPayload) ++ moov ++ box("mdat", media)
  }

  /** Deterministic 64-bit content hash feeding every stubbed feature. */
  private def contentHash(content: Array[Byte]): Long =
    fnv1a64(new String(content.map(b => (b & 0x7f).toChar)))

  /** STUB image decode: content bytes -> (width, height, channels,
    * features[16]). Deterministic in the content hash.
    */
  def decodeImageStub(content: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val h = contentHash(content)
    val w = 64 + (math.abs(h % 1024)).toInt
    val ht = 64 + (math.abs((h >> 10) % 1024)).toInt
    (w, ht, 3, featuresOf(h))
  }

  /** STUB audio decode: content bytes -> (sample_rate, n_samples,
    * mfcc-like features[16]). Deterministic in the content hash.
    */
  def decodeAudioStub(content: Array[Byte]): (Int, Long, Array[Float]) = {
    val h = contentHash(content)
    val rates = Array(8000, 16000, 22050, 44100, 48000)
    (rates(math.abs(h % rates.length).toInt),
      1000L + math.abs((h >> 8) % 1000000L), featuresOf(splitmix64(h)))
  }

  /** STUB frame sampler: n deterministic per-frame feature vectors. */
  def frameSampleStub(content: Array[Byte], n: Int): Array[Array[Float]] = {
    val h = contentHash(content)
    Array.tabulate(n)(i => featuresOf(splitmix64(h + i)))
  }

  private def featuresOf(seed: Long): Array[Float] = {
    var s = seed
    Array.fill(FeatureDim) {
      s = splitmix64(s)
      ((s >>> 11).toDouble / (1L << 52).toDouble - 1.0).toFloat
    }
  }

  val featureSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("n_bytes", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("features", ArrayType(FloatType, containsNull = false))))

  /** Batched feature extraction over a binaryFile-shaped DataFrame
    * (`path`, `content`). One partition = a stream of bounded batches; the
    * per-batch hook is where a real pipeline would bind codec/model state.
    */
  def extractImageFeatures(binaryFiles: DataFrame, batchSize: Int = 64): DataFrame = {
    val input = binaryFiles.select(col("path"), col("content"))
    input.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // per-batch init hook lives here (codec/model handle)
        batch.iterator.map { r =>
          val path = r.getString(0)
          val content = r.getAs[Array[Byte]](1)
          // REAL pixel decode for BMP/PNG/GIF (features lead with the
          // channel means — genuine content features); header-only or
          // unknown formats fall back to the documented stub
          def pixelFeatures(sums: (Long, Long, Long, Long)): Array[Float] = {
            val (sr, sg, sb, n) = sums
            val means = Array((sr.toDouble / n).toFloat,
              (sg.toDouble / n).toFloat, (sb.toDouble / n).toFloat)
            means ++ featuresOf(contentHash(content)).drop(3)
          }
          val (w, h, c, feats) =
            bmpChannelSums(content).flatMap { s =>
              decodeBmpHeader(content).map(hd => (hd._1, hd._2, 3,
                // BMP rows are BGR: reorder to RGB for a uniform feature
                pixelFeatures((s._3, s._2, s._1, s._4))))
            }.orElse(pngChannelSums(content).flatMap { s =>
              decodePngHeader(content).map(hd => (hd._1, hd._2, 3, pixelFeatures(s)))
            }).orElse(gifChannelSums(content).flatMap { s =>
              decodeGifHeader(content).map(hd => (hd._2, hd._3, 3, pixelFeatures(s)))
            }).orElse(jpegPixelStats(content).map { st =>
              // grayscale replicates luma into the RGB mean slots; color
              // carries real converted RGB means
              (st.w, st.h, st.nComp, pixelFeatures((st.sumR, st.sumG, st.sumB, st.nPx)))
            }).orElse(decodeBmpHeader(content).map { case (bw, bh, bpp) =>
              (bw, bh, bpp / 8, featuresOf(contentHash(content)))
            }).getOrElse(decodeImageStub(content))
          Row(path, content.length.toLong, w, h, c, feats.toSeq)
        }
      }
    }(RowEncoder.encoderFor(featureSchema))
  }
}
