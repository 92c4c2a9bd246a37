package graft.operators.av1

/** AV1 intra-frame pixel decoder (spec 5.11/7.11-7.13): OBU walk,
  * tile decode (partition tree, intra mode info, coefficients),
  * prediction and reconstruction. Post filters (deblock, CDEF) are
  * applied by [[Av1LoopFilter]] / [[Av1Cdef]] from `decode()`.
  *
  * Scope: KEY / INTRA_ONLY still frames (the AVIF payload shape),
  * all profiles — 8/10/12-bit, 4:2:0 / 4:2:2 / 4:4:4 / monochrome —
  * including palette / screen-content coding ([[Av1Palette]]) and
  * loop restoration ([[Av1Restoration]], r17; wiener pixel-validated
  * live + 4 committed goldens in r18). 12-bit shipped r18 when the
  * encoder trigger fired (profile-2 streams became producible on the
  * runtime): dav1d-pair-confirmed dc/ac_q_12 tables plus the F14
  * deblock weight fix its validation sweep exposed. Still deferred
  * (reject loudly, each with a revisit trigger in SURVEY §8):
  * intrabc, segmentation features beyond alt-Q, qmatrix, film grain
  * (apply_grain streams are not encoder-reachable here), superres.
  * The r17 low-speed divergence classes all CLOSED in r18
  * (filter-intra tx-type direction, pixel-count dequant tx-scale,
  * real-dims coeff-base shape rule — NOTES_r18); the twelve class
  * members are committed goldens (av1_s4class_goldens.jsonl,
  * regenerable via scripts/av1one.py).
  */
object Av1Decoder {
  import Av1Headers.{Bits, Frame, Malformed, Seq => SeqH, Unsupported}

  final case class Planes(width: Int, height: Int, bitDepth: Int,
      subX: Int, subY: Int, monochrome: Boolean, planes: Array[Array[Int]])

  /** decode the first frame from a raw OBU stream (AVIF item payload).
    * Returns None on malformed/unsupported input.
    */
  def decode(payload: Array[Byte]): Option[Planes] =
    try Some(decodeOrThrow(payload))
    catch {
      case Malformed => None
      case _: Unsupported => None
      case _: ArrayIndexOutOfBoundsException => None
    }

  def decodeOrThrow(payload: Array[Byte]): Planes = {
    // ---- OBU walk: find sequence header, then frame / frame header +
    // tile group OBUs ----
    var seq: SeqH = null
    var fh: Frame = null
    var fhBits: Bits = null
    val tileChunks = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var p = 0
    while (p < payload.length) {
      val hdr = payload(p) & 0xff
      if ((hdr & 0x81) != 0) throw Malformed
      val oType = (hdr >> 3) & 15
      val hasExt = (hdr >> 2) & 1
      val hasSize = (hdr >> 1) & 1
      var q = p + 1 + hasExt
      var size = -1L
      if (hasSize == 1) {
        size = 0L
        var shift = 0
        var more = true
        while (more) {
          if (q >= payload.length || shift > 56) throw Malformed
          val b = payload(q) & 0xff
          q += 1
          size |= (b & 0x7fL) << shift
          more = (b & 0x80) != 0
          shift += 7
        }
        if (q + size > payload.length) throw Malformed
      } else size = (payload.length - q).toLong
      val end = q + size.toInt
      oType match {
        case 1 => // sequence header
          seq = Av1Headers.parseSeq(new Bits(payload, q.toLong * 8, end))
        case 3 => // frame header
          if (seq == null) throw Malformed
          fhBits = new Bits(payload, q.toLong * 8, end)
          fh = Av1Headers.parseFrame(seq, fhBits)
        case 4 => // tile group
          if (fh == null) throw Malformed
          tileChunks += ((q, end))
        case 6 => // frame = frame header + tile group
          if (seq == null) throw Malformed
          fhBits = new Bits(payload, q.toLong * 8, end)
          fh = Av1Headers.parseFrame(seq, fhBits)
          fhBits.byteAlign()
          tileChunks += (((fhBits.pos >> 3).toInt, end))
        case _ => () // temporal delimiter, metadata, padding: skip
      }
      p = end
    }
    if (seq == null || fh == null || tileChunks.isEmpty) throw Malformed
    if (fh.segmentationEnabled) throw Unsupported("segmentation")

    val dec = new Av1FrameDecode(seq, fh)
    // ---- tile group slicing ----
    val numTiles = fh.tileCols * fh.tileRows
    var tileNum = 0
    for ((start, end) <- tileChunks) {
      val r = new Bits(dec.payload0(payload), start.toLong * 8, end)
      var tgStart = 0
      var tgEnd = numTiles - 1
      if (numTiles > 1) {
        val present = r.f(1) == 1
        if (present) {
          val tileBits = fh.tileColsLog2 + fh.tileRowsLog2
          tgStart = r.f(tileBits)
          tgEnd = r.f(tileBits)
        }
      }
      r.byteAlign()
      var pos = (r.pos >> 3).toInt
      tileNum = tgStart
      while (tileNum <= tgEnd) {
        var tileSize = end - pos
        if (tileNum < tgEnd) {
          // little-endian le(TileSizeBytes)
          var ts = 0L
          var i = 0
          while (i < fh.tileSizeBytes) {
            ts |= (payload(pos + i) & 0xffL) << (8 * i)
            i += 1
          }
          pos += fh.tileSizeBytes
          tileSize = ts.toInt + 1
        }
        if (pos + tileSize > end) throw Malformed
        dec.decodeTile(payload, pos, pos + tileSize, tileNum)
        pos += tileSize
        tileNum += 1
      }
    }
    if (tileNum < numTiles) throw Malformed
    // ---- post filters: deblock -> CDEF -> loop restoration (no
    // superres on this profile). LR's stripe boundaries read the
    // DEBLOCKED pre-CDEF rows, so snapshot between the passes.
    Av1LoopFilter.apply(dec)
    val deblocked =
      if (dec.usesLr) dec.planes.map(_.clone()) else null
    Av1Cdef.apply(dec)
    Av1Restoration.apply(dec, deblocked)
    Planes(fh.width, fh.height, seq.bitDepth, seq.subsamplingX,
      seq.subsamplingY, seq.monochrome, dec.croppedPlanes())
  }
}

/** Mutable whole-frame decode state shared by the tile loop and the
  * post filters.
  */
final class Av1FrameDecode(val seq: Av1Headers.Seq, val fh: Av1Headers.Frame) {
  import Av1Consts._
  import Av1Headers.Malformed

  def payload0(p: Array[Byte]): Array[Byte] = p // identity helper

  val bd: Int = seq.bitDepth
  val pixMax: Int = (1 << bd) - 1
  val numPlanes: Int = if (seq.monochrome) 1 else 3
  val subX: Int = seq.subsamplingX
  val subY: Int = seq.subsamplingY
  val miCols: Int = fh.miCols
  val miRows: Int = fh.miRows
  val sb4: Int = fh.sbSize >> 2 // superblock size in 4x4 units
  val sbLog2: Int = if (seq.use128x128Superblock) 5 else 4

  // MI-AREA dims (spec MiCols*4 / MiRows*4): the bound for coverage,
  // neighbor-sample clamping, availability and CDEF borders.
  val miW: Array[Int] = Array.tabulate(numPlanes) { pl =>
    if (pl == 0) miCols * 4 else (miCols * 4) >> subX
  }
  val miH: Array[Int] = Array.tabulate(numPlanes) { pl =>
    if (pl == 0) miRows * 4 else (miRows * 4) >> subY
  }
  // plane BUFFERS are superblock-aligned: a transform block that STARTS
  // inside the mi area reconstructs to its full extent past it (spec
  // 5.11.35 sets MaxLumaW/H = startX/Y + step*4 with no mi clamp, and
  // CfL subsampling reads those samples), so the buffers must hold the
  // overhang. Output is cropped to the visible dims.
  val planeW: Array[Int] = Array.tabulate(numPlanes) { pl =>
    val al = ((miCols * 4 + fh.sbSize - 1) / fh.sbSize) * fh.sbSize
    if (pl == 0) al else al >> subX
  }
  val planeH: Array[Int] = Array.tabulate(numPlanes) { pl =>
    val al = ((miRows * 4 + fh.sbSize - 1) / fh.sbSize) * fh.sbSize
    if (pl == 0) al else al >> subY
  }
  /** spec MaxLumaW/MaxLumaH: extent of the most recent luma transform
    * block; the CfL luma-subsample clamp (may exceed the mi area).
    */
  var maxLumaW = 0
  var maxLumaH = 0
  /** visible (cropped) dims per plane */
  val cropW: Array[Int] = Array.tabulate(numPlanes) { pl =>
    if (pl == 0) fh.width else (fh.width + subX) >> subX
  }
  val cropH: Array[Int] = Array.tabulate(numPlanes) { pl =>
    if (pl == 0) fh.height else (fh.height + subY) >> subY
  }
  def croppedPlanes(): Array[Array[Int]] =
    Array.tabulate(numPlanes) { pl =>
      val out = new Array[Int](cropW(pl) * cropH(pl))
      var r = 0
      while (r < cropH(pl)) {
        System.arraycopy(planes(pl), r * planeW(pl), out, r * cropW(pl),
          cropW(pl))
        r += 1
      }
      out
    }
  val planes: Array[Array[Int]] =
    Array.tabulate(numPlanes)(pl => new Array[Int](planeW(pl) * planeH(pl)))

  // per-4x4 mode info (frame-wide)
  val yModes = new Array[Byte](miRows * miCols)
  val uvModes = new Array[Byte](miRows * miCols)
  val skips = new Array[Boolean](miRows * miCols)
  val txSzY = new Array[Byte](miRows * miCols)
  val blockOriginR = new Array[Int](miRows * miCols)
  val blockOriginC = new Array[Int](miRows * miCols)
  val paletteSizeY = new Array[Int](miRows * miCols)
  val paletteSizeUV = new Array[Int](miRows * miCols)
  val paletteColorsY = new Array[Array[Int]](miRows * miCols)
  val paletteColorsUV = new Array[Array[Int]](miRows * miCols)
  // current block's palette prediction (set when palette in use)
  var palettePred: Array[Array[Int]] = Array(null, null, null)
  var palettePredX = 0
  var palettePredY = 0
  var palettePredW = 0
  var palettePredWc = 0
  val txSzUV = new Array[Byte](miRows * miCols) // in chroma units at (r>>subY, c>>subX) granularity, stored per luma mi for simplicity
  // decoded bitmap per plane at 4x4 granularity (plane coords)
  val decoded: Array[Array[Boolean]] = Array.tabulate(numPlanes) { pl =>
    new Array[Boolean](((planeH(pl) + 3) >> 2) * ((planeW(pl) + 3) >> 2))
  }
  val dec4W: Array[Int] = Array.tabulate(numPlanes)(pl => (planeW(pl) + 3) >> 2)

  // partition context masks
  val abovePartition = new Array[Int](miCols)
  val leftPartition = new Array[Int](miRows)
  // entropy level contexts per plane (in plane-4x4 units)
  val aboveLevel: Array[Array[Int]] = Array.tabulate(numPlanes)(pl =>
    new Array[Int](dec4W(pl) + 16))
  val aboveDc: Array[Array[Int]] = Array.tabulate(numPlanes)(pl =>
    new Array[Int](dec4W(pl) + 16))
  val leftLevel: Array[Array[Int]] = Array.tabulate(numPlanes)(pl =>
    new Array[Int](((planeH(pl) + 3) >> 2) + 16))
  val leftDc: Array[Array[Int]] = Array.tabulate(numPlanes)(pl =>
    new Array[Int](((planeH(pl) + 3) >> 2) + 16))

  // tile bounds (mi units), set per tile
  var miRowStart = 0
  var miRowEnd = 0
  var miColStart = 0
  var miColEnd = 0

  var msac: Av1Msac = null
  var cdf: Av1CdfCtx = null
  var readDeltas = false
  var currentQIndex = fh.baseQIdx
  // cdef strength index per 64x64 unit
  val cdefStride: Int = (miCols + 15) >> 4
  val cdefRows: Int = (miRows + 15) >> 4
  val cdefIdx: Array[Int] = Array.fill(cdefStride * cdefRows)(-1)

  // ---- loop restoration state (spec 5.11.57 read_lr / 7.17) ----
  /** restoration unit size per plane (plane pixels); 0 = RESTORE_NONE */
  val lrSize: Array[Int] = Array.tabulate(numPlanes) { pl =>
    if (fh.lrType(pl) == 0) 0
    else {
      val y = 256 >> (2 - fh.lrUnitShift) // RESTORATION_TILESIZE_MAX
      if (pl == 0) y else y >> fh.lrUvShift
    }
  }
  private def lrCount(unitSize: Int, frameSize: Int): Int =
    math.max((frameSize + (unitSize >> 1)) / unitSize, 1)
  val lrUnitRows: Array[Int] = Array.tabulate(numPlanes)(pl =>
    if (fh.lrType(pl) == 0) 0 else lrCount(lrSize(pl), cropH(pl)))
  val lrUnitCols: Array[Int] = Array.tabulate(numPlanes)(pl =>
    if (fh.lrType(pl) == 0) 0 else lrCount(lrSize(pl), cropW(pl)))
  /** per-unit restoration type (0 none / 1 wiener / 2 sgrproj) */
  val lrUnitType: Array[Array[Byte]] = Array.tabulate(numPlanes)(pl =>
    new Array[Byte](lrUnitRows(pl) * lrUnitCols(pl)))
  /** per-unit wiener taps: 2 passes x 3 coded taps (vert then horiz) */
  val lrWiener: Array[Array[Int]] = Array.tabulate(numPlanes)(pl =>
    new Array[Int](lrUnitRows(pl) * lrUnitCols(pl) * 6))
  val lrSgrSet: Array[Array[Byte]] = Array.tabulate(numPlanes)(pl =>
    new Array[Byte](lrUnitRows(pl) * lrUnitCols(pl)))
  val lrSgrXqd: Array[Array[Int]] = Array.tabulate(numPlanes)(pl =>
    new Array[Int](lrUnitRows(pl) * lrUnitCols(pl) * 2))
  // per-tile prediction refs
  private val refWiener = Array.ofDim[Int](numPlanes, 2, 3)
  private val refSgrXqd = Array.ofDim[Int](numPlanes, 2)
  val usesLr: Boolean = fh.lrType.take(numPlanes).exists(_ != 0)

  // 12-bit supported since r18 (profile-2 streams became encoder-
  // reachable on this runtime; quant tables dav1d-pair-confirmed)
  private val dcQTab = bd match {
    case 8 => Av1Tables.flat("dc_q_8")
    case 10 => Av1Tables.flat("dc_q_10")
    case _ => Av1Tables.flat("dc_q_12")
  }
  private val acQTab = bd match {
    case 8 => Av1Tables.flat("ac_q_8")
    case 10 => Av1Tables.flat("ac_q_10")
    case _ => Av1Tables.flat("ac_q_12")
  }

  @inline private def dcQ(q: Int): Int = dcQTab(math.max(0, math.min(255, q)))
  @inline private def acQ(q: Int): Int = acQTab(math.max(0, math.min(255, q)))

  // ---------------- tile decode ----------------
  def decodeTile(buf: Array[Byte], start: Int, end: Int,
      tileNum: Int): Unit = {
    val tileRow = tileNum / fh.tileCols
    val tileCol = tileNum % fh.tileCols
    miRowStart = fh.tileRowStartSb(tileRow) << sbLog2
    miRowEnd = math.min(fh.tileRowStartSb(tileRow + 1) << sbLog2, miRows)
    miColStart = fh.tileColStartSb(tileCol) << sbLog2
    miColEnd = math.min(fh.tileColStartSb(tileCol + 1) << sbLog2, miCols)
    msac = new Av1Msac(buf, start, end, !fh.disableCdfUpdate)
    cdf = new Av1CdfCtx(qContext(fh.baseQIdx))
    currentQIndex = fh.baseQIdx
    // reset contexts over the tile extent
    var i = miColStart
    while (i < miColEnd) { abovePartition(i) = 0; i += 1 }
    i = miRowStart
    while (i < miRowEnd) { leftPartition(i) = 0; i += 1 }
    var pl = 0
    while (pl < numPlanes) {
      val shX = if (pl == 0) 0 else subX
      val shY = if (pl == 0) 0 else subY
      var c = miColStart >> shX
      while (c <= math.min((miColEnd >> shX), dec4W(pl) - 1)) {
        aboveLevel(pl)(c) = 0; aboveDc(pl)(c) = 0; c += 1
      }
      var r = miRowStart >> shY
      while (r <= math.min((miRowEnd >> shY), leftLevel(pl).length - 1)) {
        leftLevel(pl)(r) = 0; leftDc(pl)(r) = 0; r += 1
      }
      pl += 1
    }
    // loop-restoration prediction refs reset per tile (spec Wiener_Taps_Mid
    // / Sgrproj_Xqd_Mid)
    pl = 0
    while (pl < numPlanes) {
      var pass = 0
      while (pass < 2) {
        refWiener(pl)(pass)(0) = 3
        refWiener(pl)(pass)(1) = -7
        refWiener(pl)(pass)(2) = 15
        pass += 1
      }
      refSgrXqd(pl)(0) = -32
      refSgrXqd(pl)(1) = 31
      pl += 1
    }
    // superblock loop
    val sbSizeBlock = if (seq.use128x128Superblock) BLOCK_128X128 else BLOCK_64X64
    var r = miRowStart
    while (r < miRowEnd) {
      var c = miColStart
      while (c < miColEnd) {
        readDeltas = fh.deltaQPresent
        if (usesLr) readLr(r, c)
        decodePartition(r, c, sbSizeBlock)
        c += sb4
      }
      r += sb4
    }
  }

  // ---------------- loop restoration syntax (spec 5.11.57) ----------------
  private val WienerTapsMin = Array(-5, -23, -17)
  private val WienerTapsMax = Array(10, 8, 46)
  private val WienerTapsK = Array(1, 2, 3)

  private def readLr(r: Int, c: Int): Unit = {
    if (fh.allowIntrabc) return
    var pl = 0
    while (pl < numPlanes) {
      if (fh.lrType(pl) != 0) {
        val shX = if (pl == 0) 0 else subX
        val shY = if (pl == 0) 0 else subY
        val unitSize = lrSize(pl)
        val rowStart = (r * (4 >> shY) + unitSize - 1) / unitSize
        val rowEnd = math.min(lrUnitRows(pl),
          ((r + sb4) * (4 >> shY) + unitSize - 1) / unitSize)
        // no superres: numerator = MI_SIZE >> subX, denominator = unitSize
        val num = 4 >> shX
        val colStart = (c * num + unitSize - 1) / unitSize
        val colEnd = math.min(lrUnitCols(pl),
          ((c + sb4) * num + unitSize - 1) / unitSize)
        var ur = rowStart
        while (ur < rowEnd) {
          var uc = colStart
          while (uc < colEnd) {
            readLrUnit(pl, ur, uc)
            uc += 1
          }
          ur += 1
        }
      }
      pl += 1
    }
  }

  private def readLrUnit(pl: Int, ur: Int, uc: Int): Unit = {
    val idx = ur * lrUnitCols(pl) + uc
    var rtype = 0
    fh.lrType(pl) match {
      case 1 => rtype = if (msac.bool(cdf.useWiener)) 1 else 0
      case 2 => rtype = if (msac.bool(cdf.useSgrproj)) 2 else 0
      case _ => rtype = msac.symbol(cdf.restoreSwitchable, 3)
    }
    lrUnitType(pl)(idx) = rtype.toByte
    if (rtype == 1) {
      var pass = 0
      while (pass < 2) {
        var j = 0
        if (pl != 0) { lrWiener(pl)(idx * 6 + pass * 3) = 0; j = 1 }
        while (j < 3) {
          val v = decodeSignedSubexpRef(WienerTapsMin(j),
            WienerTapsMax(j) + 1, WienerTapsK(j), refWiener(pl)(pass)(j))
          lrWiener(pl)(idx * 6 + pass * 3 + j) = v
          refWiener(pl)(pass)(j) = v
          j += 1
        }
        pass += 1
      }
    } else if (rtype == 2) {
      val set = msac.literal(4) // SGRPROJ_PARAMS_BITS
      lrSgrSet(pl)(idx) = set.toByte
      var i = 0
      while (i < 2) {
        val radius = Av1Restoration.SgrRadius(set)(i)
        val mn = if (i == 0) -96 else -32 // Sgrproj_Xqd_Min
        val mx = if (i == 0) 31 else 95 // Sgrproj_Xqd_Max
        var v = 0
        if (radius != 0)
          v = decodeSignedSubexpRef(mn, mx + 1, 4, refSgrXqd(pl)(i))
        else if (i == 1)
          v = math.max(mn,
            math.min(mx, (1 << 7) - refSgrXqd(pl)(0))) // SGRPROJ_PRJ_BITS
        lrSgrXqd(pl)(idx * 2 + i) = v
        refSgrXqd(pl)(i) = v
        i += 1
      }
    }
  }

  /** spec decode_signed_subexp_with_ref_bool */
  private def decodeSignedSubexpRef(low: Int, high: Int, k: Int,
      ref: Int): Int = {
    val mx = high - low
    val r0 = ref - low
    val v = decodeSubexpBool(mx, k)
    val x =
      if ((r0 << 1) <= mx) inverseRecenter(r0, v)
      else mx - 1 - inverseRecenter(mx - 1 - r0, v)
    x + low
  }

  private def decodeSubexpBool(numSyms: Int, k: Int): Int = {
    var i = 0
    var mk = 0
    while (true) {
      val b2 = if (i > 0) k + i - 1 else k
      val a = 1 << b2
      if (numSyms <= mk + 3 * a) {
        return msac.ns(numSyms - mk) + mk
      } else {
        if (msac.literal(1) == 1) { i += 1; mk += a }
        else return msac.literal(b2) + mk
      }
    }
    0
  }

  // spec 4.9 inverse_recenter: EVEN offsets recenter upward, odd
  // downward (the r17 sgr drill pinned the parity: swapping it decodes
  // the same bit count but mirrored values)
  private def inverseRecenter(r: Int, v: Int): Int =
    if (v > 2 * r) v
    else if ((v & 1) != 0) r - ((v + 1) >> 1)
    else r + (v >> 1)

  // ---------------- partition tree ----------------
  private def decodePartition(r: Int, c: Int, bSize: Int): Unit = {
    if (r >= miRowEnd || c >= miColEnd) return
    val bw4 = BlockW4(bSize)
    val bh4 = BlockH4(bSize)
    val half = bw4 >> 1
    val hasRows = r + (bh4 >> 1) < miRowEnd
    val hasCols = c + (bw4 >> 1) < miColEnd
    val sq = bSize // always square here
    val rank = sq match {
      case BLOCK_8X8 => 0
      case BLOCK_16X16 => 1
      case BLOCK_32X32 => 2
      case BLOCK_64X64 => 3
      case BLOCK_128X128 => 4
      case _ => -1
    }
    var partition = PARTITION_NONE
    if (bSize < BLOCK_8X8) partition = PARTITION_NONE
    else if (hasRows && hasCols) {
      val bsl = Integer.numberOfTrailingZeros(bw4) // 1..5
      val above = if (availU(r, c)) (abovePartition(c) >> bsl) & 1 else 0
      val left = if (availL(r, c)) (leftPartition(r) >> bsl) & 1 else 0
      val ctx = left * 2 + above
      val row = cdf.partition(rank * 4 + ctx)
      val nSyms = row.length
      partition = msac.symbol(row, nSyms)
    } else if (hasCols) {
      // split_or_horz: bool with gathered "vert alike" probability
      val psplit = gatherVertAlike(rank, r, c, bSize)
      partition = if (msac.boolProb(psplit)) PARTITION_SPLIT
      else PARTITION_HORZ
    } else if (hasRows) {
      val psplit = gatherHorzAlike(rank, r, c, bSize)
      partition = if (msac.boolProb(psplit)) PARTITION_SPLIT
      else PARTITION_VERT
    } else partition = PARTITION_SPLIT

    val subSize = partitionSubsize(partition, bSize)
    lazy val splitSize = partitionSubsize(PARTITION_SPLIT, bSize)
    partition match {
      case PARTITION_NONE =>
        decodeBlock(r, c, subSize)
      case PARTITION_HORZ =>
        decodeBlock(r, c, subSize)
        if (r + (bh4 >> 1) < miRowEnd) decodeBlock(r + (bh4 >> 1), c, subSize)
      case PARTITION_VERT =>
        decodeBlock(r, c, subSize)
        if (c + (bw4 >> 1) < miColEnd) decodeBlock(r, c + (bw4 >> 1), subSize)
      case PARTITION_SPLIT =>
        decodePartition(r, c, subSize)
        decodePartition(r, c + (bw4 >> 1), subSize)
        decodePartition(r + (bh4 >> 1), c, subSize)
        decodePartition(r + (bh4 >> 1), c + (bw4 >> 1), subSize)
      case PARTITION_HORZ_A =>
        decodeBlock(r, c, splitSize)
        decodeBlock(r, c + half, splitSize)
        decodeBlock(r + (bh4 >> 1), c, partitionSubsize(PARTITION_HORZ, bSize))
      case PARTITION_HORZ_B =>
        decodeBlock(r, c, partitionSubsize(PARTITION_HORZ, bSize))
        decodeBlock(r + (bh4 >> 1), c, splitSize)
        decodeBlock(r + (bh4 >> 1), c + half, splitSize)
      case PARTITION_VERT_A =>
        decodeBlock(r, c, splitSize)
        decodeBlock(r + (bh4 >> 1), c, splitSize)
        decodeBlock(r, c + (bw4 >> 1), partitionSubsize(PARTITION_VERT, bSize))
      case PARTITION_VERT_B =>
        decodeBlock(r, c, partitionSubsize(PARTITION_VERT, bSize))
        decodeBlock(r, c + (bw4 >> 1), splitSize)
        decodeBlock(r + (bh4 >> 1), c + (bw4 >> 1), splitSize)
      case PARTITION_HORZ_4 =>
        val qh = BlockH4(bSize) >> 2
        var k = 0
        while (k < 4) {
          val rr = r + k * qh
          if (rr < miRowEnd) decodeBlock(rr, c, subSize)
          k += 1
        }
      case PARTITION_VERT_4 =>
        val qw = BlockW4(bSize) >> 2
        var k = 0
        while (k < 4) {
          val cc = c + k * qw
          if (cc < miColEnd) decodeBlock(r, cc, subSize)
          k += 1
        }
    }
  }

  @inline private def availU(r: Int, c: Int): Boolean = r > miRowStart
  @inline private def availL(r: Int, c: Int): Boolean = c > miColStart

  /** probability mass of partitions with a full vertical middle edge */
  private def gatherVertAlike(rank: Int, r: Int, c: Int,
      bSize: Int): Int = {
    val bsl = Integer.numberOfTrailingZeros(BlockW4(bSize))
    val above = if (availU(r, c)) (abovePartition(c) >> bsl) & 1 else 0
    val left = if (availL(r, c)) (leftPartition(r) >> bsl) & 1 else 0
    val row = cdf.partition(rank * 4 + left * 2 + above)
    val n = row.length
    @inline def prob(sym: Int): Int = {
      val hi = if (sym == 0) 32768 else row(sym - 1)
      val lo = if (sym == n - 1) 0 else row(sym)
      hi - lo
    }
    var p = prob(PARTITION_VERT) + prob(PARTITION_SPLIT)
    if (n > 4) {
      p += prob(PARTITION_HORZ_A) + prob(PARTITION_VERT_A) +
        prob(PARTITION_VERT_B)
      if (n == 10) p += prob(PARTITION_VERT_4)
    }
    math.min(32767, p)
  }

  private def gatherHorzAlike(rank: Int, r: Int, c: Int,
      bSize: Int): Int = {
    val bsl = Integer.numberOfTrailingZeros(BlockW4(bSize))
    val above = if (availU(r, c)) (abovePartition(c) >> bsl) & 1 else 0
    val left = if (availL(r, c)) (leftPartition(r) >> bsl) & 1 else 0
    val row = cdf.partition(rank * 4 + left * 2 + above)
    val n = row.length
    @inline def prob(sym: Int): Int = {
      val hi = if (sym == 0) 32768 else row(sym - 1)
      val lo = if (sym == n - 1) 0 else row(sym)
      hi - lo
    }
    var p = prob(PARTITION_HORZ) + prob(PARTITION_SPLIT)
    if (n > 4) {
      p += prob(PARTITION_HORZ_A) + prob(PARTITION_HORZ_B) +
        prob(PARTITION_VERT_A)
      if (n == 10) p += prob(PARTITION_HORZ_4)
    }
    math.min(32767, p)
  }

  // ---------------- block decode ----------------
  private def decodeBlock(r: Int, c: Int, bSize: Int): Unit = {
    val bw4 = math.min(BlockW4(bSize), miColEnd - c)
    val bh4 = math.min(BlockH4(bSize), miRowEnd - r)
    val fullW4 = BlockW4(bSize)
    val fullH4 = BlockH4(bSize)
    val hasChroma = numPlanes > 1 &&
      (fullH4 > 1 || subY == 0 || (r & 1) == 1) &&
      (fullW4 > 1 || subX == 0 || (c & 1) == 1)

    // --- skip ---
    val skipCtx = (if (availU(r, c) && skips((r - 1) * miCols + c)) 1 else 0) +
      (if (availL(r, c) && skips(r * miCols + c - 1)) 1 else 0)
    val skip = msac.bool(cdf.skip(skipCtx))

    // --- cdef index (spec 5.11.56; per 64x64 unit). cdef_bits == 0
    // still MARKS the unit (index 0, zero bits read) — leaving it -1
    // would skip cdef for the whole unit
    if (!skip && !fh.codedLossless && seq.enableCdef && !fh.allowIntrabc) {
      val mask = ~15
      val r1 = r & mask
      val c1 = c & mask
      if (cdefIdx(((r1 >> 4) * cdefStride) + (c1 >> 4)) == -1) {
        val v = if (fh.cdefBits > 0) msac.literal(fh.cdefBits) else 0
        var i = 0
        while (i < math.max(1, BlockH4(bSize) >> 4)) {
          var j = 0
          while (j < math.max(1, BlockW4(bSize) >> 4)) {
            val rr3 = (r1 >> 4) + i
            val cc3 = (c1 >> 4) + j
            if (rr3 < cdefRows && cc3 < cdefStride)
              cdefIdx(rr3 * cdefStride + cc3) = v
            j += 1
          }
          i += 1
        }
      }
    }

    // --- deltas ---
    if (readDeltas) {
      readDeltaQIndex(bSize, skip)
      readDeltaLf(bSize, skip)
      readDeltas = false
    }

    // --- y mode ---
    val aboveMode =
      if (availU(r, c)) IntraModeContext(yModes((r - 1) * miCols + c)) else 0
    val leftMode =
      if (availL(r, c)) IntraModeContext(yModes(r * miCols + c - 1)) else 0
    val yMode = msac.symbol(cdf.kfYMode(aboveMode * 5 + leftMode), 13)
    var angleDeltaY = 0
    if (bSize >= BLOCK_8X8 && isDirectionalMode(yMode))
      angleDeltaY = msac.symbol(cdf.angleDelta(yMode - V_PRED), 7) - 3

    // --- uv mode ---
    var uvMode = DC_PRED
    var angleDeltaUV = 0
    var cflAlphaU = 0
    var cflAlphaV = 0
    if (hasChroma) {
      // spec is_cfl_allowed: lossless restricts CfL to 4x4 chroma
      // blocks; otherwise luma dims <= 32.
      val cflAllowed =
        if (fh.losslessSeg(0))
          math.max(1, BlockW4(bSize) >> subX) == 1 &&
            math.max(1, BlockH4(bSize) >> subY) == 1
        else BlockW4(bSize) * 4 <= 32 && BlockH4(bSize) * 4 <= 32
      uvMode =
        if (cflAllowed) msac.symbol(cdf.uvModeCfl(yMode), 14)
        else msac.symbol(cdf.uvModeNoCfl(yMode), 13)
      if (uvMode == UV_CFL_PRED) {
        val signs = msac.symbol(cdf.cflSign(0), 8)
        val signU = (signs + 1) / 3
        val signV = (signs + 1) % 3
        if (signU != 0) {
          val ctx = signs - 2
          val v = msac.symbol(cdf.cflAlpha(ctx), 16) + 1
          cflAlphaU = if (signU == 1) -v else v
        }
        if (signV != 0) {
          val ctx = (signV - 1) * 3 + signU
          val v = msac.symbol(cdf.cflAlpha(ctx), 16) + 1
          cflAlphaV = if (signV == 1) -v else v
        }
      } else if (isDirectionalMode(uvMode) && bSize >= BLOCK_8X8) {
        angleDeltaUV = msac.symbol(cdf.angleDelta(uvMode - V_PRED), 7) - 3
      }
    }

    // --- palette mode info (spec 5.11.46) ---
    var palSizeY = 0
    var palSizeUV = 0
    var palY: Array[Int] = null
    var palU: Array[Int] = null
    var palV: Array[Int] = null
    if (fh.allowScreenContentTools && bSize >= BLOCK_8X8 &&
      BlockW4(bSize) * 4 <= 64 && BlockH4(bSize) * 4 <= 64) {
      val bsizeCtx = Integer.numberOfTrailingZeros(BlockW4(bSize)) +
        Integer.numberOfTrailingZeros(BlockH4(bSize)) - 2
      if (yMode == DC_PRED) {
        val ctx =
          (if (availU(r, c) && paletteSizeY((r - 1) * miCols + c) > 0) 1 else 0) +
            (if (availL(r, c) && paletteSizeY(r * miCols + c - 1) > 0) 1 else 0)
        if (msac.bool(cdf.hasPaletteY(bsizeCtx * 3 + ctx))) {
          palSizeY = msac.symbol(cdf.paletteYSize(bsizeCtx), 7) + 2
          val cache = Av1Palette.paletteCache(this, 0, r, c)
          palY = Av1Palette.readPalette(this, cache, palSizeY, 1)
        }
      }
      if (hasChroma && uvMode == DC_PRED) {
        val ctx = if (palSizeY > 0) 1 else 0
        if (msac.bool(cdf.hasPaletteUV(ctx))) {
          palSizeUV = msac.symbol(cdf.paletteUVSize(bsizeCtx), 7) + 2
          val cacheU = Av1Palette.paletteCache(this, 1, r, c)
          palU = Av1Palette.readPalette(this, cacheU, palSizeUV, 0)
          palV = Av1Palette.readPaletteV(this, palSizeUV)
        }
      }
    }

    // --- filter intra ---
    var useFilterIntra = false
    var filterIntraMode = 0
    if (seq.enableFilterIntra && yMode == DC_PRED && palSizeY == 0 &&
      BlockW4(bSize) * 4 <= 32 && BlockH4(bSize) * 4 <= 32) {
      useFilterIntra = msac.bool(cdf.useFilterIntra(bSize))
      if (useFilterIntra)
        filterIntraMode = msac.symbol(cdf.filterIntraMode, 5)
    }

    // --- palette tokens (index maps; spec 5.11.49) ---
    palettePred = Array(null, null, null)
    palettePredX = c * 4
    palettePredY = r * 4
    if (palSizeY > 0) {
      val wOn = bw4 * 4
      val hOn = bh4 * 4
      val rows = cdf.paletteYColor
      val slice = Array.tabulate(5)(k => rows((palSizeY - 2) * 5 + k))
      val map = Av1Palette.readIndexMap(this, wOn, hOn, palSizeY, slice)
      val fullW = BlockW4(bSize) * 4
      val fullH = BlockH4(bSize) * 4
      val pp = new Array[Int](fullW * fullH)
      var yy = 0
      while (yy < fullH) {
        var xx = 0
        while (xx < fullW) {
          val my = math.min(yy, hOn - 1)
          val mx = math.min(xx, wOn - 1)
          pp(yy * fullW + xx) = palY(map(my * wOn + mx))
          xx += 1
        }
        yy += 1
      }
      palettePred(0) = pp
      palettePredW = fullW
    }
    if (palSizeUV > 0) {
      val cW4 = math.max(1, BlockW4(bSize) >> subX)
      val cH4 = math.max(1, BlockH4(bSize) >> subY)
      val cwOn = math.min(cW4 * 4, miW(1) - (((c >> subX) << subX) >> subX) * 4)
      val chOn = math.min(cH4 * 4, miH(1) - (((r >> subY) << subY) >> subY) * 4)
      val rows = cdf.paletteUVColor
      val slice = Array.tabulate(5)(k => rows((palSizeUV - 2) * 5 + k))
      val map = Av1Palette.readIndexMap(this, cwOn, chOn, palSizeUV, slice)
      val fullW = cW4 * 4
      val fullH = cH4 * 4
      val ppU = new Array[Int](fullW * fullH)
      val ppV = new Array[Int](fullW * fullH)
      var yy = 0
      while (yy < fullH) {
        var xx = 0
        while (xx < fullW) {
          val my = math.min(yy, chOn - 1)
          val mx = math.min(xx, cwOn - 1)
          val idx = map(my * cwOn + mx)
          ppU(yy * fullW + xx) = palU(idx)
          ppV(yy * fullW + xx) = palV(idx)
          xx += 1
        }
        yy += 1
      }
      palettePred(1) = ppU
      palettePred(2) = ppV
      palettePredWc = fullW
    }

    // --- tx size ---
    val lossless = fh.losslessSeg(0)
    var txSz = MaxTxSizeRect(bSize)
    if (lossless) txSz = TX_4X4
    else if (fh.txModeSelect && bSize > BLOCK_4X4 && !skip) {
      val cat = txSizeCat(bSize)
      val maxDepth = maxTxDepth(bSize)
      if (maxDepth > 0 && cat >= 0) {
        val maxRect = MaxTxSizeRect(bSize)
        val maxTxWide = TxW(maxRect)
        val maxTxHigh = TxH(maxRect)
        val aboveW =
          if (availU(r, c)) TxW(txSzY((r - 1) * miCols + c)) else 0
        val leftH =
          if (availL(r, c)) TxH(txSzY(r * miCols + c - 1)) else 0
        val ctx = (if (aboveW >= maxTxWide) 1 else 0) +
          (if (leftH >= maxTxHigh) 1 else 0)
        val depth =
          if (cat == 0) msac.symbol(cdf.txDepthCat0(ctx), 2)
          else msac.symbol(cdf.txDepth((cat - 1) * 3 + ctx), 3)
        var d = 0
        while (d < depth) { txSz = SplitTxSize(txSz); d += 1 }
      }
    } else if (!fh.txModeSelect) {
      txSz = MaxTxSizeRect(bSize) // TX_MODE_LARGEST
    }

    // --- store mode info ---
    // CLAMP at the mi grid: a block may legally extend past MiCols /
    // MiRows (spec stores only in-grid units). Unclamped, rr*miCols+cc
    // with cc >= miCols WRAPS into the next row's entries and corrupts
    // neighbor mode/skip/tx metadata — the r17 speed-4 quadrant-boundary
    // desync class (f0023 et al).
    val rEnd = math.min(r + bh4, miRows)
    val cEnd = math.min(c + bw4, miCols)
    var rr = r
    while (rr < rEnd) {
      var cc = c
      while (cc < cEnd) {
        val idx = rr * miCols + cc
        yModes(idx) = yMode.toByte
        uvModes(idx) = uvMode.toByte
        skips(idx) = skip
        txSzY(idx) = txSz.toByte
        blockOriginR(idx) = r
        blockOriginC(idx) = c
        paletteSizeY(idx) = palSizeY
        paletteSizeUV(idx) = palSizeUV
        paletteColorsY(idx) = palY
        paletteColorsUV(idx) = palU
        cc += 1
      }
      rr += 1
    }
    // partition context masks (bits above the block's log2 size)
    val wMask = (0xff << (Integer.numberOfTrailingZeros(fullW4) + 1)) & 0xff
    val hMask = (0xff << (Integer.numberOfTrailingZeros(fullH4) + 1)) & 0xff
    var cc = c
    while (cc < cEnd) { abovePartition(cc) = wMask; cc += 1 }
    rr = r
    while (rr < rEnd) { leftPartition(rr) = hMask; rr += 1 }

    // --- residual + prediction per plane ---
    residual(r, c, bSize, bw4, bh4, yMode, angleDeltaY, uvMode,
      angleDeltaUV, cflAlphaU, cflAlphaV, skip, txSz, hasChroma, lossless,
      if (useFilterIntra) filterIntraMode else -1, palSizeY > 0,
      palSizeUV > 0)
  }

  private def readDeltaQIndex(bSize: Int, skip: Boolean): Unit = {
    val sbBlock = if (seq.use128x128Superblock) BLOCK_128X128 else BLOCK_64X64
    if (bSize == sbBlock && skip) return
    var abs = msac.symbol(cdf.deltaQ, 4)
    if (abs == 3) {
      val remBits = msac.literal(3) + 1
      abs = msac.literal(remBits) + (1 << remBits) + 1
    }
    if (abs > 0) {
      val neg = msac.literal(1) == 1
      val reduced = if (neg) -abs else abs
      currentQIndex = math.max(1, math.min(255,
        currentQIndex + (reduced << fh.deltaQRes)))
    }
  }

  private def readDeltaLf(bSize: Int, skip: Boolean): Unit = {
    if (!fh.deltaLfPresent) return
    val sbBlock = if (seq.use128x128Superblock) BLOCK_128X128 else BLOCK_64X64
    if (bSize == sbBlock && skip) return
    val n = if (fh.deltaLfMulti) (if (numPlanes > 1) 4 else 2) else 1
    var i = 0
    while (i < n) {
      var abs = msac.symbol(cdf.deltaLf(i), 4)
      if (abs == 3) {
        val remBits = msac.literal(3) + 1
        abs = msac.literal(remBits) + (1 << remBits) + 1
      }
      if (abs > 0) msac.literal(1)
      // delta LF values only affect loop filtering; per-block LF
      // deltas are folded in by the loop filter via stored levels —
      // not yet wired (aom stills do not emit delta_lf).
      i += 1
    }
  }

  // ---------------- residual ----------------
  private def residual(r: Int, c: Int, bSize: Int, bw4: Int, bh4: Int,
      yMode: Int, angleDeltaY: Int, uvMode: Int, angleDeltaUV: Int,
      cflAlphaU: Int, cflAlphaV: Int, skip: Boolean, txSz: Int,
      hasChroma: Boolean, lossless: Boolean, fiMode: Int,
      palY: Boolean, palUV: Boolean): Unit = {
    // luma
    val wPx = bw4 * 4
    val hPx = bh4 * 4
    val tw = TxW(txSz)
    val th = TxH(txSz)
    val baseX = c * 4
    val baseY = r * 4
    var y = 0
    while (y < hPx) {
      var x = 0
      while (x < wPx) {
        predictAndReconstruct(0, baseX + x, baseY + y, txSz, yMode,
          angleDeltaY, skip, lossless, bSize, 0, 0, r, c, fiMode, palY)
        x += tw
      }
      y += th
    }
    // chroma
    if (hasChroma) {
      val crBase = (r >> subY) << subY // luma-mi row of the chroma block
      val ccBase = (c >> subX) << subX
      val cW4 = math.max(1, BlockW4(bSize) >> subX)
      val cH4 = math.max(1, BlockH4(bSize) >> subY)
      val uvTx = if (lossless) TX_4X4 else chromaTxSize(bSize)
      val ctw = TxW(uvTx)
      val cth = TxH(uvTx)
      val cx0 = (ccBase >> subX) * 4
      val cy0 = (crBase >> subY) * 4
      val cwPx = math.min(cW4 * 4, miW(1) - cx0)
      val chPx = math.min(cH4 * 4, miH(1) - cy0)
      var pl = 1
      while (pl < numPlanes) {
        val alpha = if (pl == 1) cflAlphaU else cflAlphaV
        var yy = 0
        while (yy < chPx) {
          var xx = 0
          while (xx < cwPx) {
            predictAndReconstruct(pl, cx0 + xx, cy0 + yy, uvTx, uvMode,
              angleDeltaUV, skip, lossless, bSize, alpha,
              if (uvMode == UV_CFL_PRED) 1 else 0, r, c, -1, palUV)
            xx += ctw
          }
          yy += cth
        }
        pl += 1
      }
      // mark chroma tx sizes for the loop filter
      var rr2 = crBase
      while (rr2 < math.min(crBase + (cH4 << subY), miRows)) {
        var cc2 = ccBase
        while (cc2 < math.min(ccBase + (cW4 << subX), miCols)) {
          txSzUV(rr2 * miCols + cc2) = uvTx.toByte
          cc2 += 1
        }
        rr2 += 1
      }
    }
  }

  private def chromaTxSize(bSize: Int): Int = {
    val w4 = math.max(1, BlockW4(bSize) >> subX)
    val h4 = math.max(1, BlockH4(bSize) >> subY)
    // find block enum with these dims
    var b = 0
    var found = -1
    while (b < BlockW4.length) {
      if (BlockW4(b) == w4 && BlockH4(b) == h4) found = b
      b += 1
    }
    if (found < 0) throw Malformed
    var tx = MaxTxSizeRect(found)
    // chroma caps at 32x32
    while (TxW(tx) > 32 || TxH(tx) > 32) {
      tx = tx match {
        case TX_64X64 => TX_32X32
        case 11 => TX_32X32 // 32x64
        case 12 => TX_32X32 // 64x32
        case 17 => 9 // 16x64 -> 16x32
        case 18 => 10 // 64x16 -> 32x16
        case _ => TX_32X32
      }
    }
    tx
  }

  // placeholder bodies — filled in Av1Residual.scala via trait mixin is
  // avoided; implemented below.
  def predictAndReconstruct(plane: Int, x: Int, y: Int, txSz: Int,
      mode: Int, angleDelta: Int, skip: Boolean, lossless: Boolean,
      bSize: Int, cflAlpha: Int, isCfl: Int, miR: Int, miC: Int,
      fiMode: Int, pal: Boolean): Unit =
    Av1Residual.predictAndReconstruct(this, plane, x, y, txSz, mode,
      angleDelta, skip, lossless, bSize, cflAlpha, isCfl, miR, miC,
      fiMode, pal)

  // quantizer accessors for the residual module
  def dcQuant(plane: Int): Int = {
    val q = currentQIndex
    val d = plane match {
      case 0 => fh.deltaQYDc
      case 1 => fh.deltaQUDc
      case _ => fh.deltaQVDc
    }
    dcQ(q + d)
  }
  def acQuant(plane: Int): Int = {
    val q = currentQIndex
    val d = plane match {
      case 0 => 0
      case 1 => fh.deltaQUAc
      case _ => fh.deltaQVAc
    }
    acQ(q + d)
  }
}
