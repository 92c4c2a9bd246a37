package graft.operators.hevc

import HevcBits.{Malformed, Unsupported}
import HevcCabac._
import HevcHeaders.{Pps, SliceHeader, Sps}

/** HEVC intra still-picture decoder (ITU-T H.265) — the HEIC payload
  * shape: one IDR I-slice, 4:2:0 or monochrome, 8-bit, no tiles, WPP
  * substreams supported (libheif/x265 enables WPP whenever the frame
  * has more than one CTB row). Covers the full Main-still-picture
  * intra toolset x265 emits: CTB 16/32/64, NxN partitions, MDCS scans,
  * sign-data-hiding, cu_qp_delta, deblocking and SAO.
  *
  * Rejected loudly (each a named [[HevcBits.Unsupported]], none of
  * which libheif's encoder produces — see NOTES_r18 feature-envelope
  * probe): tiles, dependent slices, PCM, transform skip, transquant
  * bypass, scaling lists, >8-bit, 4:2:2/4:4:4, inter slices.
  *
  * All CABAC tables are binary-extracted with provenance
  * (scripts/hevc_tables.py); pixel-exactness is pinned by HevcSpec's
  * differential sweep against libde265 via scripts/hevc_reference.py.
  */
object HevcDecoder {

  final case class Planes(width: Int, height: Int, bitDepth: Int,
      subX: Int, subY: Int, monochrome: Boolean,
      planes: Array[Array[Int]])

  /** Decode an annex-B elementary stream (first coded picture). */
  def decode(annexB: Array[Byte]): Option[Planes] =
    try Some(decodeOrThrow(annexB))
    catch {
      case Malformed => None
      case _: Unsupported => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }

  def decodeOrThrow(annexB: Array[Byte]): Planes = {
    var sps: Sps = null
    var pps: Pps = null
    var result: Planes = null
    val nals = HevcBits.annexBNals(annexB)
    var i = 0
    while (i < nals.length && result == null) {
      val nal = nals(i)
      if (nal.length >= 2) {
        val nalType = (nal(0) >> 1) & 0x3f
        nalType match {
          case 33 => sps = HevcHeaders.parseSps(HevcBits.rbsp(nal, 2))
          case 34 => pps = HevcHeaders.parsePps(HevcBits.rbsp(nal, 2))
          case t if t <= 21 => // VCL
            if (sps == null || pps == null) throw Malformed
            result = new SliceDecoder(sps, pps,
              HevcBits.rbsp(nal, 2), nalType).decode()
          case _ => // VPS / SEI / others: ignored
        }
      }
      i += 1
    }
    if (result == null) throw Malformed
    result
  }

  // scan order tables, built once: (scanIdx, log2BlockSize 2..3 used for
  // CG-grid and in-CG scans) -> array of (pos -> x | y<<4)
  private[hevc] val Scans: Array[Array[Array[Int]]] = {
    def diag(n: Int): Array[Int] = {
      val out = new Array[Int](n * n)
      var i = 0
      var x = 0
      var y = 0
      var loop = true
      while (loop) {
        while (y >= 0) {
          if (x < n && y < n) { out(i) = x | (y << 4); i += 1 }
          y -= 1
          x += 1
        }
        y = x
        x = 0
        if (i >= n * n) loop = false
      }
      out
    }
    def hor(n: Int): Array[Int] = {
      val out = new Array[Int](n * n)
      var i = 0
      var y = 0
      while (y < n) {
        var x = 0
        while (x < n) { out(i) = x | (y << 4); i += 1; x += 1 }
        y += 1
      }
      out
    }
    def ver(n: Int): Array[Int] = {
      val out = new Array[Int](n * n)
      var i = 0
      var x = 0
      while (x < n) {
        var y = 0
        while (y < n) { out(i) = x | (y << 4); i += 1; y += 1 }
        x += 1
      }
      out
    }
    // index: [scanIdx][log2n] for log2n in 0..3 (CG grids up to 8x8)
    Array.tabulate(3, 4) { (s, l) =>
      val n = 1 << l
      s match { case 0 => diag(n); case 1 => hor(n); case 2 => ver(n) }
    }
  }

  private final class SliceDecoder(sps: Sps, pps: Pps,
      rbsp: Array[Byte], nalType: Int) {

    private val rdr = new HevcBits.Reader(rbsp)
    private val sh: SliceHeader =
      HevcHeaders.parseSliceHeader(rdr, nalType, sps, pps)

    private val log2Ctb = sps.log2CtbSize
    private val wCtbs = sps.picWidthInCtbs
    private val hCtbs = sps.picHeightInCtbs
    private val alignW = wCtbs << log2Ctb
    private val alignH = hCtbs << log2Ctb
    private val picW = sps.picWidth
    private val picH = sps.picHeight
    private val mono = sps.chromaFormatIdc == 0
    private val cW = alignW >> 1
    private val cH = alignH >> 1
    private val bd = sps.bitDepth
    private val maxVal = (1 << bd) - 1

    // planes (CTB-aligned)
    private val luma = new Array[Int](alignW * alignH)
    private val cb = if (mono) null else new Array[Int](cW * cH)
    private val cr = if (mono) null else new Array[Int](cW * cH)

    // per-4x4-luma grids
    private val gW = alignW >> 2
    private val gH = alignH >> 2
    private val decoded = new Array[Boolean](gW * gH)
    private val intraMode = Array.fill(gW * gH)(-1)
    private val ctDepth = new Array[Byte](gW * gH)
    private val qpGrid = new Array[Byte](gW * gH)
    // deblock edge flags on the 8x8 luma grid, per 4-sample segment:
    // edgeVer(x/8)(y/4) marks a vertical TU edge at column x covering
    // rows [y, y+4); edgeHor transposed.
    private val edgeVer = new Array[Boolean]((alignW / 8 + 1) * (gH + 1))
    private val edgeHor = new Array[Boolean]((alignH / 8 + 1) * (gW + 1))

    // SAO parameters per CTB per component:
    // type (0 off / 1 band / 2 edge), 4 offsets, bandPos or eoClass
    private val saoType = Array.ofDim[Byte](wCtbs * hCtbs, 3)
    private val saoOff = Array.ofDim[Int](wCtbs * hCtbs, 3, 4)
    private val saoPos = Array.ofDim[Byte](wCtbs * hCtbs, 3)

    private val cabac = new HevcCabac(rbsp)
    private val wppSave = new Array[Int](NumCtx)

    // QP state
    private var qpPrev = sh.sliceQp
    private var lastCuQp = sh.sliceQp
    private var isCuQpDeltaCoded = false
    private var cuQpDeltaVal = 0
    private var qgX = 0
    private var qgY = 0
    private val log2QgSize = log2Ctb - pps.diffCuQpDeltaDepth

    // current CU state
    private var cuQp = sh.sliceQp
    private var cuQpComputed = false
    private var cuPredPrepared = 0 // qPY_PRED cache per CU
    private var intraSplit = false
    private var cuModes = new Array[Int](4)

    def decode(): Planes = {
      val sliceDataStart = sh.dataBitPos >> 3
      cabac.initContexts(sh.sliceQp)
      cabac.initAt(sliceDataStart)
      // substream entry offsets (WPP): RBSP-relative byte starts
      val entryStarts = {
        val n = sh.entryPoints.length
        val arr = new Array[Int](n + 1)
        arr(0) = sliceDataStart
        var k = 0
        var acc = sliceDataStart
        while (k < n) { acc += sh.entryPoints(k); arr(k + 1) = acc; k += 1 }
        arr
      }
      var ctbY = 0
      var ended = false
      while (ctbY < hCtbs) {
        if (pps.entropyCodingSync && ctbY > 0) {
          if (ctbY >= entryStarts.length) throw Malformed
          cabac.initAt(entryStarts(ctbY))
          cabac.restoreStates(wppSave)
          // qPY_PREV resets to SliceQpY at each WPP row (8.6.1); the
          // QG hook reads lastCuQp, so reset that too
          qpPrev = sh.sliceQp
          lastCuQp = sh.sliceQp
        }
        var ctbX = 0
        while (ctbX < wCtbs) {
          decodeCtu(ctbX, ctbY)
          if (pps.entropyCodingSync && ctbX == math.min(1, wCtbs - 1))
            cabac.saveStates(wppSave)
          val end = cabac.decodeTerminate()
          if (end == 1) {
            if (ctbY != hCtbs - 1 || ctbX != wCtbs - 1) throw Malformed
            ended = true
          }
          ctbX += 1
        }
        ctbY += 1
      }
      if (!ended) throw Malformed

      // in-loop filters
      if (!pps.deblockingDisabled)
        HevcPostFilter.deblock(luma, cb, cr, alignW, alignH, picW, picH,
          mono, qpGrid, gW, edgeVer, edgeHor, pps, bd)
      if (sps.saoEnabled && (sh.saoLuma || sh.saoChroma))
        HevcPostFilter.sao(luma, cb, cr, alignW, alignH, picW, picH,
          mono, log2Ctb, wCtbs, hCtbs, saoType, saoOff, saoPos, bd,
          sh.saoLuma, sh.saoChroma)

      // conformance-window crop (the spec output; SubWidthC=2 for 4:2:0)
      val sw = if (mono) 1 else 2
      val shh = if (mono) 1 else 2
      val outW = picW - sw * (sps.confWinLeft + sps.confWinRight)
      val outH = picH - shh * (sps.confWinTop + sps.confWinBottom)
      val ox = sw * sps.confWinLeft
      val oy = shh * sps.confWinTop
      if (outW <= 0 || outH <= 0) throw Malformed
      val yOut = new Array[Int](outW * outH)
      var r = 0
      while (r < outH) {
        var c = 0
        while (c < outW) {
          yOut(r * outW + c) = luma((oy + r) * alignW + (ox + c))
          c += 1
        }
        r += 1
      }
      val planes =
        if (mono) Array(yOut)
        else {
          val ccw = outW >> 1
          val cch = outH >> 1
          val cbOut = new Array[Int](ccw * cch)
          val crOut = new Array[Int](ccw * cch)
          var r2 = 0
          while (r2 < cch) {
            var c2 = 0
            while (c2 < ccw) {
              cbOut(r2 * ccw + c2) =
                cb(((oy >> 1) + r2) * cW + ((ox >> 1) + c2))
              crOut(r2 * ccw + c2) =
                cr(((oy >> 1) + r2) * cW + ((ox >> 1) + c2))
              c2 += 1
            }
            r2 += 1
          }
          Array(yOut, cbOut, crOut)
        }
      Planes(outW, outH, bd, if (mono) 0 else 1, if (mono) 0 else 1,
        mono, planes)
    }

    // ------------------------------------------------------------ CTU
    private def decodeCtu(ctbX: Int, ctbY: Int): Unit = {
      if (sps.saoEnabled && (sh.saoLuma || sh.saoChroma))
        decodeSaoSyntax(ctbX, ctbY)
      codingQuadtree(ctbX << log2Ctb, ctbY << log2Ctb, log2Ctb, 0)
    }

    private def decodeSaoSyntax(ctbX: Int, ctbY: Int): Unit = {
      val idx = ctbY * wCtbs + ctbX
      var merged = false
      if (ctbX > 0 && cabac.decodeBin(SaoMerge) == 1) {
        copySao(idx, idx - 1)
        merged = true
      } else if (ctbY > 0 && cabac.decodeBin(SaoMerge) == 1) {
        copySao(idx, idx - wCtbs)
        merged = true
      }
      if (!merged) {
        val nComp = if (mono) 1 else 3
        var c = 0
        while (c < nComp) {
          val enabled = if (c == 0) sh.saoLuma else sh.saoChroma
          if (enabled) {
            val typ =
              if (c == 2) saoType(idx)(1)
              else {
                if (cabac.decodeBin(SaoTypeIdx) == 0) 0
                else if (cabac.decodeBypass() == 0) 1
                else 2
              }.toByte
            saoType(idx)(c) = typ
            if (typ != 0) {
              val absMax = (1 << (math.min(bd, 10) - 5)) - 1
              val abs = new Array[Int](4)
              var k = 0
              while (k < 4) {
                var v = 0
                while (v < absMax && cabac.decodeBypass() == 1) v += 1
                abs(k) = v
                k += 1
              }
              if (typ == 1) {
                // band: signs for nonzero offsets, then band position
                var k2 = 0
                while (k2 < 4) {
                  saoOff(idx)(c)(k2) =
                    if (abs(k2) != 0 && cabac.decodeBypass() == 1) -abs(k2)
                    else abs(k2)
                  k2 += 1
                }
                saoPos(idx)(c) = cabac.decodeBypassN(5).toByte
              } else {
                // edge: categories 1,2 positive; 3,4 negative
                saoOff(idx)(c)(0) = abs(0)
                saoOff(idx)(c)(1) = abs(1)
                saoOff(idx)(c)(2) = -abs(2)
                saoOff(idx)(c)(3) = -abs(3)
                if (c != 2) saoPos(idx)(c) = cabac.decodeBypassN(2).toByte
                else saoPos(idx)(2) = saoPos(idx)(1)
              }
            }
          }
          c += 1
        }
      }
    }

    private def copySao(dst: Int, src: Int): Unit = {
      var c = 0
      while (c < 3) {
        saoType(dst)(c) = saoType(src)(c)
        saoPos(dst)(c) = saoPos(src)(c)
        var k = 0
        while (k < 4) { saoOff(dst)(c)(k) = saoOff(src)(c)(k); k += 1 }
        c += 1
      }
    }

    // -------------------------------------------------- coding quadtree
    private def codingQuadtree(x0: Int, y0: Int, log2Size: Int,
        depth: Int): Unit = {
      val size = 1 << log2Size
      val inside = x0 + size <= picW && y0 + size <= picH
      var split = false
      if (inside && log2Size > sps.log2MinCb) {
        // ctx from neighbour depths
        var ctx = 0
        if (gridAvail(x0 - 1, y0) && ctDepth(gIdx(x0 - 1, y0)) > depth)
          ctx += 1
        if (gridAvail(x0, y0 - 1) && ctDepth(gIdx(x0, y0 - 1)) > depth)
          ctx += 1
        split = cabac.decodeBin(SplitCu + ctx) == 1
      } else {
        split = log2Size > sps.log2MinCb
      }
      if (pps.cuQpDeltaEnabled && log2Size >= log2QgSize) {
        isCuQpDeltaCoded = false
        cuQpDeltaVal = 0
        qgX = x0
        qgY = y0
        qpPrev = lastCuQp
      }
      if (split) {
        val half = size >> 1
        val l2 = log2Size - 1
        codingQuadtree(x0, y0, l2, depth + 1)
        if (x0 + half < picW) codingQuadtree(x0 + half, y0, l2, depth + 1)
        if (y0 + half < picH) codingQuadtree(x0, y0 + half, l2, depth + 1)
        if (x0 + half < picW && y0 + half < picH)
          codingQuadtree(x0 + half, y0 + half, l2, depth + 1)
      } else {
        codingUnit(x0, y0, log2Size, depth)
      }
    }

    private def gIdx(x: Int, y: Int): Int = (y >> 2) * gW + (x >> 2)
    private def gridAvail(x: Int, y: Int): Boolean =
      x >= 0 && y >= 0 && x < picW && y < picH && intraMode(gIdx(x, y)) >= 0
    private def sampleAvail(x: Int, y: Int): Boolean =
      x >= 0 && y >= 0 && x < picW && y < picH && decoded(gIdx(x, y))
    // chroma-plane availability maps through the co-located luma cell
    private def sampleAvailC(xC: Int, yC: Int): Boolean =
      sampleAvail(xC << 1, yC << 1)

    // --------------------------------------------------- coding unit
    private def codingUnit(x0: Int, y0: Int, log2Size: Int,
        depth: Int): Unit = {
      val size = 1 << log2Size
      // record quadtree depth for split ctx
      fillGrid(ctDepth, x0, y0, size, depth.toByte)
      // part_mode present only at min CB size; bin 1 = PART_2Nx2N
      val nxn =
        if (log2Size == sps.log2MinCb)
          cabac.decodeBin(PartMode) == 0
        else false
      intraSplit = nxn
      val nPb = if (nxn) 4 else 1
      val pbS = if (nxn) size >> 1 else size
      val prevFlags = new Array[Boolean](nPb)
      var i = 0
      while (i < nPb) {
        prevFlags(i) = cabac.decodeBin(PrevIntraLuma) == 1
        i += 1
      }
      cuModes = new Array[Int](nPb)
      i = 0
      while (i < nPb) {
        val px = x0 + (if ((i & 1) == 1) pbS else 0)
        val py = y0 + (if ((i & 2) == 2) pbS else 0)
        val cands = mpmCandidates(px, py, x0, y0)
        val mode =
          if (prevFlags(i)) {
            // mpm_idx: TR cMax 2, bypass
            var idx = 0
            if (cabac.decodeBypass() == 1) {
              idx = if (cabac.decodeBypass() == 1) 2 else 1
            }
            cands(idx)
          } else {
            var rem = cabac.decodeBypassN(5)
            val sorted = cands.sorted
            var k = 0
            while (k < 3) {
              if (rem >= sorted(k)) rem += 1
              k += 1
            }
            rem
          }
        cuModes(i) = mode
        fillGrid(intraMode, px, py, pbS, mode)
        i += 1
      }
      var chromaMode = 0
      if (!mono) {
        chromaMode =
          if (cabac.decodeBin(ChromaPredMode) == 0) cuModes(0)
          else {
            val cand = Array(0, 26, 10, 1)
            val sel = cand(cabac.decodeBypassN(2))
            if (sel == cuModes(0)) 34 else sel
          }
      }
      // QP prediction for this CU (from QG origin neighbours)
      cuQpComputed = false
      cuPredPrepared = {
        val qpA =
          if (qgX > 0 && sampleOrParsed(qgX - 1, qgY) &&
              sameCtb(qgX - 1, qgY, qgX, qgY))
            qpGrid(gIdx(qgX - 1, qgY)).toInt
          else qpPrev
        val qpB =
          if (qgY > 0 && sampleOrParsed(qgX, qgY - 1) &&
              sameCtb(qgX, qgY - 1, qgX, qgY))
            qpGrid(gIdx(qgX, qgY - 1)).toInt
          else qpPrev
        (qpA + qpB + 1) >> 1
      }

      // transform tree
      transformTree(x0, y0, x0, y0, log2Size, 0, 0, chromaMode,
        cbfCbParent = true, cbfCrParent = true)

      // finalize CU qp into the grid (deblock needs it even without
      // residual)
      ensureCuQp()
      fillGrid(qpGrid, x0, y0, size, cuQp.toByte)
      lastCuQp = cuQp
    }

    private def sameCtb(x1: Int, y1: Int, x2: Int, y2: Int): Boolean =
      (x1 >> log2Ctb) == (x2 >> log2Ctb) && (y1 >> log2Ctb) == (y2 >> log2Ctb)
    private def sampleOrParsed(x: Int, y: Int): Boolean =
      x >= 0 && y >= 0 && x < picW && y < picH && intraMode(gIdx(x, y)) >= 0

    private def ensureCuQp(): Unit = {
      if (!cuQpComputed) {
        cuQp = (cuPredPrepared + cuQpDeltaVal + 52) % 52
        cuQpComputed = true
      }
    }

    private def fillGrid(g: Array[Byte], x0: Int, y0: Int, size: Int,
        v: Byte): Unit = {
      var y = y0 >> 2
      val yEnd = (y0 + size) >> 2
      while (y < yEnd) {
        var x = x0 >> 2
        val xEnd = (x0 + size) >> 2
        while (x < xEnd) { g(y * gW + x) = v; x += 1 }
        y += 1
      }
    }
    private def fillGrid(g: Array[Int], x0: Int, y0: Int, size: Int,
        v: Int): Unit = {
      var y = y0 >> 2
      val yEnd = (y0 + size) >> 2
      while (y < yEnd) {
        var x = x0 >> 2
        val xEnd = (x0 + size) >> 2
        while (x < xEnd) { g(y * gW + x) = v; x += 1 }
        y += 1
      }
    }

    private def mpmCandidates(px: Int, py: Int, cuX: Int,
        cuY: Int): Array[Int] = {
      val candA =
        if (px > 0 && gridAvail(px - 1, py)) intraMode(gIdx(px - 1, py))
        else 1
      val candB =
        if (py > 0 && gridAvail(px, py - 1) &&
            (py - 1) >> log2Ctb == py >> log2Ctb)
          intraMode(gIdx(px, py - 1))
        else 1
      if (candA == candB) {
        if (candA < 2) Array(0, 1, 26)
        else Array(candA, 2 + ((candA + 29) % 32), 2 + ((candA - 2 + 1) % 32))
      } else {
        val third =
          if (candA != 0 && candB != 0) 0
          else if (candA + candB != 1) 1
          else 26
        Array(candA, candB, third)
      }
    }

    // ------------------------------------------------- transform tree
    private def transformTree(x0: Int, y0: Int, xBase: Int, yBase: Int,
        log2Size: Int, depth: Int, blkIdx: Int, chromaMode: Int,
        cbfCbParent: Boolean, cbfCrParent: Boolean): Unit = {
      val maxDepth = sps.maxTransformHierarchyDepthIntra +
        (if (intraSplit) 1 else 0)
      var split = false
      if (log2Size <= sps.log2MaxTb && log2Size > sps.log2MinTb &&
          depth < maxDepth && !(intraSplit && depth == 0)) {
        split = cabac.decodeBin(SplitTransform + (5 - log2Size)) == 1
      } else {
        split = log2Size > sps.log2MaxTb || (intraSplit && depth == 0)
        if (split && log2Size <= sps.log2MinTb) throw Malformed
      }
      var cbfCb = false
      var cbfCr = false
      if (!mono && log2Size > 2) {
        cbfCb =
          if (depth == 0 || cbfCbParent)
            cabac.decodeBin(CbfChroma + depth) == 1
          else false
        cbfCr =
          if (depth == 0 || cbfCrParent)
            cabac.decodeBin(CbfChroma + depth) == 1
          else false
      } else if (!mono) {
        cbfCb = cbfCbParent
        cbfCr = cbfCrParent
      }
      if (split) {
        val half = 1 << (log2Size - 1)
        transformTree(x0, y0, x0, y0, log2Size - 1, depth + 1, 0,
          chromaMode, cbfCb, cbfCr)
        transformTree(x0 + half, y0, x0, y0, log2Size - 1, depth + 1, 1,
          chromaMode, cbfCb, cbfCr)
        transformTree(x0, y0 + half, x0, y0, log2Size - 1, depth + 1, 2,
          chromaMode, cbfCb, cbfCr)
        transformTree(x0 + half, y0 + half, x0, y0, log2Size - 1,
          depth + 1, 3, chromaMode, cbfCb, cbfCr)
      } else {
        // leaf: cbf_luma (intra: always present)
        val cbfLuma =
          cabac.decodeBin(CbfLuma + (if (depth == 0) 1 else 0)) == 1
        transformUnit(x0, y0, xBase, yBase, log2Size, depth, blkIdx,
          chromaMode, cbfLuma, cbfCb, cbfCr)
      }
    }

    private def transformUnit(x0: Int, y0: Int, xBase: Int, yBase: Int,
        log2Size: Int, depth: Int, blkIdx: Int, chromaMode: Int,
        cbfLuma: Boolean, cbfCb: Boolean, cbfCr: Boolean): Unit = {
      val chromaHere = !mono && (log2Size > 2 || blkIdx == 3)
      // the cu_qp_delta condition sees the (inherited) chroma cbfs on
      // EVERY 4x4 leaf, not only the blkIdx==3 one (7.3.8.10's
      // cbfChroma uses xBase/cbfDepthC when log2TrafoSize==2)
      val anyCbf = cbfLuma || (!mono && (cbfCb || cbfCr))
      if (anyCbf && pps.cuQpDeltaEnabled && !isCuQpDeltaCoded) {
        // cu_qp_delta_abs: first bin ctx 0, next (up to 4) ctx 1, then
        // EG0 bypass; sign bypass
        var absVal = 0
        if (cabac.decodeBin(CuQpDeltaAbs) == 1) {
          absVal = 1
          var k = 0
          while (k < 4 && cabac.decodeBin(CuQpDeltaAbs + 1) == 1) {
            absVal += 1
            k += 1
          }
          if (absVal == 5) {
            // EG0 suffix
            var leading = 0
            while (cabac.decodeBypass() == 1) {
              leading += 1
              if (leading > 30) throw Malformed
            }
            absVal += (1 << leading) - 1 +
              (if (leading > 0) cabac.decodeBypassN(leading) else 0)
          }
        }
        if (absVal > 0) {
          val sign = cabac.decodeBypass()
          cuQpDeltaVal = if (sign == 1) -absVal else absVal
        }
        isCuQpDeltaCoded = true
      }
      // luma: predict + residual + reconstruct
      val size = 1 << log2Size
      val mode = lumaModeAt(x0, y0)
      HevcPredict.predict(luma, alignW, x0, y0, size, mode, 0, bd,
        sps.strongIntraSmoothing, sampleAvail)
      if (cbfLuma) {
        ensureCuQp()
        val res = residualCoding(x0, y0, log2Size, 0, mode)
        addResidual(luma, alignW, x0, y0, size, res)
      }
      markDecoded(x0, y0, size)
      // chroma
      if (chromaHere) {
        val cLog2 = if (log2Size > 2) log2Size - 1 else 2
        val cSize = 1 << cLog2
        val cx = (if (log2Size > 2) x0 else xBase) >> 1
        val cy = (if (log2Size > 2) y0 else yBase) >> 1
        HevcPredict.predict(cb, cW, cx, cy, cSize, chromaMode, 1, bd,
          sps.strongIntraSmoothing, sampleAvailC)
        if (cbfCb) {
          // qp must only be resolved at an actual dequant site — an
          // earlier cbf-less TU caching it would freeze the value
          // before this CU's cu_qp_delta is parsed
          ensureCuQp()
          val res = residualCoding(cx, cy, cLog2, 1, chromaMode)
          addResidual(cb, cW, cx, cy, cSize, res)
        }
        HevcPredict.predict(cr, cW, cx, cy, cSize, chromaMode, 2, bd,
          sps.strongIntraSmoothing, sampleAvailC)
        if (cbfCr) {
          ensureCuQp()
          val res = residualCoding(cx, cy, cLog2, 2, chromaMode)
          addResidual(cr, cW, cx, cy, cSize, res)
        }
      }
      // deblock edges: TU boundaries on the 8-grid
      markTuEdges(x0, y0, size)
    }

    private def lumaModeAt(x: Int, y: Int): Int = intraMode(gIdx(x, y))

    private def markDecoded(x0: Int, y0: Int, size: Int): Unit = {
      var y = y0 >> 2
      val yEnd = math.min((y0 + size) >> 2, gH)
      while (y < yEnd) {
        var x = x0 >> 2
        val xEnd = math.min((x0 + size) >> 2, gW)
        while (x < xEnd) { decoded(y * gW + x) = true; x += 1 }
        y += 1
      }
    }

    private def markTuEdges(x0: Int, y0: Int, size: Int): Unit = {
      val vw = alignW / 8 + 1
      if ((x0 & 7) == 0 && x0 > 0) {
        var y = y0 >> 2
        val yEnd = (y0 + size) >> 2
        while (y < yEnd) { edgeVer(y * vw + (x0 >> 3)) = true; y += 1 }
      }
      val hw = alignH / 8 + 1
      if ((y0 & 7) == 0 && y0 > 0) {
        var x = x0 >> 2
        val xEnd = (x0 + size) >> 2
        // edgeHor indexed [x segment][y/8]
        while (x < xEnd) { edgeHor(x * hw + (y0 >> 3)) = true; x += 1 }
      }
    }

    private def addResidual(plane: Array[Int], stride: Int, x0: Int,
        y0: Int, size: Int, res: Array[Int]): Unit = {
      var y = 0
      while (y < size) {
        var x = 0
        while (x < size) {
          val i = (y0 + y) * stride + (x0 + x)
          val v = plane(i) + res(y * size + x)
          plane(i) = math.max(0, math.min(maxVal, v))
          x += 1
        }
        y += 1
      }
    }

    // ------------------------------------------------ residual coding
    private def residualCoding(x0: Int, y0: Int, log2Size: Int,
        cIdx: Int, predMode: Int): Array[Int] = {
      val size = 1 << log2Size
      val coefs = new Array[Int](size * size)
      // scan selection (7.4.9.11): MDCS for small intra blocks
      val scanIdx =
        if ((log2Size == 2) || (log2Size == 3 && cIdx == 0)) {
          if (predMode >= 6 && predMode <= 14) 2
          else if (predMode >= 22 && predMode <= 30) 1
          else 0
        } else 0

      // last significant coefficient position
      val cMax = (log2Size << 1) - 1
      val (ctxOff, ctxShift) =
        if (cIdx == 0) (3 * (log2Size - 2) + ((log2Size - 1) >> 2),
          (log2Size + 1) >> 2)
        else (15, log2Size - 2)
      def lastPrefix(base: Int): Int = {
        var v = 0
        while (v < cMax &&
            cabac.decodeBin(base + ctxOff + (v >> ctxShift)) == 1) v += 1
        v
      }
      val lastXp = lastPrefix(LastX)
      val lastYp = lastPrefix(LastY)
      def suffix(prefix: Int): Int =
        if (prefix > 3) {
          val n = (prefix >> 1) - 1
          ((2 + (prefix & 1)) << n) + cabac.decodeBypassN(n)
        } else prefix
      var lastX = suffix(lastXp)
      var lastY = suffix(lastYp)
      if (scanIdx == 2) { val t = lastX; lastX = lastY; lastY = t }

      val nCgs = size >> 2
      val cgScan = Scans(scanIdx)(log2Size - 2)
      val inScan = Scans(scanIdx)(2) // 4x4 positions
      // find last CG + position within
      val lastCgX = lastX >> 2
      val lastCgY = lastY >> 2
      var lastCgIdx = -1
      var i = 0
      while (i < nCgs * nCgs && lastCgIdx < 0) {
        val s = cgScan(i)
        if ((s & 15) == lastCgX && (s >> 4) == lastCgY) lastCgIdx = i
        i += 1
      }
      if (lastCgIdx < 0) throw Malformed
      var lastPosInCg = -1
      i = 0
      while (i < 16 && lastPosInCg < 0) {
        val s = inScan(i)
        if ((s & 15) == (lastX & 3) && (s >> 4) == (lastY & 3))
          lastPosInCg = i
        i += 1
      }

      val cgFlags = new Array[Boolean](nCgs * nCgs)
      var cg = lastCgIdx
      while (cg >= 0) {
        val cgPos = cgScan(cg)
        val cgX = cgPos & 15
        val cgY = cgPos >> 4
        val isLastCg = cg == lastCgIdx
        val isFirstCg = cg == 0
        var codedCg = true
        var inferDc = false
        if (!isLastCg && !isFirstCg) {
          val right = cgX + 1 < nCgs && cgFlags(cgY * nCgs + cgX + 1)
          val below = cgY + 1 < nCgs && cgFlags((cgY + 1) * nCgs + cgX)
          val ctx = (if (right || below) 1 else 0) + (if (cIdx > 0) 2 else 0)
          codedCg = cabac.decodeBin(SubBlock + ctx) == 1
          inferDc = codedCg
        }
        cgFlags(cgY * nCgs + cgX) = codedCg
        if (codedCg) {
          // significance map
          val sig = new Array[Boolean](16)
          var numSig = 0
          val startN = if (isLastCg) lastPosInCg - 1 else 15
          if (isLastCg) { sig(lastPosInCg) = true; numSig = 1 }
          var n = startN
          while (n >= 0) {
            val p = inScan(n)
            val xP = p & 15
            val yP = p >> 4
            val xC = (cgX << 2) + xP
            val yC = (cgY << 2) + yP
            if (n == 0 && inferDc && numSig == 0) {
              sig(0) = true
              numSig += 1
            } else {
              val ctxInc = sigCtx(xC, yC, xP, yP, cgX, cgY, nCgs,
                cgFlags, log2Size, cIdx, scanIdx)
              if (cabac.decodeBin(Sig + ctxInc) == 1) {
                sig(n) = true
                numSig += 1
              }
            }
            n -= 1
          }
          if (numSig > 0) {
            decodeCgLevels(coefs, size, cgX, cgY, inScan, sig, numSig,
              cg, lastCgIdx, cIdx, log2Size)
          }
        }
        cg -= 1
      }

      // dequant + inverse transform
      val qp =
        if (cIdx == 0) cuQp
        else {
          val off = if (cIdx == 1) sh.cbQpOffset else sh.crQpOffset
          val qpi = math.max(0, math.min(57, cuQp + off))
          if (qpi > 43) qpi - 6 else HevcTables.ChromaQpMap(qpi)
        }
      HevcTransform.dequant(coefs, log2Size, qp, bd)
      val useDst = cIdx == 0 && log2Size == 2
      HevcTransform.inverse(coefs, log2Size, useDst, bd)
      coefs
    }

    /** greater1 context-set tracking across CGs of one TB. */
    private var prevCgGreater1Ctx = 1

    private def decodeCgLevels(coefs: Array[Int], size: Int, cgX: Int,
        cgY: Int, inScan: Array[Int], sig: Array[Boolean], numSig: Int,
        cgIdx: Int, lastCgIdx: Int, cIdx: Int, log2Size: Int): Unit = {
      // positions in processing order (descending scan index)
      val pos = new Array[Int](numSig)
      var k = 0
      var n = 15
      while (n >= 0) {
        if (sig(n)) { pos(k) = n; k += 1 }
        n -= 1
      }
      var ctxSet = if (cgIdx == 0 || cIdx > 0) 0 else 2
      // +1 when the previously-processed CG's greater1Ctx ended at 0
      // (skipped CGs keep the last coded CG's value, 9.3.4.2.6)
      if (cgIdx < lastCgIdx && prevCgGreater1Ctx == 0) ctxSet += 1
      var greater1Ctx = 1
      val g1 = new Array[Boolean](numSig)
      val nG1 = math.min(8, numSig)
      var i = 0
      while (i < nG1) {
        val ctxInc = (ctxSet << 2) + math.min(3, greater1Ctx) +
          (if (cIdx > 0) 16 else 0)
        val b = cabac.decodeBin(Greater1 + ctxInc)
        g1(i) = b == 1
        if (b == 1) greater1Ctx = 0
        else if (greater1Ctx > 0) greater1Ctx += 1
        i += 1
      }
      prevCgGreater1Ctx = greater1Ctx
      // greater2 for the first greater1 coefficient
      var g2Idx = -1
      i = 0
      while (i < nG1 && g2Idx < 0) { if (g1(i)) g2Idx = i; i += 1 }
      var g2 = false
      if (g2Idx >= 0) {
        val ctxInc = ctxSet + (if (cIdx > 0) 4 else 0)
        g2 = cabac.decodeBin(Greater2 + ctxInc) == 1
      }
      // signs (bypass); sign data hiding
      val firstPosInCg = pos(numSig - 1)
      val lastPosInCg2 = pos(0)
      val signHidden = pps.signDataHiding &&
        (lastPosInCg2 - firstPosInCg > 3)
      val nSigns = if (signHidden) numSig - 1 else numSig
      val signs = new Array[Boolean](numSig)
      i = 0
      while (i < nSigns) { signs(i) = cabac.decodeBypass() == 1; i += 1 }
      // remaining levels
      var rice = 0
      var sumAbs = 0L
      val levels = new Array[Int](numSig)
      i = 0
      while (i < numSig) {
        var base = 1
        if (i < nG1) {
          base += (if (g1(i)) 1 else 0)
          if (i == g2Idx) base += (if (g2) 1 else 0)
        }
        val cap = if (i < nG1) { if (i == g2Idx) 3 else 2 } else 1
        var level = base
        if (base == cap) {
          val rem = cabac.decodeCoeffAbsLevelRemaining(rice)
          level = base + rem
          if (level > 3 * (1 << rice)) rice = math.min(rice + 1, 4)
        }
        levels(i) = level
        sumAbs += level
        i += 1
      }
      if (signHidden) signs(numSig - 1) = (sumAbs & 1) == 1
      // write back
      i = 0
      while (i < numSig) {
        val p = inScan(pos(i))
        val xC = (cgX << 2) + (p & 15)
        val yC = (cgY << 2) + (p >> 4)
        coefs(yC * size + xC) = if (signs(i)) -levels(i) else levels(i)
        i += 1
      }
    }

    private def sigCtx(xC: Int, yC: Int, xP: Int, yP: Int, cgX: Int,
        cgY: Int, nCgs: Int, cgFlags: Array[Boolean], log2Size: Int,
        cIdx: Int, scanIdx: Int): Int = {
      if (log2Size == 2) {
        val m = HevcTables.CtxIdxMap4x4((yP << 2) + xP)
        m + (if (cIdx > 0) 27 else 0)
      } else if (xC == 0 && yC == 0) {
        if (cIdx > 0) 27 else 0
      } else {
        val right = cgX + 1 < nCgs && cgFlags(cgY * nCgs + cgX + 1)
        val below = cgY + 1 < nCgs && cgFlags((cgY + 1) * nCgs + cgX)
        val prevCsbf = (if (right) 1 else 0) + (if (below) 2 else 0)
        var s = prevCsbf match {
          case 0 =>
            if (xP + yP == 0) 2 else if (xP + yP < 3) 1 else 0
          case 1 =>
            if (yP == 0) 2 else if (yP == 1) 1 else 0
          case 2 =>
            if (xP == 0) 2 else if (xP == 1) 1 else 0
          case _ => 2
        }
        if (cIdx == 0) {
          if (cgX + cgY > 0) s += 3
          if (log2Size == 3) s += (if (scanIdx == 0) 9 else 15)
          else s += 21
          s
        } else {
          if (log2Size == 3) s += 9 else s += 12
          s + 27
        }
      }
    }
  }
}
