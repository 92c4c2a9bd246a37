package graft.operators.av1

/** Deblocking loop filter (spec 7.14): frame-wide vertical-edge pass
  * then horizontal-edge pass per plane, edge taps selected from the
  * two adjacent transform sizes (4/8/14 luma, 4/6 chroma), thresholds
  * from the frame filter levels and sharpness. Intra-frame scope: all
  * blocks reference INTRA, so levels are uniform per plane/pass
  * (segmentation and delta-LF streams reject upstream).
  */
object Av1LoopFilter {
  import Av1Consts._
  import Av1Headers.Unsupported

  def apply(d: Av1FrameDecode): Unit = {
    val fh = d.fh
    if (fh.deltaLfPresent) throw Unsupported("delta_lf")
    if (fh.lfLevel(0) == 0 && fh.lfLevel(1) == 0 &&
      fh.lfLevel(2) == 0 && fh.lfLevel(3) == 0) return

    var plane = 0
    while (plane < d.numPlanes) {
      var pass = 0
      while (pass < 2) {
        val lvl = levelFor(d, plane, pass)
        if (lvl > 0) filterPass(d, plane, pass, lvl)
        pass += 1
      }
      plane += 1
    }
  }

  private def levelFor(d: Av1FrameDecode, plane: Int, pass: Int): Int = {
    val fh = d.fh
    val base = plane match {
      case 0 => fh.lfLevel(pass)
      case 1 => fh.lfLevel(2)
      case _ => fh.lfLevel(3)
    }
    if (base == 0) 0
    else if (fh.lfDeltaEnabled) {
      // all blocks are INTRA: refDeltas[0] applies, scaled per spec
      val shift = base >> 5
      math.max(0, math.min(63, base + (fh.lfRefDeltas(0) << shift)))
    } else base
  }

  private def filterPass(d: Av1FrameDecode, plane: Int, pass: Int,
      lvl: Int): Unit = {
    val fh = d.fh
    val subX = if (plane == 0) 0 else d.subX
    val subY = if (plane == 0) 0 else d.subY
    val pw = d.planeW(plane)
    val ph = d.planeH(plane)
    val vw = d.cropW(plane) // visible bounds: edges beyond are unfiltered
    val vh = d.cropH(plane)
    val buf = d.planes(plane)
    val bd = d.bd
    val scale = bd - 8
    // thresholds
    val sharpness = fh.lfSharpness
    val shift = if (sharpness > 4) 2 else if (sharpness > 0) 1 else 0
    val limit0 =
      if (sharpness > 0) math.max(1, math.min(9 - sharpness, lvl >> shift))
      else math.max(1, lvl)
    val blimit0 = 2 * (lvl + 2) + limit0
    val thresh0 = lvl >> 4
    val limit = limit0 << scale
    val blimit = blimit0 << scale
    val thresh = thresh0 << scale
    val flatT = 1 << scale
    val hiv = d.pixMax

    val rowStep = 1 << subY
    val colStep = 1 << subX
    val miCols = d.miCols
    val miRows = d.miRows

    // for chroma, block attribution is the bottom-right mi of the 2x2
    // luma group (the block that coded the chroma of that unit)
    @inline def miIdx(r: Int, c: Int): Int =
      if (plane == 0) r * miCols + c
      else math.min(r | subY, miRows - 1) * miCols + math.min(c | subX, miCols - 1)
    @inline def txOf(r: Int, c: Int): Int =
      if (plane == 0) d.txSzY(r * miCols + c) else d.txSzUV(miIdx(r, c))

    var row = 0
    while (row < miRows) {
      var col = 0
      while (col < miCols) {
        val xP = (col >> subX) * 4
        val yP = (row >> subY) * 4
        // edge positions are bounded by the visible crop (settled by
        // A/B against the reference: padded-position edges unfiltered)
        val skipEdge =
          if (pass == 0) xP == 0 || xP >= vw
          else yP == 0 || yP >= vh
        if (!skipEdge) {
          val tx = txOf(row, col)
          val curDim = if (pass == 0) TxW(tx) else TxH(tx)
          val pos = if (pass == 0) xP else yP
          val isTxEdge = pos % curDim == 0
          if (isTxEdge) {
            val (pr, pc) =
              if (pass == 0) (row, col - colStep) else (row - rowStep, col)
            val prevTx = txOf(pr, pc)
            val prevDim = if (pass == 0) TxW(prevTx) else TxH(prevTx)
            // block edge when the (plane-aligned) prediction-block
            // origin coincides with this edge position
            val originMi =
              if (pass == 0) d.blockOriginC(miIdx(row, col)) & ~subX
              else d.blockOriginR(miIdx(row, col)) & ~subY
            val originP2 = (originMi >> (if (pass == 0) subX else subY)) * 4
            val isBlockEdge = pos == originP2
            val skipCur = d.skips(miIdx(row, col))
            val skipPrev = d.skips(miIdx(pr, pc))
            if (isBlockEdge || !skipCur || !skipPrev) {
              val minDim = math.min(curDim, prevDim)
              val taps =
                if (plane == 0) { if (minDim >= 16) 14 else if (minDim >= 8) 8 else 4 }
                else { if (minDim >= 8) 6 else 4 }
              // filter 4 sample lines (one 4x4 unit)
              // but the 4 sample lines of an in-crop edge run to the
              // 4-ALIGNED crop dimension — one partial 4x4 line unit
              // into the mi padding, not the whole padded plane
              // (settled against the reference decoder's unfiltered
              // padded columns; the lossy_420_014 padded chroma row
              // falls inside the aligned unit and IS filtered)
              val lineLim =
                if (pass == 0) math.min(ph, (vh + 3) & ~3)
                else math.min(pw, (vw + 3) & ~3)
              var k = 0
              while (k < 4) {
                if (pass == 0) {
                  val y = yP + k
                  if (y < lineLim)
                    filterLine(buf, y * pw + xP, 1, taps, limit, blimit,
                      thresh, flatT, hiv)
                } else {
                  val x = xP + k
                  if (x < lineLim)
                    filterLine(buf, yP * pw + x, pw, taps, limit, blimit,
                      thresh, flatT, hiv)
                }
                k += 1
              }
            }
          }
        }
        col += colStep
      }
      row += rowStep
    }
  }

  /** filter one sample line across an edge: buf(base) = q0,
    * buf(base - step) = p0.
    */
  private def filterLine(buf: Array[Int], base: Int, step: Int,
      taps: Int, limit: Int, blimit: Int, thresh: Int, flatT: Int,
      hiv: Int): Unit = {
    @inline def p(i: Int): Int = buf(base - (i + 1) * step)
    @inline def q(i: Int): Int = buf(base + i * step)
    @inline def sp(i: Int, v: Int): Unit = buf(base - (i + 1) * step) = v
    @inline def sq(i: Int, v: Int): Unit = buf(base + i * step) = v
    @inline def ab(x: Int): Int = math.abs(x)
    @inline def r3(x: Int): Int = (x + 4) >> 3
    @inline def r4(x: Int): Int = (x + 8) >> 4

    val p0 = p(0); val p1 = p(1)
    val q0 = q(0); val q1 = q(1)
    // base mask (2 taps each side)
    var mask = ab(p1 - p0) <= limit && ab(q1 - q0) <= limit &&
      ab(p0 - q0) * 2 + ab(p1 - q1) / 2 <= blimit
    if (!mask) return

    val bdClampHi = (hiv + 1) / 2 - 1 // (1 << (bd-1)) - 1
    val bdClampLo = -(hiv + 1) / 2
    @inline def c3(x: Int): Int =
      if (x < bdClampLo) bdClampLo else if (x > bdClampHi) bdClampHi else x
    @inline def clip1(x: Int): Int =
      if (x < 0) 0 else if (x > hiv) hiv else x

    def filter4(): Unit = {
      val hev = ab(p1 - p0) > thresh || ab(q1 - q0) > thresh
      var f = if (hev) c3(p1 - q1) else 0
      f = c3(f + 3 * (q0 - p0))
      val f1 = c3(f + 4) >> 3
      val f2 = c3(f + 3) >> 3
      sq(0, clip1(q0 - f1))
      sp(0, clip1(p0 + f2))
      if (!hev) {
        val f3 = (f1 + 1) >> 1
        sq(1, clip1(q1 - f3))
        sp(1, clip1(p1 + f3))
      }
    }

    taps match {
      case 4 => filter4()
      case 6 =>
        val p2 = p(2); val q2 = q(2)
        mask = mask && ab(p2 - p1) <= limit && ab(q2 - q1) <= limit
        if (!mask) return
        val flat = ab(p1 - p0) <= flatT && ab(q1 - q0) <= flatT &&
          ab(p2 - p0) <= flatT && ab(q2 - q0) <= flatT
        if (flat) {
          val op1 = r3(p2 * 3 + p1 * 2 + p0 * 2 + q0)
          val op0 = r3(p2 + p1 * 2 + p0 * 2 + q0 * 2 + q1)
          val oq0 = r3(p1 + p0 * 2 + q0 * 2 + q1 * 2 + q2)
          val oq1 = r3(p0 + q0 * 2 + q1 * 2 + q2 * 3)
          sp(1, op1); sp(0, op0); sq(0, oq0); sq(1, oq1)
        } else filter4()
      case _ =>
        val p2 = p(2); val p3 = p(3)
        val q2 = q(2); val q3 = q(3)
        mask = mask && ab(p2 - p1) <= limit && ab(q2 - q1) <= limit &&
          ab(p3 - p2) <= limit && ab(q3 - q2) <= limit
        if (!mask) { return }
        val flat = ab(p1 - p0) <= flatT && ab(q1 - q0) <= flatT &&
          ab(p2 - p0) <= flatT && ab(q2 - q0) <= flatT &&
          ab(p3 - p0) <= flatT && ab(q3 - q0) <= flatT
        if (taps == 14) {
          val p4 = p(4); val p5 = p(5); val p6 = p(6)
          val q4 = q(4); val q5 = q(5); val q6 = q(6)
          val flat2 = ab(p4 - p0) <= flatT && ab(q4 - q0) <= flatT &&
            ab(p5 - p0) <= flatT && ab(q5 - q0) <= flatT &&
            ab(p6 - p0) <= flatT && ab(q6 - q0) <= flatT
          if (flat && flat2) {
            // each line's weights sum to 16 (unity gain) — the r18
            // 12-bit drill caught a transcription that dropped one x2
            // per line (sum 15), silent until flat2 could actually
            // pass (flatT = 1 << (bd-8) is 16 at 12-bit, 1 at 8-bit)
            sp(5, r4(p6 * 7 + p5 * 2 + p4 * 2 + p3 + p2 + p1 + p0 + q0))
            sp(4, r4(p6 * 5 + p5 * 2 + p4 * 2 + p3 * 2 + p2 + p1 + p0 + q0 + q1))
            sp(3, r4(p6 * 4 + p5 + p4 * 2 + p3 * 2 + p2 * 2 + p1 + p0 + q0 + q1 + q2))
            sp(2, r4(p6 * 3 + p5 + p4 + p3 * 2 + p2 * 2 + p1 * 2 + p0 + q0 + q1 + q2 + q3))
            sp(1, r4(p6 * 2 + p5 + p4 + p3 + p2 * 2 + p1 * 2 + p0 * 2 + q0 + q1 + q2 + q3 + q4))
            sp(0, r4(p6 + p5 + p4 + p3 + p2 + p1 * 2 + p0 * 2 + q0 * 2 + q1 + q2 + q3 + q4 + q5))
            sq(0, r4(q6 + q5 + q4 + q3 + q2 + q1 * 2 + q0 * 2 + p0 * 2 + p1 + p2 + p3 + p4 + p5))
            sq(1, r4(q6 * 2 + q5 + q4 + q3 + q2 * 2 + q1 * 2 + q0 * 2 + p0 + p1 + p2 + p3 + p4))
            sq(2, r4(q6 * 3 + q5 + q4 + q3 * 2 + q2 * 2 + q1 * 2 + q0 + p0 + p1 + p2 + p3))
            sq(3, r4(q6 * 4 + q5 + q4 * 2 + q3 * 2 + q2 * 2 + q1 + q0 + p0 + p1 + p2))
            sq(4, r4(q6 * 5 + q5 * 2 + q4 * 2 + q3 * 2 + q2 + q1 + q0 + p0 + p1))
            sq(5, r4(q6 * 7 + q5 * 2 + q4 * 2 + q3 + q2 + q1 + q0 + p0))
            return
          }
        }
        if (flat) {
          sp(2, r3(p3 + p3 + p3 + 2 * p2 + p1 + p0 + q0))
          sp(1, r3(p3 + p3 + p2 + 2 * p1 + p0 + q0 + q1))
          sp(0, r3(p3 + p2 + p1 + 2 * p0 + q0 + q1 + q2))
          sq(0, r3(p2 + p1 + p0 + 2 * q0 + q1 + q2 + q3))
          sq(1, r3(p1 + p0 + q0 + 2 * q1 + q2 + q3 + q3))
          sq(2, r3(p0 + q0 + q1 + 2 * q2 + q3 + q3 + q3))
        } else filter4()
    }
  }
}

/** CDEF (spec 7.15): per 64x64 unit (strength index coded in the tile)
  * and 8x8 luma sub-unit, direction search on the deblocked frame,
  * primary taps along the detected direction and secondary taps at
  * +-2 directions, constrained by strength/damping, clamped to the
  * used neighborhood. Reads come from a snapshot of the deblocked
  * frame (the spec's CdefFrame double-buffer), with CDEF_VERY_LARGE
  * outside the visible area.
  */
object Av1Cdef {

  private val Large = 30000
  private val DivTable = Array(0, 840, 420, 280, 210, 168, 140, 120, 105)
  private val PriTaps = Array(Array(4, 2), Array(3, 3))
  private val SecTaps = Array(2, 1)
  // direction offsets in (dy, dx) pairs, two taps each
  // spec Cdef_Uv_Dir rows for (subX,subY)=(1,0) and (0,1)
  private val Uv422Dir: Array[Int] = Array(7, 0, 2, 4, 5, 6, 6, 6)
  private val Uv440Dir: Array[Int] = Array(1, 2, 2, 2, 3, 4, 6, 0)

  // byte-verified against dav1d's rodata copy (stride-16 offsets at
  // .rodata+0x28a): dir 5 steps down-RIGHT (2,1) and dir 7 down-LEFT
  // (2,-1) — consistent with the find-dir partial lines
  private val Dirs: Array[Array[Int]] = Array(
    Array(-1, 1, -2, 2),
    Array(0, 1, -1, 2),
    Array(0, 1, 0, 2),
    Array(0, 1, 1, 2),
    Array(1, 1, 2, 2),
    Array(1, 0, 2, 1),
    Array(1, 0, 2, 0),
    Array(1, 0, 2, -1))

  def apply(d: Av1FrameDecode): Unit = {
    val fh = d.fh
    if (!d.seq.enableCdef || fh.codedLossless || fh.allowIntrabc) return
    var any = false
    var i = 0
    while (i < (1 << fh.cdefBits)) {
      if (fh.cdefYPri(i) != 0 || fh.cdefYSec(i) != 0 ||
        fh.cdefUVPri(i) != 0 || fh.cdefUVSec(i) != 0) any = true
      i += 1
    }
    if (!any) return

    val bd = d.bd
    val shift = bd - 8
    // snapshot of the deblocked planes (reads never see cdef writes)
    val src: Array[Array[Int]] = d.planes.map(_.clone())

    val miCols = d.miCols
    val miRows = d.miRows
    var r64 = 0
    while (r64 * 16 < miRows) {
      var c64 = 0
      while (c64 * 16 < miCols) {
        val idx = d.cdefIdx(r64 * d.cdefStride + c64)
        if (idx >= 0) {
          val yPri = fh.cdefYPri(idx) << shift
          val ySec = fh.cdefYSec(idx) << shift
          val uvPri = fh.cdefUVPri(idx) << shift
          val uvSec = fh.cdefUVSec(idx) << shift
          // 8x8 luma sub-units
          var ru = r64 * 8
          while (ru < math.min((r64 + 1) * 8, (miRows + 1) / 2)) {
            var cu = c64 * 8
            while (cu < math.min((c64 + 1) * 8, (miCols + 1) / 2)) {
              val mi0 = (ru * 2) * miCols + cu * 2
              var anyCoded = !d.skips(mi0)
              if (cu * 2 + 1 < miCols) anyCoded ||= !d.skips(mi0 + 1)
              if (ru * 2 + 1 < miRows) anyCoded ||= !d.skips(mi0 + miCols)
              if (cu * 2 + 1 < miCols && ru * 2 + 1 < miRows)
                anyCoded ||= !d.skips(mi0 + miCols + 1)
              if (anyCoded) {
                val x0 = cu * 8
                val y0 = ru * 8
                val (dir, variance) = findDir(d, src(0), x0, y0, shift)
                // luma
                // reference quirk (dav1d cdef_brow): a zero PRIMARY
                // strength (unadjusted) filters with direction 0 —
                // the search result applies only alongside a primary
                if (yPri != 0) {
                  val pri = adjustStrength(yPri, variance)
                  if (pri != 0 || ySec != 0)
                    filterBlock(d, 0, src(0), x0, y0, 8, 8, dir, pri, ySec,
                      fh.cdefDamping + shift)
                } else if (ySec != 0)
                  filterBlock(d, 0, src(0), x0, y0, 8, 8, 0, 0, ySec,
                    fh.cdefDamping + shift)
                if (d.numPlanes > 1 && (uvPri != 0 || uvSec != 0)) {
                  val cw = 8 >> d.subX
                  val ch = 8 >> d.subY
                  val cx = x0 >> d.subX
                  val cy = y0 >> d.subY
                  // spec Cdef_Uv_Dir: remap the luma direction when the
                  // chroma aspect changes (4:2:2 / 4:4:0)
                  val cdir =
                    if (uvPri == 0) 0
                    else if (d.subX == 1 && d.subY == 0) Uv422Dir(dir)
                    else if (d.subX == 0 && d.subY == 1) Uv440Dir(dir)
                    else dir
                  var pl = 1
                  while (pl < d.numPlanes) {
                    filterBlock(d, pl, src(pl), cx, cy, cw, ch, cdir,
                      uvPri, uvSec, fh.cdefDamping + shift - 1)
                    pl += 1
                  }
                }
              }
              cu += 1
            }
            ru += 1
          }
        }
        c64 += 1
      }
      r64 += 1
    }
  }

  private def adjustStrength(strength: Int, variance: Int): Int = {
    if (variance == 0) 0
    else {
      val v6 = variance >> 6
      val i = if (v6 != 0)
        math.min(31 - Integer.numberOfLeadingZeros(v6), 12)
      else 0
      (strength * (4 + i) + 8) >> 4
    }
  }

  private def findDir(d: Av1FrameDecode, src: Array[Int], x0: Int,
      y0: Int, shift: Int): (Int, Int) = {
    val pw = d.planeW(0)
    val partial = Array.ofDim[Int](8, 15)
    var i = 0
    while (i < 8) {
      var j = 0
      while (j < 8) {
        val x = (src((y0 + i) * pw + x0 + j) >> shift) - 128
        partial(0)(i + j) += x
        partial(1)(i + j / 2) += x
        partial(2)(i) += x
        partial(3)(3 + i - j / 2) += x
        partial(4)(7 + i - j) += x
        partial(5)(3 - i / 2 + j) += x
        partial(6)(j) += x
        partial(7)(i / 2 + j) += x
        j += 1
      }
      i += 1
    }
    val cost = new Array[Long](8)
    i = 0
    while (i < 8) {
      cost(2) += partial(2)(i).toLong * partial(2)(i)
      cost(6) += partial(6)(i).toLong * partial(6)(i)
      i += 1
    }
    cost(2) *= 105
    cost(6) *= 105
    i = 0
    while (i < 7) {
      cost(0) += (partial(0)(i).toLong * partial(0)(i) +
        partial(0)(14 - i).toLong * partial(0)(14 - i)) * DivTable(i + 1)
      cost(4) += (partial(4)(i).toLong * partial(4)(i) +
        partial(4)(14 - i).toLong * partial(4)(14 - i)) * DivTable(i + 1)
      i += 1
    }
    cost(0) += partial(0)(7).toLong * partial(0)(7) * 105
    cost(4) += partial(4)(7).toLong * partial(4)(7) * 105
    i = 1
    while (i < 8) {
      var j = 0
      while (j < 5) {
        cost(i) += partial(i)(3 + j).toLong * partial(i)(3 + j)
        j += 1
      }
      cost(i) *= 105
      j = 0
      while (j < 3) {
        cost(i) += (partial(i)(j).toLong * partial(i)(j) +
          partial(i)(10 - j).toLong * partial(i)(10 - j)) *
          DivTable(2 * j + 2)
        j += 1
      }
      i += 2
    }
    var best = 0
    var bestCost = 0L
    i = 0
    while (i < 8) {
      if (cost(i) > bestCost) { bestCost = cost(i); best = i }
      i += 1
    }
    val variance = ((bestCost - cost((best + 4) & 7)) >> 10).toInt
    (best, variance)
  }

  @inline private def constrain(diff: Int, strength: Int,
      damping: Int): Int = {
    if (strength == 0) 0
    else {
      val shift = math.max(0,
        damping - (31 - Integer.numberOfLeadingZeros(strength)))
      val a = math.abs(diff)
      val v = math.min(a, math.max(0, strength - (a >> shift)))
      if (diff < 0) -v else v
    }
  }

  private def filterBlock(d: Av1FrameDecode, plane: Int,
      src: Array[Int], x0: Int, y0: Int, w: Int, h: Int, dir: Int,
      priStr: Int, secStr: Int, damping: Int): Unit = {
    if (priStr == 0 && secStr == 0) return
    val pw = d.planeW(plane)
    val vw = d.cropW(plane)
    val vh = d.cropH(plane)
    val dst = d.planes(plane)
    val priTap = PriTaps((priStr >> (d.bd - 8)) & 1)
    val dirsP = Dirs(dir)
    val dirsS1 = Dirs((dir + 2) & 7)
    val dirsS2 = Dirs((dir + 6) & 7)
    // availability spans the full mi-padded plane (the spec's
    // CdefAvailable bounds are MiCols/MiRows-based, not crop-based --
    // and NOT buffer-based: sb-aligned overhang columns hold real
    // reconstructions that the reference's CDEF treats as unavailable)
    val bw = d.miW(plane)
    val bh = d.miH(plane)
    @inline def px(x: Int, y: Int): Int =
      if (x < 0 || y < 0 || x >= bw || y >= bh) Large
      else src(y * pw + x)
    var i = 0
    while (i < h) {
      var j = 0
      while (j < w) {
        val yy = y0 + i
        val xx = x0 + j
        if (xx < vw && yy < vh) {
          val x = src(yy * pw + xx)
          var sum = 0
          var mn = x
          var mx = x
          // a zero strength skips its taps ENTIRELY (no min/max
          // contribution). An UNAVAILABLE tap of an active strength
          // reads the CDEF-very-large sentinel: zero sum contribution
          // (constrain of a huge diff is 0) but it POISONS the max
          // clamp — the upper bound is effectively lifted (reference
          // padding semantics; min is unaffected)
          var k = 0
          while (k < 2) {
            if (priStr != 0) {
              val dy = dirsP(2 * k)
              val dx = dirsP(2 * k + 1)
              var s = 0
              while (s < 2) {
                val sg = if (s == 0) 1 else -1
                val p = px(xx + sg * dx, yy + sg * dy)
                if (p != Large) {
                  sum += priTap(k) * constrain(p - x, priStr, damping)
                  mn = math.min(mn, p)
                  mx = math.max(mx, p)
                } else mx = Large
                s += 1
              }
            }
            // secondary taps
            if (secStr != 0) {
              var t = 0
              while (t < 2) {
                val dd = if (t == 0) dirsS1 else dirsS2
                val sy = dd(2 * k)
                val sx = dd(2 * k + 1)
                var s2 = 0
                while (s2 < 2) {
                  val sg = if (s2 == 0) 1 else -1
                  val p = px(xx + sg * sx, yy + sg * sy)
                  if (p != Large) {
                    sum += SecTaps(k) * constrain(p - x, secStr, damping)
                    mn = math.min(mn, p)
                    mx = math.max(mx, p)
                  } else mx = Large
                  s2 += 1
                }
                t += 1
              }
            }
            k += 1
          }
          var y2 = x + ((8 + sum - (if (sum < 0) 1 else 0)) >> 4)
          y2 = math.max(mn, math.min(mx, y2))
          dst(yy * pw + xx) = y2
        }
        j += 1
      }
      i += 1
    }
  }
}
