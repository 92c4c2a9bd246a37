package graft.operators.av1

/** Per-transform-block decode: intra prediction (with normative edge
  * preparation), coefficient decoding (spec 5.11.39), dequantization
  * and inverse transform, reconstruction, and entropy-context
  * bookkeeping.
  */
object Av1Residual {
  import Av1Consts._
  import Av1Headers.Malformed

  /** coeff_base 2D context position offsets (spec Coeff_Base_Ctx_Offset,
    * indexed [min(row,4)][min(col,4)])
    */
  private val Base2dOffset: Array[Array[Int]] = Array(
    Array(0, 1, 6, 6, 21),
    Array(1, 6, 6, 21, 21),
    Array(6, 6, 21, 21, 21),
    Array(6, 21, 21, 21, 21),
    Array(21, 21, 21, 21, 21))

  // spec Skip_Contexts (verified byte-exact in libaom .rodata)
  private val SkipContexts: Array[Array[Int]] = Array(
    Array(1, 2, 2, 2, 3),
    Array(2, 4, 4, 4, 5),
    Array(2, 4, 4, 4, 5),
    Array(2, 4, 4, 4, 5),
    Array(3, 5, 5, 5, 6))

  @inline private def txpl(txSzCtx: Int, ptype: Int): Int =
    txSzCtx * 2 + ptype

  private val scanCache =
    scala.collection.mutable.HashMap[(Int, Int, Int), Array[Int]]()

  private def getScan(w: Int, h: Int, txClass: Int): Array[Int] =
    scanCache.synchronized {
      scanCache.getOrElseUpdate((w, h, txClass), txClass match {
        case TX_CLASS_2D => Av1Tables.diagScan(w, h)
        case TX_CLASS_HORIZ => Av1Tables.colScan(w, h)
        case TX_CLASS_VERT => Av1Tables.rowScan(w, h)
      })
    }

  /** filter-intra mode -> implied intra direction (spec
    * Filter_Intra_Mode_To_Intra_Dir) for the tx-type cdf index.
    * FILTER_PAETH maps to DC_PRED (not PAETH_PRED) — the r18 speed-4
    * drill found the PAETH mapping desyncs the explicit tx_type read
    * of filter-intra blocks (wrong intra-direction cdf row).
    */
  private val FiToDir: Array[Int] =
    Array(DC_PRED, V_PRED, H_PRED, D157_PRED, DC_PRED)

  def predictAndReconstruct(d: Av1FrameDecode, plane: Int, x: Int,
      y: Int, txSz: Int, modeIn: Int, angleDelta: Int, skip: Boolean,
      lossless: Boolean, bSize: Int, cflAlpha: Int, isCfl: Int,
      miR: Int, miC: Int, fiMode: Int, pal: Boolean): Unit = {
    val pw = d.planeW(plane)
    val ph = d.planeH(plane)
    // spec 5.11.35: skip tx blocks starting past the MI area; executed
    // blocks reconstruct their full extent (may overhang into the
    // sb-aligned buffer padding) and update MaxLumaW/H
    if (x >= d.miW(plane) || y >= d.miH(plane)) return
    val w = TxW(txSz)
    val h = TxH(txSz)
    if (plane == 0) { d.maxLumaW = x + w; d.maxLumaH = y + h }
    val mode = if (plane > 0 && modeIn == UV_CFL_PRED) DC_PRED else modeIn

    // ---------- prediction ----------
    val pred = new Array[Int](w * h)
    if (pal) {
      // palette: the block's color-mapped samples (read in decode_block)
      val pp = d.palettePred(plane)
      val ppw = if (plane == 0) d.palettePredW else d.palettePredWc
      val ox = x - (if (plane == 0) d.palettePredX
        else d.palettePredX >> d.subX)
      val oy = y - (if (plane == 0) d.palettePredY
        else d.palettePredY >> d.subY)
      var r = 0
      while (r < h) {
        var c2 = 0
        while (c2 < w) {
          pred(r * w + c2) = pp((oy + r) * ppw + ox + c2)
          c2 += 1
        }
        r += 1
      }
    } else if (plane == 0 && fiMode >= 0)
      filterIntraPredictTx(d, plane, x, y, w, h, fiMode, pred)
    else predictIntra(d, plane, x, y, w, h, mode, angleDelta, bSize, pred,
      miR, miC)
    if (plane > 0 && isCfl == 1) {
      val ac = cflAc(d, x, y, w, h)
      if (cflAlpha != 0) Av1Predict.cflPredict(pred, w, h, ac, cflAlpha, d.bd)
    }

    // ---------- coefficients ----------
    val resid: Array[Int] =
      if (skip) null
      else decodeCoeffs(d, plane, x, y, txSz, lossless, bSize,
        if (plane == 0 && fiMode >= 0) FiToDir(fiMode) else modeIn, pal)

    // ---------- write back ----------
    val buf = d.planes(plane)
    val hiv = d.pixMax
    var r = 0
    while (r < h) {
      val py = y + r
      if (py < ph) {
        var c = 0
        while (c < w) {
          val px = x + c
          if (px < pw) {
            var v = pred(r * w + c)
            if (resid != null) v += resid(r * w + c)
            buf(py * pw + px) = math.max(0, math.min(hiv, v))
          }
          c += 1
        }
      }
      r += 1
    }
    if (skip) {
      // clear the entropy contexts over this tx block
      setCoefCtx(d, plane, x, y, w, h, 0, 0)
    }
    // mark decoded
    val d4w = d.dec4W(plane)
    var ry = y >> 2
    while (ry < math.min((y + h) >> 2, (d.miH(plane) + 3) >> 2)) {
      var rx = x >> 2
      while (rx < math.min((x + w) >> 2, (d.miW(plane) + 3) >> 2)) {
        d.decoded(plane)(ry * d4w + rx) = true
        rx += 1
      }
      ry += 1
    }
  }

  /** filter-intra prediction for one tx block: same edge preparation
    * rules as the basic modes (no directional filtering/upsampling).
    */
  private def filterIntraPredictTx(d: Av1FrameDecode, plane: Int,
      x: Int, y: Int, w: Int, h: Int, fiMode: Int,
      out: Array[Int]): Unit = {
    val pw = d.planeW(plane)
    val mw = d.miW(plane)
    val mh = d.miH(plane)
    val buf = d.planes(plane)
    val tileLeftPx = d.miColStart * 4
    val tileTopPx = d.miRowStart * 4
    val haveAbove = y > tileTopPx
    val haveLeft = x > tileLeftPx
    val base = 1 << (d.bd - 1)
    val Off = Av1Predict.Off
    val len = 2 + 2 * (w + h) + 4
    val above = new Array[Int](len)
    val left = new Array[Int](len)
    if (haveLeft) {
      val maxY = math.min(h, mh - y)
      var i = 0
      while (i < maxY) { left(Off + i) = buf((y + i) * pw + (x - 1)); i += 1 }
      val v = left(Off + i - 1)
      while (i < h) { left(Off + i) = v; i += 1 }
    } else {
      val v = if (haveAbove) buf((y - 1) * pw + x) else base + 1
      var i = 0
      while (i < h) { left(Off + i) = v; i += 1 }
    }
    if (haveAbove) {
      val maxX = math.min(w, mw - x)
      var i = 0
      while (i < maxX) { above(Off + i) = buf((y - 1) * pw + (x + i)); i += 1 }
      val v = above(Off + i - 1)
      while (i < w) { above(Off + i) = v; i += 1 }
    } else {
      val v = if (haveLeft) buf(y * pw + (x - 1)) else base - 1
      var i = 0
      while (i < w) { above(Off + i) = v; i += 1 }
    }
    val corner =
      if (haveAbove && haveLeft) buf((y - 1) * pw + (x - 1))
      else if (haveAbove) buf((y - 1) * pw + x)
      else if (haveLeft) buf(y * pw + (x - 1))
      else base
    above(Off - 1) = corner
    left(Off - 1) = corner
    Av1Predict.filterIntraPredict(fiMode, out, w, h, above, left, d.bd)
  }

  // ---------------- intra prediction with edge prep ----------------
  private def predictIntra(d: Av1FrameDecode, plane: Int, x: Int,
      y: Int, w: Int, h: Int, mode: Int, angleDelta: Int, bSize: Int,
      out: Array[Int], blkMiR: Int, blkMiC: Int): Unit = {
    val pw = d.planeW(plane)
    val mw = d.miW(plane)
    val mh = d.miH(plane)
    val buf = d.planes(plane)
    val shX = if (plane == 0) 0 else d.subX
    val shY = if (plane == 0) 0 else d.subY
    val tileLeftPx = (d.miColStart * 4) >> shX
    val tileTopPx = (d.miRowStart * 4) >> shY
    val haveAbove = y > tileTopPx
    val haveLeft = x > tileLeftPx
    val d4w = d.dec4W(plane)
    @inline def isDecoded(px: Int, py: Int): Boolean =
      px >= 0 && py >= 0 && px < mw && py < mh &&
        d.decoded(plane)((py >> 2) * d4w + (px >> 2))

    val len = 2 + 2 * (w + h) + 4
    val above = new Array[Int](len)
    val left = new Array[Int](len)
    val base = 1 << (d.bd - 1)
    val Off = Av1Predict.Off

    // LeftCol
    if (haveLeft) {
      val maxY = math.min(h, mh - y)
      var i = 0
      while (i < maxY) { left(Off + i) = buf((y + i) * pw + (x - 1)); i += 1 }
      // bottom-left extension
      val haveBelowLeft = isDecoded(x - 1, y + h)
      var v = left(Off + maxY - 1)
      if (haveBelowLeft && maxY == h) {
        val ext = math.min(h, mh - y - h)
        while (i < h + ext) {
          left(Off + i) = buf((y + i) * pw + (x - 1)); i += 1
        }
      }
      v = left(Off + i - 1)
      while (i < w + h) { left(Off + i) = v; i += 1 }
    } else {
      val v = if (haveAbove) buf((y - 1) * pw + x) else base + 1
      var i = 0
      while (i < w + h) { left(Off + i) = v; i += 1 }
    }
    // AboveRow
    if (haveAbove) {
      val maxX = math.min(w, mw - x)
      var i = 0
      while (i < maxX) { above(Off + i) = buf((y - 1) * pw + (x + i)); i += 1 }
      val haveAboveRight = isDecoded(x + w, y - 1)
      if (haveAboveRight && maxX == w) {
        // real top-right samples cap at the tx WIDTH (then replicate)
        val ext = math.min(w, mw - x - w)
        while (i < w + ext) {
          above(Off + i) = buf((y - 1) * pw + (x + i)); i += 1
        }
      }
      val v = above(Off + i - 1)
      while (i < w + h) { above(Off + i) = v; i += 1 }
    } else {
      val v = if (haveLeft) buf(y * pw + (x - 1)) else base - 1
      var i = 0
      while (i < w + h) { above(Off + i) = v; i += 1 }
    }
    // corner
    val corner =
      if (haveAbove && haveLeft) buf((y - 1) * pw + (x - 1))
      else if (haveAbove) buf((y - 1) * pw + x)
      else if (haveLeft) buf(y * pw + (x - 1))
      else base
    above(Off - 1) = corner
    left(Off - 1) = corner

    if (isDirectionalMode(mode)) {
      val pAngle = ModeToAngle(mode) + angleDelta * 3
      var upA = false
      var upL = false
      if (pAngle != 90 && pAngle != 180) {
        // neighbor-smoothness check at the BLOCK position (spec
        // get_filter_type), not the tx-block position
        val filterType = getFilterType(d, plane, blkMiR, blkMiC)
        if (d.seq.enableIntraEdgeFilter) {
          if (pAngle > 90 && pAngle < 180 && (w + h) >= 24 &&
            haveAbove && haveLeft) {
            // corner filter
            val s = left(Off) * 5 + corner * 6 + above(Off) * 5
            val f = (s + 8) >> 4
            above(Off - 1) = f
            left(Off - 1) = f
          }
          if (haveAbove) {
            val strength = Av1Predict.filterStrength(w, h, filterType,
              pAngle - 90)
            val numPx = w + (if (pAngle < 90) h else 0)
            Av1Predict.edgeFilter(above, -1, numPx + 1, strength)
          }
          if (haveLeft) {
            val strength = Av1Predict.filterStrength(w, h, filterType,
              pAngle - 180)
            val numPx = h + (if (pAngle > 180) w else 0)
            Av1Predict.edgeFilter(left, -1, numPx + 1, strength)
          }
        }
        upA = d.seq.enableIntraEdgeFilter &&
          Av1Predict.useUpsample(w, h, pAngle - 90, filterType)
        if (upA) {
          val numPx = w + (if (pAngle < 90) h else 0)
          Av1Predict.upsampleEdge(above, numPx, d.bd)
        }
        upL = d.seq.enableIntraEdgeFilter &&
          Av1Predict.useUpsample(w, h, pAngle - 180, filterType)
        if (upL) {
          val numPx = h + (if (pAngle > 180) w else 0)
          Av1Predict.upsampleEdge(left, numPx, d.bd)
        }
      }
      Av1Predict.directionalPredict(out, w, h, pAngle, above, left,
        upA, upL)
    } else {
      Av1Predict.basicPredict(mode, out, w, h, above, left, haveAbove,
        haveLeft, d.bd)
    }
  }

  /** filterType = 1 when a neighboring block uses a smooth mode */
  private def getFilterType(d: Av1FrameDecode, plane: Int, miR: Int,
      miC: Int): Int = {
    @inline def isSmooth(m: Int): Boolean =
      m == SMOOTH_PRED || m == SMOOTH_V_PRED || m == SMOOTH_H_PRED
    var smooth = false
    if (plane == 0) {
      if (miR > d.miRowStart && isSmooth(d.yModes((miR - 1) * d.miCols + miC)))
        smooth = true
      if (miC > d.miColStart && isSmooth(d.yModes(miR * d.miCols + miC - 1)))
        smooth = true
    } else {
      // chroma: neighbors of the CHROMA-ALIGNED block, attributed to
      // the bottom-right mi of each subsampled group (the mi whose
      // block coded that chroma)
      val r0 = miR & ~d.subY
      val c0 = miC & ~d.subX
      if (r0 > d.miRowStart) {
        val cAtt = math.min(c0 | d.subX, d.miCols - 1)
        if (isSmooth(d.uvModes((r0 - 1) * d.miCols + cAtt))) smooth = true
      }
      if (c0 > d.miColStart) {
        val rAtt = math.min(r0 | d.subY, d.miRows - 1)
        if (isSmooth(d.uvModes(rAtt * d.miCols + c0 - 1))) smooth = true
      }
    }
    if (smooth) 1 else 0
  }

  /** CfL luma AC contribution for a chroma block at (x,y) size w x h */
  private def cflAc(d: Av1FrameDecode, x: Int, y: Int, w: Int,
      h: Int): Array[Int] = {
    val luma = d.planes(0)
    val lw = d.planeW(0)
    val sx = d.subX
    val sy = d.subY
    // spec 7.11.5.2: luma reads clamp at MaxLumaW/H (the most recent
    // luma tx block's extent -- past the mi area at the right/bottom
    // edges, where the overhang samples are real reconstructions)
    val clampX = d.maxLumaW - (1 << sx)
    val clampY = d.maxLumaH - (1 << sy)
    val ac = new Array[Int](w * h)
    var total = 0
    var i = 0
    while (i < h) {
      var j = 0
      while (j < w) {
        val ly = math.min((y + i) << sy, clampY)
        val lx = math.min((x + j) << sx, clampX)
        val v =
          if (sx == 1 && sy == 1)
            (luma(ly * lw + lx) + luma(ly * lw + lx + 1) +
              luma((ly + 1) * lw + lx) + luma((ly + 1) * lw + lx + 1)) << 1
          else if (sx == 1 && sy == 0)
            (luma(ly * lw + lx) + luma(ly * lw + lx + 1)) << 2
          else luma(ly * lw + lx) << 3
        ac(i * w + j) = v
        total += v
        j += 1
      }
      i += 1
    }
    val shift = Integer.numberOfTrailingZeros(w * h)
    val avg = (total + (1 << (shift - 1))) >> shift
    i = 0
    while (i < w * h) { ac(i) -= avg; i += 1 }
    ac
  }

  // ---------------- coefficients ----------------
  private def decodeCoeffs(d: Av1FrameDecode, plane: Int, x: Int,
      y: Int, txSz: Int, lossless: Boolean, bSize: Int,
      yMode: Int, pal: Boolean): Array[Int] = {
    val msac = d.msac
    val cdf = d.cdf
    val w = TxW(txSz)
    val h = TxH(txSz)
    val ptype = if (plane == 0) 0 else 1
    val txSzCtx = (TxSizeSqr(txSz) + TxSizeSqrUp(txSz) + 1) >> 1
    val x4 = x >> 2
    val y4 = y >> 2
    val w4 = w >> 2
    val h4 = h >> 2

    // ---- all_zero (txb_skip) ----
    val skipCtx = txbSkipCtx(d, plane, x4, y4, w4, h4, txSz, bSize)
    val allZero = msac.bool(cdf.txbSkip(txSzCtx * 13 + skipCtx))
    if (allZero) {
      setCoefCtx(d, plane, x, y, w, h, 0, 0)
      return null
    }

    // ---- tx type ----
    var txType = DCT_DCT
    if (!lossless && !pal) {
      if (plane == 0) {
        val set = intraTxSet(txSz, d.fh.reducedTxSet)
        if (set > 0 && d.currentQIndex > 0) {
          val sqr = TxSizeSqr(txSz)
          txType =
            if (set == 1)
              TxSet1(msac.symbol(cdf.txtpSet1(sqr * 13 + yMode), 7))
            else
              TxSet2(msac.symbol(cdf.txtpSet2(sqr * 13 + yMode), 5))
        }
        // remember for chroma derivation / loop filter: per-mi store
        // not needed; chroma derives from uv mode
      } else {
        val set = intraTxSet(txSz, d.fh.reducedTxSet)
        val t = ModeToTxfm(yMode) // yMode here is the UV mode passed in
        txType =
          if (set == 0) DCT_DCT
          else if (set == 2 && !(t == DCT_DCT || t == ADST_ADST ||
            t == ADST_DCT || t == DCT_ADST || t == IDTX)) DCT_DCT
          else t
      }
    }
    val cls = if (lossless) TX_CLASS_2D else txClass(txType)

    // coded region (64-dim transforms code only the 32 region)
    val cw = math.min(w, 32)
    val ch = math.min(h, 32)
    val scan = getScan(cw, ch, cls)
    val bwl = Integer.numberOfTrailingZeros(cw)

    // ---- eob ----
    val eobClass = Integer.numberOfTrailingZeros(cw * ch) - 4
    val eobCtx = if (cls == TX_CLASS_2D) 0 else 1
    val eobTable = eobClass match {
      case 0 => cdf.eobPt16
      case 1 => cdf.eobPt32
      case 2 => cdf.eobPt64
      case 3 => cdf.eobPt128
      case 4 => cdf.eobPt256
      case 5 => cdf.eobPt512
      case _ => cdf.eobPt1024
    }
    val eobRow = eobTable(ptype * 2 + eobCtx)
    val eobPt = msac.symbol(eobRow, eobRow.length) + 1
    var eob = if (eobPt < 2) eobPt else (1 << (eobPt - 2)) + 1
    if (eobPt >= 3) {
      val extraBits = eobPt - 2
      val ctxIdx = (txSzCtx * 2 + ptype) * 9 + (eobPt - 3)
      if (msac.bool(cdf.eobExtra(ctxIdx))) eob += 1 << (extraBits - 1)
      var i = 1
      while (i < extraBits) {
        if (msac.literal(1) == 1) eob += 1 << (extraBits - 1 - i)
        i += 1
      }
    }
    if (eob > cw * ch) throw Malformed

    // ---- levels: single backward pass, base-range interleaved ----
    val stride = cw + 4
    val levels = new Array[Int]((ch + 4) * stride)
    val quant = new Array[Int](cw * ch)
    val brTxCtx = math.min(txSzCtx, TX_32X32)
    var c = eob - 1
    while (c >= 0) {
      val pos = scan(c)
      val row = pos >> bwl
      val col = pos - (row << bwl)
      val lpos = row * stride + col
      var level = 0
      if (c == eob - 1) {
        val ctx = baseEobCtx(c, bwl, ch)
        level = msac.symbol(
          cdf.coeffBaseEob(txpl(txSzCtx, ptype) * 4 + ctx), 3) + 1
      } else {
        // the 2D shape rule (tall +11 / wide +16) compares the REAL tx
        // dims, not the 32-clipped coded area: TX_32X64/TX_64X32 clip
        // to a 32x32 coded square but keep their tall/wide base-ctx
        // offsets (the r18 10-bit drill: a 32x64 whole-tx block decoded
        // its (0,3) coefficient with the square table and desynced).
        val ctx = baseCtx(levels, stride, row, col, pos, cls, w, h)
        level = msac.symbol(
          cdf.coeffBase(txpl(txSzCtx, ptype) * 42 + ctx), 4)
      }
      if (level > 2) {
        levels(lpos) = level
        var idx = 0
        var done = false
        while (idx < 4 && !done) {
          val ctx = brCtx(levels, stride, row, col, pos, cls)
          val k = msac.symbol(
            cdf.coeffBr(txpl(brTxCtx, ptype) * 21 + ctx), 4)
          level += k
          levels(lpos) = math.min(level, 63)
          if (k < 3) done = true
          idx += 1
        }
      } else levels(lpos) = level
      quant(pos) = level
      c -= 1
    }

    // ---- sign / golomb / dequant ----
    val out = new Array[Int](w * h)
    val dcq = d.dcQuant(plane)
    val acq = d.acQuant(plane)
    // dequant down-shift is PIXEL-COUNT based (spec get_tx_scale:
    // (pels > 256) + (pels > 1024)), NOT square-up-size based: TX_8X32
    // and TX_32X8 (256 pels, square-up 32x32) take shift 0, and
    // TX_16X64 / TX_64X16 (1024 pels, square-up 64x64) take shift 1.
    // The r18 q45 drill found the square-up rule halving every TX_8X32
    // residual (block-exact repro: q45_no2 mi(8,26), NOTES_r18).
    val shift = (if (w * h > 256) 1 else 0) + (if (w * h > 1024) 1 else 0)
    val clampHi = (1 << (d.bd + 7)) - 1
    var culLevel = 0
    var dcCat = 0
    // dc sign ctx
    c = 0
    while (c < eob) {
      val pos = scan(c)
      var level = quant(pos)
      if (level != 0) {
        var neg = false
        if (c == 0) {
          val ctx = dcSignCtx(d, plane, x4, y4, w4, h4)
          neg = msac.bool(cdf.dcSign(ptype * 3 + ctx))
        } else neg = msac.literal(1) == 1
        if (level > 14) level += msac.golomb()
        culLevel += level
        if (c == 0) dcCat = if (neg) 1 else 2
        var dqv = (if (c == 0) dcq else acq).toLong * level
        dqv = dqv & 0xffffff
        var v = (dqv >> shift).toInt
        if (v > clampHi) v = clampHi
        if (neg) v = -v
        val row = pos >> bwl
        val col = pos - (row << bwl)
        out(row * w + col) = v
      }
      c += 1
    }
    culLevel = math.min(63, culLevel)

    // ---- inverse transform ----
    if (lossless) Av1Transform.iwht4x4(out)
    else Av1Transform.inverse2d(out, txSz, txType, d.bd)

    setCoefCtx(d, plane, x, y, w, h, culLevel, dcCat)
    out
  }

  private def baseEobCtx(scanIdx: Int, bwl: Int, ch: Int): Int = {
    if (scanIdx == 0) 0
    else if (scanIdx <= (ch << bwl) / 8) 1
    else if (scanIdx <= (ch << bwl) / 4) 2
    else 3
  }

  private def baseCtx(levels: Array[Int], stride: Int, row: Int,
      col: Int, pos: Int, cls: Int, cw: Int, ch: Int): Int = {
    @inline def lv(r: Int, c: Int): Int =
      math.min(levels(r * stride + c), 3)
    var mag = lv(row, col + 1) + lv(row + 1, col)
    cls match {
      case TX_CLASS_2D =>
        mag += lv(row + 1, col + 1) + lv(row, col + 2) + lv(row + 2, col)
      case TX_CLASS_HORIZ =>
        mag += lv(row, col + 2) + lv(row, col + 3) + lv(row, col + 4)
      case TX_CLASS_VERT =>
        mag += lv(row + 2, col) + lv(row + 3, col) + lv(row + 4, col)
    }
    val ctx = math.min((mag + 1) >> 1, 4)
    cls match {
      case TX_CLASS_2D =>
        // per-shape offsets (spec Coeff_Base_Ctx_Offset, recovered from
        // libgav1's embedded per-size tables): square uses the 5x5
        // table; tall transforms map rows < 2 to 11; wide map cols < 2
        // to 16; position 0 is always context 0.
        if (pos == 0) 0
        else if (ch > cw && row < 2) ctx + 11
        else if (cw > ch && col < 2) ctx + 16
        else ctx + Base2dOffset(math.min(row, 4))(math.min(col, 4))
      case TX_CLASS_HORIZ =>
        // 1D contexts live at 26/31/36 within the same 42-wide cdf
        ctx + (if (col == 0) 26 else if (col == 1) 31 else 36)
      case TX_CLASS_VERT =>
        ctx + (if (row == 0) 26 else if (row == 1) 31 else 36)
    }
  }

  private def brCtx(levels: Array[Int], stride: Int, row: Int,
      col: Int, pos: Int, cls: Int): Int = {
    @inline def lv(r: Int, c: Int): Int = levels(r * stride + c)
    var mag = lv(row, col + 1) + lv(row + 1, col)
    cls match {
      case TX_CLASS_2D => mag += lv(row + 1, col + 1)
      case TX_CLASS_HORIZ => mag += lv(row, col + 2)
      case TX_CLASS_VERT => mag += lv(row + 2, col)
    }
    mag = math.min((mag + 1) >> 1, 6)
    if (pos == 0) mag
    else cls match {
      case TX_CLASS_2D =>
        if (row < 2 && col < 2) mag + 7 else mag + 14
      case TX_CLASS_HORIZ =>
        if (col == 0) mag + 7 else mag + 14
      case TX_CLASS_VERT =>
        if (row == 0) mag + 7 else mag + 14
    }
  }

  private def txbSkipCtx(d: Av1FrameDecode, plane: Int, x4: Int,
      y4: Int, w4: Int, h4: Int, txSz: Int, bSize: Int): Int = {
    val above = d.aboveLevel(plane)
    val leftA = d.leftLevel(plane)
    if (plane == 0) {
      // block size equal to tx size -> ctx 0
      val bw4 = BlockW4(bSize)
      val bh4 = BlockH4(bSize)
      if (bw4 * 4 == TxW(txSz) && bh4 * 4 == TxH(txSz)) 0
      else {
        var top = 0
        var left = 0
        var i = 0
        while (i < w4) { top |= above(x4 + i); i += 1 }
        i = 0
        while (i < h4) { left |= leftA(y4 + i); i += 1 }
        top = math.min(top, 63)
        left = math.min(left, 63)
        val mn = math.min(math.min(top, left), 4)
        val mx = math.min(math.max(top, left), 4)
        SkipContexts(mn)(mx)
      }
    } else {
      var anyA = 0
      var anyL = 0
      var i = 0
      while (i < w4) { if (above(x4 + i) != 0) anyA = 1; i += 1 }
      i = 0
      while (i < h4) { if (leftA(y4 + i) != 0) anyL = 1; i += 1 }
      val shX = d.subX
      val shY = d.subY
      val bw4 = math.max(1, BlockW4(bSize) >> shX)
      val bh4 = math.max(1, BlockH4(bSize) >> shY)
      val larger = bw4 * bh4 > (TxW(txSz) >> 2) * (TxH(txSz) >> 2)
      (if (larger) 10 else 7) + anyA + anyL
    }
  }

  private def dcSignCtx(d: Av1FrameDecode, plane: Int, x4: Int,
      y4: Int, w4: Int, h4: Int): Int = {
    var score = 0
    var i = 0
    while (i < w4) {
      val v = d.aboveDc(plane)(x4 + i)
      if (v == 1) score -= 1 else if (v == 2) score += 1
      i += 1
    }
    i = 0
    while (i < h4) {
      val v = d.leftDc(plane)(y4 + i)
      if (v == 1) score -= 1 else if (v == 2) score += 1
      i += 1
    }
    if (score < 0) 1 else if (score > 0) 2 else 0
  }

  def setCoefCtx(d: Av1FrameDecode, plane: Int, x: Int, y: Int,
      w: Int, h: Int, culLevel: Int, dcCat: Int): Unit = {
    val x4 = x >> 2
    val y4 = y >> 2
    // clamp to the coded mi area: a tx may legally overhang the coded
    // plane (e.g. a 32x32 at the right edge of a 56px-wide frame);
    // the reference decoders never write entropy context for the
    // overhang units, so a later neighbor scan sees ZEROS there. An
    // unclamped store flips sum-based contexts (dc_sign) for
    // neighbors at the frame edge (r18 t1101 drill: above 8x neg vs
    // ref 6x neg + 2 clear turned ctx 2 into ctx 0).
    val wUnits = math.min(w >> 2, (d.miW(plane) - x + 3) >> 2)
    val hUnits = math.min(h >> 2, (d.miH(plane) - y + 3) >> 2)
    var i = 0
    while (i < wUnits) {
      d.aboveLevel(plane)(x4 + i) = culLevel
      d.aboveDc(plane)(x4 + i) = dcCat
      i += 1
    }
    i = 0
    while (i < hUnits) {
      d.leftLevel(plane)(y4 + i) = culLevel
      d.leftDc(plane)(y4 + i) = dcCat
      i += 1
    }
  }
}
