package graft.operators.av1

/** Palette mode (spec 5.11.46-50 / 7.11.4): palette color coding with
  * the merged above/left color cache, delta-coded new colors, and the
  * diagonal-wavefront color index map with score-sorted symbol
  * remapping. Prediction for palette blocks writes the mapped colors
  * directly; the residual path runs unchanged on top.
  */
object Av1Palette {

  /** spec Palette_Color_Context lookup: hash = s0 + 2*s1 + 2*s2 over
    * the descending-sorted neighbor scores (weights: above 2, left 2,
    * above-left 1)
    */
  private val CtxLookup: Array[Int] =
    Array(-1, -1, 0, -1, -1, 4, 3, 2, 1)

  /** merged sorted color cache from the above (same-superblock row)
    * and left neighbors' palettes
    */
  def paletteCache(d: Av1FrameDecode, plane: Int, miR: Int,
      miC: Int): Array[Int] = {
    val sizes = if (plane == 0) d.paletteSizeY else d.paletteSizeUV
    val colors = if (plane == 0) d.paletteColorsY else d.paletteColorsUV
    // above available only within the same 64x64 superblock row
    val aboveOk = miR > d.miRowStart && ((miR * 4) % 64) != 0
    val leftOk = miC > d.miColStart
    val above: Array[Int] =
      if (aboveOk && sizes((miR - 1) * d.miCols + miC) > 0)
        colors((miR - 1) * d.miCols + miC)
      else Array.empty[Int]
    val left: Array[Int] =
      if (leftOk && sizes(miR * d.miCols + miC - 1) > 0)
        colors(miR * d.miCols + miC - 1)
      else Array.empty[Int]
    // merge two sorted lists, deduplicating
    val out = new Array[Int](above.length + left.length)
    var i = 0
    var j = 0
    var n = 0
    while (i < above.length || j < left.length) {
      val v =
        if (j >= left.length) { val x = above(i); i += 1; x }
        else if (i >= above.length) { val x = left(j); j += 1; x }
        else if (above(i) < left(j)) { val x = above(i); i += 1; x }
        else if (above(i) > left(j)) { val x = left(j); j += 1; x }
        else { val x = above(i); i += 1; j += 1; x }
      if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** read a luma or chroma-U style palette (cache flags + ascending
    * delta-coded new colors); returns the sorted palette
    */
  def readPalette(d: Av1FrameDecode, cache: Array[Int], size: Int,
      minDelta: Int): Array[Int] = {
    val msac = d.msac
    val bd = d.bd
    val fromCache = new Array[Int](size)
    var nCache = 0
    var i = 0
    while (i < cache.length && nCache < size) {
      if (msac.literal(1) == 1) { fromCache(nCache) = cache(i); nCache += 1 }
      i += 1
    }
    val out = new Array[Int](size)
    System.arraycopy(fromCache, 0, out, 0, nCache)
    var n = nCache
    if (n < size) {
      var c = msac.literal(bd)
      out(n) = c
      n += 1
      if (n < size) {
        var bits = bd - 3 + msac.literal(2)
        while (n < size) {
          val delta = msac.literal(bits) + minDelta
          c = math.min(c + delta, (1 << bd) - 1)
          out(n) = c
          n += 1
          if (n < size) {
            val range = (1 << bd) - 1 - c - minDelta
            bits = math.min(bits, ceilLog2(range + 1))
            if (bits <= 0) {
              // remaining colors forced
              while (n < size) {
                c = math.min(c + minDelta, (1 << bd) - 1)
                out(n) = c
                n += 1
              }
            }
          }
        }
      }
      java.util.Arrays.sort(out)
    }
    out
  }

  /** V-plane palette: either raw literals or signed wrap-around deltas */
  def readPaletteV(d: Av1FrameDecode, size: Int): Array[Int] = {
    val msac = d.msac
    val bd = d.bd
    val maxVal = 1 << bd
    val out = new Array[Int](size)
    if (msac.literal(1) == 1) {
      // delta encoding
      val bits = bd - 4 + msac.literal(2)
      var c = msac.literal(bd)
      out(0) = c
      var i = 1
      while (i < size) {
        var delta = msac.literal(bits)
        if (delta != 0 && msac.literal(1) == 1) delta = -delta
        var v = c + delta
        if (v < 0) v += maxVal
        if (v >= maxVal) v -= maxVal
        c = v
        out(i) = v
        i += 1
      }
    } else {
      var i = 0
      while (i < size) { out(i) = msac.literal(bd); i += 1 }
    }
    out
  }

  @inline private def ceilLog2(x: Int): Int =
    if (x <= 1) 0 else 32 - Integer.numberOfLeadingZeros(x - 1)

  /** read the color index map over onscreen (w x h) in diagonal
    * wavefront order; cdfRows = the per-(size-2) 5-context cdf rows.
    */
  /** spec NS(n) — truncated binary ("non-symmetric") code, equal to
    * plain FloorLog2 bits only when n is a power of two
    */
  private def readNS(msac: Av1Msac, n: Int): Int = {
    val w = 31 - Integer.numberOfLeadingZeros(n) + 1 // FloorLog2(n)+1
    val m = (1 << w) - n
    val v = msac.literal(w - 1)
    if (v < m) v
    else (v << 1) - m + msac.literal(1)
  }

  def readIndexMap(d: Av1FrameDecode, w: Int, h: Int, size: Int,
      cdf: Array[Array[Int]]): Array[Int] = {
    val msac = d.msac
    val map = new Array[Int](w * h)
    map(0) = readNS(msac, size)
    var k = 1
    while (k < w + h - 1) {
      // spec 5.11.47: within each anti-diagonal j runs DESCENDING
      // (ascending desyncs multi-block maps; settled by the pix*/vpal
      // differential sweeps)
      val jLo = math.max(0, k - h + 1)
      var j = math.min(k, w - 1)
      while (j >= jLo) {
        val i = k - j
        // neighbor scores: left 2, above 2, above-left 1
        val scores = new Array[Int](8)
        if (j > 0) scores(map(i * w + j - 1)) += 2
        if (i > 0 && j > 0) scores(map((i - 1) * w + j - 1)) += 1
        if (i > 0) scores(map((i - 1) * w + j)) += 2
        // spec partial sort: only the top PALETTE_NUM_NEIGHBORS(=3)
        // slots are settled; the tail keeps shifted index order
        val order = Array.tabulate(8)(identity)
        var a = 0
        while (a < 3) {
          var maxScore = scores(a)
          var maxIdx = a
          var b = a + 1
          while (b < size) {
            if (scores(b) > maxScore) { maxScore = scores(b); maxIdx = b }
            b += 1
          }
          if (maxIdx != a) {
            val t = order(maxIdx)
            var m = maxIdx
            while (m > a) {
              scores(m) = scores(m - 1)
              order(m) = order(m - 1)
              m -= 1
            }
            scores(a) = maxScore
            order(a) = t
          }
          a += 1
        }
        val hash = scores(0) + 2 * scores(1) + 2 * scores(2)
        val ctx = CtxLookup(hash)
        val sym = msac.symbol(cdf(ctx), size)
        map(i * w + j) = order(sym)
        if (d.trace && System.getenv("GRAFT_AV1_PALTRACE") != null)
          println(s"PT ($i,$j) ctx=$ctx sym=$sym -> ${order(sym)} " +
            s"cdf=${cdf(ctx).mkString(",")}")
        j -= 1
      }
      k += 1
    }
    map
  }
}
