package graft.operators.av1

/** Multi-symbol adaptive-CDF arithmetic decoder (AV1 spec 8.2, the
  * daala range coder): 64-bit window kept bit-inverted (init all-ones,
  * bytes XORed in, end-of-stream and renormalization shift in ones =
  * inverted zero padding — the convention both reference decoders
  * implement and the one the encoder's flush assumes).
  *
  * CDF rows are the inverse-CDF u16 arrays from [[Av1Tables]] with the
  * shared zero-prob/counter slot at index N-1 (counter <= 32 < 1<<6
  * keeps the last-symbol threshold at zero — spec packing).
  * EC_PROB_SHIFT = 6, EC_MIN_PROB = 4.
  */
final class Av1Msac(buf: Array[Byte], start: Int, end: Int,
    val allowUpdate: Boolean) {

  private var pos = start
  private var dif: Long = (1L << 63) - 1
  private var rng: Int = 0x8000
  private var cnt: Int = -15
  refill()

  private def refill(): Unit = {
    var c = 64 - cnt - 24
    var continue = true
    while (continue) {
      if (pos >= end) {
        // past the tile end: fill with ones (inverted zero bits) and
        // stop refilling for good — renormalization keeps shifting
        // ones in via ((dif+1)<<d)-1, which is the same padding.
        dif |= ~((~0xffL) << c)
        cnt = 0x4000
        return
      } else {
        dif ^= (buf(pos) & 0xffL) << c
        pos += 1
        c -= 8
        if (c < 0) continue = false
      }
    }
    cnt = 64 - c - 24
  }

  private def norm(difIn: Long, rngIn: Int): Unit = {
    val d = java.lang.Integer.numberOfLeadingZeros(rngIn) - 16
    cnt -= d
    dif = ((difIn + 1) << d) - 1
    rng = rngIn << d
    if (cnt < 0) refill()
  }

  /** decode one symbol from an adaptive cdf of `n` symbols (array
    * length n: n-1 probs + counter).
    */
  def symbol(cdf: Array[Int], n: Int): Int = {
    val c = (dif >>> 48).toInt
    val r8 = rng >> 8
    var v = rng
    var u = 0
    var ret = -1
    while ({
      ret += 1
      u = v
      v = ((r8 * (cdf(ret) >> 6)) >> 1) + 4 * (n - 1 - ret)
      c < v
    }) ()
    norm(dif - (v.toLong << 48), u - v)
    if (allowUpdate) update(cdf, ret, n)
    ret
  }

  private def update(cdf: Array[Int], sym: Int, n: Int): Unit = {
    val count = cdf(n - 1)
    val rate = 4 + (count >> 4) + (if (n > 3) 1 else 0)
    var i = 0
    while (i < n - 1) {
      if (i < sym) cdf(i) += (32768 - cdf(i)) >> rate
      else cdf(i) -= cdf(i) >> rate
      i += 1
    }
    cdf(n - 1) = count + (if (count < 32) 1 else 0)
  }

  /** adaptive boolean (2-symbol cdf) */
  def bool(cdf: Array[Int]): Boolean = symbol(cdf, 2) == 1

  /** fixed-probability boolean; f = inverse prob of the zero symbol */
  def boolProb(f: Int): Boolean = {
    val c = (dif >>> 48).toInt
    val v = (((rng >> 8) * (f >> 6)) >> 1) + 4
    if (c < v) { norm(dif, v); true }
    else { norm(dif - (v.toLong << 48), rng - v); false }
  }

  /** equiprobable boolean */
  def boolEqui(): Boolean = boolProb(16384)

  /** n-bit literal, MSB first (spec L(n)) */
  /** spec NS(n) — truncated binary code over equiprobable bools */
  def ns(n: Int): Int = {
    val w = 31 - Integer.numberOfLeadingZeros(n) + 1 // FloorLog2(n)+1
    val m = (1 << w) - n
    val v = literal(w - 1)
    if (v < m) v
    else (v << 1) - m + literal(1)
  }

  def literal(n: Int): Int = {
    var v = 0
    var i = 0
    while (i < n) {
      v = (v << 1) | (if (boolEqui()) 1 else 0)
      i += 1
    }
    v
  }

  /** exp-golomb suffix used by coefficient levels beyond the base
    * range (spec read_golomb): unary zero-count length then bits.
    */
  def golomb(): Int = {
    var length = 0
    while (!boolEqui() && length < 32) length += 1
    var x = 1
    var i = 0
    while (i < length) {
      x = (x << 1) | (if (boolEqui()) 1 else 0)
      i += 1
    }
    x - 1
  }
}
