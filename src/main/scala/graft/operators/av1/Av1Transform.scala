package graft.operators.av1

/** AV1 inverse transforms (spec 7.13): 1D inverse DCT (4..64), inverse
  * ADST (4/8/16) incl. flipped variants, identity scalings, the
  * lossless 4x4 Walsh-Hadamard, and the 2D wrapper with the normative
  * rect-ratio-2 1/sqrt(2) pre-scale, per-pass down-shifts and
  * intermediate clamping. Constants come from the extracted/verified
  * cos128/sinpi tables ([[Av1Tables]]).
  *
  * Every multiply site is Round2(a*cos + b*sin, 12) (the spec's B()
  * function); adds clamp to the active pass range — bit-exactness is
  * pinned end-to-end by the reference differential sweep.
  */
object Av1Transform {
  import Av1Consts._

  private val cos = Av1Tables.flat("cos128") :+ 0 // entry 64 = 0
  private val sinpi = Av1Tables.flat("sinpi")

  @inline private def round2(x: Long, n: Int): Int =
    if (n == 0) x.toInt else ((x + (1L << (n - 1))) >> n).toInt

  /** cos128 over full angle range (spec 7.13.2.1) */
  @inline private def cos128(angle: Int): Int = {
    val a = angle & 255
    if (a <= 64) cos(a)
    else if (a <= 128) -cos(128 - a)
    else if (a <= 192) -cos(a - 128)
    else cos(256 - a)
  }

  // mutable pass state: clamp range for adds
  private final class Ctx(val range: Int) {
    val lo: Int = -(1 << (range - 1))
    val hi: Int = (1 << (range - 1)) - 1
    @inline def clamp(x: Int): Int =
      if (x < lo) lo else if (x > hi) hi else x
    /** spec B(): rotate (a,b) by angle; if flip, swap outputs */
    @inline def hb(w0: Int, x0: Int, w1: Int, x1: Int): Int =
      clamp(round2(w0.toLong * x0 + w1.toLong * x1, 12))
  }

  // ---------------- inverse DCT (spec 7.13.2.3 network) --------------
  // Explicit per-size butterfly networks matching the normative
  // structure; idct32/64 built from the nested even/odd decomposition.

  private def idct4(t: Array[Int], o: Int, c: Ctx): Unit = {
    val in0 = t(o); val in1 = t(o + 1); val in2 = t(o + 2); val in3 = t(o + 3)
    // stage 2 (after implicit bitrev [0,2,1,3])
    val s0 = c.hb(cos128(32), in0, cos128(32), in2)
    val s1 = c.hb(cos128(32), in0, -cos128(32), in2)
    val s2 = c.hb(cos128(48), in1, -cos128(16), in3)
    val s3 = c.hb(cos128(16), in1, cos128(48), in3)
    t(o) = c.clamp(s0 + s3)
    t(o + 1) = c.clamp(s1 + s2)
    t(o + 2) = c.clamp(s1 - s2)
    t(o + 3) = c.clamp(s0 - s3)
  }

  /** generic odd-part post-rotation network: given the odd half in
    * `x(0..m-1)` (already rotated by the first-stage angles), runs the
    * recursive add/rotate reduction; the result is the odd outputs in
    * order o[0..m-1] such that final out[k] = e[k] + o[m*2-1-k]... For
    * clarity and confidence the per-size DCTs below are explicit.
    */
  private def idct8(t: Array[Int], o: Int, c: Ctx): Unit = {
    // even part on indices 0,2,4,6
    val e = Array(t(o), t(o + 2), t(o + 4), t(o + 6))
    idct4(e, 0, c)
    // odd part: inputs 1,5,3,7 (bitrev order of odd indices)
    val x4 = c.hb(cos128(56), t(o + 1), -cos128(8), t(o + 7))
    val x7 = c.hb(cos128(8), t(o + 1), cos128(56), t(o + 7))
    val x5 = c.hb(cos128(24), t(o + 5), -cos128(40), t(o + 3))
    val x6 = c.hb(cos128(40), t(o + 5), cos128(24), t(o + 3))
    val s4 = c.clamp(x4 + x5)
    val s5 = c.clamp(x4 - x5)
    val s6 = c.clamp(-x6 + x7)
    val s7 = c.clamp(x6 + x7)
    val n5 = c.hb(-cos128(32), s5, cos128(32), s6)
    val n6 = c.hb(cos128(32), s5, cos128(32), s6)
    t(o) = c.clamp(e(0) + s7)
    t(o + 1) = c.clamp(e(1) + n6)
    t(o + 2) = c.clamp(e(2) + n5)
    t(o + 3) = c.clamp(e(3) + s4)
    t(o + 4) = c.clamp(e(3) - s4)
    t(o + 5) = c.clamp(e(2) - n5)
    t(o + 6) = c.clamp(e(1) - n6)
    t(o + 7) = c.clamp(e(0) - s7)
  }

  private def idct16(t: Array[Int], o: Int, c: Ctx): Unit = {
    val e = Array(t(o), t(o + 2), t(o + 4), t(o + 6), t(o + 8),
      t(o + 10), t(o + 12), t(o + 14))
    idct8(e, 0, c)
    // odd inputs in bitrev order: 1,9,5,13,3,11,7,15
    // stage 2 rotations: pairs (j, 16-j) with angle 64 - 4*j
    val x8 = c.hb(cos128(60), t(o + 1), -cos128(4), t(o + 15))
    val x15 = c.hb(cos128(4), t(o + 1), cos128(60), t(o + 15))
    val x9 = c.hb(cos128(28), t(o + 9), -cos128(36), t(o + 7))
    val x14 = c.hb(cos128(36), t(o + 9), cos128(28), t(o + 7))
    val x10 = c.hb(cos128(44), t(o + 5), -cos128(20), t(o + 11))
    val x13 = c.hb(cos128(20), t(o + 5), cos128(44), t(o + 11))
    val x11 = c.hb(cos128(12), t(o + 13), -cos128(52), t(o + 3))
    val x12 = c.hb(cos128(52), t(o + 13), cos128(12), t(o + 3))
    // stage 3
    val s8 = c.clamp(x8 + x9); val s9 = c.clamp(x8 - x9)
    val s10 = c.clamp(-x10 + x11); val s11 = c.clamp(x10 + x11)
    val s12 = c.clamp(x12 + x13); val s13 = c.clamp(x12 - x13)
    val s14 = c.clamp(-x14 + x15); val s15 = c.clamp(x14 + x15)
    // stage 4
    val n9 = c.hb(-cos128(16), s9, cos128(48), s14)
    val n14 = c.hb(cos128(48), s9, cos128(16), s14)
    val n10 = c.hb(-cos128(48), s10, -cos128(16), s13)
    val n13 = c.hb(-cos128(16), s10, cos128(48), s13)
    // stage 5
    val p8 = c.clamp(s8 + s11); val p11 = c.clamp(s8 - s11)
    val p9 = c.clamp(n9 + n10); val p10 = c.clamp(n9 - n10)
    val p12 = c.clamp(-s12 + s15); val p15 = c.clamp(s12 + s15)
    val p13 = c.clamp(-n13 + n14); val p14 = c.clamp(n13 + n14)
    // stage 6
    val q10 = c.hb(-cos128(32), p10, cos128(32), p13)
    val q13 = c.hb(cos128(32), p10, cos128(32), p13)
    val q11 = c.hb(-cos128(32), p11, cos128(32), p12)
    val q12 = c.hb(cos128(32), p11, cos128(32), p12)
    val odd = Array(p8, p9, q10, q11, q12, q13, p14, p15)
    var k = 0
    while (k < 8) {
      t(o + k) = c.clamp(e(k) + odd(7 - k))
      t(o + 15 - k) = c.clamp(e(k) - odd(7 - k))
      k += 1
    }
  }

  private def idct32(t: Array[Int], o: Int, c: Ctx): Unit = {
    val e = new Array[Int](16)
    var i = 0
    while (i < 16) { e(i) = t(o + 2 * i); i += 1 }
    idct16(e, 0, c)
    // odd inputs j = 1,3,..31; bitrev-of-16 order:
    // 1,17,9,25,5,21,13,29,3,19,11,27,7,23,15,31
    val ord = Array(1, 17, 9, 25, 5, 21, 13, 29, 3, 19, 11, 27, 7, 23,
      15, 31)
    val x = new Array[Int](16)
    // stage 2 rotations: element with original index j pairs with 32-j,
    // angle = 64 - 2*j; pair positions (k, 15-k) over ord halves.
    i = 0
    while (i < 8) {
      val j = ord(i)
      val a = t(o + j)
      val b = t(o + 32 - j)
      x(i) = c.hb(cos128(64 - 2 * j), a, -cos128(2 * j), b)
      x(15 - i) = c.hb(cos128(2 * j), a, cos128(64 - 2 * j), b)
      i += 1
    }
    // stage 3: adjacent add/sub with alternating orientation
    val s = new Array[Int](16)
    i = 0
    while (i < 16) {
      if ((i & 2) == 0) {
        s(i) = c.clamp(x(i) + x(i + 1)); s(i + 1) = c.clamp(x(i) - x(i + 1))
      } else {
        s(i) = c.clamp(-x(i) + x(i + 1)); s(i + 1) = c.clamp(x(i) + x(i + 1))
      }
      i += 2
    }
    // stage 4: rotations on odd positions with angles 8/40 pattern
    val n = s.clone()
    n(1) = c.hb(-cos128(8), s(1), cos128(56), s(14))
    n(14) = c.hb(cos128(56), s(1), cos128(8), s(14))
    n(2) = c.hb(-cos128(56), s(2), -cos128(8), s(13))
    n(13) = c.hb(-cos128(8), s(2), cos128(56), s(13))
    n(5) = c.hb(-cos128(40), s(5), cos128(24), s(10))
    n(10) = c.hb(cos128(24), s(5), cos128(40), s(10))
    n(6) = c.hb(-cos128(24), s(6), -cos128(40), s(9))
    n(9) = c.hb(-cos128(40), s(6), cos128(24), s(9))
    // stage 5: groups of 4, pairs (g*4+k, g*4+3-k); sign alternates per group
    val p = new Array[Int](16)
    var g = 0
    while (g < 4) {
      val b0 = 4 * g
      var k5 = 0
      while (k5 < 2) {
        val a = n(b0 + k5); val b = n(b0 + 3 - k5)
        if ((g & 1) == 0) {
          p(b0 + k5) = c.clamp(a + b); p(b0 + 3 - k5) = c.clamp(a - b)
        } else {
          p(b0 + k5) = c.clamp(-a + b); p(b0 + 3 - k5) = c.clamp(a + b)
        }
        k5 += 1
      }
      g += 1
    }
    // stage 6: rotations 16/48 on middle pairs
    val q = p.clone()
    q(2) = c.hb(-cos128(16), p(2), cos128(48), p(13))
    q(13) = c.hb(cos128(48), p(2), cos128(16), p(13))
    q(3) = c.hb(-cos128(16), p(3), cos128(48), p(12))
    q(12) = c.hb(cos128(48), p(3), cos128(16), p(12))
    q(4) = c.hb(-cos128(48), p(4), -cos128(16), p(11))
    q(11) = c.hb(-cos128(16), p(4), cos128(48), p(11))
    q(5) = c.hb(-cos128(48), p(5), -cos128(16), p(10))
    q(10) = c.hb(-cos128(16), p(5), cos128(48), p(10))
    // stage 7: groups of 8, pairs (g*8+k, g*8+7-k); first group (+,-),
    // second group (-,+)
    val r0 = c.clamp(q(0) + q(7)); val r7 = c.clamp(q(0) - q(7))
    val r1 = c.clamp(q(1) + q(6)); val r6 = c.clamp(q(1) - q(6))
    val r2 = c.clamp(q(2) + q(5)); val r5 = c.clamp(q(2) - q(5))
    val r3 = c.clamp(q(3) + q(4)); val r4 = c.clamp(q(3) - q(4))
    val r8 = c.clamp(-q(8) + q(15)); val r15 = c.clamp(q(8) + q(15))
    val r9 = c.clamp(-q(9) + q(14)); val r14 = c.clamp(q(9) + q(14))
    val r10 = c.clamp(-q(10) + q(13)); val r13 = c.clamp(q(10) + q(13))
    val r11 = c.clamp(-q(11) + q(12)); val r12 = c.clamp(q(11) + q(12))
    // stage 8: cospi32 rotations on the middle 8
    val f4 = c.hb(-cos128(32), r4, cos128(32), r11)
    val f11 = c.hb(cos128(32), r4, cos128(32), r11)
    val f5 = c.hb(-cos128(32), r5, cos128(32), r10)
    val f10 = c.hb(cos128(32), r5, cos128(32), r10)
    val f6 = c.hb(-cos128(32), r6, cos128(32), r9)
    val f9 = c.hb(cos128(32), r6, cos128(32), r9)
    val f7 = c.hb(-cos128(32), r7, cos128(32), r8)
    val f8 = c.hb(cos128(32), r7, cos128(32), r8)
    val odd = Array(r0, r1, r2, r3, f4, f5, f6, f7, f8, f9, f10, f11,
      r12, r13, r14, r15)
    var k = 0
    while (k < 16) {
      t(o + k) = c.clamp(e(k) + odd(15 - k))
      t(o + 31 - k) = c.clamp(e(k) - odd(15 - k))
      k += 1
    }
  }

  private def idct64(t: Array[Int], o: Int, c: Ctx): Unit = {
    val e = new Array[Int](32)
    var i = 0
    while (i < 32) { e(i) = t(o + 2 * i); i += 1 }
    idct32(e, 0, c)
    // odd inputs: bitrev-of-32 order over odd original indices
    val ord = new Array[Int](32)
    i = 0
    while (i < 32) {
      // bit-reverse i in 5 bits then map to odd index 2*rev+1
      var v = i; var rev = 0; var b = 0
      while (b < 5) { rev = (rev << 1) | (v & 1); v >>= 1; b += 1 }
      ord(i) = 2 * rev + 1
      i += 1
    }
    val x = new Array[Int](32)
    i = 0
    while (i < 16) {
      val j = ord(i)
      val a = t(o + j)
      val b = t(o + 64 - j)
      x(i) = c.hb(cos128(64 - j), a, -cos128(j), b)
      x(31 - i) = c.hb(cos128(j), a, cos128(64 - j), b)
      i += 1
    }
    // stage 3: adjacent add/sub alternating
    val s = new Array[Int](32)
    i = 0
    while (i < 32) {
      if ((i & 2) == 0) {
        s(i) = c.clamp(x(i) + x(i + 1)); s(i + 1) = c.clamp(x(i) - x(i + 1))
      } else {
        s(i) = c.clamp(-x(i) + x(i + 1)); s(i + 1) = c.clamp(x(i) + x(i + 1))
      }
      i += 2
    }
    // stage 4: rotations angle 4/60 family on position pairs (k,31-k)
    val n = s.clone()
    def rot4(a: Int, b: Int, ang: Int, neg: Boolean): Unit = {
      val wa = s(a); val wb = s(b)
      if (!neg) {
        n(a) = c.hb(-cos128(ang), wa, cos128(64 - ang), wb)
        n(b) = c.hb(cos128(64 - ang), wa, cos128(ang), wb)
      } else {
        n(a) = c.hb(-cos128(64 - ang), wa, -cos128(ang), wb)
        n(b) = c.hb(-cos128(ang), wa, cos128(64 - ang), wb)
      }
    }
    rot4(1, 30, 4, neg = false)
    rot4(2, 29, 4, neg = true)
    rot4(5, 26, 36, neg = false)
    rot4(6, 25, 36, neg = true)
    rot4(9, 22, 20, neg = false)
    rot4(10, 21, 20, neg = true)
    rot4(13, 18, 52, neg = false)
    rot4(14, 17, 52, neg = true)
    // stage 5: groups of 4, pairs (g*4+k, g*4+3-k); sign alternates per group
    val p = n.clone()
    var g5 = 0
    while (g5 < 8) {
      val b0 = 4 * g5
      var k5 = 0
      while (k5 < 2) {
        val a = n(b0 + k5); val b = n(b0 + 3 - k5)
        if ((g5 & 1) == 0) {
          p(b0 + k5) = c.clamp(a + b); p(b0 + 3 - k5) = c.clamp(a - b)
        } else {
          p(b0 + k5) = c.clamp(-a + b); p(b0 + 3 - k5) = c.clamp(a + b)
        }
        k5 += 1
      }
      g5 += 1
    }
    // stage 6: rotations angle 8/56 family
    val q = p.clone()
    def rot6(a: Int, b: Int, ang: Int, neg: Boolean): Unit = {
      val wa = p(a); val wb = p(b)
      if (!neg) {
        q(a) = c.hb(-cos128(ang), wa, cos128(64 - ang), wb)
        q(b) = c.hb(cos128(64 - ang), wa, cos128(ang), wb)
      } else {
        q(a) = c.hb(-cos128(64 - ang), wa, -cos128(ang), wb)
        q(b) = c.hb(-cos128(ang), wa, cos128(64 - ang), wb)
      }
    }
    rot6(2, 29, 8, neg = false)
    rot6(3, 28, 8, neg = false)
    rot6(4, 27, 8, neg = true)
    rot6(5, 26, 8, neg = true)
    rot6(10, 21, 40, neg = false)
    rot6(11, 20, 40, neg = false)
    rot6(12, 19, 40, neg = true)
    rot6(13, 18, 40, neg = true)
    // stage 7: groups of 8, pairs (g*8+k, g*8+7-k); sign alternates per group
    val r = new Array[Int](32)
    var g7 = 0
    while (g7 < 4) {
      val b0 = 8 * g7
      var k7 = 0
      while (k7 < 4) {
        val a = q(b0 + k7); val b = q(b0 + 7 - k7)
        if ((g7 & 1) == 0) {
          r(b0 + k7) = c.clamp(a + b); r(b0 + 7 - k7) = c.clamp(a - b)
        } else {
          r(b0 + k7) = c.clamp(-a + b); r(b0 + 7 - k7) = c.clamp(a + b)
        }
        k7 += 1
      }
      g7 += 1
    }
    // stage 8: rotations 16/48
    val u = r.clone()
    def rot8(a: Int, b: Int, neg: Boolean): Unit = {
      val wa = r(a); val wb = r(b)
      if (!neg) {
        u(a) = c.hb(-cos128(16), wa, cos128(48), wb)
        u(b) = c.hb(cos128(48), wa, cos128(16), wb)
      } else {
        u(a) = c.hb(-cos128(48), wa, -cos128(16), wb)
        u(b) = c.hb(-cos128(16), wa, cos128(48), wb)
      }
    }
    rot8(4, 27, neg = false)
    rot8(5, 26, neg = false)
    rot8(6, 25, neg = false)
    rot8(7, 24, neg = false)
    rot8(8, 23, neg = true)
    rot8(9, 22, neg = true)
    rot8(10, 21, neg = true)
    rot8(11, 20, neg = true)
    // stage 9: groups of 16, pairs (g*16+k, g*16+15-k); first group (+,-),
    // second (-,+)
    val w = new Array[Int](32)
    i = 0
    while (i < 8) {
      w(i) = c.clamp(u(i) + u(15 - i)); w(15 - i) = c.clamp(u(i) - u(15 - i))
      w(16 + i) = c.clamp(-u(16 + i) + u(31 - i))
      w(31 - i) = c.clamp(u(16 + i) + u(31 - i))
      i += 1
    }
    // stage 10: cospi32 on middle 16
    val f = w.clone()
    i = 0
    while (i < 8) {
      val a = 8 + i
      val b = 23 - i
      f(a) = c.hb(-cos128(32), w(a), cos128(32), w(b))
      f(b) = c.hb(cos128(32), w(a), cos128(32), w(b))
      i += 1
    }
    var k = 0
    while (k < 32) {
      t(o + k) = c.clamp(e(k) + f(31 - k))
      t(o + 63 - k) = c.clamp(e(k) - f(31 - k))
      k += 1
    }
  }

  // ---------------- inverse ADST ----------------
  private def iadst4(t: Array[Int], o: Int, c: Ctx): Unit = {
    val i0 = t(o); val i1 = t(o + 1); val i2 = t(o + 2); val i3 = t(o + 3)
    var s0 = sinpi(0).toLong * i0
    var s1 = sinpi(1).toLong * i0
    val s2 = sinpi(2).toLong * i1
    val s3 = sinpi(3).toLong * i2
    val s4 = sinpi(0).toLong * i2
    val s5 = sinpi(1).toLong * i3
    val s6 = sinpi(3).toLong * i3
    val a7 = i0 - i2
    val b7 = a7 + i3
    s0 = s0 + s3
    s1 = s1 - s4
    val s3b = s2
    val s2b = sinpi(2).toLong * b7
    s0 = s0 + s5
    s1 = s1 - s6
    val x0 = s0 + s3b
    val x1 = s1 + s3b
    val x2 = s2b
    val x3 = s0 + s1 - s3b
    t(o) = round2(x0, 12)
    t(o + 1) = round2(x1, 12)
    t(o + 2) = round2(x2, 12)
    t(o + 3) = round2(x3, 12)
  }

  private def iadst8(t: Array[Int], o: Int, c: Ctx): Unit = {
    val in = Array(t(o + 7), t(o), t(o + 5), t(o + 2), t(o + 3),
      t(o + 4), t(o + 1), t(o + 6))
    // stage 2
    val b = new Array[Int](8)
    val angs = Array(4, 20, 36, 52)
    var k = 0
    while (k < 4) {
      val a = angs(k)
      b(2 * k) = c.hb(cos128(a), in(2 * k), cos128(64 - a), in(2 * k + 1))
      b(2 * k + 1) = c.hb(cos128(64 - a), in(2 * k), -cos128(a), in(2 * k + 1))
      k += 1
    }
    // stage 3
    val s = new Array[Int](8)
    k = 0
    while (k < 4) {
      s(k) = c.clamp(b(k) + b(k + 4)); s(k + 4) = c.clamp(b(k) - b(k + 4))
      k += 1
    }
    // stage 4
    val n = s.clone()
    n(4) = c.hb(cos128(16), s(4), cos128(48), s(5))
    n(5) = c.hb(cos128(48), s(4), -cos128(16), s(5))
    n(6) = c.hb(-cos128(48), s(6), cos128(16), s(7))
    n(7) = c.hb(cos128(16), s(6), cos128(48), s(7))
    // stage 5
    val p = new Array[Int](8)
    p(0) = c.clamp(n(0) + n(2)); p(2) = c.clamp(n(0) - n(2))
    p(1) = c.clamp(n(1) + n(3)); p(3) = c.clamp(n(1) - n(3))
    p(4) = c.clamp(n(4) + n(6)); p(6) = c.clamp(n(4) - n(6))
    p(5) = c.clamp(n(5) + n(7)); p(7) = c.clamp(n(5) - n(7))
    // stage 6
    val q = p.clone()
    q(2) = c.hb(cos128(32), p(2), cos128(32), p(3))
    q(3) = c.hb(cos128(32), p(2), -cos128(32), p(3))
    q(6) = c.hb(cos128(32), p(6), cos128(32), p(7))
    q(7) = c.hb(cos128(32), p(6), -cos128(32), p(7))
    // stage 7
    t(o) = q(0); t(o + 1) = -q(4); t(o + 2) = q(6); t(o + 3) = -q(2)
    t(o + 4) = q(3); t(o + 5) = -q(7); t(o + 6) = q(5); t(o + 7) = -q(1)
  }

  private def iadst16(t: Array[Int], o: Int, c: Ctx): Unit = {
    val in = Array(t(o + 15), t(o), t(o + 13), t(o + 2), t(o + 11),
      t(o + 4), t(o + 9), t(o + 6), t(o + 7), t(o + 8), t(o + 5),
      t(o + 10), t(o + 3), t(o + 12), t(o + 1), t(o + 14))
    val b = new Array[Int](16)
    val angs = Array(2, 10, 18, 26, 34, 42, 50, 58)
    var k = 0
    while (k < 8) {
      val a = angs(k)
      b(2 * k) = c.hb(cos128(a), in(2 * k), cos128(64 - a), in(2 * k + 1))
      b(2 * k + 1) = c.hb(cos128(64 - a), in(2 * k), -cos128(a), in(2 * k + 1))
      k += 1
    }
    val s = new Array[Int](16)
    k = 0
    while (k < 8) {
      s(k) = c.clamp(b(k) + b(k + 8)); s(k + 8) = c.clamp(b(k) - b(k + 8))
      k += 1
    }
    val n = s.clone()
    n(8) = c.hb(cos128(8), s(8), cos128(56), s(9))
    n(9) = c.hb(cos128(56), s(8), -cos128(8), s(9))
    n(10) = c.hb(cos128(40), s(10), cos128(24), s(11))
    n(11) = c.hb(cos128(24), s(10), -cos128(40), s(11))
    n(12) = c.hb(-cos128(56), s(12), cos128(8), s(13))
    n(13) = c.hb(cos128(8), s(12), cos128(56), s(13))
    n(14) = c.hb(-cos128(24), s(14), cos128(40), s(15))
    n(15) = c.hb(cos128(40), s(14), cos128(24), s(15))
    val p = new Array[Int](16)
    k = 0
    while (k < 16) {
      val base = (k & 8)
      val j = k & 3
      if ((k & 4) == 0) {
        p(base + j) = c.clamp(n(base + j) + n(base + j + 4))
        p(base + j + 4) = c.clamp(n(base + j) - n(base + j + 4))
      }
      k += 1
    }
    val q = p.clone()
    q(4) = c.hb(cos128(16), p(4), cos128(48), p(5))
    q(5) = c.hb(cos128(48), p(4), -cos128(16), p(5))
    q(6) = c.hb(-cos128(48), p(6), cos128(16), p(7))
    q(7) = c.hb(cos128(16), p(6), cos128(48), p(7))
    q(12) = c.hb(cos128(16), p(12), cos128(48), p(13))
    q(13) = c.hb(cos128(48), p(12), -cos128(16), p(13))
    q(14) = c.hb(-cos128(48), p(14), cos128(16), p(15))
    q(15) = c.hb(cos128(16), p(14), cos128(48), p(15))
    val r = new Array[Int](16)
    k = 0
    while (k < 16) {
      val base = k & 12
      if ((k & 2) == 0) {
        val j = k & 1
        r(base + j) = c.clamp(q(base + j) + q(base + j + 2))
        r(base + j + 2) = c.clamp(q(base + j) - q(base + j + 2))
      }
      k += 1
    }
    val f = r.clone()
    var m = 2
    while (m < 16) {
      f(m) = c.hb(cos128(32), r(m), cos128(32), r(m + 1))
      f(m + 1) = c.hb(cos128(32), r(m), -cos128(32), r(m + 1))
      m += 4
    }
    t(o) = f(0); t(o + 1) = -f(8); t(o + 2) = f(12); t(o + 3) = -f(4)
    t(o + 4) = f(6); t(o + 5) = -f(14); t(o + 6) = f(10); t(o + 7) = -f(2)
    t(o + 8) = f(3); t(o + 9) = -f(11); t(o + 10) = f(15)
    t(o + 11) = -f(7); t(o + 12) = f(5); t(o + 13) = -f(13)
    t(o + 14) = f(9); t(o + 15) = -f(1)
  }

  // ---------------- identity ----------------
  private def identity(t: Array[Int], o: Int, n: Int, c: Ctx): Unit = {
    var i = 0
    n match {
      case 4 =>
        while (i < 4) { t(o + i) = round2(t(o + i).toLong * 5793, 12); i += 1 }
      case 8 =>
        while (i < 8) { t(o + i) = c.clamp(t(o + i) * 2); i += 1 }
      case 16 =>
        while (i < 16) {
          t(o + i) = round2(t(o + i).toLong * 2 * 5793, 12); i += 1
        }
      case 32 =>
        while (i < 32) { t(o + i) = c.clamp(t(o + i) * 4); i += 1 }
      case _ => throw new IllegalArgumentException("identity64")
    }
  }

  /** lossless 4x4 inverse Walsh-Hadamard (spec 7.13.2.2); operates on
    * a 4x4 residual array in place; inputs are the dequantized coefs
    * pre-shifted by 2.
    */
  def iwht4x4(t: Array[Int]): Unit = {
    var i = 0
    while (i < 16) { t(i) = t(i) >> 2; i += 1 }
    // rows first, then columns (the (a-d)>>1 butterfly makes the two
    // passes non-commutative; this is the normative order)
    var j = 0
    while (j < 16) {
      var a = t(j); val c0 = t(j + 1); val d0 = t(j + 2); var b = t(j + 3)
      a += c0
      var d = d0 - b
      val e = (a - d) >> 1
      b = e - b
      val c1 = e - c0
      a -= b
      d += c1
      t(j) = a; t(j + 1) = b; t(j + 2) = c1; t(j + 3) = d
      j += 4
    }
    j = 0
    while (j < 4) {
      var a = t(j); val c0 = t(4 + j); val d0 = t(8 + j); var b = t(12 + j)
      a += c0
      var d = d0 - b
      val e = (a - d) >> 1
      b = e - b
      val c1 = e - c0
      a -= b
      d += c1
      t(j) = a; t(4 + j) = b; t(8 + j) = c1; t(12 + j) = d
      j += 1
    }
  }

  private def run1d(t: Array[Int], o: Int, n: Int, kind: Int,
      c: Ctx): Unit = kind match {
    case 0 => n match { // DCT
      case 4 => idct4(t, o, c)
      case 8 => idct8(t, o, c)
      case 16 => idct16(t, o, c)
      case 32 => idct32(t, o, c)
      case 64 => idct64(t, o, c)
    }
    case 1 => n match { // ADST
      case 4 => iadst4(t, o, c)
      case 8 => iadst8(t, o, c)
      case 16 => iadst16(t, o, c)
    }
    case 2 => identity(t, o, n, c) // IDTX
  }

  // per-txType 1D kinds: (rowKind, colKind, flipRows?, flipCols?)
  // kind 0 = DCT, 1 = ADST, 2 = identity; row = horizontal pass.
  private def kinds(txType: Int): (Int, Int, Boolean, Boolean) =
    txType match {
      case DCT_DCT => (0, 0, false, false)
      case ADST_DCT => (0, 1, false, false)
      case DCT_ADST => (1, 0, false, false)
      case ADST_ADST => (1, 1, false, false)
      case FLIPADST_DCT => (0, 1, false, true)
      case DCT_FLIPADST => (1, 0, true, false)
      case FLIPADST_FLIPADST => (1, 1, true, true)
      case ADST_FLIPADST => (1, 1, true, false)
      case FLIPADST_ADST => (1, 1, false, true)
      case IDTX => (2, 2, false, false)
      case V_DCT => (2, 0, false, false)
      case H_DCT => (0, 2, false, false)
      case V_ADST => (2, 1, false, false)
      case H_ADST => (1, 2, false, false)
      case V_FLIPADST => (2, 1, false, true)
      case H_FLIPADST => (1, 2, true, false)
    }

  private val RowShift: Array[Int] = Array(0, 1, 2, 2, 2, 0, 0, 1, 1,
    1, 1, 1, 1, 1, 1, 2, 2, 2, 2)

  /** 2D inverse transform: `coefs` is the dequantized w x h coefficient
    * array (row-major, full tx dims with the >32 region zero); output
    * residual written back into coefs. bd = bit depth.
    */
  def inverse2d(coefs: Array[Int], txSz: Int, txType: Int,
      bd: Int): Unit = {
    val w = TxW(txSz)
    val h = TxH(txSz)
    val (rowKind, colKind, flipLr, flipUd) = kinds(txType)
    val rowClamp = math.max(bd + 8, 16)
    val colClamp = math.max(bd + 6, 16)
    val rowCtx = new Ctx(rowClamp)
    val colCtx = new Ctx(colClamp)
    val rowShift = RowShift(txSz)
    val log2W = Integer.numberOfTrailingZeros(w)
    val log2H = Integer.numberOfTrailingZeros(h)
    val rect2 = math.abs(log2W - log2H) == 1
    // row pass
    val rowBuf = new Array[Int](w)
    var r = 0
    while (r < h) {
      var i = 0
      while (i < w) {
        var v = coefs(r * w + i)
        if (rect2) v = round2(v.toLong * 2896, 12)
        rowBuf(i) = rowCtx.clamp(v)
        i += 1
      }
      run1d(rowBuf, 0, w, rowKind, rowCtx)
      i = 0
      while (i < w) {
        val v = round2(rowBuf(i).toLong, rowShift)
        coefs(r * w + (if (flipLr) w - 1 - i else i)) = colCtx.clamp(v)
        i += 1
      }
      r += 1
    }
    // column pass
    val colBuf = new Array[Int](h)
    var cix = 0
    while (cix < w) {
      var i = 0
      while (i < h) { colBuf(i) = coefs(i * w + cix); i += 1 }
      run1d(colBuf, 0, h, colKind, colCtx)
      i = 0
      while (i < h) {
        val v = round2(colBuf(i).toLong, 4)
        coefs((if (flipUd) h - 1 - i else i) * w + cix) = v
        i += 1
      }
      cix += 1
    }
  }
}
