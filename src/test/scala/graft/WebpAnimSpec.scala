package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Vp8, WebpAnim, WebpL}

/** Animated-WebP frame extraction pins: structural round-trip over
  * committed reference-encoded members (frame pixels stay pinned by
  * the still decoders' golden hashes), reject family, mutation fuzz.
  * Compositing is out of scope by the r15 memo (WebpAnim header).
  */
class WebpAnimSpec extends AnyFunSuite {

  private def golden(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream("/golden/vp8_streams.json")
    val fx = new String(in.readAllBytes(), "UTF-8")
    in.close()
    val i = fx.indexOf("\"" + name + "\"")
    require(i >= 0, name)
    val j = fx.indexOf("\"webp\"", i)
    val k = fx.indexOf('"', fx.indexOf(':', j) + 1)
    fx.substring(k + 1, fx.indexOf('"', k + 1))
      .grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
  }

  private val members = Seq(
    golden("checker_16x16_q50"),   // bare VP8
    golden("alpha_checker_q30"),   // ALPH + VP8 behind VP8X
    golden("plasma_33x29_q50"),
    WebpL.makePixels(12, 10,       // VP8L lossless frame
      Array.tabulate(120)(i => 0xff000000 | (i * 2113929217))))

  private def anim: Array[Byte] = WebpAnim.make(
    canvasW = 64, canvasH = 48, background = 0x11223344, loopCount = 3,
    frames = members.zipWithIndex.map { case (m, i) =>
      (2 * i, 4 * i, 40 + 10 * i, i % 2 == 0, i != 1, m)
    })

  test("round-trip: geometry, timing, flags, and pixel-exact frame decode") {
    val a = WebpAnim.parse(anim).get
    assert(a.canvasW === 64 && a.canvasH === 48)
    assert(a.loopCount === 3 && a.background === 0x11223344)
    assert(a.frames.size === 4)
    a.frames.zipWithIndex.foreach { case (fr, i) =>
      assert(fr.x === 2 * i && fr.y === 4 * i)
      assert(fr.durationMs === 40 + 10 * i)
      assert(fr.disposeToBackground === (i % 2 == 0))
      assert(fr.blend === (i != 1))
      // frame pixels identical to the member still's pinned decode
      val want = WebpL.decode(members(i)).get
      val got = WebpL.decode(fr.still).get
      assert(got.width === want.width && got.height === want.height)
      assert(got.pixels.toSeq === want.pixels.toSeq, s"frame $i pixels")
    }
  }

  test("rejects: stills, missing ANIM, frame outside canvas, reserved bits, truncation") {
    assert(WebpAnim.parse(null) === None)
    assert(WebpAnim.parse(members.head) === None) // plain still (no VP8X/ANIM)
    val a = anim
    // frame beyond canvas: shrink the canvas fields in VP8X
    val small = a.clone()
    small(12 + 8 + 4) = 3; small(12 + 8 + 5) = 0; small(12 + 8 + 6) = 0
    assert(WebpAnim.parse(small) === None)
    // reserved VP8X bit
    val rsv = a.clone(); rsv(12 + 8) = (rsv(12 + 8) | 0x40).toByte
    assert(WebpAnim.parse(rsv) === None)
    (1 until 40).foreach(n => assert(WebpAnim.parse(a.take(n)) === None))
    // stills pipeline still rejects animations loudly
    assert(WebpL.decode(a) === None)
    assert(Vp8.decode(a) === None)
  }

  test("mutation fuzz: corruptions parse-or-reject, frames decode-or-reject, never throw") {
    val a = anim
    var s = 0xfeedfaceL
    (0 until 600).foreach { _ =>
      val m = a.clone()
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      m((s & 0x7fffffff).toInt % m.length) = ((s >>> 32) & 0xff).toByte
      WebpAnim.parse(m).foreach(_.frames.foreach(fr => WebpL.decode(fr.still)))
    }
  }
}
