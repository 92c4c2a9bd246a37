package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Heif
import graft.operators.av1._

/** AV1 intra pixel decoder pins (r17): the committed reference-encoded
  * AVIF members decode pixel-exact (expected per-plane means recorded
  * from the REFERENCE decoder, avifDecoderReadMemory, at fixture
  * time), a LIVE differential sweep against freshly reference-encoded
  * random configs, and structural pins for the extracted normative
  * tables and generated scans.
  */
class Av1Spec extends AnyFunSuite {

  private lazy val members: Map[String, Array[Byte]] =
    graft.queries.Curation.avifHeifMembers().toMap

  private def planeMean(p: Av1Decoder.Planes, i: Int): Double = {
    val a = p.planes(i)
    var s = 0.0
    var k = 0
    while (k < a.length) { s += a(k); k += 1 }
    BigDecimal(s / a.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
  }

  // reference plane means of the committed members (from
  // scripts/avif_heif_reference.py refresh — the reference decoder's
  // output over the same bytes)
  private val Expected: Map[String, (Double, Option[Double], Option[Double], Option[Double])] = Map(
    "a400_24x16.avif" -> ((129.356771, None, None, None)),
    "a420_10bit_16x12.avif" -> ((504.46875, Some(497.666667), Some(594.354167), None)),
    "a420_33x21.avif" -> ((127.277056, Some(122.390374), Some(123.561497), None)),
    "a420_64x40.avif" -> ((128.16875, Some(128.95), Some(128.15625), None)),
    "a420_7x5.avif" -> ((112.8, Some(141.583333), Some(119.583333), None)),
    "a420_alpha_20x14.avif" -> ((122.585714, Some(132.828571), Some(130.485714), Some(126.478571))),
    "a444_17x9.avif" -> ((121.594771, Some(128.392157), Some(130.882353), None)),
    "a444_alpha_11x7.avif" -> ((128.168831, Some(136.74026), Some(130.74026), Some(111.506494))))

  test("committed AVIF members: full pixel decode matches the reference decoder") {
    Expected.foreach { case (name, (y, u, v, a)) =>
      val d = Heif.decode(members(name))
        .getOrElse(fail(s"$name: decode rejected"))
      assert(planeMean(d.primary, 0) === y, name)
      u.foreach(e => assert(planeMean(d.primary, 1) === e, name))
      v.foreach(e => assert(planeMean(d.primary, 2) === e, name))
      a match {
        case Some(e) =>
          val al = d.alpha.getOrElse(fail(s"$name: alpha missing"))
          assert(planeMean(al, 0) === e, name)
        case None => assert(d.alpha.isEmpty, name)
      }
      // dims sanity
      assert(d.primary.width === d.info.width, name)
      assert(d.primary.height === d.info.height, name)
    }
  }

  private def runSweep(cmd: String, n: Int, seed: Long,
      exclude: Set[String] = Set.empty): Unit = {
    assume(new java.io.File("/usr/bin/python3").exists())
    assume(new java.io.File("/lib/x86_64-linux-gnu/libavif.so.15").exists())
    val p = new ProcessBuilder("python3",
      "scripts/avif_heif_reference.py", cmd, n.toString, seed.toString).start()
    val allLines = scala.io.Source.fromInputStream(p.getInputStream)
      .getLines().toList
    val err = new String(p.getErrorStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, err.take(2000))
    assert(allLines.size === n)
    val lines = allLines.filterNot(ln => exclude.exists(e =>
      ln.contains("\"name\": \"" + e + "\"") ||
        ln.contains("\"name\":\"" + e + "\"")))
    assert(lines.size === n - exclude.size)
    def jhex(s: String): Array[Byte] = {
      val h = ("\"hex\":\\s*\"([0-9a-f]+)\"").r.findFirstMatchIn(s).get.group(1)
      h.grouped(2).map(x => Integer.parseInt(x, 16).toByte).toArray
    }
    def jmeans(s: String): Array[Option[Double]] = {
      val body = ("\"px_means\":\\s*\\[([^\\]]*)\\]").r
        .findFirstMatchIn(s).get.group(1)
      body.split(",").map(_.trim).map {
        case "null" => None
        case x => Some(x.toDouble)
      }
    }
    lines.foreach { ln =>
      val d = Heif.decode(jhex(ln)).getOrElse(fail(s"rejected: ${ln.take(80)}"))
      val exp = jmeans(ln)
      assert(Some(planeMean(d.primary, 0)) === exp(0), ln.take(60))
      if (exp(1).isDefined)
        assert(Some(planeMean(d.primary, 1)) === exp(1), ln.take(60))
      if (exp(2).isDefined)
        assert(Some(planeMean(d.primary, 2)) === exp(2), ln.take(60))
      if (exp(3).isDefined) {
        val al = d.alpha.getOrElse(fail("alpha missing: " + ln.take(60)))
        assert(Some(planeMean(al, 0)) === exp(3), ln.take(60))
      }
    }
  }

  test("LIVE pixel sweep: 40 fresh reference encodes decode to the reference means") {
    runSweep("sweep", 40, 20260816L)
  }

  test("LIVE palette sweep: 30 screen-content encodes (palette/scc paths) decode exactly") {
    runSweep("palsweep", 30, 20260816L)
  }

  test("LIVE cdef sweep: 30 heavy-q encodes with the CDEF search enabled decode exactly") {
    runSweep("cdefsweep", 30, 20260816L)
  }

  test("LIVE 12-bit sweep: 25 profile-2 encodes decode to the reference means") {
    // r18: the 12-bit trigger FIRED (libavif encodes profile-2 12-bit
    // on this runtime). Support = the dav1d-pair-confirmed dc/ac_q_12
    // tables + the F14 deblock weight fix this sweep's class exposed.
    runSweep("sweep12", 25, 20260816L)
  }

  test("LIVE speed-4 sweep: all 40 members decode exactly") {
    // The r17 "open speed-4 divergence class" (f0012/f0023, desync at a
    // 32-aligned quadrant transition) closed in r18: the first misread
    // was the explicit tx_type of FILTER_PAETH filter-intra blocks
    // (Filter_Intra_Mode_To_Intra_Dir maps mode 4 to DC_PRED, not
    // PAETH_PRED), surfaced by the exact-neighbor block-patch audit
    // (Av1BlockPatch, at src/test/scala/graft/operators/av1/
    // Av1BlockPatch.scala at commit 8a34f78). No exclusions remain.
    runSweep("s4sweep", 40, 20260816L)
  }

  test("GOLDEN: loop-restoration (wiener) streams decode to the reference planes") {
    // r18: 4 committed speed-4 aom encodes whose restoration units are
    // WIENER (live-hunted: 16/60 speed-4 restoration members carried
    // wiener units and decoded pixel-exact; these four pin the filter
    // path binary-independently — closes the r17 wiener-validation gap)
    val in = getClass.getResourceAsStream("/graft/av1_wiener_goldens.jsonl")
    assert(in != null, "av1_wiener_goldens.jsonl missing")
    val lines = scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    assert(lines.size === 4)
    def sfield(s: String, k: String): String =
      ("\"" + k + "\":\\s*\"([^\"]*)\"").r.findFirstMatchIn(s).get.group(1)
    def hashes(s: String): Seq[String] =
      ("\"plane_sha256\":\\s*\\[([^\\]]*)\\]").r.findFirstMatchIn(s).get
        .group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
    for (ln <- lines) {
      val name = sfield(ln, "name")
      val payload = sfield(ln, "payload")
        .grouped(2).map(x => Integer.parseInt(x, 16).toByte).toArray
      val res = Av1Decoder.decode(payload)
        .getOrElse(fail(s"$name rejected"))
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val exp = hashes(ln)
      for (pl <- res.planes.indices) {
        md.reset()
        val bytes = res.planes(pl).map(v => (v & 0xff).toByte)
        val got = md.digest(bytes).map("%02x".format(_)).mkString
        assert(got === exp(pl), s"$name plane $pl")
      }
    }
  }

  test("LIVE edge-overhang sweep: 40 tiny high-q encodes decode to the reference means") {
    // The r18 coded-edge class (t1101/big_03): transforms overhanging
    // the coded mi area must not write entropy context for the
    // overhang units, or neighbor dc-sign sums flip and the nearly
    // pure-flush tails of these 20-50 byte tiles desync.
    runSweep("edgesweep", 40, 20260816L)
  }

  test("GOLDEN: the r18 coded-edge-overhang class members decode to the reference planes") {
    // t1101/t0470/t0096 (12-bit), t0654 (10-bit), big_03 (the r18
    // NOTES ledger member, 235x211 12-bit 4:4:4): all closed by
    // clamping the entropy-context store to the coded mi area
    // (setCoefCtx). Regenerable: scripts/avif_heif_reference.py
    // edgesweep / scripts/av1_bigfuzz.py. Binary-independent:
    // payload + reference plane SHAs (u16 LE).
    val in = getClass.getResourceAsStream("/graft/av1_edge_goldens.jsonl")
    assert(in != null, "av1_edge_goldens.jsonl missing")
    val lines = scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    assert(lines.size === 5)
    def sfield(s: String, k: String): String =
      ("\"" + k + "\":\\s*\"([^\"]*)\"").r.findFirstMatchIn(s).get.group(1)
    def nfield(s: String, k: String): Int =
      ("\"" + k + "\":\\s*(\\d+)").r.findFirstMatchIn(s).get.group(1).toInt
    def hashes(s: String): Seq[String] =
      ("\"plane_sha256\":\\s*\\[([^\\]]*)\\]").r.findFirstMatchIn(s).get
        .group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
    for (ln <- lines) {
      val name = sfield(ln, "name")
      val depth = nfield(ln, "depth")
      val payload = sfield(ln, "payload")
        .grouped(2).map(x => Integer.parseInt(x, 16).toByte).toArray
      val res = Av1Decoder.decode(payload)
        .getOrElse(fail(s"$name rejected"))
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val exp = hashes(ln)
      for (pl <- res.planes.indices) {
        md.reset()
        val bytes =
          if (depth == 8) res.planes(pl).map(v => (v & 0xff).toByte)
          else res.planes(pl).flatMap(v =>
            Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
        val got = md.digest(bytes).map("%02x".format(_)).mkString
        assert(got === exp(pl), s"$name plane $pl")
      }
    }
  }

  test("GOLDEN: the r17/r18 speed-4 divergence-class members decode to the reference planes") {
    // The banked open-class repros, committed the round their classes
    // closed (r18; regenerable with scripts/av1one.py):
    //  - lowq seeds 1234/9999 + q35_sm seed 4242 (120x90): closed by
    //    FiToDir[FILTER_PAETH] = DC_PRED (tx_type cdf row desync),
    //  - q45 seeds 1234/9999 (120x90): closed by the pixel-count
    //    get_tx_scale dequant rule (TX_8X32 residuals were halved),
    //  - m10hi/m10mono/y10hi/f0000 (25x49 10-bit, whole-TX_32X64
    //    blocks): closed by the tall/wide coeff-base ctx shape rule
    //    using the REAL tx dims rather than the 32-clipped coded area.
    // Binary-independent: payload + reference plane SHAs (8-bit: 1
    // byte/sample; 10-bit: u16 LE), no encoder needed at test time.
    val in = getClass.getResourceAsStream("/graft/av1_s4class_goldens.jsonl")
    assert(in != null, "av1_s4class_goldens.jsonl missing")
    val lines = scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    assert(lines.size === 12)
    def sfield(s: String, k: String): String =
      ("\"" + k + "\":\\s*\"([^\"]*)\"").r.findFirstMatchIn(s).get.group(1)
    def nfield(s: String, k: String): Int =
      ("\"" + k + "\":\\s*(\\d+)").r.findFirstMatchIn(s).get.group(1).toInt
    def hashes(s: String): Seq[String] =
      ("\"plane_sha256\":\\s*\\[([^\\]]*)\\]").r.findFirstMatchIn(s).get
        .group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
    for (ln <- lines) {
      val name = sfield(ln, "name")
      val depth = nfield(ln, "depth")
      val payload = sfield(ln, "payload")
        .grouped(2).map(x => Integer.parseInt(x, 16).toByte).toArray
      val res = Av1Decoder.decode(payload)
        .getOrElse(fail(s"$name rejected"))
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val exp = hashes(ln)
      for (pl <- res.planes.indices) {
        md.reset()
        val bytes =
          if (depth == 8) res.planes(pl).map(v => (v & 0xff).toByte)
          else res.planes(pl).flatMap(v =>
            Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
        val got = md.digest(bytes).map("%02x".format(_)).mkString
        assert(got === exp(pl), s"$name plane $pl")
      }
    }
  }

  test("scan generator matches the committed library goldens") {
    assert(Av1Tables.diagScan(4, 4).toSeq === Av1Tables.flat("scan_4x4").toSeq)
    assert(Av1Tables.diagScan(4, 8).toSeq === Av1Tables.flat("scan_4x8").toSeq)
    assert(Av1Tables.diagScan(8, 4).toSeq === Av1Tables.flat("scan_8x4").toSeq)
  }

  test("cdf resource: row shapes and monotonicity") {
    val t = Av1Tables.tables
    assert(t("kf_y_mode").rows === 25)
    assert(t("coeff_base").rows === 1680)
    assert(t("partition").rows === 20)
    // every cdf row's probs are non-increasing and < 32768
    for ((name, tab) <- t if !Set("cos128", "sinpi", "sm_weights",
      "dr_intra_derivative", "dc_q_8", "ac_q_8", "dc_q_10", "ac_q_10",
      "scan_4x4", "scan_4x8", "scan_8x4").contains(name)) {
      var off = 0
      var r = 0
      while (r < tab.rows) {
        val n = tab.syms(r) - 1
        var prev = 32768
        var i = 0
        while (i < n) {
          val v = tab.data(off + i)
          assert(v <= prev && v >= 0, s"$name row $r")
          prev = v
          i += 1
        }
        off += n
        r += 1
      }
    }
  }

  test("GOLDEN: loop-restoration (sgrproj) streams decode to the reference planes") {
    // 4 committed reference-encoded streams with restoration units
    // (speed-2 aom encodes; expected per-plane SHA-256 recorded from
    // the reference decoder at fixture time) — the binary-independent
    // pin for the r17 loop-restoration implementation.
    val in = getClass.getResourceAsStream("/graft/av1_lr_goldens.jsonl")
    assert(in != null, "av1_lr_goldens.jsonl missing")
    val lines = scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    assert(lines.size === 4)
    def sfield(s: String, k: String): String =
      ("\"" + k + "\":\\s*\"([^\"]*)\"").r.findFirstMatchIn(s).get.group(1)
    def hashes(s: String): Seq[String] =
      ("\"plane_sha256\":\\s*\\[([^\\]]*)\\]").r.findFirstMatchIn(s).get
        .group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
    for (ln <- lines) {
      val name = sfield(ln, "name")
      val payload = sfield(ln, "payload")
        .grouped(2).map(x => Integer.parseInt(x, 16).toByte).toArray
      val res = Av1Decoder.decode(payload)
        .getOrElse(fail(s"$name rejected"))
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val exp = hashes(ln)
      for (pl <- res.planes.indices) {
        md.reset()
        val bytes = res.planes(pl).map(v => (v & 0xff).toByte)
        val got = md.digest(bytes).map("%02x".format(_)).mkString
        assert(got === exp(pl), s"$name plane $pl")
      }
    }
  }

  test("inverse DCT: every basis vector of every tx size matches the float transform") {
    // structural pin for the r17 idct32/idct64 butterfly-pairing fix:
    // an impulse at each coded coefficient position must inverse-
    // transform to (a scaled copy of) the float DCT basis function.
    // Catches any wrong pairing/angle/sign in the networks outright.
    def idctBasis(n: Int, k: Int): Array[Double] = {
      val s = if (k == 0) math.sqrt(1.0 / n) else math.sqrt(2.0 / n)
      Array.tabulate(n)(i => s * math.cos(math.Pi * (2 * i + 1) * k / (2.0 * n)))
    }
    for (txSz <- 0 until 19) {
      val w = Av1Consts.TxW(txSz)
      val h = Av1Consts.TxH(txSz)
      val cw = math.min(32, w) // >32 region is never coded
      val ch = math.min(32, h)
      def intOut(k: Int): Array[Int] = {
        val co = new Array[Int](w * h)
        co((k / cw) * w + (k % cw)) = 1024
        Av1Transform.inverse2d(co, txSz, Av1Consts.DCT_DCT, 10)
        co
      }
      def floatOut(k: Int): Array[Double] = {
        val bw = idctBasis(w, k % cw)
        val bh = idctBasis(h, k / cw)
        Array.tabulate(w * h)(i => 1024.0 * bh(i / w) * bw(i % w))
      }
      val i0 = intOut(0)
      val f0 = floatOut(0)
      var num = 0.0; var den = 0.0
      for (i <- 0 until w * h) { num += i0(i).toDouble * f0(i); den += f0(i) * f0(i) }
      val scale = num / den
      for (k <- 0 until cw * ch) {
        val io = intOut(k)
        val fo = floatOut(k)
        var maxd = 0.0
        for (i <- 0 until w * h) maxd = math.max(maxd, math.abs(io(i) - scale * fo(i)))
        assert(maxd <= 3.0, s"txSz=$txSz ${w}x$h basis k=$k diverges (maxd=$maxd)")
      }
    }
  }

  test("cos128 table equals the closed form") {
    val cos = Av1Tables.flat("cos128")
    var i = 0
    while (i < 64) {
      assert(cos(i) === math.round(4096 * math.cos(math.Pi * i / 128)).toInt)
      i += 1
    }
  }

  test("malformed/truncated payloads reject, never throw") {
    val good = members("a420_33x21.avif")
    assert(Heif.decode(good).isDefined)
    // truncations of the whole container
    Seq(8, 64, good.length / 2, good.length - 3).foreach { n =>
      Heif.decode(java.util.Arrays.copyOf(good, n)) // must not throw
    }
    // bit flips in the payload region
    val rnd = new scala.util.Random(7)
    (0 until 20).foreach { _ =>
      val mut = good.clone()
      val i = rnd.nextInt(mut.length)
      mut(i) = (mut(i) ^ (1 << rnd.nextInt(8))).toByte
      Heif.decode(mut) // decode or reject; no exception may escape
    }
  }
}
