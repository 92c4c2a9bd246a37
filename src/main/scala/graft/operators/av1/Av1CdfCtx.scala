package graft.operators.av1

/** Per-tile adaptive CDF state: mutable clones of the extracted
  * defaults ([[Av1Tables]]), one Array[Int] per cdf row with the
  * shared zero/counter slot appended (see Av1Msac). Each tile of an
  * intra still starts from defaults (primary_ref_frame is NONE).
  */
final class Av1CdfCtx(qctx: Int) {

  private def rows(name: String): Array[Array[Int]] = {
    val t = Av1Tables(name)
    val out = new Array[Array[Int]](t.rows)
    var off = 0
    var r = 0
    while (r < t.rows) {
      val n = t.syms(r) - 1
      val row = new Array[Int](n + 1)
      System.arraycopy(t.data, off, row, 0, n)
      out(r) = row
      off += n
      r += 1
    }
    out
  }

  /** rows of a coef table sliced for this frame's q context */
  private def qrows(name: String): Array[Array[Int]] = {
    val all = rows(name)
    val per = all.length / 4
    java.util.Arrays.copyOfRange(all, qctx * per, (qctx + 1) * per)
  }

  // mode cdfs
  val partition: Array[Array[Int]] = rows("partition") // [5 bl][4 ctx]
  val kfYMode: Array[Array[Int]] = rows("kf_y_mode") // [5][5]
  val uvModeNoCfl: Array[Array[Int]] = rows("uv_mode_nocfl") // [13]
  val uvModeCfl: Array[Array[Int]] = rows("uv_mode_cfl") // [13]
  val angleDelta: Array[Array[Int]] = rows("angle_delta") // [8]
  val paletteYSize: Array[Array[Int]] = rows("palette_y_size")
  val paletteUVSize: Array[Array[Int]] = rows("palette_uv_size")
  val hasPaletteY: Array[Array[Int]] = rows("has_palette_y") // [7][3]
  // has_palette_uv [2 ctx]: not byte-locatable in the stripped runtime
  // libraries; ctx0 recovered FUNCTIONALLY by brute-force pixel-exact
  // sweeps (Av1UvGateBrute over np444/np420: icdf bucket 256..319,
  // matching AOM_CDF2(32461) -> 307); ctx1 likewise via uv-palette
  // cases (AOM_CDF2(21488) -> 11280 candidate). The sweep tool is at
  // src/test/scala/graft/operators/av1/Av1UvGateBrute.scala at commit
  // 8a34f78.
  val hasPaletteUV: Array[Array[Int]] =
    Array(Array(307, 0), Array(11280, 0))
  val paletteYColor: Array[Array[Int]] = rows("palette_y_color") // [7][5]
  val paletteUVColor: Array[Array[Int]] = rows("palette_uv_color")
  val useFilterIntra: Array[Array[Int]] = rows("use_filter_intra") // [22]
  val skip: Array[Array[Int]] = rows("skip") // [3]
  val segTree: Array[Array[Int]] = rows("seg_tree") // [3]
  val txDepthCat0: Array[Array[Int]] = rows("tx_depth_cat0") // [3]
  val txDepth: Array[Array[Int]] = rows("tx_depth") // [3 cats][3]
  val txtpSet1: Array[Array[Int]] = rows("intra_txtp_set1") // [4][13]
  val txtpSet2: Array[Array[Int]] = rows("intra_txtp_set2") // [4][13]
  val cflSign: Array[Array[Int]] = rows("cfl_sign") // [1]
  // filter_intra_mode default: byte-extracted in r17 — the icdf row
  // (23819, 19992, 15557, 3210) appears IDENTICALLY in libaom (as
  // cdf-reset code immediates), libgav1 and libdav1d. The previous
  // r16 candidate had 3676 for the last entry; the wrong boundary
  // occasionally decoded a different mode and desynced the tile
  // (the r17 speed-4 drill's z64x64 case).
  val filterIntraMode: Array[Int] =
    Array(23819, 19992, 15557, 3210, 0)
  val cflAlpha: Array[Array[Int]] = rows("cfl_alpha") // [6]

  // loop-restoration cdfs (read_lr): defaults recovered from the
  // runtime libraries' compiled cdf-reset code (immediate operands of
  // the struct-init stores; the identical byte sequences appear in
  // libaom, libgav1 AND libdav1d — NOTES_r17): switchable_restore =
  // AOM_CDF3(9413, 22581), use_wiener = AOM_CDF2(11570), use_sgrproj =
  // AOM_CDF2(16855).
  val restoreSwitchable: Array[Int] = Array(23355, 10187, 0)
  val useWiener: Array[Int] = Array(21198, 0)
  val useSgrproj: Array[Int] = Array(15913, 0)

  // delta q/lf cdfs: uniform 4-symbol defaults (spec)
  private def uniform4(): Array[Int] = Array(24576, 16384, 8192, 0)
  val deltaQ: Array[Int] = uniform4()
  val deltaLf: Array[Array[Int]] = Array.fill(5)(uniform4())

  // coef cdfs for this q context
  // txb_skip [5 txSzCtx][13]: row values scanned in the r18 64-class
  // drill (Av1RowScan, at src/test/scala/graft/operators/av1/
  // Av1RowScan.scala at commit 8a34f78)
  val txbSkip: Array[Array[Int]] = qrows("txb_skip")
  val eobExtra: Array[Array[Int]] = qrows("eob_extra") // [5][2][9]
  val dcSign: Array[Array[Int]] = qrows("dc_sign") // [2][3]
  val eobPt16: Array[Array[Int]] = qrows("eob_pt_16") // [2 pl][2 ctx]
  val eobPt32: Array[Array[Int]] = qrows("eob_pt_32")
  val eobPt64: Array[Array[Int]] = qrows("eob_pt_64")
  val eobPt128: Array[Array[Int]] = qrows("eob_pt_128")
  val eobPt256: Array[Array[Int]] = qrows("eob_pt_256")
  val eobPt512: Array[Array[Int]] = qrows("eob_pt_512")
  val eobPt1024: Array[Array[Int]] = qrows("eob_pt_1024")
  val coeffBaseEob: Array[Array[Int]] = qrows("coeff_base_eob") // [5][2][4]
  val coeffBase: Array[Array[Int]] = qrows("coeff_base") // [5][2][42]
  val coeffBr: Array[Array[Int]] = qrows("coeff_br") // [5][2][21]
}
