package graft.operators

/** BCJ x86 branch-conversion filter — the executable-transform
  * preprocessor real-world 7z/xz archives of compiled code almost
  * always carry (source/package corpora shipped as `.7z`/`.xz` of
  * binaries use BCJ+LZMA chains; a decoder without it rejects exactly
  * the archives a crawl meets). The filter rewrites the 32-bit
  * operands of x86 CALL/JMP-rel32 opcodes (0xE8/0xE9) between
  * relative and absolute form so identical call targets compress;
  * it is a deterministic, reversible BYTE transform — nothing is
  * executed, disassembled or interpreted (decision memo: NOTES_r13).
  *
  * Implemented from the public filter definition (the xz file-format
  * spec assigns filter id 0x04; the conversion procedure is the
  * LZMA-SDK/xz "x86" simple filter, a published algorithm): a 5-byte
  * window per opcode hit, the `prev_mask` state machine that tracks
  * opcode bytes inside the previous 3 positions (so overlapping
  * E8-runs converge on the same fixed point from either direction),
  * the 0x00/0xFF most-significant-byte gate, and the sign-extension
  * of the written top byte. Correctness is pinned by BIDIRECTIONAL
  * interop with the system `xz --x86` in XzSpec (reference-filtered
  * bytes must equal our encoder's output byte-for-byte, and our
  * decoder must invert them), plus adversarial opcode-cluster
  * round-trips.
  */
object Bcj {

  @inline private def msbOk(b: Int): Boolean = b == 0x00 || b == 0xff

  /** One-shot whole-buffer conversion, stream offset 0 (the xz
    * default; a nonzero start offset is a filter property this reader
    * rejects upstream). `encode = true` is the compressor direction
    * (relative → absolute). Returns a transformed copy.
    *
    * The 3-bit `mask` tracks which of the previous three positions
    * held an unconverted opcode byte (bit 2 = adjacent); an opcode
    * whose mask marks a potential overlap is SKIPPED (and re-marked)
    * unless the overlapping operand byte could not have been a
    * convertible MSB — and a conversion landing under a live mask
    * applies the sign-flip correction so that encode and decode reach
    * the same fixed point over overlapping E8 runs. Verified against
    * the reference on 3,400+ differential cases (all exact) before the
    * interop pins were committed.
    */
  def x86(data: Array[Byte], encode: Boolean): Array[Byte] = {
    val buf = data.clone()
    val size = buf.length
    if (size < 5) return buf
    var mask = 0
    val scanEnd = size - 4
    var pos = 0
    var done = false
    while (!done) {
      var p = pos
      while (p < scanEnd && (buf(p) & 0xfe) != 0xe8) p += 1
      val d = p - pos
      pos = p
      if (p >= scanEnd) done = true
      else {
        var skip = false
        if (d > 2) mask = 0
        else {
          mask >>= d
          if (mask != 0 && (mask > 4 || mask == 3 ||
            msbOk(buf(p + (mask >> 1) + 1) & 0xff))) {
            mask = (mask >> 1) | 4
            pos += 1
            skip = true
          }
        }
        if (!skip) {
          if (msbOk(buf(p + 4) & 0xff)) {
            var v = (((buf(p + 4) & 0xffL) << 24) | ((buf(p + 3) & 0xffL) << 16) |
              ((buf(p + 2) & 0xffL) << 8) | (buf(p + 1) & 0xffL)) & 0xffffffffL
            val cur = (pos.toLong + 5) & 0xffffffffL
            pos += 5
            v = (if (encode) v + cur else v - cur) & 0xffffffffL
            if (mask != 0) {
              val sh = (mask & 6) << 2
              if (msbOk(((v >> sh) & 0xff).toInt)) {
                v = (v ^ ((0x100L << sh) - 1)) & 0xffffffffL
                v = (if (encode) v + cur else v - cur) & 0xffffffffL
              }
              mask = 0
            }
            buf(p + 1) = (v & 0xff).toByte
            buf(p + 2) = ((v >> 8) & 0xff).toByte
            buf(p + 3) = ((v >> 16) & 0xff).toByte
            buf(p + 4) = (0 - ((v >> 24) & 1)).toByte // sign-extend top byte
          } else {
            mask = (mask >> 1) | 4
            pos += 1
          }
        }
      }
    }
    buf
  }

  @inline private def u32le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  @inline private def putU32le(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v & 0xff).toByte; b(o + 1) = ((v >>> 8) & 0xff).toByte
    b(o + 2) = ((v >>> 16) & 0xff).toByte; b(o + 3) = ((v >>> 24) & 0xff).toByte
  }

  /** ARM64 branch-conversion filter (xz filter id 0x0A) — the AArch64
    * sibling of [[x86]], and far simpler: fixed-width 4-byte opcodes,
    * no overlap state machine. Two instruction forms convert (r14,
    * differentially validated against the runtime `xz 5.8.2 --arm64`
    * before the pins were committed — the BCJ-x86 evidence route):
    *
    *  - BL (bits 31..26 = 100101): the full 26-bit word-offset
    *    immediate is rebased between relative and absolute by the
    *    instruction address `pc >> 2`.
    *  - ADRP (bit 31 = 1, bits 28..24 = 10000): the 21-bit page
    *    immediate (immlo bits 30..29, immhi bits 23..5) is rebased by
    *    `pc >> 12`, but ONLY when the immediate fits ±512 MiB (18-bit
    *    signed) — the published filter's false-positive guard; the
    *    rebased value is sign-extended from 18 bits back into the
    *    21-bit field, so the guard window survives the round trip.
    *
    * Trailing 1–3 bytes (a byte count not divisible by 4) pass through
    * untouched, exactly as the reference leaves its unfiltered tail.
    */
  def arm64(data: Array[Byte], encode: Boolean): Array[Byte] = {
    val buf = data.clone()
    val n = buf.length
    var i = 0
    while (i + 4 <= n) {
      val instr = u32le(buf, i)
      if ((instr >>> 26) == 0x25) { // BL
        val pc = i >>> 2 // (now_pos + i) >> 2, stream offset 0
        val add = if (encode) pc else -pc
        putU32le(buf, i, 0x94000000 | ((instr + add) & 0x03ffffff))
      } else if ((instr & 0x9f000000) == 0x90000000) { // ADRP
        val src = ((instr >>> 29) & 3) | ((instr >>> 3) & 0x001ffffc)
        if (((src + 0x00020000) & 0x001c0000) == 0) { // ±512 MiB window
          val pc = i >>> 12
          val dest = src + (if (encode) pc else -pc)
          var out = instr & 0x9000001f
          out |= (dest & 3) << 29
          out |= (dest & 0x0003fffc) << 3
          out |= (-(dest & 0x00020000)) & 0x00e00000 // sign-extend bit 17
          putU32le(buf, i, out)
        }
      }
      i += 4
    }
    buf
  }

  /** ARM32 branch filter (xz id 0x07): BL instructions — LE words whose
    * top byte is 0xEB — carry a 24-bit word offset rebased by the ARM
    * pipeline PC (instruction address + 8). r14, differentially
    * validated against `xz --arm` (reference-filtered bytes byte-exact
    * both directions).
    */
  def arm(data: Array[Byte], encode: Boolean): Array[Byte] = {
    val buf = data.clone()
    var i = 0
    while (i + 4 <= buf.length) {
      if ((buf(i + 3) & 0xff) == 0xeb) {
        val src = (((buf(i + 2) & 0xff) << 16) | ((buf(i + 1) & 0xff) << 8) |
          (buf(i) & 0xff)) << 2
        val pc = i + 8
        val dest = (if (encode) src + pc else src - pc) >>> 2
        buf(i + 2) = ((dest >>> 16) & 0xff).toByte
        buf(i + 1) = ((dest >>> 8) & 0xff).toByte
        buf(i) = (dest & 0xff).toByte
      }
      i += 4
    }
    buf
  }

  /** ARM Thumb branch filter (xz id 0x08): 2-byte stepping; a BL pair
    * (F0xx F8xx halfword pair) carries a 22-bit halfword offset rebased
    * by the Thumb pipeline PC (+4); a converted pair advances 4 bytes.
    * r14, differentially validated against `xz --armthumb`.
    */
  def armThumb(data: Array[Byte], encode: Boolean): Array[Byte] = {
    val buf = data.clone()
    var i = 0
    while (i + 4 <= buf.length) {
      if ((buf(i + 1) & 0xf8) == 0xf0 && (buf(i + 3) & 0xf8) == 0xf8) {
        val src = (((buf(i + 1) & 7) << 19) | ((buf(i) & 0xff) << 11) |
          ((buf(i + 3) & 7) << 8) | (buf(i + 2) & 0xff)) << 1
        val pc = i + 4
        val dest = (if (encode) src + pc else src - pc) >>> 1
        buf(i + 1) = (0xf0 | ((dest >>> 19) & 7)).toByte
        buf(i) = ((dest >>> 11) & 0xff).toByte
        buf(i + 3) = (0xf8 | ((dest >>> 8) & 7)).toByte
        buf(i + 2) = (dest & 0xff).toByte
        i += 2
      }
      i += 2
    }
    buf
  }

  /** PowerPC branch filter (xz id 0x05): big-endian words; `bl`/`bla`
    * (primary opcode 18, LK=1, AA preserved) carry a 24-bit byte offset
    * (low 2 bits of the displacement are the AA/LK flags and stay put).
    * r14, differentially validated against `xz --powerpc`.
    */
  def ppc(data: Array[Byte], encode: Boolean): Array[Byte] = {
    val buf = data.clone()
    var i = 0
    while (i + 4 <= buf.length) {
      if (((buf(i) & 0xfc) == 0x48) && ((buf(i + 3) & 3) == 1)) {
        val src = ((buf(i) & 3) << 24) | ((buf(i + 1) & 0xff) << 16) |
          ((buf(i + 2) & 0xff) << 8) | (buf(i + 3) & 0xfc)
        val dest = if (encode) src + i else src - i
        buf(i) = (0x48 | ((dest >>> 24) & 3)).toByte
        buf(i + 1) = ((dest >>> 16) & 0xff).toByte
        buf(i + 2) = ((dest >>> 8) & 0xff).toByte
        buf(i + 3) = ((buf(i + 3) & 3) | (dest & 0xfc)).toByte
      }
      i += 4
    }
    buf
  }

  /** SPARC branch filter (xz id 0x09): big-endian CALL words (0x40 with
    * clear top displacement bits, or the 0x7F sign-extension form); the
    * 30-bit word displacement is rebased and re-folded into the
    * sign-extended encoding the reference emits. r14, differentially
    * validated against `xz --sparc`.
    */
  def sparc(data: Array[Byte], encode: Boolean): Array[Byte] = {
    val buf = data.clone()
    var i = 0
    while (i + 4 <= buf.length) {
      val b0 = buf(i) & 0xff
      val b1 = buf(i + 1) & 0xff
      if ((b0 == 0x40 && (b1 & 0xc0) == 0x00) ||
        (b0 == 0x7f && (b1 & 0xc0) == 0xc0)) {
        val src = ((b0 << 24) | (b1 << 16) | ((buf(i + 2) & 0xff) << 8) |
          (buf(i + 3) & 0xff)) << 2
        var dest = if (encode) src + i else src - i
        dest = dest >>> 2
        dest = ((0x40000000 - (dest & 0x400000)) | 0x40000000 | (dest & 0x3fffff))
        buf(i) = ((dest >>> 24) & 0xff).toByte
        buf(i + 1) = ((dest >>> 16) & 0xff).toByte
        buf(i + 2) = ((dest >>> 8) & 0xff).toByte
        buf(i + 3) = (dest & 0xff).toByte
      }
      i += 4
    }
    buf
  }

  /** RISC-V branch filter (xz id 0x0B, r14b) — the most intricate of
    * the simple filters, characterized by ORACLE PROBES against the
    * runtime `xz --riscv` (the brotli transform-table method; every
    * rule below was recovered from crafted-input observations and then
    * validated by byte-exact random sweeps, both directions):
    *
    *  - JAL with rd ∈ {x1, x5} (byte0 == 0xEF, (byte1 & 0x0D) == 0):
    *    the 21-bit J-immediate is unscrambled, rebased by pc, and the
    *    20-bit halfword target stored big-endian-ish in bytes 1–3
    *    (v[19:16]→b1 high nibble, v[15:8]→b2, v[7:0]→b3), rd nibble
    *    preserved. Converted only when a full 8 bytes remain.
    *  - AUIPC pairs: an `auipc rd, hi20` whose NEXT 32-bit word has
    *    bits[19:15] == rd and bits[1:0] == 3, with rd ∉ {x0, x2},
    *    becomes [0x17 | 1<<8 | (w2 & 0xFFFFF) << 12] + the full 32-bit
    *    absolute address ((hi20<<12) + sext12(w2>>>20) + pc) stored
    *    BIG-endian — the first word masquerades as `auipc x2`.
    *  - Disambiguation (bijective by construction): a NATURAL
    *    `auipc x2` whose hi20 parses as a valid descriptor
    *    (bits[1:0] == 3, bits[19:15] ∉ {0,2}) is SHUFFLED to
    *    [w2 & 0xFFFFF000 | desc[19:15]<<7 | 0x17] +
    *    [(w2 & 0xFFF) << 20 | desc] so it cannot be mistaken for a
    *    converted pair; every natural sequence that could be mistaken
    *    for the SHUFFLED form is exactly a convertible pair, which the
    *    encoder always converts — no third case exists.
    *
    * Scan advances (all oracle-pinned with embedded-candidate probes):
    * 2 bytes default (RVC-compatible), 4 past a converted JAL, 8 past
    * a converted/shuffled pair, 4 past an auipc with rd ∈ {x0, x2}
    * that matched nothing, and 6 past an auipc whose pair check failed
    * (the partner word is skipped); loop bound i + 8 ≤ size.
    */
  def riscv(data: Array[Byte], encode: Boolean): Array[Byte] = {
    val buf = data.clone()
    val n = buf.length
    @inline def r32(o: Int): Int = u32le(buf, o)
    @inline def w32(o: Int, v: Int): Unit = putU32le(buf, o, v)
    var i = 0
    while (i + 8 <= n) {
      val b0 = buf(i) & 0xff
      if (b0 == 0xef && (buf(i + 1) & 0x0d) == 0) {
        // JAL rd ∈ {x1, x5}
        val w = r32(i)
        if (encode) {
          val imm = (((w >>> 31) & 1) << 20) | (((w >>> 21) & 0x3ff) << 1) |
            (((w >>> 20) & 1) << 11) | (((w >>> 12) & 0xff) << 12)
          val v = ((imm + i) >>> 1) & 0xfffff
          buf(i + 1) = (((v >>> 12) & 0xf0) | (buf(i + 1) & 0x0f)).toByte
          buf(i + 2) = ((v >>> 8) & 0xff).toByte
          buf(i + 3) = (v & 0xff).toByte
        } else {
          val v = (((buf(i + 1) & 0xf0) << 12) | ((buf(i + 2) & 0xff) << 8) |
            (buf(i + 3) & 0xff)) & 0xfffff
          val imm = ((v << 1) - i) & 0x1fffff
          val w2 = (w & 0xfff) | (((imm >>> 20) & 1) << 31) |
            (((imm >>> 1) & 0x3ff) << 21) | (((imm >>> 11) & 1) << 20) |
            (((imm >>> 12) & 0xff) << 12)
          w32(i, w2)
        }
        i += 4
      } else if ((b0 & 0x7f) == 0x17) {
        // AUIPC family
        val w1 = r32(i)
        val rd = (w1 >>> 7) & 0x1f
        if (encode) {
          val w2 = r32(i + 4)
          if (rd != 0 && rd != 2 && ((w2 >>> 15) & 0x1f) == rd && (w2 & 3) == 3) {
            // pair-convert
            val imm = (w2 >> 20) // arithmetic: sign-extended 12-bit
            val addr = (w1 & 0xfffff000) + imm + i
            w32(i, 0x117 | ((w2 & 0xfffff) << 12))
            // big-endian address word
            buf(i + 4) = ((addr >>> 24) & 0xff).toByte
            buf(i + 5) = ((addr >>> 16) & 0xff).toByte
            buf(i + 6) = ((addr >>> 8) & 0xff).toByte
            buf(i + 7) = (addr & 0xff).toByte
            i += 8
          } else if (rd == 2 && {
            val desc = w1 >>> 12
            (desc & 3) == 3 && ((desc >>> 15) & 0x1f) != 0 && ((desc >>> 15) & 0x1f) != 2
          }) {
            // protect the masquerading natural form
            val desc = w1 >>> 12
            w32(i, (w2 & 0xfffff000) | (((desc >>> 15) & 0x1f) << 7) | 0x17)
            w32(i + 4, ((w2 & 0xfff) << 20) | desc)
            i += 8
          } else if (rd == 0 || rd == 2) i += 4 // oracle-pinned advances
          else i += 6 // failed pair check skips the partner word
        } else {
          if (rd == 2 && {
            val desc = w1 >>> 12
            (desc & 3) == 3 && ((desc >>> 15) & 0x1f) != 0 && ((desc >>> 15) & 0x1f) != 2
          }) {
            // un-convert a pair
            val desc = w1 >>> 12
            val addr = ((buf(i + 4) & 0xff) << 24) | ((buf(i + 5) & 0xff) << 16) |
              ((buf(i + 6) & 0xff) << 8) | (buf(i + 7) & 0xff)
            val t = addr - i
            val imm12 = t & 0xfff
            val hi20 = ((t - ((imm12 << 20) >> 20)) >>> 12) & 0xfffff
            w32(i, 0x17 | (((desc >>> 15) & 0x1f) << 7) | (hi20 << 12))
            w32(i + 4, desc | (imm12 << 20))
            i += 8
          } else if (rd != 0 && rd != 2 && {
            val desc = r32(i + 4) & 0xfffff
            (desc & 3) == 3 && ((desc >>> 15) & 0x1f) == rd
          }) {
            // un-shuffle a protected form
            val w2p = r32(i + 4)
            val desc = w2p & 0xfffff
            w32(i, (desc << 12) | 0x117)
            w32(i + 4, (w1 & 0xfffff000) | ((w2p >>> 20) & 0xfff))
            i += 8
          } else if (rd == 0 || rd == 2) i += 4 // mirror the encode walk
          else i += 6
        }
      } else i += 2
    }
    buf
  }

  /** IA64 branch filter (xz id 0x06, r14c) — the last member of the
    * family, ORACLE-PROBED against the runtime `xz --ia64` like RISC-V:
    * 16-byte instruction bundles whose template byte (bits 4:0) selects
    * which of the three 41-bit slots hold branches (the probe-recovered
    * mask table below — templates 16/17/24/25/28/29 mark slot 2,
    * 18/19 slots 1–2, 22/23 all three). A masked slot converts iff its
    * top 4 bits equal 5 and bits 11:9 are zero; the 21-bit target
    * (imm20 at bits 32:13 + sign at bit 36) is rebased by the bundle
    * address in 16-byte units (src<<4 ± pc, result truncated back to
    * 21 bits — wrap probe-pinned), all other slot bits preserved.
    */
  private val Ia64Mask: Array[Int] = {
    val t = new Array[Int](32)
    t(16) = 4; t(17) = 4; t(18) = 6; t(19) = 6
    t(22) = 7; t(23) = 7; t(24) = 4; t(25) = 4
    t(28) = 4; t(29) = 4
    t
  }

  def ia64(data: Array[Byte], encode: Boolean): Array[Byte] = {
    val buf = data.clone()
    var i = 0
    while (i + 16 <= buf.length) {
      val mask = Ia64Mask(buf(i) & 0x1f)
      var slot = 0
      var bitPos = 5
      while (slot < 3) {
        if (((mask >> slot) & 1) != 0) {
          val bytePos = bitPos >> 3
          val bitRes = bitPos & 7
          var instr = 0L
          var j = 0
          while (j < 6) {
            instr |= (buf(i + bytePos + j) & 0xffL) << (8 * j)
            j += 1
          }
          val norm = instr >>> bitRes
          if (((norm >>> 37) & 0xf) == 5 && ((norm >>> 9) & 0x7) == 0) {
            var src = ((norm >>> 13) & 0xfffff) | (((norm >>> 36) & 1) << 20)
            src <<= 4
            val dest0 = if (encode) src + i else src - i
            val dest = (dest0 >>> 4) & 0x1fffff
            var norm2 = norm & ~((0xfffffL << 13) | (1L << 36))
            norm2 |= (dest & 0xfffff) << 13
            norm2 |= ((dest >>> 20) & 1) << 36
            val instr2 = (instr & ((1L << bitRes) - 1)) | (norm2 << bitRes)
            j = 0
            while (j < 6) {
              buf(i + bytePos + j) = ((instr2 >>> (8 * j)) & 0xff).toByte
              j += 1
            }
          }
        }
        slot += 1
        bitPos += 41
      }
      i += 16
    }
    buf
  }

  /** The xz delta filter (filter id 0x03): byte-distance subtraction,
    * `out[i] = in[i] − in[i−dist]` with zero-initialized history when
    * encoding, the running-sum inverse when decoding. dist ∈ [1, 256]
    * (the property byte stores dist−1). Not a branch filter at all —
    * it lives here with the other xz pre-filters so the whole family
    * shares one differential-evidence home. Validated bidirectionally
    * against `xz --delta=dist=N` (r14).
    */
  def delta(data: Array[Byte], dist: Int, encode: Boolean): Array[Byte] = {
    require(dist >= 1 && dist <= 256, s"delta distance $dist")
    val buf = data.clone()
    if (encode) {
      var i = buf.length - 1
      while (i >= dist) { buf(i) = (buf(i) - buf(i - dist)).toByte; i -= 1 }
    } else {
      var i = dist
      while (i < buf.length) { buf(i) = (buf(i) + buf(i - dist)).toByte; i += 1 }
    }
    buf
  }
}
