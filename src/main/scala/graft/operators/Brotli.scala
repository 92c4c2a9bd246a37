package graft.operators

/** Brotli decoder (RFC 7932) — the content-coding modern CDNs serve
  * (`Content-Encoding: br`), which makes it a first-class crawl-ingest
  * codec: a reader without it rejects a large slice of real HTTP
  * payloads (the r12 verdict ranked this residual #2). From-scratch
  * implementation of the public spec: LSB-first bit stream, stream
  * header window coding, metablock headers (compressed, uncompressed
  * and metadata forms), SIMPLE and COMPLEX prefix codes (the 18-symbol
  * code-length alphabet with HSKIP, 16/17 repeat coding with the
  * nested-repeat accumulation, Kraft-space exact-fill discipline),
  * block-type/count switching in all three categories, context
  * modeling for literals (LSB6/MSB6/UTF8/Signed) and distances
  * (by copy length), context maps with run-length zeros and inverse
  * move-to-front, the NPOSTFIX/NDIRECT distance scheme with the
  * 4-slot last-distance ring buffer, and STATIC DICTIONARY references
  * with all 121 word transforms (prefix + ferment/omit core + suffix).
  *
  * The two public data blobs ride as resources with pinned SHA-256:
  * the 122,784-byte dictionary (RFC 7932 Appendix A) and the
  * 2,048-byte context-lookup table (section 7.1), both extracted from
  * the reference implementation's read-only data and structurally
  * validated (`scripts/brotli_reference.py`); the 121-transform table
  * below was recovered from the reference decoder by ORACLE QUERIES —
  * hand-crafted minimal streams referencing each (word, transform)
  * pair — rather than hand transcription, and `BrotliSpec` pins every
  * transform's output bytes against the recorded reference outputs
  * plus 60 reference-encoded streams across qualities and windows.
  *
  * Reject-don't-guess: over-subscribed or under-filled prefix codes,
  * repeated simple-code symbols, out-of-alphabet symbols, context-map
  * values past NTREES, invalid window bits, reserved bits, lying
  * MLEN/MSKIPLEN, copies before the stream start, dictionary copy
  * lengths outside 4..24, transform ids past 120, metablock overruns,
  * nonzero final padding and trailing bytes all reject (None); a
  * running output cap guards expansion bombs BEFORE allocation
  * (brotli's dictionary+window design allows ~4000:1 blowups — the
  * zstd lesson applies doubly).
  *
  * Shape at 100 TB: decode is scan-local per payload (an HTTP body, a
  * WARC record) — per-file parallelism, zero shuffle.
  */
object Brotli {

  private object Malformed extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  // ---------------- embedded public data ----------------

  private def resource(name: String, expectLen: Int, sha: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(name)
    require(in != null, s"missing resource $name")
    val b = in.readAllBytes()
    in.close()
    require(b.length == expectLen, s"$name length ${b.length}")
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(b)
    val hex = d.map(x => f"${x & 0xff}%02x").mkString
    require(hex == sha, s"$name sha $hex")
    b
  }

  /** RFC 7932 Appendix A, 122,784 bytes. */
  private lazy val Dict: Array[Byte] = resource("/graft/brotli_dict.bin",
    122784, "20e42eb1b511c21806d4d227d07e5dd06877d8ce7b3a817f378f313653f35c70")

  /** Section 7.1 context lookup: 512 bytes per mode (lut0 | lut1). */
  private lazy val CtxLut: Array[Byte] = resource("/graft/brotli_ctx.bin",
    2048, "0e4abc034ef46244934d117f15876cd477d0fb2ac94a023093338e72e37f7ad9")

  private val SizeBits = Array(0, 0, 0, 0, 10, 10, 11, 11, 10, 10, 10, 10,
    10, 9, 9, 8, 7, 7, 8, 7, 7, 6, 6, 5, 5)
  private val DictOffset: Array[Int] = {
    val o = new Array[Int](25)
    var off = 0
    var l = 4
    o(4) = 0
    while (l <= 24) {
      o(l) = off
      off += (1 << SizeBits(l)) * l
      l += 1
    }
    o
  }

  // ---------------- bit reader (LSB-first) ----------------

  private final class Br(val b: Array[Byte]) {
    var pos = 0L // bit position
    val end: Long = b.length.toLong * 8
    def bits(n: Int): Int = {
      if (pos + n > end) throw Malformed
      var v = 0
      var i = 0
      while (i < n) {
        val p = pos + i
        v |= (((b((p >>> 3).toInt) >> (p & 7).toInt) & 1).toInt) << i
        i += 1
      }
      pos += n
      v
    }
    def bit(): Int = bits(1)
    def align(): Unit = { pos = (pos + 7) & ~7L }
    def byteAt: Int = (pos >>> 3).toInt
  }

  /** Growing output buffer with O(1) random access (backward copies
    * and the 2-byte literal context need cheap reads of recent bytes).
    */
  private final class Out(cap: Long) {
    var buf = new Array[Byte](1 << 16)
    var len = 0
    def ensure(extra: Int): Unit = {
      if (len.toLong + extra > cap) throw Malformed // bomb cap
      if (len + extra > buf.length) {
        // Long doubling: an Int shift could wrap negative near 2^31
        // for large caller caps and spin this loop forever
        var n = buf.length.toLong
        while (n < len.toLong + extra) n <<= 1
        buf = java.util.Arrays.copyOf(buf,
          math.min(n, Int.MaxValue - 8L).toInt)
      }
    }
    def write(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }
    def write(a: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(a, off, buf, len, n); len += n
    }
    /** Overlap-correct backward copy from distance `d`. */
    def copyBack(d: Long, n: Int): Unit = {
      ensure(n)
      var k = 0
      val src = (len - d).toInt
      while (k < n) { buf(len + k) = buf(src + k); k += 1 }
      len += n
    }
    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  // ---------------- prefix codes ----------------

  /** Canonical prefix code over `lengths` (0 = absent, max 15).
    * Decoding walks lengths shortest-first with canonical first-codes.
    */
  private final class Code(lengths: Array[Int]) {
    private val maxLen = lengths.max
    // count(len), firstCode(len), symbols sorted by (len, symbol order)
    private val count = new Array[Int](maxLen + 1)
    lengths.foreach(l => if (l > 0) count(l) += 1)
    private val offset = new Array[Int](maxLen + 2)
    for (l <- 1 to maxLen) offset(l + 1) = offset(l) + count(l)
    private val syms: Array[Int] = {
      val a = new Array[Int](offset(maxLen + 1))
      val cursor = offset.clone()
      var s = 0
      while (s < lengths.length) {
        val l = lengths(s)
        if (l > 0) { a(cursor(l)) = s; cursor(l) += 1 }
        s += 1
      }
      a
    }
    private val firstCode: Array[Int] = {
      val a = new Array[Int](maxLen + 2)
      var code = 0
      for (l <- 1 to maxLen) {
        a(l) = code
        code = (code + count(l)) << 1
      }
      a
    }
    val singleSymbol: Int = if (syms.length == 1) syms(0) else -1

    def decode(br: Br): Int = {
      if (singleSymbol >= 0) return singleSymbol // 0-bit code
      var code = 0
      var l = 0
      while (l < maxLen) {
        code = (code << 1) | br.bit()
        l += 1
        if (count(l) > 0 && code - firstCode(l) < count(l))
          return syms(offset(l) + code - firstCode(l))
      }
      throw Malformed
    }
  }

  private def alphabetBits(size: Int): Int = {
    var b = 0
    while ((1 << b) < size) b += 1
    b
  }

  /** §3.4/3.5: read one prefix code over `alphabet` symbols. */
  private def readCode(br: Br, alphabet: Int): Code = {
    val h = br.bits(2)
    if (h == 1) {
      // simple form
      val nsym = br.bits(2) + 1
      val abits = alphabetBits(alphabet)
      val s = new Array[Int](nsym)
      var i = 0
      while (i < nsym) {
        s(i) = br.bits(abits)
        if (s(i) >= alphabet) throw Malformed
        var j = 0
        while (j < i) { if (s(j) == s(i)) throw Malformed; j += 1 }
        i += 1
      }
      val lengths = new Array[Int](alphabet)
      nsym match {
        case 1 => lengths(s(0)) = 1 // handled as a 0-bit single-symbol code
        case 2 =>
          java.util.Arrays.sort(s)
          lengths(s(0)) = 1; lengths(s(1)) = 1
        case 3 =>
          if (s(1) > s(2)) { val t = s(1); s(1) = s(2); s(2) = t }
          lengths(s(0)) = 1; lengths(s(1)) = 2; lengths(s(2)) = 2
        case 4 =>
          if (br.bit() == 0) {
            java.util.Arrays.sort(s)
            s.foreach(lengths(_) = 2)
          } else {
            if (s(2) > s(3)) { val t = s(2); s(2) = s(3); s(3) = t }
            lengths(s(0)) = 1; lengths(s(1)) = 2
            lengths(s(2)) = 3; lengths(s(3)) = 3
          }
      }
      new Code(lengths)
    } else {
      // complex form, HSKIP = h (0, 2 or 3)
      val order = Array(1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12,
        13, 14, 15)
      // static code for the code-length code lengths: 4-bit peek table
      val plen = Array(2, 2, 2, 3, 2, 2, 2, 4, 2, 2, 2, 3, 2, 2, 2, 4)
      val pval = Array(0, 4, 3, 2, 0, 4, 3, 1, 0, 4, 3, 2, 0, 4, 3, 5)
      val clLen = new Array[Int](18)
      var space = 0
      var numCl = 0
      var i = h
      while (i < 18 && space < 32) {
        // peek up to 4 bits (pad past end with zeros, as the final byte
        // may legally end mid-code)
        var peek = 0
        var k = 0
        while (k < 4) {
          val p = br.pos + k
          if (p < br.end)
            peek |= (((br.b((p >>> 3).toInt) >> (p & 7).toInt) & 1).toInt) << k
          k += 1
        }
        val l = plen(peek)
        if (br.pos + l > br.end) throw Malformed
        br.pos += l
        val v = pval(peek)
        clLen(order(i)) = v
        if (v != 0) { space += 32 >> v; numCl += 1 }
        i += 1
      }
      if (space > 32) throw Malformed
      if (space != 32 && numCl != 1) throw Malformed
      val clCode = new Code(clLen)
      // read the alphabet's code lengths with 16/17 repeats
      val lengths = new Array[Int](alphabet)
      var symbol = 0
      var prevLen = 8
      var repeat = 0
      var repeatLen = 0 // the value being repeated (len or 0)
      var space2 = 0L
      while (symbol < alphabet && space2 < 32768) {
        val s = clCode.decode(br)
        if (s < 16) {
          lengths(symbol) = s
          symbol += 1
          if (s != 0) {
            prevLen = s
            space2 += 32768 >> s
          }
          repeat = 0
        } else {
          val extra = if (s == 16) 2 else 3
          val newLen = if (s == 16) prevLen else 0
          if (repeat > 0 && repeatLen != newLen) repeat = 0
          val old = repeat
          if (repeat > 0) repeat = (repeat - 2) << extra
          repeat += 3 + br.bits(extra)
          repeatLen = newLen
          val emit = repeat - old
          if (symbol + emit > alphabet) throw Malformed
          var e = 0
          while (e < emit) {
            lengths(symbol) = newLen
            symbol += 1
            e += 1
          }
          if (newLen != 0) space2 += emit.toLong * (32768 >> newLen)
        }
      }
      if (space2 > 32768) throw Malformed
      val nonzero = lengths.count(_ != 0)
      if (space2 != 32768 && nonzero != 1) throw Malformed
      if (nonzero == 0) throw Malformed
      new Code(lengths)
    }
  }

  // ---------------- fixed tables ----------------

  private val InsertOff = Array(0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34,
    50, 66, 98, 130, 194, 322, 578, 1090, 2114, 6210, 22594)
  private val InsertBits = Array(0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4,
    5, 5, 6, 7, 8, 9, 10, 12, 14, 24)
  private val CopyOff = Array(2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22,
    30, 38, 54, 70, 102, 134, 198, 326, 582, 1094, 2118)
  private val CopyBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3,
    4, 4, 5, 5, 6, 7, 8, 9, 10, 24)
  private val InsRange = Array(0, 0, 8, 8, 0, 16, 8, 16, 16)
  private val CpyRange = Array(0, 8, 0, 8, 16, 0, 16, 8, 16)

  private val BlockLenOff = Array(1, 5, 9, 13, 17, 25, 33, 41, 49, 65, 81,
    97, 113, 145, 177, 209, 241, 305, 369, 497, 753, 1265, 2289, 4337,
    8433, 16625)
  private val BlockLenBits = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5,
    5, 5, 5, 6, 6, 7, 8, 9, 10, 11, 12, 13, 24)

  // transform table, recovered from the reference decoder by oracle
  // query (scripts/brotli_reference.py; BrotliSpec pins every row's
  // output bytes). op: 0 identity, 1..9 OmitLastN, 10 FermentFirst,
  // 11 FermentAll, 12..20 OmitFirstN.
  private final case class T(prefix: String, op: Int, suffix: String)
  private val Transforms: Array[T] = Array(
    T("", 0, ""), T("", 0, " "), T(" ", 0, " "), T("", 12, ""),
    T("", 10, " "), T("", 0, " the "), T(" ", 0, ""), T("s ", 0, " "),
    T("", 0, " of "), T("", 10, ""), T("", 0, " and "), T("", 13, ""),
    T("", 1, ""), T(", ", 0, " "), T("", 0, ", "), T(" ", 10, " "),
    T("", 0, " in "), T("", 0, " to "), T("e ", 0, " "), T("", 0, "\""),
    T("", 0, "."), T("", 0, "\">"), T("", 0, "\n"), T("", 3, ""),
    T("", 0, "]"), T("", 0, " for "), T("", 14, ""), T("", 2, ""),
    T("", 0, " a "), T("", 0, " that "), T(" ", 10, ""), T("", 0, ". "),
    T(".", 0, ""), T(" ", 0, ", "), T("", 15, ""), T("", 0, " with "),
    T("", 0, "'"), T("", 0, " from "), T("", 0, " by "), T("", 16, ""),
    T("", 17, ""), T(" the ", 0, ""), T("", 4, ""), T("", 0, ". The "),
    T("", 11, ""), T("", 0, " on "), T("", 0, " as "), T("", 0, " is "),
    T("", 7, ""), T("", 1, "ing "), T("", 0, "\n\t"), T("", 0, ":"),
    T(" ", 0, ". "), T("", 0, "ed "), T("", 20, ""), T("", 18, ""),
    T("", 6, ""), T("", 0, "("), T("", 10, ", "), T("", 8, ""),
    T("", 0, " at "), T("", 0, "ly "), T(" the ", 0, " of "), T("", 5, ""),
    T("", 9, ""), T(" ", 10, ", "), T("", 10, "\""), T(".", 0, "("),
    T("", 11, " "), T("", 10, "\">"), T("", 0, "=\""), T(" ", 0, "."),
    T(".com/", 0, ""), T(" the ", 0, " of the "), T("", 10, "'"),
    T("", 0, ". This "), T("", 0, ","), T(".", 0, " "), T("", 10, "("),
    T("", 10, "."), T("", 0, " not "), T(" ", 0, "=\""), T("", 0, "er "),
    T(" ", 11, " "), T("", 0, "al "), T(" ", 11, ""), T("", 0, "='"),
    T("", 11, "\""), T("", 10, ". "), T(" ", 0, "("), T("", 0, "ful "),
    T(" ", 10, ". "), T("", 0, "ive "), T("", 0, "less "), T("", 11, "'"),
    T("", 0, "est "), T(" ", 10, "."), T("", 11, "\">"), T(" ", 0, "='"),
    T("", 10, ","), T("", 0, "ize "), T("", 11, "."), T("Â ", 0, ""),
    T(" ", 0, ","), T("", 10, "=\""), T("", 11, "=\""), T("", 0, "ous "),
    T("", 11, ", "), T("", 10, "='"), T(" ", 10, ","), T(" ", 11, "=\""),
    T(" ", 11, ", "), T("", 11, ","), T("", 11, "("), T("", 11, ". "),
    T(" ", 11, "."), T("", 11, "='"), T(" ", 11, ". "), T(" ", 10, "=\""),
    T(" ", 11, "='"), T(" ", 10, "='"))

  private def transformWord(word: Array[Byte], t: Int, out: Out): Unit = {
    if (t < 0 || t >= Transforms.length) throw Malformed
    val tr = Transforms(t)
    tr.prefix.foreach(c => out.write(c & 0xff))
    var from = 0
    var until = word.length
    tr.op match {
      case 0 => ()
      case k if k >= 1 && k <= 9 => until = math.max(from, until - k) // OmitLast
      case k if k >= 12 && k <= 20 => from = math.min(until, k - 11) // OmitFirst
      case _ => () // ferment handled below
    }
    val core = java.util.Arrays.copyOfRange(word, from, until)
    if (tr.op == 10 || tr.op == 11) { // FermentFirst / FermentAll
      var i = 0
      while (i < core.length) {
        val b = core(i) & 0xff
        if (b < 0xc0) {
          if (b >= 'a' && b <= 'z') core(i) = (b ^ 32).toByte
          i += 1
        } else if (b < 0xe0) {
          if (i + 1 < core.length) core(i + 1) = (core(i + 1) ^ 32).toByte
          i += 2
        } else {
          if (i + 2 < core.length) core(i + 2) = (core(i + 2) ^ 5).toByte
          i += 3
        }
        if (tr.op == 10) i = core.length // first position only
      }
    }
    out.write(core, 0, core.length)
    tr.suffix.foreach(c => out.write(c & 0xff))
  }

  // ---------------- block category state ----------------

  private final class BlockState(br: Br, val ntypes: Int) {
    var typeCode: Code = _
    var countCode: Code = _
    var cur = 0
    var prev = 1
    var remaining: Long = Long.MaxValue
    if (ntypes >= 2) {
      typeCode = readCode(br, ntypes + 2)
      countCode = readCode(br, 26)
      remaining = readCount(br)
    }
    def readCount(br: Br): Long = {
      val s = countCode.decode(br)
      if (s >= 26) throw Malformed
      BlockLenOff(s).toLong + br.bits(BlockLenBits(s))
    }
    def maybeSwitch(br: Br): Unit = {
      if (remaining == 0) {
        val s = typeCode.decode(br)
        val next =
          if (s == 0) prev
          else if (s == 1) (cur + 1) % ntypes
          else s - 2
        if (next >= ntypes) throw Malformed
        prev = cur
        cur = next
        remaining = readCount(br)
      }
      remaining -= 1
    }
  }

  /** §9.2 variable block-type count: 1..256. */
  private def readNbltypes(br: Br): Int = {
    if (br.bit() == 0) 1
    else {
      val k = br.bits(3)
      (1 << k) + 1 + (if (k > 0) br.bits(k) else 0)
    }
  }

  // ---------------- main decode ----------------

  /** Decompress; None on ANY spec violation; output capped at `cap`. */
  def decompress(bytes: Array[Byte], cap: Long = 64L << 20): Option[Array[Byte]] = {
    try {
      if (bytes == null || bytes.length == 0) throw Malformed
      val br = new Br(bytes)
      // window bits
      val wbits: Int =
        if (br.bit() == 0) 16
        else {
          val n = br.bits(3)
          if (n != 0) 17 + n
          else {
            val m = br.bits(3)
            if (m == 0) 17
            else if (m == 1) throw Malformed // 9 is reserved
            else 8 + m
          }
        }
      val maxBackward = (1L << wbits) - 16
      val out = new Out(cap)
      // last-distance ring, pinned against the reference by short-code
      // probes: storage {16,15,11,4} with a FORWARD write index — the
      // effective initial order is last=4, 2nd=11, 3rd=15, 4th=16 —
      // and it PERSISTS across metablocks (differentially pinned: a
      // mid-stream metablock boundary must not reset it)
      val ring = Array(16L, 15L, 11L, 4L)
      val ringIdx = new Array[Int](1)
      var last = false
      while (!last) {
        last = br.bit() == 1
        if (last && br.bit() == 1) {
          // ISLASTEMPTY: done
        } else {
          val mnib = br.bits(2)
          if (mnib == 3) {
            // metadata block: skipped by declared length
            if (last) throw Malformed // metadata cannot be the last block
            if (br.bit() != 0) throw Malformed // reserved
            val mskipBytes = br.bits(2)
            var skip = 0L
            if (mskipBytes > 0) {
              var i = 0
              var v = 0L
              while (i < mskipBytes) { v |= br.bits(8).toLong << (8 * i); i += 1 }
              if (mskipBytes > 1 && (v >>> (8 * (mskipBytes - 1))) == 0)
                throw Malformed // last byte must be nonzero
              skip = v + 1
            }
            br.align()
            if (br.pos + skip * 8 > br.end) throw Malformed
            br.pos += skip * 8
          } else {
            val nibbles = mnib + 4
            val mlen = br.bits(4 * nibbles) + 1
            if (nibbles > 4 && (mlen - 1) >>> (4 * (nibbles - 1)) == 0)
              throw Malformed // MLEN must need the declared nibbles
            val uncompressed = !last && br.bit() == 1
            if (uncompressed) {
              br.align()
              if (br.pos + mlen.toLong * 8 > br.end) throw Malformed
              out.write(bytes, br.byteAt, mlen)
              br.pos += mlen.toLong * 8
            } else {
              decodeMetablock(br, mlen, maxBackward, out, ring, ringIdx)
            }
          }
        }
      }
      // final padding: remaining bits of the last byte must be zero, and
      // no bytes may follow
      while (br.pos < br.end && (br.pos & 7) != 0) {
        if (br.bit() != 0) throw Malformed
      }
      if (br.pos != br.end) throw Malformed
      Some(out.result())
    } catch {
      case Malformed => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  private def decodeMetablock(br: Br, mlen: Int, maxBackward: Long,
      out: Out, ring: Array[Long], ringIdxBox: Array[Int]): Unit = {
    val bsL = new BlockState(br, readNbltypes(br))
    val bsI = new BlockState(br, readNbltypes(br))
    val bsD = new BlockState(br, readNbltypes(br))
    val npostfix = br.bits(2)
    val ndirect = br.bits(4) << npostfix
    val cmodes = Array.fill(bsL.ntypes)(br.bits(2))
    val ntreesL = readNbltypes(br)
    val cmapL: Array[Int] =
      if (ntreesL >= 2) readContextMap(br, 64 * bsL.ntypes, ntreesL)
      else new Array[Int](64 * bsL.ntypes)
    val ntreesD = readNbltypes(br)
    val cmapD: Array[Int] =
      if (ntreesD >= 2) readContextMap(br, 4 * bsD.ntypes, ntreesD)
      else new Array[Int](4 * bsD.ntypes)
    val litCodes = Array.fill(ntreesL)(readCode(br, 256))
    val iacCodes = Array.fill(bsI.ntypes)(readCode(br, 704))
    val distAlphabet = 16 + ndirect + (48 << npostfix)
    val distCodes = Array.fill(ntreesD)(readCode(br, distAlphabet))

    def lastDist(k: Int): Long = ring((ringIdxBox(0) - k - 1) & 3)
    def pushDist(d: Long): Unit = {
      ring(ringIdxBox(0) & 3) = d
      ringIdxBox(0) = (ringIdxBox(0) + 1) & 3
    }

    var mpos = 0
    while (mpos < mlen) {
      bsI.maybeSwitch(br)
      val iac = iacCodes(bsI.cur).decode(br)
      val cell = iac >>> 6
      val implicitDist = cell < 2
      val grid = if (implicitDist) cell else cell - 2
      val insCode = InsRange(grid) + ((iac >>> 3) & 7)
      val cpyCode = CpyRange(grid) + (iac & 7)
      val insLen = InsertOff(insCode) + br.bits(InsertBits(insCode))
      val copyLen = CopyOff(cpyCode) + br.bits(CopyBits(cpyCode))
      // literals
      var i = 0
      while (i < insLen) {
        if (mpos >= mlen) throw Malformed
        bsL.maybeSwitch(br)
        val sz = out.len
        val p1 = if (sz > 0) out.buf(sz - 1) & 0xff else 0
        val p2 = if (sz > 1) out.buf(sz - 2) & 0xff else 0
        val mode = cmodes(bsL.cur)
        val ctx = (CtxLut((mode << 9) + p1) | CtxLut((mode << 9) + 256 + p2)) & 0xff
        val tree = cmapL(bsL.cur * 64 + ctx)
        val lit = litCodes(tree).decode(br)
        out.write(lit)
        mpos += 1
        i += 1
      }
      if (mpos < mlen) {
        // distance
        var distance = 0L
        var dcode = 0
        if (implicitDist) {
          distance = lastDist(0)
        } else {
          bsD.maybeSwitch(br)
          val ctx = if (copyLen > 4) 3 else copyLen - 2
          val tree = cmapD(bsD.cur * 4 + ctx)
          dcode = distCodes(tree).decode(br)
          if (dcode < 16) {
            distance = dcode match {
              case 0 => lastDist(0)
              case 1 => lastDist(1)
              case 2 => lastDist(2)
              case 3 => lastDist(3)
              case k =>
                val base = if (k < 10) lastDist(0) else lastDist(1)
                val deltas = Array(-1L, 1L, -2L, 2L, -3L, 3L)
                base + deltas((k - 4) % 6)
            }
            if (distance <= 0) throw Malformed
          } else if (dcode < 16 + ndirect) {
            distance = (dcode - 16 + 1).toLong
          } else {
            val postfixMask = (1 << npostfix) - 1
            val hcode = (dcode - ndirect - 16) >>> npostfix
            val lcode = (dcode - ndirect - 16) & postfixMask
            val ndistbits = 1 + (hcode >> 1)
            if (ndistbits > 24) throw Malformed
            val dextra = br.bits(ndistbits)
            val offset = ((2L + (hcode & 1)) << ndistbits) - 4
            distance = ((offset + dextra) << npostfix) + lcode + ndirect + 1
          }
        }
        val pos = out.len.toLong
        val allowed = math.min(pos, maxBackward)
        if (distance <= allowed) {
          if (mpos + copyLen > mlen) throw Malformed
          out.copyBack(distance, copyLen)
          mpos += copyLen
          if (!implicitDist && dcode != 0) pushDist(distance)
        } else {
          // static dictionary reference
          if (copyLen < 4 || copyLen > 24) throw Malformed
          val nwords = 1 << SizeBits(copyLen)
          val address = distance - allowed - 1
          if (address < 0) throw Malformed
          val wordIdx = (address % nwords).toInt
          val tid = (address / nwords).toInt
          if (tid >= Transforms.length) throw Malformed
          val word = java.util.Arrays.copyOfRange(Dict,
            DictOffset(copyLen) + wordIdx * copyLen,
            DictOffset(copyLen) + (wordIdx + 1) * copyLen)
          val before = out.len
          transformWord(word, tid, out)
          mpos += out.len - before
          if (mpos > mlen) throw Malformed
          // dictionary references never update the distance ring
        }
      } else {
        // metablock ended exactly after the inserts: copy part ignored
      }
    }
    if (mpos != mlen) throw Malformed
  }

  /** Minimal ENCODER: store-mode streams (uncompressed metablocks +
    * the empty ISLAST block), split at 64 KiB — the fixture reverse
    * direction for transport rows. Real compressed streams are pinned
    * against the reference encoder in BrotliSpec; this writer makes
    * self-contained driver fixtures without a native library.
    */
  def storeEncode(data: Array[Byte]): Array[Byte] = {
    val bits = new java.io.ByteArrayOutputStream()
    var cur = 0
    var n = 0
    def w(value: Int, len: Int): Unit = {
      var i = 0
      while (i < len) {
        cur |= ((value >> i) & 1) << n
        n += 1
        if (n == 8) { bits.write(cur); cur = 0; n = 0 }
        i += 1
      }
    }
    def align(): Unit = if (n > 0) { bits.write(cur); cur = 0; n = 0 }
    w(0, 1) // WBITS 16
    var off = 0
    while (off < data.length) {
      val take = math.min(1 << 16, data.length - off)
      w(0, 1) // ISLAST = 0
      w(0, 2) // 4 nibbles
      w(take - 1, 16)
      w(1, 1) // ISUNCOMPRESSED
      align()
      bits.write(data, off, take)
      off += take
    }
    w(1, 1); w(1, 1) // ISLAST + ISLASTEMPTY
    align()
    bits.toByteArray
  }

  /** §7.3 context map. */
  private def readContextMap(br: Br, size: Int, ntrees: Int): Array[Int] = {
    val rlemax = if (br.bit() == 1) br.bits(4) + 1 else 0
    val code = readCode(br, ntrees + rlemax)
    val map = new Array[Int](size)
    var i = 0
    while (i < size) {
      val s = code.decode(br)
      if (s == 0) { map(i) = 0; i += 1 }
      else if (s <= rlemax) {
        val run = (1 << s) + br.bits(s)
        if (i + run > size) throw Malformed
        var k = 0
        while (k < run) { map(i) = 0; i += 1; k += 1 }
      } else {
        val v = s - rlemax
        if (v >= ntrees) throw Malformed
        map(i) = v
        i += 1
      }
    }
    if (br.bit() == 1) {
      // inverse move-to-front
      val mtf = Array.tabulate(256)(identity)
      var k = 0
      while (k < size) {
        val idx = map(k)
        val v = mtf(idx)
        var j = idx
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
        map(k) = v
        k += 1
      }
    }
    map
  }
}
