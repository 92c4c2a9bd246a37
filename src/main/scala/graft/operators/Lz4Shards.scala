package graft.operators

import org.apache.spark.sql.DataFrame

/** LZ4-frame shard ingest — the fourth leg of the compressed-shard
  * family (gzip/zstd/xz/bzip2 precede it): `.jsonl.lz4` shards appear
  * in dataset mirrors and fast-path log drops where zstd's ratio is
  * traded for lz4's speed. Like [[ZstdShards]], the CODEC comes from
  * the runtime (lz4-java — Spark's own block codec; the zstd-jni/JDK-
  * Inflater precedent), while the FRAME DISCIPLINE is implemented here
  * from the public LZ4 Frame Format spec and enforced strictly:
  *
  *  - magic, version bits, reserved bits, and the HC header checksum
  *    (XXH32 of the descriptor, byte 1 of the digest) all verified;
  *  - the block walk honors compressed/uncompressed flags and the
  *    declared block-maximum; per-block XXH32 checksums verified when
  *    present; every compressed block must decompress through the
  *    reference safeDecompressor to EXACTLY the bytes it produces
  *    (over-read and malformed sequences reject);
  *  - the CONTENT checksum (XXH32 of the whole decompressed frame)
  *    and the optional declared content size are both verified;
  *  - BLOCK-LINKED (dependent) frames are accepted ONLY when they
  *    carry a single data block — with one block the back-reference
  *    window cannot cross a boundary, so correctness is provable;
  *    multi-block linked frames reject loudly rather than risk
  *    silently-wrong bytes (lz4 CLI users pass -BI for shard
  *    workloads precisely so readers can parallelize);
  *  - skippable frames (0x184D2A5x) skip by their declared size;
  *    a file is a CONCATENATION of frames consumed exactly — trailing
  *    garbage rejects; running decompressed total is bomb-capped;
  *  - JSONL lines split only AFTER frames concatenate (the fixture
  *    cuts frames mid-line, so a frames-as-records reader diverges).
  *
  * `Lz4ShardsSpec` proves the walk BOTH directions against the
  * reference implementations: the system `lz4` CLI (binary-gated, the
  * xz pattern) and lz4-java's own LZ4FrameInputStream/OutputStream.
  *
  * Shape at 100 TB: per-file parallelism, scan-local decode, zero
  * shuffle — identical to the sibling shard readers, whose row shape
  * it shares through [[ZstdShards.parseWith]].
  */
object Lz4Shards {

  private val Magic = 0x184D2204
  private val MaxOut = 256L << 20

  private object Malformed extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  private val factory = net.jpountz.lz4.LZ4Factory.fastestInstance()
  private val xxh = net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()

  private def u32le(b: Array[Byte], o: Int): Long = {
    if (o + 4 > b.length) throw Malformed
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  }
  private def u64le(b: Array[Byte], o: Int): Long = {
    if (o + 8 > b.length) throw Malformed
    u32le(b, o) | (u32le(b, o + 4) << 32)
  }
  private def isSkippable(magic: Long): Boolean =
    (magic & 0xfffffff0L) == 0x184D2A50L

  /** Decompress one whole file of concatenated frames; None on ANY
    * frame-discipline violation.
    */
  def decompress(bytes: Array[Byte]): Option[Array[Byte]] = {
    try {
      if (bytes == null || bytes.length < 7) throw Malformed
      val out = new java.io.ByteArrayOutputStream(math.min(bytes.length * 3, 1 << 20))
      var p = 0
      var sawFrame = false
      while (p < bytes.length) {
        val magic = u32le(bytes, p)
        p += 4
        if (isSkippable(magic)) {
          val size = u32le(bytes, p); p += 4
          if (size < 0 || p + size > bytes.length) throw Malformed
          p += size.toInt
        } else if (magic == Magic) {
          sawFrame = true
          val hdrStart = p
          val flg = bytes(chk(p)) & 0xff; p += 1
          if ((flg >>> 6) != 1) throw Malformed // version must be 01
          if ((flg & 0x02) != 0) throw Malformed // reserved bit
          val blockIndep = (flg & 0x20) != 0
          val blockChecksum = (flg & 0x10) != 0
          val hasContentSize = (flg & 0x08) != 0
          val contentChecksum = (flg & 0x04) != 0
          val hasDictId = (flg & 0x01) != 0
          val bd = bytes(chk(p)) & 0xff; p += 1
          if ((bd & 0x8f) != 0) throw Malformed // BD reserved bits
          val bmax = (bd >>> 4) & 7
          if (bmax < 4) throw Malformed
          val blockMax = 1 << (8 + 2 * bmax) // 4→64KB … 7→4MB
          val contentSize = if (hasContentSize) { val v = u64le(bytes, p); p += 8; v } else -1L
          if (hasDictId) throw Malformed // external dictionaries: reject
          // HC: byte 1 of XXH32(descriptor), seed 0
          val hc = bytes(chk(p)) & 0xff; p += 1
          val want = (xxh.hash(bytes, hdrStart, p - 1 - hdrStart, 0) >> 8) & 0xff
          if (hc != want) throw Malformed
          // blocks
          val frameOut = new java.io.ByteArrayOutputStream()
          var nDataBlocks = 0
          var done = false
          while (!done) {
            val bsize = u32le(bytes, p); p += 4
            if (bsize == 0) done = true
            else {
              val uncompressed = (bsize & 0x80000000L) != 0
              val len = (bsize & 0x7fffffffL).toInt
              if (len <= 0 || len > blockMax || p + len > bytes.length)
                throw Malformed
              nDataBlocks += 1
              val data = java.util.Arrays.copyOfRange(bytes, p, p + len)
              p += len
              if (blockChecksum) {
                val bc = u32le(bytes, p); p += 4
                if ((xxh.hash(data, 0, data.length, 0) & 0xffffffffL) != bc)
                  throw Malformed
              }
              if (uncompressed) frameOut.write(data)
              else {
                // reference block decompressor; the declared block max
                // bounds the output BEFORE allocation
                val dst = new Array[Byte](blockMax)
                val n =
                  try factory.safeDecompressor().decompress(data, 0, len, dst, 0)
                  catch { case _: net.jpountz.lz4.LZ4Exception => throw Malformed }
                frameOut.write(dst, 0, n)
              }
              if (out.size().toLong + frameOut.size() > MaxOut) throw Malformed
            }
          }
          // a multi-block LINKED frame has cross-block references the
          // block decompressor cannot honor — reject, don't guess
          if (!blockIndep && nDataBlocks > 1) throw Malformed
          val frameBytes = frameOut.toByteArray
          if (contentSize >= 0 && frameBytes.length != contentSize) throw Malformed
          if (contentChecksum) {
            val cc = u32le(bytes, p); p += 4
            if ((xxh.hash(frameBytes, 0, frameBytes.length, 0) & 0xffffffffL) != cc)
              throw Malformed
          }
          out.write(frameBytes)
        } else throw Malformed // unknown magic = trailing garbage
      }
      if (!sawFrame) throw Malformed
      Some(out.toByteArray)
    } catch {
      case Malformed => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }
  private def chk(o: Int): Int = o // bounds ride the byte reads above

  /** binaryFile rows → one row per JSONL line, through the shared
    * shard scaffold (row shape and line convention identical to the
    * gzip/zstd/xz siblings).
    */
  def parse(raw: DataFrame): DataFrame =
    ZstdShards.parseWith(raw, (_, bytes) => decompress(bytes))

  // ---------------- writer (fixture reverse direction) ----------------

  /** One frame over `payload`: reference-compressed blocks of
    * `blockLen` under OUR frame arithmetic. Flags rotate per call in
    * the fixtures; `linked=true` writes a (single-block) block-linked
    * frame.
    */
  def makeFrame(payload: Array[Byte], blockLen: Int = 65536,
      blockChecksum: Boolean = false, contentSize: Boolean = false,
      contentChecksum: Boolean = true, linked: Boolean = false): Array[Byte] = {
    require(blockLen > 0 && blockLen <= 65536)
    require(!linked || payload.length <= blockLen, "linked frames: one block")
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      var i = 0
      while (i < 4) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    w32(Magic)
    val hdr = new java.io.ByteArrayOutputStream()
    val flg = 0x40 | (if (linked) 0 else 0x20) |
      (if (blockChecksum) 0x10 else 0) | (if (contentSize) 0x08 else 0) |
      (if (contentChecksum) 0x04 else 0)
    hdr.write(flg)
    hdr.write(4 << 4) // BD: 64 KB block max
    if (contentSize) {
      val v = payload.length.toLong
      var i = 0
      while (i < 8) { hdr.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    val hb = hdr.toByteArray
    out.write(hb, 0, hb.length)
    out.write((xxh.hash(hb, 0, hb.length, 0) >> 8) & 0xff)
    val comp = factory.fastCompressor()
    var off = 0
    while (off < payload.length) {
      val n = math.min(blockLen, payload.length - off)
      val dst = new Array[Byte](comp.maxCompressedLength(n))
      val cLen = comp.compress(payload, off, n, dst, 0)
      if (cLen < n) {
        w32(cLen.toLong)
        out.write(dst, 0, cLen)
        if (blockChecksum) w32(xxh.hash(dst, 0, cLen, 0) & 0xffffffffL)
      } else { // incompressible: store raw with the high bit
        w32(n.toLong | 0x80000000L)
        out.write(payload, off, n)
        if (blockChecksum)
          w32(xxh.hash(payload, off, n, 0) & 0xffffffffL)
      }
      off += n
    }
    w32(0) // EndMark
    if (contentChecksum)
      w32(xxh.hash(payload, 0, payload.length, 0) & 0xffffffffL)
    out.toByteArray
  }

  /** A skippable frame (tooling metadata carriers). */
  def makeSkippable(n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var v = 0x184D2A53L
    var i = 0
    while (i < 4) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    v = n.toLong
    i = 0
    while (i < 4) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    (0 until n).foreach(k => out.write(k & 0x7f))
    out.toByteArray
  }
}
