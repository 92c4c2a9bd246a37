package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** 7z archive ingest — the other archive format bulk data drops ship
  * (dataset mirrors, forum/board dumps and Windows-origin corpora
  * publish `.7z` beside `.zip`/`.tar.*`). A COMPOSITION in the
  * tar.xz/tar.gz tradition: the 7z container walk is implemented here
  * from the public format description (7zFormat.txt in the LZMA SDK),
  * and the compression underneath is the repo's OWN LZMA/LZMA2 core —
  * the one already proven byte-exact in both directions against real
  * `xz` (`XzSpec`), so the hard part of 7z arrives reference-grade.
  *
  * Container walk (property-ID structure):
  *  - signature + version, the StartHeader CRC32 AND the NextHeader
  *    CRC32 both verified;
  *  - plain (kHeader) and ENCODED (kEncodedHeader) headers — an
  *    encoded header is itself a packed folder, decoded through the
  *    same machinery then re-parsed (one level, as the format defines);
  *  - PackInfo / UnpackInfo (folders) / SubStreamsInfo — including
  *    SOLID archives: a folder carrying many files, split by the
  *    substream size list, which is how real 7z archives ship;
  *  - per-substream CRC32s and folder CRC32s verified when present
  *    (our writer always writes them);
  *  - FilesInfo: names (UTF-16LE), the empty-stream bit vector
  *    (directories and empty files), kEmptyFile; unknown property
  *    blocks are SKIPPED BY THEIR DECLARED SIZE — the format's
  *    explicit forward-compatibility rule.
  *
  * Coders: kCopy (00), kLzma (03 01 01, raw known-size stream),
  * kLzma2 (21, the control-byte chunk layer shared with the xz
  * reader), two-coder bind-pair folders chaining a size-preserving
  * filter after the compressor — x86 BCJ (old-style 03 03 01 03 or
  * xz-aligned 04, r13), the ARM64/ARM32/ARM-Thumb/PowerPC/SPARC/
  * RISC-V family and delta (r14), all from [[Bcj]] with the
  * transforms differentially pinned against the reference `xz`
  * (NOTES_r13/r14; each is a reversible byte transform, nothing is
  * executed) — and (r14) the four-stream BCJ2 graph ([[Bcj2]]):
  * complex 4-in/1-out coder, multi-pack-stream folders with explicit
  * pack indices, validated by byte-exact libarchive (bsdtar)
  * extraction. Other multi-coder folder graphs and encrypted
  * archives (kAES-256, 06 F1 07 01) all reject loudly — a password
  * prompt has no place in a silent bulk pipeline, and half-decoding
  * is confident garbage.
  *
  * Reject-don't-guess: numbers are bounds-capped, every declared size
  * is checked against the file/cap BEFORE allocation, folder output
  * must land EXACTLY on its declared size, substream sizes must sum
  * to their folder, names must match the file count, bit vectors must
  * be exactly their declared width, and both walks carry depth/count
  * caps.
  *
  * Shape at 100 TB: an archive is the natural split unit — per-file
  * parallelism, scan-local decode, zero shuffle.
  */
object SevenZip {

  private val MaxFolderOut = 64 << 20
  private val MaxTotalOut = 256L << 20
  private val MaxFiles = 1 << 20

  private object Malformed extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  private def crc32(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32
    c.update(b, off, len)
    c.getValue
  }

  private def u32le(b: Array[Byte], o: Int): Long = {
    if (o + 4 > b.length) throw Malformed
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  }
  private def u64le(b: Array[Byte], o: Int): Long = {
    if (o + 8 > b.length) throw Malformed
    u32le(b, o) | (u32le(b, o + 4) << 32)
  }

  private final class Rd(val b: Array[Byte], var p: Int, val end: Int) {
    def u8(): Int = { if (p >= end) throw Malformed; val v = b(p) & 0xff; p += 1; v }
    /** 7z variable-length number: the first byte's high bits select how
      * many extra little-endian bytes follow.
      */
    def num(): Long = {
      val first = u8()
      var mask = 0x80
      var value = 0L
      var i = 0
      while (i < 8) {
        if ((first & mask) == 0) {
          return value | ((first & (mask - 1)).toLong << (8 * i))
        }
        value |= (u8().toLong << (8 * i))
        mask >>= 1
        i += 1
      }
      value
    }
    def checkedNum(cap: Long): Int = {
      val v = num()
      if (v < 0 || v > cap) throw Malformed
      v.toInt
    }
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || p + n > end) throw Malformed
      val out = java.util.Arrays.copyOfRange(b, p, p + n); p += n; out
    }
    def skip(n: Long): Unit = {
      if (n < 0 || p + n > end) throw Malformed
      p += n.toInt
    }
    /** MSB-first bit vector of `n` bits. */
    def bitVector(n: Int): Array[Boolean] = {
      val out = new Array[Boolean](n)
      var mask = 0
      var cur = 0
      var i = 0
      while (i < n) {
        if (mask == 0) { cur = u8(); mask = 0x80 }
        out(i) = (cur & mask) != 0
        mask >>= 1
        i += 1
      }
      out
    }
    /** AllAreDefined-prefixed bit vector. */
    def definedVector(n: Int): Array[Boolean] =
      if (u8() != 0) Array.fill(n)(true) else bitVector(n)
  }

  private final case class Coder(id: Seq[Int], props: Array[Byte])
  private val Bcj2Id = Seq(0x03, 0x03, 0x01, 0x1b)
  /** BCJ2 folder reduction (r14): the three sub coders with their
    * decoded sizes (roles 0 main, 1 call, 2 jump — fixed by the BCJ2
    * in-stream each bind pair feeds) and the role of each of the
    * folder's four pack slots in archive order (3 = the raw rc stream).
    */
  private final case class Bcj2Meta(subs: Vector[(Coder, Long)],
      packRoles: Vector[Int])
  // `filter`: the folder chains this branch/delta filter after `coder`;
  // `packBase`/`numPack`: this folder's pack-stream slice (BCJ2 folders
  // consume four pack streams, everything else one)
  private final case class Folder(coder: Coder, unpackSize: Long,
      packBase: Int, crc: Option[Long], filter: Option[Xz.PreFilter] = None,
      numPack: Int = 1, bcj2: Option[Bcj2Meta] = None)

  /** Recognize a supported size-preserving filter coder (r13 x86; r14
    * delta + the full branch family — the same evidence-bounded set as
    * [[Xz]], the transforms themselves differentially pinned against
    * the reference `xz` in XzSpec). 7z carries both the old-style
    * 0303xxxx ids and, since 21.07, the xz-aligned one-byte ids.
    * Malformed props on a recognized id throw; unknown ids return None
    * (the caller rejects folders with no recognizable filter). BCJ2 is
    * NOT in this set — it is a four-stream graph, handled by the
    * dedicated folder shape ([[Bcj2Meta]]), not a bind-pair filter.
    */
  private def filterOf(c: Coder): Option[Xz.PreFilter] = {
    val f: Option[Xz.PreFilter] = c.id match {
      case Seq(0x03, 0x03, 0x01, 0x03) | Seq(0x04) => Some(Xz.X86Filter)
      case Seq(0x03, 0x03, 0x02, 0x05) | Seq(0x05) => Some(Xz.PpcFilter)
      case Seq(0x03, 0x03, 0x05, 0x01) | Seq(0x07) => Some(Xz.ArmFilter)
      case Seq(0x03, 0x03, 0x07, 0x01) | Seq(0x08) => Some(Xz.ArmThumbFilter)
      case Seq(0x03, 0x03, 0x08, 0x05) | Seq(0x09) => Some(Xz.SparcFilter)
      case Seq(0x0a) => Some(Xz.Arm64Filter)
      case Seq(0x0b) => Some(Xz.RiscvFilter)
      case Seq(0x03, 0x03, 0x04, 0x01) | Seq(0x06) => Some(Xz.Ia64Filter)
      case Seq(0x03) =>
        if (c.props.length != 1) throw Malformed // delta REQUIRES a distance
        return Some(Xz.DeltaFilter((c.props(0) & 0xff) + 1))
      case _ => None
    }
    // branch filters: a start-offset property changes the conversion
    // origin — out of scope, reject rather than mis-convert
    if (f.isDefined && c.props.nonEmpty) throw Malformed
    f
  }

  private def undoFilter(f: Xz.PreFilter, data: Array[Byte]): Array[Byte] =
    Xz.applyPre(f, data, encode = false)
  private final case class StreamsInfo(packPos: Long, packSizes: Vector[Long],
      folders: Vector[Folder],
      numUnpack: Vector[Int], subSizes: Vector[Vector[Long]],
      subCrcs: Vector[Vector[Option[Long]]])

  private def parseStreamsInfo(r: Rd): StreamsInfo = {
    var packPos = 0L
    var packSizes = Vector.empty[Long]
    var folders = Vector.empty[Folder]
    var id = r.num()
    if (id == 0x06) { // PackInfo
      packPos = r.num()
      // packPos and every pack size bound to a sane archive envelope
      // HERE: they are summed downstream, and unbounded 2^62-scale
      // values could overflow the sum back past a positive bounds check
      if (packPos < 0 || packPos > (1L << 40)) throw Malformed
      val numPack = r.checkedNum(1 << 20)
      var pid = r.num()
      while (pid != 0) {
        pid match {
          case 0x09 =>
            packSizes = Vector.fill(numPack) {
              val v = r.num()
              if (v < 0 || v > (1L << 40)) throw Malformed
              v
            }
          case 0x0A => // pack CRCs: legal, unused here
            val defined = r.definedVector(numPack)
            defined.foreach(d => if (d) r.bytes(4))
          case _ => throw Malformed
        }
        pid = r.num()
      }
      if (packSizes.length != numPack) throw Malformed
      id = r.num()
    }
    if (id == 0x07) { // UnpackInfo
      if (r.num() != 0x0B) throw Malformed // kFolder
      val numFolders = r.checkedNum(1 << 16)
      if (r.u8() != 0) throw Malformed // external folders unsupported
      // per folder: 1 simple coder; or (r13/r14) 2 simple coders where
      // a size-preserving filter consumes the compressor's output
      // through one bind pair; or (r14) the BCJ2 four-coder graph — a
      // 4-in/1-out complex BCJ2 coder fed by three simple decompressors
      // (main/call/jump) plus a raw rc pack stream. Anything else
      // (other complex coders, other graphs) still rejects loudly.
      val folderMeta = (0 until numFolders).map { _ =>
        val numCoders = r.checkedNum(4)
        if (numCoders < 1) throw Malformed
        var totalIn = 0
        var totalOut = 0
        // (coder, nIn, nOut, inBase, outBase)
        val cs = (0 until numCoders).map { _ =>
          val flags = r.u8()
          val idSize = flags & 0x0f
          if ((flags & 0xC0) != 0) throw Malformed // reserved bits
          val cid = (0 until idSize).map(_ => r.u8())
          val (nIn, nOut) =
            if ((flags & 0x10) == 0) (1, 1)
            else {
              // the ONLY complex coder in scope is BCJ2's 4-in/1-out
              val i0 = r.checkedNum(4)
              val o0 = r.checkedNum(1)
              if (cid != Bcj2Id || i0 != 4 || o0 != 1) throw Malformed
              (4, 1)
            }
          val props =
            if ((flags & 0x20) != 0) r.bytes(r.checkedNum(64))
            else Array.empty[Byte]
          val entry = (Coder(cid, props), nIn, nOut, totalIn, totalOut)
          totalIn += nIn; totalOut += nOut
          entry
        }.toVector
        val numBind = totalOut - 1
        val binds = (0 until numBind).map { _ =>
          val inIdx = r.checkedNum(totalIn - 1)
          val outIdx = r.checkedNum(totalOut - 1)
          (inIdx, outIdx)
        }.toVector
        val numPack = totalIn - numBind
        if (numPack < 1) throw Malformed
        val packIdxs =
          if (numPack == 1) {
            val bound = binds.map(_._1).toSet
            Vector((0 until totalIn).find(i => !bound(i))
              .getOrElse(throw Malformed))
          } else {
            val idxs = (0 until numPack)
              .map(_ => r.checkedNum(totalIn - 1)).toVector
            val bound = binds.map(_._1).toSet
            // every pack index must name a distinct UNBOUND in-stream
            if (idxs.distinct.length != numPack ||
              idxs.exists(bound)) throw Malformed
            idxs
          }
        (cs, binds, packIdxs, totalOut)
      }.toVector
      if (r.num() != 0x0C) throw Malformed // kCodersUnpackSize
      // one size per OUT stream, folder-ordered, coder-out order
      val folderSizes = folderMeta.map { case (_, _, _, totalOut) =>
        (0 until totalOut).map { _ =>
          val v = r.num()
          if (v < 0 || v > MaxFolderOut) throw Malformed
          v
        }.toVector
      }
      // reduce each folder to one of the three supported shapes
      val reduced = folderMeta.zip(folderSizes).map {
        case ((Vector((c, _, _, _, _)), _, _, _), sz) =>
          (c, sz(0), None: Option[Xz.PreFilter], 1,
            None: Option[Bcj2Meta])
        case ((cs, binds, packIdxs, _), sz) if cs.length == 2 =>
          val fIdx = cs.indexWhere(e => filterOf(e._1).isDefined)
          if (fIdx < 0) throw Malformed // only the evidence-bounded filters
          val mainIdx = 1 - fIdx
          // the bind pair must feed the filter from the compressor, and
          // the single pack stream must feed the compressor
          if (binds != Vector((fIdx, mainIdx))) throw Malformed
          if (packIdxs != Vector(mainIdx)) throw Malformed
          // all supported filters are size-preserving; a mismatch is a lie
          if (sz(fIdx) != sz(mainIdx)) throw Malformed
          (cs(mainIdx)._1, sz(fIdx), filterOf(cs(fIdx)._1), 1,
            None: Option[Bcj2Meta])
        case ((cs, binds, packIdxs, _), sz) if cs.length == 4 =>
          // the BCJ2 graph: locate the one complex coder
          val bIdx = cs.indexWhere(_._1.id == Bcj2Id)
          if (bIdx < 0 || cs(bIdx)._1.props.nonEmpty) throw Malformed
          val (_, _, _, bInBase, bOutBase) = cs(bIdx)
          if (cs.count(_._2 == 4) != 1) throw Malformed // exactly one complex
          // the three bind pairs must feed BCJ2 ins 0..2 (main/call/
          // jump) each from a DISTINCT simple coder's out stream
          if (binds.length != 3) throw Malformed
          val roleCoder = new Array[Int](3)
          java.util.Arrays.fill(roleCoder, -1)
          binds.foreach { case (inIdx, outIdx) =>
            val role = inIdx - bInBase
            if (role < 0 || role > 2) throw Malformed
            val src = cs.indexWhere(e => e._3 == 1 && e._5 == outIdx && e._1.id != Bcj2Id)
            if (src < 0 || roleCoder(role) >= 0) throw Malformed
            roleCoder(role) = src
          }
          // pack slots: three simple-coder inputs + BCJ2's rc (in 3)
          if (packIdxs.length != 4) throw Malformed
          val packRoles = packIdxs.map { gi =>
            if (gi == bInBase + 3) 3
            else {
              val ci = cs.indexWhere(e => e._2 == 1 && e._4 == gi)
              if (ci < 0) throw Malformed
              val role = roleCoder.indexOf(ci)
              if (role < 0) throw Malformed
              role
            }
          }
          if (packRoles.sorted != Vector(0, 1, 2, 3)) throw Malformed
          val subs = (0 until 3).map { role =>
            val e = cs(roleCoder(role))
            (e._1, sz(e._5))
          }.toVector
          (cs(bIdx)._1, sz(bOutBase), None: Option[Xz.PreFilter], 4,
            Some(Bcj2Meta(subs, packRoles)))
        case _ => throw Malformed
      }
      val coders = reduced.map(_._1)
      val sizes = reduced.map(_._2)
      val filts = reduced.map(_._3)
      var crcs: Vector[Option[Long]] = Vector.fill(numFolders)(None)
      var uid = r.num()
      while (uid != 0) {
        uid match {
          case 0x0A =>
            val defined = r.definedVector(numFolders)
            crcs = defined.toVector.map(d =>
              if (d) Some(u32le(r.b, { val p0 = r.p; r.skip(4); p0 })) else None)
          case _ => throw Malformed
        }
        uid = r.num()
      }
      val packBases = reduced.map(_._4).scanLeft(0)(_ + _)
      folders = coders.zip(sizes).zip(crcs.zip(filts)).zipWithIndex.map {
        case (((c, sz), (crc, filt)), i) =>
          Folder(c, sz, packBases(i), crc, filt, reduced(i)._4, reduced(i)._5)
      }
      // pack-stream count must match the folders' declared consumption
      if (packSizes.length != packBases.last) throw Malformed
      id = r.num()
    }
    if (folders.isEmpty) throw Malformed
    // SubStreamsInfo
    var numUnpack = Vector.fill(folders.length)(1)
    var explicitSizes: Vector[Vector[Long]] = Vector.empty
    var subCrcs: Vector[Vector[Option[Long]]] = Vector.empty
    if (id == 0x08) {
      var sid = r.num()
      if (sid == 0x0D) {
        numUnpack = folders.map(_ => r.checkedNum(1 << 16)).toVector
        sid = r.num()
      }
      if (sid == 0x09) { // sizes: num-1 per folder, the last is implied
        explicitSizes = folders.zip(numUnpack).map { case (f, n) =>
          if (n == 0) Vector.empty[Long]
          else {
            val stated = (0 until n - 1).map { _ =>
              val v = r.num()
              if (v < 0 || v > f.unpackSize) throw Malformed
              v
            }.toVector
            val rest = f.unpackSize - stated.sum
            if (rest < 0) throw Malformed
            stated :+ rest
          }
        }.toVector
        sid = r.num()
      }
      if (sid == 0x0A) { // CRCs for substreams lacking a folder CRC
        val need = folders.zip(numUnpack).map { case (f, n) =>
          if (n == 1 && f.crc.isDefined) 0 else n
        }
        val total = need.sum
        val defined = r.definedVector(total)
        var di = 0
        subCrcs = folders.zip(numUnpack).zipWithIndex.map { case ((f, n), fi) =>
          if (need(fi) == 0) Vector(f.crc)
          else (0 until n).map { _ =>
            val d = defined(di); di += 1
            if (d) { val p0 = r.p; r.skip(4); Some(u32le(r.b, p0)) } else None
          }.toVector
        }.toVector
        sid = r.num()
      }
      if (sid != 0) throw Malformed
      id = r.num()
    }
    if (id != 0) throw Malformed // StreamsInfo terminator
    if (explicitSizes.isEmpty)
      explicitSizes = folders.zip(numUnpack).map { case (f, n) =>
        if (n == 1) Vector(f.unpackSize)
        else throw Malformed // >1 substream requires the size list
      }.toVector
    if (subCrcs.isEmpty)
      subCrcs = folders.zip(numUnpack).map { case (f, n) =>
        if (n == 1) Vector(f.crc) else Vector.fill(n)(Option.empty[Long])
      }.toVector
    StreamsInfo(packPos, packSizes, folders, numUnpack, explicitSizes, subCrcs)
  }

  /** Decode one single-coder folder's packed bytes. */
  /** Decode one SIMPLE coder's packed slice. */
  private def decodeSimple(coder: Coder, archive: Array[Byte], start: Int,
      end: Int, expect: Long): Array[Byte] = {
    val out: Array[Byte] = coder.id match {
      case Seq(0x00) => // kCopy
        if ((end - start).toLong != expect) throw Malformed
        java.util.Arrays.copyOfRange(archive, start, end)
      case Seq(0x03, 0x01, 0x01) => // kLzma: 5-byte props, raw known-size stream
        if (coder.props.length != 5) throw Malformed
        val st = new Lzma.LzmaState(0, 0, 0)
        st.setProps(coder.props(0) & 0xff, lzma2 = false)
        st.resetState()
        val dictSize = u32le(coder.props, 1)
        st.dictLimit =
          math.min(math.max(dictSize, 4096L), Int.MaxValue.toLong).toInt
        st.dictStart = 0
        Lzma.decodeAlone(st, archive, start, end, expect, MaxFolderOut)
      case Seq(0x21) => // kLzma2: the control-byte chunk layer
        if (coder.props.length != 1) throw Malformed
        val dBits = coder.props(0) & 0xff
        if (dBits > 40) throw Malformed
        val dictSize =
          if (dBits == 40) 0xffffffffL
          else (2L | (dBits & 1)) << (dBits / 2 + 11)
        val (res, after) = Xz.lzma2Decode(archive, start, end, dictSize,
          MaxFolderOut.toLong)
        if (after != end) throw Malformed // coder must consume its stream
        res
      case Seq(0x06, 0xF1, 0x07, 0x01) => throw Malformed // AES-256: reject loudly
      case _ => throw Malformed // non-filter/unknown: reject, don't guess
    }
    if (out.length.toLong != expect) throw Malformed
    out
  }

  private def decodeFolder(archive: Array[Byte], base: Long, si: StreamsInfo,
      fi: Int): Array[Byte] = {
    val f = si.folders(fi)
    val packOff0 = base + si.packPos +
      si.packSizes.take(f.packBase).sum
    val expect = f.unpackSize
    if (expect > MaxFolderOut) throw Malformed
    // this folder's pack slots, archive order
    val slotOffs = (0 until f.numPack).scanLeft(packOff0) {
      (acc, k) => acc + si.packSizes(f.packBase + k)
    }
    if (slotOffs.head < 0 || slotOffs.last > archive.length ||
      (0 until f.numPack).exists(k => si.packSizes(f.packBase + k) < 0))
      throw Malformed
    val out: Array[Byte] = f.bcj2 match {
      case None =>
        decodeSimple(f.coder, archive, slotOffs(0).toInt, slotOffs(1).toInt,
          expect)
      case Some(meta) =>
        // r14: the four-stream BCJ2 graph — decode main/call/jump
        // through their sub coders, read rc raw, then run the branch
        // reconstruction (reference-validated against libarchive)
        def slot(role: Int): (Int, Int) = {
          val k = meta.packRoles.indexOf(role)
          (slotOffs(k).toInt, slotOffs(k + 1).toInt)
        }
        val streams = (0 until 3).map { role =>
          val (s, e) = slot(role)
          decodeSimple(meta.subs(role)._1, archive, s, e, meta.subs(role)._2)
        }
        val (rs, re) = slot(3)
        val rc = java.util.Arrays.copyOfRange(archive, rs, re)
        Bcj2.decode(streams(0), streams(1), streams(2), rc,
          expect.toInt).getOrElse(throw Malformed)
    }
    if (out.length.toLong != expect) throw Malformed
    // r13/r14: undo the branch/delta filter after the compressor
    // (bind-pair order: packed → LZMA/LZMA2 → filter → folder output)
    val unfiltered = f.filter.map(undoFilter(_, out)).getOrElse(out)
    f.crc.foreach(c => if (crc32(unfiltered, 0, unfiltered.length) != c) throw Malformed)
    unfiltered
  }

  /** All (name, bytes) members, archive order; directories excluded;
    * None on ANY format violation.
    */
  def members(bytes: Array[Byte]): Option[Vector[(String, Array[Byte])]] = {
    try {
      if (bytes == null || bytes.length < 32) throw Malformed
      val sig = Array[Int]('7', 'z', 0xBC, 0xAF, 0x27, 0x1C)
      var i = 0
      while (i < 6) { if ((bytes(i) & 0xff) != sig(i)) throw Malformed; i += 1 }
      if (crc32(bytes, 12, 20) != u32le(bytes, 8)) throw Malformed
      val nextOff = u64le(bytes, 12)
      val nextSize = u64le(bytes, 20)
      val nextCrc = u32le(bytes, 28)
      if (nextOff < 0 || nextSize < 0 || nextSize > (64 << 20) ||
        32 + nextOff + nextSize > bytes.length) throw Malformed
      var hdr = java.util.Arrays.copyOfRange(bytes, (32 + nextOff).toInt,
        (32 + nextOff + nextSize).toInt)
      if (crc32(hdr, 0, hdr.length) != nextCrc) throw Malformed
      if (hdr.isEmpty) throw Malformed
      if ((hdr(0) & 0xff) == 0x17) { // encoded header: unpack then re-parse
        val r = new Rd(hdr, 1, hdr.length)
        val si = parseStreamsInfo(r)
        if (r.p != hdr.length) throw Malformed
        if (si.folders.length != 1) throw Malformed
        hdr = decodeFolder(bytes, 32L, si, 0)
      }
      val r = new Rd(hdr, 0, hdr.length)
      if (r.num() != 0x01) throw Malformed // kHeader
      var id = r.num()
      var si: StreamsInfo = null
      if (id == 0x04) { // MainStreamsInfo
        si = parseStreamsInfo(r)
        id = r.num()
      }
      var names = Vector.empty[String]
      var emptyStream: Array[Boolean] = null
      var emptyFile: Array[Boolean] = null
      var numFiles = -1
      if (id == 0x05) { // FilesInfo
        numFiles = r.checkedNum(MaxFiles)
        var pid = r.num()
        while (pid != 0) {
          val size = r.num()
          if (size < 0 || r.p + size > r.end) throw Malformed
          val pEnd = r.p + size.toInt
          pid match {
            case 0x0E => emptyStream = r.bitVector(numFiles)
            case 0x0F =>
              val nEmpty = if (emptyStream == null) 0 else emptyStream.count(x => x)
              emptyFile = r.bitVector(nEmpty)
            case 0x11 => // names: external flag + UTF-16LE NUL-terminated
              if (r.u8() != 0) throw Malformed
              val sb = new StringBuilder
              val acc = Vector.newBuilder[String]
              while (r.p < pEnd) {
                val lo = r.u8(); val hi = r.u8()
                val ch = (lo | (hi << 8)).toChar
                if (ch == '\u0000') { acc += sb.toString; sb.clear() }
                else sb.append(ch)
              }
              if (sb.nonEmpty) throw Malformed // unterminated name
              names = acc.result()
            case _ => // MTime/attrs/unknown: skip by declared size
          }
          if (r.p > pEnd) throw Malformed
          r.p = pEnd
          pid = r.num()
        }
        id = r.num()
      }
      if (id != 0) throw Malformed // header terminator
      if (r.p != hdr.length) throw Malformed // exact consume
      // assemble: files with streams take substreams in order
      if (numFiles < 0) throw Malformed
      if (names.length != numFiles) throw Malformed
      if (emptyStream == null) emptyStream = Array.fill(numFiles)(false)
      if (emptyStream.length != numFiles) throw Malformed
      val nStreamFiles = emptyStream.count(!_)
      val contents = Vector.newBuilder[Array[Byte]]
      var total = 0L
      if (si != null) {
        var fi = 0
        while (fi < si.folders.length) {
          val folderBytes = decodeFolder(bytes, 32L, si, fi)
          val sizes = si.subSizes(fi)
          val crcs = si.subCrcs(fi)
          if (sizes.sum != folderBytes.length) throw Malformed
          var off = 0
          sizes.zip(crcs).foreach { case (sz, crc) =>
            val piece = java.util.Arrays.copyOfRange(folderBytes, off,
              off + sz.toInt)
            crc.foreach(c => if (crc32(piece, 0, piece.length) != c)
              throw Malformed)
            contents += piece
            total += sz
            if (total > MaxTotalOut) throw Malformed
            off += sz.toInt
          }
          fi += 1
        }
      }
      val streamContents = contents.result()
      if (streamContents.length != nStreamFiles) throw Malformed
      // empty-stream files: kEmptyFile says which are FILES (vs dirs)
      val out = Vector.newBuilder[(String, Array[Byte])]
      var sIdx = 0
      var eIdx = 0
      var f = 0
      while (f < numFiles) {
        if (!emptyStream(f)) {
          out += names(f) -> streamContents(sIdx)
          sIdx += 1
        } else {
          val isFile = emptyFile != null && emptyFile(eIdx)
          if (isFile) out += names(f) -> Array.empty[Byte]
          eIdx += 1
        }
        f += 1
      }
      Some(out.result())
    } catch {
      case Malformed => None
      case _: Lzma.Corrupt => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  // ---------------- Spark surface ----------------

  val schema: StructType = StructType(Seq(
    StructField("fname", StringType),
    StructField("member", StringType),
    StructField("text", StringType)))

  /** binaryFile-shaped relation of `.7z` files → one row per member
    * (UTF-8 text payloads). A malformed archive contributes zero rows.
    */
  def parse(raw: DataFrame): DataFrame = {
    val input = raw.select(
      regexp_extract(col("path"), "([^/]+)$", 1).as("fname"), col("content"))
    input.mapPartitions { it =>
      it.flatMap { r =>
        val fname = r.getString(0)
        members(r.getAs[Array[Byte]](1)) match {
          case Some(ms) => ms.iterator.map { case (name, data) =>
            Row(fname, name, new String(data,
              java.nio.charset.StandardCharsets.UTF_8))
          }
          case None => Iterator.empty
        }
      }
    }(RowEncoder.encoderFor(schema))
  }

  // ---------------- writer (fixture reverse direction) ----------------

  private def writeNum(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    require(v >= 0)
    if (v < 0x80) { out.write(v.toInt); return }
    // canonical form: first byte = n high marker bits, n LE bytes follow
    var n = 0
    var x = v
    while (x != 0) { n += 1; x >>>= 8 }
    val mask = (0xff << (8 - n)) & 0xff
    out.write(mask)
    var i = 0
    while (i < n) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  private def writeU32le(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var i = 0
    while (i < 4) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }
  private def writeU64le(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  /** Compress one folder payload with the chosen coder. Returns
    * (coderId, props, packedBytes).
    */
  private def packFolder(payload: Array[Byte],
      coder: String): (Seq[Int], Array[Byte], Array[Byte]) = coder match {
    case "copy" => (Seq(0x00), Array.empty[Byte], payload)
    case "lzma" =>
      val st = new Lzma.LzmaState(0, 0, 0)
      st.setProps(93, lzma2 = false) // lc 3, lp 0, pb 2
      st.resetState()
      st.dictStart = 0
      st.dictLimit = 1 << 20
      val body = Lzma.encodeChunk(st, payload, 0, payload.length,
        endMarker = false)
      val props = new java.io.ByteArrayOutputStream()
      props.write(93)
      writeU32le(props, 1 << 20)
      (Seq(0x03, 0x01, 0x01), props.toByteArray, body)
    case "lzma2" =>
      // one mode-3 chunk (dict+state+props reset) — the Xz writer's form
      val st = new Lzma.LzmaState(0, 0, 0)
      st.setProps(93, lzma2 = false)
      st.resetState()
      st.dictStart = 0
      st.dictLimit = 1 << 20
      val body = Lzma.encodeChunk(st, payload, 0, payload.length,
        endMarker = false)
      require(payload.nonEmpty && payload.length <= (1 << 21))
      val out = new java.io.ByteArrayOutputStream()
      out.write(0x80 | (3 << 5) | ((payload.length - 1) >>> 16))
      out.write(((payload.length - 1) >>> 8) & 0xff)
      out.write((payload.length - 1) & 0xff)
      out.write((body.length - 1) >>> 8)
      out.write((body.length - 1) & 0xff)
      out.write(93) // props byte
      out.write(body, 0, body.length)
      out.write(0) // terminator
      // LZMA2 dict-size props byte: 2 MiB → (2|0) << (11+11)? encode 1 MiB:
      // bits: dictSize = (2|(b&1)) << (b/2+11); choose b=18 → 2<<20 = 2 MiB
      (Seq(0x21), Array[Byte](18), out.toByteArray)
    case "bcj-lzma2" =>
      // r13: x86-filter the payload (encode direction), then LZMA2-pack;
      // the folder writer emits the two-coder bind-pair structure
      val (cid, props, packed) = packFolder(Bcj.x86(payload, encode = true), "lzma2")
      (cid, props, packed)
    case "arm64-lzma2" => // r14: same structure, ARM64 branch filter
      packFolder(Bcj.arm64(payload, encode = true), "lzma2")
    case "arm-lzma2" =>
      packFolder(Bcj.arm(payload, encode = true), "lzma2")
    case "armt-lzma2" =>
      packFolder(Bcj.armThumb(payload, encode = true), "lzma2")
    case "ppc-lzma2" =>
      packFolder(Bcj.ppc(payload, encode = true), "lzma2")
    case "sparc-lzma2" =>
      packFolder(Bcj.sparc(payload, encode = true), "lzma2")
    case "riscv-lzma2" =>
      packFolder(Bcj.riscv(payload, encode = true), "lzma2")
    case "ia64-lzma2" =>
      packFolder(Bcj.ia64(payload, encode = true), "lzma2")
    case "delta4-lzma2" => // r14: delta filter, distance 4
      packFolder(Bcj.delta(payload, 4, encode = true), "lzma2")
  }

  /** Filter-coder metadata the folder writer emits for a chained kind:
    * (coder id bytes, coder props). None for single-coder kinds.
    */
  private def filterMetaOf(coder: String): Option[(Seq[Int], Array[Byte])] =
    coder match {
      case "bcj-lzma2" => Some((Seq(0x03, 0x03, 0x01, 0x03), Array.empty[Byte]))
      case "arm64-lzma2" => Some((Seq(0x0a), Array.empty[Byte]))
      case "arm-lzma2" => Some((Seq(0x03, 0x03, 0x05, 0x01), Array.empty[Byte]))
      case "armt-lzma2" => Some((Seq(0x03, 0x03, 0x07, 0x01), Array.empty[Byte]))
      case "ppc-lzma2" => Some((Seq(0x03, 0x03, 0x02, 0x05), Array.empty[Byte]))
      case "sparc-lzma2" => Some((Seq(0x03, 0x03, 0x08, 0x05), Array.empty[Byte]))
      case "riscv-lzma2" => Some((Seq(0x0b), Array.empty[Byte]))
      case "ia64-lzma2" => Some((Seq(0x03, 0x03, 0x04, 0x01), Array.empty[Byte]))
      case "delta4-lzma2" => Some((Seq(0x03), Array[Byte](3))) // dist−1
      case _ => None
    }

  /** Write an archive. `folders`: each a (coderName, members) group —
    * one folder per group; groups with >1 member are SOLID. Folder and
    * substream CRCs always written. `encodedHeader` packs the header
    * itself through LZMA (what real 7z does by default).
    */
  /** One folder the writer will emit: the (single) compressor coder id
    * + props, the pack streams in archive order, the folder payload and
    * members, the optional chained filter coder, and — for the BCJ2
    * graph — the decoded sizes of the main/call/jump sub streams.
    */
  private final case class WPart(cid: Seq[Int], props: Array[Byte],
      packs: Vector[Array[Byte]], payload: Array[Byte],
      members: Seq[(String, Array[Byte])],
      filt: Option[(Seq[Int], Array[Byte])],
      bcj2Sub: Option[(Long, Long, Long)])

  def makeArchive(folders: Seq[(String, Seq[(String, Array[Byte])])],
      encodedHeader: Boolean = false): Array[Byte] = {
    require(folders.nonEmpty && folders.forall(_._2.nonEmpty))
    val packedParts = folders.map { case (coder, ms) =>
      val payload = ms.map(_._2).reduce(_ ++ _)
      if (coder.startsWith("bcj2-lzma2")) {
        // r14: the four-stream BCJ2 graph; the suffix picks the site
        // policy so the differential corpus varies the rc stream shape
        val policy: (Int, Int) => Boolean = coder match {
          case "bcj2-lzma2" => (_, _) => true
          case "bcj2-lzma2-none" => (_, _) => false
          case "bcj2-lzma2-mixed" => (pos, b) => ((pos * 2654435761L + b) & 3) != 0
          case _ => throw new IllegalArgumentException(coder)
        }
        val (m, c, j, rc) = Bcj2.encode(payload, policy)
        // the canonical "made by 7z" arrangement the reference reader
        // (libarchive, binary-audited in NOTES_r14) accepts: the MAIN
        // stream LZMA1-compressed, call/jump as raw Copy coders, rc as
        // the bare fourth pack stream; packs ordered [main, call,
        // jump, rc]
        val (_, props, mPacked) = packFolder(m, "lzma")
        WPart(Seq(0x03, 0x01, 0x01), props,
          Vector(mPacked, c, j, rc), payload, ms, None,
          Some((m.length.toLong, c.length.toLong, j.length.toLong)))
      } else {
        val (cid, props, packed) = packFolder(payload, coder)
        WPart(cid, props, Vector(packed), payload, ms, filterMetaOf(coder), None)
      }
    }
    // StreamsInfo bytes (shared by plain header and encoded-header path)
    def streamsInfo(packPos: Long, parts: Seq[WPart]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(0x06) // PackInfo
      writeNum(o, packPos)
      writeNum(o, parts.map(_.packs.length).sum.toLong)
      o.write(0x09)
      parts.foreach(_.packs.foreach(pk => writeNum(o, pk.length.toLong)))
      o.write(0x00)
      o.write(0x07) // UnpackInfo
      o.write(0x0B) // kFolder
      writeNum(o, parts.length.toLong)
      o.write(0x00) // not external
      parts.foreach { p =>
        p.bcj2Sub match {
          case Some(_) =>
            // the canonical arrangement (see packedParts): coder 0/1 =
            // Copy (call/jump), coder 2 = the main compressor, coder 3
            // = BCJ2 (complex, 4-in/1-out). Global ins: 0,1,2 then
            // BCJ2's 3..6; outs: call 0, jump 1, main 2, folder 3.
            writeNum(o, 4)
            o.write(0x01); o.write(0x00) // Copy (call)
            o.write(0x01); o.write(0x00) // Copy (jump)
            o.write(p.cid.length | 0x20) // the main compressor
            p.cid.foreach(o.write)
            writeNum(o, p.props.length.toLong)
            o.write(p.props, 0, p.props.length)
            o.write(Bcj2Id.length | 0x10) // complex, no props
            Bcj2Id.foreach(o.write)
            writeNum(o, 4); writeNum(o, 1) // 4 in, 1 out
            // bind pairs: BCJ2.main(3)←out2, BCJ2.call(4)←out0,
            // BCJ2.jump(5)←out1
            Seq((3, 2), (4, 0), (5, 1)).foreach { case (i, u) =>
              writeNum(o, i.toLong); writeNum(o, u.toLong)
            }
            // pack slots [main, call, jump, rc] → ins [2, 0, 1, 6]
            Seq(2, 0, 1, 6).foreach(i => writeNum(o, i.toLong))
          case None =>
            writeNum(o, if (p.filt.isDefined) 2 else 1) // coders
            val flags = p.cid.length | (if (p.props.nonEmpty) 0x20 else 0)
            o.write(flags)
            p.cid.foreach(o.write)
            if (p.props.nonEmpty) {
              writeNum(o, p.props.length.toLong); o.write(p.props, 0, p.props.length)
            }
            p.filt.foreach { case (fid, fprops) =>
              o.write(fid.length | (if (fprops.nonEmpty) 0x20 else 0))
              fid.foreach(o.write)
              if (fprops.nonEmpty) {
                writeNum(o, fprops.length.toLong); o.write(fprops, 0, fprops.length)
              }
              // one bind pair: filter input (in-stream 1) ← compressor
              // output (out-stream 0)
              writeNum(o, 1)
              writeNum(o, 0)
            }
        }
      }
      o.write(0x0C) // kCodersUnpackSize
      parts.foreach { p =>
        p.bcj2Sub match {
          case Some((ml, cl, jl)) =>
            // out-stream order: call(0), jump(1), main(2), BCJ2(3)
            writeNum(o, cl); writeNum(o, jl); writeNum(o, ml)
            writeNum(o, p.payload.length.toLong) // the BCJ2 out
          case None =>
            writeNum(o, p.payload.length.toLong) // compressor out
            if (p.filt.isDefined) writeNum(o, p.payload.length.toLong) // filter out
        }
      }
      o.write(0x0A) // folder CRCs
      o.write(0x01) // all defined
      parts.foreach(p => writeU32le(o, crc32(p.payload, 0, p.payload.length)))
      o.write(0x00) // end UnpackInfo
      // SubStreamsInfo: always emitted (bsdtar differential, r14 —
      // libarchive's main-header path refuses an archive whose
      // per-entry accounting it cannot take from here, even though the
      // folder-level fallback is spec-derivable), but the kCRC section
      // only when it will carry at least one digest: libarchive rejects
      // a digest block with zero entries, and folders whose single
      // substream is covered by the folder CRC contribute none
      o.write(0x08)
      o.write(0x0D)
      parts.foreach(p => writeNum(o, p.members.length.toLong))
      o.write(0x09)
      parts.foreach { p =>
        p.members.dropRight(1).foreach(m => writeNum(o, m._2.length.toLong))
      }
      if (parts.exists(_.members.length > 1)) {
        o.write(0x0A) // CRCs for all streams not covered by a folder CRC
        o.write(0x01) // all defined
        parts.foreach { p =>
          if (p.members.length > 1)
            p.members.foreach(m => writeU32le(o, crc32(m._2, 0, m._2.length)))
        }
      }
      o.write(0x00)
      o.write(0x00) // end StreamsInfo
      o.toByteArray
    }
    def filesInfo(ms: Seq[String]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(0x05)
      writeNum(o, ms.length.toLong)
      // names
      val nameBytes = new java.io.ByteArrayOutputStream()
      nameBytes.write(0) // internal
      ms.foreach { n =>
        n.foreach { ch =>
          nameBytes.write(ch & 0xff); nameBytes.write((ch >> 8) & 0xff)
        }
        nameBytes.write(0); nameBytes.write(0)
      }
      o.write(0x11)
      writeNum(o, nameBytes.size().toLong)
      nameBytes.writeTo(o)
      o.write(0x00) // end FilesInfo
      o.toByteArray
    }
    val allMembers = packedParts.flatMap(_.members.map(_._1))
    val header = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(0x01) // kHeader
      o.write(0x04) // MainStreamsInfo
      val siB = streamsInfo(0L, packedParts)
      o.write(siB, 0, siB.length)
      val fiB = filesInfo(allMembers)
      o.write(fiB, 0, fiB.length)
      o.write(0x00) // end header
      o.toByteArray
    }
    val mainPack = packedParts.flatMap(_.packs).reduce(_ ++ _)
    val (nextHeader, extraPack) =
      if (!encodedHeader) (header, Array.empty[Byte])
      else {
        // pack the header itself as one LZMA folder placed AFTER the
        // main pack data; the encoded-header StreamsInfo points at it
        val (cid, props, packed) = packFolder(header, "lzma")
        val part = Seq(WPart(cid, props, Vector(packed), header,
          Seq(("__header__", header)), None, None))
        val o = new java.io.ByteArrayOutputStream()
        o.write(0x17)
        val siB = streamsInfo(mainPack.length.toLong, part)
        o.write(siB, 0, siB.length)
        (o.toByteArray, packed)
      }
    val out = new java.io.ByteArrayOutputStream()
    out.write('7'); out.write('z'); out.write(0xBC); out.write(0xAF)
    out.write(0x27); out.write(0x1C)
    out.write(0); out.write(4) // version 0.4
    val startHeader = new java.io.ByteArrayOutputStream()
    writeU64le(startHeader, (mainPack.length + extraPack.length).toLong)
    writeU64le(startHeader, nextHeader.length.toLong)
    writeU32le(startHeader, crc32(nextHeader, 0, nextHeader.length))
    val sh = startHeader.toByteArray
    writeU32le(out, crc32(sh, 0, sh.length))
    out.write(sh, 0, sh.length)
    out.write(mainPack, 0, mainPack.length)
    out.write(extraPack, 0, extraPack.length)
    out.write(nextHeader, 0, nextHeader.length)
    out.toByteArray
  }
}
