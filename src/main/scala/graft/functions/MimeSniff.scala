package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `detect_mime(bin)` — content-type sniffing by MAGIC BYTES, the
  * routing step a crawl pipeline runs on every fetched payload before
  * choosing a decoder (Content-Type headers lie constantly; the bytes
  * do not). Covers exactly the formats this engine decodes, so the
  * label doubles as a dispatch key: PDF, JPEG, PNG, GIF, BMP, WAV
  * (RIFF+WAVE), MP4 (ftyp at offset 4), gzip, zip, POSIX tar (ustar at
  * 257), WARC, and (r12, tracking the decoder family) FLAC, Ogg,
  * SQLite, 7z, Avro OCF, TIFF (both byte orders), EBML (WebM/
  * Matroska), xz, zstd, bzip2 and MP3 (ID3v2 prefix, or a frame sync
  * whose version/layer/bitrate/samplerate fields are all non-reserved
  * -- checked LAST among binaries: a bare sync is the most
  * false-positive-prone magic); then XML declaration, HTML
  * (case-insensitive `<!doctype html`/`<html` after optional
  * BOM/whitespace), the e44c strict UTF-8 walk for text/plain, else
  * application/octet-stream. DOCX/EPUB deliberately label as zip: a
  * container-level sniff cannot read [Content_Types].xml without the
  * zip walk, and routing hands zips to it. Magic
  * match order runs most-specific first — a WAV is RIFF before it is
  * anything else; an HTML page starting with `<?xml` is XHTML and
  * labels as xml (the declared self-description wins). Scan-local
  * codegen scalar; never throws.
  */
object MimeSniff {

  private def at(b: Array[Byte], off: Int, magic: String): Boolean = {
    if (off + magic.length > b.length) return false
    var i = 0
    while (i < magic.length) {
      if (b(off + i) != magic.charAt(i).toByte) return false
      i += 1
    }
    true
  }

  private def atCi(b: Array[Byte], off: Int, magic: String): Boolean = {
    if (off + magic.length > b.length) return false
    var i = 0
    while (i < magic.length) {
      val c = (b(off + i) & 0xff).toChar
      if (Character.toLowerCase(c) != magic.charAt(i)) return false
      i += 1
    }
    true
  }

  def mime(b: Array[Byte]): UTF8String = UTF8String.fromString(mimeOf(b))

  def mimeOf(b: Array[Byte]): String = {
    if (at(b, 0, "%PDF")) return "application/pdf"
    if (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
        (b(2) & 0xff) == 0xff) return "image/jpeg"
    if (b.length >= 8 && (b(0) & 0xff) == 0x89 && at(b, 1, "PNG"))
      return "image/png"
    if (at(b, 0, "GIF87a") || at(b, 0, "GIF89a")) return "image/gif"
    if (at(b, 0, "RIFF") && at(b, 8, "WAVE")) return "audio/wav"
    if (at(b, 0, "RIFF") && at(b, 8, "WEBP")) return "image/webp"
    if (at(b, 0, "BM")) return "image/bmp"
    if (at(b, 4, "ftyp")) {
      // r16: HEIF-family brands route ahead of the generic ISOBMFF label
      if (at(b, 8, "avif") || at(b, 8, "avis")) return "image/avif"
      if (at(b, 8, "heic") || at(b, 8, "heix") || at(b, 8, "mif1"))
        return "image/heif"
      return "video/mp4"
    }
    if (b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b)
      return "application/gzip"
    if (b.length >= 4 && at(b, 0, "PK") && (b(2) & 0xff) <= 0x07) {
      // OCF/ODF packages are DESIGNED to be sniffable: a stored
      // "mimetype" first entry puts the media type at fixed offset 38
      if (at(b, 30, "mimetype")) {
        if (at(b, 38, "application/epub+zip")) return "application/epub+zip"
        if (at(b, 38, "application/vnd.oasis.opendocument.text"))
          return "application/vnd.oasis.opendocument.text"
      }
      return "application/zip"
    }
    if (at(b, 257, "ustar")) return "application/x-tar"
    if (at(b, 0, "WARC/")) return "application/warc"
    if (at(b, 0, "{\\rtf")) return "application/rtf"
    // r12 decoder family
    if (at(b, 0, "fLaC")) return "audio/flac"
    if (at(b, 0, "OggS")) return "audio/ogg"
    if (at(b, 0, "SQLite format 3\u0000")) return "application/vnd.sqlite3"
    if (b.length >= 6 && at(b, 0, "7z") && (b(2) & 0xff) == 0xbc &&
        (b(3) & 0xff) == 0xaf && (b(4) & 0xff) == 0x27 && (b(5) & 0xff) == 0x1c)
      return "application/x-7z-compressed"
    if (b.length >= 4 && at(b, 0, "Obj") && b(3) == 1) return "application/avro"
    if (at(b, 0, "II*\u0000") || at(b, 0, "MM\u0000*")) return "image/tiff"
    if (b.length >= 4 && (b(0) & 0xff) == 0x1a && (b(1) & 0xff) == 0x45 &&
        (b(2) & 0xff) == 0xdf && (b(3) & 0xff) == 0xa3) return "video/webm"
    if (b.length >= 6 && (b(0) & 0xff) == 0xfd && at(b, 1, "7zXZ") && b(5) == 0)
      return "application/x-xz"
    if (b.length >= 4 && (b(0) & 0xff) == 0x28 && (b(1) & 0xff) == 0xb5 &&
        (b(2) & 0xff) == 0x2f && (b(3) & 0xff) == 0xfd) return "application/zstd"
    if (b.length >= 4 && (b(0) & 0xff) == 0x04 && (b(1) & 0xff) == 0x22 &&
        (b(2) & 0xff) == 0x4d && (b(3) & 0xff) == 0x18) return "application/x-lz4"
    if (at(b, 0, "BZh") && b.length >= 4 && b(3) >= '1' && b(3) <= '9')
      return "application/x-bzip2"
    // r16: ICO/CUR — the all-zero-prefixed ICONDIR magic is weak, so
    // demand a plausible directory too (count ≥ 1 and the entry table
    // inside the file), the WHATWG-sniffer discipline
    if (b.length >= 6 && b(0) == 0 && b(1) == 0 &&
        (b(2) == 1 || b(2) == 2) && b(3) == 0) {
      val count = (b(4) & 0xff) | ((b(5) & 0xff) << 8)
      if (count >= 1 && 6 + 16 * count <= b.length) return "image/x-icon"
    }
    // MP3 LAST among the binaries (a bare frame sync is the most
    // false-positive-prone magic): ID3v2 prefix, or a sync whose
    // version/layer/bitrate/samplerate fields are all non-reserved
    if (at(b, 0, "ID3")) return "audio/mpeg"
    if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xe0) == 0xe0) {
      // a bare sync false-positives (a UTF-16LE BOM is FF FE): demand
      // the full header arithmetic AND a second frame exactly where the
      // first one's computed length says (or exact EOF)
      val len = graft.operators.Mp3.frameLengthAt(b, 0)
      if (len > 0 && (len == b.length ||
          graft.operators.Mp3.frameLengthAt(b, len) > 0))
        return "audio/mpeg"
    }
    // skip an optional UTF-8 BOM + ASCII whitespace for the markup tests
    var i = 0
    if (b.length >= 3 && (b(0) & 0xff) == 0xef && (b(1) & 0xff) == 0xbb &&
        (b(2) & 0xff) == 0xbf) i = 3
    while (i < b.length && (b(i) == ' ' || b(i) == '\t' || b(i) == '\r' ||
        b(i) == '\n')) i += 1
    if (at(b, i, "<?xml")) return "text/xml"
    if (atCi(b, i, "<!doctype html") || atCi(b, i, "<html"))
      return "text/html"
    if (CharsetSniff.charsetOf(b).toString != "windows-1252") "text/plain"
    else "application/octet-stream"
  }
}

case class DetectMimeExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def prettyName: String = "detect_mime"
  override def nullSafeEval(input: Any): Any =
    MimeSniff.mime(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MimeSniff.mime($c)")
  override protected def withNewChildInternal(newChild: Expression): DetectMimeExpr =
    copy(newChild)
}
