package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `url_normalize(url)` — RFC 3986 syntax-based normalization (§6.2.2),
  * the canonicalization a crawl frontier applies BEFORE the URL-seen
  * test: without it `HTTP://Example.com:80/a/../b` and
  * `http://example.com/b` count as two URLs and the frontier re-fetches
  * the page. Steps, in the RFC's order:
  *
  *  1. scheme and host lowercased (userinfo kept verbatim — it is
  *     case-sensitive; IPv6 bracket hosts lowercased whole);
  *  2. default port dropped (http/ws 80, https/wss 443, ftp 21); other
  *     ports and ports of unknown schemes kept;
  *  3. percent-normalization in path and query: `%XX` of an UNRESERVED
  *     character (ALPHA / DIGIT / `-._~`) decodes; every retained
  *     triplet uppercases its hex; a malformed `%` sequence passes
  *     through untouched;
  *  4. dot-segment removal (§5.2.4) AFTER decoding — `%2E` becomes `.`
  *     first and then participates as a dot segment, matching browser
  *     behavior; `..` past the root clamps at the root;
  *  5. an authority with an empty path gains `/`;
  *  6. the fragment is stripped (frontier semantics: fragments never
  *     reach the server — documented divergence from pure §6.2.2, which
  *     keeps them).
  *
  * Envelope: input without a scheme (or with an invalid scheme) is
  * returned UNCHANGED — this is a normalizer, not a validator, and a
  * relative reference has no canonical absolute form to normalize to.
  * Scan-local scalar projection, codegen via the static-call pattern.
  */
object UrlNormalize {

  private def isUnreserved(c: Int): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Decode unreserved %XX, uppercase retained triplets, pass malformed
    * sequences through.
    */
  private def pctNormalize(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val v = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (isUnreserved(v)) out.append(v.toChar)
        else out.append('%')
          .append(Character.toUpperCase(s.charAt(i + 1)))
          .append(Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** RFC 3986 §5.2.4 remove_dot_segments (shared with [[UrlResolve]],
    * whose §5.2.2 transform applies the same algorithm to merged paths).
    */
  private[functions] def removeDotSegments(p: String): String = {
    var input = p
    val out = new java.lang.StringBuilder(p.length)
    def dropLastSegment(): Unit = {
      val idx = out.lastIndexOf("/")
      out.setLength(if (idx < 0) 0 else idx)
    }
    while (input.nonEmpty) {
      if (input.startsWith("../")) input = input.substring(3)
      else if (input.startsWith("./")) input = input.substring(2)
      else if (input.startsWith("/./")) input = "/" + input.substring(3)
      else if (input == "/.") input = "/"
      else if (input.startsWith("/../")) { input = "/" + input.substring(4); dropLastSegment() }
      else if (input == "/..") { input = "/"; dropLastSegment() }
      else if (input == "." || input == "..") input = ""
      else {
        val j = input.indexOf('/', 1)
        if (j < 0) { out.append(input); input = "" }
        else { out.append(input.substring(0, j)); input = input.substring(j) }
      }
    }
    out.toString
  }

  private val defaultPorts: Map[String, String] = Map(
    "http" -> "80", "https" -> "443", "ws" -> "80", "wss" -> "443",
    "ftp" -> "21")

  def normalize(u: UTF8String): UTF8String = {
    val s = u.toString
    val ci = s.indexOf(':')
    if (ci <= 0) return u
    val scheme = s.substring(0, ci)
    var i = 0
    while (i < scheme.length) {
      val c = scheme.charAt(i)
      val ok =
        if (i == 0) Character.isLetter(c)
        else Character.isLetterOrDigit(c) || c == '+' || c == '-' || c == '.'
      if (!ok) return u
      i += 1
    }
    val schemeLc = scheme.toLowerCase(java.util.Locale.ROOT)
    var rest = s.substring(ci + 1)
    val hashAt = rest.indexOf('#')
    if (hashAt >= 0) rest = rest.substring(0, hashAt)

    var authority = ""
    var hasAuthority = false
    if (rest.startsWith("//")) {
      hasAuthority = true
      var e = 2
      while (e < rest.length && rest.charAt(e) != '/' && rest.charAt(e) != '?') e += 1
      authority = rest.substring(2, e)
      rest = rest.substring(e)
      // split userinfo (kept verbatim) from host[:port]
      val at = authority.lastIndexOf('@')
      val userinfo = if (at >= 0) authority.substring(0, at + 1) else ""
      var hostPort = if (at >= 0) authority.substring(at + 1) else authority
      // port: the ':' AFTER a ']' for IPv6 bracket hosts
      val close = hostPort.lastIndexOf(']')
      val colon = hostPort.indexOf(':', if (close < 0) 0 else close + 1)
      var host = if (colon < 0) hostPort else hostPort.substring(0, colon)
      var port = if (colon < 0) "" else hostPort.substring(colon + 1)
      host = host.toLowerCase(java.util.Locale.ROOT)
      if (port.isEmpty || defaultPorts.get(schemeLc).contains(port))
        hostPort = host
      else hostPort = host + ":" + port
      authority = userinfo + hostPort
    }

    val qAt = rest.indexOf('?')
    var path = if (qAt < 0) rest else rest.substring(0, qAt)
    val query = if (qAt < 0) "" else rest.substring(qAt) // keeps '?'
    path = removeDotSegments(pctNormalize(path))
    if (hasAuthority && path.isEmpty) path = "/"
    val qn = if (query.isEmpty) "" else "?" + pctNormalize(query.substring(1))

    val out = new java.lang.StringBuilder(s.length)
    out.append(schemeLc).append(':')
    if (hasAuthority) out.append("//").append(authority)
    out.append(path).append(qn)
    UTF8String.fromString(out.toString)
  }
}

case class UrlNormalizeExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "url_normalize"
  override def nullSafeEval(input: Any): Any =
    UrlNormalize.normalize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlNormalize.normalize($c)")
  override protected def withNewChildInternal(newChild: Expression): UrlNormalizeExpr =
    copy(newChild)
}
