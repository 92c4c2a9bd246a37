package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `url_resolve(base, ref)` — RFC 3986 §5.2 reference resolution: turn
  * the raw `href` values a link extractor pulls out of HTML into
  * absolute URLs against the page they appeared on. This is the stage
  * between extraction and the frontier's normalize+seen test — without
  * it `../up/x`, `rel/y` and `?q=z` are not URLs at all.
  *
  * The §5.2.2 transform, strict-parser form (no same-scheme
  * backward-compat exception):
  *
  *  - ref with a scheme       → ref itself, dot-segments removed;
  *  - ref with an authority   → base scheme + ref authority/path/query;
  *  - empty ref path          → base path; ref query if present, else
  *                              base query (`""` and `#frag` are
  *                              self-references, `?q` re-queries the
  *                              same resource);
  *  - path starting with `/`  → absolute path, dot-segments removed;
  *  - relative path           → merged onto base (§5.2.3: drop the last
  *                              base segment; an authority with an empty
  *                              path contributes `/`), then dot-segments
  *                              removed.
  *
  * The ref's fragment is carried through per the RFC; composing with
  * `url_normalize` strips it (frontier semantics live THERE, so this
  * expression stays RFC-faithful and reusable). Per the WHATWG URL
  * spec's attribute-value cleanup, leading/trailing ASCII whitespace is
  * trimmed from the ref and embedded tab/newline characters are removed
  * BEFORE resolution (browsers do this to `href` values; crawl HTML is
  * full of wrapped URLs).
  *
  * Envelope: a base without a valid scheme cannot anchor a resolution —
  * the result is NULL (drop semantics for a frontier, not garbage
  * emission). A NULL base or ref is NULL as usual.
  *
  * Scan-local scalar projection, codegen via the static-call pattern.
  */
object UrlResolve {

  private def validScheme(s: String, ci: Int): Boolean = {
    if (ci <= 0) return false
    var i = 0
    while (i < ci) {
      val c = s.charAt(i)
      val ok =
        if (i == 0) Character.isLetter(c)
        else Character.isLetterOrDigit(c) || c == '+' || c == '-' || c == '.'
      if (!ok) return false
      i += 1
    }
    true
  }

  /** Split a URI into (scheme | null, authority | null, path,
    * query-with-'?' | "", fragment-with-'#' | ""). Authority null means
    * ABSENT (an empty authority `//` parses as "").
    */
  private def split(u: String): (String, String, String, String, String) = {
    var s = u
    var scheme: String = null
    val ci = s.indexOf(':')
    // a ':' inside the first path segment (e.g. "./a:b") is not a scheme
    // delimiter; strict RFC grammar requires the scheme chars to be valid
    if (ci > 0 && validScheme(s, ci) &&
        s.substring(0, ci).indexOf('/') < 0) {
      scheme = s.substring(0, ci)
      s = s.substring(ci + 1)
    }
    var fragment = ""
    val hi = s.indexOf('#')
    if (hi >= 0) { fragment = s.substring(hi); s = s.substring(0, hi) }
    var query = ""
    val qi = s.indexOf('?')
    if (qi >= 0) { query = s.substring(qi); s = s.substring(0, qi) }
    var authority: String = null
    if (s.startsWith("//")) {
      var e = 2
      while (e < s.length && s.charAt(e) != '/') e += 1
      authority = s.substring(2, e)
      s = s.substring(e)
    }
    (scheme, authority, s, query, fragment)
  }

  /** §5.2.3 merge: base-with-authority-and-empty-path contributes "/";
    * otherwise everything up to (and including) the base path's last
    * slash.
    */
  private def merge(baseAuth: String, basePath: String, refPath: String): String =
    if (baseAuth != null && basePath.isEmpty) "/" + refPath
    else {
      val i = basePath.lastIndexOf('/')
      if (i < 0) refPath else basePath.substring(0, i + 1) + refPath
    }

  def resolve(baseU: UTF8String, refU: UTF8String): UTF8String = {
    val base = baseU.toString
    // WHATWG href cleanup: trim ASCII whitespace ends, strip \t\n\r inside
    val refRaw = refU.toString.trim
    val refSb = new java.lang.StringBuilder(refRaw.length)
    var i = 0
    while (i < refRaw.length) {
      val c = refRaw.charAt(i)
      if (c != '\t' && c != '\n' && c != '\r') refSb.append(c)
      i += 1
    }
    val ref = refSb.toString

    val (bScheme, bAuth, bPath, bQuery, _) = split(base)
    if (bScheme == null) return null
    val (rScheme, rAuth, rPath, rQuery, rFrag) = split(ref)

    var scheme = bScheme
    var auth = bAuth
    var path = ""
    var query = ""
    if (rScheme != null) {
      scheme = rScheme; auth = rAuth
      path = UrlNormalize.removeDotSegments(rPath); query = rQuery
    } else if (rAuth != null) {
      auth = rAuth
      path = UrlNormalize.removeDotSegments(rPath); query = rQuery
    } else if (rPath.isEmpty) {
      path = bPath
      query = if (rQuery.nonEmpty) rQuery else bQuery
    } else if (rPath.charAt(0) == '/') {
      path = UrlNormalize.removeDotSegments(rPath); query = rQuery
    } else {
      path = UrlNormalize.removeDotSegments(merge(bAuth, bPath, rPath))
      query = rQuery
    }

    val out = new java.lang.StringBuilder(base.length + ref.length)
    out.append(scheme).append(':')
    if (auth != null) out.append("//").append(auth)
    out.append(path).append(query).append(rFrag)
    UTF8String.fromString(out.toString)
  }
}

case class UrlResolveExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "url_resolve"
  override def nullSafeEval(base: Any, ref: Any): Any =
    UrlResolve.resolve(base.asInstanceOf[UTF8String], ref.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, r) =>
      s"""
         |${ev.value} = graft.functions.UrlResolve.resolve($b, $r);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UrlResolveExpr =
    copy(left = newLeft, right = newRight)
}
