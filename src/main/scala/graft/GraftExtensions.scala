package graft

import org.apache.spark.sql.{GraftColumnBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Standard cluster installation entry point:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * injects the graft optimizer rules (bbox row-group pruning, automatic
  * spatial-join routing) and the whole SQL function surface at SESSION
  * CONSTRUCTION — the only hook available on deployments where user code
  * cannot run before the session exists (Thrift/SQL gateways, notebook
  * services, Spark Connect servers). `Graft.prepare(spark)` installs the
  * same [[GraftExtensions.functions]] and [[GraftExtensions.rules]] on a
  * session that already exists; both paths are idempotent and compose.
  *
  * Injected rules land in Catalyst's user-provided-optimizer batch — the
  * same post-pruning slot `experimental.extraOptimizations` uses, so plan
  * shape is identical whichever installation path is taken (asserted in
  * GraftExtensionsSpec).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  type FunctionEntry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** One SQL name; a call with any argument count outside `arities` fails
    * at analysis with an error naming the function.
    */
  private def fd(name: String, clazz: Class[_], arities: Int*)(
      build: Seq[Expression] => Expression): FunctionEntry =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getCanonicalName, name),
      es => {
        if (!arities.contains(es.length))
          throw new IllegalArgumentException(
            s"$name expects ${arities.mkString(" or ")} argument" +
              s"${if (arities == Seq(1)) "" else "s"}, got ${es.length}")
        build(es)
      })

  /** A scalar-UDF name: the same ScalaUDF node `spark.udf.register(name, f)`
    * builds, with its arity taken from the function's signature.
    */
  private def scalar(name: String, f: UserDefinedFunction): FunctionEntry = {
    val (arity, build) = GraftColumnBridge.scalaUdf(name, f)
    fd(name, classOf[ScalaUDF], arity)(build)
  }

  import graft.functions._
  import GeoFunctions._
  import TextFunctions._

  /** Every SQL name graft installs. */
  val functions: Seq[FunctionEntry] = Seq(
    fd("st_x", classOf[StX], 1)(es => StX(es.head)),
    fd("st_y", classOf[StY], 1)(es => StY(es.head)),
    fd("st_point", classOf[StMakePoint], 2)(es => StMakePoint(es(0), es(1))),
    fd("st_envelope_native", classOf[StEnvelope], 1)(es => StEnvelope(es.head)),
    fd("st_intersects", classOf[StIntersectsExpr], 2)(es => StIntersectsExpr(es(0), es(1))),
    fd("st_disjoint", classOf[StDisjointExpr], 2)(es => StDisjointExpr(es(0), es(1))),
    fd("st_contains", classOf[StContainsExpr], 2)(es => StContainsExpr(es(0), es(1))),
    fd("st_within", classOf[StWithinExpr], 2)(es => StWithinExpr(es(0), es(1))),
    fd("st_distance", classOf[StDistanceExpr], 2)(es => StDistanceExpr(es(0), es(1))),
    fd("st_dwithin", classOf[StDWithinExpr], 3)(es => StDWithinExpr(es(0), es(1), es(2))),
    fd("st_union", classOf[StUnionExpr], 2)(es => StUnionExpr(es(0), es(1))),
    fd("st_intersection", classOf[StIntersectionExpr], 2)(es => StIntersectionExpr(es(0), es(1))),
    fd("st_buffer", classOf[StBufferExpr], 2, 3) {
      case Seq(g, d) => StBufferExpr(g, d)
      case Seq(g, d, quadSegments) => StBuffer3Expr(g, d, quadSegments)
    },
    fd("st_convexhull", classOf[StConvexHullExpr], 1)(es => StConvexHullExpr(es.head)),
    fd("st_srid", classOf[StSridExpr], 1)(es => StSridExpr(es.head)),
    fd("st_setsrid", classOf[StSetSridExpr], 2)(es => StSetSridExpr(es(0), es(1))),
    fd("st_transform", classOf[StTransformExpr], 3)(es => StTransformExpr(es(0), es(1), es(2))),
    fd("cosine_sim", classOf[CosineSimilarity], 2)(es => CosineSimilarity(es(0), es(1))),
    fd("graft_json_get", classOf[JsonGetScalar], 2)(es => JsonGetScalar(es(0), es(1))),
    fd("pack_ascii8", classOf[PackAscii8], 1)(es => PackAscii8(es.head)),
    fd("pack_upper_ascii8", classOf[PackUpperAscii8], 1)(es => PackUpperAscii8(es.head)),
    fd("char_trigrams", classOf[CharTrigrams], 1)(es => CharTrigrams(es.head)),
    fd("nfc_normalize", classOf[NfcNormalize], 1)(es => NfcNormalize(es.head)),
    fd("strip_accents", classOf[StripAccents], 1)(es => StripAccents(es.head)),
    fd("html_text", classOf[HtmlText], 1)(es => HtmlText(es.head)),
    fd("url_normalize", classOf[UrlNormalizeExpr], 1)(es => UrlNormalizeExpr(es.head)),
    fd("url_resolve", classOf[UrlResolveExpr], 2)(es => UrlResolveExpr(es(0), es(1))),
    fd("html_links", classOf[HtmlLinksExpr], 1)(es => HtmlLinksExpr(es.head)),
    fd("split_sentences", classOf[SentenceSplitExpr], 1)(es => SentenceSplitExpr(es.head)),
    fd("detect_charset", classOf[DetectCharsetExpr], 1)(es => DetectCharsetExpr(es.head)),
    fd("sniff_text", classOf[SniffTextExpr], 1)(es => SniffTextExpr(es.head)),
    fd("html_blocks", classOf[HtmlBlocksExpr], 1)(es => HtmlBlocksExpr(es.head)),
    fd("html_meta", classOf[HtmlMetaExpr], 1)(es => HtmlMetaExpr(es.head)),
    fd("meta_charset", classOf[MetaCharsetExpr], 1)(es => MetaCharsetExpr(es.head)),
    fd("detect_charset_html", classOf[DetectCharsetHtmlExpr], 1)(es => DetectCharsetHtmlExpr(es.head)),
    fd("sniff_text_html", classOf[SniffTextHtmlExpr], 1)(es => SniffTextHtmlExpr(es.head)),
    fd("detect_mime", classOf[DetectMimeExpr], 1)(es => DetectMimeExpr(es.head)),
    fd("html_anchors", classOf[HtmlAnchorsExpr], 1)(es => HtmlAnchorsExpr(es.head)),
    // scalar UDFs: names with no native Expression form
    scalar("st_makebox", udf(stMakeBoxF)),
    scalar("st_geometrytype", udf(stGeometryTypeF)),
    scalar("st_area", udf(stAreaF)),
    scalar("st_length", udf(stLengthF)),
    scalar("st_perimeter", udf(stLengthF)),
    scalar("st_npoints", udf(stNPointsF)),
    scalar("st_centroid", udf(stCentroidF)),
    scalar("st_astext", udf(stAsTextF)),
    scalar("st_geomfromtext", udf(stGeomFromTextF)),
    scalar("st_collect", udf(stCollectF)),
    scalar("st_simplify", udf(stSimplifyF)),
    scalar("st_asgeojson", udf(stAsGeoJsonF)),
    scalar("st_geomfromgeojson", udf(stGeomFromGeoJsonF)),
    scalar("st_geohash", udf(stGeohashF)),
    scalar("st_makeline", udf(stMakeLineF)),
    scalar("st_startpoint", udf(stStartPointF)),
    scalar("st_endpoint", udf(stEndPointF)),
    scalar("minhash128", udf(minhash128F)),
    scalar("simhash64", udf(simhashF)),
    scalar("fingerprint64", udf(fingerprintF)),
    scalar("lang_id", udf(langIdF)),
    scalar("hash64", udf(hash64F)),
    scalar("image_ahash64", udf(imageAHashF)),
    scalar("audio_envelope_hash64", udf(audioEnvelopeHashF)),
    scalar("image_thumb64", udf(imageThumbF)))

  /** Every optimizer rule graft installs. */
  val rules: Seq[Rule[LogicalPlan]] =
    Seq(graft.plans.SpatialFilterRule, graft.plans.SpatialJoinRule)
}
