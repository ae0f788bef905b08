package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.expressions.{FloatVectorDot, GifFramePixels, GzipInflate, GzipMembers, HyperplaneSignature, JaroWinkler, JpegBaselinePixels, MinHashSignature, MultiMatch, MultiMatchCounts, NfcNormalize, PngUnfilteredPixels, SimHash64, Utf8DecodeLenient, ZlibInflate}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions so `spark.sql` users (and the registered
  * `.sql`-file queries of [[graft.core.QueryRegistry]]) can call them
  * without the Scala DSL, plus the two threshold optimizer rules and the
  * native as-of join strategy. [[GraftSession.local]] installs it once, at
  * session construction; `newSession()` clones inherit it. Other hosts can
  * set `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.OptimizeLevenshteinThreshold)
    ext.injectOptimizerRule(_ => graft.plans.OptimizeJaroWinklerThreshold)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {

  private def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
      what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case _ => throw new IllegalArgumentException(s"$what must be an integer literal")
  }

  private def strArrayLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
      what: String): Seq[String] = {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    require(e.foldable && e.dataType == ArrayType(StringType, containsNull = false)
      || e.foldable && e.dataType == ArrayType(StringType, containsNull = true),
      s"$what must be a foldable array<string> literal")
    e.eval() match {
      case ad: org.apache.spark.sql.catalyst.util.ArrayData =>
        val arr = ad.toArray[org.apache.spark.unsafe.types.UTF8String](StringType)
        require(arr.forall(_ != null), s"$what must not contain nulls")
        arr.map(_.toString).toSeq
      case _ => throw new IllegalArgumentException(s"$what must not be null")
    }
  }

  private[graft] val functions: Seq[(
      FunctionIdentifier,
      ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    (
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVectorDot].getName, "vec_dot"),
      children => {
        require(children.length == 2, "vec_dot(array<float>, array<float>)")
        FloatVectorDot(children(0), children(1))
      }),
    (
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      children => {
        require(children.length == 2, "minhash_signature(array<string>, numPerm)")
        MinHashSignature(children(0), intLit(children(1), "numPerm"))
      }),
    (
      new FunctionIdentifier("hyperplane_signature"),
      new ExpressionInfo(classOf[HyperplaneSignature].getName, "hyperplane_signature"),
      children => {
        require(children.length == 2 || children.length == 3,
          "hyperplane_signature(array<float>, numPlanes[, planeOffset])")
        HyperplaneSignature(children(0), intLit(children(1), "numPlanes"),
          if (children.length == 3) intLit(children(2), "planeOffset") else 0)
      }),
    (
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      children => {
        require(children.length == 1, "simhash64(array<string>)")
        SimHash64(children(0))
      }),
    (
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      children => {
        require(children.length == 2, "jaro_winkler(string, string)")
        JaroWinkler(children(0), children(1))
      }),
    (
      new FunctionIdentifier("zlib_inflate"),
      new ExpressionInfo(classOf[ZlibInflate].getName, "zlib_inflate"),
      children => {
        require(children.length == 2, "zlib_inflate(binary, maxBytes)")
        ZlibInflate(children(0), intLit(children(1), "maxBytes"))
      }),
    (
      new FunctionIdentifier("png_pixels"),
      new ExpressionInfo(classOf[PngUnfilteredPixels].getName, "png_pixels"),
      children => {
        require(children.length == 2, "png_pixels(binary, maxPixels)")
        PngUnfilteredPixels(children(0), intLit(children(1), "maxPixels"))
      }),
    (
      new FunctionIdentifier("gif_pixels"),
      new ExpressionInfo(classOf[GifFramePixels].getName, "gif_pixels"),
      children => {
        require(children.length == 2, "gif_pixels(binary, maxPixels)")
        GifFramePixels(children(0), intLit(children(1), "maxPixels"))
      }),
    (
      new FunctionIdentifier("jpeg_pixels"),
      new ExpressionInfo(classOf[JpegBaselinePixels].getName, "jpeg_pixels"),
      children => {
        require(children.length == 2, "jpeg_pixels(binary, maxPixels)")
        JpegBaselinePixels(children(0), intLit(children(1), "maxPixels"))
      }),
    (
      new FunctionIdentifier("multi_match"),
      new ExpressionInfo(classOf[MultiMatch].getName, "multi_match"),
      children => {
        require(children.length == 2, "multi_match(string, array<string>)")
        MultiMatch(children(0), strArrayLit(children(1), "patterns"))
      }),
    (
      new FunctionIdentifier("multi_match_counts"),
      new ExpressionInfo(classOf[MultiMatchCounts].getName, "multi_match_counts"),
      children => {
        require(children.length == 2, "multi_match_counts(string, array<string>)")
        MultiMatchCounts(children(0), strArrayLit(children(1), "patterns"))
      }),
    (
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      children => {
        require(children.length == 1, "nfc_normalize(string)")
        NfcNormalize(children(0))
      }),
    (
      new FunctionIdentifier("utf8_decode_lenient"),
      new ExpressionInfo(classOf[Utf8DecodeLenient].getName,
        "utf8_decode_lenient"),
      children => {
        require(children.length == 1, "utf8_decode_lenient(binary)")
        Utf8DecodeLenient(children(0))
      }),
    (
      new FunctionIdentifier("gzip_inflate"),
      new ExpressionInfo(classOf[GzipInflate].getName, "gzip_inflate"),
      children => {
        require(children.length == 2, "gzip_inflate(binary, maxBytes)")
        GzipInflate(children(0), intLit(children(1), "maxBytes"))
      }),
    (
      new FunctionIdentifier("gzip_members"),
      new ExpressionInfo(classOf[GzipMembers].getName, "gzip_members"),
      children => {
        require(children.length == 3,
          "gzip_members(binary, maxMembers, maxBytesEach)")
        GzipMembers(children(0), intLit(children(1), "maxMembers"),
          intLit(children(2), "maxBytesEach"))
      }))
}
