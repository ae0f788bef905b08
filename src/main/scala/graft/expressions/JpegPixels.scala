package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

/** Native Catalyst expression: REAL baseline-JPEG pixel decode — marker
  * walk, Huffman entropy decode (canonical T.81 F.2.2.3 tables), restart
  * handling, dequantize + double-precision IDCT, nearest-neighbor chroma
  * upsampling, JFIF YCbCr→RGB — returning the pixel bytes row-major
  * top-down (1 byte/pixel grayscale, 3 bytes/pixel RGB), or NULL when
  * the payload is not a well-formed 8-bit baseline SOF0 JPEG of 1 or 3
  * components within `maxPixels` (see [[JpegCodec]] for the full strict
  * failure list and the documented rounding/upsampling contract).
  *
  * Why a custom Expression (the [[ZlibInflate]]/[[GifFramePixels]]
  * rationale): Huffman decoding + the per-block IDCT is a bit-level
  * imperative kernel scan-side HOFs cannot express; as a native
  * expression it is one static call inside whole-stage codegen, linear
  * in payload bytes + pixels, with output bounded BEFORE any plane
  * allocates. This closes the JPEG-pixels stub — the dominant format of
  * real image corpora — for the baseline-sequential profile;
  * progressive (SOF2) remains the documented SURVEY §8 exemption.
  */
case class JpegBaselinePixels(child: Expression, maxPixels: Int)
    extends BinaryInput {
  require(maxPixels >= 1, "maxPixels must be positive")

  override def prettyName: String = "jpeg_pixels"

  override def nullSafeEval(bytes: Any): Any =
    JpegCodec.baselinePixels(bytes.asInstanceOf[Array[Byte]], maxPixels)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      byte[] r = graft.expressions.JpegCodec.baselinePixels($c, $maxPixels);
      if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r; }
    """)

  override protected def withNewChildInternal(newChild: Expression): JpegBaselinePixels =
    copy(child = newChild)
}
