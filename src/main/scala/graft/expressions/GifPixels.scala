package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

/** Native Catalyst expression: REAL GIF first-frame pixel decode — the
  * full GIF87a/89a container walk (logical screen descriptor, color
  * tables, extension blocks, image descriptor) plus the variable-width
  * LZW decompression (GIF spec appendix F: LSB-first code packing,
  * code widths growing 3→12 bits, clear/EOI codes, the KwKwK case) and
  * Adam-style 4-pass DEINTERLACING, returning the frame's pixels as RGB
  * bytes (row-major, 3 bytes per pixel) through the active color table,
  * or NULL for malformed/unsupported payloads.
  *
  * Scope contract (spec-pinned): the FIRST image frame; local color
  * table wins over global; a missing color table, an index outside the
  * table, a truncated code stream, or a frame larger than `maxPixels`
  * is NULL. Transparency and animation composition are out of scope —
  * this serves corpus curation (stats/near-dup over frame content), not
  * rendering.
  *
  * Why a custom Expression (the [[PngUnfilteredPixels]] rationale): LZW
  * is a bit-level dictionary state machine; as a native expression it is
  * one static kernel call inside whole-stage codegen with output bounded
  * by `maxPixels`·3 BEFORE decoding — the decompression-bomb guard.
  */
case class GifFramePixels(child: Expression, maxPixels: Int)
    extends BinaryInput {
  require(maxPixels >= 1, "maxPixels must be positive")

  override def prettyName: String = "gif_frame_pixels"

  override def nullSafeEval(bytes: Any): Any =
    GifCodec.framePixels(bytes.asInstanceOf[Array[Byte]], maxPixels)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      byte[] r = graft.expressions.GifCodec.framePixels($c, $maxPixels);
      if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r; }
    """)

  override protected def withNewChildInternal(
      newChild: Expression): GifFramePixels =
    copy(child = newChild)
}

/** Static kernel shared by interpreted eval and generated code. */
object GifCodec {

  private def u16le(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** First frame → RGB bytes (see [[GifFramePixels]]). */
  def framePixels(gif: Array[Byte], maxPixels: Int): Array[Byte] = {
    if (gif == null || gif.length < 14) return null
    val sig = new String(gif, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return null
    // logical screen descriptor
    val packed = gif(10) & 0xff
    val hasGct = (packed & 0x80) != 0
    val gctLen = if (hasGct) 3 * (1 << ((packed & 0x07) + 1)) else 0
    var pos = 13
    if (pos + gctLen > gif.length) return null
    val gctOff = pos
    pos += gctLen

    // block walk to the first image descriptor
    while (pos < gif.length) {
      (gif(pos) & 0xff) match {
        case 0x21 => // extension: label + sub-blocks
          pos += 2
          var blk = if (pos < gif.length) gif(pos) & 0xff else return null
          while (blk != 0) {
            pos += 1 + blk
            if (pos >= gif.length) return null
            blk = gif(pos) & 0xff
          }
          pos += 1
        case 0x2c => // image descriptor
          if (pos + 10 > gif.length) return null
          val iw = u16le(gif, pos + 5)
          val ih = u16le(gif, pos + 7)
          val ipacked = gif(pos + 9) & 0xff
          val interlaced = (ipacked & 0x40) != 0
          val hasLct = (ipacked & 0x80) != 0
          val lctLen = if (hasLct) 3 * (1 << ((ipacked & 0x07) + 1)) else 0
          pos += 10
          if (pos + lctLen > gif.length) return null
          val (palOff, palEntries) =
            if (hasLct) (pos, lctLen / 3)
            else if (hasGct) (gctOff, gctLen / 3)
            else return null // no color table at all
          pos += lctLen
          if (iw < 1 || ih < 1 || iw.toLong * ih > maxPixels.toLong) return null
          val indices = lzwDecode(gif, pos, iw * ih)
          if (indices == null) return null
          // deinterlace: pass row strides 8,8,4,2 starting 0,4,2,1
          val ordered =
            if (!interlaced) indices
            else {
              val out = new Array[Byte](indices.length)
              var src = 0
              var pass = 0
              val starts = Array(0, 4, 2, 1)
              val steps = Array(8, 8, 4, 2)
              while (pass < 4) {
                var y = starts(pass)
                while (y < ih) {
                  System.arraycopy(indices, src * iw, out, y * iw, iw)
                  src += 1
                  y += steps(pass)
                }
                pass += 1
              }
              out
            }
          // palette map: index bounds are enforced per pixel
          val rgb = new Array[Byte](iw * ih * 3)
          var i = 0
          while (i < iw * ih) {
            val idx = ordered(i) & 0xff
            if (idx >= palEntries) return null
            rgb(i * 3) = gif(palOff + idx * 3)
            rgb(i * 3 + 1) = gif(palOff + idx * 3 + 1)
            rgb(i * 3 + 2) = gif(palOff + idx * 3 + 2)
            i += 1
          }
          return rgb
        case 0x3b => return null // trailer before any image
        case _ => return null    // unknown block type
      }
    }
    null
  }

  /** GIF LZW: decode exactly `nPixels` color indices starting at the
    * min-code-size byte at `pos` (sub-block framed). Null on any
    * malformation: bad min code size, code past the dictionary, output
    * over/underrun, or truncation.
    */
  private def lzwDecode(
      gif: Array[Byte], pos0: Int, nPixels: Int): Array[Byte] = {
    if (pos0 >= gif.length) return null
    val mcs = gif(pos0) & 0xff
    if (mcs < 2 || mcs > 8) return null
    val clear = 1 << mcs
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val out = new Array[Byte](nPixels)
    var outLen = 0
    var next = eoi + 1
    var width = mcs + 1
    var prev = -1
    // bit reader over the sub-block framed stream, LSB-first
    var pos = pos0 + 1
    var blockLeft = 0
    var acc = 0L
    var bits = 0
    val stack = new Array[Byte](4096)
    var done = false
    while (!done) {
      while (bits < width && !done) {
        if (blockLeft == 0) {
          if (pos >= gif.length) return null
          blockLeft = gif(pos) & 0xff
          pos += 1
          if (blockLeft == 0) done = true // terminator mid-stream
        }
        if (!done) {
          if (pos >= gif.length) return null
          acc |= (gif(pos) & 0xffL) << bits
          bits += 8
          pos += 1
          blockLeft -= 1
        }
      }
      if (!done) {
        val code = (acc & ((1L << width) - 1)).toInt
        acc >>>= width
        bits -= width
        if (code == clear) {
          next = eoi + 1
          width = mcs + 1
          prev = -1
        } else if (code == eoi) {
          done = true
        } else {
          if (code > next || (code == next && prev < 0)) return null
          // expand code onto the stack; KwKwK (code == next) expands the
          // PREVIOUS string and appends its own first char afterwards
          var sp = 0
          val kwk = code == next
          var cur = if (kwk) prev else code
          while (cur >= eoi + 1) {
            stack(sp) = suffix(cur); sp += 1
            cur = prefix(cur)
          }
          if (cur >= clear) return null // dangling prefix chain
          val first = cur.toByte
          stack(sp) = first; sp += 1
          val runLen = sp + (if (kwk) 1 else 0)
          if (outLen + runLen > nPixels) return null
          while (sp > 0) {
            sp -= 1
            out(outLen) = stack(sp); outLen += 1
          }
          if (kwk) { out(outLen) = first; outLen += 1 }
          if (prev >= 0 && next < 4096) {
            prefix(next) = prev
            suffix(next) = first
            next += 1
            if (next == (1 << width) && width < 12) width += 1
          }
          prev = code
        }
      }
    }
    if (outLen != nPixels) return null
    out
  }
}
