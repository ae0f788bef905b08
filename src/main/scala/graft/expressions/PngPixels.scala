package graft.expressions

import java.util.zip.{DataFormatException, Inflater}

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

/** Native Catalyst expression: DEFLATE-decompress a zlib stream
  * (RFC 1950/1951) to at most `maxBytes`, NULL on any malformation —
  * bad header, truncated stream, adler-32 check failure, trailing
  * garbage, or output past the cap.
  *
  * Why a custom Expression (the [[JaroWinkler]] rationale): Huffman
  * decoding is a bit-level state machine that scan-side HOFs cannot
  * express; as a native expression it is one static JDK-`Inflater` call
  * inside whole-stage codegen, null-safe, with output bounded by the
  * explicit cap — the guard a 100 TB scan needs against decompression
  * bombs. This closes the "compressed payloads out of scope" boundary
  * the header-only decoders documented: the reference stores opaque
  * binary/base64 attachments (`SPRIDEN`-adjacent document blobs,
  * banner-connector/src/main/java/com/gac/macro/SisConnectorService.java:142
  * treats every non-key payload as an opaque string); a corpus engine
  * must crack the container.
  */
case class ZlibInflate(child: Expression, maxBytes: Int)
    extends BinaryInput {
  require(maxBytes >= 1, "maxBytes must be positive")

  override def prettyName: String = "zlib_inflate"

  override def nullSafeEval(bytes: Any): Any =
    PngCodec.inflateZlib(bytes.asInstanceOf[Array[Byte]], maxBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      byte[] r = graft.expressions.PngCodec.inflateZlib($c, $maxBytes);
      if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r; }
    """)

  override protected def withNewChildInternal(newChild: Expression): ZlibInflate =
    copy(child = newChild)
}

/** Native Catalyst expression: REAL PNG pixel decode — signature +
  * chunk walk, concatenated-IDAT zlib inflate (adler-32 verified), and
  * the full five-filter scanline reconstruction (None/Sub/Up/Average/
  * Paeth, RFC 2083 §6) — returning the raw pixel bytes row-major with
  * channels interleaved (G / GA / RGB / RGBA byte order), or NULL when
  * the payload is not a well-formed 8-bit PNG of a supported color
  * type, the pixel count exceeds `maxPixels`, or the compressed stream
  * is corrupt. BOTH interlace modes decode: sequential and Adam7
  * (seven filtered sub-images scattered onto the canvas grid,
  * spec-pinned against the JDK encoder's progressive output).
  *
  * Scope contract (documented, spec-pinned): bit depth 8; color types
  * 0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA). Palette (type 3) and
  * sub-byte depths stay NULL — the indexed/packed layouts serve icons,
  * not the photographic corpus this curates. Chunk CRCs
  * are NOT verified: integrity rides the zlib adler-32 over the
  * decompressed bytes, which IS verified (the libspng/stb "skip CRC"
  * fast path); a flipped payload byte still fails loudly as NULL.
  *
  * The unfilter recurrences (each byte depends on left/up/up-left
  * RECONSTRUCTED bytes) are inherently sequential per image — exactly
  * the per-row imperative kernel a native expression exists for; the
  * cross-image parallelism is Spark's. Output is bounded by
  * `maxPixels`·channels before any allocation happens.
  */
case class PngUnfilteredPixels(child: Expression, maxPixels: Int)
    extends BinaryInput {
  require(maxPixels >= 1, "maxPixels must be positive")

  override def prettyName: String = "png_unfiltered_pixels"

  override def nullSafeEval(bytes: Any): Any =
    PngCodec.unfilteredPixels(bytes.asInstanceOf[Array[Byte]], maxPixels)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      byte[] r = graft.expressions.PngCodec.unfilteredPixels($c, $maxPixels);
      if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r; }
    """)

  override protected def withNewChildInternal(
      newChild: Expression): PngUnfilteredPixels =
    copy(child = newChild)
}

/** Static kernels shared by interpreted eval and generated code. */
object PngCodec {

  private val Signature =
    Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  private def be32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  /** Inflate a zlib stream into exactly `expected` bytes; null unless the
    * stream is well-formed, passes its adler-32 check, produces exactly
    * `expected` bytes, and leaves no unread input.
    */
  private def inflateExact(
      data: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new Array[Byte](expected)
    val probe = new Array[Byte](1)
    var off = 0
    try {
      // the loop terminates: every iteration either advances `off`,
      // finishes, or returns null (n == 0 with nothing left to feed)
      while (!inf.finished()) {
        if (off < expected) {
          val n = inf.inflate(out, off, expected - off)
          off += n
          if (n == 0 && !inf.finished()) return null // truncated / needs dict
        } else {
          // output complete: the stream must END here (consuming the
          // adler trailer); any further byte means it was longer
          if (inf.inflate(probe, 0, 1) > 0) return null
          if (!inf.finished()) return null
        }
      }
      if (off != expected || inf.getRemaining != 0) return null
      out
    } catch {
      case _: DataFormatException => null // bad stream or adler mismatch
    } finally inf.end()
  }

  /** Generic zlib inflate, output capped at `maxBytes` (decompression-
    * bomb guard); null on malformation, adler failure, trailing input,
    * or cap overflow.
    */
  def inflateZlib(data: Array[Byte], maxBytes: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    var out = new Array[Byte](math.min(maxBytes, math.max(64, data.length * 4)))
    var off = 0
    try {
      while (!inf.finished()) {
        if (off == out.length) {
          if (out.length >= maxBytes) {
            // cap reached: only acceptable if the stream ends NOW
            val probe = new Array[Byte](1)
            if (inf.inflate(probe, 0, 1) > 0) return null
            if (!inf.finished()) return null
          } else {
            out = java.util.Arrays.copyOf(
              out, math.min(maxBytes, out.length * 2))
          }
        }
        if (!inf.finished()) {
          val n = inf.inflate(out, off, out.length - off)
          off += n
          if (n == 0 && !inf.finished() && off < out.length) return null
        }
      }
      if (inf.getRemaining != 0) return null
      java.util.Arrays.copyOf(out, off)
    } catch {
      case _: DataFormatException => null
    } finally inf.end()
  }

  /** Full PNG → unfiltered pixel bytes (see [[PngUnfilteredPixels]]). */
  def unfilteredPixels(png: Array[Byte], maxPixels: Int): Array[Byte] = {
    if (png == null || png.length < 8 + 25) return null
    var i = 0
    while (i < 8) { if (png(i) != Signature(i)) return null; i += 1 }

    // ---- chunk walk: IHDR must be first; concatenate every IDAT ----
    var pos = 8
    var width = 0L; var height = 0L
    var bitDepth = -1; var colorType = -1; var interlace = -1
    var sawIhdr = false; var sawIend = false
    var idatTotal = 0L
    // first pass: validate geometry + total IDAT size
    while (!sawIend && pos + 8 <= png.length) {
      val clen = be32(png, pos)
      if (clen > Int.MaxValue || pos + 12 + clen > png.length) return null
      val t0 = png(pos + 4); val t1 = png(pos + 5)
      val t2 = png(pos + 6); val t3 = png(pos + 7)
      if (!sawIhdr) {
        if (t0 != 'I' || t1 != 'H' || t2 != 'D' || t3 != 'R' || clen != 13)
          return null
        width = be32(png, pos + 8)
        height = be32(png, pos + 12)
        bitDepth = png(pos + 16) & 0xff
        colorType = png(pos + 17) & 0xff
        val compression = png(pos + 18) & 0xff
        val filterMethod = png(pos + 19) & 0xff
        interlace = png(pos + 20) & 0xff
        if (compression != 0 || filterMethod != 0) return null
        sawIhdr = true
      } else if (t0 == 'I' && t1 == 'D' && t2 == 'A' && t3 == 'T') {
        idatTotal += clen
      } else if (t0 == 'I' && t1 == 'E' && t2 == 'N' && t3 == 'D') {
        sawIend = true
      }
      pos += 12 + clen.toInt
    }
    if (!sawIhdr || !sawIend || idatTotal == 0L) return null
    // bound each dim BEFORE multiplying: two corrupt 2^32-1 dims would
    // overflow the long product and slip past the pixel cap
    if (width < 1 || height < 1 ||
      width > Int.MaxValue || height > Int.MaxValue ||
      width * height > maxPixels.toLong) return null
    if (bitDepth != 8 || (interlace != 0 && interlace != 1)) return null
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4
      case _ => return null // palette / invalid
    }
    val w = width.toInt; val h = height.toInt
    val rowBytes = w * channels
    // Adam7 passes contribute independent sub-images, each with its own
    // filtered scanlines; pass p covers x = xs + i·xstep, y = ys + j·ystep
    val passes: Array[(Int, Int, Int, Int)] =
      if (interlace == 0) Array((0, 0, 1, 1))
      else Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    def passDims(p: (Int, Int, Int, Int)): (Int, Int) = {
      val (xs, ys, xst, yst) = p
      (math.max(0, (w - xs + xst - 1) / xst), math.max(0, (h - ys + yst - 1) / yst))
    }
    val expected = passes.map { p =>
      val (pw, ph) = passDims(p)
      if (pw == 0 || ph == 0) 0 else ph * (1 + pw * channels)
    }.sum
    if (expected == 0) return null
    if (idatTotal > Int.MaxValue) return null

    // second pass: copy the IDAT payloads back to back
    val idat = new Array[Byte](idatTotal.toInt)
    var copied = 0
    pos = 8
    var stop = false
    while (!stop && pos + 8 <= png.length) {
      val clen = be32(png, pos).toInt
      val t0 = png(pos + 4); val t1 = png(pos + 5)
      val t2 = png(pos + 6); val t3 = png(pos + 7)
      if (t0 == 'I' && t1 == 'D' && t2 == 'A' && t3 == 'T') {
        System.arraycopy(png, pos + 8, idat, copied, clen)
        copied += clen
      } else if (t0 == 'I' && t1 == 'E' && t2 == 'N' && t3 == 'D') stop = true
      pos += 12 + clen
    }

    val raw = inflateExact(idat, expected)
    if (raw == null) return null

    // ---- scanline reconstruction (RFC 2083 §6.2–6.6), per pass ----
    val px = new Array[Byte](h * rowBytes)
    val bpp = channels
    var rawOff = 0
    var pi = 0
    while (pi < passes.length) {
      val (xs, ys, xst, yst) = passes(pi)
      val (pw, ph) = passDims(passes(pi))
      if (pw > 0 && ph > 0) {
        val prb = pw * bpp
        val pass = new Array[Byte](ph * prb)
        if (unfilterInto(raw, rawOff, pass, ph, prb, bpp) == null) return null
        rawOff += ph * (1 + prb)
        // scatter the sub-image onto the canvas grid
        var j = 0
        while (j < ph) {
          var i = 0
          while (i < pw) {
            val dst = ((ys + j * yst) * w + (xs + i * xst)) * bpp
            var c = 0
            while (c < bpp) {
              px(dst + c) = pass((j * pw + i) * bpp + c)
              c += 1
            }
            i += 1
          }
          j += 1
        }
      }
      pi += 1
    }
    px
  }

  /** Reconstruct `nRows` filtered scanlines of `rowBytes` bytes starting
    * at `raw(off)` into `out` (a standalone sub-image: the Up/Paeth
    * "previous row" is all-zero for its first row). Returns `out`, or
    * null on an undefined filter type.
    */
  private def unfilterInto(
      raw: Array[Byte], off: Int, out: Array[Byte],
      nRows: Int, rowBytes: Int, bpp: Int): Array[Byte] = {
    var y = 0
    while (y < nRows) {
      val ft = raw(off + y * (1 + rowBytes)) & 0xff
      val src = off + y * (1 + rowBytes) + 1
      val dst = y * rowBytes
      ft match {
        case 0 =>
          System.arraycopy(raw, src, out, dst, rowBytes)
        case 1 => // Sub
          var x = 0
          while (x < rowBytes) {
            val a = if (x >= bpp) out(dst + x - bpp) & 0xff else 0
            out(dst + x) = ((raw(src + x) & 0xff) + a).toByte
            x += 1
          }
        case 2 => // Up
          var x = 0
          while (x < rowBytes) {
            val b = if (y > 0) out(dst - rowBytes + x) & 0xff else 0
            out(dst + x) = ((raw(src + x) & 0xff) + b).toByte
            x += 1
          }
        case 3 => // Average
          var x = 0
          while (x < rowBytes) {
            val a = if (x >= bpp) out(dst + x - bpp) & 0xff else 0
            val b = if (y > 0) out(dst - rowBytes + x) & 0xff else 0
            out(dst + x) = ((raw(src + x) & 0xff) + ((a + b) >> 1)).toByte
            x += 1
          }
        case 4 => // Paeth
          var x = 0
          while (x < rowBytes) {
            val a = if (x >= bpp) out(dst + x - bpp) & 0xff else 0
            val b = if (y > 0) out(dst - rowBytes + x) & 0xff else 0
            val c = if (x >= bpp && y > 0) out(dst - rowBytes + x - bpp) & 0xff else 0
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            out(dst + x) = ((raw(src + x) & 0xff) + pred).toByte
            x += 1
          }
        case _ => return null // undefined filter type
      }
      y += 1
    }
    out
  }
}
