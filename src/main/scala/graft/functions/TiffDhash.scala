package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Native perceptual dHash over UNCOMPRESSED TIFF bytes — the fifth
  * leg of the cross-format image family ([[BmpDhash]], [[PngDhash]],
  * [[JpegDhash]], [[GifDhash]]): both byte orders' IFD walks, strip
  * offsets/counts concatenated into the top-down pixel grid, 8-bit
  * grayscale (both photometric polarities — white-is-zero inverts)
  * and RGB/RGBA chunky samples, and the same 9×8 grid / integer luma
  * / gradient-bit packing — a TIFF of the same pixels hashes EQUAL
  * to its BMP/PNG/GIF siblings.
  *
  * Compression tiers (since round 15): 1 (none), 32773 (PackBits
  * run-length), 5 (TIFF LZW — MSB-first variable-width codes with
  * the spec's EARLY-CHANGE width bump, Clear/EOI handling), and
  * 8/32946 (Adobe/legacy Deflate via `Inflater`), each decoded
  * per strip; Predictor 2 (horizontal differencing, tag 317) is
  * undone per row per sample after decompression. The FIRST IFD
  * only (multi-page documents hash their first page).
  *
  * Fails closed (null) for: bad magic, other compressions (JPEG-in-
  * TIFF, CCITT), tiled files, planar configuration 2, sub-8-bit or
  * 16-bit samples, palette TIFFs, missing strip tags, strips outside
  * the payload, corrupt LZW/Deflate/PackBits data, degenerate
  * dimensions, images above `MaxPixels` (2^22). */
case class TiffDhash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tiff_dhash expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    TiffDhash.compute(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long ${ev.value}_r = graft.functions.TiffDhash.compute($c);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.longValue(); }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "tiff_dhash"
}

object TiffDhash {

  private val MaxPixels = 1L << 22

  private object Bad extends Exception with scala.util.control.NoStackTrace

  /** The per-row kernel — public static so generated code can call it. */
  def compute(b: Array[Byte]): java.lang.Long = {
    try {
      if (b == null || b.length < 8) return null
      val le =
        if (b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) true
        else if (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42) false
        else return null
      def u16(p: Int): Int =
        if (le) (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
        else ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
      def u32(p: Int): Long =
        if (le) (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
          ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
        else ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
          ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
      val ifdAt = u32(4)
      if (ifdAt < 8 || ifdAt + 2 > b.length) return null
      val nTags = u16(ifdAt.toInt)
      if (ifdAt + 2 + 12L * nTags + 4 > b.length) return null
      // one tag's values as longs (SHORT/LONG; ≤2 inline else offset)
      def values(entry: Int): Array[Long] = {
        val tpe = u16(entry + 2)
        val cnt = u32(entry + 4)
        if (cnt <= 0 || cnt > (1 << 20)) throw Bad
        val width = tpe match {
          case 3 => 2 // SHORT
          case 4 => 4 // LONG
          case _ => throw Bad
        }
        val inline = cnt * width <= 4
        val at = if (inline) entry + 8 else u32(entry + 8).toInt
        if (at < 0 || at + cnt * width > b.length) throw Bad
        Array.tabulate(cnt.toInt)(i =>
          if (width == 2) u16(at + 2 * i).toLong else u32(at + 4 * i))
      }
      var w = -1L
      var h = -1L
      var bits: Array[Long] = Array(8L)
      var comp = 1L
      var photo = -1L
      var spp = 1L
      var rowsPerStrip = Long.MaxValue
      var offs: Array[Long] = null
      var cnts: Array[Long] = null
      var planar = 1L
      var tiled = false
      var predictor = 1L
      var i = 0
      while (i < nTags) {
        val e = (ifdAt + 2 + 12 * i).toInt
        u16(e) match {
          case 256 => w = values(e)(0)
          case 257 => h = values(e)(0)
          case 258 => bits = values(e)
          case 259 => comp = values(e)(0)
          case 262 => photo = values(e)(0)
          case 273 => offs = values(e)
          case 277 => spp = values(e)(0)
          case 278 => rowsPerStrip = values(e)(0)
          case 279 => cnts = values(e)
          case 284 => planar = values(e)(0)
          case 317 => predictor = values(e)(0)
          case 320 => return null // palette TIFF: refuse
          case 322 | 323 | 324 | 325 => tiled = true
          case _ => ()
        }
        i += 1
      }
      if (tiled || planar != 1L) return null
      if (comp != 1L && comp != 5L && comp != 8L && comp != 32773L &&
        comp != 32946L) return null
      if (predictor != 1L && predictor != 2L) return null
      if (w < 2 || h < 2 || w * h > MaxPixels) return null
      if (photo != 0L && photo != 1L && photo != 2L) return null
      if (offs == null || cnts == null || offs.length != cnts.length)
        return null
      if (bits.exists(_ != 8L)) return null
      // explicit SamplesPerPixel bound: a hostile spp (e.g. 65535
      // with w*h near MaxPixels) would wrap an Int byte count — refuse
      // up front rather than rely on a caught allocation failure
      if (spp < 1L || spp > 8L) return null
      val ch = spp.toInt
      if (photo == 2L && ch < 3) return null
      // concatenate strips into the top-down grid; sizes computed in
      // Long and bounded (<= MaxPixels * 8 by the guards above)
      val strideL = w * ch
      val needL = h * strideL
      if (needL > MaxPixels * 8L) return null
      val stride = strideL.toInt
      val need = needL.toInt
      val raw = new Array[Byte](need)
      var out = 0
      var s = 0
      while (s < offs.length && out < need) {
        val o = offs(s)
        val c = cnts(s)
        if (o < 0 || c < 0 || o + c > b.length) return null
        val want = math.min(
          // strips are rowsPerStrip rows except possibly the last
          if (rowsPerStrip == Long.MaxValue) (need - out).toLong
          else rowsPerStrip * strideL,
          (need - out).toLong).toInt
        val got = comp match {
          case 1L =>
            val n = math.min(c, want.toLong).toInt
            System.arraycopy(b, o.toInt, raw, out, n)
            n
          case 32773L => packbits(b, o.toInt, c.toInt, raw, out, want)
          case 5L => lzw(b, o.toInt, c.toInt, raw, out, want)
          case 8L | 32946L => inflate(b, o.toInt, c.toInt, raw, out, want)
        }
        if (got < 0) return null
        out += got
        s += 1
      }
      if (out < need) return null
      // Predictor 2: each row stores per-sample horizontal deltas —
      // undo by running sums along the row, one chain per channel
      if (predictor == 2L) {
        var y = 0
        while (y < h.toInt) {
          val base = y * stride
          var p = ch
          while (p < stride) {
            raw(base + p) = (raw(base + p) + raw(base + p - ch)).toByte
            p += 1
          }
          y += 1
        }
      }
      def luma(x: Long, y: Long): Long = {
        val p = (y * stride + x * ch).toInt
        if (photo == 2L)
          (raw(p) & 0xff) * 299L + (raw(p + 1) & 0xff) * 587L +
            (raw(p + 2) & 0xff) * 114L
        else {
          val g = raw(p) & 0xff
          (if (photo == 0L) 255 - g else g) * 1000L
        }
      }
      val xs = Array.tabulate(9)(i => i * (w - 1) / 8)
      var hash = 0L
      var j = 0
      while (j < 8) {
        val y = j * (h - 1) / 7
        var k = 0
        while (k < 8) {
          if (luma(xs(k + 1), y) > luma(xs(k), y)) hash |= 1L << (8 * j + k)
          k += 1
        }
        j += 1
      }
      java.lang.Long.valueOf(hash)
    } catch {
      case Bad => null
      case _: ArrayIndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
    }
  }

  /** PackBits run-length decode of one strip; returns bytes written
    * or -1 on malformed input (overrun, dangling control byte). */
  private def packbits(src: Array[Byte], off: Int, len: Int,
                       dst: Array[Byte], at: Int, want: Int): Int = {
    var p = off
    val end = off + len
    var o = at
    val cap = at + want
    while (p < end && o < cap) {
      val n = src(p)
      p += 1
      if (n >= 0) { // literal run of n+1 bytes
        if (p + n + 1 > end || o + n + 1 > cap) return -1
        System.arraycopy(src, p, dst, o, n + 1)
        p += n + 1
        o += n + 1
      } else if (n != -128) { // replicate next byte 1-n times
        if (p >= end) return -1
        val v = src(p)
        p += 1
        val cnt = 1 - n
        if (o + cnt > cap) return -1
        java.util.Arrays.fill(dst, o, o + cnt, v)
        o += cnt
      } // -128: no-op per spec
    }
    o - at
  }

  /** TIFF LZW strip decode: MSB-first variable-width codes, initial
    * width 9, Clear=256 resets the table, EOI=257 ends the strip,
    * EARLY CHANGE — the width bumps when the NEXT code to be
    * assigned would not fit (at table sizes 511/1023/2047, one code
    * earlier than GIF). Returns bytes written or -1 on corrupt data. */
  private def lzw(src: Array[Byte], off: Int, len: Int,
                  dst: Array[Byte], at: Int, want: Int): Int = {
    val Clear = 256
    val Eoi = 257
    val maxCodes = 4096
    // chained dictionary: prefix code + appended byte, first byte cached
    val prefix = new Array[Int](maxCodes)
    val append = new Array[Byte](maxCodes)
    val length = new Array[Int](maxCodes)
    var next = 258
    var width = 9
    var bitPos = 0L
    val bitEnd = len.toLong * 8
    var o = at
    val cap = at + want
    var prev = -1
    def read(): Int = {
      if (bitPos + width > bitEnd) return Eoi // truncation: stop
      var v = 0
      var i = 0
      while (i < width) {
        val bp = bitPos + i
        val byte = src(off + (bp >>> 3).toInt) & 0xff
        v = (v << 1) | ((byte >>> (7 - (bp & 7).toInt)) & 1)
        i += 1
      }
      bitPos += width
      v
    }
    // emit code's byte string into dst; returns first byte or -1
    def emit(code: Int): Int = {
      if (code < 256) {
        if (o >= cap) return -1
        dst(o) = code.toByte
        o += 1
        code
      } else {
        val n = length(code)
        if (o + n > cap) return -1
        var c = code
        var p = o + n
        while (c >= 258) { p -= 1; dst(p) = append(c); c = prefix(c) }
        p -= 1
        dst(p) = c.toByte
        o += n
        c
      }
    }
    var running = true
    while (running) {
      val code = read()
      if (code == Eoi) running = false
      else if (code == Clear) {
        next = 258
        width = 9
        prev = -1
      } else if (prev < 0) {
        if (code >= 256) return -1 // first code after clear must be literal
        if (emit(code) < 0) return -1
        prev = code
      } else {
        var first = 0
        if (code < next) {
          first = emit(code)
          if (first < 0) return -1
        } else if (code == next) { // KwK: prev + first(prev)
          val pf = firstByte(prefix, append, prev)
          val mark = o
          first = emit(prev)
          if (first < 0) return -1
          if (o >= cap) return -1
          dst(o) = pf.toByte
          o += 1
          first = dst(mark) & 0xff
        } else return -1
        if (next < maxCodes) {
          prefix(next) = prev
          append(next) = first.toByte
          length(next) = (if (prev < 256) 1 else length(prev)) + 1
          next += 1
        }
        // EARLY CHANGE: bump width when next == 2^width - 1
        if (next == (1 << width) - 1 && width < 12) width += 1
        prev = code
      }
      if (o >= cap) running = false
    }
    o - at
  }

  private def firstByte(prefix: Array[Int], append: Array[Byte],
                        code: Int): Int = {
    var c = code
    while (c >= 258) c = prefix(c)
    c
  }

  /** zlib inflate of one strip (Compression 8 Adobe Deflate or the
    * legacy 32946 code — both zlib-framed) into `dst[at, at + want)`.
    * Its own loop, not [[BoundedDecode.inflate]]: a truncated strip
    * keeps the pixels it did decode (the count is returned), where the
    * shared helper refuses a stream that ends early. */
  private def inflate(src: Array[Byte], off: Int, len: Int,
                      dst: Array[Byte], at: Int, want: Int): Int = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(src, off, len)
      var o = at
      val cap = at + want
      while (o < cap && !inf.finished()) {
        val n = inf.inflate(dst, o, cap - o)
        if (n == 0 && inf.needsInput()) return o - at // truncated input
        o += n
      }
      o - at
    } catch {
      case _: java.util.zip.DataFormatException => -1
    } finally inf.end()
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point. */
  def apply(payload: Column): Column =
    ColumnShim.column(TiffDhash(ColumnShim.expression(payload)))
}
