package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Native perceptual dHash over PNG bytes — the codec gap's real
  * closing for the format web corpora are actually made of: the IDAT
  * stream is zlib (the JDK's `Inflater`, [[BoundedDecode.inflate]]),
  * the per-scanline filters (None/Sub/Up/Average/Paeth, PNG spec
  * §9) are byte arithmetic, and the sampled 9×8 grid / integer luma /
  * gradient-bit packing are EXACTLY [[BmpDhash]]'s — so a PNG and a
  * BMP of the same pixels hash EQUAL and the two formats near-dup
  * together through one `Dedup.hash64NearDupPairs` pass.
  *
  * Supported: 8-bit depth, color types 0 (gray), 2 (RGB), 3
  * (palette — indices resolve through PLTE to plain RGB, the
  * indexed web-graphics shape GIF shares), 4 (gray+alpha), 6
  * (RGBA), BOTH interlace methods (Adam7 passes defilter
  * independently and scatter — an interlaced and a plain encode of
  * the same pixels hash EQUAL), IDAT split across any number of
  * chunks.
  * Luma is integer `299·R + 587·G + 114·B` (gray: `1000·g`), rows
  * TOP-DOWN per the PNG spec (BMP's kernel flips its bottom-up
  * storage to the same orientation). Chunk CRCs are NOT validated —
  * integrity checking belongs to the exact-dup fingerprint tier,
  * not the perceptual one.
  *
  * Fails closed (null) for: non-PNG signatures, sub-8-bit palettes /
  * 16-bit images, a type-3 image without (or indexing
  * past) its PLTE, truncated chunks or pixel data, zlib
  * errors, inflated size mismatching `h·(1 + w·channels)`, unknown
  * filter bytes, degenerate dimensions, and images above `MaxPixels`
  * (2^22) — the per-row decode allocation is bounded at ~17 MB so a
  * hostile payload in a 100 TB lake cannot OOM an executor. */
case class PngDhash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"png_dhash expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    PngDhash.compute(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long ${ev.value}_r = graft.functions.PngDhash.compute($c);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.longValue(); }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "png_dhash"
}

object PngDhash {

  /** Decode-size guard: w·h above this fails closed. 2^22 pixels ≈
    * a 2048×2048 image; raw buffer ≤ 4·2^22 + h bytes ≈ 17 MB. */
  val MaxPixels: Long = 1L << 22

  private def be(b: Array[Byte], pos: Int, len: Int): Long = {
    var v = 0L
    var i = 0
    while (i < len) { v = (v << 8) | (b(pos + i) & 0xffL); i += 1 }
    v
  }

  private val Signature =
    Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)


  /** One scanline's reconstruction (spec §9): `cur(x) = f + pred`
    * with left neighbors from `cur`, up/upper-left from `prev` (all
    * zero for a pass's first row). False on an unknown filter. */
  private def defilterRow(ft: Int, src: Array[Byte], srcOff: Int,
                          prev: Array[Byte], cur: Array[Byte],
                          ch: Int): Boolean = {
    if (ft > 4) return false
    var x = 0
    while (x < cur.length) {
      val f = src(srcOff + x) & 0xff
      val left = if (x >= ch) cur(x - ch) & 0xff else 0
      val up = prev(x) & 0xff
      val ul = if (x >= ch) prev(x - ch) & 0xff else 0
      val pred = ft match {
        case 0 => 0
        case 1 => left
        case 2 => up
        case 3 => (left + up) >> 1
        case _ =>
          val p = left + up - ul
          val pa = math.abs(p - left)
          val pb = math.abs(p - up)
          val pc = math.abs(p - ul)
          if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
      }
      cur(x) = ((f + pred) & 0xff).toByte
      x += 1
    }
    true
  }

  /** Inflate + defilter the pixel grid; null on any malformation.
    * Returns the raw (defiltered) byte array, rows top-down, plus
    * geometry — shared by [[compute]] and any future pixel op. */
  private def decode(b: Array[Byte]): (Array[Byte], Int, Int, Int) = {
    if (b == null || b.length < 33) return null
    var i = 0
    while (i < 8) { if (b(i) != Signature(i)) return null; i += 1 }
    // IHDR must be first (spec §5.6): 13-byte length then the tag
    if (be(b, 8, 4) != 13L || be(b, 12, 4) != 0x49484452L) return null
    val w = be(b, 16, 4)
    val h = be(b, 20, 4)
    val bitDepth = b(24) & 0xff
    val colorType = b(25) & 0xff
    val interlace = b(28) & 0xff
    if (bitDepth != 8 || interlace > 1 || (b(26) & 0xff) != 0 ||
      (b(27) & 0xff) != 0) return null
    val ch = colorType match {
      case 0 => 1
      case 2 => 3
      case 3 => 1 // palette: one index byte per pixel, PLTE-resolved
      case 4 => 2
      case 6 => 4
      case _ => return null
    }
    if (w < 2L || h < 2L || w * h > MaxPixels) return null
    // chunk walk: concatenate every IDAT's data; capture PLTE (which
    // the spec requires BEFORE the first IDAT for color type 3)
    val idat = new java.io.ByteArrayOutputStream()
    var plte: Array[Byte] = null
    var pos = 33L // after the IHDR chunk (8 + 4 + 4 + 13 + 4)
    var sawEnd = false
    while (!sawEnd) {
      if (pos + 8 > b.length) return null // truncated chunk header
      val len = be(b, pos.toInt, 4)
      val tag = be(b, pos.toInt + 4, 4)
      if (pos + 12 + len > b.length) return null // truncated data/CRC
      if (tag == 0x49454E44L) sawEnd = true // IEND
      else {
        if (tag == 0x49444154L) // IDAT
          idat.write(b, pos.toInt + 8, len.toInt)
        else if (tag == 0x504C5445L) { // PLTE: 1..256 RGB triples
          if (len == 0 || len % 3 != 0 || len > 768) return null
          plte = java.util.Arrays.copyOfRange(b, pos.toInt + 8,
            (pos + 8 + len).toInt)
        }
        pos += 12 + len
      }
    }
    if (colorType == 3 && plte == null) return null
    val compressed = idat.toByteArray
    if (compressed.isEmpty) return null
    val stride = (w * ch).toInt
    // Adam7 passes: (xOrigin, yOrigin, xStep, yStep); each non-empty
    // pass is an INDEPENDENT filtered sub-image (spec section 8.2)
    val passes: Array[(Int, Int, Int, Int)] =
      if (interlace == 0) Array((0, 0, 1, 1))
      else Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val passDims = passes.map { case (xo, yo, xs, ys) =>
      val pw = if (w > xo) ((w - xo + xs - 1) / xs).toInt else 0
      val ph = if (h > yo) ((h - yo + ys - 1) / ys).toInt else 0
      (pw, ph)
    }
    val expected = passDims.map { case (pw, ph) =>
      if (pw > 0 && ph > 0) ph * (1 + pw * ch) else 0
    }.sum
    // the stream must END at the geometry's size: extra pixel data =
    // corrupt geometry
    val filtered = BoundedDecode.inflate(compressed, 0, compressed.length,
      nowrap = false, expected)
    if (filtered == null || filtered.length != expected) return null
    // defilter each pass with a rolling previous-row buffer (spec §9)
    // and SCATTER its pixels onto the final grid at
    // (xo + i·xStep, yo + j·yStep) — the non-interlaced image is the
    // single identity pass of the same walk
    val raw = new Array[Byte](h.toInt * stride)
    var off = 0
    var pi = 0
    while (pi < passes.length) {
      val (xo, yo, xs, ys) = passes(pi)
      val (pw, ph) = passDims(pi)
      if (pw > 0 && ph > 0) {
        val rowLen = pw * ch
        var prev = new Array[Byte](rowLen)
        var cur = new Array[Byte](rowLen)
        var j = 0
        while (j < ph) {
          val ft = filtered(off) & 0xff
          if (!defilterRow(ft, filtered, off + 1, prev, cur, ch))
            return null
          if (xs == 1) // contiguous row (the identity pass, pass 7)
            System.arraycopy(cur, 0, raw,
              (yo + j * ys) * stride + xo * ch, rowLen)
          else {
            var i2 = 0
            while (i2 < pw) {
              val dst = (yo + j * ys) * stride + (xo + i2 * xs) * ch
              var c = 0
              while (c < ch) { raw(dst + c) = cur(i2 * ch + c); c += 1 }
              i2 += 1
            }
          }
          val t = prev; prev = cur; cur = t
          off += 1 + rowLen
          j += 1
        }
      }
      pi += 1
    }
    if (colorType == 3) {
      // resolve indices through the palette to plain RGB — an index
      // past the palette is a spec violation, refused
      val rgb = new Array[Byte](raw.length * 3)
      var p = 0
      while (p < raw.length) {
        val idx = raw(p) & 0xff
        if (idx * 3 + 2 >= plte.length) return null
        rgb(p * 3) = plte(idx * 3)
        rgb(p * 3 + 1) = plte(idx * 3 + 1)
        rgb(p * 3 + 2) = plte(idx * 3 + 2)
        p += 1
      }
      return (rgb, w.toInt, h.toInt, 3)
    }
    (raw, w.toInt, h.toInt, ch)
  }

  /** The per-row kernel — public static so generated code can call it. */
  def compute(b: Array[Byte]): java.lang.Long = {
    val dec = decode(b)
    if (dec == null) return null
    val (raw, w, h, ch) = dec
    def luma(x: Long, y: Long): Long = {
      val p = (y * w * ch + x * ch).toInt
      if (ch <= 2) (raw(p) & 0xff) * 1000L // gray / gray+alpha
      else (raw(p) & 0xff) * 299L + (raw(p + 1) & 0xff) * 587L +
        (raw(p + 2) & 0xff) * 114L
    }
    val xs = Array.tabulate(9)(i => i.toLong * (w - 1) / 8)
    var bits = 0L
    var j = 0
    while (j < 8) {
      val y = j.toLong * (h - 1) / 7
      var i = 0
      while (i < 8) {
        if (luma(xs(i + 1), y) > luma(xs(i), y)) bits |= 1L << (8 * j + i)
        i += 1
      }
      j += 1
    }
    java.lang.Long.valueOf(bits)
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point. */
  def apply(payload: Column): Column =
    ColumnShim.column(PngDhash(ColumnShim.expression(payload)))
}
