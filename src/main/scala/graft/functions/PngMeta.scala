package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** PNG metadata census — the provenance grain of an image crawl:
  * header geometry (IHDR), gamma, and every TEXT chunk — `tEXt`
  * (latin-1), `zTXt` (deflated latin-1) and `iTXt` (UTF-8, optionally
  * deflated) — surfaced as (kind, key, value) rows. Generative-image
  * pipelines stamp their provenance here (`parameters`, `Software`,
  * XMP in iTXt), which makes the text chunks a first-class signal for
  * training-data filtering, not ornamentation. `eXIf` presence and
  * size are reported without decoding (the EXIF kernel owns that).
  *
  * Every chunk CRC32 is VERIFIED while walking — one bad chunk fails
  * the whole file closed (null), the q195-family posture. Deflated
  * text is bounded by `maxText` per chunk; a malformed zlib stream
  * fails closed. Non-PNG magic → null.
  *
  * Reference behavior anchor: oracle-schema-copy streams LOB columns
  * opaquely (AbstractLoadRowsCallback.java:28); metadata extraction
  * follows the public PNG spec (RFC 2083 / W3C) alone. */
case class PngMeta(child: Expression, maxText: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"png_meta needs binary input, got ${t.sql}")
  }

  override def dataType: DataType = PngMeta.Schema

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    PngMeta.compute(a.asInstanceOf[Array[Byte]], maxText)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.PngMeta.compute($c, $maxText);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)

  override def prettyName: String = "png_meta"
}

object PngMeta {

  private[functions] val TextSchema = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  val Schema: DataType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("bit_depth", IntegerType, nullable = false),
    StructField("color_type", IntegerType, nullable = false),
    StructField("interlace", IntegerType, nullable = false),
    StructField("gamma", IntegerType, nullable = true),
    StructField("exif_len", LongType, nullable = true),
    StructField("n_chunks", LongType, nullable = false),
    StructField("texts", ArrayType(TextSchema, containsNull = false),
      nullable = false)))

  private val Magic = Array[Byte](0x89.toByte, 'P', 'N', 'G',
    0x0D, 0x0A, 0x1A, 0x0A)

  /** Per-row kernel — public static for generated code. */
  def compute(b: Array[Byte], maxText: Int): InternalRow = {
    try {
      if (b.length < 8) return null
      var i = 0
      while (i < 8) { if (b(i) != Magic(i)) return null; i += 1 }
      var pos = 8
      var width = -1
      var height = -1
      var bitDepth = -1
      var colorType = -1
      var interlace = -1
      var gamma: Any = null
      var exifLen: Any = null
      var nChunks = 0L
      val texts = new java.util.ArrayList[Any]
      var sawIend = false
      while (pos + 12 <= b.length && !sawIend) {
        val len = be(b, pos, 4)
        if (len < 0 || len > Int.MaxValue - 12 ||
          pos + 12 + len > b.length) return null
        val tag = new String(b, pos + 4, 4,
          java.nio.charset.StandardCharsets.US_ASCII)
        // CRC covers tag + data
        val crc = new java.util.zip.CRC32()
        crc.update(b, pos + 4, 4 + len.toInt)
        if (crc.getValue != be(b, pos + 8 + len.toInt, 4)) return null
        val d0 = pos + 8
        nChunks += 1
        tag match {
          case "IHDR" =>
            if (len != 13) return null
            width = be(b, d0, 4).toInt
            height = be(b, d0 + 4, 4).toInt
            bitDepth = b(d0 + 8) & 0xff
            colorType = b(d0 + 9) & 0xff
            interlace = b(d0 + 12) & 0xff
          case "gAMA" =>
            if (len != 4) return null
            gamma = be(b, d0, 4).toInt
          case "eXIf" =>
            exifLen = len
          case "tEXt" =>
            val nul = indexOfNul(b, d0, d0 + len.toInt)
            if (nul < 0) return null
            texts.add(textRow("tEXt",
              latin1(b, d0, nul),
              latin1(b, nul + 1, d0 + len.toInt)))
          case "zTXt" =>
            val nul = indexOfNul(b, d0, d0 + len.toInt)
            if (nul < 0 || nul + 1 >= d0 + len) return null
            if ((b(nul + 1) & 0xff) != 0) return null // method 0 only
            val txt = inflate(b, nul + 2, d0 + len.toInt, maxText)
            if (txt == null) return null
            texts.add(textRow("zTXt", latin1(b, d0, nul),
              new String(txt,
                java.nio.charset.StandardCharsets.ISO_8859_1)))
          case "iTXt" =>
            val end = d0 + len.toInt
            val nul = indexOfNul(b, d0, end)
            if (nul < 0 || nul + 2 >= end) return null
            val compressed = (b(nul + 1) & 0xff) != 0
            val method = b(nul + 2) & 0xff
            if (compressed && method != 0) return null
            // skip language tag and translated keyword (both
            // NUL-terminated)
            val lang = indexOfNul(b, nul + 3, end)
            if (lang < 0) return null
            val trans = indexOfNul(b, lang + 1, end)
            if (trans < 0) return null
            val vStart = trans + 1
            val value =
              if (compressed) {
                val txt = inflate(b, vStart, end, maxText)
                if (txt == null) return null
                new String(txt, java.nio.charset.StandardCharsets.UTF_8)
              } else new String(b, vStart, end - vStart,
                java.nio.charset.StandardCharsets.UTF_8)
            texts.add(textRow("iTXt", latin1(b, d0, nul), value))
          case "IEND" =>
            sawIend = true
          case _ => () // IDAT and ancillaries: CRC-checked, skipped
        }
        pos += 12 + len.toInt
      }
      if (width < 0 || !sawIend) return null // no IHDR or unterminated
      new GenericInternalRow(Array[Any](width, height, bitDepth,
        colorType, interlace, gamma, exifLen, nChunks,
        new GenericArrayData(texts.toArray)))
    } catch {
      case _: ArrayIndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
    }
  }

  private def textRow(kind: String, key: String,
                      value: String): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(kind),
      UTF8String.fromString(key), UTF8String.fromString(value)))

  private def latin1(b: Array[Byte], from: Int, until: Int): String =
    new String(b, from, until - from,
      java.nio.charset.StandardCharsets.ISO_8859_1)

  private def indexOfNul(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i < until) {
      if (b(i) == 0) return i
      i += 1
    }
    -1
  }

  private def be(b: Array[Byte], pos: Int, len: Int): Long = {
    var v = 0L
    var i = 0
    while (i < len) { v = (v << 8) | (b(pos + i) & 0xffL); i += 1 }
    v
  }

  /** Bounded zlib inflate of `b[from, until)`; null on corruption or
    * overflow past `maxOut`. */
  private def inflate(b: Array[Byte], from: Int, until: Int,
                      maxOut: Int): Array[Byte] =
    BoundedDecode.inflate(b, from, until - from, nowrap = false, maxOut)

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column entry point; default 1 MiB decoded text per chunk. */
  def apply(payload: Column, maxText: Int = 1 << 20): Column =
    ColumnShim.column(PngMeta(ColumnShim.expression(payload), maxText))
}

/** EXIF out of a PNG's `eXIf` chunk — the payload is a RAW TIFF blob,
  * so the parse is [[JpegExif.tiffIfd]] verbatim; only the container
  * walk differs (CRC-verified chunks up to `eXIf`). Same
  * (orientation, make, model, datetime) struct as the JPEG tier. */
case class PngExif(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"png_exif needs binary input, got ${t.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("orientation", IntegerType, nullable = true),
    StructField("make", StringType, nullable = true),
    StructField("model", StringType, nullable = true),
    StructField("datetime", StringType, nullable = true)))

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    PngExif.compute(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.PngExif.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)

  override def prettyName: String = "png_exif"
}

object PngExif {

  private val Magic = Array[Byte](0x89.toByte, 'P', 'N', 'G',
    0x0D, 0x0A, 0x1A, 0x0A)

  /** Per-row kernel — public static for generated code. Null when
    * the file is not a PNG, a chunk CRC fails before `eXIf`, no
    * `eXIf` chunk exists, or the TIFF blob is malformed. */
  def compute(b: Array[Byte]): InternalRow = {
    try {
      if (b.length < 8) return null
      var i = 0
      while (i < 8) { if (b(i) != Magic(i)) return null; i += 1 }
      var pos = 8
      while (pos + 12 <= b.length) {
        val len = ((b(pos) & 0xffL) << 24) | ((b(pos + 1) & 0xffL) << 16) |
          ((b(pos + 2) & 0xffL) << 8) | (b(pos + 3) & 0xffL)
        if (len > Int.MaxValue - 12 || pos + 12 + len > b.length)
          return null
        val crc = new java.util.zip.CRC32()
        crc.update(b, pos + 4, 4 + len.toInt)
        val want = ((b(pos + 8 + len.toInt) & 0xffL) << 24) |
          ((b(pos + 9 + len.toInt) & 0xffL) << 16) |
          ((b(pos + 10 + len.toInt) & 0xffL) << 8) |
          (b(pos + 11 + len.toInt) & 0xffL)
        if (crc.getValue != want) return null
        if (b(pos + 4) == 'e' && b(pos + 5) == 'X' &&
          b(pos + 6) == 'I' && b(pos + 7) == 'f')
          return JpegExif.tiffIfd(b, pos + 8, pos + 8 + len.toInt)
        if (b(pos + 4) == 'I' && b(pos + 5) == 'E' &&
          b(pos + 6) == 'N' && b(pos + 7) == 'D') return null
        pos += 12 + len.toInt
      }
      null
    } catch {
      case _: ArrayIndexOutOfBoundsException => null
    }
  }

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftshim.ColumnShim

  def apply(payload: Column): Column =
    ColumnShim.column(PngExif(ColumnShim.expression(payload)))
}
