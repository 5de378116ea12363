package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ORC tail metadata — the third leg of the lake-census trio
  * ([[ParquetFooterMeta]] for parquet, [[AvroSchemaJson]] for avro):
  * an ORC file ends with an UNCOMPRESSED protobuf postscript plus a
  * one-byte postscript length, and the postscript locates the footer
  * (row count, stripe list, the type tree). This kernel implements
  * the protobuf wire format from the public spec (varints, packed
  * repeated fields, length-delimited messages, generic unknown-field
  * skip) and the ORC chunked-compression framing (3-byte LE chunk
  * headers, isOriginal bit) for NONE, ZLIB (raw DEFLATE through the
  * JDK's `Inflater`, [[BoundedDecode.inflate]]), SNAPPY and LZ4
  * footers (one [[BlockCodecs]] raw block per chunk, decoded by
  * commons-compress), and ZSTD footers (one [[ZstdPayload]] frame per
  * chunk, decoded by zstd-jni — the modern writer default).
  *
  * Output struct: `(compression, writer_version, num_rows, n_stripes,
  * content_length, columns array<(name, otype)>)` — `columns` is the
  * root struct's TOP-LEVEL fields with their ORC type-kind names.
  * Footers under the one remaining codec (lzo) yield the postscript
  * facts with NULL footer fields — the census still learns the codec;
  * the refusal is explicit, not a guess.
  *
  * FAIL-CLOSED NULL (whole struct) on: missing head magic, a
  * postscript that does not end in "ORC", footer window out of
  * bounds, malformed protobuf/chunk framing, decompression bombs past
  * `maxFooter`. Per-row bounded work, zero shuffle, codegen'd. */
case class OrcFooterMeta(child: Expression, maxFooter: Int)
    extends UnaryExpression {
  require(maxFooter > 0, "footer cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"orc_meta expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("compression", StringType, nullable = false),
    StructField("writer_version", IntegerType, nullable = true),
    StructField("num_rows", LongType, nullable = true),
    StructField("n_stripes", IntegerType, nullable = true),
    StructField("content_length", LongType, nullable = true),
    StructField("columns", ArrayType(StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("otype", StringType, nullable = false))),
      containsNull = false), nullable = true)))

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    OrcFooterMeta.compute(a.asInstanceOf[Array[Byte]], maxFooter)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.OrcFooterMeta.compute($c, $maxFooter);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "orc_meta"
}

object OrcFooterMeta {

  private[functions] object Bad extends Exception with scala.util.control.NoStackTrace

  private[functions] final class Pb(bytes: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var v = 0L
      var shift = 0
      var b = 0
      do {
        if (pos >= end || shift > 63) throw Bad
        b = bytes(pos) & 0xff
        pos += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      v
    }
    /** (fieldNumber, wireType) */
    def tag(): (Int, Int) = {
      val t = varint()
      ((t >>> 3).toInt, (t & 7).toInt)
    }
    def lenDelimited(): (Int, Int) = { // (start, end)
      val len = varint()
      if (len < 0 || pos + len > end) throw Bad
      val s = pos
      pos += len.toInt
      (s, pos)
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint(); ()
      case 1 => if (pos + 8 > end) throw Bad else pos += 8
      case 2 => lenDelimited(); ()
      case 5 => if (pos + 4 > end) throw Bad else pos += 4
      case _ => throw Bad
    }
    def string(s: Int, e: Int): String =
      new String(bytes, s, e - s, java.nio.charset.StandardCharsets.UTF_8)
  }

  private[functions] def compressionName(c: Int): String = c match {
    case 0 => "none"
    case 1 => "zlib"
    case 2 => "snappy"
    case 3 => "lzo"
    case 4 => "lz4"
    case 5 => "zstd"
    case _ => "unknown"
  }

  private val kindNames = Array("boolean", "byte", "short", "int", "long",
    "float", "double", "string", "binary", "timestamp", "list", "map",
    "struct", "union", "decimal", "date", "varchar", "char",
    "timestamp_instant")

  /** ORC chunked stream → raw bytes (NONE handled by the caller):
    * 3-byte LE header `h`, isOriginal = h&1, chunkLen = h>>>1;
    * non-original chunks decode per the postscript codec — raw
    * DEFLATE (zlib), one Snappy/LZ4 raw block per chunk via
    * [[BlockCodecs]], or one zstd frame. */
  private[functions] def inflateChunks(bytes: Array[Byte], start: Int, end: Int,
                            maxOut: Int, codec: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.min(maxOut, 1 << 16))
    var pos = start
    while (pos < end) {
      if (pos + 3 > end) throw Bad
      val h = (bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8) |
        ((bytes(pos + 2) & 0xff) << 16)
      pos += 3
      val orig = (h & 1) != 0
      val clen = h >>> 1
      if (clen <= 0 || pos + clen > end) throw Bad
      if (orig) {
        if (out.size() + clen > maxOut) throw Bad
        out.write(bytes, pos, clen)
      } else {
        val block =
          if (codec == 1) BoundedDecode.inflate(bytes, pos, clen,
            nowrap = true, maxOut - out.size())
          else if (codec == 2) BlockCodecs.snappy(bytes, pos, clen,
            maxOut - out.size())
          else if (codec == 4) BlockCodecs.lz4(bytes, pos, clen,
            maxOut - out.size())
          else if (codec == 5) ZstdPayload.compute(
            java.util.Arrays.copyOfRange(bytes, pos, pos + clen),
            math.max(1, maxOut - out.size()))
          else throw Bad
        if (block == null) throw Bad
        out.write(block, 0, block.length)
      }
      pos += clen
    }
    out.toByteArray
  }

  /** The per-row kernel — public static so generated code can call it. */
  def compute(bytes: Array[Byte], maxFooter: Int): InternalRow = {
    try {
      val n = bytes.length
      if (n < 8) return null
      if (bytes(0) != 'O' || bytes(1) != 'R' || bytes(2) != 'C') return null
      val psLen = bytes(n - 1) & 0xff
      if (psLen < 4 || n - 1 - psLen < 3) return null
      val ps = new Pb(bytes, n - 1 - psLen, n - 1)
      var footerLen = -1L
      var compression = 0
      var writerVersion = -1
      var magicOk = false
      while (ps.hasMore) {
        val (f, w) = ps.tag()
        (f, w) match {
          case (1, 0) => footerLen = ps.varint()
          case (2, 0) => compression = ps.varint().toInt
          case (6, 0) => writerVersion = ps.varint().toInt
          case (8000, 2) =>
            val (s, e) = ps.lenDelimited()
            magicOk = ps.string(s, e) == "ORC"
          case _ => ps.skip(w)
        }
      }
      if (!magicOk || footerLen <= 0) return null
      val fEnd = n - 1 - psLen
      val fStart = fEnd - footerLen
      if (fStart < 3) return null
      val comp = compressionName(compression)
      def row(wv: Any, rows: Any, stripes: Any, clen: Any,
              cols: Any): InternalRow =
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(comp), wv, rows, stripes, clen, cols))
      val wv: Any = if (writerVersion >= 0) writerVersion else null
      val footer: Array[Byte] = compression match {
        case 0 =>
          if (footerLen > maxFooter) return null
          java.util.Arrays.copyOfRange(bytes, fStart.toInt, fEnd)
        case 1 | 2 | 4 | 5 => // zlib / snappy / lz4 / zstd
          inflateChunks(bytes, fStart.toInt, fEnd, maxFooter, compression)
        case 3 =>
          // lzo: no decoder here — postscript facts, null footer
          return row(wv, null, null, null, null)
        case _ => return null
      }
      // Footer protobuf: contentLength(2), stripes(3 rep msg),
      // types(4 rep msg), numberOfRows(6)
      val fb = new Pb(footer, 0, footer.length)
      var numRows = -1L
      var contentLen = -1L
      var nStripes = 0
      // each Type: kind(1 varint), subtypes(2 packed varint),
      // fieldNames(3 rep string)
      final case class OType(kind: Int, subtypes: Array[Int],
                             names: Array[String])
      val types = new scala.collection.mutable.ArrayBuffer[OType]
      while (fb.hasMore) {
        val (f, w) = fb.tag()
        (f, w) match {
          case (2, 0) => contentLen = fb.varint()
          case (3, 2) => fb.lenDelimited(); nStripes += 1
          case (4, 2) =>
            val (s, e) = fb.lenDelimited()
            val tp = new Pb(footer, s, e)
            var kind = -1
            val subs = new scala.collection.mutable.ArrayBuffer[Int]
            val names = new scala.collection.mutable.ArrayBuffer[String]
            while (tp.hasMore) {
              val (tf, tw) = tp.tag()
              (tf, tw) match {
                case (1, 0) => kind = tp.varint().toInt
                case (2, 2) => // packed subtypes
                  val (ss, se) = tp.lenDelimited()
                  val pp = new Pb(footer, ss, se)
                  while (pp.hasMore) subs += pp.varint().toInt
                case (2, 0) => subs += tp.varint().toInt // unpacked form
                case (3, 2) =>
                  val (ns, ne) = tp.lenDelimited()
                  names += tp.string(ns, ne)
                case _ => tp.skip(tw)
              }
            }
            types += OType(kind, subs.toArray, names.toArray)
          case (6, 0) => numRows = fb.varint()
          case _ => fb.skip(w)
        }
      }
      if (types.isEmpty) return null
      val root = types(0)
      if (root.kind != 12) return null // root must be a struct
      if (root.names.length != root.subtypes.length) return null
      val cols = new java.util.ArrayList[Any]
      var i = 0
      while (i < root.names.length) {
        val st = root.subtypes(i)
        if (st < 0 || st >= types.length) return null
        val k = types(st).kind
        val kn = if (k >= 0 && k < kindNames.length) kindNames(k)
        else "unknown"
        cols.add(new GenericInternalRow(Array[Any](
          UTF8String.fromString(root.names(i)), UTF8String.fromString(kn))))
        i += 1
      }
      row(wv,
        if (numRows >= 0) numRows else null,
        nStripes,
        if (contentLen >= 0) contentLen else null,
        new GenericArrayData(cols.toArray))
    } catch {
      case Bad => null
      case _: ArrayIndexOutOfBoundsException => null
    }
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; the decompressed-footer cap defaults
    * to 16 MiB. */
  def apply(payload: Column, maxFooter: Int = 1 << 24): Column =
    ColumnShim.column(OrcFooterMeta(ColumnShim.expression(payload), maxFooter))
}
