package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native parquet DATA decode — the tier [[ParquetFooterMeta]]'s
  * footer census deliberately stops short of: given whole-file bytes
  * and a top-level column name, walk row group 0's page chain for
  * that chunk (thrift compact `PageHeader`s read with the footer
  * kernel's own Reader), decompress each page (uncompressed, raw
  * snappy block, gzip member, zstd frame — all via the bounded codec
  * shells: commons-compress, the JDK's `Inflater`, zstd-jni), decode
  * the RLE/bit-packed definition levels, and materialize the values:
  * PLAIN for all physical types (booleans bit-packed LSB-first,
  * INT32/INT64/FLOAT/DOUBLE little-endian, BYTE_ARRAY
  * length-prefixed) and the dictionary
  * pair — a PLAIN dictionary page resolved through
  * RLE_DICTIONARY / PLAIN_DICTIONARY index pages (1-byte bit width +
  * the hybrid runs). V1 and V2 data pages both decode (V2 keeps its
  * level bytes outside the compressed region).
  *
  * A pipeline uses this to SAMPLE real values out of raw crawl
  * parquet without trusting a reader stack — schema drift, mixed
  * writers, truncated tails all surface as explicit nulls. Scale
  * shape: one bounded per-row kernel over `binaryFile` payloads
  * (maxVals caps materialization), zero shuffle, codegen'd.
  *
  * The V2-WRITER ENCODINGS decode too (the parquet-mr v2 / modern
  * arrow defaults): DELTA_BINARY_PACKED int32/int64 (ULEB128 header,
  * zigzag first value + per-block min deltas, per-miniblock
  * bit-widths with padded partial miniblocks and unwritten trailing
  * ones, Long wraparound exactly as the format defines),
  * DELTA_LENGTH_BYTE_ARRAY, DELTA_BYTE_ARRAY (shared-prefix +
  * suffix reconstruction), and BYTE_STREAM_SPLIT float/double/
  * int32/int64 lanes (stream de-interleave, exact-region check).
  *
  * Contract bounds (fail-closed null, never a guess): flat
  * top-level columns only (max repetition level 0, max definition
  * level <= 1 — the column is a direct child of the root);
  * FLBA/INT96 types and other codecs (brotli, lzo,
  * lz4-frame) refuse; absent
  * column name refuses. Values render as strings the census way:
  * integers in decimal, floats via Java's shortest round-trip,
  * UTF-8 byte arrays verbatim, booleans true/false; null slots
  * (definition level 0) stay null in the array. */
case class ParquetPageValues(child: Expression, column: String, maxVals: Int)
    extends UnaryExpression {
  require(maxVals > 0, "value cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"parquet_page_values expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("ptype", StringType, nullable = false),
    StructField("codec", StringType, nullable = false),
    StructField("encoding", StringType, nullable = false),
    StructField("n_pages", IntegerType, nullable = false),
    StructField("num_values", LongType, nullable = false),
    StructField("values", ArrayType(StringType, containsNull = true),
      nullable = false)))

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    ParquetPageValues.compute(a.asInstanceOf[Array[Byte]], column, maxVals)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val colRef = ctx.addReferenceObj("column", column, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ParquetPageValues.compute($c, $colRef, $maxVals);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "parquet_page_values"
}

object ParquetPageValues {
  import ParquetFooterMeta._

  private val MaxPages = 4096

  private def codecName(c: Int): String = c match {
    case 0 => "uncompressed"
    case 1 => "snappy"
    case 2 => "gzip"
    case 6 => "zstd"
    case _ => "unsupported"
  }

  private def encName(e: Int): String = e match {
    case 0 => "plain"
    case 2 => "plain_dictionary"
    case 5 => "delta_binary_packed"
    case 6 => "delta_length_byte_array"
    case 7 => "delta_byte_array"
    case 8 => "rle_dictionary"
    case 9 => "byte_stream_split"
    case _ => "unsupported"
  }

  /** The per-row kernel — public static so generated code can call it. */
  def compute(bytes: Array[Byte], column: String, maxVals: Int): InternalRow = {
    try {
      val n = bytes.length
      if (n < 12 || column == null) return null
      if (bytes(0) != 'P' || bytes(1) != 'A' || bytes(2) != 'R' ||
        bytes(3) != '1') return null
      if (bytes(n - 4) != 'P' || bytes(n - 3) != 'A' ||
        bytes(n - 2) != 'R' || bytes(n - 1) != '1') return null
      val flen = (bytes(n - 8) & 0xff) | ((bytes(n - 7) & 0xff) << 8) |
        ((bytes(n - 6) & 0xff) << 16) | ((bytes(n - 5) & 0xff) << 24)
      if (flen <= 0 || n - 8 - flen < 4) return null

      // footer pass: the target leaf's type + optionality from the
      // schema, its chunk coords from row group 0
      var ptype = -1
      var optional = false
      var found = false
      var codec = -1
      var chunkValues = -1L
      var dataOff = -1L
      var dictOff = -1L
      locally {
        val r = new Reader(bytes, n - 8 - flen, n - 8)
        var lastFid = 0
        var done = false
        var rg0Seen = false
        while (!done) {
          val h = r.u8()
          if (h == TStop) done = true
          else {
            val t = h & 0x0f
            val delta = (h >> 4) & 0x0f
            lastFid = if (delta == 0) r.zigzag().toInt else lastFid + delta
            if (lastFid == 2 && t == TList) {
              // schema: root first, then DFS. Only depth-1 leaves
              // (direct children of root, num_children == 0) qualify.
              val (et, cnt) = listHeader(r)
              if (et != TStruct || cnt <= 0 || cnt > (1 << 16)) throw Bad
              var i = 0
              var depthBudget = 0 // children still owed to open groups
              while (i < cnt) {
                val (tp, rep, name, nCh) = readSchemaElement(r)
                if (i > 0) {
                  val topLevel = depthBudget == 0
                  if (depthBudget > 0) depthBudget -= 1
                  depthBudget += nCh
                  if (topLevel && nCh == 0 && name == column) {
                    ptype = tp
                    optional = rep == 1
                    if (rep == 2) return null // repeated: refuse
                    found = true
                  }
                } else depthBudget = 0 // root's own children are top level
                i += 1
              }
            } else if (lastFid == 4 && t == TList && !rg0Seen) {
              rg0Seen = true
              val (et, nRg) = listHeader(r)
              if (et != TStruct || nRg <= 0) throw Bad
              // row group 0 only: walk its chunks, match the column
              var fid = 0
              var rgDone = false
              while (!rgDone) {
                val hh = r.u8()
                if (hh == TStop) rgDone = true
                else {
                  val tt = hh & 0x0f
                  val dd = (hh >> 4) & 0x0f
                  fid = if (dd == 0) r.zigzag().toInt else fid + dd
                  if (fid == 1 && tt == TList) {
                    val (cet, nCc) = listHeader(r)
                    if (cet != TStruct || nCc < 0 || nCc > (1 << 16))
                      throw Bad
                    var c = 0
                    while (c < nCc) {
                      var cfid = 0
                      var ccDone = false
                      while (!ccDone) {
                        val ch = r.u8()
                        if (ch == TStop) ccDone = true
                        else {
                          val ct = ch & 0x0f
                          val cd = (ch >> 4) & 0x0f
                          cfid = if (cd == 0) r.zigzag().toInt else cfid + cd
                          if (cfid == 3 && ct == TStruct) {
                            val m = readChunkMeta(r)
                            if (m != null && m.path == column) {
                              codec = m.codec
                              chunkValues = m.numValues
                              dataOff = m.dataOff
                              dictOff = m.dictOff
                            }
                          } else skipValue(r, ct, 0)
                        }
                      }
                      c += 1
                    }
                  } else skipValue(r, tt, 0)
                }
              }
              // remaining row groups: skipped by the outer loop's
              // skipValue when their list header comes around — but
              // lastFid stays 4, so just skip the rest generically
              done = true
            } else skipValue(r, t, 0)
          }
        }
      }
      if (!found || dataOff < 0 || chunkValues < 0) return null
      if (codecName(codec) == "unsupported") return null
      if (ptype == 3 || ptype == 7) return null // int96 / flba: refuse

      // page chain: dictionary page (when present) then data pages
      var dict: Array[UTF8String] = null
      var pos = if (dictOff >= 0 && dictOff < dataOff) dictOff else dataOff
      if (pos < 4 || pos >= n - 8) return null
      val out = new java.util.ArrayList[Any]
      var encodingSeen = -1
      var nPages = 0
      var valuesLeft = chunkValues
      while (valuesLeft > 0 && out.size() < maxVals && nPages < MaxPages) {
        val r = new Reader(bytes, pos.toInt, n - 8)
        val ph = readPageHeader(r)
        if (ph == null) return null
        val dataStart = r.pos
        if (dataStart + ph.compressedSize > n - 8 || ph.compressedSize < 0)
          return null
        ph.pageType match {
          case 2 => // dictionary page: PLAIN values
            if (dict != null) return null
            val plain = decompress(bytes, dataStart, ph.compressedSize,
              codec, ph.uncompressedSize)
            if (plain == null) return null
            dict = decodePlain(plain, 0, plain.length, ptype, ph.numValues,
              Int.MaxValue)
            if (dict == null) return null
          case 0 => // data page v1: [def levels][values], all compressed
            val plain = decompress(bytes, dataStart, ph.compressedSize,
              codec, ph.uncompressedSize)
            if (plain == null) return null
            decodeDataPage(plain, 0, plain.length, ptype, optional,
              ph.numValues, ph.encoding, dict, out, maxVals,
              v2Levels = false, levelsLen = -1)
            if (encodingSeen < 0) encodingSeen = ph.encoding
            valuesLeft -= ph.numValues
          case 3 => // data page v2: levels stay OUTSIDE the compression
            val lvlLen = ph.defLevelsLen + ph.repLevelsLen
            if (ph.repLevelsLen != 0) return null // flat columns only
            if (lvlLen < 0 || lvlLen > ph.compressedSize) return null
            val body =
              if (ph.v2Compressed)
                decompress(bytes, dataStart + lvlLen,
                  ph.compressedSize - lvlLen, codec,
                  ph.uncompressedSize - lvlLen)
              else java.util.Arrays.copyOfRange(bytes, dataStart + lvlLen,
                dataStart + ph.compressedSize)
            if (body == null) return null
            // stitch levels + body back into one v2 buffer
            val buf = new Array[Byte](lvlLen + body.length)
            System.arraycopy(bytes, dataStart, buf, 0, lvlLen)
            System.arraycopy(body, 0, buf, lvlLen, body.length)
            decodeDataPage(buf, 0, buf.length, ptype, optional,
              ph.numValues, ph.encoding, dict, out, maxVals,
              v2Levels = true, levelsLen = ph.defLevelsLen)
            if (encodingSeen < 0) encodingSeen = ph.encoding
            valuesLeft -= ph.numValues
          case _ => return null
        }
        nPages += 1
        pos = dataStart + ph.compressedSize
      }
      if (encodingSeen < 0) return null
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(typeName(ptype)),
        UTF8String.fromString(codecName(codec)),
        UTF8String.fromString(encName(encodingSeen)),
        nPages,
        chunkValues,
        new GenericArrayData(out.toArray)))
    } catch {
      case Bad => null
      case _: ArrayIndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
      case _: UnsupportedOperationException => null
    }
  }

  // ---- thrift pieces ------------------------------------------------

  /** SchemaElement: (type, repetition, name, numChildren). */
  private def readSchemaElement(r: Reader): (Int, Int, String, Int) = {
    var tpe = -1
    var rep = 0
    var name: String = null
    var nCh = 0
    var lastFid = 0
    var done = false
    while (!done) {
      val h = r.u8()
      if (h == TStop) done = true
      else {
        val t = h & 0x0f
        val delta = (h >> 4) & 0x0f
        lastFid = if (delta == 0) r.zigzag().toInt else lastFid + delta
        lastFid match {
          case 1 if t == TI32 => tpe = r.zigzag().toInt
          case 3 if t == TI32 => rep = r.zigzag().toInt
          case 4 if t == TBinary => name = r.string()
          case 5 if t == TI32 => nCh = r.zigzag().toInt
          case _ => skipValue(r, t, 0)
        }
      }
    }
    if (name == null) throw Bad
    (tpe, rep, name, nCh)
  }

  private final class ChunkMeta(val path: String, val codec: Int,
                                val numValues: Long, val dataOff: Long,
                                val dictOff: Long)

  private def readChunkMeta(r: Reader): ChunkMeta = {
    var path: String = null
    var codec = -1
    var numValues = -1L
    var dataOff = -1L
    var dictOff = -1L
    var lastFid = 0
    var done = false
    while (!done) {
      val h = r.u8()
      if (h == TStop) done = true
      else {
        val t = h & 0x0f
        val delta = (h >> 4) & 0x0f
        lastFid = if (delta == 0) r.zigzag().toInt else lastFid + delta
        lastFid match {
          case 3 if t == TList =>
            val (et, cnt) = listHeader(r)
            if (et != TBinary || cnt < 0 || cnt > 64) throw Bad
            val sb = new StringBuilder
            var i = 0
            while (i < cnt) {
              if (i > 0) sb.append('.')
              sb.append(r.string())
              i += 1
            }
            path = sb.toString
          case 4 if t == TI32 => codec = r.zigzag().toInt
          case 5 if t == TI64 => numValues = r.zigzag()
          case 9 if t == TI64 => dataOff = r.zigzag()
          case 11 if t == TI64 => dictOff = r.zigzag()
          case _ => skipValue(r, t, 0)
        }
      }
    }
    if (path == null) null
    else new ChunkMeta(path, codec, numValues, dataOff, dictOff)
  }

  private final class PageHeader(val pageType: Int, val uncompressedSize: Int,
                                 val compressedSize: Int, val numValues: Int,
                                 val encoding: Int, val defLevelsLen: Int,
                                 val repLevelsLen: Int, val v2Compressed: Boolean)

  private def readPageHeader(r: Reader): PageHeader = {
    var pageType = -1
    var uSize = -1
    var cSize = -1
    var numValues = -1
    var encoding = -1
    var defLen = 0
    var repLen = 0
    var v2Comp = true
    var lastFid = 0
    var done = false
    while (!done) {
      val h = r.u8()
      if (h == TStop) done = true
      else {
        val t = h & 0x0f
        val delta = (h >> 4) & 0x0f
        lastFid = if (delta == 0) r.zigzag().toInt else lastFid + delta
        (lastFid, t) match {
          case (1, TI32) => pageType = r.zigzag().toInt
          case (2, TI32) => uSize = r.zigzag().toInt
          case (3, TI32) => cSize = r.zigzag().toInt
          case (5, TStruct) | (7, TStruct) | (8, TStruct) =>
            // DataPageHeader / DictionaryPageHeader / DataPageHeaderV2
            var fid = 0
            var sDone = false
            while (!sDone) {
              val hh = r.u8()
              if (hh == TStop) sDone = true
              else {
                val tt = hh & 0x0f
                val dd = (hh >> 4) & 0x0f
                fid = if (dd == 0) r.zigzag().toInt else fid + dd
                (lastFid, fid, tt) match {
                  case (_, 1, TI32) => numValues = r.zigzag().toInt
                  case (5, 2, TI32) | (7, 2, TI32) =>
                    encoding = r.zigzag().toInt
                  case (8, 4, TI32) => encoding = r.zigzag().toInt
                  case (8, 5, TI32) => defLen = r.zigzag().toInt
                  case (8, 6, TI32) => repLen = r.zigzag().toInt
                  case (8, 7, TTrue) => v2Comp = true
                  case (8, 7, TFalse) => v2Comp = false
                  case _ => skipValue(r, tt, 0)
                }
              }
            }
          case _ => skipValue(r, t, 0)
        }
      }
    }
    if (pageType < 0 || uSize < 0 || cSize < 0 || numValues < 0) null
    else new PageHeader(pageType, uSize, cSize, numValues, encoding,
      defLen, repLen, v2Comp)
  }

  // ---- codecs --------------------------------------------------------

  private def decompress(bytes: Array[Byte], off: Int, len: Int,
                         codec: Int, expect: Int): Array[Byte] = {
    if (expect < 0 || expect > (1 << 28)) return null
    codec match {
      case 0 =>
        if (len != expect) return null
        java.util.Arrays.copyOfRange(bytes, off, off + len)
      case 1 =>
        val out = BlockCodecs.snappy(bytes, off, len, expect)
        if (out == null || out.length != expect) null else out
      case 2 =>
        val out = GunzipPayload.compute(
          java.util.Arrays.copyOfRange(bytes, off, off + len), expect)
        if (out == null || out.length != expect) null else out
      case 6 =>
        val out = ZstdPayload.compute(
          java.util.Arrays.copyOfRange(bytes, off, off + len), expect)
        if (out == null || out.length != expect) null else out
      case _ => null
    }
  }

  // ---- level + value decode -------------------------------------------

  /** RLE/bit-packed hybrid run decode into `out` (ints), LSB-first
    * bit packing, `width` bits per value. Reads until `count` values
    * or the region ends. Returns values read or -1. */
  private def rleHybrid(b: Array[Byte], off: Int, end: Int, width: Int,
                        count: Int, out: Array[Int]): Int = {
    if (width == 0) { // all values are 0
      java.util.Arrays.fill(out, 0, count, 0)
      return count
    }
    if (width < 0 || width > 31) return -1
    var p = off
    var got = 0
    val byteW = (width + 7) / 8
    while (got < count && p < end) {
      // varint header
      var h = 0L
      var shift = 0
      var bb = 0
      do {
        if (p >= end || shift > 35) return -1
        bb = b(p) & 0xff
        h |= (bb & 0x7fL) << shift
        shift += 7
        p += 1
      } while ((bb & 0x80) != 0)
      if ((h & 1) == 0) { // RLE run
        val run = (h >>> 1).toInt
        if (run < 0 || p + byteW > end) return -1
        var v = 0
        var i = 0
        while (i < byteW) { v |= (b(p + i) & 0xff) << (8 * i); i += 1 }
        p += byteW
        val take = math.min(run, count - got)
        java.util.Arrays.fill(out, got, got + take, v)
        got += take
      } else { // bit-packed groups of 8
        val groups = (h >>> 1).toInt
        if (groups < 0) return -1
        val total = groups * 8
        val bytesNeeded = groups * width // groups*8*width/8
        if (p + bytesNeeded > end) return -1
        var bitPos = 0
        var i = 0
        while (i < total && got < count) {
          var v = 0
          var bit = 0
          while (bit < width) {
            val bp = bitPos + bit
            if ((b(p + (bp >> 3)) >> (bp & 7) & 1) != 0) v |= 1 << bit
            bit += 1
          }
          bitPos += width
          out(got) = v
          got += 1
          i += 1
        }
        // skip any packed values beyond count
        p += bytesNeeded
      }
    }
    if (got == count) got else -1
  }

  /** PLAIN decode `count` values (no nulls) starting at `off`;
    * null on malformed/truncated input. */
  private def decodePlain(b: Array[Byte], off: Int, end: Int, ptype: Int,
                          count: Int, cap: Int): Array[UTF8String] = {
    if (count < 0 || count > (1 << 24)) return null
    val out = new Array[UTF8String](count)
    var p = off
    var i = 0
    while (i < count) {
      ptype match {
        case 0 => // boolean, bit-packed LSB-first
          val bp = i // bit index
          if (p + (bp >> 3) >= end) return null
          val v = (b(p + (bp >> 3)) >> (bp & 7) & 1) != 0
          out(i) = UTF8String.fromString(if (v) "true" else "false")
        case 1 =>
          if (p + 4 > end) return null
          val v = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
            ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
          p += 4
          out(i) = UTF8String.fromString(v.toString)
        case 2 =>
          if (p + 8 > end) return null
          var v = 0L
          var k = 0
          while (k < 8) { v |= (b(p + k) & 0xffL) << (8 * k); k += 1 }
          p += 8
          out(i) = UTF8String.fromString(v.toString)
        case 4 =>
          if (p + 4 > end) return null
          var bits = 0
          var k = 0
          while (k < 4) { bits |= (b(p + k) & 0xff) << (8 * k); k += 1 }
          p += 4
          out(i) = UTF8String.fromString(
            java.lang.Float.intBitsToFloat(bits).toString)
        case 5 =>
          if (p + 8 > end) return null
          var bits = 0L
          var k = 0
          while (k < 8) { bits |= (b(p + k) & 0xffL) << (8 * k); k += 1 }
          p += 8
          out(i) = UTF8String.fromString(
            java.lang.Double.longBitsToDouble(bits).toString)
        case 6 =>
          if (p + 4 > end) return null
          val len = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
            ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
          p += 4
          if (len < 0 || p + len > end) return null
          out(i) = UTF8String.fromBytes(
            java.util.Arrays.copyOfRange(b, p, p + len))
          p += len
        case _ => return null
      }
      i += 1
      if (i >= cap) return java.util.Arrays.copyOf(out, i)
    }
    out
  }

  // ---- DELTA-family + BYTE_STREAM_SPLIT readers (Encodings.md) -------

  /** Mutable cursor shared by the delta readers (they nest:
    * DELTA_BYTE_ARRAY = two DELTA_BINARY_PACKED runs + suffix bytes). */
  private final class Cur(var p: Int)

  private def uleb(b: Array[Byte], c: Cur, end: Int): Long = {
    var v = 0L
    var shift = 0
    var bb = 0
    do {
      if (c.p >= end || shift > 63) throw Bad
      bb = b(c.p) & 0xff
      v |= (bb & 0x7fL) << shift
      shift += 7
      c.p += 1
    } while ((bb & 0x80) != 0)
    v
  }

  private def zzVar(b: Array[Byte], c: Cur, end: Int): Long = {
    val u = uleb(b, c, end)
    (u >>> 1) ^ -(u & 1)
  }

  /** DELTA_BINARY_PACKED: exactly `count` longs from `c.p`, cursor
    * advanced past the last miniblock READ — per the spec the writer
    * pads a partially-filled miniblock to its full byte length but
    * emits NO data for fully-unused trailing miniblocks (their
    * bit-width bytes are still present). Deltas accumulate in Long,
    * wrapping exactly as the format defines; the caller narrows
    * int32 lanes. */
  private def deltaPacked(b: Array[Byte], c: Cur, end: Int,
                          count: Int): Array[Long] = {
    val blockSize = uleb(b, c, end)
    val miniPer = uleb(b, c, end)
    val total = uleb(b, c, end)
    val first = zzVar(b, c, end)
    if (blockSize <= 0 || blockSize > (1 << 20) || miniPer <= 0 ||
      miniPer > blockSize || blockSize % miniPer != 0) throw Bad
    val perMini = (blockSize / miniPer).toInt
    if (perMini % 8 != 0) throw Bad
    if (total != count) throw Bad
    val out = new Array[Long](count)
    if (count == 0) return out
    out(0) = first
    var got = 1
    var acc = first
    val nMini = miniPer.toInt
    val widths = new Array[Int](nMini)
    while (got < count) {
      val minDelta = zzVar(b, c, end)
      var i = 0
      while (i < nMini) {
        if (c.p >= end) throw Bad
        widths(i) = b(c.p) & 0xff
        c.p += 1
        i += 1
      }
      i = 0
      while (i < nMini && got < count) {
        val w = widths(i)
        if (w > 64) throw Bad
        val nbytes = perMini * w / 8
        if (c.p + nbytes > end) throw Bad
        var k = 0
        while (k < perMini && got < count) {
          var v = 0L
          var bit = 0
          while (bit < w) {
            val bp = k.toLong * w + bit
            if ((b(c.p + (bp >> 3).toInt) >> (bp & 7).toInt & 1) != 0)
              v |= 1L << bit
            bit += 1
          }
          acc += minDelta + v
          out(got) = acc
          got += 1
          k += 1
        }
        c.p += nbytes
        i += 1
      }
    }
    out
  }

  /** DELTA_LENGTH_BYTE_ARRAY: packed lengths then concatenated bytes. */
  private def deltaLengthBA(b: Array[Byte], c: Cur, end: Int,
                            count: Int): Array[Array[Byte]] = {
    val lens = deltaPacked(b, c, end, count)
    val out = new Array[Array[Byte]](count)
    var i = 0
    while (i < count) {
      val l = lens(i)
      if (l < 0 || l > (1 << 28) || c.p + l > end) throw Bad
      out(i) = java.util.Arrays.copyOfRange(b, c.p, c.p + l.toInt)
      c.p += l.toInt
      i += 1
    }
    out
  }

  /** DELTA_BYTE_ARRAY: shared-prefix lengths + suffix payloads. */
  private def deltaBA(b: Array[Byte], c: Cur, end: Int,
                      count: Int): Array[Array[Byte]] = {
    val prefs = deltaPacked(b, c, end, count)
    val sufs = deltaLengthBA(b, c, end, count)
    val out = new Array[Array[Byte]](count)
    var prev = Array.emptyByteArray
    var i = 0
    while (i < count) {
      val pl = prefs(i)
      if (pl < 0 || pl > prev.length) throw Bad
      val suf = sufs(i)
      val v = new Array[Byte](pl.toInt + suf.length)
      System.arraycopy(prev, 0, v, 0, pl.toInt)
      System.arraycopy(suf, 0, v, pl.toInt, suf.length)
      out(i) = v
      prev = v
      i += 1
    }
    out
  }

  /** One data page's worth of (levels, values) appended to `out`. */
  private def decodeDataPage(b: Array[Byte], off: Int, end: Int, ptype: Int,
                             optional: Boolean, numValues: Int, encoding: Int,
                             dict: Array[UTF8String],
                             out: java.util.ArrayList[Any], maxVals: Int,
                             v2Levels: Boolean, levelsLen: Int): Unit = {
    if (numValues < 0 || numValues > (1 << 24)) throw Bad
    var p = off
    val defs = new Array[Int](numValues)
    if (optional) {
      if (v2Levels) {
        if (rleHybrid(b, p, p + levelsLen, 1, numValues, defs) < 0) throw Bad
        p += levelsLen
      } else {
        if (p + 4 > end) throw Bad
        val len = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
          ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
        p += 4
        if (len < 0 || p + len > end) throw Bad
        if (rleHybrid(b, p, p + len, 1, numValues, defs) < 0) throw Bad
        p += len
      }
    } else {
      java.util.Arrays.fill(defs, 1)
      if (v2Levels && levelsLen > 0) p += levelsLen
    }
    var present = 0
    var i = 0
    while (i < numValues) { if (defs(i) == 1) present += 1; i += 1 }
    val vals: Array[UTF8String] = encoding match {
      case 0 => // PLAIN
        val v = decodePlain(b, p, end, ptype, present, Int.MaxValue)
        if (v == null) throw Bad
        v
      case 2 | 8 => // PLAIN_DICTIONARY / RLE_DICTIONARY indices
        if (dict == null) throw Bad
        if (p >= end) throw Bad
        val width = b(p) & 0xff
        p += 1
        if (width > 31) throw Bad
        val idx = new Array[Int](present)
        if (rleHybrid(b, p, end, width, present, idx) < 0) throw Bad
        val v = new Array[UTF8String](present)
        var k = 0
        while (k < present) {
          if (idx(k) < 0 || idx(k) >= dict.length) throw Bad
          v(k) = dict(idx(k))
          k += 1
        }
        v
      case 5 => // DELTA_BINARY_PACKED: int32/int64 lanes
        if (ptype != 1 && ptype != 2) throw Bad
        val c = new Cur(p)
        val nums = deltaPacked(b, c, end, present)
        val v = new Array[UTF8String](present)
        var k = 0
        while (k < present) {
          v(k) = UTF8String.fromString(
            if (ptype == 1) nums(k).toInt.toString else nums(k).toString)
          k += 1
        }
        v
      case 6 => // DELTA_LENGTH_BYTE_ARRAY
        if (ptype != 6) throw Bad
        val c = new Cur(p)
        deltaLengthBA(b, c, end, present).map(UTF8String.fromBytes)
      case 7 => // DELTA_BYTE_ARRAY
        if (ptype != 6) throw Bad
        val c = new Cur(p)
        deltaBA(b, c, end, present).map(UTF8String.fromBytes)
      case 9 => // BYTE_STREAM_SPLIT: fixed-width lanes de-interleaved
        val w = ptype match {
          case 1 | 4 => 4
          case 2 | 5 => 8
          case _ => throw Bad
        }
        if ((end - p).toLong != present.toLong * w) throw Bad
        val v = new Array[UTF8String](present)
        var k = 0
        while (k < present) {
          var bits = 0L
          var j = 0
          while (j < w) {
            bits |= (b(p + j * present + k) & 0xffL) << (8 * j)
            j += 1
          }
          v(k) = UTF8String.fromString(ptype match {
            case 1 => bits.toInt.toString
            case 2 => bits.toString
            case 4 => java.lang.Float.intBitsToFloat(bits.toInt).toString
            case _ => java.lang.Double.longBitsToDouble(bits).toString
          })
          k += 1
        }
        v
      case _ => throw Bad
    }
    var vi = 0
    i = 0
    while (i < numValues && out.size() < maxVals) {
      if (defs(i) == 1) { out.add(vals(vi)); vi += 1 }
      else out.add(null)
      i += 1
    }
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; value materialization capped at
    * 65536 by default. */
  def apply(payload: Column, column: String, maxVals: Int = 1 << 16): Column =
    ColumnShim.column(
      ParquetPageValues(ColumnShim.expression(payload), column, maxVals))
}
