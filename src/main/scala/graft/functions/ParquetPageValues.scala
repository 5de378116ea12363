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
  * that chunk (parquet-format's `PageHeader`s, read through
  * [[ParquetThrift]]), decompress each page (uncompressed, raw snappy
  * block, gzip member, zstd frame — all via the bounded codec shells:
  * commons-compress, the JDK's `Inflater`, zstd-jni), and decode it
  * with parquet-column: values through `Encoding.getValuesReader` —
  * PLAIN for all physical types, and the V2-writer encodings
  * DELTA_BINARY_PACKED (int32/int64), DELTA_LENGTH_BYTE_ARRAY,
  * DELTA_BYTE_ARRAY and BYTE_STREAM_SPLIT (float/double/int32/int64) —
  * and definition levels and RLE_DICTIONARY / PLAIN_DICTIONARY indexes
  * through `RunLengthBitPackingHybridDecoder`. The dictionary page is
  * read as PLAIN values, all of them up front (parquet-column's own
  * `PlainBinaryDictionary` trusts each entry's length until the entry
  * is used, and then allocates it).
  * V1 and V2 data pages both decode (V2 keeps its level bytes outside
  * the compressed region).
  *
  * A pipeline uses this to SAMPLE real values out of raw crawl
  * parquet without trusting a reader stack — schema drift, mixed
  * writers, truncated tails all surface as explicit nulls. Scale
  * shape: one bounded per-row kernel over `binaryFile` payloads
  * (maxVals caps materialization), zero shuffle, codegen'd.
  *
  * The decoders allocate by what a page declares, so each declared
  * quantity is checked against the page's bytes (or the value count)
  * first: a dictionary's entry count, a DELTA header's value count and
  * block shape, each bit-packed level or index run, a BYTE_STREAM_SPLIT
  * region's size.
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
  import ParquetThrift._
  import java.nio.ByteBuffer
  import org.apache.parquet.bytes.{ByteBufferInputStream, BytesUtils}
  import org.apache.parquet.column.{ColumnDescriptor, Encoding, ValuesType}
  import org.apache.parquet.column.values.ValuesReader
  import org.apache.parquet.column.values.delta.DeltaBinaryPackingValuesReader
  import org.apache.parquet.column.values.rle.RunLengthBitPackingHybridDecoder
  import org.apache.parquet.format.{ColumnMetaData, CompressionCodec, FieldRepetitionType,
    PageHeader, PageType, SchemaElement, Type, Encoding => Enc}
  import org.apache.parquet.schema.PrimitiveType
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
  import org.apache.parquet.schema.Type.Repetition

  private val MaxPages = 4096

  /** The page codecs the bounded shells decode. */
  private val Codecs = Set(CompressionCodec.UNCOMPRESSED, CompressionCodec.SNAPPY,
    CompressionCodec.GZIP, CompressionCodec.ZSTD)

  /** The value encodings read; RLE booleans and BIT_PACKED refuse. */
  private val Encodings = Set(Enc.PLAIN, Enc.PLAIN_DICTIONARY, Enc.RLE_DICTIONARY,
    Enc.DELTA_BINARY_PACKED, Enc.DELTA_LENGTH_BYTE_ARRAY, Enc.DELTA_BYTE_ARRAY,
    Enc.BYTE_STREAM_SPLIT)

  /** The per-row kernel — public static so generated code can call it. */
  def compute(bytes: Array[Byte], column: String, maxVals: Int): InternalRow = orNull {
    val n = bytes.length
    val fm = footer(bytes)._1
    // the target leaf: a direct child of the root (no group is still
    // owed children when it comes up in the depth-first schema list)
    val schema = fm.getSchema
    if (column == null || schema.size < 1 || schema.size > (1 << 16)) throw Bad
    var leaf: SchemaElement = null
    var owed = 0
    var i = 1
    while (i < schema.size) {
      val el = schema.get(i)
      val nCh = el.getNum_children
      if (owed == 0 && nCh == 0 && el.getName == column) {
        if (el.getRepetition_type == FieldRepetitionType.REPEATED) throw Bad
        leaf = el
      }
      if (owed > 0) owed -= 1
      owed += nCh
      i += 1
    }
    // its chunk in row group 0
    val rgs = fm.getRow_groups
    if (leaf == null || rgs.isEmpty) throw Bad
    val chunks = rgs.get(0).getColumns
    if (chunks.size > (1 << 16)) throw Bad
    var meta: ColumnMetaData = null
    chunks.forEach { c =>
      val m = c.getMeta_data
      if (m != null && String.join(".", m.getPath_in_schema) == column) meta = m
    }
    val ptype = leaf.getType
    if (meta == null || meta.getData_page_offset < 0 || meta.getNum_values < 0 ||
      !Codecs(meta.getCodec) || ptype == null || ptype == Type.INT96 ||
      ptype == Type.FIXED_LEN_BYTE_ARRAY) throw Bad
    val optional = leaf.getRepetition_type == FieldRepetitionType.OPTIONAL
    val t = if (ptype == Type.BYTE_ARRAY) BINARY else PrimitiveTypeName.valueOf(ptype.name)
    val desc = new ColumnDescriptor(Array(column), new PrimitiveType(
      if (optional) Repetition.OPTIONAL else Repetition.REQUIRED, t, column),
      0, if (optional) 1 else 0)

    // page chain: dictionary page (when present) then data pages
    val dictOff =
      if (meta.isSetDictionary_page_offset) meta.getDictionary_page_offset else -1L
    var pos = if (dictOff >= 0 && dictOff < meta.getData_page_offset) dictOff
      else meta.getData_page_offset
    if (pos < 4 || pos >= n - 8) throw Bad
    var dict: Array[UTF8String] = null
    val out = new java.util.ArrayList[Any]
    var encoding: Enc = null
    var nPages = 0
    var valuesLeft = meta.getNum_values
    while (valuesLeft > 0 && out.size < maxVals && nPages < MaxPages) {
      val ph = new PageHeader
      val dataStart = (pos + read(ph, bytes, pos, n - 8 - pos)).toInt
      val size = ph.getCompressed_page_size
      if (size < 0 || dataStart.toLong + size > n - 8) throw Bad
      // the page bytes after `skip` level bytes, decompressed to `expect`
      def body(skip: Int, expect: Int): Array[Byte] = {
        val b = decompress(bytes, dataStart + skip, size - skip, meta.getCodec, expect)
        if (b == null) throw Bad
        b
      }
      ph.getType match {
        case PageType.DICTIONARY_PAGE =>
          val h = ph.getDictionary_page_header
          if (dict != null || h == null) throw Bad
          // PLAIN values, all read up front: an entry that does not fit
          // refuses the page, used or not
          val plain = body(0, ph.getUncompressed_page_size)
          val count = h.getNum_values
          if (count < 0 || !fits(t, count, plain.length)) throw Bad
          val r = Encoding.PLAIN.getValuesReader(desc, ValuesType.VALUES)
          r.initFromPage(count, stream(plain, 0, plain.length))
          dict = Array.fill(count)(value(r, t))
        case PageType.DATA_PAGE => // [def levels][values], all compressed
          val h = ph.getData_page_header
          if (h == null) throw Bad
          decodeDataPage(body(0, ph.getUncompressed_page_size), -1,
            h.getNum_values, h.getEncoding, desc, dict, out, maxVals)
          if (encoding == null) encoding = h.getEncoding
          valuesLeft -= h.getNum_values
        case PageType.DATA_PAGE_V2 => // levels stay OUTSIDE the compression
          val h = ph.getData_page_header_v2
          if (h == null || h.getRepetition_levels_byte_length != 0) throw Bad
          val lvl = h.getDefinition_levels_byte_length
          if (lvl < 0 || lvl > size) throw Bad
          val values =
            if (h.isIs_compressed) body(lvl, ph.getUncompressed_page_size - lvl)
            else java.util.Arrays.copyOfRange(bytes, dataStart + lvl, dataStart + size)
          decodeDataPage(
            java.util.Arrays.copyOfRange(bytes, dataStart, dataStart + lvl) ++ values,
            lvl, h.getNum_values, h.getEncoding, desc, dict, out, maxVals)
          if (encoding == null) encoding = h.getEncoding
          valuesLeft -= h.getNum_values
        case _ => throw Bad
      }
      nPages += 1
      pos = dataStart + size
    }
    if (encoding == null) throw Bad
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(name(ptype)),
      UTF8String.fromString(name(meta.getCodec)),
      UTF8String.fromString(name(encoding)),
      nPages,
      meta.getNum_values,
      new GenericArrayData(out.toArray)))
  }

  private def decompress(bytes: Array[Byte], off: Int, len: Int,
                         codec: CompressionCodec, expect: Int): Array[Byte] = {
    if (expect < 0 || expect > (1 << 28)) return null
    def slice = java.util.Arrays.copyOfRange(bytes, off, off + len)
    val out = codec match {
      case CompressionCodec.UNCOMPRESSED => slice
      case CompressionCodec.SNAPPY => BlockCodecs.snappy(bytes, off, len, expect)
      case CompressionCodec.GZIP => GunzipPayload.compute(slice, expect)
      case CompressionCodec.ZSTD => ZstdPayload.compute(slice, expect)
      case _ => null
    }
    if (out == null || out.length != expect) null else out
  }

  private def stream(b: Array[Byte], off: Int, end: Int): ByteBufferInputStream =
    ByteBufferInputStream.wrap(ByteBuffer.wrap(b, off, end - off))

  /** Bits a PLAIN value takes at least: its fixed width, or a
    * BYTE_ARRAY's length prefix. */
  private def bits(t: PrimitiveTypeName): Int = t match {
    case BOOLEAN => 1
    case INT64 | DOUBLE => 64
    case _ => 32
  }

  /** Whether `count` PLAIN values fit in `bytes`: checked before an array
    * of them is allocated, and before PLAIN booleans, which the library
    * reads past the end of their bytes as false. */
  private def fits(t: PrimitiveTypeName, count: Int, bytes: Int): Boolean =
    count.toLong * bits(t) <= bytes * 8L

  /** Refuses RLE/bit-packed hybrid runs in `[off, end)` that do not hold
    * `count` values of `width` bits: `RunLengthBitPackingHybridDecoder`
    * allocates a bit-packed run by its declared length, and reads a run
    * cut off by the end of its bytes as zeros. */
  private def runsFit(b: Array[Byte], off: Int, end: Int, width: Int,
                      count: Int): Unit = {
    val in = stream(b, off, end)
    var got = 0L
    while (got < count) {
      val h = BytesUtils.readUnsignedVarInt(in) & 0xffffffffL
      val run = h >>> 1
      // the decoder reads an empty run as an endless one
      if (run == 0) throw Bad
      if ((h & 1) == 0) { // RLE: one value
        in.skipFully((width + 7) / 8)
        got += run
      } else { // bit-packed groups of 8; only the last one padded
        if (run > (count - got + 7) / 8) throw Bad
        in.skipFully(run * width)
        got += run * 8
      }
    }
  }

  /** Refuses a DELTA_BINARY_PACKED header at `in`'s position unless it
    * declares exactly `count` values in blocks of at most 2^20:
    * `DeltaBinaryPackingValuesReader` sizes its buffers from these. */
  private def checkDeltaHeader(in: ByteBufferInputStream, count: Int): Unit = {
    in.mark(0)
    val block = BytesUtils.readUnsignedVarInt(in)
    val minis = BytesUtils.readUnsignedVarInt(in)
    val total = BytesUtils.readUnsignedVarInt(in)
    in.reset()
    if (block <= 0 || block > (1 << 20) || minis <= 0 || minis > block ||
      block % minis != 0 || total != count) throw Bad
  }

  private def value(r: ValuesReader, t: PrimitiveTypeName): UTF8String = t match {
    case BOOLEAN => UTF8String.fromString(r.readBoolean.toString)
    case INT32 => UTF8String.fromString(r.readInteger.toString)
    case INT64 => UTF8String.fromString(r.readLong.toString)
    case FLOAT => UTF8String.fromString(r.readFloat.toString)
    case DOUBLE => UTF8String.fromString(r.readDouble.toString)
    case _ => UTF8String.fromBytes(r.readBytes.getBytes)
  }

  /** One data page's worth of (levels, values) appended to `out`.
    * `levelsLen` is a V2 page's definition-level byte count; -1 marks a
    * V1 page, whose levels carry a 4-byte length prefix. */
  private def decodeDataPage(b: Array[Byte], levelsLen: Int, numValues: Int,
                             encoding: Enc, desc: ColumnDescriptor,
                             dict: Array[UTF8String], out: java.util.ArrayList[Any],
                             maxVals: Int): Unit = {
    if (numValues < 0 || numValues > (1 << 24) || !Encodings(encoding)) throw Bad
    var p = 0
    val defined = new Array[Boolean](numValues)
    if (desc.getMaxDefinitionLevel == 1) {
      val len = if (levelsLen >= 0) levelsLen else { p = 4; le32(b, 0) }
      if (len < 0 || p + len > b.length) throw Bad
      runsFit(b, p, p + len, 1, numValues)
      val levels = new RunLengthBitPackingHybridDecoder(1, stream(b, p, p + len))
      var i = 0
      while (i < numValues) { defined(i) = levels.readInt() == 1; i += 1 }
      p += len
    } else {
      java.util.Arrays.fill(defined, true)
      if (levelsLen > 0) p += levelsLen
    }
    val present = defined.count(identity)
    val t = desc.getPrimitiveType.getPrimitiveTypeName
    val in = stream(b, p, b.length)
    def read(reader: ValuesReader): () => UTF8String = {
      reader.initFromPage(present, in)
      () => value(reader, t)
    }
    val next = encoding match {
      case Enc.PLAIN_DICTIONARY | Enc.RLE_DICTIONARY =>
        // one bit-width byte, then the index runs
        if (dict == null) throw Bad
        val width = b(p) & 0xff
        runsFit(b, p + 1, b.length, width, present)
        val ids = new RunLengthBitPackingHybridDecoder(width, stream(b, p + 1, b.length))
        () => dict(ids.readInt())
      case Enc.DELTA_BYTE_ARRAY =>
        // prefix lengths, then suffix lengths (and the suffix bytes). The
        // reader allocates prefix + suffix bytes for a value before it
        // copies the prefix from the value before, so each prefix must
        // fit that value
        checkDeltaHeader(in, present)
        val probe = stream(b, p, b.length)
        val prefixes = new DeltaBinaryPackingValuesReader
        prefixes.initFromPage(present, probe)
        checkDeltaHeader(probe, present)
        val suffixes = new DeltaBinaryPackingValuesReader
        suffixes.initFromPage(present, probe)
        var last = 0L
        for (_ <- 0 until present) {
          val prefix = prefixes.readInteger()
          if (prefix < 0 || prefix > last) throw Bad
          last = prefix.toLong + suffixes.readInteger()
        }
        read(Encoding.DELTA_BYTE_ARRAY.getValuesReader(desc, ValuesType.VALUES))
      case Enc.DELTA_BINARY_PACKED | Enc.DELTA_LENGTH_BYTE_ARRAY =>
        checkDeltaHeader(in, present)
        read(Encoding.valueOf(encoding.name).getValuesReader(desc, ValuesType.VALUES))
      case Enc.BYTE_STREAM_SPLIT =>
        // the reader takes its value count from the region's size
        if ((b.length - p) * 8L != present.toLong * bits(t)) throw Bad
        read(Encoding.BYTE_STREAM_SPLIT.getValuesReader(desc, ValuesType.VALUES))
      case _ =>
        if (!fits(t, present, b.length - p)) throw Bad
        read(Encoding.PLAIN.getValuesReader(desc, ValuesType.VALUES))
    }
    // every value is read, so a malformed one refuses the page; at most
    // maxVals are kept
    var i = 0
    while (i < numValues) {
      val v = if (defined(i)) next() else null
      if (out.size < maxVals) out.add(v)
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
