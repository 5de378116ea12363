package graft.functions

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._

import org.apache.parquet.format.{ColumnChunk, ColumnMetaData, CompressionCodec,
  DataPageHeader, DictionaryPageHeader, Encoding, FieldRepetitionType,
  FileMetaData, PageHeader, PageType, RowGroup, SchemaElement, Type, Util}
import org.scalatest.funsuite.AnyFunSuite
import org.tukaani.xz.{LZMA2Options, LZMAOutputStream, XZOutputStream}

/** The decoders' memory is gated by the call's `maxOut`, not by what a
  * stream declares: a dictionary or window above the cap is refused
  * before anything that size is allocated. The Parquet readers bound
  * each declared count by the bytes that hold it. */
class DecodeMemoryBoundSpec extends AnyFunSuite {

  private def un(hex: String): Array[Byte] =
    hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private val text = ("memory bound " * 50).getBytes("UTF-8")

  /** A real xz stream whose one LZMA2 block header is re-stamped with
    * dictionary-size code `dictCode` (CRC32 recomputed). */
  private def xzWithDict(dictCode: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new XZOutputStream(bos, new LZMA2Options(0))
    out.write(text); out.close()
    val b = bos.toByteArray
    // stream header (12) | block header: size 02, flags 00, filter 21,
    // props size 01, dictionary code, 3 zero pad bytes, CRC32
    assert(b(12) == 2 && b(14) == 0x21 && b(15) == 1, "unexpected block header")
    b(16) = dictCode.toByte
    val crc = new java.util.zip.CRC32
    crc.update(b, 12, 8)
    val v = crc.getValue
    for (i <- 0 until 4) b(20 + i) = (v >>> (8 * i)).toByte
    b
  }

  /** A real marker-terminated `.lzma` stream with its header's
    * dictionary size replaced. */
  private def lzmaWithDict(dictSize: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new LZMAOutputStream(bos, new LZMA2Options(0), -1L)
    out.write(text); out.finish()
    val b = bos.toByteArray
    for (i <- 0 until 4) b(1 + i) = (dictSize >>> (8 * i)).toByte
    b
  }

  test("a declared dictionary or window above the cap returns null, " +
    "without allocating it") {
    // the unpatched streams decode, so each refusal below is the bound
    assert(XzPayload.compute(xzWithDict(0), 1 << 20).toSeq == text.toSeq)
    assert(LzmaAlonePayload.compute(lzmaWithDict(1 << 16), 1 << 20).toSeq ==
      text.toSeq)
    val rows = Seq(
      // zstd: window descriptor 0xA8 = 2^31, no single segment, no
      // content size; one raw block "abc"
      ("zstd window log 31", () =>
        ZstdPayload.compute(un("28b52ffd" + "00" + "a8" + "190000" + "616263"),
          1 << 20)),
      // xz: LZMA2 dictionary code 37 = 3 << 29 = 1.5 GiB
      ("xz 1.5 GiB dictionary", () => XzPayload.compute(xzWithDict(37), 1 << 20)),
      (".lzma 4 GiB dictionary", () =>
        LzmaAlonePayload.compute(lzmaWithDict(0xffffffffL), 1 << 20)),
      (".lzma 1 GiB dictionary", () =>
        LzmaAlonePayload.compute(lzmaWithDict(1L << 30), 1 << 20)))
    for ((name, decode) <- rows)
      assert(decode() == null, name)
  }

  test("the caps rise with maxOut: libzstd's window log 27, xz -9's " +
    "dictionary, or the output cap when larger") {
    assert(ZstdPayload.windowLogMax(1) == 27)
    assert(ZstdPayload.windowLogMax(1 << 27) == 27)
    assert(ZstdPayload.windowLogMax((1 << 27) + 1) == 28)
    assert(ZstdPayload.windowLogMax(1 << 28) == 28)
    val xz9 = new LZMA2Options(9).getDecoderMemoryUsage
    assert(BoundedDecode.xzMemoryLimitKiB(1 << 20) == xz9)
    assert(BoundedDecode.xzMemoryLimitKiB(1 << 28) == (1 << 18) + 1)
  }

  /** Bytes the current thread allocates while running `f`, and its result. */
  private def allocating[T](f: => T): (T, Long) = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val before = mx.getCurrentThreadAllocatedBytes
    val r = f
    (r, mx.getCurrentThreadAllocatedBytes - before)
  }

  private def parquet(footerBytes: Array[Byte], body: Array[Byte] = Array.emptyByteArray) = {
    val n = footerBytes.length
    "PAR1".getBytes ++ body ++ footerBytes ++
      Array[Byte](n.toByte, (n >> 8).toByte, (n >> 16).toByte, (n >> 24).toByte) ++
      "PAR1".getBytes
  }

  /** A one-column (`c`, required `ptype`) parquet file whose row group 0
    * chunk is `pages`, the first at offset 4; `dictPage` is the length
    * of a leading dictionary page, 0 when there is none. */
  private def oneColumn(ptype: Type, pages: Array[Byte], dictPage: Int): Array[Byte] = {
    val meta = new ColumnMetaData(ptype, List(Encoding.PLAIN).asJava,
      List("c").asJava, CompressionCodec.UNCOMPRESSED, 1L, pages.length,
      pages.length, 4L + dictPage)
    if (dictPage > 0) meta.setDictionary_page_offset(4L)
    val chunk = new ColumnChunk(4L)
    chunk.setMeta_data(meta)
    val leaf = new SchemaElement("c")
    leaf.setType(ptype)
    leaf.setRepetition_type(FieldRepetitionType.REQUIRED)
    val root = new SchemaElement("schema")
    root.setNum_children(1)
    val fm = new FileMetaData(1, List(root, leaf).asJava, 1L,
      List(new RowGroup(List(chunk).asJava, pages.length, 1L)).asJava)
    val bos = new ByteArrayOutputStream()
    Util.writeFileMetaData(fm, bos)
    parquet(bos.toByteArray, pages)
  }

  private def page(ph: PageHeader, body: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    Util.writePageHeader(ph, bos)
    bos.toByteArray ++ body
  }

  private def dataPage(enc: Encoding, body: Array[Byte], values: Int = 1): Array[Byte] = {
    val ph = new PageHeader(PageType.DATA_PAGE, body.length, body.length)
    ph.setData_page_header(new DataPageHeader(values, enc, Encoding.RLE, Encoding.RLE))
    page(ph, body)
  }

  /** A PLAIN dictionary page declaring `entries` strings over `dict`,
    * then one RLE_DICTIONARY data page: `indexes` is the bit width and
    * the index runs. */
  private def dictionary(entries: Int, dict: String, indexes: String): Array[Byte] = {
    val d = un(dict)
    val dh = new PageHeader(PageType.DICTIONARY_PAGE, d.length, d.length)
    dh.setDictionary_page_header(new DictionaryPageHeader(entries, Encoding.PLAIN))
    val dp = page(dh, d)
    oneColumn(Type.BYTE_ARRAY, dp ++ dataPage(Encoding.RLE_DICTIONARY, un(indexes)),
      dp.length)
  }

  private def values(r: org.apache.spark.sql.catalyst.InternalRow): Seq[String] =
    r.getArray(5).toSeq[org.apache.spark.unsafe.types.UTF8String](
      org.apache.spark.sql.types.StringType).map(_.toString)

  test("Parquet: a declared schema list, DELTA value count or prefix, or " +
    "dictionary size or entry of 2^30 returns null without allocating it") {
    // FileMetaData: version 2, then a schema list of 2^30 structs
    // (header 0xfc, varint count) holding one empty element — 10 bytes
    val footer = parquet(un("1504" + "19" + "fc" + "8080808004" + "00"))
    // DELTA_BINARY_PACKED header: block 128, 4 miniblocks, `total`
    // values, first value 0
    def delta(total: String) = oneColumn(Type.INT64,
      dataPage(Encoding.DELTA_BINARY_PACKED, un("8001" + "04" + total + "00")), 0)
    // DELTA_BYTE_ARRAY "a" then (prefix `prefix` of it) + "b": prefix
    // lengths 0, `prefix` (first value 0, one block whose min delta is
    // `prefix`, four 0-bit miniblocks), suffix lengths 1, 1, suffixes
    def prefixed(prefix: String) = oneColumn(Type.BYTE_ARRAY,
      dataPage(Encoding.DELTA_BYTE_ARRAY, un("8001" + "04" + "02" + "00" + prefix +
        "00000000" + "8001" + "04" + "02" + "02" + "00" + "00000000" + "6162"), 2), 0)
    // one string "a" of a declared `length`; index bit width 1, a run of
    // one 0
    def entry(entries: Int, length: String) =
      dictionary(entries, length + "61", "010200")
    // the undoctored shapes decode, so each refusal below is the bound
    assert(values(ParquetPageValues.compute(delta("01"), "c", 16)) == Seq("0"))
    assert(values(ParquetPageValues.compute(prefixed("02"), "c", 16)) == Seq("a", "ab"))
    assert(values(ParquetPageValues.compute(entry(1, "01000000"), "c", 16)) == Seq("a"))
    val rows = Seq(
      ("parquet_meta", () => ParquetFooterMeta.compute(footer, 1 << 30)),
      ("parquet_column_stats", () => ParquetColumnStats.compute(footer, 1 << 30)),
      ("parquet_page_index", () => ParquetPageIndex.compute(footer, 1 << 30)),
      ("parquet_bloom_info", () => ParquetBloom.info(footer, 1 << 30)),
      ("parquet_page_values DELTA 2^30 values", () =>
        ParquetPageValues.compute(delta("8080808004"), "c", 16)),
      ("parquet_page_values DELTA_BYTE_ARRAY prefix 2^30", () =>
        ParquetPageValues.compute(prefixed("8080808008"), "c", 16)),
      ("parquet_page_values dictionary of 2^30", () =>
        ParquetPageValues.compute(entry(1 << 30, "01000000"), "c", 16)),
      ("parquet_page_values dictionary entry of 2^30 bytes", () =>
        ParquetPageValues.compute(entry(1, "00000040"), "c", 16)))
    for ((name, decode) <- rows) {
      val (r, bytes) = allocating(decode())
      assert(r == null, name)
      assert(bytes < (16L << 20), s"$name allocated $bytes bytes")
    }
  }

  test("Parquet: an empty index run returns null (the decoder would repeat " +
    "its value for every index after it)") {
    // dictionary "a", "b"; bit width 1, then the runs
    def twoEntries(runs: String) = dictionary(2, "0100000061" + "0100000062", "01" + runs)
    assert(values(ParquetPageValues.compute(twoEntries("0200"), "c", 16)) == Seq("a"))
    // an RLE run of no 1s, then a run of one 0
    assert(ParquetPageValues.compute(twoEntries("0001" + "0200"), "c", 16) == null)
  }

  /** ORC chunk framing of `blocks`, each raw-DEFLATEd (zlib), with its
    * 3-byte little-endian header `length << 1` (not original). */
  private def zlibChunks(blocks: Iterator[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 20)
    for (b <- blocks) {
      val d = new java.util.zip.Deflater(9, true)
      d.setInput(b); d.finish()
      val len = d.deflate(buf)
      assert(d.finished(), "chunk buffer too small")
      d.end()
      val h = len << 1
      out.write(Array[Byte](h.toByte, (h >> 8).toByte, (h >> 16).toByte))
      out.write(buf, 0, len)
    }
    out.toByteArray
  }

  /** An ORC file with no stripes: `footer` (already chunked) and a zlib
    * postscript declaring `blockSize`. */
  private def orc(footer: Array[Byte], blockSize: Long): Array[Byte] = {
    import org.apache.orc.OrcProto
    val ps = OrcProto.PostScript.newBuilder.setFooterLength(footer.length)
      .setCompression(OrcProto.CompressionKind.ZLIB)
      .setCompressionBlockSize(blockSize).setMagic("ORC").build.toByteArray
    "ORC".getBytes ++ footer ++ ps ++ Array(ps.length.toByte)
  }

  test("ORC: a compression block size of 2^31-1, or a footer that inflates " +
    "to 300 MiB, returns null from all five functions without allocating it") {
    import org.apache.orc.OrcProto
    val footer = OrcProto.Footer.newBuilder.addTypes(OrcProto.Type.newBuilder
        .setKind(OrcProto.Type.Kind.STRUCT).addSubtypes(1).addFieldNames("id"))
      .addTypes(OrcProto.Type.newBuilder.setKind(OrcProto.Type.Kind.LONG))
      .setNumberOfRows(0).build.toByteArray
    val block = 1 << 18
    // one unknown length-delimited field (number 100) of 300 MiB of zeros,
    // in 256 KiB chunks: about 0.3 MB of file
    val bombLen = 300 << 20
    val head = Array[Byte](0xa2.toByte, 0x06) ++ {
      val v = new ByteArrayOutputStream()
      var x = bombLen
      while (x >= 0x80) { v.write((x & 0x7f) | 0x80); x >>>= 7 }
      v.write(x); v.toByteArray
    }
    val zeros = new Array[Byte](block)
    val bomb = orc(zlibChunks(Iterator(head) ++
      Iterator.fill(bombLen / block)(zeros)), block)
    assert(bomb.length < (1 << 20), s"bomb is ${bomb.length} bytes")
    // the undoctored shape decodes, so each refusal below is the bound
    val ok = orc(zlibChunks(Iterator(footer)), block)
    val meta = OrcFooterMeta.compute(ok, 1 << 24)
    assert(meta != null && meta.getUTF8String(0).toString == "zlib" &&
      meta.getLong(2) == 0L)
    for ((name, file) <- Seq(
      "block size 2^31-1" -> orc(zlibChunks(Iterator(footer)), Int.MaxValue),
      "footer inflating to 300 MiB" -> bomb)) {
      val rows = Seq(
        ("orc_meta", () => OrcFooterMeta.compute(file, 1 << 24)),
        ("orc_stripes", () => OrcStripeStats.compute(file, 1 << 24)),
        ("orc_column_stats", () => OrcColumnStats.compute(file, 1 << 24)),
        ("orc_column_values", () => OrcColumnValues.compute(file, "id", 16)),
        ("orc_bloom_check", () => OrcBloom.check(file, "id", "1".getBytes)))
      for ((fn, decode) <- rows) {
        val (r, bytes) = allocating(decode())
        assert(r == null, s"$fn, $name")
        assert(bytes < (16L << 20), s"$fn, $name: allocated $bytes bytes")
      }
    }
  }
}
