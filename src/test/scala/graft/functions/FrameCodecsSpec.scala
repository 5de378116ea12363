package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** `.lz4` and `.sz` frame decoding against the REAL libraries' output
  * (lz4-java's LZ4FrameOutputStream, snappy-java's framed stream),
  * a hand-framed block-DEPENDENT lz4 frame, and the fail-closed
  * surface: every checksum verified, dictionary frames refused. */
class FrameCodecsSpec extends SparkSpec {
  import spark.implicits._

  private val text = ("the quick brown fox jumps over the lazy dog — " +
    "padding pad pad ") * 3000 // ~200 KB: multiple 64 KB blocks

  /** The lz4 frame header checksum byte: bits 8..15 of xxh32 (seed 0)
    * over the descriptor bytes. */
  private def headerCheck(desc: Array[Byte]): Byte = {
    val h = new org.apache.commons.codec.digest.XXHash32(0)
    h.update(desc, 0, desc.length)
    ((h.getValue >>> 8) & 0xff).toByte
  }

  private val lz4Magic = Array[Byte](0x04, 0x22, 0x4d, 0x18)

  test("lz4 frame: real LZ4FrameOutputStream output round-trips — " +
    "multi-block, content checksum verified; concatenated frames") {
    import net.jpountz.lz4.LZ4FrameOutputStream
    val bos = new ByteArrayOutputStream()
    val w = new LZ4FrameOutputStream(bos)
    w.write(text.getBytes("UTF-8")); w.close()
    val framed = bos.toByteArray
    val got = FrameCodecs.lz4Frame(framed, 1 << 26)
    assert(got != null && new String(got, "UTF-8") == text)
    // concatenated frames decode as concatenated content
    val two = framed ++ framed
    assert(new String(FrameCodecs.lz4Frame(two, 1 << 26), "UTF-8")
      == text + text)
  }

  test("lz4 frame: hand-framed block-DEPENDENT frame — a match in " +
    "block 2 reaches back into block 1's decoded output") {
    val hdr = Array[Byte](0x40, 0x40) // FLG: v01, dependent; BD: 64KB
    val hc = headerCheck(hdr)
    val frame = Array[Byte](0x04, 0x22, 0x4d, 0x18) ++ hdr ++ Array(hc) ++
      Array[Byte](0x08, 0x00, 0x00, 0x80.toByte) ++ // raw block, 8 bytes
      "abcdefgh".getBytes ++
      Array[Byte](0x05, 0x00, 0x00, 0x00) ++ // compressed block, 5 bytes
      Array[Byte](0x04, 0x08, 0x00, 0x10, 'z'.toByte) ++
      Array[Byte](0, 0, 0, 0) // EndMark
    val got = FrameCodecs.lz4Frame(frame, 1 << 20)
    assert(got != null && new String(got) == "abcdefgh" + "abcdefgh" + "z")
  }

  test("lz4: a match offset before the start of the frame, or a byte " +
    "left after a block's final literals, returns null") {
    // the dependent frame above, its second block's match offset set to
    // `offset`, with FLG `flg` (0x40 dependent, 0x60 independent blocks)
    def frame(flg: Int, offset: Int): Array[Byte] = {
      val hdr = Array[Byte](flg.toByte, 0x40)
      lz4Magic ++ hdr ++ Array(headerCheck(hdr)) ++
        Array[Byte](0x08, 0x00, 0x00, 0x80.toByte) ++ "abcdefgh".getBytes ++
        Array[Byte](0x05, 0x00, 0x00, 0x00) ++
        Array[Byte](0x04, offset.toByte, 0x00, 0x10, 'z'.toByte) ++
        Array[Byte](0, 0, 0, 0)
    }
    assert(new String(FrameCodecs.lz4Frame(frame(0x40, 8), 1 << 20)) ==
      "abcdefghabcdefghz")
    // one byte before the frame start; offset 0; no history when the
    // blocks are independent
    assert(FrameCodecs.lz4Frame(frame(0x40, 9), 1 << 20) == null)
    assert(FrameCodecs.lz4Frame(frame(0x40, 0), 1 << 20) == null)
    assert(FrameCodecs.lz4Frame(frame(0x60, 8), 1 << 20) == null)
    // raw blocks: "a" decodes; a token with no literals and one stray
    // byte does not, nor does a byte after the final literals
    def un(h: String) = h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    assert(new String(BlockCodecs.lz4(un("1061"), 0, 2, 1 << 20)) == "a")
    assert(BlockCodecs.lz4(un("0061"), 0, 2, 1 << 20) == null)
    assert(BlockCodecs.lz4(un("106161"), 0, 3, 1 << 20) == null)
    // a match reaching before the block start
    assert(BlockCodecs.lz4(un("1461020010"), 0, 5, 1 << 20) == null)
    assert(new String(BlockCodecs.lz4(un("10610100107a"), 0, 6, 1 << 20)) ==
      "aaaaaz")
  }

  test("lz4 frame: the DictID flag is refused on purpose, in every " +
    "frame, not through a misread header checksum") {
    // one stored block "abc" (high bit set on its length) and the EndMark
    val body = Array[Byte](0x03, 0x00, 0x00, 0x80.toByte) ++ "abc".getBytes ++
      Array[Byte](0, 0, 0, 0)
    val plain = Array[Byte](0x40, 0x40) // version 01, 64 KB blocks
    val ok = lz4Magic ++ plain ++ Array(headerCheck(plain)) ++ body
    assert(new String(FrameCodecs.lz4Frame(ok, 1 << 20)) == "abc")
    // DictID bit set, and the checksum of the 2-byte descriptor right
    // after BD — where a decoder that ignores DictID looks for it, so
    // such a decoder (commons-compress) reads this frame as "abc"
    val withId = Array[Byte](0x41, 0x40)
    val dict = lz4Magic ++ withId ++ Array(headerCheck(withId)) ++ body
    val lib = new org.apache.commons.compress.compressors.lz4
      .FramedLZ4CompressorInputStream(new java.io.ByteArrayInputStream(dict))
    assert(new String(lib.readAllBytes()) == "abc")
    assert(FrameCodecs.lz4Frame(dict, 1 << 20) == null)
    // the flag is checked on a later concatenated frame too
    assert(FrameCodecs.lz4Frame(ok ++ dict, 1 << 20) == null)
  }

  test("snappy framing format: real snappy-java framed output " +
    "round-trips; every chunk CRC verified") {
    import org.xerial.snappy.SnappyFramedOutputStream
    val bos = new ByteArrayOutputStream()
    val w = new SnappyFramedOutputStream(bos)
    w.write(text.getBytes("UTF-8")); w.close()
    val framed = bos.toByteArray
    val got = FrameCodecs.snappyFrame(framed, 1 << 26)
    assert(got != null && new String(got, "UTF-8") == text)
  }

  test("frame decoders fail closed: checksum flips, truncation at " +
    "every cut, DictID refusal, reserved snappy chunk") {
    import net.jpountz.lz4.LZ4FrameOutputStream
    import org.xerial.snappy.SnappyFramedOutputStream
    val bos = new ByteArrayOutputStream()
    // content checksum ON (lz4-java's default frame carries none — a
    // payload flip there decodes to silently different bytes, which
    // is the FORMAT's contract, not a decoder gap)
    val w = new LZ4FrameOutputStream(bos,
      LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB, -1L,
      LZ4FrameOutputStream.FLG.Bits.BLOCK_INDEPENDENCE,
      LZ4FrameOutputStream.FLG.Bits.CONTENT_CHECKSUM)
    w.write(text.getBytes("UTF-8")); w.close()
    val lz = bos.toByteArray
    // sanity: the checksummed frame round-trips, then a payload flip
    // must refuse
    assert(new String(FrameCodecs.lz4Frame(lz, 1 << 26), "UTF-8") == text)
    val flip = lz.clone()
    flip(lz.length / 2) = (flip(lz.length / 2) ^ 1).toByte
    assert(FrameCodecs.lz4Frame(flip, 1 << 26) == null)
    for (cut <- Seq(3, 6, 10, lz.length / 2, lz.length - 1))
      assert(FrameCodecs.lz4Frame(lz.take(cut), 1 << 26) == null,
        s"cut $cut")
    // DictID flag refused even with a VALID header checksum
    val hdr = Array[Byte](0x41, 0x40) // version 01 + DictID bit
    val hc = headerCheck(hdr)
    val dict = Array[Byte](0x04, 0x22, 0x4d, 0x18) ++ hdr ++
      Array[Byte](1, 2, 3, 4) ++ Array(hc) ++ Array[Byte](0, 0, 0, 0)
    assert(FrameCodecs.lz4Frame(dict, 1 << 20) == null)
    val sb = new ByteArrayOutputStream()
    val sw = new SnappyFramedOutputStream(sb)
    sw.write(text.getBytes("UTF-8")); sw.close()
    val sz = sb.toByteArray
    // deterministic flips: byte 14 = first chunk's CRC field, byte 20
    // = inside its snappy data (10 stream id + 4 chunk header + 4 CRC)
    for (at <- Seq(14, 20)) {
      val sflip = sz.clone()
      sflip(at) = (sflip(at) ^ 1).toByte
      assert(FrameCodecs.snappyFrame(sflip, 1 << 26) == null, s"flip $at")
    }
    for (cut <- Seq(5, 9, 14, sz.length - 1))
      assert(FrameCodecs.snappyFrame(sz.take(cut), 1 << 26) == null)
    // an unskippable reserved chunk type refuses
    val reserved = sz ++ Array[Byte](0x02, 0x01, 0x00, 0x00, 0x00)
    assert(FrameCodecs.snappyFrame(reserved, 1 << 26) == null)
    // concatenated .sz streams: the repeated stream identifier is
    // validated and skipped, contents concatenate (framing spec says
    // the identifier may appear multiple times)
    val cat = sz ++ sz
    assert(new String(FrameCodecs.snappyFrame(cat, 1 << 26), "UTF-8") ==
      text + text)
    // a mid-stream identifier with a corrupted magic payload refuses
    val badId = sz ++ Array[Byte](0xff.toByte, 6, 0, 0,
      's', 'N', 'a', 'P', 'p', 'X')
    assert(FrameCodecs.snappyFrame(badId, 1 << 26) == null)
    // wrong length on a mid-stream identifier refuses
    val badLen = sz ++ Array[Byte](0xff.toByte, 5, 0, 0,
      's', 'N', 'a', 'P', 'p')
    assert(FrameCodecs.snappyFrame(badLen, 1 << 26) == null)
  }

  test("tar wrapper matrix: .tar.zst/.tar.bz2/.tar.lz4/.tar.sz all " +
    "list the same entries via real compressor outputs") {
    // a minimal POSIX tar: one 512-byte header + one data block
    def octal(v: Long, len: Int): Array[Byte] =
      (("%0" + (len - 1) + "o").format(v) + "\u0000").getBytes("US-ASCII")
    val name = "hello.txt".getBytes("US-ASCII")
    val hdr = new Array[Byte](512)
    System.arraycopy(name, 0, hdr, 0, name.length)
    System.arraycopy(octal(420, 8), 0, hdr, 100, 8) // mode
    System.arraycopy(octal(0, 8), 0, hdr, 108, 8)
    System.arraycopy(octal(0, 8), 0, hdr, 116, 8)
    System.arraycopy(octal(5, 12), 0, hdr, 124, 12) // size
    System.arraycopy(octal(0, 12), 0, hdr, 136, 12)
    hdr(156) = '0' // typeflag
    System.arraycopy("ustar\u0000".getBytes, 0, hdr, 257, 6)
    System.arraycopy("00".getBytes, 0, hdr, 263, 2)
    java.util.Arrays.fill(hdr, 148, 156, ' '.toByte)
    var sum = 0
    hdr.foreach(b => sum += b & 0xff)
    System.arraycopy(octal(sum, 7), 0, hdr, 148, 7)
    hdr(155) = ' '
    val data = new Array[Byte](512)
    System.arraycopy("hello".getBytes, 0, data, 0, 5)
    val tar = hdr ++ data ++ new Array[Byte](1024) // end blocks
    def zst(b: Array[Byte]) = com.github.luben.zstd.Zstd.compress(b)
    def bz2(b: Array[Byte]) = {
      val bos = new ByteArrayOutputStream()
      val w = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorOutputStream(bos)
      w.write(b); w.close(); bos.toByteArray
    }
    def lz4(b: Array[Byte]) = {
      val bos = new ByteArrayOutputStream()
      val w = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
      w.write(b); w.close(); bos.toByteArray
    }
    def sz(b: Array[Byte]) = {
      val bos = new ByteArrayOutputStream()
      val w = new org.xerial.snappy.SnappyFramedOutputStream(bos)
      w.write(b); w.close(); bos.toByteArray
    }
    val M = graft.ext.Multimodal
    for ((kind, df) <- Seq(
      "zst" -> M.tarZstList(Seq((1L, zst(tar))).toDF("doc_id", "payload")),
      "bz2" -> M.tarBz2List(Seq((1L, bz2(tar))).toDF("doc_id", "payload")),
      "lz4" -> M.tarLz4List(Seq((1L, lz4(tar))).toDF("doc_id", "payload")),
      "sz" -> M.tarSzList(Seq((1L, sz(tar))).toDF("doc_id", "payload")))) {
      val rows = df.collect()
      assert(rows.length == 1 && rows(0).getString(2) == "hello.txt" &&
        rows(0).getLong(4) == 5L, s"tar.$kind")
    }
    // corrupt wrappers contribute no rows
    assert(M.tarZstList(Seq((1L, "junk".getBytes))
      .toDF("doc_id", "payload")).count() == 0)
  }

  test("documentText routes lz4 and snappy wrappers") {
    import net.jpountz.lz4.LZ4FrameOutputStream
    import org.xerial.snappy.SnappyFramedOutputStream
    val b1 = new ByteArrayOutputStream()
    val w1 = new LZ4FrameOutputStream(b1)
    w1.write("lz4 wrapped text".getBytes("UTF-8")); w1.close()
    val b2 = new ByteArrayOutputStream()
    val w2 = new SnappyFramedOutputStream(b2)
    w2.write("snappy wrapped text".getBytes("UTF-8")); w2.close()
    // kernel-level first: localize any failure to the kernel vs the
    // dispatcher
    val k1 = FrameCodecs.lz4Frame(b1.toByteArray, 1 << 20)
    assert(k1 != null && new String(k1, "UTF-8") == "lz4 wrapped text",
      s"lz4 kernel: ${if (k1 == null) "null" else new String(k1, "UTF-8")}")
    val k2 = FrameCodecs.snappyFrame(b2.toByteArray, 1 << 20)
    assert(k2 != null && new String(k2, "UTF-8") == "snappy wrapped text",
      s"snappy kernel: ${if (k2 == null) "null" else new String(k2, "UTF-8")}")
    val fmts = Seq((1L, b1.toByteArray), (2L, b2.toByteArray))
      .toDF("doc_id", "payload")
      .select(col("doc_id"),
        graft.ext.Multimodal.sniffFormat(col("payload")).as("f"))
      .orderBy("doc_id").collect()
    assert(fmts.map(_.getString(1)).toSeq == Seq("lz4", "snappy"),
      fmts.map(_.getString(1)).mkString(","))
    val dt = graft.ext.Multimodal.documentText(
      Seq((1L, b1.toByteArray), (2L, b2.toByteArray))
        .toDF("doc_id", "payload")).orderBy("doc_id").collect()
    assert(dt(0).getString(1) == "lz4" &&
      dt(0).getString(2) == "lz4 wrapped text")
    assert(dt(1).getString(1) == "snappy" &&
      dt(1).getString(2) == "snappy wrapped text")
  }
}
