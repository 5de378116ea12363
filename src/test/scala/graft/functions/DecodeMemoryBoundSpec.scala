package graft.functions

import java.io.ByteArrayOutputStream

import org.scalatest.funsuite.AnyFunSuite
import org.tukaani.xz.{LZMA2Options, LZMAOutputStream, XZOutputStream}

/** The decoders' memory is gated by the call's `maxOut`, not by what a
  * stream declares: a dictionary or window above the cap is refused
  * before anything that size is allocated. */
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
}
