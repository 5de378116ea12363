package graft.functions

import java.io.ByteArrayInputStream

import org.apache.commons.compress.compressors.lz4.BlockLZ4CompressorInputStream
import org.apache.commons.compress.compressors.snappy.SnappyCompressorInputStream

/** Raw-block decoders for the two LZ77-family codecs lake formats
  * default to — Snappy and LZ4 (block format, not the frame) — through
  * commons-compress (`SnappyCompressorInputStream`,
  * `BlockLZ4CompressorInputStream`, on Spark's classpath) behind
  * [[BoundedDecode]]. Both are FAIL-CLOSED: any malformed tag,
  * out-of-range copy offset, truncated input, input left over after the
  * block, or output past the cap returns null rather than partial
  * bytes. LZ4 sequences are walked first ([[lz4Length]]) for the two
  * shapes the library accepts: a stray trailing byte and a match offset
  * before the start of the output. Used by [[AvroRecordsJson]] and
  * [[ParquetPageValues]]; standalone use follows the same contract. */
object BlockCodecs {

  /** Snappy's back-reference reach: the reference encoder matches
    * within 64 KiB fragments, and the framing format caps chunks there. */
  private final val SnappyWindow = 1 << 16

  /** Decode `len` bytes at `off` with `open`, requiring the decoder to
    * take every one of them. */
  private def whole(bytes: Array[Byte], off: Int, len: Int, maxOut: Int)(
      open: ByteArrayInputStream => java.io.InputStream): Array[Byte] =
    if (!BoundedDecode.inRange(bytes, off, len)) null
    else {
      val src = new ByteArrayInputStream(bytes, off, len)
      val out = BoundedDecode(maxOut)(open(src))
      if (src.available() != 0) null else out
    }

  /** Snappy raw block: a varint uncompressed length, then the tag
    * stream, which must produce exactly that length. */
  def snappy(bytes: Array[Byte], off: Int, len: Int,
             maxOut: Int): Array[Byte] =
    whole(bytes, off, len, maxOut)(new SnappyCompressorInputStream(_, SnappyWindow))

  /** LZ4 block: sequences up to the end of the input, the last one
    * literals only. Output size is not encoded — the caller caps it. */
  def lz4(bytes: Array[Byte], off: Int, len: Int,
          maxOut: Int): Array[Byte] =
    if (!BoundedDecode.inRange(bytes, off, len) ||
      lz4Length(bytes, off, off + len, 0) < 0) null
    else whole(bytes, off, len, maxOut)(new BlockLZ4CompressorInputStream(_))

  /** The number of bytes the LZ4 block sequences in `[off, end)` decode
    * to, walked without copying, or -1 when a sequence is cut off, a
    * byte is left after the final literals, or a match offset is 0 or
    * reaches before the `history` bytes of output that precede the block
    * (earlier blocks of a block-dependent frame). commons-compress checks
    * neither: it reads a lone trailing byte as the end of the block, and
    * copies zeros from its pre-filled window for an offset that reaches
    * too far. */
  private[functions] def lz4Length(b: Array[Byte], off: Int, end: Int,
                                   history: Long): Long = {
    var p = off.toLong
    var out = 0L
    // a 4-bit length of 15 continues in bytes until one is not 255
    def extended(nibble: Int): Long = {
      var n = nibble.toLong
      var x = if (nibble == 15) 255 else 0
      while (x == 255) {
        if (p >= end) return -1
        x = b(p.toInt) & 0xff
        n += x
        p += 1
      }
      n
    }
    while (p < end) {
      val token = b(p.toInt) & 0xff
      p += 1
      val lit = extended(token >>> 4)
      if (lit < 0) return -1
      p += lit
      out += lit
      if (p > end || p == end - 1) return -1
      if (p < end) {
        val offset = (b(p.toInt) & 0xff) | ((b(p.toInt + 1) & 0xff) << 8)
        p += 2
        if (offset == 0 || offset > out + history) return -1
        val m = extended(token & 15)
        if (m < 0) return -1
        out += m + 4
      }
    }
    out
  }
}
