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
  * bytes. Used by [[OrcFooterMeta]] (one raw block per ORC chunk),
  * [[AvroRecordsJson]] and [[ParquetPageValues]]; standalone use
  * follows the same contract. */
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
    whole(bytes, off, len, maxOut)(new BlockLZ4CompressorInputStream(_))
}
