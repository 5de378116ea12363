package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException, InputStream}

import org.tukaani.xz.{ArrayCache, BasicArrayCache, LZMA2Options}

/** The one bounded decode behind the library-backed codec shells
  * ([[XzPayload]], [[LzmaAlonePayload]], [[Bunzip2]], [[LzwUncompress]]):
  * drain a library decompressor into at most `maxOut` bytes, counted
  * across every frame/stream the decoder walks. Reads at most `maxOut + 1` bytes, so a bomb costs one byte
  * past the cap before it is rejected — never clipped.
  *
  * Null on overflow, on any `IOException` (corrupt, truncated, bad
  * check, memory limit) and on any runtime exception the decoder
  * throws (an unchecked refusal of an option it does not support).
  * The stream is opened inside the guard, because the libraries read
  * and validate the header in their constructors. */
private[functions] object BoundedDecode {

  /** Decoder memory for an `xz -9` stream (64 MiB dictionary), in KiB
    * — the floor of every xz/LZMA memory limit. */
  private val Xz9MemoryKiB: Int = new LZMA2Options(9).getDecoderMemoryUsage

  /** xz-java memory limit (KiB) for a call capped at `maxOut`: what
    * `xz -9` needs, or `maxOut` when that is larger. A stream that
    * declares a bigger dictionary is refused before it allocates. */
  def xzMemoryLimitKiB(maxOut: Int): Int =
    math.max(Xz9MemoryKiB, (maxOut >>> 10) + 1)

  /** xz-java's dictionary buffers, reused across rows: a stock `xz -6`
    * stream declares an 8 MiB dictionary even for a 16-byte payload,
    * and a fresh zeroed buffer per row costs ~10x the decode. */
  val xzArrays: ArrayCache = BasicArrayCache.getInstance

  /** `len` bytes of `bytes` from `off` as a stream, for opening inside
    * [[apply]]: a range outside `bytes` is an `IOException`, so null. */
  def slice(bytes: Array[Byte], off: Int, len: Int): InputStream =
    if (bytes == null || off < 0 || len < 0 || off > bytes.length - len)
      throw new IOException(s"range [$off, $off+$len) outside the payload")
    else new ByteArrayInputStream(bytes, off, len)

  def apply(maxOut: Int)(open: => InputStream): Array[Byte] = {
    var in: InputStream = null
    try {
      in = open
      val out = new ByteArrayOutputStream(math.max(0, math.min(maxOut, 1 << 16)))
      val buf = new Array[Byte](1 << 13)
      val limit = maxOut.toLong + 1
      var total = 0L
      var n = 0
      while (n >= 0 && total < limit) {
        n = in.read(buf, 0, math.min(buf.length.toLong, limit - total).toInt)
        if (n > 0) { out.write(buf, 0, n); total += n }
      }
      if (total > maxOut) null else out.toByteArray
    } catch {
      case _: IOException | _: RuntimeException => null
    } finally {
      if (in != null) try in.close() catch { case _: IOException => () }
    }
  }
}
