package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException, InputStream}
import java.util.zip.{DataFormatException, Inflater}

import org.tukaani.xz.{ArrayCache, BasicArrayCache, LZMA2Options}

/** The one bounded decode behind every library-backed codec: drain a
  * decompressor into at most `maxOut` bytes, counted across every
  * frame/stream the decoder walks, and fail closed with null.
  *
  * [[apply]] drains a library `InputStream` — commons-compress
  * ([[Bunzip2]], [[LzwUncompress]], lz4 and snappy in [[FrameCodecs]]
  * and [[BlockCodecs]]), xz-java ([[XzPayload]], [[LzmaAlonePayload]])
  * and zstd-jni ([[ZstdPayload]]). [[inflate]] drains the JDK's
  * `Inflater` for every DEFLATE site (gzip, zlib, raw: Avro, ORC,
  * PDF, PNG, 7z, WOFF, ZIP). Both read at most `maxOut + 1` bytes, so
  * a bomb costs one byte past the cap before it is rejected — never
  * clipped. */
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

  /** True when `[off, off + len)` lies inside `bytes`. */
  def inRange(bytes: Array[Byte], off: Int, len: Int): Boolean =
    bytes != null && off >= 0 && len >= 0 && off <= bytes.length - len

  /** `len` bytes of `bytes` from `off` as a stream, for opening inside
    * [[apply]]: a range outside `bytes` is an `IOException`, so null. */
  def slice(bytes: Array[Byte], off: Int, len: Int): InputStream =
    if (!inRange(bytes, off, len))
      throw new IOException(s"range [$off, $off+$len) outside the payload")
    else new ByteArrayInputStream(bytes, off, len)

  /** Null on overflow, on any `IOException` (corrupt, truncated, bad
    * check, memory limit) and on any runtime exception the decoder
    * throws (an unchecked refusal of an option it does not support).
    * The stream is opened inside the guard, because the libraries read
    * and validate the header in their constructors. */
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

  /** One DEFLATE stream — raw when `nowrap`, else zlib-wrapped (its
    * Adler-32 verified) — from `len` bytes of `bytes` at `off`, into at
    * most `maxOut` bytes. Bytes after the stream's end are left to the
    * caller; sites that know the exact size compare the result's
    * length. Null on corrupt data, on a stream that asks for a preset
    * dictionary, on input that runs out before the stream ends, on
    * output past `maxOut` and on a range outside `bytes`. */
  def inflate(bytes: Array[Byte], off: Int, len: Int, nowrap: Boolean,
              maxOut: Int): Array[Byte] = {
    val r = inflateCounted(bytes, off, len, nowrap, maxOut)
    if (r == null) null else r._1
  }

  /** [[inflate]] and the count of input bytes the stream took — where
    * whatever follows it (a gzip member's trailer) starts. */
  def inflateCounted(bytes: Array[Byte], off: Int, len: Int,
                     nowrap: Boolean, maxOut: Int): (Array[Byte], Int) = {
    if (!inRange(bytes, off, len) || maxOut < 0) return null
    // one byte past the cap tells "exactly maxOut" from "more"
    val limit = math.min(maxOut.toLong + 1, Int.MaxValue - 8L)
    val inf = new Inflater(nowrap)
    try {
      inf.setInput(bytes, off, len)
      var out = new Array[Byte](math.min(limit, math.max(64L, len * 4L)).toInt)
      var total = 0
      while (!inf.finished()) {
        if (total == out.length) {
          if (total >= limit) return null
          out = java.util.Arrays.copyOf(out,
            math.min(limit, out.length * 2L).toInt)
        }
        val got = inf.inflate(out, total, out.length - total)
        // with room to write, no progress means the input ran out or
        // the stream needs a dictionary
        if (got == 0 && !inf.finished()) return null
        total += got
      }
      if (total > maxOut) null
      else (java.util.Arrays.copyOf(out, total), inf.getBytesRead.toInt)
    } catch {
      case _: DataFormatException => null
    } finally inf.end()
  }
}
