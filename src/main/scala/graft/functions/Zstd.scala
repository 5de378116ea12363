package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Bounded zstd (RFC 8878) decompression — the de-facto interchange
  * codec of public LLM corpora (`.jsonl.zst`) and the modern default
  * for parquet/ORC writers; the JDK has no zstd, so this is a
  * from-the-format kernel (the reference's `CopyUtils.java` copies
  * rows, not archives — no counterpart). It stays hand-written
  * although zstd-jni is on Spark's classpath: libzstd refuses a
  * compressed block larger than the frame's Block_Maximum_Size
  * (min(Window_Size, 128 KiB), RFC 8878 §3.1.1.2.3), which the
  * hand-built direct-Huffman-weights frame in `ZstdSpec` has.
  *
  * Scope: the NO-DICTIONARY subset — every frame a real encoder emits
  * without `--train`: frame header (window descriptor, single-segment,
  * content size, checksum flag), raw / RLE / compressed blocks;
  * compressed blocks in full — literals raw/RLE/Huffman (direct or
  * FSE-compressed weights, 1-stream and 4-stream with jump table,
  * treeless repeat), the FSE-coded sequence section (predefined /
  * RLE / FSE-compressed / repeat modes for literals-length, offset
  * and match-length codes), the three-slot repeat-offset history with
  * its literals-length-zero twist, and overlapping match copy.
  * Content checksums are VERIFIED (xxh64 low 32 bits, implemented
  * from the public spec). Concatenated frames decode back-to-back and
  * skippable frames are skipped — the multi-frame shapes `zstdmt` and
  * seekable writers emit. A nonzero dictionary id fails closed (this
  * kernel never guesses content).
  *
  * FAIL-CLOSED NULL on every malformed shape: bad magic, reserved
  * bits/block type, dictionary reference, FSE table corruption
  * (probabilities not summing to the table, accuracy log past the
  * per-table cap), Huffman weight overflow, a bitstream not consumed
  * exactly, offsets past the decoded window, a window descriptor
  * above `2^max(27, ceil(log2 maxOut))` (libzstd's default window
  * cap, raised for larger caps), regenerated size
  * disagreeing with the declared content size, checksum mismatch,
  * output past `maxOut` (decompression-bomb guard, AGGREGATE across
  * frames — rejected, never clipped), truncation anywhere, trailing
  * garbage. Per-row bounded work, zero shuffle, codegen'd. */
case class ZstdPayload(child: Expression, maxOut: Int)
    extends UnaryExpression {
  require(maxOut > 0, "output cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"zstd_payload expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    ZstdPayload.compute(a.asInstanceOf[Array[Byte]], maxOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ZstdPayload.compute($c, $maxOut);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "zstd_payload"
}

object ZstdPayload {

  private object Bad extends Exception with scala.util.control.NoStackTrace

  // ---------------------------------------------------------------
  // bit readers
  // ---------------------------------------------------------------

  /** Forward little-endian bit reader — FSE table descriptions are the
    * only forward bitstreams in the format. */
  private final class FwdBits(buf: Array[Byte], start: Int, end: Int) {
    private var bitPos = 0
    def read(n: Int): Int = {
      var v = 0
      var k = 0
      while (k < n) {
        val p = bitPos + k
        val bi = start + (p >>> 3)
        if (bi >= end) throw Bad
        v |= ((buf(bi) >>> (p & 7)) & 1) << k
        k += 1
      }
      bitPos += n
      v
    }
    def rewind(n: Int): Unit = { bitPos -= n; if (bitPos < 0) throw Bad }
    def bytesConsumed: Int = (bitPos + 7) >>> 3
  }

  /** Backward bit reader — Huffman and FSE payload bitstreams are
    * written back-to-front with a 1-bit sentinel in the last byte.
    * `pos` counts valid bits remaining; padded reads zero-fill past
    * the start (the format's end-of-stream convention) and may drive
    * `pos` negative, which callers use as the termination signal. */
  private final class BackBits(buf: Array[Byte], start: Int, end: Int) {
    if (end <= start) throw Bad
    var pos: Int = {
      val last = buf(end - 1) & 0xff
      if (last == 0) throw Bad // missing sentinel bit
      (end - start - 1) * 8 + (31 - Integer.numberOfLeadingZeros(last))
    }
    private def bit(p: Int): Int = (buf(start + (p >>> 3)) >>> (p & 7)) & 1
    /** strict read: the stream must hold all `n` bits. */
    def read(n: Int): Int = {
      if (n == 0) return 0
      if (pos < n) throw Bad
      pos -= n
      var v = 0
      var k = n - 1
      while (k >= 0) { v = (v << 1) | bit(pos + k); k -= 1 }
      v
    }
    /** padded read: zero-fills below the stream start (pos may go
      * negative) — Huffman/weight streams end this way by design. */
    def readPadded(n: Int): Int = {
      pos -= n
      var v = 0
      var k = n - 1
      while (k >= 0) {
        val p = pos + k
        v = (v << 1) | (if (p >= 0) bit(p) else 0)
        k -= 1
      }
      v
    }
  }

  // ---------------------------------------------------------------
  // FSE
  // ---------------------------------------------------------------

  private final class FseT(val log: Int, val symbol: Array[Int],
                           val nbBits: Array[Int], val newState: Array[Int])

  /** RLE mode as a degenerate 1-entry table (accuracy log 0). */
  private def fseRle(sym: Int): FseT =
    new FseT(0, Array(sym), Array(0), Array(0))

  /** Read a normalized-count table description (forward bitstream,
    * byte-aligned at the end). Returns (frequencies, accuracyLog,
    * bytesConsumed). `-1` marks the "less than 1" probability. */
  private def fseReadHeader(buf: Array[Byte], off: Int, end: Int,
                            maxSym: Int, maxLog: Int): (Array[Int], Int, Int) = {
    val in = new FwdBits(buf, off, end)
    val log = in.read(4) + 5
    if (log > maxLog) throw Bad
    var remaining = 1 << log
    val freq = new Array[Int](maxSym + 1)
    var s = 0
    while (remaining > 0) {
      if (s > maxSym) throw Bad
      val bits = (31 - Integer.numberOfLeadingZeros(remaining + 1)) + 1
      var v = in.read(bits)
      val lowerMask = (1 << (bits - 1)) - 1
      val threshold = (1 << bits) - 1 - (remaining + 1)
      if ((v & lowerMask) < threshold) { in.rewind(1); v &= lowerMask }
      else if (v > lowerMask) v -= threshold
      val proba = v - 1
      if (proba > remaining) throw Bad
      freq(s) = proba
      remaining -= (if (proba < 0) 1 else proba)
      s += 1
      if (proba == 0) {
        var rep = in.read(2)
        while (rep == 3) {
          s += 3
          if (s > maxSym + 1) throw Bad
          rep = in.read(2)
        }
        s += rep
      }
    }
    if (remaining != 0 || s > maxSym + 1) throw Bad
    (freq, log, in.bytesConsumed)
  }

  /** Build the decode table from normalized frequencies: low-prob
    * (-1) symbols one cell each at the top descending, the rest
    * spread with the standard (size/2 + size/8 + 3) step. */
  private def fseBuild(freq: Array[Int], log: Int): FseT = {
    val size = 1 << log
    val sym = new Array[Int](size)
    var highThreshold = size - 1
    var cells = 0
    var s = 0
    while (s < freq.length) {
      if (freq(s) == -1) { sym(highThreshold) = s; highThreshold -= 1; cells += 1 }
      else { if (freq(s) < 0) throw Bad; cells += freq(s) }
      s += 1
    }
    if (cells != size) throw Bad
    val step = (size >>> 1) + (size >>> 3) + 3
    val mask = size - 1
    var pos = 0
    s = 0
    while (s < freq.length) {
      var i = 0
      while (i < freq(s)) {
        sym(pos) = s
        pos = (pos + step) & mask
        while (pos > highThreshold) pos = (pos + step) & mask
        i += 1
      }
      s += 1
    }
    if (pos != 0) throw Bad
    val symbolNext = new Array[Int](freq.length)
    s = 0
    while (s < freq.length) {
      symbolNext(s) = if (freq(s) == -1) 1 else freq(s)
      s += 1
    }
    val nb = new Array[Int](size)
    val ns = new Array[Int](size)
    var u = 0
    while (u < size) {
      val sm = sym(u)
      val nextState = symbolNext(sm)
      symbolNext(sm) += 1
      val nbB = log - (31 - Integer.numberOfLeadingZeros(nextState))
      if (nbB < 0 || nbB > log) throw Bad
      nb(u) = nbB
      ns(u) = (nextState << nbB) - size
      if (ns(u) < 0 || ns(u) >= size) throw Bad
      u += 1
    }
    new FseT(log, sym, nb, ns)
  }

  // ---------------------------------------------------------------
  // Huffman (literals)
  // ---------------------------------------------------------------

  private final class HufT(val maxBits: Int, val symbol: Array[Int],
                           val nbBits: Array[Int])

  /** Weights (last one implied) → canonical decode table: weight-w
    * symbols occupy 2^(w-1) consecutive cells, lowest weights first,
    * natural symbol order within a weight. */
  private def hufBuild(weights: Array[Int], numSyms: Int): HufT = {
    if (numSyms < 2 || numSyms > 256) throw Bad
    var total = 0L
    var i = 0
    while (i < numSyms - 1) {
      val w = weights(i)
      if (w < 0 || w > 11) throw Bad
      if (w > 0) total += 1L << (w - 1)
      i += 1
    }
    if (total == 0) throw Bad
    val maxBits = 64 - java.lang.Long.numberOfLeadingZeros(total)
    if (maxBits > 11) throw Bad
    val left = (1L << maxBits) - total
    // the implied last weight must complete an exact power of two
    if (left <= 0 || (left & (left - 1)) != 0) throw Bad
    weights(numSyms - 1) =
      java.lang.Long.numberOfTrailingZeros(left).toInt + 1
    val size = 1 << maxBits.toInt
    val sym = new Array[Int](size)
    val nb = new Array[Int](size)
    val rankIdx = new Array[Int](13)
    val rankCount = new Array[Int](13)
    i = 0
    while (i < numSyms) {
      if (weights(i) > 0) rankCount(weights(i)) += 1
      i += 1
    }
    var acc = 0
    var w = 1
    while (w <= 12) {
      rankIdx(w) = acc
      if (w <= 11) acc += rankCount(w) << (w - 1)
      w += 1
    }
    if (acc != size) throw Bad
    i = 0
    while (i < numSyms) {
      val wi = weights(i)
      if (wi > 0) {
        val len = 1 << (wi - 1)
        var base = rankIdx(wi)
        rankIdx(wi) += len
        val bitsI = maxBits.toInt + 1 - wi
        var j = 0
        while (j < len) { sym(base + j) = i; nb(base + j) = bitsI; j += 1 }
      }
      i += 1
    }
    new HufT(maxBits.toInt, sym, nb)
  }

  /** Huffman tree description: direct 4-bit weights (header ≥ 128) or
    * FSE-compressed weights decoded with two interleaved states.
    * Returns (table, bytes consumed). */
  private def readHufTable(buf: Array[Byte], off: Int, end: Int): (HufT, Int) = {
    if (off >= end) throw Bad
    val hByte = buf(off) & 0xff
    if (hByte >= 128) {
      val numWeights = hByte - 127
      val nBytes = (numWeights + 1) / 2
      if (off + 1 + nBytes > end) throw Bad
      val weights = new Array[Int](numWeights + 1)
      var i = 0
      while (i < numWeights) {
        val b = buf(off + 1 + (i >> 1)) & 0xff
        weights(i) = if ((i & 1) == 0) b >>> 4 else b & 15
        i += 1
      }
      (hufBuild(weights, numWeights + 1), 1 + nBytes)
    } else {
      val csize = hByte
      if (csize == 0 || off + 1 + csize > end) throw Bad
      val (freq, log, hdrBytes) =
        fseReadHeader(buf, off + 1, off + 1 + csize, 255, 6)
      val t = fseBuild(freq, log)
      if (hdrBytes >= csize) throw Bad
      val bits = new BackBits(buf, off + 1 + hdrBytes, off + 1 + csize)
      val weights = new Array[Int](256)
      var n = 0
      var st1 = bits.readPadded(log)
      var st2 = bits.readPadded(log)
      def put(wv: Int): Unit = {
        if (n > 254) throw Bad
        weights(n) = wv
        n += 1
      }
      var looping = true
      while (looping) {
        put(t.symbol(st1))
        st1 = t.newState(st1) + bits.readPadded(t.nbBits(st1))
        if (bits.pos < 0) { put(t.symbol(st2)); looping = false }
        else {
          put(t.symbol(st2))
          st2 = t.newState(st2) + bits.readPadded(t.nbBits(st2))
          if (bits.pos < 0) { put(t.symbol(st1)); looping = false }
        }
      }
      (hufBuild(weights, n + 1), 1 + csize)
    }
  }

  /** Decode ONE Huffman stream to exactly `expect` literals. */
  private def hufDecodeStream(t: HufT, buf: Array[Byte], start: Int, end: Int,
                              out: Array[Byte], outOff: Int, expect: Int): Unit = {
    val bits = new BackBits(buf, start, end)
    val mask = (1 << t.maxBits) - 1
    var state = bits.readPadded(t.maxBits)
    var n = 0
    while (bits.pos > -t.maxBits) {
      if (n >= expect) throw Bad
      out(outOff + n) = t.symbol(state).toByte
      n += 1
      val nb = t.nbBits(state)
      state = ((state << nb) | bits.readPadded(nb)) & mask
    }
    if (n != expect) throw Bad
  }

  // ---------------------------------------------------------------
  // sequence code tables (RFC 8878 §3.1.1.3.2.1.1)
  // ---------------------------------------------------------------

  private val LlBase: Array[Int] = Array(
    0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024, 2048,
    4096, 8192, 16384, 32768, 65536)
  private val LlBits: Array[Int] = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private val MlBase: Array[Int] = Array(
    3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20,
    21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34,
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027,
    2051, 4099, 8195, 16387, 32771, 65539)
  private val MlBits: Array[Int] = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  // predefined distributions (RFC 8878 defaults)
  private val LlDefault: Array[Int] = Array(
    4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2,
    2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1)
  private val MlDefault: Array[Int] = Array(
    1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, -1, -1, -1, -1, -1, -1, -1)
  private val OfDefault: Array[Int] = Array(
    1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, -1, -1, -1, -1)

  private lazy val LlPredef = fseBuild(LlDefault, 6)
  private lazy val MlPredef = fseBuild(MlDefault, 6)
  private lazy val OfPredef = fseBuild(OfDefault, 5)

  // ---------------------------------------------------------------
  // output buffer (aggregate bomb cap, random access for match copy)
  // ---------------------------------------------------------------

  private final class Out(maxOut: Int) {
    var buf = new Array[Byte](math.max(64, math.min(maxOut, 1 << 16)))
    var len = 0
    def ensure(extra: Int): Unit = {
      if (extra < 0 || len + extra > maxOut) throw Bad
      if (len + extra > buf.length) {
        var nl = buf.length
        while (nl < len + extra) nl = math.min(maxOut, math.max(nl * 2, len + extra))
        buf = java.util.Arrays.copyOf(buf, nl)
      }
    }
  }

  // ---------------------------------------------------------------
  // xxhash64 (public spec) — content-checksum verification
  // ---------------------------------------------------------------

  private final val XP1 = 0x9E3779B185EBCA87L
  private final val XP2 = 0xC2B2AE3D27D4EB4FL
  private final val XP3 = 0x165667B19E3779F9L
  private final val XP4 = 0x85EBCA77C2B2AE63L
  private final val XP5 = 0x27D4EB2F165667C5L

  private def le64(b: Array[Byte], p: Int): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (b(p + i) & 0xffL); i -= 1 }
    v
  }
  private def le32(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) |
      ((b(p + 3) & 0xff) << 24)

  private def xxh64(buf: Array[Byte], off: Int, len: Int): Long = {
    import java.lang.Long.rotateLeft
    def round(acc: Long, in: Long): Long =
      rotateLeft(acc + in * XP2, 31) * XP1
    var idx = off
    val end = off + len
    var h =
      if (len >= 32) {
        var v1 = XP1 + XP2
        var v2 = XP2
        var v3 = 0L
        var v4 = -XP1
        while (idx + 32 <= end) {
          v1 = round(v1, le64(buf, idx))
          v2 = round(v2, le64(buf, idx + 8))
          v3 = round(v3, le64(buf, idx + 16))
          v4 = round(v4, le64(buf, idx + 24))
          idx += 32
        }
        var acc = rotateLeft(v1, 1) + rotateLeft(v2, 7) +
          rotateLeft(v3, 12) + rotateLeft(v4, 18)
        acc = (acc ^ round(0, v1)) * XP1 + XP4
        acc = (acc ^ round(0, v2)) * XP1 + XP4
        acc = (acc ^ round(0, v3)) * XP1 + XP4
        acc = (acc ^ round(0, v4)) * XP1 + XP4
        acc
      } else XP5
    h += len
    while (idx + 8 <= end) {
      h = rotateLeft(h ^ round(0, le64(buf, idx)), 27) * XP1 + XP4
      idx += 8
    }
    if (idx + 4 <= end) {
      h = rotateLeft(h ^ ((le32(buf, idx) & 0xffffffffL) * XP1), 23) * XP2 + XP3
      idx += 4
    }
    while (idx < end) {
      h = rotateLeft(h ^ ((buf(idx) & 0xffL) * XP5), 11) * XP1
      idx += 1
    }
    h ^= h >>> 33; h *= XP2; h ^= h >>> 29; h *= XP3; h ^= h >>> 32
    h
  }

  // ---------------------------------------------------------------
  // block decoding
  // ---------------------------------------------------------------

  /** Literals section → (literal bytes, bytes consumed, huffman table
    * now current for treeless reuse — null when unchanged). */
  private def decodeLiterals(buf: Array[Byte], off: Int, blockEnd: Int,
                             prevHuf: HufT): (Array[Byte], Int, HufT) = {
    if (off >= blockEnd) throw Bad
    val b0 = buf(off) & 0xff
    val ltype = b0 & 3
    val sf = (b0 >>> 2) & 3
    if (ltype <= 1) { // Raw / RLE
      val (rs, hdr) = sf match {
        case 0 | 2 => (b0 >>> 3, 1)
        case 1 =>
          if (off + 2 > blockEnd) throw Bad
          ((b0 >>> 4) | ((buf(off + 1) & 0xff) << 4), 2)
        case _ =>
          if (off + 3 > blockEnd) throw Bad
          ((b0 >>> 4) | ((buf(off + 1) & 0xff) << 4) |
            ((buf(off + 2) & 0xff) << 12), 3)
      }
      if (rs > (1 << 17)) throw Bad
      if (ltype == 0) { // Raw
        if (off + hdr + rs > blockEnd) throw Bad
        val lits = java.util.Arrays.copyOfRange(buf, off + hdr, off + hdr + rs)
        (lits, hdr + rs, null)
      } else { // RLE
        if (off + hdr + 1 > blockEnd) throw Bad
        val lits = new Array[Byte](rs)
        java.util.Arrays.fill(lits, buf(off + hdr))
        (lits, hdr + 1, null)
      }
    } else { // Compressed / Treeless
      var rs = 0
      var cs = 0
      var hdr = 0
      var nStreams = 4
      sf match {
        case 0 | 1 =>
          if (off + 3 > blockEnd) throw Bad
          val h = (b0) | ((buf(off + 1) & 0xff) << 8) |
            ((buf(off + 2) & 0xff) << 16)
          rs = (h >>> 4) & 0x3ff; cs = (h >>> 14) & 0x3ff; hdr = 3
          if (sf == 0) nStreams = 1
        case 2 =>
          if (off + 4 > blockEnd) throw Bad
          val h = (b0) | ((buf(off + 1) & 0xff) << 8) |
            ((buf(off + 2) & 0xff) << 16) | ((buf(off + 3) & 0xff) << 24)
          rs = (h >>> 4) & 0x3fff; cs = (h >>> 18) & 0x3fff; hdr = 4
        case _ =>
          if (off + 5 > blockEnd) throw Bad
          val h = (b0.toLong) | ((buf(off + 1) & 0xffL) << 8) |
            ((buf(off + 2) & 0xffL) << 16) | ((buf(off + 3) & 0xffL) << 24) |
            ((buf(off + 4) & 0xffL) << 32)
          rs = ((h >>> 4) & 0x3ffff).toInt; cs = ((h >>> 22) & 0x3ffff).toInt
          hdr = 5
      }
      if (rs > (1 << 17) || cs <= 0) throw Bad
      val streamsEnd = off + hdr + cs
      if (streamsEnd > blockEnd) throw Bad
      var huf = prevHuf
      var sOff = off + hdr
      var newHuf: HufT = null
      if (ltype == 2) {
        val (t, tBytes) = readHufTable(buf, sOff, streamsEnd)
        huf = t; newHuf = t; sOff += tBytes
      } else if (huf == null) throw Bad // treeless with no prior table
      val lits = new Array[Byte](rs)
      if (nStreams == 1) {
        if (sOff >= streamsEnd) throw Bad
        hufDecodeStream(huf, buf, sOff, streamsEnd, lits, 0, rs)
      } else {
        if (sOff + 6 > streamsEnd) throw Bad
        val s1 = (buf(sOff) & 0xff) | ((buf(sOff + 1) & 0xff) << 8)
        val s2 = (buf(sOff + 2) & 0xff) | ((buf(sOff + 3) & 0xff) << 8)
        val s3 = (buf(sOff + 4) & 0xff) | ((buf(sOff + 5) & 0xff) << 8)
        val dataOff = sOff + 6
        val s4 = streamsEnd - dataOff - s1 - s2 - s3
        val r1 = (rs + 3) / 4
        val r4 = rs - 3 * r1
        if (s1 <= 0 || s2 <= 0 || s3 <= 0 || s4 <= 0 || r4 <= 0) throw Bad
        hufDecodeStream(huf, buf, dataOff, dataOff + s1, lits, 0, r1)
        hufDecodeStream(huf, buf, dataOff + s1, dataOff + s1 + s2, lits, r1, r1)
        hufDecodeStream(huf, buf, dataOff + s1 + s2, dataOff + s1 + s2 + s3,
          lits, 2 * r1, r1)
        hufDecodeStream(huf, buf, dataOff + s1 + s2 + s3, streamsEnd,
          lits, 3 * r1, r4)
      }
      (lits, hdr + cs, newHuf)
    }
  }

  /** Per-frame mutable decoding state carried across blocks. */
  private final class FrameState {
    var huf: HufT = null
    var llT: FseT = null
    var mlT: FseT = null
    var ofT: FseT = null
    var rep1 = 1L
    var rep2 = 4L
    var rep3 = 8L
  }

  private def readSeqTable(buf: Array[Byte], off0: Int, blockEnd: Int,
                           mode: Int, prev: FseT, predef: FseT,
                           maxSym: Int, maxLog: Int): (FseT, Int) =
    mode match {
      case 0 => (predef, 0)
      case 1 =>
        if (off0 >= blockEnd) throw Bad
        val sym = buf(off0) & 0xff
        if (sym > maxSym) throw Bad
        (fseRle(sym), 1)
      case 2 =>
        val (freq, log, consumed) =
          fseReadHeader(buf, off0, blockEnd, maxSym, maxLog)
        (fseBuild(freq, log), consumed)
      case _ =>
        if (prev == null) throw Bad // repeat with no prior table
        (prev, 0)
    }

  /** One compressed block: literals section, sequences section,
    * sequence execution against the whole-frame output window. */
  private def decodeCompressedBlock(buf: Array[Byte], off: Int, blockEnd: Int,
                                    out: Out, frameBase: Int,
                                    windowSize: Long, st: FrameState): Unit = {
    val (lits, litBytes, newHuf) = decodeLiterals(buf, off, blockEnd, st.huf)
    if (newHuf != null) st.huf = newHuf
    var p = off + litBytes
    if (p >= blockEnd) throw Bad
    val b0 = buf(p) & 0xff
    var nbSeq = 0
    if (b0 == 0) { p += 1 }
    else if (b0 < 128) { nbSeq = b0; p += 1 }
    else if (b0 < 255) {
      if (p + 2 > blockEnd) throw Bad
      nbSeq = ((b0 - 128) << 8) + (buf(p + 1) & 0xff); p += 2
    } else {
      if (p + 3 > blockEnd) throw Bad
      nbSeq = ((buf(p + 1) & 0xff) | ((buf(p + 2) & 0xff) << 8)) + 0x7f00
      p += 3
    }
    if (nbSeq == 0) {
      if (p != blockEnd) throw Bad // nothing may follow
      out.ensure(lits.length)
      System.arraycopy(lits, 0, out.buf, out.len, lits.length)
      out.len += lits.length
      return
    }
    if (p >= blockEnd) throw Bad
    val modes = buf(p) & 0xff
    if ((modes & 3) != 0) throw Bad // reserved bits
    p += 1
    // table order in the stream: literals-length, offsets, match-length
    val (llT, c1) = readSeqTable(buf, p, blockEnd, (modes >>> 6) & 3,
      st.llT, LlPredef, 35, 9)
    p += c1
    val (ofT, c2) = readSeqTable(buf, p, blockEnd, (modes >>> 4) & 3,
      st.ofT, OfPredef, 31, 8)
    p += c2
    val (mlT, c3) = readSeqTable(buf, p, blockEnd, (modes >>> 2) & 3,
      st.mlT, MlPredef, 52, 9)
    p += c3
    st.llT = llT; st.ofT = ofT; st.mlT = mlT
    if (p >= blockEnd) throw Bad
    val bits = new BackBits(buf, p, blockEnd)
    // initial states: literals-length, offsets, match-length
    var llState = bits.read(llT.log)
    var ofState = bits.read(ofT.log)
    var mlState = bits.read(mlT.log)
    var litPos = 0
    var i = 0
    while (i < nbSeq) {
      val ofCode = ofT.symbol(ofState)
      if (ofCode > 31) throw Bad
      val offsetVal = (1L << ofCode) + (bits.read(ofCode) & 0xffffffffL)
      val mlCode = mlT.symbol(mlState)
      val ml = MlBase(mlCode) + bits.read(MlBits(mlCode))
      val llCode = llT.symbol(llState)
      val ll = LlBase(llCode) + bits.read(LlBits(llCode))
      if (i + 1 < nbSeq) { // states do not advance after the last sequence
        llState = llT.newState(llState) + bits.read(llT.nbBits(llState))
        mlState = mlT.newState(mlState) + bits.read(mlT.nbBits(mlState))
        ofState = ofT.newState(ofState) + bits.read(ofT.nbBits(ofState))
      }
      // resolve against the 3-slot repeat history (ll==0 shifts codes)
      var offset = 0L
      if (offsetVal > 3) {
        offset = offsetVal - 3
        st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
      } else {
        val v = offsetVal + (if (ll == 0) 1 else 0)
        if (v == 1) offset = st.rep1
        else if (v == 2) {
          offset = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
        } else if (v == 3) {
          offset = st.rep3; st.rep3 = st.rep2; st.rep2 = st.rep1
          st.rep1 = offset
        } else {
          offset = st.rep1 - 1
          if (offset <= 0) throw Bad
          st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = offset
        }
      }
      // copy literals
      if (litPos + ll > lits.length) throw Bad
      out.ensure(ll)
      System.arraycopy(lits, litPos, out.buf, out.len, ll)
      out.len += ll; litPos += ll
      // match copy (overlap-safe byte walk)
      val decoded = out.len - frameBase
      if (offset > decoded || offset > windowSize) throw Bad
      out.ensure(ml)
      val o = offset.toInt
      var k = 0
      while (k < ml) { out.buf(out.len) = out.buf(out.len - o); out.len += 1; k += 1 }
      i += 1
    }
    if (bits.pos != 0) throw Bad // the bitstream must be consumed exactly
    // trailing literals
    val rest = lits.length - litPos
    out.ensure(rest)
    System.arraycopy(lits, litPos, out.buf, out.len, rest)
    out.len += rest
  }

  /** One zstd frame starting just after its magic; returns the
    * position after the frame (past the checksum when present). */
  private def decodeFrame(bytes: Array[Byte], start: Int, out: Out,
                          maxOut: Int): Int = {
    var p = start
    if (p >= bytes.length) throw Bad
    val fhd = bytes(p) & 0xff
    p += 1
    if ((fhd & 8) != 0) throw Bad // reserved bit
    val fcsFlag = (fhd >>> 6) & 3
    val single = (fhd & 0x20) != 0
    val hasChecksum = (fhd & 4) != 0
    val dictFlag = fhd & 3
    var windowSize = 0L
    if (!single) {
      if (p >= bytes.length) throw Bad
      val wd = bytes(p) & 0xff
      p += 1
      val base = 1L << (10 + (wd >>> 3))
      windowSize = base + (base >>> 3) * (wd & 7)
      if (windowSize > (1L << windowLogMax(maxOut)))
        throw Bad // libzstd's window cap: a frame only a --memory decoder opens
    }
    val dictBytes = dictFlag match {
      case 0 => 0; case 1 => 1; case 2 => 2; case _ => 4
    }
    if (p + dictBytes > bytes.length) throw Bad
    var dictId = 0L
    var i = 0
    while (i < dictBytes) {
      dictId |= (bytes(p + i) & 0xffL) << (8 * i); i += 1
    }
    p += dictBytes
    if (dictId != 0) throw Bad // no-dictionary kernel: refuse, never guess
    var contentSize = -1L
    val fcsBytes = fcsFlag match {
      case 0 => if (single) 1 else 0
      case 1 => 2
      case 2 => 4
      case _ => 8
    }
    if (fcsBytes > 0) {
      if (p + fcsBytes > bytes.length) throw Bad
      contentSize = 0L
      i = 0
      while (i < fcsBytes) {
        contentSize |= (bytes(p + i) & 0xffL) << (8 * i); i += 1
      }
      if (fcsBytes == 2) contentSize += 256
      p += fcsBytes
      if (contentSize < 0 || contentSize > maxOut) throw Bad // bomb guard
    }
    if (single) windowSize = if (contentSize >= 0) contentSize else 0L
    val frameBase = out.len
    val st = new FrameState
    val blockMax = math.min(1 << 17,
      if (single) math.max(windowSize, 1L) else windowSize).toInt
    var last = false
    while (!last) {
      if (p + 3 > bytes.length) throw Bad
      val h = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8) |
        ((bytes(p + 2) & 0xff) << 16)
      p += 3
      last = (h & 1) != 0
      val btype = (h >>> 1) & 3
      val bsize = h >>> 3
      val blockStart = out.len
      btype match {
        case 0 => // Raw
          if (bsize > blockMax || p + bsize > bytes.length) throw Bad
          out.ensure(bsize)
          System.arraycopy(bytes, p, out.buf, out.len, bsize)
          out.len += bsize
          p += bsize
        case 1 => // RLE: bsize is the REGENERATED size, one stored byte
          if (bsize > blockMax || p + 1 > bytes.length) throw Bad
          out.ensure(bsize)
          java.util.Arrays.fill(out.buf, out.len, out.len + bsize, bytes(p))
          out.len += bsize
          p += 1
        case 2 => // Compressed
          if (bsize == 0 || p + bsize > bytes.length) throw Bad
          decodeCompressedBlock(bytes, p, p + bsize, out, frameBase,
            if (windowSize > 0) windowSize else Long.MaxValue, st)
          if (out.len - blockStart > blockMax) throw Bad
          p += bsize
        case _ => throw Bad // Reserved
      }
    }
    val decoded = out.len - frameBase
    if (contentSize >= 0 && decoded != contentSize) throw Bad
    if (hasChecksum) {
      if (p + 4 > bytes.length) throw Bad
      val want = le32(bytes, p) & 0xffffffffL
      val got = xxh64(out.buf, frameBase, decoded) & 0xffffffffL
      if (want != got) throw Bad
      p += 4
    }
    p
  }

  /** Largest window log accepted for a call capped at `maxOut`:
    * libzstd's default of 27, raised to ceil(log2(maxOut)) for callers
    * with a larger cap. */
  private[functions] def windowLogMax(maxOut: Int): Int =
    math.max(27, 32 - Integer.numberOfLeadingZeros(math.max(maxOut, 1) - 1))

  /** The per-row kernel — public static so generated code can call it.
    * Returns null for every malformed/over-cap shape (fail closed). */
  def compute(bytes: Array[Byte], maxOut: Int): Array[Byte] = {
    try {
      if (bytes == null || bytes.length < 4) return null
      val out = new Out(maxOut)
      var pos = 0
      while (pos < bytes.length) {
        if (pos + 4 > bytes.length) throw Bad
        val magic = le32(bytes, pos)
        if ((magic & 0xfffffff0) == 0x184d2a50) { // skippable frame
          if (pos + 8 > bytes.length) throw Bad
          val sz = le32(bytes, pos + 4) & 0xffffffffL
          if (pos + 8 + sz > bytes.length) throw Bad
          pos += 8 + sz.toInt
        } else if (magic == 0xfd2fb528) {
          pos = decodeFrame(bytes, pos + 4, out, maxOut)
        } else throw Bad
      }
      java.util.Arrays.copyOf(out.buf, out.len)
    } catch {
      case Bad => null
      case _: ArrayIndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
    }
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; `maxOut` defaults to 64 MiB. */
  def apply(payload: Column, maxOut: Int = 1 << 26): Column =
    ColumnShim.column(ZstdPayload(ColumnShim.expression(payload), maxOut))
}
