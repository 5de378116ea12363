package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** 7-Zip archive LISTING — the last common source-release container
  * (the 7z format doc ships with the public SDK): the 32-byte
  * signature header locates the NEXT HEADER, which is either a plain
  * property-ID tree (`kHeader`) or — the 7z CLI's default — an
  * LZMA/LZMA2-compressed one (`kEncodedHeader`), decompressed here by
  * the engine's own LZMA machinery (shared with the xz kernel; COPY,
  * BZIP2 and DEFLATE header folders decode too). Out of the header
  * tree come the archive's files: names (UTF-16LE), per-file sizes
  * (substream sizes, or the folder unpack size when a folder carries
  * one stream), and the directory/empty-file distinction
  * (`kEmptyStream` without `kEmptyFile` = directory, per the spec).
  *
  * LISTING tier by contract: the census a lake audit needs (what is
  * inside, how big) never touches the payload. The member-extraction
  * sibling ([[SevenZipMembers]]) decodes single-coder folders AND
  * 2-coder FILTER CHAINS (x86 BCJ / Delta after any supported
  * compressor — what the 7z CLI writes for executables) AND the
  * BCJ2 four-stream folder graph since round 16; PPMd and AES keep
  * the refusal.
  *
  * Output: array of `(name, size, is_dir)` in archive order.
  *
  * FAIL-CLOSED NULL on: bad signature, a next-header CRC32 mismatch
  * (VERIFIED), malformed numbers, an encoded header whose folder
  * uses an unsupported coder, trees that do not close with `kEnd`,
  * more than `maxEntries` files, output past `maxHeader`. Per-row
  * bounded work, zero shuffle, codegen'd. */
case class SevenZipList(child: Expression, maxEntries: Int, maxHeader: Int)
    extends UnaryExpression {
  require(maxEntries > 0 && maxHeader > 0, "bounds must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sevenzip_list expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("is_dir", BooleanType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    SevenZipList.compute(a.asInstanceOf[Array[Byte]], maxEntries, maxHeader)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.SevenZipList.compute($c, $maxEntries, $maxHeader);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "sevenzip_list"
}

object SevenZipList {

  private object Bad extends Exception with scala.util.control.NoStackTrace

  private final class Cur(val b: Array[Byte], var pos: Int, val end: Int) {
    def u8(): Int = {
      if (pos >= end) throw Bad
      val v = b(pos) & 0xff
      pos += 1
      v
    }
    def take(n: Long): Int = {
      if (n < 0 || pos + n > end) throw Bad
      val at = pos
      pos += n.toInt
      at
    }
    /** The spec's variable-length REAL_UINT64. */
    def num(): Long = {
      val first = u8()
      var mask = 0x80
      var value = 0L
      var i = 0
      while (i < 8) {
        if ((first & mask) == 0) {
          return value | ((first & (mask - 1)).toLong << (8 * i))
        }
        value |= (u8().toLong << (8 * i))
        mask >>= 1
        i += 1
      }
      value
    }
    def hasMore: Boolean = pos < end
  }

  private final val KEnd = 0x00
  private final val KHeader = 0x01
  private final val KMainStreamsInfo = 0x04
  private final val KFilesInfo = 0x05
  private final val KPackInfo = 0x06
  private final val KUnPackInfo = 0x07
  private final val KSubStreamsInfo = 0x08
  private final val KSize = 0x09
  private final val KCrc = 0x0A
  private final val KFolder = 0x0B
  private final val KCodersUnPackSize = 0x0C
  private final val KNumUnPackStream = 0x0D
  private final val KEmptyStream = 0x0E
  private final val KEmptyFile = 0x0F
  private final val KName = 0x11
  private final val KEncodedHeader = 0x17

  private final case class Coder(id: Array[Byte], numIn: Int, numOut: Int,
                                 props: Array[Byte])
  private final class Folder {
    val coders = new scala.collection.mutable.ArrayBuffer[Coder]
    /** (inIndex, outIndex) bind pairs — the chain topology. */
    val bindPairs = new scala.collection.mutable.ArrayBuffer[(Int, Int)]
    var unpackSizes: Array[Long] = Array.empty
    /** Packed input streams this folder consumes (totalIn − bind
      * pairs) — the member-extraction path advances the global
      * pack-stream index by this even for folders it refuses. */
    var numPackedStreams: Int = 1
    /** Pack-order → global in-stream index (present when
      * numPackedStreams > 1; empty = natural unbound order). */
    var packedIndices: Array[Int] = Array.empty
    /** The folder's final output size = the out-stream no bind pair
      * consumes; single-coder folders (the header case) have one. */
    var bindOutConsumed: Array[Boolean] = Array.empty
    def mainUnpackSize: Long = {
      var i = unpackSizes.length - 1
      while (i >= 0) {
        if (i >= bindOutConsumed.length || !bindOutConsumed(i))
          return unpackSizes(i)
        i -= 1
      }
      throw Bad
    }
  }

  private final class StreamsInfo {
    var packPos = 0L
    var packSizes: Array[Long] = Array.empty
    val folders = new scala.collection.mutable.ArrayBuffer[Folder]
    var numUnpackStreams: Array[Int] = Array.empty // per folder, default 1
    var subSizes: Array[Long] = Array.empty // resolved per substream
    // folder digests from kUnpackInfo kCrc — a folder with ONE unpack
    // stream and a defined digest covers that stream's CRC, so
    // kSubStreamsInfo kCrc stores digests only for the REST
    var folderCrcDefined: Array[Boolean] = Array.empty
    var folderCrcs: Array[Long] = Array.empty
    // substream CRC32s (kSubStreamsInfo kCrc) — verified by the
    // member-extraction path when defined; empty when absent
    var subCrcDefined: Array[Boolean] = Array.empty
    var subCrcs: Array[Long] = Array.empty
  }

  /** Skip a (id, size, data)* property block list up to its kEnd. */
  private def skipBlocks(c: Cur): Unit = {
    var id = c.num()
    while (id != KEnd) {
      val sz = c.num()
      c.take(sz)
      id = c.num()
    }
  }

  private def parseStreamsInfo(c: Cur, maxEntries: Int): StreamsInfo = {
    val si = new StreamsInfo
    var id = c.num()
    while (id != KEnd) {
      id match {
        case KPackInfo =>
          si.packPos = c.num()
          val nPack = c.num()
          if (nPack < 0 || nPack > maxEntries) throw Bad
          var pid = c.num()
          while (pid != KEnd) {
            pid match {
              case KSize =>
                si.packSizes = Array.fill(nPack.toInt)(c.num())
              case KCrc =>
                // digests: allDefined byte then CRCs — skip structurally
                skipCrcs(c, nPack.toInt)
              case _ => throw Bad
            }
            pid = c.num()
          }
        case KUnPackInfo =>
          var uid = c.num()
          while (uid != KEnd) {
            uid match {
              case KFolder =>
                val nFolders = c.num()
                if (nFolders < 0 || nFolders > maxEntries) throw Bad
                val external = c.u8()
                if (external != 0) throw Bad // external folder defs: refuse
                var f = 0
                while (f < nFolders) {
                  si.folders += parseFolder(c)
                  f += 1
                }
              case KCodersUnPackSize =>
                for (f <- si.folders) {
                  val nOut = f.coders.map(_.numOut).sum
                  f.unpackSizes = Array.fill(nOut)(c.num())
                }
              case KCrc =>
                val (d, v) = readCrcs(c, si.folders.length)
                si.folderCrcDefined = d
                si.folderCrcs = v
              case _ => throw Bad
            }
            uid = c.num()
          }
        case KSubStreamsInfo =>
          si.numUnpackStreams = Array.fill(si.folders.length)(1)
          var sid = c.num()
          var sizesSeen = false
          while (sid != KEnd) {
            sid match {
              case KNumUnPackStream =>
                var f = 0
                while (f < si.folders.length) {
                  val cnt = c.num()
                  if (cnt < 0 || cnt > maxEntries) throw Bad
                  si.numUnpackStreams(f) = cnt.toInt
                  f += 1
                }
              case KSize =>
                sizesSeen = true
                val sizes = new scala.collection.mutable.ArrayBuffer[Long]
                var f = 0
                while (f < si.folders.length) {
                  val cnt = si.numUnpackStreams(f)
                  var acc = 0L
                  var k = 0
                  while (k < cnt - 1) {
                    val s = c.num()
                    if (s < 0) throw Bad
                    sizes += s
                    acc += s
                    k += 1
                  }
                  if (cnt > 0) {
                    // declared sub-sizes must not exceed the folder's
                    // unpack size — a negative residual is a lie
                    val last = si.folders(f).mainUnpackSize - acc
                    if (last < 0) throw Bad
                    sizes += last
                  }
                  f += 1
                }
                si.subSizes = sizes.toArray
              case KCrc =>
                // digests are stored ONLY for streams whose CRC is
                // not already known: a single-stream folder with a
                // defined kUnpackInfo digest is covered and excluded
                // from the count; its stream seeds from the folder
                def covered(f: Int): Boolean =
                  si.numUnpackStreams(f) == 1 &&
                    f < si.folderCrcDefined.length && si.folderCrcDefined(f)
                var needed = 0
                var ff = 0
                while (ff < si.folders.length) {
                  if (!covered(ff)) needed += si.numUnpackStreams(ff)
                  ff += 1
                }
                val (defd, crcs) = readCrcs(c, needed)
                val total = si.numUnpackStreams.sum
                val allD = new Array[Boolean](total)
                val allC = new Array[Long](total)
                var sub = 0
                var k = 0
                ff = 0
                while (ff < si.folders.length) {
                  if (covered(ff)) {
                    allD(sub) = true
                    allC(sub) = si.folderCrcs(ff)
                    sub += 1
                  } else {
                    var j = 0
                    while (j < si.numUnpackStreams(ff)) {
                      allD(sub) = defd(k)
                      allC(sub) = crcs(k)
                      sub += 1; k += 1; j += 1
                    }
                  }
                  ff += 1
                }
                si.subCrcDefined = allD
                si.subCrcs = allC
              case _ => throw Bad
            }
            sid = c.num()
          }
          if (!sizesSeen)
            si.subSizes = si.folders.map(_.mainUnpackSize).toArray
        case _ => throw Bad
      }
      id = c.num()
    }
    if (si.numUnpackStreams.isEmpty) {
      si.numUnpackStreams = Array.fill(si.folders.length)(1)
      if (si.subSizes.isEmpty)
        si.subSizes = si.folders.map(_.mainUnpackSize).toArray
    }
    // no substream digests parsed but kUnpackInfo defined folder
    // digests: seed the single-stream folders' CRCs so extraction
    // still verifies them
    if (si.subCrcDefined.isEmpty && si.folderCrcDefined.nonEmpty) {
      val total = si.numUnpackStreams.sum
      val allD = new Array[Boolean](total)
      val allC = new Array[Long](total)
      var sub = 0
      var f = 0
      while (f < si.folders.length) {
        val cnt = si.numUnpackStreams(f)
        if (cnt == 1 && f < si.folderCrcDefined.length &&
          si.folderCrcDefined(f)) {
          allD(sub) = true
          allC(sub) = si.folderCrcs(f)
        }
        sub += cnt
        f += 1
      }
      si.subCrcDefined = allD
      si.subCrcs = allC
    }
    si
  }

  private def skipCrcs(c: Cur, n: Int): Unit = { readCrcs(c, n); () }

  /** The digests structure: allDefined byte (else an n-bit vector),
    * then one LE32 CRC per defined stream. Returns per-stream
    * (defined, crc — 0 where undefined). */
  private def readCrcs(c: Cur, n: Int): (Array[Boolean], Array[Long]) = {
    val allDefined = c.u8()
    val defined = new Array[Boolean](n)
    if (allDefined != 0) java.util.Arrays.fill(defined, true)
    else {
      val at = c.take((n + 7) / 8)
      var i = 0
      while (i < n) {
        defined(i) = (c.b(at + (i >> 3)) & (0x80 >> (i & 7))) != 0
        i += 1
      }
    }
    val crcs = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (defined(i)) {
        val at = c.take(4)
        crcs(i) = (c.b(at) & 0xffL) | ((c.b(at + 1) & 0xffL) << 8) |
          ((c.b(at + 2) & 0xffL) << 16) | ((c.b(at + 3) & 0xffL) << 24)
      }
      i += 1
    }
    (defined, crcs)
  }

  private def parseFolder(c: Cur): Folder = {
    val f = new Folder
    val nCoders = c.num()
    if (nCoders <= 0 || nCoders > 64) throw Bad
    var i = 0L
    var totalIn = 0
    var totalOut = 0
    while (i < nCoders) {
      val flags = c.u8()
      val idSize = flags & 0x0f
      val at = c.take(idSize)
      val id = java.util.Arrays.copyOfRange(c.b, at, at + idSize)
      var nIn = 1
      var nOut = 1
      if ((flags & 0x10) != 0) { nIn = c.num().toInt; nOut = c.num().toInt }
      val props =
        if ((flags & 0x20) != 0) {
          val psz = c.num()
          val pat = c.take(psz)
          java.util.Arrays.copyOfRange(c.b, pat, pat + psz.toInt)
        } else Array.emptyByteArray
      if (nIn <= 0 || nOut <= 0 || nIn > 64 || nOut > 64) throw Bad
      totalIn += nIn
      totalOut += nOut
      f.coders += Coder(id, nIn, nOut, props)
      i += 1
    }
    val nBindPairs = totalOut - 1
    f.bindOutConsumed = new Array[Boolean](totalOut)
    var bp = 0
    while (bp < nBindPairs) {
      val inIndex = c.num()
      val outIndex = c.num()
      if (outIndex < 0 || outIndex >= totalOut) throw Bad
      if (inIndex < 0 || inIndex >= totalIn) throw Bad
      f.bindOutConsumed(outIndex.toInt) = true
      f.bindPairs += ((inIndex.toInt, outIndex.toInt))
      bp += 1
    }
    val nPacked = totalIn - nBindPairs
    if (nPacked < 1) throw Bad
    f.numPackedStreams = nPacked
    if (nPacked > 1) {
      // pack-stream order: which IN-stream each packed stream feeds
      // (BCJ2's four inputs arrive in declared, not natural, order)
      val idx = new Array[Int](nPacked)
      var k = 0
      while (k < nPacked) {
        val v = c.num()
        if (v < 0 || v >= totalIn) throw Bad
        idx(k) = v.toInt
        k += 1
      }
      f.packedIndices = idx
    }
    f
  }

  /** Decompress a single-coder folder's payload (the header case). */
  private def decodeFolder(bytes: Array[Byte], baseOff: Long,
                           si: StreamsInfo, maxHeader: Int): Array[Byte] = {
    if (si.folders.length != 1 || si.packSizes.length != 1) throw Bad
    val f = si.folders(0)
    if (f.coders.length != 1) throw Bad
    val start = 32L + si.packPos + baseOff
    decodeCoder(bytes, start, si.packSizes(0), f.mainUnpackSize,
      f.coders(0), maxHeader)
  }

  /** One coder's decompression — COPY/LZMA1/LZMA2/BZIP2/DEFLATE, the
    * same set the encoded-header path supports; anything else
    * (BCJ filters, PPMd, AES) throws. Output length VERIFIED against
    * the declared unpack size. */
  private def decodeCoder(bytes: Array[Byte], start: Long, packLen: Long,
                          unpack: Long, coder: Coder,
                          maxOut: Int): Array[Byte] = {
    if (start < 0 || packLen < 0 || start + packLen > bytes.length) throw Bad
    if (unpack < 0 || unpack > maxOut) throw Bad
    val idHex = coder.id.map(b => f"${b & 0xff}%02x").mkString
    idHex match {
      case "00" => // COPY
        if (packLen != unpack) throw Bad
        java.util.Arrays.copyOfRange(bytes, start.toInt,
          (start + packLen).toInt)
      case "030101" => // LZMA1: props = 1 byte lclppb + 4 bytes dictSize
        if (coder.props.length < 1) throw Bad
        val out = XzPayload.lzma1(bytes, start.toInt, packLen.toInt,
          unpack.toInt, coder.props(0) & 0xff, maxOut)
        if (out == null || out.length != unpack) throw Bad
        out
      case "21" => // LZMA2: props = 1 byte dictSize code
        val out = XzPayload.lzma2Raw(bytes, start.toInt,
          (start + packLen).toInt, unpack.toInt)
        if (out == null || out.length != unpack) throw Bad
        out
      case "040202" => // BZIP2
        val out = Bunzip2.compute(java.util.Arrays.copyOfRange(bytes,
          start.toInt, (start + packLen).toInt), maxOut)
        if (out == null || out.length != unpack) throw Bad
        out
      case "040108" => // DEFLATE (raw)
        val out = BoundedDecode.inflate(bytes, start.toInt, packLen.toInt,
          nowrap = true, unpack.toInt)
        if (out == null || out.length != unpack) throw Bad
        out
      case _ => throw Bad // multi-coder/filtered headers: refuse
    }
  }

  /** x86 BCJ DECODE filter (the public Bra86 semantics, ip = 0 at
    * the folder start): E8/E9 call/jump targets written as absolute
    * addresses by the encoder convert back to relative, with the
    * mask state machine suppressing false positives the same way the
    * encoder did. In place. */
  private[functions] def bcjX86Decode(d: Array[Byte]): Unit = {
    def msb(b: Int): Boolean = b == 0x00 || b == 0xff
    val size = d.length
    if (size < 5) return
    val end = size - 4
    var pos = 0
    var mask = 0
    var running = true
    while (running) {
      var p = pos
      while (p < end && (d(p) & 0xfe) != 0xe8) p += 1
      val dist = p - pos
      pos = p
      if (p >= end) running = false
      else {
        var skip = false
        if (dist > 2) mask = 0
        else {
          mask >>= dist
          if (mask != 0 && (mask > 4 || mask == 3 ||
            msb(d(p + (mask >> 1) + 1) & 0xff))) {
            mask = (mask >> 1) | 4
            pos += 1
            skip = true
          }
        }
        if (!skip) {
          if (msb(d(p + 4) & 0xff)) {
            var v = ((d(p + 4) & 0xffL) << 24) | ((d(p + 3) & 0xffL) << 16) |
              ((d(p + 2) & 0xffL) << 8) | (d(p + 1) & 0xffL)
            val cur = (pos + 5).toLong & 0xffffffffL
            v = (v - cur) & 0xffffffffL
            if (mask != 0) {
              val sh = (mask & 6) << 2
              if (msb(((v >> sh) & 0xff).toInt)) {
                v = v ^ (((0x100L << sh) - 1) & 0xffffffffL)
                v = (v - cur) & 0xffffffffL
              }
              mask = 0
            }
            d(p + 1) = v.toByte
            d(p + 2) = (v >> 8).toByte
            d(p + 3) = (v >> 16).toByte
            d(p + 4) = (0L - ((v >> 24) & 1L)).toByte
            pos += 5
          } else {
            mask = (mask >> 1) | 4
            pos += 1
          }
        }
      }
    }
  }

  /** Delta DECODE filter: `d(i) += d(i - dist)`, front to back. */
  private def deltaDecode(d: Array[Byte], dist: Int): Unit = {
    if (dist <= 0) throw Bad
    var i = dist
    while (i < d.length) {
      d(i) = (d(i) + d(i - dist)).toByte
      i += 1
    }
  }

  /** A folder's full decode: the single-coder case, or a 2-coder
    * FILTER CHAIN (compressor → x86 BCJ or Delta — what real 7z
    * writes for executables) resolved through the bind pair: the
    * coder with the unbound INPUT takes the packed bytes, the bind
    * pair must connect its output to the filter, and the filter's
    * output is the folder result (length re-verified). BCJ2's
    * multi-packed shape routes through [[decodeFolderGraph]]
    * instead; PPMd and AES keep the refusal. */
  private def decodeFolderChain(bytes: Array[Byte], start: Long,
                                packLen: Long, f: Folder,
                                maxOut: Int): Array[Byte] = {
    if (f.coders.length == 1)
      return decodeCoder(bytes, start, packLen, f.mainUnpackSize,
        f.coders(0), maxOut)
    if (f.coders.length != 2 || f.bindPairs.length != 1 ||
      f.numPackedStreams != 1 ||
      f.coders.exists(c => c.numIn != 1 || c.numOut != 1)) throw Bad
    val (bin, bout) = f.bindPairs(0)
    // 1-in/1-out coders: stream index == coder index
    val firstIdx = 1 - bin // unbound input ← the packed bytes
    if (bout != firstIdx) throw Bad // chain must be first.out → filter.in
    if (firstIdx >= f.unpackSizes.length) throw Bad
    val mid = decodeCoder(bytes, start, packLen,
      f.unpackSizes(firstIdx), f.coders(firstIdx), maxOut)
    val filt = f.coders(bin)
    val idHex = filt.id.map(b => f"${b & 0xff}%02x").mkString
    idHex match {
      case "03030103" => bcjX86Decode(mid)
      case "03" =>
        val dist = (if (filt.props.nonEmpty) filt.props(0) & 0xff else 0) + 1
        deltaDecode(mid, dist)
      case _ => throw Bad // BCJ2/PPMd/AES/other filters: refuse
    }
    if (mid.length != f.mainUnpackSize) throw Bad
    mid
  }

  /** BCJ2 DECODE (coder 0303011B — the public four-stream x86 branch
    * converter from the LZMA SDK's documented format): `main` carries
    * every byte except converted rel32 operands, `call`/`jump` carry
    * the ABSOLUTE targets big-endian (E8 → call, E9 and 0F 8x jcc →
    * jump), and `rc` is an LZMA-style range-coded bit stream — 11-bit
    * adaptive models, one per context: jcc, E9, and E8-by-preceding-
    * byte — deciding per eligible opcode whether its operand was
    * converted. A branch byte is eligible only when 4 operand bytes
    * still fit in the output (the encoder's own constraint). Any
    * stream exhaustion or length mismatch throws — fail closed. */
  private[functions] def bcj2Decode(main: Array[Byte], call: Array[Byte],
                                    jump: Array[Byte], rc: Array[Byte],
                                    outSize: Int): Array[Byte] = {
    if (outSize < 0) throw Bad
    val out = new Array[Byte](outSize)
    // range decoder init: first byte ignored (encoder emits 0), then
    // 4 code bytes
    if (rc.length < 5) throw Bad
    var rcPos = 1
    var range = 0xFFFFFFFFL
    var code = 0L
    var k = 0
    while (k < 4) { code = (code << 8) | (rc(rcPos) & 0xffL); rcPos += 1; k += 1 }
    val probs = new Array[Int](2 + 256)
    java.util.Arrays.fill(probs, 1024) // kBitModelTotal / 2
    def decodeBit(idx: Int): Int = {
      val bound = (range >>> 11) * probs(idx)
      var bit = 0
      // both values live in [0, 2^32) inside Longs: plain < is the
      // unsigned compare
      if (code < bound) {
        range = bound
        probs(idx) += (2048 - probs(idx)) >>> 5
      } else {
        range -= bound
        code -= bound
        probs(idx) -= probs(idx) >>> 5
        bit = 1
      }
      while (range < (1L << 24)) {
        if (rcPos >= rc.length) throw Bad
        range <<= 8
        code = ((code << 8) | (rc(rcPos) & 0xffL)) & 0xFFFFFFFFL
        rcPos += 1
      }
      bit
    }
    var mainPos = 0
    var callPos = 0
    var jumpPos = 0
    var outPos = 0
    var prev = 0
    while (outPos < outSize) {
      if (mainPos >= main.length) throw Bad
      val b = main(mainPos) & 0xff
      mainPos += 1
      out(outPos) = b.toByte
      outPos += 1
      val isBranch = (b & 0xFE) == 0xE8 ||
        (prev == 0x0F && (b & 0xF0) == 0x80)
      if (isBranch && outPos + 4 <= outSize) {
        val idx =
          if (b == 0xE8) 2 + prev
          else if (b == 0xE9) 1
          else 0
        if (decodeBit(idx) == 1) {
          val srcArr = if (b == 0xE8) call else jump
          val sp = if (b == 0xE8) callPos else jumpPos
          if (sp + 4 > srcArr.length) throw Bad
          val abs = ((srcArr(sp) & 0xffL) << 24) |
            ((srcArr(sp + 1) & 0xffL) << 16) |
            ((srcArr(sp + 2) & 0xffL) << 8) | (srcArr(sp + 3) & 0xffL)
          if (b == 0xE8) callPos += 4 else jumpPos += 4
          val dest = (abs - (outPos.toLong + 4)) & 0xFFFFFFFFL
          out(outPos) = dest.toByte
          out(outPos + 1) = (dest >>> 8).toByte
          out(outPos + 2) = (dest >>> 16).toByte
          out(outPos + 3) = (dest >>> 24).toByte
          outPos += 4
          prev = ((dest >>> 24) & 0xff).toInt
        } else prev = b
      } else prev = b
    }
    // all four inputs must be fully consumed — trailing garbage in
    // any stream is a malformed folder, not a success
    if (mainPos != main.length || callPos != call.length ||
      jumpPos != jump.length) throw Bad
    out
  }

  /** General folder-graph decode for multi-packed-stream folders —
    * the BCJ2 shape: each coder's inputs resolve either through a
    * bind pair (another coder's output, evaluated recursively with
    * memoization) or from the folder's packed spans in declared
    * pack order. Every intermediate output length is VERIFIED
    * against the folder's declared unpack sizes. `spans` are the
    * folder's packed (offset, size) pairs in pack order. */
  private def decodeFolderGraph(bytes: Array[Byte],
                                spans: Array[(Long, Long)], f: Folder,
                                maxOut: Int): Array[Byte] = {
    val nCoders = f.coders.length
    if (nCoders < 1 || nCoders > 8) throw Bad
    if (f.coders.exists(_.numOut != 1)) throw Bad // no splitter coders
    // global in-stream index ranges per coder; out index == coder idx
    val inStart = new Array[Int](nCoders + 1)
    var i = 0
    while (i < nCoders) {
      inStart(i + 1) = inStart(i) + f.coders(i).numIn
      i += 1
    }
    val totalIn = inStart(nCoders)
    // in-stream → bound out-stream (or -1)
    val boundOut = Array.fill(totalIn)(-1)
    for ((bin, bout) <- f.bindPairs) {
      if (bin < 0 || bin >= totalIn || bout < 0 || bout >= nCoders)
        throw Bad
      boundOut(bin) = bout
    }
    // in-stream → packed-span index
    val packOrder: Array[Int] =
      if (f.packedIndices.nonEmpty) f.packedIndices
      else (0 until totalIn).filter(boundOut(_) < 0).toArray
    if (packOrder.length != spans.length) throw Bad
    val packOfIn = Array.fill(totalIn)(-1)
    i = 0
    while (i < packOrder.length) {
      val in = packOrder(i)
      if (in < 0 || in >= totalIn || boundOut(in) >= 0 ||
        packOfIn(in) >= 0) throw Bad
      packOfIn(in) = i
      i += 1
    }
    def packedBytes(span: Int): Array[Byte] = {
      val (off, len) = spans(span)
      if (off < 0 || len < 0 || len > maxOut ||
        off + len > bytes.length) throw Bad
      java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt)
    }
    val memo = new Array[Array[Byte]](nCoders)
    val inFlight = new Array[Boolean](nCoders) // cycle guard
    def evalCoder(ci: Int): Array[Byte] = {
      if (memo(ci) != null) return memo(ci)
      if (inFlight(ci)) throw Bad
      inFlight(ci) = true
      val c = f.coders(ci)
      val ins = new Array[Array[Byte]](c.numIn)
      var j = 0
      while (j < c.numIn) {
        val g = inStart(ci) + j
        ins(j) =
          if (boundOut(g) >= 0) evalCoder(boundOut(g))
          else if (packOfIn(g) >= 0) packedBytes(packOfIn(g))
          else throw Bad
        j += 1
      }
      if (ci >= f.unpackSizes.length) throw Bad
      val unpack = f.unpackSizes(ci)
      if (unpack < 0 || unpack > maxOut) throw Bad
      val idHex = c.id.map(b => f"${b & 0xff}%02x").mkString
      val out: Array[Byte] = idHex match {
        case "0303011b" => // BCJ2: main, call, jump, rc
          if (c.numIn != 4) throw Bad
          bcj2Decode(ins(0), ins(1), ins(2), ins(3), unpack.toInt)
        case "03030103" => // x86 BCJ (1-in filter)
          if (c.numIn != 1) throw Bad
          val d = ins(0).clone()
          bcjX86Decode(d)
          d
        case "03" => // Delta
          if (c.numIn != 1) throw Bad
          val d = ins(0).clone()
          deltaDecode(d,
            (if (c.props.nonEmpty) c.props(0) & 0xff else 0) + 1)
          d
        case _ => // single-input compressors via the shared kernel
          if (c.numIn != 1) throw Bad
          decodeCoder(ins(0), 0L, ins(0).length.toLong, unpack, c, maxOut)
      }
      if (out.length != unpack) throw Bad
      memo(ci) = out
      inFlight(ci) = false
      out
    }
    // the folder result: the single out-stream no bind pair consumes
    var mainCoder = -1
    i = nCoders - 1
    while (i >= 0) {
      if (i >= f.bindOutConsumed.length || !f.bindOutConsumed(i)) {
        if (mainCoder >= 0) throw Bad // more than one loose output
        mainCoder = i
      }
      i -= 1
    }
    if (mainCoder < 0) throw Bad
    evalCoder(mainCoder)
  }

  private final case class FilesInfo(names: Array[String],
                                     emptyStream: Array[Boolean],
                                     emptyFile: Array[Boolean])

  private def parseFilesInfo(c: Cur, maxEntries: Int): FilesInfo = {
    val nFiles = c.num()
    if (nFiles < 0 || nFiles > maxEntries) throw Bad
    var names: Array[String] = Array.empty
    var emptyStream = new Array[Boolean](nFiles.toInt)
    var emptyFile = new Array[Boolean](nFiles.toInt)
    var id = c.num()
    while (id != KEnd) {
      val size = c.num()
      val blockEnd = c.pos + size
      if (size < 0 || blockEnd > c.end) throw Bad
      id match {
        case KEmptyStream =>
          if ((nFiles + 7) / 8 > size) throw Bad
          var i = 0
          val at = c.pos
          while (i < nFiles) {
            emptyStream(i) = (c.b(at + (i >> 3)) & (0x80 >> (i & 7))) != 0
            i += 1
          }
        case KEmptyFile =>
          // bit vector over the EMPTY-STREAM files only
          val nEmpty = emptyStream.count(identity)
          val at = c.pos
          var e = 0
          var i = 0
          while (i < nFiles) {
            if (emptyStream(i)) {
              if ((c.b(at + (e >> 3)) & (0x80 >> (e & 7))) != 0)
                emptyFile(i) = true
              e += 1
            }
            i += 1
          }
          if ((nEmpty + 7) / 8 > size) throw Bad
        case KName =>
          val external = c.b(c.pos) & 0xff
          if (external != 0) throw Bad
          // UTF-16LE, NUL-terminated each, from pos+1 to blockEnd
          val sb = new scala.collection.mutable.ArrayBuffer[String]
          var p = c.pos + 1
          var s = p
          while (p + 2 <= blockEnd.toInt && sb.length < nFiles) {
            if (c.b(p) == 0 && c.b(p + 1) == 0) {
              sb += new String(c.b, s, p - s,
                java.nio.charset.StandardCharsets.UTF_16LE)
              s = p + 2
            }
            p += 2
          }
          if (sb.length != nFiles) throw Bad
          names = sb.toArray
        case _ => () // mtimes, attributes, dummies: skipped
      }
      c.pos = blockEnd.toInt
      id = c.num()
    }
    if (names.length != nFiles) throw Bad
    FilesInfo(names, emptyStream, emptyFile)
  }

  /** Signature → next-header walk (CRC VERIFIED, encoded headers
    * decoded) → (files, main streams info — null when the archive
    * has no packed data). Throws [[Bad]] on anything malformed. */
  private def parseArchive(bytes: Array[Byte], maxEntries: Int,
                           maxHeader: Int): (FilesInfo, StreamsInfo) = {
    val n = bytes.length
    if (n < 32) throw Bad
    if (bytes(0) != '7' || bytes(1) != 'z' || (bytes(2) & 0xff) != 0xBC ||
      (bytes(3) & 0xff) != 0xAF || (bytes(4) & 0xff) != 0x27 ||
      (bytes(5) & 0xff) != 0x1C) throw Bad
    def le64(p: Int): Long = {
      var v = 0L
      var i = 7
      while (i >= 0) { v = (v << 8) | (bytes(p + i) & 0xffL); i -= 1 }
      v
    }
    def le32(p: Int): Long = {
      var v = 0L
      var i = 3
      while (i >= 0) { v = (v << 8) | (bytes(p + i) & 0xffL); i -= 1 }
      v
    }
    val nextOff = le64(12)
    val nextSize = le64(20)
    val nextCrc = le32(28)
    val hdrStart = 32L + nextOff
    if (nextSize < 0 || hdrStart < 32 || hdrStart + nextSize > n)
      throw Bad
    // next-header CRC verified, never skipped
    val crc = new java.util.zip.CRC32()
    crc.update(bytes, hdrStart.toInt, nextSize.toInt)
    if ((crc.getValue & 0xFFFFFFFFL) != nextCrc) throw Bad
    var hc = new Cur(bytes, hdrStart.toInt, (hdrStart + nextSize).toInt)
    var id = hc.num()
    if (id == KEncodedHeader) {
      val si = parseStreamsInfo(hc, maxEntries)
      val header = decodeFolder(bytes, 0L, si, maxHeader)
      hc = new Cur(header, 0, header.length)
      id = hc.num()
    }
    if (id != KHeader) throw Bad
    var files: FilesInfo = null
    var main: StreamsInfo = null
    id = hc.num()
    while (id != KEnd) {
      id match {
        case KMainStreamsInfo => main = parseStreamsInfo(hc, maxEntries)
        case KFilesInfo => files = parseFilesInfo(hc, maxEntries)
        case 0x02 | 0x03 => skipBlocks(hc) // archive props / extra
        case _ => throw Bad
      }
      id = hc.num()
    }
    if (files == null) throw Bad
    (files, main)
  }

  /** The per-row kernel — public static so generated code can call it. */
  def compute(bytes: Array[Byte], maxEntries: Int,
              maxHeader: Int): GenericArrayData = {
    try {
      val (files, main) = parseArchive(bytes, maxEntries, maxHeader)
      val out = new java.util.ArrayList[Any]
      var sub = 0
      var i = 0
      while (i < files.names.length) {
        val empty = files.emptyStream(i)
        val isDir = empty && !files.emptyFile(i)
        val size: Long =
          if (empty) 0L
          else {
            if (main == null || sub >= main.subSizes.length) throw Bad
            val s = main.subSizes(sub)
            sub += 1
            s
          }
        out.add(new GenericInternalRow(Array[Any](
          UTF8String.fromString(files.names(i)), size,
          java.lang.Boolean.valueOf(isDir))))
        i += 1
      }
      new GenericArrayData(out.toArray)
    } catch {
      case Bad => null
      case _: ArrayIndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
    }
  }

  /** The member-EXTRACTION kernel behind [[SevenZipMembers]] — the
    * listing plus each member's decompressed bytes where the folder
    * is a single supported coder. Per folder: locate its packed
    * span (cumulative pack sizes; refused folders still advance the
    * index), decode ONCE via the header path's coder set, slice the
    * folder output into substreams (solid archives), VERIFY each
    * substream CRC when the header defines one. Folders decode
    * through [[decodeFolderChain]] (one coder, or a compressor →
    * x86-BCJ/Delta filter chain via the bind pair) or, for the
    * multi-packed BCJ2 shape, [[decodeFolderGraph]]. `data`
    * is null — with the row kept — for directories, members of
    * unsupported folders (PPMd/AES), CRC mismatches, and
    * folders past the aggregate `maxOut` bomb cap; empty FILES
    * carry empty bytes. */
  def computeMembers(bytes: Array[Byte], maxEntries: Int,
                     maxOut: Int): GenericArrayData = {
    try {
      val (files, main) = parseArchive(bytes, maxEntries, maxOut)
      val nFolders = if (main == null) 0 else main.folders.length
      // folder → first pack-stream index and first substream index
      val packIdx = new Array[Int](nFolders)
      val firstSub = new Array[Int](nFolders)
      var pi = 0
      var fs = 0
      var f = 0
      while (f < nFolders) {
        packIdx(f) = pi
        firstSub(f) = fs
        pi += main.folders(f).numPackedStreams
        fs += (if (f < main.numUnpackStreams.length)
          main.numUnpackStreams(f) else 1)
        f += 1
      }
      val folderData = new Array[Array[Byte]](nFolders)
      val folderFailed = new Array[Boolean](nFolders)
      var budget = maxOut.toLong
      def folderBytes(fi: Int): Array[Byte] = {
        if (folderData(fi) == null && !folderFailed(fi)) {
          val fo = main.folders(fi)
          try {
            val p = packIdx(fi)
            if (p + fo.numPackedStreams > main.packSizes.length) throw Bad
            var off = 32L + main.packPos
            var k = 0
            while (k < p) { off += main.packSizes(k); k += 1 }
            val unpack = fo.mainUnpackSize
            if (unpack > budget) throw Bad // aggregate bomb cap
            folderData(fi) =
              if (fo.numPackedStreams == 1)
                decodeFolderChain(bytes, off, main.packSizes(p), fo, maxOut)
              else {
                // multi-packed folder (the BCJ2 shape): packed spans
                // in pack order, resolved through the coder graph
                val spans = new Array[(Long, Long)](fo.numPackedStreams)
                var s = 0
                var o = off
                while (s < fo.numPackedStreams) {
                  spans(s) = (o, main.packSizes(p + s))
                  o += main.packSizes(p + s)
                  s += 1
                }
                decodeFolderGraph(bytes, spans, fo, maxOut)
              }
            budget -= unpack
          } catch {
            case Bad => folderFailed(fi) = true
            case _: ArrayIndexOutOfBoundsException => folderFailed(fi) = true
            case _: NegativeArraySizeException => folderFailed(fi) = true
          }
        }
        folderData(fi)
      }
      // substream → folder (via firstSub spans) and offset inside it
      def subFolder(sub: Int): Int = {
        var fi = nFolders - 1
        while (fi >= 0 && firstSub(fi) > sub) fi -= 1
        if (fi < 0) throw Bad
        fi
      }
      val out = new java.util.ArrayList[Any]
      var sub = 0
      var i = 0
      while (i < files.names.length) {
        val empty = files.emptyStream(i)
        val isDir = empty && !files.emptyFile(i)
        var size = 0L
        var data: Array[Byte] = if (isDir) null else Array.emptyByteArray
        if (!empty) {
          if (main == null || sub >= main.subSizes.length) throw Bad
          size = main.subSizes(sub)
          val fi = subFolder(sub)
          val fb = folderBytes(fi)
          data = null
          if (fb != null) {
            var off = 0L
            var k = firstSub(fi)
            while (k < sub) { off += main.subSizes(k); k += 1 }
            if (off >= 0 && size >= 0 && off + size <= fb.length) {
              val slice = java.util.Arrays.copyOfRange(fb, off.toInt,
                (off + size).toInt)
              val ok =
                if (sub < main.subCrcDefined.length &&
                  main.subCrcDefined(sub)) {
                  val c = new java.util.zip.CRC32()
                  c.update(slice, 0, slice.length)
                  (c.getValue & 0xFFFFFFFFL) == main.subCrcs(sub)
                } else true
              if (ok) data = slice
            }
          }
          sub += 1
        }
        out.add(new GenericInternalRow(Array[Any](
          UTF8String.fromString(files.names(i)), size,
          java.lang.Boolean.valueOf(isDir), data)))
        i += 1
      }
      new GenericArrayData(out.toArray)
    } catch {
      case Bad => null
      case _: ArrayIndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
    }
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; 64k entries, 16 MiB header. */
  def apply(payload: Column, maxEntries: Int = 1 << 16,
            maxHeader: Int = 1 << 24): Column =
    ColumnShim.column(
      SevenZipList(ColumnShim.expression(payload), maxEntries, maxHeader))
}

/** 7-Zip member EXTRACTION — [[SevenZipList]]'s sibling carrying each
  * member's decompressed bytes: the zip tier extracts
  * ([[ZipEntryBytes]]) and tar extracts (`tarMemberText`), so the
  * third source-release container does too for the common case —
  * single-coder folders under COPY/LZMA/LZMA2/BZIP2/DEFLATE (what
  * `7z`, commons-compress and py7zr emit for source archives).
  * Multi-coder folders (BCJ filter chains, bind pairs), encrypted or
  * PPMd folders keep the LISTING-tier refusal: their rows stay with
  * `data` NULL, never silently wrong bytes. Substream CRC32s are
  * VERIFIED when the header defines them; a solid folder decodes
  * ONCE and slices per member; an aggregate `maxOut` cap bounds the
  * decoded bytes per archive (bomb guard).
  *
  * Output: array of `(name, size, is_dir, data)` in archive order —
  * `data` null for directories and every refusal above, empty for
  * zero-byte files.
  *
  * FAIL-CLOSED NULL (whole row) on everything [[SevenZipList]]
  * refuses. Per-row bounded work, zero shuffle, codegen'd. */
case class SevenZipMembers(child: Expression, maxEntries: Int, maxOut: Int)
    extends UnaryExpression {
  require(maxEntries > 0 && maxOut > 0, "bounds must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sevenzip_members expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("is_dir", BooleanType, nullable = false),
    StructField("data", BinaryType, nullable = true))),
    containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    SevenZipList.computeMembers(a.asInstanceOf[Array[Byte]], maxEntries,
      maxOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.SevenZipList.computeMembers($c, $maxEntries, $maxOut);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "sevenzip_members"
}

object SevenZipMembers {
  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; 64k entries, 64 MiB aggregate decode. */
  def apply(payload: Column, maxEntries: Int = 1 << 16,
            maxOut: Int = 1 << 26): Column =
    ColumnShim.column(
      SevenZipMembers(ColumnShim.expression(payload), maxEntries, maxOut))
}
