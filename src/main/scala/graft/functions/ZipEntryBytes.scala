package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ZIP member content extraction — the step [[graft.ext.Multimodal]]'s
  * `zipMeta` walk stops short of: resolve the entry named `entryName`
  * and yield its bytes — stored members (method 0) sliced directly,
  * DEFLATE members (method 8) inflated by the JDK's `Inflater(nowrap)`
  * ([[BoundedDecode.inflate]]), and the modern methods through the
  * library-backed codec shells: bzip2 (12, commons-compress), LZMA
  * (14, xz-java; the APPNOTE version+props preamble with sized or
  * end-marker streams), zstd (93, zstd-jni), xz (95, xz-java).
  * This is what turns a crawled OOXML payload into text:
  * `word/document.xml` is one extraction away from the document
  * corpus.
  *
  * PRIMARY resolution is the central directory: locate the
  * end-of-central-directory record (`PK\x05\x06`, scanned backwards
  * past any trailing comment), walk the CD (`PK\x01\x02`) for exact
  * `(name, method, csize, usize, local-header offset)` per entry,
  * then slice/inflate at the offset's local header. This reads the
  * data-descriptor archives streaming writers produce (Java
  * `ZipOutputStream`, Python `zipfile` in stream mode set flag bit 3
  * and leave local csize/usize zero — only the descriptor and the CD
  * carry them). FALLBACK for truncated archives with no EOCD: the
  * sequential local-file-header walk
  * (`pos → pos+30+namelen+extralen+csize`), which still refuses
  * data-descriptor entries (csize unknown without a CD).
  *
  * FAIL-CLOSED NULL on: non-ZIP payload, malformed/truncated
  * header, corrupt CD when an EOCD is present (a claimed CD is never
  * second-guessed by the fallback walk), a ZIP64 marker without its
  * backing record (real ZIP64 archives — marker EOCD fields resolved
  * through the locator + ZIP64 EOCD, per-entry markers through the
  * 0x0001 extra — read fine), unknown compression method, corrupt DEFLATE data, a declared or
  * actual uncompressed size past `maxOut` (bomb guard — rejected,
  * never clipped), inflate output diverging from the declared usize,
  * and entry-not-found. Both walks are bounded to `maxEntries`
  * headers. Per-row bounded work, zero shuffle, codegen'd. */
case class ZipEntryBytes(child: Expression, entryName: String, maxOut: Int,
                         maxEntries: Int)
    extends UnaryExpression {
  require(maxOut > 0, "output cap must be positive")
  require(maxEntries > 0, "entry walk bound must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"zip_entry_bytes expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    ZipEntryBytes.compute(a.asInstanceOf[Array[Byte]],
      UTF8String.fromString(entryName), maxOut, maxEntries)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nameRef = ctx.addReferenceObj("entryName",
      UTF8String.fromString(entryName), "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ZipEntryBytes.compute($c, $nameRef, $maxOut, $maxEntries);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "zip_entry_bytes"
}

/** [[ZipEntryBytes]] with a PER-ROW member name — the form indirect
  * container formats need: EPUB's `META-INF/container.xml` names the
  * OPF member, so the second extraction's target is data, not a
  * constant. Same walk, same fail-closed contract; a null name is a
  * null result. */
case class ZipEntryBytesAt(left: Expression, right: Expression,
                           maxOut: Int, maxEntries: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(maxOut > 0, "output cap must be positive")
  require(maxEntries > 0, "entry walk bound must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: BinaryType, _: StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"zip_entry_bytes_at expects (binary, string), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def nullSafeEval(p: Any, name: Any): Any =
    ZipEntryBytes.compute(p.asInstanceOf[Array[Byte]],
      name.asInstanceOf[UTF8String], maxOut, maxEntries)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, nm) => s"""
      ${ev.value} = graft.functions.ZipEntryBytes.compute($p, $nm, $maxOut, $maxEntries);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "zip_entry_bytes_at"
}

object ZipEntryBytesAt {
  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point with a per-row member name. */
  def apply(payload: Column, entryName: Column,
            maxOut: Int = 1 << 24, maxEntries: Int = 1024): Column =
    ColumnShim.column(ZipEntryBytesAt(ColumnShim.expression(payload),
      ColumnShim.expression(entryName), maxOut, maxEntries))
}

/** ZIP entry LISTING — the [[TarEntries]] shape for zip archives:
  * `(name, method, csize, usize, offset)` per entry with `offset`
  * pointing at the entry's data. Central-directory primary (exact
  * sizes even for data-descriptor entries from streaming writers),
  * local-header walk fallback when no EOCD exists (where flag-bit-3
  * entries still fail closed). ZIP64 archives resolve through the
  * locator/EOCD64 and per-entry 0x0001 extras. Corrupt CD, a ZIP64
  * marker without its backing record, junk payloads → null
  * (whole-archive fail-closed). */
case class ZipEntries(child: Expression, maxEntries: Int)
    extends UnaryExpression {
  require(maxEntries > 0, "entry walk bound must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"zip_entries expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("method", IntegerType, nullable = false),
    StructField("csize", LongType, nullable = false),
    StructField("usize", LongType, nullable = false),
    StructField("offset", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    ZipEntryBytes.computeEntries(a.asInstanceOf[Array[Byte]], maxEntries)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ZipEntryBytes.computeEntries($c, $maxEntries);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "zip_entries"
}

object ZipEntries {
  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; the walk bound defaults to 4096. */
  def apply(payload: Column, maxEntries: Int = 4096): Column =
    ColumnShim.column(ZipEntries(ColumnShim.expression(payload), maxEntries))
}

/** Member extraction BY COORDINATES — the second half of the
  * resolve-once contract: [[ZipEntries]] already walked the archive
  * and knows every entry's `(method, csize, usize, offset)`; this
  * expression slices/inflates straight at those coordinates with NO
  * second EOCD scan or CD walk. Compositions that resolve the archive
  * once behind an alias and extract N members ([[graft.ext.Multimodal]]
  * `documentText`/`zipFileTexts`/`xlsxCells`) pay ONE resolution per
  * row instead of N+1 — the by-name kernels remain for standalone
  * single-member pulls.
  *
  * `entry` is one element of the [[ZipEntries]] array (or
  * `try_element_at` over a filtered lookup — a missing member arrives
  * as a null struct and yields null). Same fail-closed extraction
  * contract as [[ZipEntryBytes]]: bad method, corrupt DEFLATE, size
  * disagreement, over-cap, out-of-bounds slice → null. */
case class ZipMemberData(left: Expression, right: Expression, maxOut: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(maxOut > 0, "output cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: BinaryType, s: StructType)
        if s.fieldNames.sameElements(
          Array("name", "method", "csize", "usize", "offset")) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"zip_member_data expects (binary, zip-entry struct), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def nullSafeEval(p: Any, e: Any): Any =
    ZipEntryBytes.extractAt(p.asInstanceOf[Array[Byte]],
      e.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow], maxOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, e) => s"""
      ${ev.value} = graft.functions.ZipEntryBytes.extractAt($p, $e, $maxOut);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "zip_member_data"
}

object ZipMemberData {
  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point over a [[ZipEntries]] element. */
  def apply(payload: Column, entry: Column, maxOut: Int = 1 << 24): Column =
    ColumnShim.column(ZipMemberData(ColumnShim.expression(payload),
      ColumnShim.expression(entry), maxOut))
}

object ZipEntryBytes {

  private def le16(bytes: Array[Byte], p: Int): Int =
    (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
  private def le32(bytes: Array[Byte], p: Int): Long =
    (bytes(p) & 0xffL) | ((bytes(p + 1) & 0xffL) << 8) |
      ((bytes(p + 2) & 0xffL) << 16) | ((bytes(p + 3) & 0xffL) << 24)

  /** Offset of the end-of-central-directory record, or -1. Scans
    * backwards from the end (EOCD is 22 bytes + a comment of up to
    * 65535), accepting the first `PK\x05\x06` whose comment length
    * reaches exactly the end of the payload — the standard
    * disambiguation against signature bytes inside member data. */
  def findEocd(bytes: Array[Byte]): Int = {
    val n = bytes.length
    var p = n - 22
    val floor = math.max(0, n - 22 - 65535)
    while (p >= floor) {
      if (bytes(p) == 0x50 && bytes(p + 1) == 0x4b && bytes(p + 2) == 5 &&
        bytes(p + 3) == 6 && p + 22 + le16(bytes, p + 20) == n) return p
      p -= 1
    }
    -1
  }

  /** [[ZipMemberData]]'s kernel body: extraction at coordinates read
    * from one [[ZipEntries]] element (fields name/method/csize/usize/
    * offset in listing order) — public static so generated code can
    * call it. */
  def extractAt(bytes: Array[Byte],
                entry: org.apache.spark.sql.catalyst.InternalRow,
                maxOut: Int): Array[Byte] = {
    if (entry.isNullAt(1) || entry.isNullAt(2) || entry.isNullAt(3) ||
      entry.isNullAt(4)) return null
    val offset = entry.getLong(4)
    if (offset < 0 || offset > bytes.length) return null
    extractData(bytes, offset.toInt, entry.getInt(1), entry.getLong(2),
      entry.getLong(3), maxOut)
  }

  /** One member's data given CD/local-header facts: slice (method 0),
    * inflate (8), or route the modern methods through the repo's own
    * from-spec decoders — bzip2 (12), LZMA (14: the APPNOTE
    * version+props preamble, sized or end-marker stream), zstd (93)
    * and xz (95). Every decode must land EXACTLY on the declared
    * uncompressed size; null on any malformed shape or cap trip. */
  private def extractData(bytes: Array[Byte], dataStart: Int, method: Int,
                          csize: Long, usize: Long,
                          maxOut: Int): Array[Byte] = {
    val n = bytes.length
    if (usize > maxOut) return null // declared bomb
    if (dataStart < 0 || dataStart.toLong + csize > n) return null
    if (method == 0) {
      if (csize != usize) return null
      return java.util.Arrays.copyOfRange(bytes, dataStart,
        dataStart + csize.toInt)
    }
    if (method == 12) { // bzip2 member
      val out = Bunzip2.compute(java.util.Arrays.copyOfRange(bytes,
        dataStart, dataStart + csize.toInt), maxOut)
      return if (out != null && out.length == usize) out else null
    }
    if (method == 14) { // LZMA member: version(2) propsSize(2) props(5)
      if (csize < 9) return null
      val propsSize = (bytes(dataStart + 2) & 0xff) |
        ((bytes(dataStart + 3) & 0xff) << 8)
      if (propsSize != 5 || csize < 4 + 5) return null
      val prop = bytes(dataStart + 4) & 0xff
      val dOff = dataStart + 9
      val dLen = (csize - 9).toInt
      // sized stream first; writers that emit the end marker (the
      // python zipfile shape) fall to the marker decoder
      var out = XzPayload.lzma1(bytes, dOff, dLen, usize.toInt, prop,
        maxOut)
      if (out == null)
        out = XzPayload.lzma1Marker(bytes, dOff, dLen, prop, usize.toInt)
      return if (out != null && out.length == usize) out else null
    }
    if (method == 93) { // zstd member
      val out = ZstdPayload.compute(java.util.Arrays.copyOfRange(bytes,
        dataStart, dataStart + csize.toInt), maxOut)
      return if (out != null && out.length == usize) out else null
    }
    if (method == 95) { // xz member (a whole .xz container)
      val out = XzPayload.compute(java.util.Arrays.copyOfRange(bytes,
        dataStart, dataStart + csize.toInt), maxOut)
      return if (out != null && out.length == usize) out else null
    }
    if (method != 8) return null
    if (usize == 0) return Array.empty[Byte] // empty member
    // the member must inflate to EXACTLY the declared size
    val out = BoundedDecode.inflate(bytes, dataStart, csize.toInt,
      nowrap = true, usize.toInt)
    if (out != null && out.length == usize) out else null
  }

  private def le64(bytes: Array[Byte], p: Int): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (bytes(p + i) & 0xffL); i -= 1 }
    v
  }

  /** EOCD-level directory bounds, ZIP64-resolved: when any EOCD field
    * carries its 16/32-bit marker, the ZIP64 locator (20 bytes before
    * the EOCD) points at the ZIP64 EOCD whose 64-bit count/size/offset
    * are authoritative — the shape every >4 GiB archive and every
    * `Zip64Mode.Always` writer emits. Returns (count, cdOff, cdEnd)
    * or null on a malformed/absent ZIP64 record. */
  private def cdBounds(bytes: Array[Byte], eocd: Int): (Long, Long, Long) = {
    val count16 = le16(bytes, eocd + 10)
    val cdSize32 = le32(bytes, eocd + 12)
    val cdOff32 = le32(bytes, eocd + 16)
    if (count16 != 0xffff && cdSize32 != 0xffffffffL &&
      cdOff32 != 0xffffffffL)
      return (count16.toLong, cdOff32, cdOff32 + cdSize32)
    val loc = eocd - 20
    if (loc < 0 || le32(bytes, loc) != 0x07064b50L) return null
    val z = le64(bytes, loc + 8)
    if (z < 0 || z + 56 > loc || le32(bytes, z.toInt) != 0x06064b50L)
      return null
    val count = le64(bytes, z.toInt + 32)
    val cdSize = le64(bytes, z.toInt + 40)
    val cdOff = le64(bytes, z.toInt + 48)
    if (count < 0 || cdSize < 0 || cdOff < 0 || cdOff + cdSize > z)
      return null
    (count, cdOff, cdOff + cdSize)
  }

  /** Resolve a CD entry's 0xFFFFFFFF marker fields through its
    * ZIP64 (id 0x0001) extra field — values present in spec order
    * only for the fields that carry the marker. Null when a marker
    * has no backing value (malformed). */
  private def zip64Resolve(bytes: Array[Byte], extraAt: Int, elen: Int,
                           usize0: Long, csize0: Long,
                           lho0: Long): (Long, Long, Long) = {
    if (usize0 != 0xffffffffL && csize0 != 0xffffffffL &&
      lho0 != 0xffffffffL) return (usize0, csize0, lho0)
    var p = extraAt
    val end = extraAt + elen
    while (p + 4 <= end) {
      val id = le16(bytes, p)
      val sz = le16(bytes, p + 2)
      if (p + 4 + sz > end) return null
      if (id == 1) {
        val fend = p + 4 + sz
        var q = p + 4
        var us = usize0
        var cs = csize0
        var lh = lho0
        if (us == 0xffffffffL) {
          if (q + 8 > fend) return null
          us = le64(bytes, q); q += 8
        }
        if (cs == 0xffffffffL) {
          if (q + 8 > fend) return null
          cs = le64(bytes, q); q += 8
        }
        if (lh == 0xffffffffL) {
          if (q + 8 > fend) return null
          lh = le64(bytes, q); q += 8
        }
        if (us < 0 || cs < 0 || lh < 0) return null
        return (us, cs, lh)
      }
      p += 4 + sz
    }
    null
  }

  /** Data offset behind a CD entry's local-header pointer: re-reads
    * the LOCAL name/extra lengths (they may differ from the CD's) and
    * sanity-checks the signature. -1 on any malformed shape. */
  private def localDataStart(bytes: Array[Byte], lho: Long): Int = {
    if (lho < 0 || lho + 30 > bytes.length) return -1
    val p = lho.toInt
    if (le32(bytes, p) != 0x04034b50L) return -1
    p + 30 + le16(bytes, p + 26) + le16(bytes, p + 28)
  }

  /** The per-row kernel — public static so generated code can call it.
    * `entryName` arrives as UTF8String so the comparison is raw-bytes
    * against the stored name (ZIP names are byte strings; OOXML
    * writers emit ASCII/UTF-8). CD-primary, local-walk fallback. */
  def compute(bytes: Array[Byte], entryName: UTF8String, maxOut: Int,
              maxEntries: Int): Array[Byte] = {
    val eocd = findEocd(bytes)
    if (eocd >= 0) computeViaCd(bytes, eocd, entryName, maxOut, maxEntries)
    else computeLocalWalk(bytes, entryName, maxOut, maxEntries)
  }

  /** Central-directory resolution: exact sizes/method/offset per entry
    * straight from the CD — the only place streaming writers put them. */
  private def computeViaCd(bytes: Array[Byte], eocd: Int,
                           entryName: UTF8String, maxOut: Int,
                           maxEntries: Int): Array[Byte] = {
    val target = entryName.getBytes
    val bounds = cdBounds(bytes, eocd)
    if (bounds == null) return null
    val (count, cdOff, cdEnd) = bounds
    if (count > maxEntries) return null
    if (cdEnd > eocd) return null
    var pos = cdOff.toInt
    var k = 0L
    while (k < count) {
      k += 1
      if (pos + 46 > eocd) return null
      if (le32(bytes, pos) != 0x02014b50L) return null // corrupt CD
      val method = le16(bytes, pos + 10)
      val csize0 = le32(bytes, pos + 20)
      val usize0 = le32(bytes, pos + 24)
      val nlen = le16(bytes, pos + 28)
      val elen = le16(bytes, pos + 30)
      val clen = le16(bytes, pos + 32)
      val lho0 = le32(bytes, pos + 42)
      if (pos + 46 + nlen + elen > eocd) return null
      val isTarget = nlen == target.length && {
        var i = 0
        var eq = true
        while (eq && i < nlen) {
          if (bytes(pos + 46 + i) != target(i)) eq = false
          i += 1
        }
        eq
      }
      if (isTarget) {
        val resolved = zip64Resolve(bytes, pos + 46 + nlen, elen,
          usize0, csize0, lho0)
        if (resolved == null) return null
        val (usize, csize, lho) = resolved
        val dataStart = localDataStart(bytes, lho)
        if (dataStart < 0) return null
        return extractData(bytes, dataStart, method, csize, usize, maxOut)
      }
      pos += 46 + nlen + elen + clen
    }
    null // entry not found
  }

  /** Sequential local-header fallback for truncated archives with no
    * EOCD; data-descriptor entries (flag bit 3) still fail closed
    * here — without a CD their csize is unknowable. */
  private def computeLocalWalk(bytes: Array[Byte], entryName: UTF8String,
                               maxOut: Int, maxEntries: Int): Array[Byte] = {
    val n = bytes.length
    val target = entryName.getBytes
    var pos = 0
    var steps = 0
    while (steps < maxEntries) {
      steps += 1
      if (pos < 0 || pos + 4 > n) return null
      val sig = le32(bytes, pos)
      if (sig != 0x04034b50L) return null // central dir / EOCD / junk: not found
      if (pos + 30 > n) return null
      val flags = le16(bytes, pos + 6)
      val method = le16(bytes, pos + 8)
      val csize = le32(bytes, pos + 18)
      val usize = le32(bytes, pos + 22)
      val nlen = le16(bytes, pos + 26)
      val elen = le16(bytes, pos + 28)
      if ((flags & 8) != 0) return null // data descriptor: csize unknown
      val dataStart = pos + 30 + nlen + elen
      if (dataStart.toLong + csize > n) return null
      val isTarget = nlen == target.length && {
        var i = 0
        var eq = true
        while (eq && i < nlen) {
          if (bytes(pos + 30 + i) != target(i)) eq = false
          i += 1
        }
        eq
      }
      if (isTarget)
        return extractData(bytes, dataStart, method, csize, usize, maxOut)
      pos = dataStart + csize.toInt
    }
    null // walk bound exhausted
  }

  /** CD-primary entry LISTING kernel body — array of
    * `(name, method, csize, usize, offset)` with `offset` pointing at
    * the entry's DATA (the [[TarEntries]] shape: extraction is a
    * `substr`/inflate away). ZIP64-resolved; null on corrupt CD or
    * junk; for
    * EOCD-less archives falls back to the local walk, where a
    * data-descriptor entry fails closed. */
  def computeEntries(bytes: Array[Byte],
                     maxEntries: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    if (bytes.length == 0) return null
    val out = new java.util.ArrayList[Any]
    def row(nameOff: Int, nameLen: Int, method: Int, csize: Long,
            usize: Long, dataStart: Int): Unit =
      out.add(new GenericInternalRow(Array[Any](
        UTF8String.fromBytes(bytes, nameOff, nameLen),
        method, csize, usize, dataStart.toLong)))
    val eocd = findEocd(bytes)
    if (eocd >= 0) {
      val bounds = cdBounds(bytes, eocd)
      if (bounds == null) return null
      val (count, cdOff, cdEnd) = bounds
      if (count > maxEntries) return null
      if (cdEnd > eocd) return null
      var pos = cdOff.toInt
      var k = 0L
      while (k < count) {
        k += 1
        if (pos + 46 > eocd) return null
        if (le32(bytes, pos) != 0x02014b50L) return null
        val method = le16(bytes, pos + 10)
        val csize0 = le32(bytes, pos + 20)
        val usize0 = le32(bytes, pos + 24)
        val nlen = le16(bytes, pos + 28)
        val elen = le16(bytes, pos + 30)
        val clen = le16(bytes, pos + 32)
        val lho0 = le32(bytes, pos + 42)
        if (pos + 46 + nlen + elen > eocd) return null
        val resolved = zip64Resolve(bytes, pos + 46 + nlen, elen,
          usize0, csize0, lho0)
        if (resolved == null) return null
        val (usize, csize, lho) = resolved
        val dataStart = localDataStart(bytes, lho)
        if (dataStart < 0) return null
        row(pos + 46, nlen, method, csize, usize, dataStart)
        pos += 46 + nlen + elen + clen
      }
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        out.toArray)
    }
    // no EOCD: sequential local walk; CD/EOCD signatures end it cleanly
    val n = bytes.length
    var pos = 0
    var steps = 0
    while (steps < maxEntries) {
      steps += 1
      if (pos + 4 > n)
        return if (pos == n)
          new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
        else null
      val sig = le32(bytes, pos)
      if (sig == 0x02014b50L || sig == 0x06054b50L)
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          out.toArray)
      if (sig != 0x04034b50L) return null
      if (pos + 30 > n) return null
      val flags = le16(bytes, pos + 6)
      val method = le16(bytes, pos + 8)
      val csize = le32(bytes, pos + 18)
      val usize = le32(bytes, pos + 22)
      val nlen = le16(bytes, pos + 26)
      val elen = le16(bytes, pos + 28)
      if ((flags & 8) != 0) return null // data descriptor without a CD
      val dataStart = pos + 30 + nlen + elen
      if (dataStart.toLong + csize > n) return null
      row(pos + 30, nlen, method, csize, usize, dataStart)
      pos = dataStart + csize.toInt
    }
    null // walk bound exhausted
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; `maxOut` defaults to 16 MiB, the
    * header walk to 1024 entries. */
  def apply(payload: Column, entryName: String,
            maxOut: Int = 1 << 24, maxEntries: Int = 1024): Column =
    ColumnShim.column(
      ZipEntryBytes(ColumnShim.expression(payload), entryName, maxOut,
        maxEntries))
}
