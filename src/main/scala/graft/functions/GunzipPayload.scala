package graft.functions

import java.util.zip.CRC32

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded gzip member decompression (RFC 1952) — the kernel that
  * makes the WARC tier reach the actual archive format: Common Crawl
  * ships one gzip member per record, so `gunzip → warcParse` is the
  * first real step of a crawl pipeline. (The reference engine copies
  * rows, not crawls; this is part of the §2.11 pipeline surface.)
  *
  * Parses the full RFC 1952 framing in one pass: magic `1F 8B`,
  * DEFLATE method byte, FLG-driven optional fields skipped in order
  * (FEXTRA with its LE length, null-terminated FNAME and FCOMMENT,
  * 2-byte FHCRC), then the raw-DEFLATE stream via the JDK's
  * `Inflater(nowrap)` behind [[BoundedDecode.inflateCounted]] (which
  * also reports where the stream ended), and finally the mandatory
  * 8-byte trailer: the member is accepted only if the CRC32 of the
  * inflated bytes and ISIZE (length mod 2³²) both match.
  *
  * FAIL-CLOSED NULL on every malformed shape: wrong magic, non-DEFLATE
  * method, header truncated mid-field, corrupt DEFLATE data, stream
  * truncated before the trailer, CRC/ISIZE mismatch — and on any
  * member inflating past `maxOut` bytes (the decompression-bomb
  * guard: a 100 TB scan must bound worst-case memory per row, and a
  * silently truncated document would poison every downstream text
  * operator, so over-cap is rejected, not clipped). Only the FIRST
  * member of a multi-member concatenation is read — per-record crawl
  * payloads are single members; walk offsets upstream for the rest.
  *
  * Per-row bounded work, zero shuffle, codegen'd via the static
  * kernel. */
case class GunzipPayload(child: Expression, maxOut: Int)
    extends UnaryExpression {
  require(maxOut > 0, "output cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gunzip_payload expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = BinaryType

  // a malformed member yields null even though the input is non-null
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    GunzipPayload.compute(a.asInstanceOf[Array[Byte]], maxOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.GunzipPayload.compute($c, $maxOut);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "gunzip_payload"
}

/** Concatenated gzip MEMBERS decompressed in one pass — the actual
  * on-disk shape of a Common Crawl `.warc.gz`: one RFC 1952 member
  * per record, back to back, so a record-splitting reader hands this
  * kernel the archive bytes and gets the record list. Each member
  * goes through [[GunzipPayload]]'s full framing parse (optional-
  * field skipping, CRC32+ISIZE verification, per-member output cap);
  * the walk is additionally bounded by `maxMembers`.
  *
  * FAIL-CLOSED NULL for the WHOLE row if ANY member is malformed,
  * any cap trips, or trailing non-gzip bytes follow the last member —
  * a half-readable archive is a corrupt archive, and partial salvage
  * belongs to an explicit recovery pass, not a silent default.
  * Besides the per-member `maxOut`, the AGGREGATE inflated output is
  * capped at `maxTotalOut`: without it, many small members each under
  * `maxOut` (a concatenated-bomb archive) could accumulate an
  * unbounded result list and OOM the executor before any per-member
  * cap tripped. Returns `array<binary>`, one element per member, in
  * order. */
case class GunzipMembers(child: Expression, maxMembers: Int, maxOut: Int,
                         maxTotalOut: Long)
    extends UnaryExpression {
  require(maxMembers > 0, "member walk bound must be positive")
  require(maxOut > 0, "output cap must be positive")
  require(maxTotalOut > 0, "total output cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gunzip_members expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    GunzipPayload.computeMembers(a.asInstanceOf[Array[Byte]], maxMembers,
      maxOut, maxTotalOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.GunzipPayload.computeMembers($c, $maxMembers, $maxOut, ${maxTotalOut}L);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "gunzip_members"
}

object GunzipMembers {
  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; caps default to 65536 members of
    * ≤16 MiB each, with the aggregate inflated output additionally
    * bounded at 256 MiB per row. */
  def apply(payload: Column, maxMembers: Int = 1 << 16,
            maxOut: Int = 1 << 24, maxTotalOut: Long = 1L << 28): Column =
    ColumnShim.column(
      GunzipMembers(ColumnShim.expression(payload), maxMembers, maxOut,
        maxTotalOut))
}

object GunzipPayload {

  /** The per-row kernel — public static so generated code can call it.
    * Returns null for every malformed/over-cap shape (fail closed). */
  def compute(bytes: Array[Byte], maxOut: Int): Array[Byte] = {
    val r = computeAt(bytes, 0, maxOut)
    // the single-member form also refuses trailing bytes: a payload
    // with a second member should go through GunzipMembers explicitly
    if (r == null || r._2 != bytes.length) null else r._1
  }

  /** Walk every concatenated member via [[computeAt]] — public static
    * so generated code can call it. Null if any member fails, a cap
    * trips (per-member, member count, or aggregate output), or
    * trailing bytes remain. */
  def computeMembers(bytes: Array[Byte], maxMembers: Int,
                     maxOut: Int, maxTotalOut: Long): GenericArrayData = {
    val out = new java.util.ArrayList[Any]
    var pos = 0
    var total = 0L
    while (pos < bytes.length) {
      if (out.size() >= maxMembers) return null
      val r = computeAt(bytes, pos, maxOut)
      if (r == null) return null
      total += r._1.length
      if (total > maxTotalOut) return null // concatenated-bomb guard
      out.add(r._1)
      pos = r._2
    }
    new GenericArrayData(out.toArray)
  }

  /** One member starting at `start`: (inflated bytes, offset just past
    * the trailer), or null on any malformed shape. */
  private def computeAt(bytes: Array[Byte], start: Int,
                        maxOut: Int): (Array[Byte], Int) = {
    val n = bytes.length
    // 10-byte header + >=2-byte deflate + 8-byte trailer
    if (start < 0 || start + 20 > n) return null
    if (bytes(start) != 0x1f.toByte || bytes(start + 1) != 0x8b.toByte ||
      bytes(start + 2) != 8.toByte) return null
    val flg = bytes(start + 3) & 0xff
    var pos = start + 10
    if ((flg & 4) != 0) { // FEXTRA: LE length + payload
      if (pos + 2 > n) return null
      pos += 2 + ((bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8))
    }
    if ((flg & 8) != 0) { // FNAME: null-terminated
      while (pos < n && bytes(pos) != 0) pos += 1
      pos += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT: null-terminated
      while (pos < n && bytes(pos) != 0) pos += 1
      pos += 1
    }
    if ((flg & 2) != 0) pos += 2 // FHCRC
    // at least 2 bytes of deflate + the 8-byte trailer must remain
    // (also catches optional-field skips that ran past the buffer)
    if (pos < 0 || pos + 10 > n) return null
    val r = BoundedDecode.inflateCounted(bytes, pos, n - pos, nowrap = true,
      maxOut)
    if (r == null) return null
    val out = r._1
    // mandatory trailer: CRC32 then ISIZE, both LE, right after the
    // deflate stream
    val tpos = pos + r._2
    if (tpos + 8 > n) return null
    def le32(p: Int): Long =
      (bytes(p) & 0xffL) | ((bytes(p + 1) & 0xffL) << 8) |
        ((bytes(p + 2) & 0xffL) << 16) | ((bytes(p + 3) & 0xffL) << 24)
    val crc = new CRC32()
    crc.update(out)
    if (crc.getValue != le32(tpos)) return null
    if ((out.length.toLong & 0xffffffffL) != le32(tpos + 4)) return null
    (out, tpos + 8)
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; `maxOut` defaults to 16 MiB — generous
    * for crawl records (Common Crawl caps bodies around 1 MiB) while
    * bounding worst-case row memory. */
  def apply(payload: Column, maxOut: Int = 1 << 24): Column =
    ColumnShim.column(GunzipPayload(ColumnShim.expression(payload), maxOut))
}
