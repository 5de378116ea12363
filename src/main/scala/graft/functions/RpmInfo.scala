package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** RPM package census — debControl's sibling for the other package
  * universe (Fedora/RHEL/SUSE repos, the `.rpm` long tail of software
  * corpora). From the public rpmlib file format: the 96-byte LEAD
  * (magic `ED AB EE DB`, version, the lead name — untrusted legacy,
  * only the magic is checked), the SIGNATURE header structure
  * (magic `8E AD E8 01`, big-endian index/store sizes, 16-byte index
  * entries) skipped whole and PADDED TO 8, then the MAIN header
  * structure whose index is walked for the identity tags:
  * NAME(1000) / VERSION(1001) / RELEASE(1002) / ARCH(1022) as
  * STRING(6), SUMMARY(1004) as I18NSTRING(9, first locale),
  * PAYLOADFORMAT(1124) / PAYLOADCOMPRESSOR(1125) as STRING(6).
  *
  * `payload_offset` points at the first byte AFTER the main header
  * store — the compressed cpio stream — so a pipeline chains
  * `rpm → {gzip|xz|zstd} → CpioEntries` with the bounded codec shells,
  * selected by the package's OWN payload_compressor tag
  * ([[graft.ext.Multimodal.rpmFiles]]). Absent optional tags stay
  * null; compressor defaults to gzip per rpmlib only in the WRAPPER,
  * never invented here.
  *
  * FAIL-CLOSED NULL for: wrong lead/header magics, index counts or
  * store sizes past bounds, a string tag running past its store, a
  * required tag (NAME/VERSION/RELEASE) absent. Per-row bounded work,
  * zero shuffle, codegen'd. */
case class RpmInfo(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rpm_info expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("version", StringType, nullable = false),
    StructField("release", StringType, nullable = false),
    StructField("arch", StringType, nullable = true),
    StructField("summary", StringType, nullable = true),
    StructField("payload_format", StringType, nullable = true),
    StructField("payload_compressor", StringType, nullable = true),
    StructField("payload_offset", LongType, nullable = false)))

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    RpmInfo.compute(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.RpmInfo.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "rpm_info"
}

object RpmInfo {

  private case object Bad extends Exception { override def fillInStackTrace(): Throwable = this }

  /** The per-row kernel — public static so generated code can call it. */
  def compute(b: Array[Byte]): InternalRow = {
    try {
      if (b == null || b.length < 96 + 16) return null
      if (b(0) != 0xed.toByte || b(1) != 0xab.toByte ||
        b(2) != 0xee.toByte || b(3) != 0xdb.toByte) return null
      // signature header structure, skipped whole, padded to 8
      val sigEnd = headerEnd(b, 96)
      val sigPadded = (sigEnd + 7) & ~7
      // main header structure
      val hdrStart = sigPadded
      val hdrEnd = headerEnd(b, hdrStart)
      val nIndex = be32(b, hdrStart + 8)
      val storeOff = hdrStart + 16 + 16 * nIndex
      var name: UTF8String = null
      var version: UTF8String = null
      var release: UTF8String = null
      var arch: UTF8String = null
      var summary: UTF8String = null
      var pFormat: UTF8String = null
      var pComp: UTF8String = null
      var i = 0
      while (i < nIndex) {
        val e = hdrStart + 16 + 16 * i
        val tag = be32(b, e)
        val typ = be32(b, e + 4)
        val off = be32(b, e + 8)
        if ((typ == 6 || typ == 9) && off >= 0) {
          val v = cstring(b, storeOff + off, hdrEnd)
          tag match {
            case 1000 => name = v
            case 1001 => version = v
            case 1002 => release = v
            case 1004 => summary = v // i18n: first locale's string
            case 1022 => arch = v
            case 1124 => pFormat = v
            case 1125 => pComp = v
            case _ =>
          }
        }
        i += 1
      }
      if (name == null || version == null || release == null) return null
      new GenericInternalRow(Array[Any](
        name, version, release, arch, summary, pFormat, pComp,
        hdrEnd.toLong))
    } catch {
      case Bad => null
      case _: ArrayIndexOutOfBoundsException => null
    }
  }

  /** Validate a header structure at `p`; return the offset just past
    * its store. */
  private def headerEnd(b: Array[Byte], p: Int): Int = {
    if (p + 16 > b.length) throw Bad
    if (b(p) != 0x8e.toByte || b(p + 1) != 0xad.toByte ||
      b(p + 2) != 0xe8.toByte || b(p + 3) != 0x01.toByte) throw Bad
    val nIndex = be32(b, p + 8)
    val storeSize = be32(b, p + 12)
    if (nIndex < 0 || nIndex > (1 << 16) || storeSize < 0 ||
      storeSize > (1 << 26)) throw Bad
    val end = p + 16 + 16 * nIndex + storeSize
    if (end > b.length) throw Bad
    end
  }

  private def cstring(b: Array[Byte], off: Int, end: Int): UTF8String = {
    if (off < 0 || off >= end) throw Bad
    var e = off
    while (e < end && b(e) != 0) e += 1
    if (e >= end) throw Bad // unterminated: ran past the store
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, off, e))
  }

  private def be32(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) |
      ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point. */
  def apply(payload: Column): Column =
    ColumnShim.column(RpmInfo(ColumnShim.expression(payload)))
}
