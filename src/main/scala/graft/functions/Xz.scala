package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.tukaani.xz.{LZMA2InputStream, LZMAInputStream, XZInputStream}

/** Bounded `.xz` decompression — the wrapper source releases and
  * scientific archives ship in (`.tar.xz`). Decoded by xz-java's
  * `XZInputStream` (on Spark's classpath): stream header/footer and
  * block-header CRCs, declared block sizes, the index, block and
  * stream padding, concatenated streams, and the integrity check of
  * each block (CRC32, CRC64, SHA-256 or none) all verified; the
  * LZMA2 filter with the delta and BCJ filters in front of it.
  *
  * FAIL-CLOSED NULL on every shape xz-java refuses — magic, flag or
  * CRC mismatches, reserved bits, declared-size disagreement,
  * range-coder desync, distances past the dictionary, truncation,
  * trailing garbage — and on output past `maxOut` (AGGREGATE
  * decompression-bomb guard — rejected, never clipped). A block whose
  * dictionary needs more memory than `xz -9` or `maxOut` is refused
  * before it is allocated. Per-row bounded work, zero shuffle,
  * codegen'd. */
case class XzPayload(child: Expression, maxOut: Int)
    extends UnaryExpression {
  require(maxOut > 0, "output cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"xz_payload expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    XzPayload.compute(a.asInstanceOf[Array[Byte]], maxOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.XzPayload.compute($c, $maxOut);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "xz_payload"
}

object XzPayload {

  /** Raw LZMA1 decode for OTHER containers (7z coders, ZIP method 14):
    * `props` is the classic 1-byte lc/lp/pb encoding, the stream's
    * packed bytes are `[off, off+packSize)` and exactly `unpackSize`
    * bytes come out, through xz-java's raw `LZMAInputStream`. The
    * range coder must finish clean at the declared size; the relaxed
    * end condition lets an end marker follow it (writers that emit
    * both). The dictionary is the output itself. Fail-closed null on
    * any malformed shape. */
  private[functions] def lzma1(bytes: Array[Byte], off: Int, packSize: Int,
                               unpackSize: Int, props: Int,
                               maxOut: Int): Array[Byte] =
    if (unpackSize < 0 || unpackSize > maxOut) null
    else BoundedDecode(unpackSize) {
      val in = new LZMAInputStream(BoundedDecode.slice(bytes, off, packSize),
        unpackSize.toLong, props.toByte, unpackSize, null, BoundedDecode.xzArrays)
      in.enableRelaxedEndCondition()
      in
    }

  /** Marker-terminated raw LZMA1 decode (ZIP method 14 writers that
    * emit the end marker): the stream must end with the marker and a
    * finished range coder, within `maxOut` bytes — the dictionary
    * size. Fail-closed null. */
  private[functions] def lzma1Marker(bytes: Array[Byte], off: Int,
                                     packSize: Int, props: Int,
                                     maxOut: Int): Array[Byte] =
    BoundedDecode(maxOut) {
      new LZMAInputStream(BoundedDecode.slice(bytes, off, packSize), -1L,
        props.toByte, maxOut, null, BoundedDecode.xzArrays)
    }

  /** Raw LZMA2 chunk-stream decode for OTHER containers (7z folders
    * use it without the xz framing), through xz-java's
    * `LZMA2InputStream` with a `maxOut`-sized dictionary. Fail-closed
    * null. */
  private[functions] def lzma2Raw(bytes: Array[Byte], off: Int, end: Int,
                                  maxOut: Int): Array[Byte] =
    BoundedDecode(maxOut) {
      new LZMA2InputStream(BoundedDecode.slice(bytes, off, end - off),
        math.max(maxOut, LZMA2InputStream.DICT_SIZE_MIN))
    }

  /** The per-row kernel — public static so generated code can call it.
    * Returns null for every malformed/over-cap shape (fail closed). */
  def compute(bytes: Array[Byte], maxOut: Int): Array[Byte] =
    if (bytes == null) null
    else BoundedDecode(maxOut) {
      new XZInputStream(new ByteArrayInputStream(bytes),
        BoundedDecode.xzMemoryLimitKiB(maxOut), BoundedDecode.xzArrays)
    }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; `maxOut` defaults to 64 MiB. */
  def apply(payload: Column, maxOut: Int = 1 << 26): Column =
    ColumnShim.column(XzPayload(ColumnShim.expression(payload), maxOut))
}
