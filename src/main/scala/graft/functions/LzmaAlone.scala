package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.tukaani.xz.LZMAInputStream

/** Legacy `.lzma` (LZMA-alone) decompression — the pre-xz wrapper old
  * kernel sources, wikis and mirror trees still carry: a 13-byte
  * header (1 props byte lc/lp/pb, 4-byte LE dictionary size, 8-byte
  * LE uncompressed size where all-FF means UNKNOWN) followed by one
  * raw LZMA1 stream. Decoded by xz-java's `LZMAInputStream`: a known
  * size decodes exactly that many bytes; the unknown-size form — what
  * liblzma's alone encoder emits — runs to the end marker and
  * requires the range coder to finish clean.
  *
  * FAIL-CLOSED NULL for: payload shorter than the header, a props
  * byte ≥ 225 (not a valid lc/lp/pb encoding), a declared dictionary
  * needing more memory than `xz -9` or `maxOut` (refused before it is
  * allocated), output past `maxOut` (the decompression-bomb guard —
  * rejected, never clipped), corrupt stream data, a marker-mode stream
  * that runs out of bytes before its marker. The format has NO
  * checksum — stream structure is the only corruption signal, exactly
  * as the reference decoders behave. Per-row bounded work, zero
  * shuffle, codegen'd. */
case class LzmaAlonePayload(child: Expression, maxOut: Int)
    extends UnaryExpression {
  require(maxOut > 0, "output cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lzma_alone_payload expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    LzmaAlonePayload.compute(a.asInstanceOf[Array[Byte]], maxOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.LzmaAlonePayload.compute($c, $maxOut);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "lzma_alone_payload"
}

object LzmaAlonePayload {

  /** The per-row kernel — public static so generated code can call it. */
  def compute(b: Array[Byte], maxOut: Int): Array[Byte] =
    if (b == null) null
    else BoundedDecode(maxOut) {
      new LZMAInputStream(new ByteArrayInputStream(b),
        BoundedDecode.xzMemoryLimitKiB(maxOut), BoundedDecode.xzArrays)
    }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; 16 MiB default bomb cap. */
  def apply(payload: Column, maxOut: Int = 1 << 24): Column =
    ColumnShim.column(LzmaAlonePayload(ColumnShim.expression(payload), maxOut))
}
