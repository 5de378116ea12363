package graft.functions

import java.io.ByteArrayInputStream

import org.apache.commons.compress.compressors.z.ZCompressorInputStream
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Unix compress(1) `.Z` decompression — the LZW wrapper the oldest
  * tier of web/software corpora still ships (`.tar.Z` source drops,
  * pre-gzip FTP mirrors, old man-page trees). Decoded by
  * commons-compress's `ZCompressorInputStream` (on Spark's classpath),
  * which implements the ncompress/gzip-unlzw semantics: magic
  * `1F 9D`, a flags byte carrying maxbits and the block-mode bit,
  * LSB-first variable-width codes with the group padding on every
  * width change and CLEAR, and the decoder's lagging table.
  *
  * The library reads maxbits without checking it and ignores the
  * reserved flag bits, so the flags byte is checked here: reserved
  * bits (0x60) set or maxbits outside 9..16 is refused. A truncated
  * stream yields the decodable prefix, as the reference decoder does
  * (.Z carries no checksum or length).
  *
  * FAIL-CLOSED NULL for: wrong magic, a bad flags byte, any code
  * above the live table, and output past `maxOut` (the
  * decompression-bomb guard — rejected, never clipped). Per-row
  * bounded work, zero shuffle, codegen'd. */
case class LzwUncompress(child: Expression, maxOut: Int)
    extends UnaryExpression {
  require(maxOut > 0, "output cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"unlzw_payload expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    LzwUncompress.compute(a.asInstanceOf[Array[Byte]], maxOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.LzwUncompress.compute($c, $maxOut);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "unlzw_payload"
}

object LzwUncompress {

  /** The per-row kernel — public static so generated code can call it. */
  def compute(b: Array[Byte], maxOut: Int): Array[Byte] = {
    if (b == null || b.length < 3) return null
    val flags = b(2) & 0xff
    val maxbits = flags & 0x1f
    if ((flags & 0x60) != 0 || maxbits < 9 || maxbits > 16) return null
    BoundedDecode(maxOut)(new ZCompressorInputStream(new ByteArrayInputStream(b)))
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; 16 MiB default bomb cap. */
  def apply(payload: Column, maxOut: Int = 1 << 24): Column =
    ColumnShim.column(LzwUncompress(ColumnShim.expression(payload), maxOut))
}
