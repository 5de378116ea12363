package graft.functions

import java.io.ByteArrayInputStream

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Bounded bzip2 decompression — the wrapper Wikipedia dumps (and a
  * long tail of scientific/archive corpora) actually ship in; the JDK
  * has gzip/deflate but no bzip2, so this decodes through
  * commons-compress's `BZip2CompressorInputStream` (on Spark's
  * classpath; the reference's `CopyUtils.java` copies rows, not
  * archives). Both CRCs are verified — per block and the combined
  * stream CRC.
  *
  * CONCATENATED streams are accepted and decode back-to-back — after
  * an end-of-stream record, a following `BZh[1-9]` header starts a
  * fresh stream, exactly as stock `bunzip2` behaves. That is the shape
  * pbzip2/lbzip2 emit and Wikipedia's pages-articles-multistream dumps
  * are made of, and it mirrors [[GunzipPayload]]'s concatenated-member
  * handling.
  *
  * FAIL-CLOSED NULL on every shape commons-compress refuses — wrong
  * magic or level, corrupt Huffman tables or selectors, truncated
  * stream, CRC mismatch, non-`BZh` trailing bytes — and on output past
  * `maxOut` (decompression-bomb guard — rejected, never clipped; the
  * cap is AGGREGATE across concatenated streams). Per-row bounded
  * work, zero shuffle, codegen'd. */
case class Bunzip2(child: Expression, maxOut: Int)
    extends UnaryExpression {
  require(maxOut > 0, "output cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bunzip2 expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    Bunzip2.compute(a.asInstanceOf[Array[Byte]], maxOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Bunzip2.compute($c, $maxOut);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "bunzip2"
}

object Bunzip2 {

  /** The per-row kernel — public static so generated code can call it. */
  def compute(bytes: Array[Byte], maxOut: Int): Array[Byte] =
    if (bytes == null) null
    else BoundedDecode(maxOut) {
      new BZip2CompressorInputStream(new ByteArrayInputStream(bytes), true)
    }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; `maxOut` defaults to 64 MiB (dump
    * chunks are large; the cap still bounds worst-case row memory). */
  def apply(payload: Column, maxOut: Int = 1 << 26): Column =
    ColumnShim.column(Bunzip2(ColumnShim.expression(payload), maxOut))
}
