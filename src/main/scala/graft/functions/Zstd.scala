package graft.functions

import java.io.ByteArrayInputStream

import com.github.luben.zstd.{RecyclingBufferPool, Zstd, ZstdException, ZstdInputStreamNoFinalizer}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Bounded zstd (RFC 8878) decompression — the de-facto interchange
  * codec of public LLM corpora (`.jsonl.zst`) and the modern default
  * for parquet/ORC writers. The JDK has no zstd; this decodes through
  * zstd-jni's `ZstdInputStreamNoFinalizer` (libzstd, on Spark's
  * classpath) behind [[BoundedDecode]]. The reference's
  * `CopyUtils.java` copies rows, not archives — no counterpart.
  *
  * Scope: every frame libzstd decodes without a dictionary. Content
  * checksums are verified; concatenated frames decode back-to-back and
  * skippable frames are skipped — the multi-frame shapes `zstdmt` and
  * seekable writers emit. A nonzero dictionary id fails closed (no
  * dictionary is ever loaded, so libzstd refuses the frame).
  *
  * Before decoding, libzstd's frame walk must split the input into
  * whole frames, and the output must match the frames' declared
  * content sizes where they all declare one: the stream decoder alone
  * misses a frame cut short after a complete one, and a wrong content
  * size on a frame whose last block is empty.
  *
  * FAIL-CLOSED NULL on every shape libzstd refuses — bad magic,
  * reserved bits or block type, dictionary reference, corrupt
  * entropy tables, a block larger than its frame allows, regenerated
  * size disagreeing with the declared content size, checksum
  * mismatch, truncation anywhere, trailing garbage — on a window above
  * `2^max(27, ceil(log2 maxOut))` (libzstd's default window cap,
  * raised for larger caps), on input shorter than a magic number, and
  * on output past `maxOut` (decompression-bomb guard, AGGREGATE across
  * frames — rejected, never clipped). Per-row bounded work, zero
  * shuffle, codegen'd. */
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

  /** Largest window log accepted for a call capped at `maxOut`:
    * libzstd's default of 27, raised to ceil(log2(maxOut)) for callers
    * with a larger cap. */
  private[functions] def windowLogMax(maxOut: Int): Int =
    math.max(27, 32 - Integer.numberOfLeadingZeros(math.max(maxOut, 1) - 1))

  /** The frames' declared total content size, from libzstd's frame
    * walk (skippable frames count 0): -1 when a frame leaves its size
    * out; throws `ZstdException` when a frame is cut short or bytes
    * that are no frame follow. The stream decoder needs both checks:
    * it ends quietly, keeping the frames before it, when a later frame
    * in the same read is cut short, and it skips the content-size check
    * of a frame whose last block is empty. */
  private def declaredSize(bytes: Array[Byte]): Long = {
    var pos = 0
    var total = 0L
    while (pos < bytes.length) {
      val frame = Zstd.findFrameCompressedSize(bytes, pos)
      val size = Zstd.getFrameContentSize(bytes, pos)
      total = if (size < 0 || total < 0) -1L else total + size
      pos += frame.toInt
    }
    total
  }

  /** The per-row kernel — public static so generated code can call it.
    * Returns null for every malformed/over-cap shape (fail closed). */
  def compute(bytes: Array[Byte], maxOut: Int): Array[Byte] = {
    // libzstd reads an empty input as an empty stream; no frame or
    // skippable frame is shorter than its 4-byte magic
    if (bytes == null || bytes.length < 4) return null
    val declared =
      try declaredSize(bytes) catch { case _: ZstdException => return null }
    if (declared > maxOut) return null // bomb guard before any decoding
    val out = BoundedDecode(maxOut) {
      new ZstdInputStreamNoFinalizer(new ByteArrayInputStream(bytes),
        RecyclingBufferPool.INSTANCE).setLongMax(windowLogMax(maxOut))
    }
    if (out == null || (declared >= 0 && out.length != declared)) null else out
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; `maxOut` defaults to 64 MiB. */
  def apply(payload: Column, maxOut: Int = 1 << 26): Column =
    ColumnShim.column(ZstdPayload(ColumnShim.expression(payload), maxOut))
}
