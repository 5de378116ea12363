package graft.functions

import java.io.ByteArrayInputStream

import org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorInputStream
import org.apache.commons.compress.compressors.snappy.{FramedSnappyCompressorInputStream, FramedSnappyDialect}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** The two FRAME formats wrapping the raw blocks [[BlockCodecs]]
  * decodes — `.lz4` (the lz4 frame format: FLG/BD descriptor with an
  * xxh32 header checksum, optional block and content checksums,
  * block-DEPENDENT mode where matches reach back into earlier blocks)
  * and `.sz` (the snappy framing format: `sNaPpY` stream identifier,
  * chunks carrying the masked CRC32C of their uncompressed bytes).
  * Both decode through commons-compress (`FramedLZ4CompressorInputStream`,
  * `FramedSnappyCompressorInputStream`, on Spark's classpath) behind
  * [[BoundedDecode]]: every checksum is verified, concatenated frames
  * and streams decode back-to-back, skippable frames and chunks are
  * skipped. Before the library runs, a walk over the frame headers and
  * block (chunk) lengths — decoding nothing — requires the input to
  * split into whole frames, refuses an lz4 frame with the DictID flag
  * (there is no dictionary to resolve against), and refuses an lz4
  * match offset that reaches before the start of its frame. The library
  * checks none of these: it does not parse that flag, it reads a block
  * cut off by the end of the input as the end of the stream, and it
  * copies zeros from its pre-filled window for such an offset. A `.lz4`
  * input of skippable frames only decodes to an empty array. Fail-closed
  * null on every shape the walk or the library refuses, output
  * bomb-capped. Per-row bounded work, zero shuffle, codegen'd. */
object FrameCodecs {

  /** The snappy framing format's largest chunk (64 KiB uncompressed)
    * — the window a chunk's back-references may reach across. */
  private final val SnappyChunkMax = 1 << 16

  private def le32(b: Array[Byte], p: Long): Long = {
    val i = p.toInt
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24)
  }

  /** The number of lz4 frames in `b`, or -1 unless `b` is whole lz4
    * frames and skippable frames, none with the DictID flag. Walks FLG
    * (bit 0 DictID, bit 4 block checksums, bit 3 content size, bit 2
    * content checksum), then each block's 4-byte length (high bit:
    * stored) up to the zero EndMark, and each compressed block's
    * sequences ([[BlockCodecs.lz4Length]]). */
  private def lz4Frames(b: Array[Byte]): Int = {
    val n = b.length
    var p = 0L
    var frames = 0
    while (p + 4 <= n) {
      val magic = le32(b, p)
      if ((magic & 0xfffffff0L) == 0x184d2a50L) { // skippable frame
        if (p + 8 > n) return -1
        p += 8 + le32(b, p + 4)
      } else {
        if (magic != 0x184d2204L || p + 7 > n) return -1
        val flg = b(p.toInt + 4)
        if ((flg & 0x01) != 0) return -1
        p += 7 + (if ((flg & 0x08) != 0) 8 else 0) // magic FLG BD [size] HC
        // block-dependent frames (FLG bit 5 clear) match into the
        // output of the frame's earlier blocks
        val dependent = (flg & 0x20) == 0
        var history = 0L
        var len = -1L
        while (len != 0) {
          if (p + 4 > n) return -1
          val word = le32(b, p)
          len = word & 0x7fffffffL
          if (len != 0) {
            if (p + 4 + len > n) return -1
            val out =
              if ((word & 0x80000000L) != 0) len // stored block
              else BlockCodecs.lz4Length(b, (p + 4).toInt, (p + 4 + len).toInt,
                if (dependent) history else 0)
            if (out < 0) return -1
            history += out
          }
          p += 4 + len + (if (len != 0 && (flg & 0x10) != 0) 4 else 0)
        }
        if ((flg & 0x04) != 0) p += 4
        frames += 1
      }
    }
    if (p == n) frames else -1
  }

  /** True when the snappy chunks' 3-byte lengths tile `b` exactly. */
  private def snappyChunksWhole(b: Array[Byte]): Boolean = {
    var p = 0L
    while (p + 4 <= b.length) p += 4 + (le32(b, p) >>> 8)
    p == b.length
  }

  /** Decode `.lz4` frames (concatenated frames, the `lz4` CLI's cat
    * shape, decode back-to-back). Public static for generated code. */
  def lz4Frame(bytes: Array[Byte], maxOut: Int): Array[Byte] =
    if (bytes == null) null
    else lz4Frames(bytes) match {
      case -1 => null
      case 0 => Array.emptyByteArray // skippable frames only: the library wants one frame
      case _ => BoundedDecode(maxOut) {
        new FramedLZ4CompressorInputStream(new ByteArrayInputStream(bytes), true)
      }
    }

  /** Decode a snappy framing-format stream. Public static for
    * generated code. */
  def snappyFrame(bytes: Array[Byte], maxOut: Int): Array[Byte] =
    if (bytes == null || !snappyChunksWhole(bytes)) null
    else BoundedDecode(maxOut) {
      new FramedSnappyCompressorInputStream(new ByteArrayInputStream(bytes),
        SnappyChunkMax, FramedSnappyDialect.STANDARD)
    }
}

/** `.lz4` frame decompression — see [[FrameCodecs]]. */
case class Lz4FramePayload(child: Expression, maxOut: Int)
    extends UnaryExpression {
  require(maxOut > 0, "output cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lz4_payload expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    FrameCodecs.lz4Frame(a.asInstanceOf[Array[Byte]], maxOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.FrameCodecs.lz4Frame($c, $maxOut);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "lz4_payload"
}

object Lz4FramePayload {
  import org.apache.spark.sql.graftshim.ColumnShim
  def apply(payload: Column, maxOut: Int = 1 << 26): Column =
    ColumnShim.column(Lz4FramePayload(ColumnShim.expression(payload), maxOut))
}

/** snappy framing-format (`.sz`) decompression — see [[FrameCodecs]]. */
case class SnappyFramePayload(child: Expression, maxOut: Int)
    extends UnaryExpression {
  require(maxOut > 0, "output cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"snappy_payload expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    FrameCodecs.snappyFrame(a.asInstanceOf[Array[Byte]], maxOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.FrameCodecs.snappyFrame($c, $maxOut);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "snappy_payload"
}

object SnappyFramePayload {
  import org.apache.spark.sql.graftshim.ColumnShim
  def apply(payload: Column, maxOut: Int = 1 << 26): Column =
    ColumnShim.column(SnappyFramePayload(ColumnShim.expression(payload), maxOut))
}
