package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ORC tail metadata — the third leg of the lake-census trio
  * ([[ParquetFooterMeta]] for parquet, [[AvroSchemaJson]] for avro):
  * an ORC file ends with an uncompressed protobuf postscript plus a
  * one-byte postscript length, and the postscript locates the footer
  * (row count, stripe list, the type tree). Both are orc-core's
  * `OrcProto` messages, read through [[OrcProtos]]: the footer is
  * decompressed by orc-core's `InStream` with the file's codec (none,
  * zlib, snappy, lz4, zstd) and parsed under `maxFooter`.
  *
  * Output struct: `(compression, writer_version, num_rows, n_stripes,
  * content_length, columns array<(name, otype)>)` — `columns` is the
  * root struct's TOP-LEVEL fields with their ORC type-kind names.
  * Footers under lzo yield the postscript facts with NULL footer
  * fields — the census still learns the codec; the refusal is
  * explicit, not a guess.
  *
  * FAIL-CLOSED NULL (whole struct) on: missing head magic, a
  * postscript that does not end in "ORC", footer window out of
  * bounds, a compression number other than the five, malformed
  * protobuf or chunk framing, a footer past `maxFooter` once
  * decompressed, a compression block size past `maxFooter`. Per-row
  * bounded work, zero shuffle, codegen'd. */
case class OrcFooterMeta(child: Expression, maxFooter: Int)
    extends UnaryExpression {
  require(maxFooter > 0, "footer cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"orc_meta expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("compression", StringType, nullable = false),
    StructField("writer_version", IntegerType, nullable = true),
    StructField("num_rows", LongType, nullable = true),
    StructField("n_stripes", IntegerType, nullable = true),
    StructField("content_length", LongType, nullable = true),
    StructField("columns", ArrayType(StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("otype", StringType, nullable = false))),
      containsNull = false), nullable = true)))

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    OrcFooterMeta.compute(a.asInstanceOf[Array[Byte]], maxFooter)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.OrcFooterMeta.compute($c, $maxFooter);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "orc_meta"
}

object OrcFooterMeta {

  private val kindNames = Array("boolean", "byte", "short", "int", "long",
    "float", "double", "string", "binary", "timestamp", "list", "map",
    "struct", "union", "decimal", "date", "varchar", "char",
    "timestamp_instant")

  /** The per-row kernel — public static so generated code can call it. */
  def compute(bytes: Array[Byte], maxFooter: Int): InternalRow =
    OrcProtos.read[InternalRow](bytes) { f =>
      val ps = f.ps
      val wv: Any =
        if (ps.hasWriterVersion && ps.getWriterVersion >= 0) ps.getWriterVersion
        else null
      def row(rows: Any, stripes: Any, clen: Any, cols: Any): InternalRow =
        new GenericInternalRow(Array[Any](UTF8String.fromString(
          OrcProtos.compressionName(f.compression)), wv, rows, stripes, clen,
          cols))
      // lzo: no decoder here — postscript facts, null footer
      if (f.compression == org.apache.orc.OrcProto.CompressionKind.LZO_VALUE)
        row(null, null, null, null)
      else {
        val footer = f.footer(maxFooter)
        val root = OrcProtos.root(footer)
        val cols = Array.tabulate[Any](root.getSubtypesCount) { i =>
          val st = root.getSubtypes(i)
          if (st < 0 || st >= footer.getTypesCount) throw OrcProtos.Bad
          val k = OrcProtos.typeKind(footer.getTypes(st))
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(root.getFieldNames(i)), UTF8String.fromString(
              if (k >= 0 && k < kindNames.length) kindNames(k) else "unknown")))
        }
        def known(has: Boolean, v: Long): Any = if (has && v >= 0) v else null
        row(known(footer.hasNumberOfRows, footer.getNumberOfRows),
          footer.getStripesCount,
          known(footer.hasContentLength, footer.getContentLength),
          new GenericArrayData(cols))
      }
    }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; the decompressed-footer cap defaults
    * to 16 MiB. */
  def apply(payload: Column, maxFooter: Int = 1 << 24): Column =
    ColumnShim.column(OrcFooterMeta(ColumnShim.expression(payload), maxFooter))
}
