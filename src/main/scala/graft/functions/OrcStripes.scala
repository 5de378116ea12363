package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** ORC STRIPE statistics — [[OrcFooterMeta]]'s per-stripe sibling
  * (the ORC counterpart of `ParquetColumnStats`' per-row-group
  * census): the footer's repeated `StripeInformation` messages carry
  * each stripe's offset, index/data/footer byte lengths and EXACT
  * row count — the numbers a skew audit or a split planner reads
  * without touching stripe data. The footer is orc-core's
  * `OrcProto.Footer`, read as in [[OrcFooterMeta]] through
  * [[OrcProtos]] (none, zlib, snappy, lz4, zstd).
  *
  * Output: array of `(offset, index_length, data_length,
  * footer_length, number_of_rows)` in stripe order.
  *
  * FAIL-CLOSED NULL on anything [[OrcFooterMeta]] refuses; lzo
  * footers (no decoder, the documented refusal) and corrupt shapes
  * yield null rather than a guess. Per-row bounded work, zero
  * shuffle, codegen'd. */
case class OrcStripeStats(child: Expression, maxFooter: Int)
    extends UnaryExpression {
  require(maxFooter > 0, "footer cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"orc_stripes expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("offset", LongType, nullable = true),
    StructField("index_length", LongType, nullable = true),
    StructField("data_length", LongType, nullable = true),
    StructField("footer_length", LongType, nullable = true),
    StructField("number_of_rows", LongType, nullable = true))),
    containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    OrcStripeStats.compute(a.asInstanceOf[Array[Byte]], maxFooter)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.OrcStripeStats.compute($c, $maxFooter);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "orc_stripes"
}

object OrcStripeStats {

  /** The per-row kernel — public static so generated code can call it. */
  def compute(bytes: Array[Byte], maxFooter: Int): GenericArrayData =
    OrcProtos.read[GenericArrayData](bytes) { f =>
      val stripes = f.footer(maxFooter).getStripesList
      new GenericArrayData(Array.tabulate[Any](stripes.size) { i =>
        val s = stripes.get(i)
        def v(has: Boolean, x: Long): Any = if (has) x else null
        new GenericInternalRow(Array[Any](v(s.hasOffset, s.getOffset),
          v(s.hasIndexLength, s.getIndexLength),
          v(s.hasDataLength, s.getDataLength),
          v(s.hasFooterLength, s.getFooterLength),
          v(s.hasNumberOfRows, s.getNumberOfRows)))
      })
    }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; footer cap 16 MiB. */
  def apply(payload: Column, maxFooter: Int = 1 << 24): Column =
    ColumnShim.column(
      OrcStripeStats(ColumnShim.expression(payload), maxFooter))
}
