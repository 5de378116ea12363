package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ORC file-level COLUMN statistics — the pruning/NULL-rate census
  * [[graft.functions.ParquetColumnStats]] provides for parquet, read
  * from the ORC footer's repeated `ColumnStatistics` (one per
  * type-tree column, index-aligned with the `types` list): value
  * counts, the hasNull flag, integer min/max/sum, double min/max,
  * string min/max. The footer is orc-core's `OrcProto.Footer`, read
  * as in [[OrcFooterMeta]] through [[OrcProtos]] (none, zlib, snappy,
  * lz4, zstd; lzo refused).
  *
  * Output: array of `(column, n_values, has_null, int_min, int_max,
  * int_sum, double_min, double_max, str_min, str_max)` where
  * `column` is the TYPE-TREE id (0 = the root struct; top-level
  * column i is id `i+1` for flat schemas — join against
  * `orcMeta.columns` for names). Stat fields absent for a column's
  * type stay null, never guessed.
  *
  * FAIL-CLOSED NULL on anything the footer read refuses. Per-row
  * bounded work, zero shuffle, codegen'd. */
case class OrcColumnStats(child: Expression, maxFooter: Int)
    extends UnaryExpression {
  require(maxFooter > 0, "footer cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"orc_column_stats expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("column", IntegerType, nullable = false),
    StructField("n_values", LongType, nullable = true),
    StructField("has_null", BooleanType, nullable = true),
    StructField("int_min", LongType, nullable = true),
    StructField("int_max", LongType, nullable = true),
    StructField("int_sum", LongType, nullable = true),
    StructField("double_min", DoubleType, nullable = true),
    StructField("double_max", DoubleType, nullable = true),
    StructField("str_min", StringType, nullable = true),
    StructField("str_max", StringType, nullable = true))),
    containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    OrcColumnStats.compute(a.asInstanceOf[Array[Byte]], maxFooter)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.OrcColumnStats.compute($c, $maxFooter);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "orc_column_stats"
}

object OrcColumnStats {

  /** The per-row kernel — public static so generated code can call it. */
  def compute(bytes: Array[Byte], maxFooter: Int): GenericArrayData =
    OrcProtos.read[GenericArrayData](bytes) { f =>
      val stats = f.footer(maxFooter).getStatisticsList
      new GenericArrayData(Array.tabulate[Any](stats.size) { i =>
        val c = stats.get(i)
        val is = c.getIntStatistics
        val ds = c.getDoubleStatistics
        val ss = c.getStringStatistics
        def v(has: Boolean, x: Any): Any = if (has) x else null
        def s(has: Boolean, x: String): Any =
          if (has) UTF8String.fromString(x) else null
        new GenericInternalRow(Array[Any](i,
          v(c.hasNumberOfValues, c.getNumberOfValues),
          v(c.hasHasNull, c.getHasNull),
          v(is.hasMinimum, is.getMinimum), v(is.hasMaximum, is.getMaximum),
          v(is.hasSum, is.getSum),
          v(ds.hasMinimum, ds.getMinimum), v(ds.hasMaximum, ds.getMaximum),
          s(ss.hasMinimum, ss.getMinimum), s(ss.hasMaximum, ss.getMaximum)))
      })
    }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; footer cap 16 MiB. */
  def apply(payload: Column, maxFooter: Int = 1 << 24): Column =
    ColumnShim.column(OrcColumnStats(ColumnShim.expression(payload), maxFooter))
}
