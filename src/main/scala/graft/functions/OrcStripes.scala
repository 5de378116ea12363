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
  * without touching stripe data. Same postscript walk, chunked
  * footer decompression (NONE/ZLIB/SNAPPY/LZ4/ZSTD via the bounded
  * codec shells, as in [[OrcFooterMeta]]), protobuf wire decode.
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

  import OrcFooterMeta.{Bad, Pb, inflateChunks}

  /** The per-row kernel — public static so generated code can call it. */
  def compute(bytes: Array[Byte], maxFooter: Int): GenericArrayData = {
    try {
      val n = bytes.length
      if (n < 8) return null
      if (bytes(0) != 'O' || bytes(1) != 'R' || bytes(2) != 'C') return null
      val psLen = bytes(n - 1) & 0xff
      if (psLen < 4 || n - 1 - psLen < 3) return null
      val ps = new Pb(bytes, n - 1 - psLen, n - 1)
      var footerLen = -1L
      var compression = 0
      var magicOk = false
      while (ps.hasMore) {
        val (f, w) = ps.tag()
        (f, w) match {
          case (1, 0) => footerLen = ps.varint()
          case (2, 0) => compression = ps.varint().toInt
          case (8000, 2) =>
            val (s, e) = ps.lenDelimited()
            magicOk = ps.string(s, e) == "ORC"
          case _ => ps.skip(w)
        }
      }
      if (!magicOk || footerLen <= 0) return null
      val fEnd = n - 1 - psLen
      val fStart = fEnd - footerLen
      if (fStart < 3) return null
      val footer: Array[Byte] = compression match {
        case 0 =>
          if (footerLen > maxFooter) return null
          java.util.Arrays.copyOfRange(bytes, fStart.toInt, fEnd)
        case 1 | 2 | 4 | 5 =>
          inflateChunks(bytes, fStart.toInt, fEnd, maxFooter, compression)
        case _ => return null // lzo and unknown: refuse
      }
      val fb = new Pb(footer, 0, footer.length)
      val out = new java.util.ArrayList[Any]
      while (fb.hasMore) {
        val (f, w) = fb.tag()
        (f, w) match {
          case (3, 2) => // StripeInformation
            val (s, e) = fb.lenDelimited()
            val sp = new Pb(footer, s, e)
            var off: Any = null
            var idx: Any = null
            var dat: Any = null
            var ftr: Any = null
            var rows: Any = null
            while (sp.hasMore) {
              val (sf, sw) = sp.tag()
              (sf, sw) match {
                case (1, 0) => off = sp.varint()
                case (2, 0) => idx = sp.varint()
                case (3, 0) => dat = sp.varint()
                case (4, 0) => ftr = sp.varint()
                case (5, 0) => rows = sp.varint()
                case _ => sp.skip(sw)
              }
            }
            out.add(new GenericInternalRow(Array[Any](off, idx, dat,
              ftr, rows)))
          case _ => fb.skip(w)
        }
      }
      new GenericArrayData(out.toArray)
    } catch {
      case Bad => null
      case _: ArrayIndexOutOfBoundsException => null
    }
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; footer cap 16 MiB. */
  def apply(payload: Column, maxFooter: Int = 1 << 24): Column =
    ColumnShim.column(
      OrcStripeStats(ColumnShim.expression(payload), maxFooter))
}
