package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ORC BLOOM-FILTER membership probe — the parquet sibling (q372)
  * for the other columnar major: `BLOOM_FILTER_UTF8` index streams
  * (`OrcProto.Stream.Kind` 8) hold one bloom per ROW GROUP; a point
  * predicate that misses every row group's bloom skips the stripe
  * without touching a data stream. The probe walks the stripes (at
  * most the first 64): stripe footer → the column's bloom stream inside
  * the stripe → orc-core's `OrcProto.BloomFilterIndex`, all read through
  * [[OrcProtos]] with the file's codec; the answer is the OR across all
  * row-group blooms — exactly the planner's can-this-file-contain-the-key
  * question.
  *
  * Each bloom is probed by orc-core's `BloomFilterUtf8` over the
  * `utf8bitset` as little-endian longs: `testBytes` hashes the UTF-8
  * bytes with orc-core's `Murmur3.hash64` (seed 104729) and tests
  * `hash1 + i·hash2`, `i in 1..numHashFunctions` — the writer's own
  * code, checked in-suite against files Spark's ORC writer produces.
  *
  * Null when the file is malformed or the column has no bloom
  * stream — absence of an index is never a guessed `false`.
  *
  * Reference behavior anchor: the keyed IN-list scan
  * (CopyUtils.java:517-523) decides which stored rows a key set
  * touches; here the decision reads the file's own index. */
case class OrcBloomCheck(left: Expression, right: Expression,
                         colName: String)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"orc_bloom_check needs (binary, string), got ${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = BooleanType

  override def nullable: Boolean = true

  override def nullSafeEval(payload: Any, probe: Any): Any =
    OrcBloom.check(payload.asInstanceOf[Array[Byte]], colName,
      probe.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val col = ctx.addReferenceObj("colName", colName, "java.lang.String")
    nullSafeCodeGen(ctx, ev, (p, v) => s"""
      java.lang.Boolean r = graft.functions.OrcBloom.check(
        $p, $col, $v.getBytes());
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = r.booleanValue(); }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "orc_bloom_check"
}

object OrcBloom {
  import org.apache.orc.OrcProto
  import org.apache.orc.util.BloomFilterUtf8
  import OrcProtos.Bad

  /** Per-row probe kernel — public static for generated code. */
  def check(bytes: Array[Byte], column: String,
            probe: Array[Byte]): java.lang.Boolean =
    OrcProtos.read[java.lang.Boolean](bytes) { f =>
      if (column == null) throw Bad
      val footer = f.footer(1 << 24)
      val stripes = footer.getStripesList.subList(0,
        math.min(64, footer.getStripesCount))
      stripes.forEach(s => if (!s.hasOffset || s.getFooterLength <= 0) throw Bad)
      val colId = OrcProtos.columnId(footer, column)
      if (colId < 0 || stripes.isEmpty) throw Bad
      var any = false
      var found = false
      val it = stripes.iterator
      while (it.hasNext && !found) {
        val s = it.next()
        val (at, len) = f.streamAt(s, f.stripeFooter(s), colId,
          OrcProto.Stream.Kind.BLOOM_FILTER_UTF8_VALUE)
        if (at >= 0 && len > 0) {
          val blooms = f.parse(OrcProto.BloomFilterIndex.parser, at, len,
            1 << 24).getBloomFilterList.iterator
          while (blooms.hasNext && !found) {
            val b = blooms.next()
            val k = if (b.hasNumHashFunctions) b.getNumHashFunctions else -1
            val bits = b.getUtf8Bitset
            if (k > 0 && !bits.isEmpty) {
              any = true
              if (bits.size % 8 == 0) {
                if (k > 64) throw Bad
                val longs = new Array[Long](bits.size / 8)
                bits.asReadOnlyByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
                  .asLongBuffer.get(longs)
                found = new BloomFilterUtf8(longs, k)
                  .testBytes(probe, 0, probe.length)
              }
            }
          }
        }
      }
      if (!any) null else java.lang.Boolean.valueOf(found)
    }

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftshim.ColumnShim

  def mightContain(payload: Column, colName: String,
                   probe: Column): Column =
    ColumnShim.column(OrcBloomCheck(ColumnShim.expression(payload),
      ColumnShim.expression(probe), colName))
}
