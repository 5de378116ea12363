package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native ORC DATA decode — the parquet sibling
  * ([[ParquetPageValues]]) for the other mainstream columnar format:
  * given whole-file bytes and a top-level column name, resolve the
  * column id through the footer's type tree, read stripe 0's footer
  * (streams + column encodings) and decode the column's streams with
  * orc-core's readers, each stream decompressed by orc-core's
  * `InStream` through [[OrcProtos]] (none, zlib, snappy, lz4, zstd):
  *
  *  - integer family (bigint/int/smallint): `RunLengthIntegerReaderV2`;
  *  - tinyint: `RunLengthByteReader`; boolean: `BitFieldReader`;
  *  - float/double: `SerializationUtils`;
  *  - string/char/varchar/binary in both DIRECT_V2 (LENGTH + DATA)
  *    and DICTIONARY_V2 (LENGTH + DICTIONARY_DATA + index DATA);
  *  - a PRESENT stream (`BitFieldReader`) restores null slots.
  *
  * Output `(ctype, codec, encoding, n_values, values array<string>)`
  * — values render as strings the census way (ints decimal, floats
  * via shortest round-trip, text verbatim, binary as hex, booleans
  * true/false), null slots stay null. Row materialization capped by
  * `maxVals`; `n_values` is the stripe's row count. Every value of the
  * stripe is decoded, so a malformed stream past the cap still fails.
  *
  * Fails closed (null): bad magic, lzo files, date/timestamp/decimal
  * /nested columns, absent column, v1 (RLEv1: DIRECT/DICTIONARY)
  * integer and string encodings — orc-core reads them, this kernel
  * refuses them — and malformed streams. Per-row bounded work, zero
  * shuffle, codegen'd. */
case class OrcColumnValues(child: Expression, column: String, maxVals: Int)
    extends UnaryExpression {
  require(maxVals > 0, "value cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"orc_column_values expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("ctype", StringType, nullable = false),
    StructField("codec", StringType, nullable = false),
    StructField("encoding", StringType, nullable = false),
    StructField("n_values", LongType, nullable = false),
    StructField("values", ArrayType(StringType, containsNull = true),
      nullable = false)))

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    OrcColumnValues.compute(a.asInstanceOf[Array[Byte]], column, maxVals)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val colRef = ctx.addReferenceObj("column", column, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.OrcColumnValues.compute($c, $colRef, $maxVals);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "orc_column_values"
}

object OrcColumnValues {
  import org.apache.orc.OrcProto.Stream.Kind
  import org.apache.orc.impl.{BitFieldReader, RunLengthByteReader,
    RunLengthIntegerReaderV2, SerializationUtils}
  import OrcProtos.Bad

  private val MaxDecoded = 1 << 26

  private def typeName(kind: Int): String = kind match {
    case 0 => "boolean"; case 1 => "tinyint"; case 2 => "smallint"
    case 3 => "int"; case 4 => "bigint"; case 5 => "float"
    case 6 => "double"; case 7 => "string"; case 8 => "binary"
    case 16 => "varchar"; case 17 => "char"
    case _ => "other"
  }

  /** The per-row kernel — public static so generated code can call it. */
  def compute(bytes: Array[Byte], column: String, maxVals: Int): InternalRow =
    OrcProtos.read[InternalRow](bytes) { f =>
      if (column == null) throw Bad
      val footer = f.footer(1 << 24)
      val colId = OrcProtos.columnId(footer, column)
      if (colId <= 0 || colId >= footer.getTypesCount ||
        footer.getStripesCount == 0) throw Bad
      val colKind = OrcProtos.typeKind(footer.getTypes(colId))
      val ctype = typeName(colKind)
      val stripe = footer.getStripes(0) // stripe 0 only
      if (ctype == "other" || !stripe.hasNumberOfRows) throw Bad
      val sf = f.stripeFooter(stripe)
      def at(kind: Kind) = f.streamAt(stripe, sf, colId, kind.getNumber)
      val (presentAt, dataAt, lengthAt, dictAt) = (at(Kind.PRESENT),
        at(Kind.DATA), at(Kind.LENGTH), at(Kind.DICTIONARY_DATA))
      val (encKind, dictSize) =
        if (colId >= sf.getColumnsCount) (-1, 0)
        else {
          val e = sf.getColumns(colId)
          (OrcProtos.enumNumber(e, 1, e.getKind.getNumber), e.getDictionarySize)
        }
      if (dataAt._1 < 0) throw Bad
      // v1 (RLEv1) encodings refuse — DIRECT/DICTIONARY without _V2
      // only matter for int/string; doubles use DIRECT(0) legally
      val intLike = colKind == 2 || colKind == 3 || colKind == 4
      val strLike = colKind == 7 || colKind == 8 || colKind == 16 ||
        colKind == 17
      if ((intLike || strLike) && encKind != 2 && encKind != 3) throw Bad
      if (encKind == 3 && !strLike) throw Bad
      val rows = stripe.getNumberOfRows
      if (rows < 0 || rows > (1 << 24)) throw Bad

      def in(s: (Long, Long)) = f.stream(s._1, s._2, MaxDecoded)
      def drain(s: (Long, Long)) = f.drain(s._1, s._2, MaxDecoded)
      def utf(s: String) = UTF8String.fromString(s)
      // each run-length stream must end with the stripe's values: a run
      // past them, or bytes after them, is damage orc-core reads on past
      val ends = scala.collection.mutable.ArrayBuffer[() => Boolean]()
      def ending(r: RunLengthIntegerReaderV2) = { ends += (() => r.hasNext); r }
      val present =
        if (presentAt._1 < 0) null
        else {
          val r = new BitFieldReader(in(presentAt))
          Array.fill(rows.toInt)(r.next() == 1)
        }
      // the next non-null value, decoded and rendered
      val next: () => UTF8String = colKind match {
        case 0 =>
          val r = new BitFieldReader(in(dataAt))
          () => utf(if (r.next() == 1) "true" else "false")
        case 1 =>
          val r = new RunLengthByteReader(in(dataAt))
          ends += (() => r.hasNext)
          () => utf(r.next().toString)
        case 2 | 3 | 4 =>
          val r = ending(new RunLengthIntegerReaderV2(in(dataAt), true, false))
          () => utf(r.next().toString)
        case 5 | 6 =>
          val s = in(dataAt)
          val u = new SerializationUtils
          if (colKind == 5) () => utf(u.readFloat(s).toString)
          else () => utf(u.readDouble(s).toString)
        case _ => // string, binary, varchar, char
          def render(b: Array[Byte], from: Int, len: Int): UTF8String =
            if (colKind == 8)
              utf(java.util.HexFormat.of().formatHex(b, from, from + len))
            else UTF8String.fromBytes(
              java.util.Arrays.copyOfRange(b, from, from + len))
          /** The next length from LENGTH, as the next slice of `blob`. */
          def slices(blob: Array[Byte]): () => UTF8String = {
            val lens =
              ending(new RunLengthIntegerReaderV2(in(lengthAt), false, false))
            var off = 0
            () => {
              val l = lens.next()
              if (l < 0 || l > blob.length - off) throw Bad
              off += l.toInt
              render(blob, off - l.toInt, l.toInt)
            }
          }
          if (encKind == 2) slices(drain(dataAt)) // DIRECT_V2
          else { // DICTIONARY_V2: every entry lies in one stripe's rows
            if (dictSize < 0 || dictSize > rows) throw Bad
            val entry = slices(
              if (dictAt._2 > 0) drain(dictAt) else Array.emptyByteArray)
            val dict = Array.fill(dictSize)(entry())
            val idx =
              ending(new RunLengthIntegerReaderV2(in(dataAt), false, false))
            () => {
              val v = idx.next()
              if (v < 0 || v >= dictSize) throw Bad
              dict(v.toInt)
            }
          }
      }
      val out = new Array[Any](math.min(rows, maxVals.toLong).toInt)
      var i = 0
      while (i < rows) {
        val v = if (present == null || present(i)) next() else null
        if (i < out.length) out(i) = v
        i += 1
      }
      if (ends.exists(_())) throw Bad
      val encName = encKind match {
        case 0 => "direct"; case 1 => "dictionary"
        case 2 => "direct_v2"; case 3 => "dictionary_v2"
        case _ => "unknown"
      }
      new GenericInternalRow(Array[Any](utf(ctype),
        utf(OrcProtos.compressionName(f.compression)), utf(encName), rows,
        new GenericArrayData(out)))
    }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; value materialization capped at
    * 65536 by default. */
  def apply(payload: Column, column: String, maxVals: Int = 1 << 16): Column =
    ColumnShim.column(
      OrcColumnValues(ColumnShim.expression(payload), column, maxVals))
}
