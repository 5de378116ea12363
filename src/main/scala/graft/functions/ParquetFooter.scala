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

/** Parquet FOOTER metadata — the lake-discovery tier for the format
  * data lakes are actually made of: a parquet file ends with
  * `le32(footer_len) + "PAR1"`, and the footer is a Thrift
  * compact-protocol `FileMetaData` struct carrying everything a
  * census needs WITHOUT a table read — version, exact row count,
  * row-group count, writer string, and the full schema tree. The
  * footer is read by parquet-format's generated `FileMetaData` over
  * the bounded compact protocol of [[ParquetThrift]]; this kernel walks
  * its `SchemaElement` list into LEAF columns with dotted paths (group
  * nesting resolved via the `num_children` stack), physical type names
  * and repetition labels.
  *
  * Output struct: `(version, num_rows, n_row_groups, created_by,
  * columns array<(path, ptype, repetition)>)` — the discovery row
  * `sniff → parquet_meta → explicit read` starts from, the parquet
  * sibling of `csvInferSchema`/`jsonInferSchema`'s artifacts.
  *
  * FAIL-CLOSED NULL on: missing head/tail magic, footer length past
  * the payload, malformed thrift (bad types, truncated varints, a
  * missing required field, lengths past the footer, over-deep
  * nesting), or a schema walk that does not consume its element list
  * exactly. Unknown/extra thrift fields are skipped by the library
  * (forward-compatible, the thrift way); an enum value it does not know
  * renders "unknown". Per-row bounded work, zero shuffle, codegen'd. */
case class ParquetFooterMeta(child: Expression, maxColumns: Int)
    extends UnaryExpression {
  require(maxColumns > 0, "column walk bound must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"parquet_meta expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("num_rows", LongType, nullable = false),
    StructField("n_row_groups", IntegerType, nullable = false),
    StructField("created_by", StringType, nullable = true),
    StructField("columns", ArrayType(StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("ptype", StringType, nullable = false),
      StructField("repetition", StringType, nullable = false))),
      containsNull = false), nullable = false)))

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    ParquetFooterMeta.compute(a.asInstanceOf[Array[Byte]], maxColumns)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ParquetFooterMeta.compute($c, $maxColumns);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "parquet_meta"
}

object ParquetFooterMeta {
  import ParquetThrift._

  /** The per-row kernel — public static so generated code can call it. */
  def compute(bytes: Array[Byte], maxColumns: Int): InternalRow = orNull {
    val fm = footer(bytes)._1
    // the schema tree, depth-first with num_children counts; element 0
    // is the root group
    val schema = fm.getSchema
    if (schema.size < 1 || schema.size > maxColumns + 1) throw Bad
    val cols = new java.util.ArrayList[Any]
    // stack of (remaining children, dotted prefix)
    var rem = List.empty[Int]
    var prefix = List.empty[String]
    var i = 0
    while (i < schema.size) {
      val el = schema.get(i)
      val nCh = el.getNum_children
      if (i == 0) {
        // root: its children are the top-level fields
        if (nCh < 0) throw Bad
        rem = List(nCh)
        prefix = List("")
      } else {
        if (rem.isEmpty || rem.head <= 0) throw Bad
        val path = prefix.head + el.getName
        rem = (rem.head - 1) :: rem.tail
        if (nCh > 0) { // group node: descend
          rem = nCh :: rem
          prefix = (path + ".") :: prefix
        } else {
          cols.add(new GenericInternalRow(Array[Any](
            UTF8String.fromString(path),
            UTF8String.fromString(name(el.getType)),
            UTF8String.fromString(name(el.getRepetition_type)))))
        }
      }
      // pop exhausted groups (incl. an empty root)
      while (rem.nonEmpty && rem.head == 0) {
        rem = rem.tail
        prefix = prefix.tail
      }
      i += 1
    }
    // the walk must consume the tree exactly (root popped too)
    if (rem.nonEmpty) throw Bad
    new GenericInternalRow(Array[Any](
      fm.getVersion, fm.getNum_rows, fm.getRow_groups.size,
      if (fm.getCreated_by == null) null
      else UTF8String.fromString(fm.getCreated_by),
      new GenericArrayData(cols.toArray)))
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; the schema walk bound defaults to
    * 4096 elements. */
  def apply(payload: Column, maxColumns: Int = 4096): Column =
    ColumnShim.column(
      ParquetFooterMeta(ColumnShim.expression(payload), maxColumns))
}

/** Parquet COLUMN-CHUNK statistics — the numbers a lake-pruning
  * audit, skew census or NULL-rate report reads without touching
  * data ([[ParquetFooterMeta]] stops at file facts; the same footer
  * `FileMetaData`, read the same way, also carries per-row-group and
  * per-column-chunk detail): for every (row group × column chunk) —
  * row-group rows and byte size, the chunk's dotted path, physical
  * type, codec, value count, compressed/uncompressed bytes, and the
  * Statistics struct's `null_count` / `min_value` / `max_value` (the
  * v2 fields, falling back to the deprecated min/max when a legacy
  * writer only wrote those). Min/max decode per the column's physical
  * type — INT32/INT64 as integers, FLOAT/DOUBLE via IEEE bits,
  * BYTE_ARRAY as UTF-8, BOOLEAN as true/false, anything else
  * (INT96, FIXED_LEN_BYTE_ARRAY) as lowercase hex so no value is
  * guessed.
  *
  * Output: `array<struct<row_group, rg_rows, rg_bytes, path, ptype,
  * codec, num_values, compressed_bytes, uncompressed_bytes,
  * null_count, min_value, max_value>>` — one row per chunk in file
  * order, ready to explode. Absent statistics leave their three
  * fields null (a census must distinguish "no stats" from zero).
  *
  * FAIL-CLOSED NULL on the same surface as [[ParquetFooterMeta]]:
  * bad magic, footer window out of bounds, malformed thrift, a chunk
  * without its metadata; the chunk walk is bounded by `maxChunks`.
  * Per-row bounded work, zero shuffle, codegen'd. */
case class ParquetColumnStats(child: Expression, maxChunks: Int)
    extends UnaryExpression {
  require(maxChunks > 0, "chunk walk bound must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"parquet_column_stats expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("row_group", IntegerType, nullable = false),
    StructField("rg_rows", LongType, nullable = false),
    StructField("rg_bytes", LongType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("ptype", StringType, nullable = false),
    StructField("codec", StringType, nullable = false),
    StructField("num_values", LongType, nullable = false),
    StructField("compressed_bytes", LongType, nullable = false),
    StructField("uncompressed_bytes", LongType, nullable = false),
    StructField("null_count", LongType, nullable = true),
    StructField("min_value", StringType, nullable = true),
    StructField("max_value", StringType, nullable = true))),
    containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    ParquetColumnStats.compute(a.asInstanceOf[Array[Byte]], maxChunks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ParquetColumnStats.compute($c, $maxChunks);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "parquet_column_stats"
}

object ParquetColumnStats {
  import ParquetThrift._
  import org.apache.parquet.format.Type

  private def le64(b: Array[Byte]): Long =
    java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong

  /** Decode a Statistics min/max blob per the chunk's physical type;
    * unknown/odd shapes render as lowercase hex, never a guess. */
  private[functions] def decodeStat(ptype: Type, b: Array[Byte]): String = {
    def hexOf: String = b.map("%02x".format(_)).mkString
    ptype match {
      case Type.BOOLEAN => if (b.length == 1) (b(0) != 0).toString else hexOf
      case Type.INT32 => if (b.length == 4) le32(b, 0).toString else hexOf
      case Type.INT64 => if (b.length == 8) le64(b).toString else hexOf
      case Type.FLOAT => if (b.length == 4)
        java.lang.Float.intBitsToFloat(le32(b, 0)).toString else hexOf
      case Type.DOUBLE => if (b.length == 8)
        java.lang.Double.longBitsToDouble(le64(b)).toString else hexOf
      case Type.BYTE_ARRAY => new String(b, java.nio.charset.StandardCharsets.UTF_8)
      case _ => hexOf
    }
  }

  private def stat(ptype: Type, b: Array[Byte]): UTF8String =
    if (b == null) null else UTF8String.fromString(decodeStat(ptype, b))

  /** The per-row kernel — public static so generated code can call it. */
  def compute(bytes: Array[Byte], maxChunks: Int): GenericArrayData = orNull {
    val out = new java.util.ArrayList[Any]
    val rgs = footer(bytes)._1.getRow_groups
    var rg = 0
    while (rg < rgs.size) {
      val g = rgs.get(rg)
      val chunks = g.getColumns
      if (out.size + chunks.size > maxChunks) throw Bad
      var c = 0
      while (c < chunks.size) {
        val m = chunks.get(c).getMeta_data
        if (m == null) throw Bad
        // v2 min_value/max_value preferred, deprecated min/max the fallback
        val st = m.getStatistics
        val (nullCount, minB, maxB) =
          if (st == null) (null, null, null)
          else (if (st.isSetNull_count) st.getNull_count else null,
            if (st.isSetMin_value) st.getMin_value else st.getMin,
            if (st.isSetMax_value) st.getMax_value else st.getMax)
        out.add(new GenericInternalRow(Array[Any](
          rg, g.getNum_rows, g.getTotal_byte_size,
          UTF8String.fromString(String.join(".", m.getPath_in_schema)),
          UTF8String.fromString(name(m.getType)),
          UTF8String.fromString(name(m.getCodec)),
          m.getNum_values, m.getTotal_compressed_size,
          m.getTotal_uncompressed_size, nullCount,
          stat(m.getType, minB), stat(m.getType, maxB))))
        c += 1
      }
      rg += 1
    }
    new GenericArrayData(out.toArray)
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; the chunk walk bound defaults to
    * 16384 (row groups × columns). */
  def apply(payload: Column, maxChunks: Int = 16384): Column =
    ColumnShim.column(
      ParquetColumnStats(ColumnShim.expression(payload), maxChunks))
}

/** Parquet PAGE-INDEX census — the scan-planning grain below
  * [[ParquetColumnStats]]'s column chunks: modern writers (parquet-mr
  * ≥ 1.11 — Spark's own default — and pyarrow with
  * `write_page_index`) serialize a ColumnIndex + OffsetIndex pair per
  * column chunk OUTSIDE the footer, and predicate-pushdown page
  * skipping reads exactly these. One row per PAGE:
  * `(row_group, column_path, page, first_row_index, page_offset,
  * compressed_page_size, null_page, null_count, min_value, max_value,
  * boundary_order)` with min/max decoded per physical type (the
  * [[ParquetColumnStats]] rules — hex for shapes it will not guess).
  *
  * The footer gives each chunk's `offset_index_offset/length` and
  * `column_index_offset/length` and its physical type/path; both index
  * structures are read at their offsets by parquet-format's generated
  * `OffsetIndex`/`ColumnIndex` through [[ParquetThrift]], each region
  * bounds-checked against the footer start. Files WITHOUT page indexes
  * yield an EMPTY array (pre-1.11 writers are not corruption); a chunk
  * whose index regions are malformed, whose list lengths disagree, or
  * a walk past `maxPages` fails the whole row closed to null.
  * Per-row bounded work, zero shuffle, codegen'd. */
case class ParquetPageIndex(child: Expression, maxPages: Int)
    extends UnaryExpression {
  require(maxPages > 0, "page walk bound must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"parquet_page_index expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("row_group", IntegerType, nullable = false),
    StructField("column_path", StringType, nullable = false),
    StructField("page", IntegerType, nullable = false),
    StructField("first_row_index", LongType, nullable = false),
    StructField("page_offset", LongType, nullable = false),
    StructField("compressed_page_size", IntegerType, nullable = false),
    StructField("null_page", BooleanType, nullable = false),
    StructField("null_count", LongType, nullable = true),
    StructField("min_value", StringType, nullable = true),
    StructField("max_value", StringType, nullable = true),
    StructField("boundary_order", StringType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    ParquetPageIndex.compute(a.asInstanceOf[Array[Byte]], maxPages)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ParquetPageIndex.compute($c, $maxPages);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "parquet_page_index"
}

object ParquetPageIndex {
  import ParquetThrift._
  import ParquetColumnStats.decodeStat
  import org.apache.parquet.format.{ColumnIndex, OffsetIndex}
  import shaded.parquet.org.apache.thrift.TBaseHelper.byteBufferToByteArray

  /** The per-row kernel — public static so generated code can call it. */
  def compute(bytes: Array[Byte], maxPages: Int): GenericArrayData = orNull {
    val (fm, footerStart) = footer(bytes)
    // an index region is present when it has a length; it must end
    // before the footer
    def region(off: Long, len: Int): Boolean = {
      val present = off >= 0 && len > 0
      if (present && off + len > footerStart) throw Bad
      present
    }
    val out = new java.util.ArrayList[Any]
    val rgs = fm.getRow_groups
    var rg = 0
    while (rg < rgs.size) {
      val chunks = rgs.get(rg).getColumns
      if (chunks.size > 65536) throw Bad
      var c = 0
      while (c < chunks.size) {
        val ck = chunks.get(c)
        val m = ck.getMeta_data
        if (m != null && ck.isSetOffset_index_offset &&
          ck.isSetOffset_index_length &&
          region(ck.getOffset_index_offset, ck.getOffset_index_length)) {
          val oi = new OffsetIndex
          read(oi, bytes, ck.getOffset_index_offset, ck.getOffset_index_length)
          val pages = oi.getPage_locations
          if (pages.size > maxPages) throw Bad
          var ci: ColumnIndex = null
          if (ck.isSetColumn_index_offset && ck.isSetColumn_index_length &&
            region(ck.getColumn_index_offset, ck.getColumn_index_length)) {
            ci = new ColumnIndex
            read(ci, bytes, ck.getColumn_index_offset, ck.getColumn_index_length)
            if (ci.getNull_pages.size != pages.size ||
              ci.getMin_values.size != pages.size ||
              ci.getMax_values.size != pages.size ||
              (ci.isSetNull_counts && ci.getNull_counts.size != pages.size))
              throw Bad
          }
          if (out.size + pages.size > maxPages) throw Bad
          val path = UTF8String.fromString(String.join(".", m.getPath_in_schema))
          val order = UTF8String.fromString(
            if (ci == null) "unordered" else name(ci.getBoundary_order))
          var pg = 0
          while (pg < pages.size) {
            val loc = pages.get(pg)
            val nullPage = ci != null && ci.getNull_pages.get(pg)
            def stat(blobs: ColumnIndex => java.util.List[java.nio.ByteBuffer]): Any =
              if (ci == null || nullPage || !blobs(ci).get(pg).hasRemaining) null
              else UTF8String.fromString(
                decodeStat(m.getType, byteBufferToByteArray(blobs(ci).get(pg))))
            out.add(new GenericInternalRow(Array[Any](
              rg, path, pg, loc.getFirst_row_index, loc.getOffset,
              loc.getCompressed_page_size, nullPage,
              if (ci == null || !ci.isSetNull_counts) null
              else ci.getNull_counts.get(pg),
              stat(_.getMin_values), stat(_.getMax_values), order)))
            pg += 1
          }
        }
        c += 1
      }
      rg += 1
    }
    new GenericArrayData(out.toArray)
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; default page walk bound 64k. */
  def apply(payload: Column, maxPages: Int = 1 << 16): Column =
    ColumnShim.column(
      ParquetPageIndex(ColumnShim.expression(payload), maxPages))
}
