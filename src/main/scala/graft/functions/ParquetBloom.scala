package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Parquet BLOOM-FILTER surface — the row-group point-lookup skip
  * index real scans use at fleet scale: a predicate `col = v` that
  * misses every row group's bloom never opens a data page. Two
  * expressions over raw file bytes, no reader stack:
  *
  *   - [[ParquetBloomInfo]]: one row per (row group, column) carrying
  *     a bloom — footer-declared offset plus the BloomFilterHeader
  *     facts (numBytes, algorithm, hash, compression), header VERIFIED
  *     at its offset.
  *   - [[ParquetBloomCheck]]: the actual membership probe — the
  *     split-block bloom of the parquet spec, probed by parquet-column's
  *     `BlockSplitBloomFilter` (its xxHash64 of the plain-encoded
  *     value, `findHash` over the one 32-byte block of the file's
  *     bitset the hash selects), ORed across row groups the way a scan
  *     planner would. Null when the file or
  *     column has no bloom — absence of an index is not `false`.
  *
  * The footer and each `BloomFilterHeader` are read by parquet-format's
  * generated classes through [[ParquetThrift]]; a bitset must lie inside
  * the payload before its probed block is copied out. Only BLOCK/XXHASH/UNCOMPRESSED
  * filters (the only combination the format defines today) answer;
  * anything else refuses.
  *
  * Reference behavior anchor: oracle-schema-copy's keyed IN-list scan
  * (CopyUtils.java:517-523) is the semantic cousin — deciding which
  * stored rows a key set can touch; here the decision reads the
  * file's own index instead of executing SQL. */
case class ParquetBloomCheck(left: Expression, right: Expression,
                             colName: String)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"parquet_bloom_check needs (binary, string), got ${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = BooleanType

  override def nullable: Boolean = true

  override def nullSafeEval(payload: Any, probe: Any): Any =
    ParquetBloom.check(payload.asInstanceOf[Array[Byte]], colName,
      probe.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val col = ctx.addReferenceObj("colName", colName, "java.lang.String")
    nullSafeCodeGen(ctx, ev, (p, v) => s"""
      java.lang.Boolean r = graft.functions.ParquetBloom.check(
        $p, $col, $v.getBytes());
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = r.booleanValue(); }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "parquet_bloom_check"
}

case class ParquetBloomInfo(child: Expression, maxColumns: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"parquet_bloom_info needs binary input, got ${t.sql}")
  }

  override def dataType: DataType =
    ArrayType(ParquetBloom.InfoSchema, containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    ParquetBloom.info(a.asInstanceOf[Array[Byte]], maxColumns)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ParquetBloom.info($c, $maxColumns);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)

  override def prettyName: String = "parquet_bloom_info"
}

object ParquetBloom {
  import ParquetThrift._
  import org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter
  import org.apache.parquet.format.BloomFilterHeader
  import org.apache.parquet.io.api.Binary

  val InfoSchema: StructType = StructType(Seq(
    StructField("row_group", IntegerType, nullable = false),
    StructField("column", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("num_bytes", IntegerType, nullable = false),
    StructField("algorithm", StringType, nullable = false),
    StructField("hash", StringType, nullable = false),
    StructField("compression", StringType, nullable = false)))

  private final case class BloomRef(rowGroup: Int, column: String, offset: Long)

  /** Footer → bloom references (row group, dotted column path,
    * bloom_filter_offset), at most `maxColumns`. */
  private def bloomRefs(bytes: Array[Byte],
                        maxColumns: Int): Array[BloomRef] = {
    val out = new scala.collection.mutable.ArrayBuffer[BloomRef]
    val rgs = footer(bytes)._1.getRow_groups
    var rg = 0
    while (rg < rgs.size) {
      rgs.get(rg).getColumns.forEach { c =>
        val m = c.getMeta_data
        if (m != null && m.isSetBloom_filter_offset &&
          m.getBloom_filter_offset >= 0 && out.size < maxColumns)
          out += BloomRef(rg, String.join(".", m.getPath_in_schema),
            m.getBloom_filter_offset)
      }
      rg += 1
    }
    out.toArray
  }

  /** The header at `offset` and where its bitset starts. */
  private def readBloomHeader(bytes: Array[Byte],
                              offset: Long): (BloomFilterHeader, Int) = {
    if (offset < 0 || offset + 4 > bytes.length) throw Bad
    val h = new BloomFilterHeader
    val bs = offset.toInt + read(h, bytes, offset, bytes.length - offset)
    val nb = h.getNumBytes
    if (nb <= 0 || nb % 32 != 0 || bs.toLong + nb > bytes.length) throw Bad
    (h, bs)
  }

  /** Per-row probe kernel — public static for generated code. Null
    * when the file is malformed or carries no bloom for `col`;
    * otherwise the OR across row groups (a scan planner opens a row
    * group when ITS bloom answers true). */
  def check(bytes: Array[Byte], col: String,
            probe: Array[Byte]): java.lang.Boolean = orNull {
    val refs = bloomRefs(bytes, 1 << 14)
    lazy val hash = new BlockSplitBloomFilter(new Array[Byte](32))
      .hash(Binary.fromConstantByteArray(probe))
    var found = false
    var any = false
    var i = 0
    while (i < refs.length && !found) {
      val ref = refs(i)
      if (ref.column == col) {
        val (h, bs) = readBloomHeader(bytes, ref.offset)
        // BLOCK + XXHASH + UNCOMPRESSED: the only defined combination —
        // anything else refuses, never guesses
        if (!h.getAlgorithm.isSetBLOCK || !h.getHash.isSetXXHASH ||
          !h.getCompression.isSetUNCOMPRESSED) throw Bad
        any = true
        // `findHash` reads only block ((hash >>> 32) * blocks) >>> 32 of
        // the bitset: that 32-byte block alone, as a one-block filter
        // (whose block index is always 0), gives the same answer
        val at = bs + 32 * (((hash >>> 32) * (h.getNumBytes / 32)) >>> 32).toInt
        if (new BlockSplitBloomFilter(java.util.Arrays.copyOfRange(bytes, at,
          at + 32)).findHash(hash)) found = true
      }
      i += 1
    }
    if (!any) null else java.lang.Boolean.valueOf(found)
  }

  /** Census kernel — public static for generated code. */
  def info(bytes: Array[Byte], maxColumns: Int): GenericArrayData = orNull {
    val refs = bloomRefs(bytes, maxColumns)
    def known(set: Boolean, one: String) =
      UTF8String.fromString(if (set) one else "unknown")
    new GenericArrayData(refs.map { ref =>
      val (h, _) = readBloomHeader(bytes, ref.offset)
      new GenericInternalRow(Array[Any](ref.rowGroup,
        UTF8String.fromString(ref.column), ref.offset, h.getNumBytes,
        known(h.getAlgorithm.isSetBLOCK, "block"),
        known(h.getHash.isSetXXHASH, "xxhash"),
        known(h.getCompression.isSetUNCOMPRESSED, "uncompressed")))
    }.toArray[Any])
  }

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftshim.ColumnShim

  def mightContain(payload: Column, colName: String,
                   probe: Column): Column =
    ColumnShim.column(ParquetBloomCheck(ColumnShim.expression(payload),
      ColumnShim.expression(probe), colName))

  def bloomInfo(payload: Column, maxColumns: Int = 4096): Column =
    ColumnShim.column(ParquetBloomInfo(ColumnShim.expression(payload),
      maxColumns))
}
