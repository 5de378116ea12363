package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** WOFF 1.0 → sfnt reconstruction — web crawls ship fonts mostly as
  * WOFF, which is NOT sfnt but a per-table zlib wrapper around one:
  * the `wOFF` header (flavor, numTables, declared totalSfntSize),
  * 20-byte table directory entries (tag, compressed offset/length,
  * original length, checksum), each table inflated when
  * `compLength < origLength` and copied verbatim otherwise, then the
  * sfnt offset table + directory REBUILT with offsets laid out in
  * directory order, 4-byte padded — exactly the reconstruction the
  * spec prescribes, so the output feeds [[FontMeta]] (and any real
  * font stack) directly.
  *
  * FAIL-CLOSED NULL for: wrong magic, table entries out of bounds, a
  * table inflating to a size other than its declared origLength, a
  * reconstruction larger than `maxOut` (bomb guard), more than 4096
  * tables. WOFF2 (`wOF2`) refuses — its transform is Brotli, the
  * documented absence. Per-row bounded work, zero shuffle,
  * codegen'd. */
case class WoffSfnt(child: Expression, maxOut: Int)
    extends UnaryExpression {
  require(maxOut > 0, "output cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"woff_sfnt expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    WoffSfnt.compute(a.asInstanceOf[Array[Byte]], maxOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.WoffSfnt.compute($c, $maxOut);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "woff_sfnt"
}

object WoffSfnt {

  private object Bad extends Exception with scala.util.control.NoStackTrace

  /** The per-row kernel — public static so generated code can call it. */
  def compute(b: Array[Byte], maxOut: Int): Array[Byte] = {
    try {
      if (b == null || b.length < 44) return null
      if (!(b(0) == 'w' && b(1) == 'O' && b(2) == 'F' && b(3) == 'F'))
        return null
      val flavor = be32(b, 4)
      val numTables = be16(b, 12)
      if (numTables <= 0 || numTables > 4096) return null
      if (44 + 20 * numTables > b.length) return null

      // inflate/copy each table in directory order
      val tags = new Array[Array[Byte]](numTables)
      val datas = new Array[Array[Byte]](numTables)
      var total = 12L + 16L * numTables
      var i = 0
      while (i < numTables) {
        val e = 44 + 20 * i
        tags(i) = java.util.Arrays.copyOfRange(b, e, e + 4)
        val off = be32(b, e + 4)
        val compLen = be32(b, e + 8)
        val origLen = be32(b, e + 12)
        if (off < 0 || compLen < 0 || origLen < 0 ||
          off.toLong + compLen > b.length || origLen > maxOut) throw Bad
        datas(i) =
          if (compLen < origLen) {
            val out = BoundedDecode.inflate(b, off, compLen, nowrap = false,
              origLen)
            if (out == null || out.length != origLen) throw Bad
            out
          } else if (compLen == origLen)
            java.util.Arrays.copyOfRange(b, off, off + origLen)
          else throw Bad // compressed LARGER than original: malformed
        total += (origLen + 3L) & ~3L
        if (total > maxOut) throw Bad
        i += 1
      }

      // rebuild the sfnt: offset table + directory + padded tables
      val out = new Array[Byte](total.toInt)
      wbe32(out, 0, flavor)
      wbe16(out, 4, numTables)
      var sr = 1
      var es = 0
      while (sr * 2 <= numTables) { sr *= 2; es += 1 }
      wbe16(out, 6, sr * 16)
      wbe16(out, 8, es)
      wbe16(out, 10, numTables * 16 - sr * 16)
      var pos = 12 + 16 * numTables
      i = 0
      while (i < numTables) {
        val r = 12 + 16 * i
        System.arraycopy(tags(i), 0, out, r, 4)
        wbe32(out, r + 4, checksum(datas(i)))
        wbe32(out, r + 8, pos)
        wbe32(out, r + 12, datas(i).length)
        System.arraycopy(datas(i), 0, out, pos, datas(i).length)
        pos += (datas(i).length + 3) & ~3
        i += 1
      }
      out
    } catch {
      case Bad => null
      case _: ArrayIndexOutOfBoundsException => null
    }
  }

  private def checksum(t: Array[Byte]): Int = {
    var sum = 0
    var i = 0
    while (i < t.length) {
      var w = 0
      var k = 0
      while (k < 4) {
        w = (w << 8) | (if (i + k < t.length) t(i + k) & 0xff else 0)
        k += 1
      }
      sum += w
      i += 4
    }
    sum
  }

  private def be16(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)

  private def be32(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) |
      ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)

  private def wbe16(b: Array[Byte], p: Int, v: Int): Unit = {
    b(p) = (v >> 8).toByte; b(p + 1) = v.toByte
  }

  private def wbe32(b: Array[Byte], p: Int, v: Int): Unit = {
    b(p) = (v >> 24).toByte; b(p + 1) = (v >> 16).toByte
    b(p + 2) = (v >> 8).toByte; b(p + 3) = v.toByte
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; 16 MiB default reconstruction cap. */
  def apply(payload: Column, maxOut: Int = 1 << 24): Column =
    ColumnShim.column(WoffSfnt(ColumnShim.expression(payload), maxOut))
}
