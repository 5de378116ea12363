package graft.functions

import java.io.ByteArrayInputStream
import java.util.Locale

import org.apache.parquet.format.FileMetaData
import shaded.parquet.org.apache.thrift.{TBase, TConfiguration, TException}
import shaded.parquet.org.apache.thrift.protocol.{TCompactProtocol, TList, TMap, TSet, TStruct}
import shaded.parquet.org.apache.thrift.transport.{TIOStreamTransport, TTransport}

/** Parquet's Thrift structures — `FileMetaData`, `PageHeader`,
  * `ColumnIndex`, `OffsetIndex`, `BloomFilterHeader` — read out of file
  * bytes by parquet-format's generated classes over the library's own
  * compact protocol (both in parquet-format-structures, on Spark's
  * classpath), bounded by the bytes they are read from.
  *
  * The bounds are what `org.apache.parquet.format.Util.read*` lacks:
  * its protocol takes any declared size, and compact-protocol structs
  * count as 0 bytes in the transport's size check, so a 10-byte footer
  * declaring a 2^30-element schema list allocates that list. Here every
  * string and container length must fit in the bytes of the structure,
  * and nesting stops at [[MaxDepth]] (the library skips unknown fields
  * by recursion, with no depth limit of its own). */
private[functions] object ParquetThrift {

  /** A kernel's own refusal of malformed bytes. */
  object Bad extends Exception with scala.util.control.NoStackTrace

  /** Struct and container nesting bound; parquet-format's deepest path
    * (a schema element's timestamp unit) is 7 levels. */
  private final val MaxDepth = 64

  private final class Bounded(t: TTransport, len: Long)
      extends TCompactProtocol(t, len, len) {
    private var depth = 0
    private def enter(): Unit = { depth += 1; if (depth > MaxDepth) throw Bad }
    override def readStructBegin(): TStruct = { enter(); super.readStructBegin() }
    override def readStructEnd(): Unit = { depth -= 1; super.readStructEnd() }
    override def readListBegin(): TList = { enter(); super.readListBegin() }
    override def readListEnd(): Unit = { depth -= 1; super.readListEnd() }
    override def readSetBegin(): TSet = { enter(); super.readSetBegin() }
    override def readSetEnd(): Unit = { depth -= 1; super.readSetEnd() }
    override def readMapBegin(): TMap = { enter(); super.readMapBegin() }
    override def readMapEnd(): Unit = { depth -= 1; super.readMapEnd() }
  }

  /** Read `t` from the `len` bytes at `off`; the bytes it consumed. */
  def read(t: TBase[_, _], bytes: Array[Byte], off: Long, len: Long): Int = {
    if (off < 0 || len < 0 || off + len > bytes.length) throw Bad
    val in = new ByteArrayInputStream(bytes, off.toInt, len.toInt)
    t.read(new Bounded(new TIOStreamTransport(
      new TConfiguration(len.toInt, len.toInt, MaxDepth), in), len))
    len.toInt - in.available()
  }

  def le32(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) |
      ((b(p + 3) & 0xff) << 24)

  private def par1(b: Array[Byte], p: Int): Boolean =
    b(p) == 'P' && b(p + 1) == 'A' && b(p + 2) == 'R' && b(p + 3) == '1'

  /** The footer of whole-file bytes `PAR1 … footer le32(len) PAR1`, and
    * the offset where it starts. */
  def footer(bytes: Array[Byte]): (FileMetaData, Int) = {
    val n = bytes.length
    if (n < 12 || !par1(bytes, 0) || !par1(bytes, n - 4)) throw Bad
    val flen = le32(bytes, n - 8)
    if (flen <= 0 || n - 8 - flen < 4) throw Bad
    val fm = new FileMetaData
    read(fm, bytes, n - 8 - flen, flen)
    (fm, n - 8 - flen)
  }

  /** A Thrift enum (or any enum) as its lowercase name; the library
    * reads a value it does not know as null, which renders "unknown". */
  def name(e: java.lang.Enum[_]): String =
    if (e == null) "unknown" else e.name.toLowerCase(Locale.ROOT)

  /** `f`, or null when the bytes are malformed: a kernel's [[Bad]], a
    * Thrift error (missing required field, length over its bound), or
    * any exception the parquet-column decoders raise on bad input. */
  def orNull[T >: Null](f: => T): T =
    try f catch {
      case Bad | _: TException | _: java.io.IOException |
           _: RuntimeException => null
    }
}
