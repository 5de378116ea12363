package graft.functions

import java.nio.ByteBuffer

import org.apache.hadoop.hive.common.io.DiskRangeList
import org.apache.orc.{CompressionCodec, CompressionKind, OrcProto}
import org.apache.orc.impl.{BufferChunk, InStream, OrcCodecPool, PositionProvider}
import org.apache.orc.protobuf.{GeneratedMessageV3, Message, Parser}
import org.apache.orc.protobuf.Descriptors.FieldDescriptor

/** ORC's protobuf messages — `PostScript`, `Footer`, `StripeFooter`,
  * `BloomFilterIndex` — and its streams, read out of whole-file bytes by
  * orc-core (`OrcProto`, `InStream` over one `BufferChunk`, codecs from
  * `OrcCodecPool`; on Spark's classpath), bounded by the call's cap.
  *
  * The bounds are what orc-core's own file-tail reader (`ReaderImpl`)
  * lacks: it parses the footer under a 1 GiB protobuf limit, and the
  * postscript's `compressionBlockSize` becomes each stream's
  * decompression buffer as declared. Here every message is parsed under
  * `setSizeLimit(cap)`, a block size above the cap is refused before any
  * stream is built, and every stream must lie inside the file. orc-core checks only the postscript's magic; the head magic
  * `ORC` is checked here. orc-core also decodes lzo, which these kernels
  * refuse, as they refuse a compression number the library does not
  * know. */
private[functions] object OrcProtos {

  /** A kernel's own refusal of malformed bytes. */
  object Bad extends Exception with scala.util.control.NoStackTrace

  def compressionName(c: Int): String = c match {
    case 0 => "none"
    case 1 => "zlib"
    case 2 => "snappy"
    case 3 => "lzo"
    case 4 => "lz4"
    case 5 => "zstd"
    case _ => "unknown"
  }

  /** A proto2 enum field's number. The library reads a number it does
    * not know as the field's default and keeps it among the unknown
    * fields; that case is -1 here, so it never passes for the default. */
  def enumNumber(m: GeneratedMessageV3, field: Int, known: Int): Int =
    if (m.getUnknownFields.hasField(field)) -1 else known

  /** A type's kind number, -1 when it is absent or unknown. */
  def typeKind(t: OrcProto.Type): Int =
    if (t.hasKind) enumNumber(t, 1, t.getKind.getNumber) else -1

  /** One file's bytes and postscript, for one kernel call: the footer,
    * stripe footers, bloom indexes and column streams are read through
    * `InStream` with the file's codec, taken from orc-core's pool on the
    * first compressed read and given back by [[read]]. */
  final class File private[OrcProtos] (bytes: Array[Byte]) {
    private val n = bytes.length
    if (n < 8 || bytes(0) != 'O' || bytes(1) != 'R' || bytes(2) != 'C')
      throw Bad
    private val psLen = bytes(n - 1) & 0xff
    if (psLen < 4 || n - 1 - psLen < 3) throw Bad
    val ps: OrcProto.PostScript =
      noGroups(OrcProto.PostScript.parser.parseFrom(bytes, n - 1 - psLen, psLen))
    if (ps.getMagic != "ORC" || ps.getFooterLength <= 0) throw Bad
    private val footerStart = n - 1 - psLen - ps.getFooterLength
    if (footerStart < 3) throw Bad

    val compression: Int = enumNumber(ps, 2, ps.getCompression.getNumber)

    private var kind: CompressionKind = _
    private var codec: CompressionCodec = _

    private def codecFor(): CompressionCodec = {
      if (kind == null) {
        kind = compression match {
          case 0 => CompressionKind.NONE
          case 1 => CompressionKind.ZLIB
          case 2 => CompressionKind.SNAPPY
          case 4 => CompressionKind.LZ4
          case 5 => CompressionKind.ZSTD
          case _ => throw Bad // lzo, brotli and unknown numbers: refuse
        }
        if (kind != CompressionKind.NONE) codec = OrcCodecPool.getCodec(kind)
      }
      codec
    }

    private[OrcProtos] def close(): Unit =
      if (codec != null) OrcCodecPool.returnCodec(kind, codec)

    /** The `len` file bytes at `off` as one decompressed stream. */
    private def raw(off: Long, len: Long, cap: Int): InStream = {
      if (off < 0 || len <= 0 || len > n - off) throw Bad
      val c = codecFor()
      val block = ps.getCompressionBlockSize
      if (c != null && (block < 0 || block > cap)) throw Bad
      InStream.create("orc", new BufferChunk(ByteBuffer.wrap(bytes), 0), off,
        len, InStream.options().withCodec(c).withBufferSize(block.toInt))
    }

    /** [[raw]] for orc-core's value decoders, failing at its end. */
    def stream(off: Long, len: Long, cap: Int): InStream =
      new Strict(raw(off, len, cap))

    /** All of [[raw]], at most `cap` bytes. */
    def drain(off: Long, len: Long, cap: Int): Array[Byte] = {
      val b = raw(off, len, cap).readNBytes(cap + 1)
      if (b.length > cap) throw Bad
      b
    }

    /** The message `p` reads from the `len` file bytes at `off`, at most
      * `cap` bytes once decompressed, refused if it holds a group. */
    def parse[T <: Message](p: Parser[T], off: Long, len: Long, cap: Int): T = {
      val in = InStream.createCodedInputStream(raw(off, len, cap))
      in.setSizeLimit(cap)
      noGroups(p.parseFrom(in))
    }

    def footer(cap: Int): OrcProto.Footer =
      parse(OrcProto.Footer.parser, footerStart, ps.getFooterLength, cap)

    /** Stripe `s`'s footer, which follows its index and data. */
    def stripeFooter(s: OrcProto.StripeInformation): OrcProto.StripeFooter = {
      if (!s.hasOffset || s.getFooterLength <= 0) throw Bad
      parse(OrcProto.StripeFooter.parser, stripeEnd(s), s.getFooterLength,
        1 << 24)
    }

    /** Where stripe `s`'s footer starts: after its index and data, which
      * must lie in the file. */
    private def stripeEnd(s: OrcProto.StripeInformation): Long = {
      val (o, i, d) = (s.getOffset, s.getIndexLength, s.getDataLength)
      if (o < 0 || i < 0 || d < 0 || o > n || i > n || d > n || o + i + d > n)
        throw Bad
      o + i + d
    }

    /** (offset, length) of stream (`column`, `kind`) of stripe `s`: the
      * footer's streams follow each other from the stripe's offset, the
      * last match wins, and it must end inside the stripe's index and
      * data. (-1, 0) when the stripe has none. */
    def streamAt(s: OrcProto.StripeInformation, sf: OrcProto.StripeFooter,
                 column: Int, kind: Int): (Long, Long) = {
      var at = s.getOffset
      var found = (-1L, 0L)
      sf.getStreamsList.forEach { st =>
        if (st.getColumn == column &&
          enumNumber(st, 1, st.getKind.getNumber) == kind)
          found = (at, st.getLength)
        at += st.getLength
      }
      if (found._1 >= 0 && found._2 > stripeEnd(s) - found._1) throw Bad
      found
    }
  }

  /** `m`, or [[Bad]] when a proto2 group (wire type 3) sits among the
    * unknown fields of `m` or of any message inside it. ORC's messages
    * have no groups, so a group is a damaged tag; protobuf keeps it as
    * one unknown field, and every field up to its end tag vanishes. */
  private def noGroups[T <: Message](m: T): T = {
    def walk(x: Message): Unit = {
      if (x.getUnknownFields.asMap.values.stream.anyMatch(!_.getGroupList.isEmpty)) throw Bad
      x.getAllFields.forEach { (f, v) =>
        if (f.getJavaType == FieldDescriptor.JavaType.MESSAGE) v match {
          case l: java.util.List[_] => l.forEach(e => walk(e.asInstanceOf[Message]))
          case e => walk(e.asInstanceOf[Message])
        }
      }
    }
    walk(m)
    m
  }

  /** `in`, throwing `EOFException` where it would return -1 at its end.
    * orc-core's bulk RLEv2 reads (`SerializationUtils.readInts`) add each
    * read's count to the bytes read so far and retry until it matches, so
    * on a truncated stream they add -1 about 2^32 times before failing. */
  private final class Strict(in: InStream) extends InStream("orc", 0, 0) {
    private def more(k: Int): Int =
      if (k < 0) throw new java.io.EOFException("orc stream ends") else k
    override def read(): Int = more(in.read())
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      more(in.read(b, off, len))
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
    override protected def setCurrent(r: DiskRangeList, jump: Boolean): Unit =
      throw new UnsupportedOperationException
    override def changeIv(f: java.util.function.Consumer[Array[Byte]]): Unit =
      throw new UnsupportedOperationException
    override def seek(p: PositionProvider): Unit =
      throw new UnsupportedOperationException
  }

  /** The root type: a struct with one name per field. */
  def root(f: OrcProto.Footer): OrcProto.Type = {
    if (f.getTypesCount == 0) throw Bad
    val r = f.getTypes(0)
    if (typeKind(r) != OrcProto.Type.Kind.STRUCT_VALUE ||
      r.getFieldNamesCount != r.getSubtypesCount) throw Bad
    r
  }

  /** The type id of top-level column `name` (the first root field so
    * named), -1 when there is none. */
  def columnId(f: OrcProto.Footer, name: String): Int = {
    val r = root(f)
    val i = r.getFieldNamesList.indexOf(name)
    if (i >= 0) r.getSubtypes(i) else -1
  }

  /** `body` over the file `bytes`, or null when they are malformed: a
    * kernel's [[Bad]], a protobuf error (a message over its cap, a bad
    * tag or length), or any exception orc-core's streams, codecs and
    * decoders raise on bad input. Never an `Error`. */
  def read[T >: Null](bytes: Array[Byte])(body: File => T): T =
    try {
      val f = new File(bytes)
      try body(f) finally f.close()
    } catch {
      case Bad | _: java.io.IOException | _: RuntimeException => null
    }
}
