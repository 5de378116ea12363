package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Avro OCF DATUM decoding — the step [[AvroSchemaJson]] (schema) and
  * [[AvroBlocks]] (framing census) stop short of: decode every record
  * against the file's own writer schema and render it as one JSON
  * object per record, so `.avro` payloads ingest with zero library
  * probe: `binaryFile → avro_records → explode → from_json(schema)`
  * (the engine's `jsonInferSchema`/`csvSchemaDdl` siblings derive the
  * DDL). This is also the reader the Iceberg census stands on — its
  * manifest lists and manifests are avro files with pinned schemas.
  *
  * The full Avro binary encoding from the public spec: zigzag-varint
  * int/long, little-endian IEEE float/double, length-prefixed
  * bytes/string, records as field concatenation, enums as symbol
  * indices, UNION as branch-index + value, arrays/maps as blocks
  * (negative count + byte size form included), fixed, and named-type
  * REFERENCES (a schema naming "LinkedList"-style recursion is
  * resolved through the registry, depth-capped). All six spec codecs
  * decode through the codec shells' bounded decoders: null, deflate
  * (raw, [[BoundedDecode.inflate]]), snappy (raw block + the 4-byte
  * big-endian CRC32 suffix avro appends, VERIFIED), bzip2, xz,
  * zstandard.
  *
  * JSON rendering (documented, deterministic): strings/enums as JSON
  * strings; bytes/fixed as the spec's latin1-escaped string form
  * (`\u00XX` per byte); int/long as integers; float/double shortest
  * round-trip, non-finite as strings ("NaN"/"Infinity"/"-Infinity"
  * — bare tokens are not JSON); null-union values as JSON null. A
  * non-null union renders its VALUE directly — the ingestion form
  * `from_json` consumes — not the spec's `{"branch": value}`
  * round-trip wrapper (divergence documented here, deliberate).
  * Logical types render as their base type.
  *
  * FAIL-CLOSED NULL on: anything [[AvroBlocks]] refuses, a schema
  * that does not parse, an unsupported codec, a datum running past
  * its block, union/enum indices out of range, recursion past
  * `maxDepth`, more than `maxRecords` records or `maxOut` output
  * chars (bomb caps). Per-row bounded work, zero shuffle, codegen'd. */
case class AvroRecordsJson(child: Expression, maxRecords: Int, maxOut: Int)
    extends UnaryExpression {
  require(maxRecords > 0 && maxOut > 0, "bounds must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"avro_records expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    AvroRecordsJson.compute(a.asInstanceOf[Array[Byte]], maxRecords, maxOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.AvroRecordsJson.compute($c, $maxRecords, $maxOut);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "avro_records"
}

object AvroRecordsJson {

  private object Bad extends Exception with scala.util.control.NoStackTrace

  // ---------- schema AST ------------------------------------------
  private sealed trait Sch
  private case object SNull extends Sch
  private case object SBool extends Sch
  private case object SInt extends Sch
  private case object SLong extends Sch
  private case object SFloat extends Sch
  private case object SDouble extends Sch
  private case object SBytes extends Sch
  private case object SString extends Sch
  private final case class SFixed(size: Int) extends Sch
  /** A base type carrying an Avro logicalType annotation — decimal /
    * date / time / timestamp / uuid render as their logical values
    * (unknown logical names fall back to the base rendering, the
    * spec's reader rule). */
  private final case class SLogical(base: Sch, logical: String,
                                    scale: Int) extends Sch
  private final case class SEnum(symbols: Array[String]) extends Sch
  private final case class SArray(items: Sch) extends Sch
  private final case class SMap(values: Sch) extends Sch
  private final case class SUnion(branches: Array[Sch]) extends Sch
  private final class SRecord(val fields: java.util.ArrayList[(String, Sch)])
    extends Sch
  private final case class SRef(name: String) extends Sch

  // ---------- minimal JSON tree parser (schema documents) ----------
  private sealed trait J
  private final case class JStr(s: String) extends J
  private final case class JNum(s: String) extends J
  private final case class JBool(b: Boolean) extends J
  private case object JNull extends J
  private final case class JArr(items: java.util.ArrayList[J]) extends J
  private final case class JObj(fields: java.util.LinkedHashMap[String, J])
    extends J

  private def parseJson(s: String): J = {
    var i = 0
    val n = s.length
    def ws(): Unit = { while (i < n && s.charAt(i) <= ' ') i += 1 }
    def str(): String = {
      if (s.charAt(i) != '"') throw Bad
      i += 1
      val sb = new java.lang.StringBuilder
      while (i < n && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          if (i + 1 >= n) throw Bad
          s.charAt(i + 1) match {
            case '"' => sb.append('"'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '/' => sb.append('/'); i += 2
            case 'n' => sb.append('\n'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case 'u' =>
              if (i + 6 > n) throw Bad
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case _ => throw Bad
          }
        } else { sb.append(c); i += 1 }
      }
      if (i >= n) throw Bad
      i += 1
      sb.toString
    }
    def value(depth: Int): J = {
      if (depth > 64) throw Bad
      ws()
      if (i >= n) throw Bad
      s.charAt(i) match {
        case '"' => JStr(str())
        case '{' =>
          i += 1; ws()
          val m = new java.util.LinkedHashMap[String, J]
          if (i < n && s.charAt(i) == '}') { i += 1; return JObj(m) }
          var more = true
          while (more) {
            ws(); val k = str(); ws()
            if (i >= n || s.charAt(i) != ':') throw Bad
            i += 1
            m.put(k, value(depth + 1))
            ws()
            if (i < n && s.charAt(i) == ',') i += 1
            else if (i < n && s.charAt(i) == '}') { i += 1; more = false }
            else throw Bad
          }
          JObj(m)
        case '[' =>
          i += 1; ws()
          val a = new java.util.ArrayList[J]
          if (i < n && s.charAt(i) == ']') { i += 1; return JArr(a) }
          var more = true
          while (more) {
            a.add(value(depth + 1)); ws()
            if (i < n && s.charAt(i) == ',') i += 1
            else if (i < n && s.charAt(i) == ']') { i += 1; more = false }
            else throw Bad
          }
          JArr(a)
        case 't' =>
          if (!s.startsWith("true", i)) throw Bad
          i += 4; JBool(true)
        case 'f' =>
          if (!s.startsWith("false", i)) throw Bad
          i += 5; JBool(false)
        case 'n' =>
          if (!s.startsWith("null", i)) throw Bad
          i += 4; JNull
        case c if c == '-' || (c >= '0' && c <= '9') =>
          val start = i
          i += 1
          while (i < n && "0123456789.eE+-".indexOf(s.charAt(i)) >= 0) i += 1
          JNum(s.substring(start, i))
        case _ => throw Bad
      }
    }
    val v = value(0)
    ws()
    if (i != n) throw Bad
    v
  }

  // ---------- avro schema from its JSON document -------------------
  private def schemaOf(j: J,
                       named: java.util.HashMap[String, Sch],
                       ns: String): Sch = j match {
    case JStr(s) => s match {
      case "null" => SNull
      case "boolean" => SBool
      case "int" => SInt
      case "long" => SLong
      case "float" => SFloat
      case "double" => SDouble
      case "bytes" => SBytes
      case "string" => SString
      case other =>
        val full = if (other.contains(".") || ns.isEmpty) other
        else ns + "." + other
        if (named.containsKey(full)) SRef(full)
        else if (named.containsKey(other)) SRef(other)
        else throw Bad // unknown named-type reference
    }
    case JArr(items) =>
      val bs = new Array[Sch](items.size())
      var i = 0
      while (i < items.size()) { bs(i) = schemaOf(items.get(i), named, ns); i += 1 }
      SUnion(bs)
    case JObj(m) =>
      val t = m.get("type") match {
        case JStr(s) => s
        case inner: JObj => return schemaOf(inner, named, ns)
        case inner: JArr => return schemaOf(inner, named, ns)
        case _ => throw Bad
      }
      val ns2 = m.get("namespace") match {
        case JStr(s) => s
        case _ => ns
      }
      def fullName(): String = m.get("name") match {
        case JStr(s) if s.contains(".") => s
        case JStr(s) if ns2.nonEmpty => ns2 + "." + s
        case JStr(s) => s
        case _ => throw Bad
      }
      t match {
        case "record" | "error" =>
          val name = fullName()
          val rec = new SRecord(new java.util.ArrayList[(String, Sch)])
          named.put(name, rec) // registered BEFORE fields: recursion works
          m.get("fields") match {
            case JArr(fs) =>
              var i = 0
              while (i < fs.size()) {
                fs.get(i) match {
                  case JObj(fm) =>
                    val fn = fm.get("name") match {
                      case JStr(s) => s
                      case _ => throw Bad
                    }
                    val ft = fm.get("type")
                    if (ft == null) throw Bad
                    rec.fields.add((fn, schemaOf(ft, named, ns2)))
                  case _ => throw Bad
                }
                i += 1
              }
            case _ => throw Bad
          }
          rec
        case "enum" =>
          val name = fullName()
          val syms = m.get("symbols") match {
            case JArr(ss) =>
              val a = new Array[String](ss.size())
              var i = 0
              while (i < ss.size()) {
                a(i) = ss.get(i) match {
                  case JStr(s) => s
                  case _ => throw Bad
                }
                i += 1
              }
              a
            case _ => throw Bad
          }
          val e = SEnum(syms); named.put(name, e); e
        case "fixed" =>
          val name = fullName()
          val size = m.get("size") match {
            case JNum(s) => s.toInt
            case _ => throw Bad
          }
          if (size < 0 || size > (1 << 26)) throw Bad
          val f0 = SFixed(size)
          val f = withLogical(f0, m)
          named.put(name, f0) // refs resolve to the raw fixed
          f
        case "array" =>
          SArray(schemaOf(
            { val it = m.get("items"); if (it == null) throw Bad; it },
            named, ns2))
        case "map" =>
          SMap(schemaOf(
            { val vv = m.get("values"); if (vv == null) throw Bad; vv },
            named, ns2))
        case prim =>
          // {"type":"string", ...} — attributes may carry a logicalType
          withLogical(schemaOf(JStr(prim), named, ns2), m)
      }
    case _ => throw Bad
  }


  /** Wrap `base` when the schema object carries a `logicalType`. */
  private def withLogical(base: Sch,
                          m: java.util.LinkedHashMap[String, J]): Sch =
    m.get("logicalType") match {
      case JStr(lt) =>
        val scale = m.get("scale") match {
          case JNum(x) => x.toInt
          case _ => 0
        }
        if (scale < 0 || scale > 64) throw Bad
        SLogical(base, lt, scale)
      case _ => base
    }

  // ---------- JSON rendering helpers -------------------------------
  private def appendJsonString(out: java.lang.StringBuilder, s: String): Unit = {
    out.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => out.append("\\\"")
        case '\\' => out.append("\\\\")
        case '\n' => out.append("\\n")
        case '\r' => out.append("\\r")
        case '\t' => out.append("\\t")
        case '\b' => out.append("\\b")
        case '\f' => out.append("\\f")
        case cc if cc < ' ' || (cc > '~' && cc < 0xA0) =>
          out.append(f"\\u${cc.toInt}%04x")
        case cc => out.append(cc)
      }
      i += 1
    }
    out.append('"')
  }

  private def appendBytesAsSpecString(out: java.lang.StringBuilder,
                                      b: Array[Byte], from: Int,
                                      len: Int): Unit = {
    out.append('"')
    var i = 0
    while (i < len) {
      val v = b(from + i) & 0xff
      if (v >= ' ' && v <= '~' && v != '"' && v != '\\') out.append(v.toChar)
      else out.append(f"\\u$v%04x")
      i += 1
    }
    out.append('"')
  }

  // ---------- the block decoder ------------------------------------
  private final class Cursor(val b: Array[Byte]) {
    var pos = 0
    def varint(): Long = {
      var acc = 0L
      var shift = 0
      var more = true
      while (more) {
        if (pos >= b.length || shift > 63) throw Bad
        val x = b(pos) & 0xff
        pos += 1
        acc |= (x & 0x7fL) << shift
        shift += 7
        more = (x & 0x80) != 0
      }
      (acc >>> 1) ^ -(acc & 1L)
    }
    def take(n: Long): Int = {
      if (n < 0 || pos + n > b.length) throw Bad
      val at = pos
      pos += n.toInt
      at
    }
  }

  private def decodeDatum(c: Cursor, sch: Sch,
                          named: java.util.HashMap[String, Sch],
                          out: java.lang.StringBuilder,
                          maxOut: Int, depth: Int): Unit = {
    if (out.length > maxOut) throw Bad
    if (depth > 128) throw Bad
    sch match {
      case SNull => out.append("null")
      case SBool =>
        val at = c.take(1)
        val v = c.b(at)
        if (v != 0 && v != 1) throw Bad
        out.append(if (v == 1) "true" else "false")
      case SInt | SLong => out.append(c.varint())
      case SFloat =>
        val at = c.take(4)
        var bits = 0
        var i = 3
        while (i >= 0) { bits = (bits << 8) | (c.b(at + i) & 0xff); i -= 1 }
        appendDouble(out, java.lang.Float.intBitsToFloat(bits).toDouble)
      case SDouble =>
        val at = c.take(8)
        var bits = 0L
        var i = 7
        while (i >= 0) { bits = (bits << 8) | (c.b(at + i) & 0xffL); i -= 1 }
        appendDouble(out, java.lang.Double.longBitsToDouble(bits))
      case SBytes =>
        val len = c.varint()
        val at = c.take(len)
        appendBytesAsSpecString(out, c.b, at, len.toInt)
      case SString =>
        val len = c.varint()
        val at = c.take(len)
        appendJsonString(out, new String(c.b, at, len.toInt,
          java.nio.charset.StandardCharsets.UTF_8))
      case SFixed(size) =>
        val at = c.take(size)
        appendBytesAsSpecString(out, c.b, at, size)
      case SLogical(base, logical, scale) =>
        logical match {
          case "decimal" =>
            // two's-complement big-endian unscaled value over bytes
            // or fixed; rendered as an exact plain-string number
            val (at, len) = base match {
              case SBytes =>
                val n = c.varint()
                if (n < 0 || n > (1 << 20)) throw Bad
                (c.take(n), n.toInt)
              case SFixed(size) => (c.take(size), size)
              case _ => throw Bad
            }
            if (len == 0) throw Bad
            val unscaled = new java.math.BigInteger(
              java.util.Arrays.copyOfRange(c.b, at, at + len))
            out.append(
              new java.math.BigDecimal(unscaled, scale).toPlainString)
          case "date" if base == SInt =>
            appendJsonString(out,
              java.time.LocalDate.ofEpochDay(c.varint()).toString)
          case "timestamp-millis" if base == SLong =>
            appendJsonString(out,
              java.time.Instant.ofEpochMilli(c.varint()).toString)
          case "timestamp-micros" if base == SLong =>
            val v = c.varint()
            appendJsonString(out, java.time.Instant.ofEpochSecond(
              Math.floorDiv(v, 1000000L),
              Math.floorMod(v, 1000000L) * 1000L).toString)
          case "time-millis" if base == SInt =>
            val v = c.varint()
            if (v < 0 || v >= 86400000L) throw Bad
            appendJsonString(out,
              java.time.LocalTime.ofNanoOfDay(v * 1000000L).toString)
          case "time-micros" if base == SLong =>
            val v = c.varint()
            if (v < 0 || v >= 86400000000L) throw Bad
            appendJsonString(out,
              java.time.LocalTime.ofNanoOfDay(v * 1000L).toString)
          case _ =>
            // uuid (already a string) and unknown logical names keep
            // the base rendering — the spec's reader rule
            decodeDatum(c, base, named, out, maxOut, depth + 1)
        }
      case SEnum(symbols) =>
        val ix = c.varint()
        if (ix < 0 || ix >= symbols.length) throw Bad
        appendJsonString(out, symbols(ix.toInt))
      case SUnion(branches) =>
        val ix = c.varint()
        if (ix < 0 || ix >= branches.length) throw Bad
        decodeDatum(c, branches(ix.toInt), named, out, maxOut, depth + 1)
      case SArray(items) =>
        out.append('[')
        var first = true
        var cnt = c.varint()
        while (cnt != 0) {
          if (cnt < 0) { c.varint(); cnt = -cnt } // block-size form
          var i = 0L
          while (i < cnt) {
            if (!first) out.append(',')
            first = false
            decodeDatum(c, items, named, out, maxOut, depth + 1)
            i += 1
          }
          cnt = c.varint()
        }
        out.append(']')
      case SMap(values) =>
        out.append('{')
        var first = true
        var cnt = c.varint()
        while (cnt != 0) {
          if (cnt < 0) { c.varint(); cnt = -cnt }
          var i = 0L
          while (i < cnt) {
            if (!first) out.append(',')
            first = false
            val klen = c.varint()
            val at = c.take(klen)
            appendJsonString(out, new String(c.b, at, klen.toInt,
              java.nio.charset.StandardCharsets.UTF_8))
            out.append(':')
            decodeDatum(c, values, named, out, maxOut, depth + 1)
            i += 1
          }
          cnt = c.varint()
        }
        out.append('}')
      case rec: SRecord =>
        out.append('{')
        var i = 0
        while (i < rec.fields.size()) {
          if (i > 0) out.append(',')
          val (fn, ft) = rec.fields.get(i)
          appendJsonString(out, fn)
          out.append(':')
          decodeDatum(c, ft, named, out, maxOut, depth + 1)
          i += 1
        }
        out.append('}')
      case SRef(name) =>
        val resolved = named.get(name)
        if (resolved == null) throw Bad
        decodeDatum(c, resolved, named, out, maxOut, depth + 1)
    }
  }

  private def appendDouble(out: java.lang.StringBuilder, d: Double): Unit =
    if (java.lang.Double.isNaN(d)) out.append("\"NaN\"")
    else if (d == java.lang.Double.POSITIVE_INFINITY) out.append("\"Infinity\"")
    else if (d == java.lang.Double.NEGATIVE_INFINITY) out.append("\"-Infinity\"")
    else if (d == math.rint(d) && math.abs(d) < 1e15)
      out.append(d.toLong)
    else out.append(d)

  /** Decompress one block's payload per the header codec. */
  private def decodeBlock(codec: String, b: Array[Byte], from: Int,
                          len: Int, maxOut: Int): Array[Byte] =
    codec match {
      case "null" => java.util.Arrays.copyOfRange(b, from, from + len)
      case "deflate" => // RAW deflate per the spec (no zlib wrapper)
        val raw = BoundedDecode.inflate(b, from, len, nowrap = true, maxOut)
        if (raw == null) throw Bad
        raw
      case "snappy" =>
        // avro appends a 4-byte BIG-ENDIAN CRC32 of the UNCOMPRESSED
        // data after the raw snappy block — verified, never skipped
        if (len < 4) throw Bad
        val raw = BlockCodecs.snappy(b, from, len - 4, maxOut)
        if (raw == null) throw Bad
        val crc = new java.util.zip.CRC32()
        crc.update(raw)
        val want = crc.getValue & 0xFFFFFFFFL
        var got = 0L
        var i = 0
        while (i < 4) { got = (got << 8) | (b(from + len - 4 + i) & 0xffL); i += 1 }
        if (got != want) throw Bad
        raw
      case "bzip2" =>
        val raw = Bunzip2.compute(
          java.util.Arrays.copyOfRange(b, from, from + len), maxOut)
        if (raw == null) throw Bad
        raw
      case "xz" =>
        val raw = XzPayload.compute(
          java.util.Arrays.copyOfRange(b, from, from + len), maxOut)
        if (raw == null) throw Bad
        raw
      case "zstandard" =>
        val raw = ZstdPayload.compute(
          java.util.Arrays.copyOfRange(b, from, from + len), maxOut)
        if (raw == null) throw Bad
        raw
      case _ => throw Bad // unsupported codec: refuse, never guess
    }

  /** The per-row kernel — public static so generated code can call it. */
  def compute(bytes: Array[Byte], maxRecords: Int,
              maxOut: Int): GenericArrayData = {
    val n = bytes.length
    if (n < 5 || bytes(0) != 'O' || bytes(1) != 'b' || bytes(2) != 'j' ||
      bytes(3) != 1) return null
    try {
      // header metadata
      val c = new Cursor(bytes)
      c.pos = 4
      var codec = "null"
      var schemaJson: String = null
      var mapCount = c.varint()
      var guard = 0
      while (mapCount != 0) {
        guard += 1
        if (guard > 64) throw Bad
        if (mapCount < 0) { c.varint(); mapCount = -mapCount }
        var i = 0L
        while (i < mapCount) {
          val klen = c.varint()
          val kat = c.take(klen)
          val key = new String(c.b, kat, klen.toInt,
            java.nio.charset.StandardCharsets.UTF_8)
          val vlen = c.varint()
          val vat = c.take(vlen)
          if (key == "avro.codec")
            codec = new String(c.b, vat, vlen.toInt,
              java.nio.charset.StandardCharsets.UTF_8)
          else if (key == "avro.schema")
            schemaJson = new String(c.b, vat, vlen.toInt,
              java.nio.charset.StandardCharsets.UTF_8)
          i += 1
        }
        mapCount = c.varint()
      }
      if (schemaJson == null) throw Bad
      val named = new java.util.HashMap[String, Sch]
      val sch = schemaOf(parseJson(schemaJson), named, "")
      val syncAt = c.take(16)
      val out = new java.util.ArrayList[Any]
      var totalChars = 0L
      while (c.pos < n) {
        val cnt = c.varint()
        val size = c.varint()
        if (cnt < 0 || size < 0) throw Bad
        val at = c.take(size)
        // sync marker verified per block
        val sat = c.take(16)
        var j = 0
        while (j < 16) {
          if (bytes(sat + j) != bytes(syncAt + j)) throw Bad
          j += 1
        }
        val data = decodeBlock(codec, bytes, at, size.toInt, maxOut)
        val bc = new Cursor(data)
        var i = 0L
        while (i < cnt) {
          if (out.size() >= maxRecords) throw Bad
          val sb = new java.lang.StringBuilder
          decodeDatum(bc, sch, named, sb, maxOut, 0)
          totalChars += sb.length
          if (totalChars > maxOut) throw Bad
          out.add(UTF8String.fromString(sb.toString))
          i += 1
        }
        if (bc.pos != data.length) throw Bad // data must tile exactly
      }
      new GenericArrayData(out.toArray)
    } catch {
      case Bad => null
      case _: NumberFormatException => null
      case _: ArrayIndexOutOfBoundsException => null
    }
  }

  /** Spark DDL for parsing THIS kernel's JSON output with `from_json`
    * — the other half of the `.avro` ingestion path: avro `int` →
    * `INT`, `long` → `BIGINT`, `bytes`/`fixed` → `STRING` (the JSON
    * rendering is the latin1-escaped string form), `enum` → `STRING`,
    * `["null", X]` → nullable X, records → `STRUCT<…>`. Fallbacks,
    * documented: a multi-branch non-null union and a RECURSIVE record
    * reference both map to `STRING` (DDL cannot express either — the
    * JSON text stays available to a second from_json). Returns null
    * on a schema that does not parse. */
  def sparkDdl(schemaJson: String): String = {
    val named = new java.util.HashMap[String, Sch]
    def ddlOf(sch: Sch, seen: java.util.HashSet[Sch]): String = sch match {
      case SNull => "STRING" // a pure-null field: always-null string
      case SBool => "BOOLEAN"
      case SInt => "INT"
      case SLong => "BIGINT"
      case SFloat => "FLOAT"
      case SDouble => "DOUBLE"
      case SBytes | SString | _: SFixed | _: SEnum => "STRING"
      case SArray(items) => s"ARRAY<${ddlOf(items, seen)}>"
      case SMap(values) => s"MAP<STRING, ${ddlOf(values, seen)}>"
      case SUnion(branches) =>
        val nonNull = branches.filter(_ != SNull)
        if (nonNull.length == 1) ddlOf(nonNull(0), seen)
        else "STRING" // heterogeneous union: keep the JSON text
      case rec: SRecord =>
        if (seen.contains(rec)) "STRING" // recursion: DDL cannot say it
        else {
          seen.add(rec)
          val fs = new java.lang.StringBuilder
          var i = 0
          while (i < rec.fields.size()) {
            if (i > 0) fs.append(", ")
            val (fn, ft) = rec.fields.get(i)
            fs.append('`').append(fn.replace("`", "``")).append("`: ")
              .append(ddlOf(ft, seen))
            i += 1
          }
          seen.remove(rec)
          s"STRUCT<$fs>"
        }
      case SRef(name) =>
        // a non-recursive REUSE (two fields of one record type)
        // resolves through the registry; true recursion → STRING
        val r = named.get(name)
        if (r == null || seen.contains(r)) "STRING" else ddlOf(r, seen)
    }
    try {
      val sch = schemaOf(parseJson(schemaJson), named, "")
      sch match {
        case rec: SRecord =>
          // top level unwrapped: field list, the from_json schema form
          val seen = new java.util.HashSet[Sch]
          seen.add(rec)
          val fs = new java.lang.StringBuilder
          var i = 0
          while (i < rec.fields.size()) {
            if (i > 0) fs.append(", ")
            val (fn, ft) = rec.fields.get(i)
            fs.append('`').append(fn.replace("`", "``")).append("` ")
              .append(ddlOf(ft, seen))
            i += 1
          }
          fs.toString
        case other => ddlOf(other, new java.util.HashSet[Sch])
      }
    } catch {
      case Bad => null
      case _: NumberFormatException => null
    }
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; 1M records / 64 MiB output default. */
  def apply(payload: Column, maxRecords: Int = 1 << 20,
            maxOut: Int = 1 << 26): Column =
    ColumnShim.column(
      AvroRecordsJson(ColumnShim.expression(payload), maxRecords, maxOut))
}
