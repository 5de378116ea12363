package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Simple-PDF text extraction — the parser `pdfMeta`'s token census
  * deliberately is not: walk every `<< … >> stream … endstream`
  * object, decode each stream through its FULL `/Filter` chain —
  * FlateDecode (zlib framing, [[BoundedDecode.inflate]]), LZWDecode
  * (MSB-first 9→12-bit codes, `/EarlyChange` honored), ASCII85Decode,
  * ASCIIHexDecode and RunLengthDecode, singly or as a `/Filter`
  * ARRAY applied in sequence (`[/ASCII85Decode /FlateDecode]`), with
  * PNG/TIFF `/Predictor` inversion after a Flate/LZW stage — take
  * unfiltered streams verbatim, and SKIP-AND-COUNT streams carrying
  * filters this kernel must not pretend to read (DCTDecode,
  * CCITTFaxDecode, JBIG2Decode, JPXDecode, Crypt), then scan each
  * content stream's `BT … ET` text
  * blocks for the show operators — `(…) Tj`, `(…) '`, `(…) "` and
  * `[(…) -120 (…)] TJ` — parsing PDF literal strings in full
  * (balanced nested parens, the `\n \r \t \b \f \( \) \\` escapes,
  * 1-3-digit octal codes, line continuations) plus `<…>` hex
  * strings.
  *
  * Joining contract (deterministic, documented): strings inside one
  * TJ array concatenate (kerning numbers ignored), show operations
  * within a BT block join with a single space, BT blocks and streams
  * join with a newline.
  *
  * TOUNICODE CMAP RESOLUTION (the tier most post-2005 PDFs need —
  * subset fonts embed arbitrary glyph codes that are garbage as raw
  * bytes): when the document contains `/ToUnicode`, the kernel
  * parses the indirect objects (`N G obj … endobj`), decodes each
  * font's ToUnicode CMap stream (any decodable filter chain), reads its
  * `begincodespacerange`/`beginbfchar`/`beginbfrange` entries
  * (array and incremented-range destinations, UTF-16BE values), and
  * resolves page `/Resources → /Font` name→font maps so that a
  * `/F1 12 Tf` inside a content stream selects the right CMap for
  * the show-string bytes that follow (the font selection persists
  * across BT blocks within a stream, per the graphics state). A
  * content stream not reachable from a page falls back to the union
  * of all font resource dicts. Since round 15 the object walk also
  * EXPANDS `/Type /ObjStm` object streams (PDF 1.5+ cross-reference-
  * stream files keep their font/page/resource dictionaries deflated
  * inside these), so CMap resolution works on modern writers whose
  * dictionaries never appear as top-level `N G obj` text. Fonts WITHOUT a usable CMap (absent,
  * malformed, or over the 64k-entry cap) keep the latin1 tier —
  * fail-closed to the old contract, never a throw.
  *
  * IDENTITY-H WITHOUT TOUNICODE (round 16): a Type0 font carrying
  * `/Encoding /Identity-H` but no usable ToUnicode resolves through
  * its EMBEDDED TrueType program — `/DescendantFonts → /FontDescriptor
  * → /FontFile2`, decoded through the filter chain, its `cmap` table
  * (formats 4 and 12) INVERTED glyph→unicode (smallest codepoint
  * wins when a glyph serves several) — valid because Identity-H show
  * codes ARE glyph ids when `/CIDToGIDMap` is identity (the default;
  * a stream-valued CIDToGIDMap keeps the raw tier). Unmapped glyphs
  * emit U+FFFD like any unmapped CMap code.
  *
  * Remaining honestly-documented bounds: CFF programs (`/FontFile3`)
  * are not inverted (no glyf-order cmap guarantee),
  * and `Tf` operators between BT blocks are not tracked (real
  * writers set the font inside the text object). Undecodable or
  * over-`maxOut` streams are SKIPPED and counted, not fatal: output
  * struct `(text, n_streams, n_decoded)` lets a pipeline gate on
  * `n_decoded < n_streams`. Non-PDF payloads (no `%PDF-` magic)
  * yield a null struct. The walk is bounded by `maxStreams`.
  * Per-row bounded work, zero shuffle, codegen'd. */
case class PdfTextExtract(child: Expression, maxStreams: Int, maxOut: Int)
    extends UnaryExpression {
  require(maxStreams > 0, "stream walk bound must be positive")
  require(maxOut > 0, "output cap must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pdf_text expects binary input, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("n_streams", LongType, nullable = false),
    StructField("n_decoded", LongType, nullable = false),
    StructField("encrypted", BooleanType, nullable = false)))

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    PdfTextExtract.compute(a.asInstanceOf[Array[Byte]], maxStreams, maxOut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.PdfTextExtract.compute($c, $maxStreams, $maxOut);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "pdf_text"
}

object PdfTextExtract {

  /** The per-row kernel — public static so generated code can call it. */
  def compute(bytes: Array[Byte], maxStreams: Int,
              maxOut: Int): InternalRow = {
    if (bytes.length < 5 || bytes(0) != '%' || bytes(1) != 'P' ||
      bytes(2) != 'D' || bytes(3) != 'F' || bytes(4) != '-') return null
    val doc = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    // encryption: names/dicts stay plaintext in an encrypted PDF —
    // only strings and streams are enciphered — so the /Encrypt
    // reference and the crypt parameters are readable up front
    var encrypted = false
    var crypt: PdfCrypt.Decryptor = null
    var preObjs: Array[ObjInfo] = null
    if (doc.contains("/Encrypt")) {
      preObjs = parseObjects(doc, maxStreams)
      val dictByNum = new java.util.HashMap[Integer, String]()
      for (o <- preObjs)
        if (!dictByNum.containsKey(o.num)) dictByNum.put(o.num, o.dict)
      PdfCrypt.build(doc, n => dictByNum.get(n)) match {
        case null => preObjs = null // false-positive gate: plaintext
        case PdfCrypt.Locked =>
          // genuinely password-protected (or unsupported handler):
          // count the streams, decode NOTHING — never guessed text
          var nStreams = 0L
          var pos = 0
          var steps = 0
          while (steps < maxStreams) {
            steps += 1
            val sk = doc.indexOf("stream", pos)
            if (sk < 0) steps = maxStreams
            else {
              // same opener test as the main walk — and not the tail
              // of "endstream"
              if ((doc.startsWith("stream\r\n", sk) ||
                doc.startsWith("stream\n", sk)) &&
                (sk == 0 || !isRegular(doc.charAt(sk - 1)))) nStreams += 1
              pos = sk + 6
            }
          }
          return new GenericInternalRow(Array[Any](
            UTF8String.fromString(""), nStreams, 0L, true))
        case d: PdfCrypt.Decryptor =>
          encrypted = true
          crypt = d
      }
    }
    // per-stream object lookup, needed only when streams decrypt
    val objByStart: java.util.HashMap[Integer, ObjInfo] =
      if (crypt != null && crypt.cfm != 0) {
        val m = new java.util.HashMap[Integer, ObjInfo]()
        for (o <- preObjs) if (o.streamStart >= 0)
          m.put(o.streamStart, o)
        m
      } else null
    // the CMap environment is built ONLY when the document mentions
    // ToUnicode — the common simple-PDF path pays one indexOf
    val env: FontEnv =
      // /ToUnicode may itself be INSIDE a deflated /ObjStm, so the
      // cheap gate must fire on either token; /Identity-H fonts
      // resolve through their embedded program's cmap
      if (doc.contains("/ToUnicode") || doc.contains("/ObjStm") ||
        doc.contains("/Identity-H"))
        buildFontEnv(doc, maxStreams, maxOut, crypt, preObjs)
      else null
    val out = new java.lang.StringBuilder
    var nStreams = 0L
    var nDecoded = 0L
    var pos = 0
    var steps = 0
    while (steps < maxStreams) {
      steps += 1
      val sk = doc.indexOf("stream", pos)
      if (sk < 0) {
        val txt = out.toString
        return new GenericInternalRow(Array[Any](
          UTF8String.fromString(txt), nStreams, nDecoded, encrypted))
      }
      // require the keyword form: "stream" followed by \r\n or \n
      val dataStart =
        if (doc.startsWith("stream\r\n", sk)) sk + 8
        else if (doc.startsWith("stream\n", sk)) sk + 7
        else -1
      // "endstream" contains "stream" — skip keyword hits that are not
      // a stream opener (also covers "stream" inside string data)
      if (dataStart < 0) { pos = sk + 6 }
      else {
        nStreams += 1
        // the dict governing this stream: backwards balanced <</>> scan
        // finds the OUTER opener — a plain lastIndexOf("<<") would stop
        // at a nested dict (/DecodeParms << … >>) and miss /FlateDecode
        val dictStart = dictStartBefore(doc, sk)
        val dict = if (dictStart >= 0) doc.substring(dictStart, sk) else ""
        val (dEnd, end) = streamBounds(doc, dict, dataStart)
        if (end < 0) {
          val txt = out.toString
          return new GenericInternalRow(Array[Any](
            UTF8String.fromString(txt), nStreams, nDecoded, encrypted))
        }
        var data = doc.substring(dataStart, dEnd)
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        // decrypt before filters (XRef streams are never encrypted)
        if (objByStart != null && keyValueAt(dict, "/XRef") < 0) {
          val o = objByStart.get(dataStart)
          data = if (o == null) null
                 else crypt.decrypt(o.num, o.gen, data)
        }
        val content: String =
          (if (data == null) null else decodeStream(dict, data, maxOut)) match {
            case null => null
            case b =>
              new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
          }
        if (content != null) {
          nDecoded += 1
          val skipScan = env != null && env.isResourceStream(dataStart)
          val fonts = if (env == null) null else env.fontsFor(dataStart)
          val t = if (skipScan) "" else extractShownText(content, fonts)
          if (t.nonEmpty) {
            if (out.length > 0) out.append('\n')
            out.append(t)
          }
        }
        pos = end + 9
      }
    }
    // stream-walk bound exhausted: report what was decoded so far —
    // the n_streams/n_decoded pair shows the truncation
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(out.toString), nStreams, nDecoded, encrypted))
  }

  /** Start index of the stream dict governing the keyword at `sk`:
    * the first `>>` scanning backwards is the governing dict's closer;
    * balancing `>>`/`<<` pairs from there finds ITS opener, so nested
    * dictionaries (e.g. `/DecodeParms << … >>` after `/Filter`)
    * resolve to the OUTER opener, not the innermost `<<`. A `<<` hit
    * at depth 0 (unterminated dict) is the opener directly. -1 if
    * none found. */
  private def dictStartBefore(doc: String, sk: Int): Int = {
    var i = sk - 2
    var depth = 0
    while (i >= 0) {
      val c = doc.charAt(i)
      if (c == '>' && doc.charAt(i + 1) == '>') { depth += 1; i -= 2 }
      else if (c == '<' && doc.charAt(i + 1) == '<') {
        if (depth == 0) return i
        depth -= 1
        if (depth == 0) return i
        i -= 2
      } else i -= 1
    }
    -1
  }

  /** A DIRECT (non-reference) integer `/Length` in `dict`, or -1. */
  private def directLengthAt(dict: String): Int = {
    val at = keyValueAt(dict, "/Length")
    if (at < 0) return -1
    if (refAt(dict, at) >= 0) return -1 // `N 0 R`: indirect, unusable
    var i = at
    while (i < dict.length && dict.charAt(i).isWhitespace) i += 1
    val s = i
    while (i < dict.length && dict.charAt(i).isDigit) i += 1
    if (i == s || i - s > 8) -1 else Integer.parseInt(dict.substring(s, i))
  }

  /** Bounds of one stream's raw data: trust a DIRECT `/Length` whose
    * end lands (past at most one EOL) exactly on the `endstream`
    * keyword — binary filter output may legally END in EOL bytes or
    * even contain the keyword text — else fall back to the
    * one-EOL-strip heuristic. Returns `(dataEnd, endKeywordAt)`,
    * `(-1, -1)` when no `endstream` terminates the stream. */
  private def streamBounds(doc: String, dict: String,
                           dataStart: Int): (Int, Int) = {
    val len = directLengthAt(dict)
    if (len >= 0 && dataStart.toLong + len <= doc.length) {
      var k = dataStart + len
      if (k < doc.length && doc.charAt(k) == '\r') k += 1
      if (k < doc.length && doc.charAt(k) == '\n') k += 1
      if (doc.startsWith("endstream", k)) return (dataStart + len, k)
    }
    val end = doc.indexOf("endstream", dataStart)
    if (end < 0) return (-1, -1)
    var dEnd = end
    if (dEnd > dataStart && doc.charAt(dEnd - 1) == '\n') dEnd -= 1
    if (dEnd > dataStart && doc.charAt(dEnd - 1) == '\r') dEnd -= 1
    (dEnd, end)
  }

  /** Names of the stream filters this kernel can decode. */
  private val Decodable = Set("FlateDecode", "Fl", "LZWDecode", "LZW",
    "ASCII85Decode", "A85", "ASCIIHexDecode", "AHx",
    "RunLengthDecode", "RL")

  /** `/Filter` chain of a stream dict: a single name, an array of
    * names applied in sequence, or empty (no filter). Null when any
    * named filter is outside [[Decodable]] (DCTDecode, CCITTFax,
    * JBIG2, JPX, Crypt — image/crypto filters this kernel must not
    * pretend to read) or the value is malformed. */
  private def filterChain(dict: String): Array[String] = {
    val at = keyValueAt(dict, "/Filter")
    if (at < 0) return Array.empty
    var i = at
    val n = dict.length
    while (i < n && dict.charAt(i).isWhitespace) i += 1
    def name(): String = {
      if (i >= n || dict.charAt(i) != '/') return null
      i += 1
      val s = i
      while (i < n && isRegular(dict.charAt(i))) i += 1
      if (i == s) null else dict.substring(s, i)
    }
    if (i < n && dict.charAt(i) == '[') {
      i += 1
      val out = new scala.collection.mutable.ArrayBuffer[String]
      while (i < n && dict.charAt(i) != ']') {
        if (dict.charAt(i) == '/') {
          val f = name()
          if (f == null || !Decodable.contains(f)) return null
          out += f
        } else i += 1
      }
      out.toArray
    } else {
      val f = name()
      if (f == null || !Decodable.contains(f)) null else Array(f)
    }
  }

  /** Decode one stream's raw data through its `/Filter` chain:
    * FlateDecode, LZWDecode (MSB-first 9→12-bit codes, `/EarlyChange`
    * honored, default 1), ASCII85Decode, ASCIIHexDecode and
    * RunLengthDecode — singly or as a `/Filter` ARRAY applied in
    * sequence — with PNG (`/Predictor` ≥ 10) and TIFF (`/Predictor`
    * 2) row-predictor inversion after a Flate/LZW stage (parms are
    * read from the stream dict; the overwhelmingly common real shape
    * is a single predicted stage). Null = undecodable: an unknown
    * filter, corrupt data, or output over `maxOut` — the caller
    * counts the skip, never guesses. */
  private[functions] def decodeStream(dict: String, data: Array[Byte],
                                      maxOut: Int): Array[Byte] = {
    val chain = filterChain(dict)
    if (chain == null) return null
    var cur = data
    for (f <- chain) {
      if (cur == null) return null
      cur = f match {
        case "FlateDecode" | "Fl" => predicted(dict,
          BoundedDecode.inflate(cur, 0, cur.length, nowrap = false, maxOut))
        case "LZWDecode" | "LZW" =>
          val ec = intValueAt(dict, "/EarlyChange") match {
            case 0 => 0
            case _ => 1 // absent (-1) or any other value: spec default
          }
          predicted(dict, lzwDecode(cur, ec, maxOut))
        case "ASCII85Decode" | "A85" => a85Decode(cur, maxOut)
        case "ASCIIHexDecode" | "AHx" => ahxDecode(cur, maxOut)
        case "RunLengthDecode" | "RL" => rlDecode(cur, maxOut)
        case _ => null
      }
    }
    cur
  }

  /** Apply the dict's `/Predictor` (if any) to a Flate/LZW result:
    * ≥ 10 inverts the PNG row filters (None/Sub/Up/Average/Paeth,
    * `/Colors`·`/BitsPerComponent`-wide left stride, default 1·8),
    * 2 inverts the TIFF horizontal differencing (8-bit components
    * only). 1 or absent passes through; malformed geometry → null. */
  private def predicted(dict: String, data: Array[Byte]): Array[Byte] = {
    if (data == null) return null
    val pred = intValueAt(dict, "/Predictor")
    if (pred <= 1) return data
    val columns = math.max(1, intValueAt(dict, "/Columns"))
    val colors = intValueAt(dict, "/Colors") match {
      case -1 => 1
      case c => c
    }
    val bpcV = intValueAt(dict, "/BitsPerComponent") match {
      case -1 => 8
      case b => b
    }
    if (colors < 1 || colors > 4) return null
    val bpp = math.max(1, colors * bpcV / 8)
    val rowBytes = (columns.toLong * colors * bpcV + 7) / 8
    if (rowBytes <= 0 || rowBytes > Int.MaxValue - 1) return null
    val rb = rowBytes.toInt
    if (pred == 2) {
      if (bpcV != 8) return null // sub-byte TIFF differencing: refuse
      val out = data.clone()
      var r = 0
      while (r + rb <= out.length) {
        var i = r + bpp
        while (i < r + rb && i < out.length) {
          out(i) = (out(i) + out(i - bpp)).toByte
          i += 1
        }
        r += rb
      }
      return out
    }
    if (pred < 10) return null
    // PNG predictors: rows of (tag + rowBytes)
    if (data.length % (rb + 1) != 0) return null
    val rows = data.length / (rb + 1)
    val out = new Array[Byte](rows * rb)
    var r = 0
    while (r < rows) {
      val tag = data(r * (rb + 1)) & 0xff
      val src = r * (rb + 1) + 1
      val dst = r * rb
      var i = 0
      while (i < rb) {
        val raw = data(src + i) & 0xff
        val left = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
        val up = if (r > 0) out(dst - rb + i) & 0xff else 0
        val ul = if (r > 0 && i >= bpp) out(dst - rb + i - bpp) & 0xff else 0
        val v = tag match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + up
          case 3 => raw + ((left + up) >> 1)
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            raw + (if (pa <= pb && pa <= pc) left
                   else if (pb <= pc) up else ul)
          case _ => return null
        }
        out(dst + i) = v.toByte
        i += 1
      }
      r += 1
    }
    out
  }

  /** PDF LZWDecode: MSB-first variable-width codes starting at 9
    * bits, Clear=256 resets the table, EOD=257 ends the stream
    * (REQUIRED — exhausting input without it is corrupt, null), width
    * bumps at table size `2^w - earlyChange` (the spec default
    * `/EarlyChange 1` matches TIFF's one-early bump). Growable
    * output, `maxOut`-capped. */
  private[functions] def lzwDecode(src: Array[Byte], earlyChange: Int,
                                   maxOut: Int): Array[Byte] = {
    val Clear = 256
    val Eod = 257
    val maxCodes = 4096
    val prefix = new Array[Int](maxCodes)
    val append = new Array[Byte](maxCodes)
    val length = new Array[Int](maxCodes)
    var next = 258
    var width = 9
    var bitPos = 0L
    val bitEnd = src.length.toLong * 8
    var out = new Array[Byte](math.min(maxOut, math.max(64, src.length * 3)))
    var o = 0
    var prev = -1
    def ensure(extra: Int): Boolean = {
      if (o + extra <= out.length) return true
      if (o + extra > maxOut) return false
      var cap = out.length
      while (cap < o + extra) cap = math.min(maxOut, cap * 2)
      out = java.util.Arrays.copyOf(out, cap)
      true
    }
    def firstByte(code: Int): Int = {
      var c = code
      while (c >= 258) c = prefix(c)
      c
    }
    def emit(code: Int): Int = {
      if (code < 256) {
        if (!ensure(1)) return -1
        out(o) = code.toByte
        o += 1
        code
      } else {
        val n = length(code)
        if (!ensure(n)) return -1
        var c = code
        var p = o + n
        while (c >= 258) { p -= 1; out(p) = append(c); c = prefix(c) }
        p -= 1
        out(p) = c.toByte
        o += n
        c
      }
    }
    while (true) {
      if (bitPos + width > bitEnd) return null // no EOD: corrupt
      var code = 0
      var i = 0
      while (i < width) {
        val bp = bitPos + i
        code = (code << 1) |
          ((src((bp >>> 3).toInt) >>> (7 - (bp & 7).toInt)) & 1)
        i += 1
      }
      bitPos += width
      if (code == Eod) return java.util.Arrays.copyOf(out, o)
      if (code == Clear) {
        next = 258
        width = 9
        prev = -1
      } else if (prev < 0) {
        if (code >= 256) return null // first code after clear: literal
        if (emit(code) < 0) return null
        prev = code
      } else {
        var first = 0
        if (code < next) {
          first = emit(code)
          if (first < 0) return null
        } else if (code == next) { // KwK
          val pf = firstByte(prev)
          first = emit(prev)
          if (first < 0) return null
          if (!ensure(1)) return null
          out(o) = pf.toByte
          o += 1
        } else return null
        if (next < maxCodes) {
          prefix(next) = prev
          append(next) = first.toByte
          length(next) = (if (prev < 256) 1 else length(prev)) + 1
          next += 1
        }
        if (next == (1 << width) - earlyChange && width < 12) width += 1
        prev = code
      }
    }
    null // unreachable
  }

  /** ASCII85Decode: 5 chars `!`..`u` → 4 bytes base-85, `z` = four
    * zero bytes (only between groups), whitespace skipped, `~>` ends;
    * a trailing partial group of n chars yields n-1 bytes (padded
    * with `u`). A lone trailing char, out-of-range chars, `z` inside
    * a group or 32-bit overflow → null. */
  private[functions] def a85Decode(src: Array[Byte],
                                   maxOut: Int): Array[Byte] = {
    var out = new Array[Byte](math.min(maxOut, math.max(64, src.length)))
    var o = 0
    def ensure(extra: Int): Boolean = {
      if (o + extra <= out.length) return true
      if (o + extra > maxOut) return false
      out = java.util.Arrays.copyOf(out,
        math.min(maxOut, math.max(out.length * 2, o + extra)))
      true
    }
    var acc = 0L
    var k = 0
    var i = 0
    // optional <~ opener (Adobe framing)
    if (src.length >= 2 && src(0) == '<' && src(1) == '~') i = 2
    var ended = false
    while (i < src.length && !ended) {
      val c = (src(i) & 0xff).toChar
      if (c == '~') {
        ended = true // `~>` terminator (trailing '>' not required here)
      } else if (c == 'z') {
        if (k != 0) return null
        if (!ensure(4)) return null
        out(o) = 0; out(o + 1) = 0; out(o + 2) = 0; out(o + 3) = 0
        o += 4
      } else if (c.isWhitespace) {
        // skip
      } else if (c >= '!' && c <= 'u') {
        acc = acc * 85 + (c - '!')
        k += 1
        if (k == 5) {
          if (acc > 0xffffffffL) return null
          if (!ensure(4)) return null
          out(o) = (acc >> 24).toByte
          out(o + 1) = (acc >> 16).toByte
          out(o + 2) = (acc >> 8).toByte
          out(o + 3) = acc.toByte
          o += 4
          acc = 0
          k = 0
        }
      } else return null
      i += 1
    }
    if (k == 1) return null
    if (k > 1) {
      var pad = k
      var a = acc
      while (pad < 5) { a = a * 85 + 84; pad += 1 } // pad with 'u'
      if (a > 0xffffffffL) return null
      if (!ensure(k - 1)) return null
      var j = 0
      while (j < k - 1) {
        out(o) = (a >> (24 - 8 * j)).toByte
        o += 1
        j += 1
      }
    }
    java.util.Arrays.copyOf(out, o)
  }

  /** ASCIIHexDecode: hex pairs, whitespace skipped, `>` ends, odd
    * final digit takes low nibble 0; any other char → null. */
  private[functions] def ahxDecode(src: Array[Byte],
                                   maxOut: Int): Array[Byte] = {
    val out = new Array[Byte](math.min(maxOut.toLong,
      src.length / 2 + 1).toInt)
    var o = 0
    var hi = -1
    var i = 0
    while (i < src.length) {
      val c = (src(i) & 0xff).toChar
      if (c == '>') {
        if (hi >= 0) {
          if (o >= out.length) return null
          out(o) = (hi << 4).toByte
          o += 1
        }
        return java.util.Arrays.copyOf(out, o)
      }
      val v =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else if (c.isWhitespace) -2
        else return null
      if (v >= 0) {
        if (hi < 0) hi = v
        else {
          if (o >= out.length) return null
          out(o) = ((hi << 4) | v).toByte
          o += 1
          hi = -1
        }
      }
      i += 1
    }
    // EOD '>' is technically required; tolerate its absence at EOF
    if (hi >= 0) {
      if (o >= out.length) return null
      out(o) = (hi << 4).toByte
      o += 1
    }
    java.util.Arrays.copyOf(out, o)
  }

  /** RunLengthDecode: tag 0..127 copies tag+1 literal bytes, 129..255
    * repeats the next byte 257-tag times, 128 = EOD. Truncated data
    * (no EOD, or a run past the input) → null. */
  private[functions] def rlDecode(src: Array[Byte],
                                  maxOut: Int): Array[Byte] = {
    var out = new Array[Byte](math.min(maxOut, math.max(64, src.length * 2)))
    var o = 0
    def ensure(extra: Int): Boolean = {
      if (o + extra <= out.length) return true
      if (o + extra > maxOut) return false
      out = java.util.Arrays.copyOf(out,
        math.min(maxOut, math.max(out.length * 2, o + extra)))
      true
    }
    var i = 0
    while (i < src.length) {
      val tag = src(i) & 0xff
      i += 1
      if (tag == 128) return java.util.Arrays.copyOf(out, o)
      if (tag < 128) {
        val n = tag + 1
        if (i + n > src.length || !ensure(n)) return null
        System.arraycopy(src, i, out, o, n)
        i += n
        o += n
      } else {
        val n = 257 - tag
        if (i >= src.length || !ensure(n)) return null
        java.util.Arrays.fill(out, o, o + n, src(i))
        i += 1
        o += n
      }
    }
    null // input exhausted without the 128 EOD tag: corrupt
  }

  /** Shown strings of one content stream under the joining contract.
    * `fonts` (nullable) maps font resource names to their ToUnicode
    * CMaps; a `/Name … Tf` selects, show-string bytes map through the
    * selection, fonts without a CMap keep latin1. */
  private def extractShownText(
      s: String, fonts: java.util.HashMap[String, UCMap]): String = {
    val n = s.length
    val blocks = new java.lang.StringBuilder
    var i = 0
    // graphics state persists across BT blocks within one stream
    var lastName: String = null
    var cm: UCMap = null
    while (i < n) {
      val bt = s.indexOf("BT", i)
      if (bt < 0) return blocks.toString
      val et = s.indexOf("ET", bt + 2)
      val blockEnd = if (et < 0) n else et
      val block = new java.lang.StringBuilder
      var j = bt + 2
      // pending holds the strings of the most recent literal/hex/array
      // until the operator that follows decides whether they are shown
      var pending: String = null
      def flush(): Unit = {
        if (pending != null) {
          val shown = if (cm != null) cm.mapString(pending) else pending
          if (block.length > 0) block.append(' ')
          block.append(shown)
        }
        pending = null
      }
      while (j < blockEnd) {
        val c = s.charAt(j)
        if (c == '(') {
          val (str, nj) = parseLiteral(s, j, blockEnd)
          pending = str; j = nj
        } else if (c == '<' &&
          (j + 1 >= blockEnd || s.charAt(j + 1) != '<')) {
          val (str, nj) = parseHex(s, j, blockEnd)
          pending = str; j = nj
        } else if (c == '[') {
          val (str, nj) = parseArray(s, j, blockEnd)
          pending = str; j = nj
        } else if (c == '/' && fonts != null) {
          val sb = new java.lang.StringBuilder
          var k = j + 1
          while (k < blockEnd && isRegular(s.charAt(k))) {
            sb.append(s.charAt(k)); k += 1
          }
          lastName = sb.toString; j = k
        } else if (c == 'T' && j + 1 < blockEnd &&
          (s.charAt(j + 1) == 'j' || s.charAt(j + 1) == 'J')) {
          flush(); j += 2
        } else if (c == 'T' && j + 1 < blockEnd && s.charAt(j + 1) == 'f' &&
          fonts != null) {
          cm = if (lastName == null) null else fonts.get(lastName)
          j += 2
        } else if (c == '\'' || c == '"') {
          flush(); j += 1
        } else j += 1
      }
      if (block.length > 0) {
        if (blocks.length > 0) blocks.append('\n')
        blocks.append(block)
      }
      i = if (et < 0) n else et + 2
    }
    blocks.toString
  }

  /** PDF "regular" character: not whitespace, not a delimiter. */
  private[functions] def isRegular(c: Char): Boolean =
    !c.isWhitespace && c != '(' && c != ')' && c != '<' && c != '>' &&
      c != '[' && c != ']' && c != '{' && c != '}' && c != '/' && c != '%'

  /** PDF literal string at s(i) == '(' → (content, index past ')'). */
  private[functions] def parseLiteral(s: String, i0: Int, end: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder
    var depth = 1
    var i = i0 + 1
    while (i < end && depth > 0) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < end) {
        val e = s.charAt(i + 1)
        e match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case '(' => sb.append('('); i += 2
          case ')' => sb.append(')'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '\n' => i += 2 // line continuation
          case '\r' =>
            i += 2; if (i < end && s.charAt(i) == '\n') i += 1
          case d if d >= '0' && d <= '7' =>
            var v = 0; var k = 0; i += 1
            while (k < 3 && i < end && s.charAt(i) >= '0' &&
              s.charAt(i) <= '7') { v = v * 8 + (s.charAt(i) - '0'); i += 1; k += 1 }
            sb.append(v.toChar)
          case other => sb.append(other); i += 2 // unknown escape: literal
        }
      } else if (c == '(') { depth += 1; sb.append(c); i += 1 }
      else if (c == ')') {
        depth -= 1
        if (depth > 0) sb.append(c)
        i += 1
      } else { sb.append(c); i += 1 }
    }
    (sb.toString, i)
  }

  /** PDF hex string at s(i) == '<' → (content, index past '>'). */
  private[functions] def parseHex(s: String, i0: Int, end: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder
    var i = i0 + 1
    var hi = -1
    while (i < end && s.charAt(i) != '>') {
      val c = s.charAt(i)
      val v =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else -1
      if (v >= 0) {
        if (hi < 0) hi = v
        else { sb.append(((hi << 4) | v).toChar); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) sb.append((hi << 4).toChar) // odd count: low nibble 0
    (sb.toString, math.min(i + 1, end))
  }

  /** TJ array at s(i) == '[': strings concatenated, numbers ignored. */
  private def parseArray(s: String, i0: Int, end: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder
    var i = i0 + 1
    while (i < end && s.charAt(i) != ']') {
      val c = s.charAt(i)
      if (c == '(') {
        val (str, nj) = parseLiteral(s, i, end); sb.append(str); i = nj
      } else if (c == '<') {
        val (str, nj) = parseHex(s, i, end); sb.append(str); i = nj
      } else i += 1
    }
    (sb.toString, math.min(i + 1, end))
  }

  /** A parsed ToUnicode CMap: codespace ranges pick the code width at
    * each position, per-width hash maps carry code → UTF-16 text.
    * Unmapped codes emit U+FFFD (visible, greppable data loss — never
    * a silent drop). */
  private[functions] final class UCMap {
    // (width, lo, hi) codespace ranges, widths 1..4
    var ranges: Array[Array[Long]] = Array.empty
    val byWidth: Array[java.util.HashMap[java.lang.Long, String]] =
      Array.fill(5)(new java.util.HashMap[java.lang.Long, String]())
    var entries = 0

    private def codeAt(s: String, i: Int, w: Int): Long = {
      var v = 0L
      var k = 0
      while (k < w) { v = (v << 8) | (s.charAt(i + k) & 0xffL); k += 1 }
      v
    }

    private def widthAt(s: String, i: Int): Int = {
      // a codespace range matching the next bytes decides the width
      var w = 1
      while (w <= 4) {
        if (i + w <= s.length) {
          val code = codeAt(s, i, w)
          var r = 0
          while (r < ranges.length) {
            if (ranges(r)(0) == w && code >= ranges(r)(1) &&
              code <= ranges(r)(2)) return w
            r += 1
          }
        }
        w += 1
      }
      // no codespace hit: first width with a mapped entry
      w = 1
      while (w <= 4) {
        if (i + w <= s.length &&
          byWidth(w).containsKey(codeAt(s, i, w))) return w
        w += 1
      }
      1
    }

    def mapString(raw: String): String = {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < raw.length) {
        val w = math.min(widthAt(raw, i), raw.length - i)
        val m = byWidth(w).get(codeAt(raw, i, w))
        if (m != null) sb.append(m) else sb.append('�')
        i += w
      }
      sb.toString
    }
  }

  /** Parse a ToUnicode CMap's text. Null for malformed or over-cap
    * content — the caller keeps the latin1 tier for that font. */
  private[functions] def parseCMap(text: String): UCMap = {
    val MaxEntries = 1 << 16
    val m = new UCMap
    val n = text.length
    // token reader: hex strings and arrays at a moving cursor
    var i = 0
    def skipWs(): Unit =
      while (i < n && text.charAt(i).isWhitespace) i += 1
    def atChar(c: Char): Boolean = { skipWs(); i < n && text.charAt(i) == c }
    def readHex(): String = {
      val (s2, nj) = parseHex(text, i, n)
      i = nj
      s2
    }
    def utf16(dst: String): String = {
      if (dst.length % 2 != 0) return null
      val sb = new java.lang.StringBuilder
      var k = 0
      while (k < dst.length) {
        sb.append((((dst.charAt(k) & 0xff) << 8) |
          (dst.charAt(k + 1) & 0xff)).toChar)
        k += 2
      }
      sb.toString
    }
    def put(w: Int, code: Long, v: String): Boolean = {
      if (w < 1 || w > 4 || m.entries >= MaxEntries) return false
      m.byWidth(w).put(code, v)
      m.entries += 1
      true
    }
    def codeOf(hexStr: String): Long = {
      var v = 0L
      var k = 0
      while (k < hexStr.length) { v = (v << 8) | (hexStr.charAt(k) & 0xffL); k += 1 }
      v
    }
    // codespace ranges
    val rbuf = new scala.collection.mutable.ArrayBuffer[Array[Long]]
    var from = 0
    var blk = text.indexOf("begincodespacerange", from)
    while (blk >= 0) {
      i = blk + "begincodespacerange".length
      while (atChar('<')) {
        val lo = readHex()
        if (!atChar('<')) return null
        val hi = readHex()
        if (lo.length != hi.length || lo.isEmpty || lo.length > 4) return null
        rbuf += Array(lo.length.toLong, codeOf(lo), codeOf(hi))
      }
      from = i
      blk = text.indexOf("begincodespacerange", from)
    }
    m.ranges = rbuf.toArray
    // bfchar blocks: <src> <dst> pairs
    from = 0
    blk = text.indexOf("beginbfchar", from)
    while (blk >= 0) {
      i = blk + "beginbfchar".length
      while (atChar('<')) {
        val src = readHex()
        if (!atChar('<')) return null
        val dst = utf16(readHex())
        if (dst == null || src.isEmpty || src.length > 4) return null
        if (!put(src.length, codeOf(src), dst)) return null
      }
      from = i
      blk = text.indexOf("beginbfchar", from)
    }
    // bfrange blocks: <lo> <hi> (<dst> | [<d1> … <dn>])
    from = 0
    blk = text.indexOf("beginbfrange", from)
    while (blk >= 0) {
      i = blk + "beginbfrange".length
      while (atChar('<')) {
        val lo = readHex()
        if (!atChar('<')) return null
        val hi = readHex()
        if (lo.length != hi.length || lo.isEmpty || lo.length > 4) return null
        val w = lo.length
        val loC = codeOf(lo)
        val hiC = codeOf(hi)
        if (hiC < loC || hiC - loC >= MaxEntries) return null
        if (atChar('[')) {
          i += 1 // past '['
          var code = loC
          while (atChar('<')) {
            val dst = utf16(readHex())
            if (dst == null || code > hiC) return null
            if (!put(w, code, dst)) return null
            code += 1
          }
          if (!atChar(']')) return null
          i += 1
        } else if (atChar('<')) {
          val dst = utf16(readHex())
          if (dst == null) return null
          var off = 0L
          while (loC + off <= hiC) {
            // the spec increments the LAST code unit of the value
            val v =
              if (dst.isEmpty) ""
              else dst.substring(0, dst.length - 1) +
                (dst.charAt(dst.length - 1) + off).toChar
            if (!put(w, loC + off, v)) return null
            off += 1
          }
        } else return null
      }
      from = i
      blk = text.indexOf("beginbfrange", from)
    }
    if (m.entries == 0) null else m
  }

  /** One indirect object: number, generation, its dict text, body
    * bounds, and (when present) the raw stream-data bounds within
    * the doc. The generation feeds the per-object decryption key. */
  private final class ObjInfo(val num: Int, val gen: Int,
                              val dict: String,
                              val bodyStart: Int, val bodyEnd: Int,
                              val streamStart: Int, val streamEnd: Int)

  /** Balanced `<< … >>` forward scan → index AFTER the closing `>>`
    * (or `end` when unterminated). */
  private[functions] def dictEndFrom(doc: String, ds: Int, end: Int): Int = {
    var i = ds
    var depth = 0
    while (i + 1 < end) {
      if (doc.charAt(i) == '<' && doc.charAt(i + 1) == '<') {
        depth += 1; i += 2
      } else if (doc.charAt(i) == '>' && doc.charAt(i + 1) == '>') {
        depth -= 1; i += 2
        if (depth == 0) return i
      } else i += 1
    }
    end
  }

  /** Walk `N G obj … endobj` objects. Bounded by `maxObjs`. */
  private def parseObjects(doc: String, maxObjs: Int): Array[ObjInfo] = {
    val out = new scala.collection.mutable.ArrayBuffer[ObjInfo]
    var pos = 0
    var steps = 0
    while (steps < maxObjs) {
      steps += 1
      val k = doc.indexOf("obj", pos)
      if (k < 0) return out.toArray
      val after = k + 3
      // boundary: "obj" must be its own token ("endobj" has 'd' before)
      val okAfter = after >= doc.length || !isRegular(doc.charAt(after))
      var num = -1
      var gen = 0
      if (okAfter) {
        var i = k - 1
        while (i >= 0 && (doc.charAt(i) == ' ' || doc.charAt(i) == '\r' ||
          doc.charAt(i) == '\n' || doc.charAt(i) == '\t')) i -= 1
        var genEnd = i
        while (i >= 0 && doc.charAt(i).isDigit) i -= 1
        val genStart = i + 1
        if (genEnd >= genStart && genEnd - genStart < 6) {
          gen = Integer.parseInt(doc.substring(genStart, genEnd + 1))
          while (i >= 0 && (doc.charAt(i) == ' ' || doc.charAt(i) == '\r' ||
            doc.charAt(i) == '\n' || doc.charAt(i) == '\t')) i -= 1
          var numEnd = i
          while (i >= 0 && doc.charAt(i).isDigit) i -= 1
          val numStart = i + 1
          if (numEnd >= numStart && numEnd - numStart < 9)
            num = Integer.parseInt(doc.substring(numStart, numEnd + 1))
        }
      }
      if (num < 0) pos = after
      else {
        val endobj = doc.indexOf("endobj", after)
        val bodyEnd = if (endobj < 0) doc.length else endobj
        val ds = doc.indexOf("<<", after)
        val dict =
          if (ds >= 0 && ds < bodyEnd)
            doc.substring(ds, dictEndFrom(doc, ds, bodyEnd))
          else ""
        var sStart = -1
        var sEnd = -1
        val sk = doc.indexOf("stream", after)
        if (sk >= 0 && sk < bodyEnd) {
          val dataStart =
            if (doc.startsWith("stream\r\n", sk)) sk + 8
            else if (doc.startsWith("stream\n", sk)) sk + 7
            else -1
          if (dataStart >= 0) {
            val (dEnd, e) = streamBounds(doc, dict, dataStart)
            if (e >= 0) {
              sStart = dataStart
              sEnd = dEnd
            }
          }
        }
        out += new ObjInfo(num, gen, dict, after, bodyEnd, sStart, sEnd)
        pos = bodyEnd + 6
      }
    }
    out.toArray
  }

  /** Resolved font environment: per-content-stream and global font
    * name → CMap maps; `fontsFor(pos)` answers for the stream whose
    * data starts at `pos`. */
  private final class FontEnv(
      objs: Array[ObjInfo],
      byContent: java.util.HashMap[Integer,
        java.util.HashMap[String, UCMap]],
      global: java.util.HashMap[String, UCMap],
      resourceStreams: java.util.HashSet[Integer]) {
    def fontsFor(dataStart: Int): java.util.HashMap[String, UCMap] = {
      var i = 0
      while (i < objs.length) {
        val o = objs(i)
        if (o.streamStart == dataStart) {
          val m = byContent.get(o.num)
          return if (m != null) m else global
        }
        i += 1
      }
      global
    }
    /** Streams the env resolved as FONT RESOURCES (ToUnicode CMaps,
      * embedded font programs): decoded and counted like any stream,
      * but never text-scanned — a font's glyf data is binary that
      * can contain coincidental `BT … Tj … ET` byte runs. */
    def isResourceStream(dataStart: Int): Boolean = {
      var i = 0
      while (i < objs.length) {
        val o = objs(i)
        if (o.streamStart == dataStart)
          return resourceStreams.contains(o.num)
        i += 1
      }
      false
    }
  }

  /** Next `N G R` indirect reference after position `at` in `dict`,
    * or -1 when the value there is not a reference. */
  private[functions] def refAt(dict: String, at: Int): Int = {
    var i = at
    val n = dict.length
    while (i < n && dict.charAt(i).isWhitespace) i += 1
    val numStart = i
    while (i < n && dict.charAt(i).isDigit) i += 1
    if (i == numStart || i - numStart > 8) return -1
    val num = Integer.parseInt(dict.substring(numStart, i))
    while (i < n && dict.charAt(i).isWhitespace) i += 1
    val genStart = i
    while (i < n && dict.charAt(i).isDigit) i += 1
    if (i == genStart) return -1
    while (i < n && dict.charAt(i).isWhitespace) i += 1
    if (i < n && dict.charAt(i) == 'R') num else -1
  }

  /** Value position after `/Key` in `dict` (token-boundary match). */
  private[functions] def keyValueAt(dict: String, key: String): Int = {
    var from = 0
    var k = dict.indexOf(key, from)
    while (k >= 0) {
      val after = k + key.length
      if (after >= dict.length || !isRegular(dict.charAt(after))) return after
      from = k + 1
      k = dict.indexOf(key, from)
    }
    -1
  }

  /** `/Font` name→ref pairs of a resource-font dict's text. */
  private def fontPairs(fontDict: String)
      : scala.collection.mutable.ArrayBuffer[(String, Int)] = {
    val out = new scala.collection.mutable.ArrayBuffer[(String, Int)]
    var i = 0
    val n = fontDict.length
    while (i < n) {
      if (fontDict.charAt(i) == '/') {
        val sb = new java.lang.StringBuilder
        var k = i + 1
        while (k < n && isRegular(fontDict.charAt(k))) {
          sb.append(fontDict.charAt(k)); k += 1
        }
        val r = refAt(fontDict, k)
        if (r >= 0 && sb.length > 0) out += ((sb.toString, r))
        i = k
      } else i += 1
    }
    out
  }

  /** Build the CMap environment: decode every font's ToUnicode
    * stream, then resolve page `/Resources → /Font` maps onto the
    * pages' content-stream objects. Null when nothing usable. */
  /** Integer value right after `/Key` in `dict`, or -1. */
  private def intValueAt(dict: String, key: String): Int = {
    val at = keyValueAt(dict, key)
    if (at < 0) return -1
    var i = at
    while (i < dict.length && dict.charAt(i).isWhitespace) i += 1
    val s = i
    while (i < dict.length && dict.charAt(i).isDigit) i += 1
    if (i == s || i - s > 8) -1 else Integer.parseInt(dict.substring(s, i))
  }

  /** Expand `/Type /ObjStm` object streams (PDF 1.5+ — the place
    * modern writers put their font, page and resource DICTIONARIES,
    * which the top-level `N G obj` walk cannot see): decode the
    * stream, read the `/N` objnum/offset header pairs, and surface
    * each contained object as a synthetic dict-only [[ObjInfo]]
    * (streams cannot live inside an ObjStm, so `streamStart = -1`).
    * Top-level objects win number collisions. Bounded by `maxObjs`
    * contained objects total and `maxOut` decoded bytes per stream. */
  private def expandObjStms(doc: String, objs: Array[ObjInfo],
                            maxObjs: Int, maxOut: Int,
                            crypt: PdfCrypt.Decryptor): Array[ObjInfo] = {
    var extra: scala.collection.mutable.ArrayBuffer[ObjInfo] = null
    var budget = maxObjs
    for (o <- objs) {
      if (o.streamStart >= 0 && keyValueAt(o.dict, "/ObjStm") >= 0 &&
        budget > 0) {
        val n = intValueAt(o.dict, "/N")
        val first = intValueAt(o.dict, "/First")
        if (n > 0 && n <= budget && first >= 0) {
          var data = doc.substring(o.streamStart, o.streamEnd)
            .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          // the ObjStm stream itself decrypts; the objects inside are
          // NOT separately enciphered (spec rule)
          if (crypt != null && crypt.cfm != 0)
            data = crypt.decrypt(o.num, o.gen, data)
          val text = (if (data == null) null
                      else decodeStream(o.dict, data, maxOut)) match {
            case null => null
            case b => new String(b,
              java.nio.charset.StandardCharsets.ISO_8859_1)
          }
          if (text != null && first <= text.length) {
            // header: N whitespace-separated "objnum offset" pairs
            val nums = new Array[Int](n)
            val offs = new Array[Int](n)
            var p = 0
            var k = 0
            var ok = true
            while (k < 2 * n && ok) {
              while (p < first && text.charAt(p).isWhitespace) p += 1
              val s = p
              while (p < first && text.charAt(p).isDigit) p += 1
              if (p == s || p - s > 9) ok = false
              else {
                val v = Integer.parseInt(text.substring(s, p))
                if ((k & 1) == 0) nums(k >> 1) = v else offs(k >> 1) = v
                k += 1
              }
            }
            if (ok) {
              if (extra == null)
                extra = new scala.collection.mutable.ArrayBuffer[ObjInfo]
              var i = 0
              while (i < n) {
                val start = first.toLong + offs(i)
                val end =
                  if (i + 1 < n) math.min(first.toLong + offs(i + 1),
                    text.length.toLong)
                  else text.length.toLong
                if (start >= 0 && start <= end && end <= text.length) {
                  val body = text.substring(start.toInt, end.toInt)
                  val ds = body.indexOf("<<")
                  val dict =
                    if (ds >= 0)
                      body.substring(ds, dictEndFrom(body, ds, body.length))
                    else ""
                  // objects in an ObjStm always have generation 0
                  extra += new ObjInfo(nums(i), 0, dict, -1, -1, -1, -1)
                  budget -= 1
                }
                i += 1
              }
            }
          }
        }
      }
    }
    if (extra == null) objs else objs ++ extra
  }

  /** Invert an embedded TrueType program's `cmap` table (formats 4
    * and 12, all encoding records merged): glyph id → the SMALLEST
    * unicode codepoint that maps to it (deterministic when a glyph
    * serves several codepoints). Returned as a synthetic 2-byte-code
    * [[UCMap]] for the Identity-H tier, where show-string codes ARE
    * glyph ids (CIDToGIDMap identity). Null when the program has no
    * usable subtable; glyph 0 (.notdef) never maps. */
  private[functions] def invertSfntCmap(fp: Array[Byte]): UCMap = {
    try {
      if (fp == null || fp.length < 12) return null
      def be16(p: Int): Int = ((fp(p) & 0xff) << 8) | (fp(p + 1) & 0xff)
      def be32(p: Int): Long =
        ((fp(p) & 0xffL) << 24) | ((fp(p + 1) & 0xffL) << 16) |
          ((fp(p + 2) & 0xffL) << 8) | (fp(p + 3) & 0xffL)
      val v = be32(0)
      if (v != 0x00010000L && v != 0x74727565L && v != 0x4f54544fL)
        return null
      val nTables = be16(4)
      if (nTables <= 0 || nTables > 4096 || 12 + 16 * nTables > fp.length)
        return null
      var cmapOff = -1
      var cmapLen = -1
      var i = 0
      while (i < nTables) {
        val r = 12 + 16 * i
        if (fp(r) == 'c' && fp(r + 1) == 'm' && fp(r + 2) == 'a' &&
          fp(r + 3) == 'p') {
          cmapOff = be32(r + 8).toInt
          cmapLen = be32(r + 12).toInt
        }
        i += 1
      }
      if (cmapOff < 0 || cmapLen < 4 ||
        cmapOff.toLong + cmapLen > fp.length) return null
      val nRec = be16(cmapOff + 2)
      if (nRec <= 0 || nRec > 64) return null
      val inv = new java.util.HashMap[Integer, Integer]()
      val MaxEntries = 1 << 16
      def keep(glyph: Int, cp: Int): Unit =
        if (glyph > 0 && glyph <= 0xffff && cp > 0 &&
          inv.size < MaxEntries) {
          val old = inv.get(glyph)
          if (old == null || cp < old) inv.put(glyph, cp)
        }
      var rec = 0
      while (rec < nRec) {
        val off = cmapOff + be32(cmapOff + 4 + 8 * rec + 4).toInt
        if (off >= 0 && off + 4 <= fp.length) {
          val fmt = be16(off)
          if (fmt == 4 && off + 14 <= fp.length) {
            val segX2 = be16(off + 6)
            val segs = segX2 / 2
            if (segs > 0 && off + 16 + 4 * segX2 <= fp.length) {
              var s = 0
              while (s < segs) {
                val endC = be16(off + 14 + 2 * s)
                val startC = be16(off + 16 + segX2 + 2 * s)
                val delta = be16(off + 16 + 2 * segX2 + 2 * s)
                val roPos = off + 16 + 3 * segX2 + 2 * s
                val ro = be16(roPos)
                var c = startC
                while (c <= endC && c != 0xffff) {
                  val g =
                    if (ro == 0) (c + delta) & 0xffff
                    else {
                      val ga = roPos + ro + 2 * (c - startC)
                      if (ga + 1 >= fp.length) 0
                      else {
                        val raw = be16(ga)
                        if (raw == 0) 0 else (raw + delta) & 0xffff
                      }
                    }
                  keep(g, c)
                  c += 1
                }
                s += 1
              }
            }
          } else if (fmt == 12 && off + 16 <= fp.length) {
            val nGroups = be32(off + 12)
            if (nGroups > 0 && nGroups <= 65536 &&
              off + 16 + 12 * nGroups <= fp.length) {
              var g = 0
              while (g < nGroups) {
                val r = off + 16 + 12 * g
                val startC = be32(r)
                val endC = be32(r + 4)
                val startG = be32(r + 8)
                if (endC >= startC && endC - startC < MaxEntries &&
                  endC <= 0x10ffff) {
                  var c = startC
                  while (c <= endC) {
                    keep((startG + (c - startC)).toInt, c.toInt)
                    c += 1
                  }
                }
                g += 1
              }
            }
          }
        }
        rec += 1
      }
      if (inv.isEmpty) return null
      val m = new UCMap
      m.ranges = Array(Array(2L, 0L, 0xffffL))
      val it = inv.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        m.byWidth(2).put(e.getKey.longValue,
          new String(Character.toChars(e.getValue.intValue)))
      }
      m.entries = inv.size
      m
    } catch {
      case _: ArrayIndexOutOfBoundsException => null
    }
  }

  private def buildFontEnv(doc: String, maxObjs: Int, maxOut: Int,
                           crypt: PdfCrypt.Decryptor,
                           pre: Array[ObjInfo]): FontEnv = {
    try {
      val top = if (pre != null) pre else parseObjects(doc, maxObjs)
      if (top.isEmpty) return null
      val objs = expandObjStms(doc, top, maxObjs, maxOut, crypt)
      val byNum = new java.util.HashMap[Integer, ObjInfo]()
      for (o <- objs) // top-level objects win number collisions
        if (!byNum.containsKey(o.num)) byNum.put(o.num, o)
      def streamTextOf(ref: Int): Array[Byte] = {
        val so = byNum.get(ref)
        if (so == null || so.streamStart < 0) return null
        var data = doc.substring(so.streamStart, so.streamEnd)
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        if (crypt != null && crypt.cfm != 0 &&
          keyValueAt(so.dict, "/XRef") < 0)
          data = crypt.decrypt(so.num, so.gen, data)
        if (data == null) null else decodeStream(so.dict, data, maxOut)
      }
      // font object → CMap
      val fontCmaps = new java.util.HashMap[Integer, UCMap]()
      val resourceStreams = new java.util.HashSet[Integer]()
      for (o <- objs) {
        val at = keyValueAt(o.dict, "/ToUnicode")
        if (at >= 0) {
          val ref = refAt(o.dict, at)
          val decoded = streamTextOf(ref)
          if (decoded != null) {
            val parsed = parseCMap(new String(decoded,
              java.nio.charset.StandardCharsets.ISO_8859_1))
            if (parsed != null) {
              fontCmaps.put(o.num, parsed)
              resourceStreams.add(ref)
            }
          }
        }
      }
      // Identity-H tier: a Type0 font WITHOUT a usable ToUnicode but
      // with /Encoding /Identity-H and an embedded TrueType program
      // whose cmap can be inverted (show codes = CIDs = glyph ids
      // when CIDToGIDMap is identity — the default)
      for (o <- objs) {
        if (!fontCmaps.containsKey(o.num) &&
          keyValueAt(o.dict, "/Identity-H") >= 0) {
          val dfAt = keyValueAt(o.dict, "/DescendantFonts")
          if (dfAt >= 0) {
            // the value: an inline [N 0 R] array (the common shape)
            var j = dfAt
            while (j < o.dict.length && (o.dict.charAt(j).isWhitespace ||
              o.dict.charAt(j) == '[')) j += 1
            val dRef = refAt(o.dict, j)
            val desc = if (dRef >= 0) byNum.get(dRef) else null
            if (desc != null) {
              // CIDToGIDMap must be identity (absent = identity)
              val cgAt = keyValueAt(desc.dict, "/CIDToGIDMap")
              val identity = cgAt < 0 || {
                var k = cgAt
                while (k < desc.dict.length &&
                  desc.dict.charAt(k).isWhitespace) k += 1
                desc.dict.startsWith("/Identity", k)
              }
              if (identity) {
                val fdAt = keyValueAt(desc.dict, "/FontDescriptor")
                val fd = if (fdAt >= 0)
                  byNum.get(refAt(desc.dict, fdAt)) else null
                if (fd != null) {
                  val ffAt = keyValueAt(fd.dict, "/FontFile2")
                  if (ffAt >= 0) {
                    val ffRef = refAt(fd.dict, ffAt)
                    val prog = streamTextOf(ffRef)
                    val inverted = invertSfntCmap(prog)
                    if (inverted != null) {
                      fontCmaps.put(o.num, inverted)
                      resourceStreams.add(ffRef)
                    }
                  }
                }
              }
            }
          }
        }
      }
      if (fontCmaps.isEmpty) return null
      // resolve /Font dicts (inline or referenced) to name→CMap; keep
      // a first-wins global union as the orphan-stream fallback
      val global = new java.util.HashMap[String, UCMap]()
      def resolveFontMap(dict: String, at: Int)
          : java.util.HashMap[String, UCMap] = {
        var i = at
        while (i < dict.length && dict.charAt(i).isWhitespace) i += 1
        val src =
          if (i + 1 < dict.length && dict.charAt(i) == '<' &&
            dict.charAt(i + 1) == '<')
            dict.substring(i, dictEndFrom(dict, i, dict.length))
          else {
            val r = refAt(dict, i)
            val o = if (r >= 0) byNum.get(r) else null
            if (o == null) return null
            o.dict
          }
        val out = new java.util.HashMap[String, UCMap]()
        for ((name, ref) <- fontPairs(src)) {
          val cm = fontCmaps.get(ref)
          if (cm != null) {
            out.put(name, cm)
            if (!global.containsKey(name)) global.put(name, cm)
          }
        }
        if (out.isEmpty) null else out
      }
      // global union first (first wins) — any dict carrying a /Font
      // map contributes, so orphan streams still resolve
      for (o <- objs) {
        val fat = keyValueAt(o.dict, "/Font")
        if (fat >= 0) resolveFontMap(o.dict, fat)
      }
      val byContent = new java.util.HashMap[Integer,
        java.util.HashMap[String, UCMap]]()
      for (o <- objs) {
        // a Page (not Pages: next char after "/Page" must end the
        // token) with /Resources and /Contents
        val tp = keyValueAt(o.dict, "/Page")
        if (tp >= 0) {
          val res = keyValueAt(o.dict, "/Resources")
          val cts = keyValueAt(o.dict, "/Contents")
          if (res >= 0 && cts >= 0) {
            var fm: java.util.HashMap[String, UCMap] = null
            locally {
              var i = res
              while (i < o.dict.length && o.dict.charAt(i).isWhitespace)
                i += 1
              // resources inline or via ref; /Font within likewise
              val rsrc =
                if (i + 1 < o.dict.length && o.dict.charAt(i) == '<' &&
                  o.dict.charAt(i + 1) == '<')
                  o.dict.substring(i, dictEndFrom(o.dict, i, o.dict.length))
                else {
                  val r = refAt(o.dict, i)
                  val ro = if (r >= 0) byNum.get(r) else null
                  if (ro == null) "" else ro.dict
                }
              val fat = keyValueAt(rsrc, "/Font")
              if (fat >= 0) fm = resolveFontMap(rsrc, fat)
            }
            if (fm != null) {
              // contents: one ref or an array of refs
              var i = cts
              while (i < o.dict.length && o.dict.charAt(i).isWhitespace)
                i += 1
              if (i < o.dict.length && o.dict.charAt(i) == '[') {
                var j = i + 1
                while (j < o.dict.length && o.dict.charAt(j) != ']') {
                  val r = refAt(o.dict, j)
                  if (r >= 0) {
                    byContent.put(r, fm)
                    // skip past this "N G R" triple
                    while (j < o.dict.length && o.dict.charAt(j) != 'R')
                      j += 1
                  }
                  j += 1
                }
              } else {
                val r = refAt(o.dict, i)
                if (r >= 0) byContent.put(r, fm)
              }
            }
          }
        }
      }
      new FontEnv(objs, byContent, global, resourceStreams)
    } catch {
      case _: RuntimeException => null
    }
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-level entry point; defaults: 4096 streams, 16 MiB each. */
  def apply(payload: Column, maxStreams: Int = 4096,
            maxOut: Int = 1 << 24): Column =
    ColumnShim.column(
      PdfTextExtract(ColumnShim.expression(payload), maxStreams, maxOut))
}
