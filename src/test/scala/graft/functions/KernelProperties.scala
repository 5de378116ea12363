package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties for the native per-row kernels — each must be
  * extensionally equal to the composable-builtins construction it
  * replaced, on arbitrary input including unicode, empties and
  * pathological spacing. Pure JVM, no SparkSession.
  */
object KernelProperties extends Properties("graft.functions.kernels") {

  private val tokenGen: Gen[String] = Gen.frequency(
    6 -> Gen.alphaNumStr.suchThat(s => s.nonEmpty && !s.contains(' ')),
    2 -> Gen.oneOf("über", "naïve", "東京", "🎉x", "a.b", "#", "..."),
    1 -> Gen.const("\t"), // non-space whitespace is token material
    1 -> Gen.const(" "))

  private val textGen: Gen[String] = for {
    toks <- Gen.listOf(tokenGen)
    seps <- Gen.listOfN(toks.length + 1, Gen.chooseNum(0, 3).map(" " * _))
  } yield seps.zipAll(toks.map(_ + ""), "", "").map { case (s, t) => s + t }.mkString

  private def tokensRef(text: String): Seq[String] =
    text.split(" ", -1).toSeq.filter(_.nonEmpty)

  property("ws_tokens == split-and-filter on arbitrary spacing and unicode") =
    forAll(textGen) { text =>
      val got = WsTokens.compute(UTF8String.fromString(text))
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      got == tokensRef(text)
    }

  private val toksGen: Gen[List[String]] = Gen.listOf(tokenGen)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def shingleRef(toks: List[String], n: Int, hexLen: Int): Seq[String] = {
    val sh =
      if (toks.length < n) Seq.empty
      else toks.sliding(n).map(_.mkString(" ")).toSeq
    val keyed = if (hexLen == 0) sh else sh.map(s => md5hex(s).take(hexLen))
    keyed.distinct
  }

  property("shingle_set == sliding-window distinct (raw and hashed)") =
    forAll(toksGen, Gen.choose(1, 5), Gen.oneOf(0, 8, 16)) { (toks, n, hexLen) =>
      val arr = new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any])
      val got = ShingleSet.compute(arr, n, hexLen)
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      got == shingleRef(toks, n, hexLen)
    }

  property("token_ngrams == sliding windows in order, duplicates kept") =
    forAll(toksGen, Gen.choose(1, 5)) { (toks, n) =>
      val arr = new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any])
      val got = TokenNgrams.compute(arr, n)
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      val want =
        if (toks.length < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      got == want
    }

  // n-gram reference over CODE POINTS (substr's unit): an astral char
  // is one position, unlike UTF-16's surrogate pair
  private def charNgramRef(text: String, n: Int): Map[String, Long] = {
    val cps = text.codePoints().toArray
    if (cps.length < n) Map.empty
    else cps.sliding(n).map(w => new String(w, 0, w.length)).toSeq
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
  }

  private val rawTextGen: Gen[String] = Gen.frequency(
    5 -> Gen.asciiPrintableStr,
    3 -> textGen,
    2 -> Gen.oneOf("日本語テキスト", "aéa𝄞é𝄞a", "𝄞𝄞", "é", "", "ababab"))

  property("char_ngram_counts == substr-explode census over code points") =
    forAll(rawTextGen, Gen.choose(1, 4)) { (text, n) =>
      val m = CharNgramCounts.compute(UTF8String.fromString(text), n)
      val keys = m.keyArray
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
      val vals = m.valueArray.toLongArray()
      keys.map(_.toString).zip(vals).toMap == charNgramRef(text, n)
    }

  private def simhashRef(toks: List[String], width: Int): Long = {
    val votes = new Array[Int](width)
    for (t <- toks) {
      val d = java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
      var h = 0L
      for (b <- 0 until width / 8) h = (h << 8) | (d(b) & 0xffL)
      for (k <- 0 until width)
        votes(k) += (if (((h >>> k) & 1L) == 1L) 1 else -1)
    }
    (0 until width).foldLeft(0L)((fp, k) => if (votes(k) >= 0) fp | (1L << k) else fp)
  }

  property("simhash kernel matches the digest-vote reference at both widths") =
    forAll(toksGen, Gen.oneOf(16, 64)) { (toks, width) =>
      val arr = new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any])
      SimhashPack.compute(arr, width) == simhashRef(toks, width)
    }

  // the hash16 contract of the exploded logreg/DSIR feature path:
  // pmod(conv(substring(md5(t),1,4),16,10), buckets) per occurrence
  private def bucketCountsRef(toks: List[String], buckets: Int): List[Long] = {
    val counts = new Array[Long](buckets)
    for (t <- toks) {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString
      counts(java.lang.Integer.parseInt(hex, 16) % buckets) += 1L
    }
    counts.toList
  }

  property("hash_bucket_counts kernel matches the md5-hex-parse reference") =
    forAll(toksGen, Gen.oneOf(1, 7, 64, 65536)) { (toks, buckets) =>
      val arr = new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any])
      HashBucketCounts.compute(arr, buckets).toLongArray().toList ==
        bucketCountsRef(toks, buckets)
    }

  private val bytesGen: Gen[Array[Byte]] =
    Gen.choose(0, 4096).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte)).map(_.toArray))

  private def gzipBytes(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(data); g.close()
    bos.toByteArray
  }

  property("gunzip kernel round-trips arbitrary bytes through GZIPOutputStream") =
    forAll(bytesGen) { data =>
      java.util.Arrays.equals(
        GunzipPayload.compute(gzipBytes(data), 1 << 20), data)
    }

  property("gunzip_members round-trips arbitrary member lists in order") =
    forAll(Gen.choose(1, 5).flatMap(k => Gen.listOfN(k, bytesGen))) { parts =>
      val archive = parts.flatMap(gzipBytes).toArray
      val got = GunzipPayload.computeMembers(archive, 16, 1 << 20, 1L << 28)
      got != null && got.numElements() == parts.length &&
        parts.indices.forall(i =>
          java.util.Arrays.equals(got.getBinary(i), parts(i)))
    }

  property("zip kernel round-trips arbitrary bytes through a real Deflater member") =
    forAll(bytesGen, Gen.alphaNumStr.suchThat(_.nonEmpty)) { (data, name) =>
      val d = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(data); d.finish()
      val cbuf = new Array[Byte](data.length * 2 + 64)
      val clen = d.deflate(cbuf); d.end()
      val crc = new java.util.zip.CRC32(); crc.update(data)
      val bos = new java.io.ByteArrayOutputStream()
      def le(v: Long, k: Int): Unit =
        (0 until k).foreach(i => bos.write(((v >> (8 * i)) & 0xff).toInt))
      bos.write(Array(0x50, 0x4b, 3, 4, 0x14, 0, 0, 0, 8, 0).map(_.toByte))
      le(0, 4); le(crc.getValue, 4); le(clen, 4); le(data.length, 4)
      le(name.length, 2); le(0, 2)
      bos.write(name.getBytes("UTF-8")); bos.write(cbuf, 0, clen)
      val got = ZipEntryBytes.compute(bos.toByteArray,
        UTF8String.fromString(name), 1 << 20, 64)
      (data.isEmpty && got != null && got.isEmpty) ||
        java.util.Arrays.equals(got, data)
    }

  // ---- codecs against the real encoders on the classpath ----------

  /** A plaintext drawn from `seed`: compressible text over a small
    * alphabet, or incompressible bytes, up to 6000 bytes. */
  private def plaintext(seed: Long): Array[Byte] = {
    val r = new scala.util.Random(seed)
    val n = r.nextInt(6000)
    if (r.nextBoolean()) {
      val alpha = 1 + r.nextInt(12)
      Array.fill(n)(('a' + r.nextInt(alpha)).toByte)
    } else Array.fill(n)(r.nextInt(256).toByte)
  }

  private val seedGen: Gen[Long] = Gen.choose(0L, Long.MaxValue)

  private def encode(data: Array[Byte])(
      open: java.io.OutputStream => java.io.OutputStream): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = open(bos)
    out.write(data); out.close()
    bos.toByteArray
  }

  private def xzEncode(data: Array[Byte], check: Int): Array[Byte] =
    encode(data)(new org.tukaani.xz.XZOutputStream(_,
      new org.tukaani.xz.LZMA2Options(1), check))

  private def zstdEncode(data: Array[Byte], level: Int): Array[Byte] =
    encode(data)(o => new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(o)
      .setChecksum(true).setLevel(level))

  private def bzip2Encode(data: Array[Byte], block: Int): Array[Byte] =
    encode(data)(new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(_, block))

  private val xzChecks = Seq(org.tukaani.xz.XZ.CHECK_NONE,
    org.tukaani.xz.XZ.CHECK_CRC32, org.tukaani.xz.XZ.CHECK_CRC64,
    org.tukaani.xz.XZ.CHECK_SHA256)

  property("xz decodes XZOutputStream output under every check type") =
    forAll(seedGen, Gen.oneOf(xzChecks)) { (seed, check) =>
      val x = plaintext(seed)
      java.util.Arrays.equals(XzPayload.compute(xzEncode(x, check), 1 << 20), x)
    }

  property("lzma_alone decodes LZMAOutputStream output, sized and marker-ended") =
    forAll(seedGen, Gen.oneOf(true, false)) { (seed, known) =>
      val x = plaintext(seed)
      val z = encode(x)(new org.tukaani.xz.LZMAOutputStream(_,
        new org.tukaani.xz.LZMA2Options(1), if (known) x.length.toLong else -1L))
      java.util.Arrays.equals(LzmaAlonePayload.compute(z, 1 << 20), x)
    }

  property("zstd decodes zstd-jni output with a content checksum") =
    forAll(seedGen, Gen.choose(1, 9)) { (seed, level) =>
      val x = plaintext(seed)
      java.util.Arrays.equals(ZstdPayload.compute(zstdEncode(x, level), 1 << 20), x)
    }

  property("bunzip2 decodes BZip2CompressorOutputStream output") =
    forAll(seedGen, Gen.choose(1, 9)) { (seed, block) =>
      val x = plaintext(seed)
      java.util.Arrays.equals(Bunzip2.compute(bzip2Encode(x, block), 1 << 20), x)
    }

  // a checked stream cut short or with one byte changed decodes to
  // null or to exactly the plaintext — never to other bytes
  private val checkedCodecs: Seq[(String, Array[Byte] => Array[Byte],
      Array[Byte] => Array[Byte])] = Seq(
    ("xz", xzEncode(_, org.tukaani.xz.XZ.CHECK_CRC64), XzPayload.compute(_, 1 << 20)),
    ("zstd", zstdEncode(_, 3), ZstdPayload.compute(_, 1 << 20)),
    ("bzip2", bzip2Encode(_, 1), Bunzip2.compute(_, 1 << 20)))

  property("a truncated or byte-flipped checked stream gives null or the plaintext") =
    forAll(seedGen, Gen.oneOf(checkedCodecs), Gen.choose(0L, Long.MaxValue)) {
      case (seed, (_, enc, dec), mutSeed) =>
        val x = plaintext(seed)
        val z = enc(x)
        val r = new scala.util.Random(mutSeed)
        val mutated =
          if (r.nextBoolean()) z.take(r.nextInt(z.length))
          else {
            val c = z.clone(); val i = r.nextInt(c.length)
            c(i) = (c(i) ^ (1 + r.nextInt(255))).toByte
            c
          }
        val got = dec(mutated)
        got == null || java.util.Arrays.equals(got, x)
    }

  property("xz with the x86 BCJ filter in front of LZMA2 decodes") =
    forAll(seedGen) { seed =>
      val x = plaintext(seed)
      val z = encode(x)(new org.tukaani.xz.XZOutputStream(_,
        Array[org.tukaani.xz.FilterOptions](new org.tukaani.xz.X86Options(),
          new org.tukaani.xz.LZMA2Options(1))))
      java.util.Arrays.equals(XzPayload.compute(z, 1 << 20), x)
    }

  // Misra–Gries recall guarantee: for ANY partitioning of the stream
  // into partials, every token with count > n/k survives the merged
  // sketch of capacity 4k.
  private val streamGen: Gen[List[String]] = for {
    heavy <- Gen.choose(20, 60)
    noise <- Gen.listOfN(200, Gen.choose(0, 10000).map(i => s"t$i"))
  } yield scala.util.Random.shuffle(List.fill(heavy)("HH") ++ noise)

  property("misra-gries: heavy token survives any partitioning") =
    forAll(streamGen, Gen.choose(2, 8), Gen.choose(1, 7)) { (xs, k, nParts) =>
      val agg = new HeavyHitters(4 * k)
      val parts = xs.grouped(math.max(1, xs.length / nParts)).toList
      val merged = parts.map(_.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      val n = xs.length
      val heavies = xs.groupBy(identity).collect {
        case (t, occ) if occ.length.toLong * k > n => t
      }
      heavies.forall(merged.contains)
    }

  /** Reference RFC 2045 quoted-printable ENCODER for the round-trip:
    * every byte that is not a printable-ASCII-but-'=' goes out as
    * =XX; soft breaks every ~60 columns exercise the unfold path. */
  private def qpEncodeRef(bytes: Array[Byte]): String = {
    val sb = new StringBuilder
    var col = 0
    bytes.foreach { b =>
      val v = b & 0xff
      val tok =
        if (v == '=' || v < 0x20 || v > 0x7e) f"=$v%02X" else v.toChar.toString
      if (col + tok.length > 60) { sb.append("=\r\n"); col = 0 }
      sb.append(tok)
      col += tok.length
    }
    sb.toString
  }

  private val byteArrGen: Gen[Array[Byte]] =
    Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray)

  property("qp_decode inverts a spec-faithful encoder on arbitrary bytes " +
    "(hex escapes + soft breaks)") =
    forAll(byteArrGen) { bytes =>
      val enc = qpEncodeRef(bytes)
      java.util.Arrays.equals(
        QpDecode.compute(UTF8String.fromString(enc)), bytes)
    }

  property("rtf_text round-trips arbitrary latin1 text through a " +
    "spec-faithful writer (escaped specials, hex escapes, par marks)") =
    forAll(Gen.listOf(Gen.chooseNum(0x20, 0xFF).map(_.toChar))) { chars =>
      val text = chars.mkString
      val body = text.flatMap {
        case '\\' => "\\\\"
        case '{' => "\\{"
        case '}' => "\\}"
        case c if c > 0x7e =>
          // latin1 chars round-trip through their cp1252-safe range
          if (c >= 0xA0) f"\\'${c.toInt}%02x" else f"\\u${c.toInt}?"
        case c => c.toString
      }
      val rtf = "{\\rtf1\\ansi " + body + "\\par}"
      val got = RtfText.compute(rtf.getBytes("ISO-8859-1"), 1 << 20)
      got != null && got.toString == text + "\n"
    }
}
