package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[OrcColumnValues]] battery: Spark's OWN ORC writer (orc-core)
  * across all decodable codecs, the RLEv2 sub-format zoo driven by
  * value patterns, dictionary vs direct strings, PRESENT-stream
  * nulls, caps and refusals. */
class OrcColumnValuesSpec extends SparkSpec {
  import spark.implicits._

  private def onePartBytes(write: String => Unit): Array[Byte] = {
    val dir = Files.createTempDirectory("graft-orc").toFile
    write(dir.toString)
    val part = dir.listFiles().filter(_.getName.endsWith(".orc")).head
    Files.readAllBytes(part.toPath)
  }

  private def values(r: org.apache.spark.sql.catalyst.InternalRow): Seq[String] = {
    val a = r.getArray(4)
    (0 until a.numElements()).map(i =>
      if (a.isNullAt(i)) null else a.getUTF8String(i).toString)
  }

  test("all four codecs round-trip Spark's own writer: delta longs, " +
    "dictionary strings with nulls") {
    for (codec <- Seq("none", "zlib", "snappy", "zstd", "lz4")) {
      val bytes = onePartBytes { dir =>
        spark.range(0, 60).selectExpr(
            "id",
            "CASE WHEN id % 7 = 3 THEN NULL ELSE concat('v', id % 4) END" +
              " AS name")
          .coalesce(1).write.mode("overwrite")
          .option("compression", codec).orc(dir)
      }
      val idR = OrcColumnValues.compute(bytes, "id", 1 << 16)
      assert(idR != null, s"$codec id refused")
      assert(idR.getUTF8String(0).toString == "bigint")
      assert(idR.getLong(3) == 60L)
      assert(values(idR) == (0 until 60).map(_.toString), codec)
      val nameR = OrcColumnValues.compute(bytes, "name", 1 << 16)
      assert(nameR != null, s"$codec name refused")
      val want = (0 until 60).map(i => if (i % 7 == 3) null else s"v${i % 4}")
      assert(values(nameR) == want, codec)
    }
  }

  test("RLEv2 sub-formats by construction: constant run " +
    "(SHORT_REPEAT), random 16-bit (DIRECT), outliers over a small " +
    "base (PATCHED_BASE territory), negatives; int/smallint/tinyint/" +
    "boolean/float/double lanes") {
    // deterministic 'random' values, incl. negatives and outliers
    def v(i: Int): Long =
      if (i % 19 == 7) 1000000L + i else ((i * 7919) % 4096) - 2048
    val rows = (0 until 500).map(i =>
      (v(i), 42L, i % 3 == 0, i.toShort, (i % 100 - 50).toByte,
        i / 8.0, (i / 4.0).toFloat))
    val bytes = onePartBytes { dir =>
      rows.toDF("mix", "const", "flag", "s16", "s8", "d", "f")
        .coalesce(1).write.mode("overwrite")
        .option("compression", "zlib").orc(dir)
    }
    val mix = OrcColumnValues.compute(bytes, "mix", 1 << 16)
    assert(mix != null, "mix refused")
    assert(values(mix) == rows.map(_._1.toString), "mix")
    val const = OrcColumnValues.compute(bytes, "const", 1 << 16)
    assert(values(const) == Seq.fill(500)("42"))
    val flag = OrcColumnValues.compute(bytes, "flag", 1 << 16)
    assert(flag.getUTF8String(0).toString == "boolean")
    assert(values(flag) == (0 until 500).map(i =>
      if (i % 3 == 0) "true" else "false"))
    val s16 = OrcColumnValues.compute(bytes, "s16", 1 << 16)
    assert(s16.getUTF8String(0).toString == "smallint")
    assert(values(s16) == (0 until 500).map(_.toString))
    val s8 = OrcColumnValues.compute(bytes, "s8", 1 << 16)
    assert(s8.getUTF8String(0).toString == "tinyint")
    assert(values(s8) == (0 until 500).map(i => (i % 100 - 50).toString))
    val d = OrcColumnValues.compute(bytes, "d", 1 << 16)
    assert(values(d) == (0 until 500).map(i => (i / 8.0).toString))
    val f = OrcColumnValues.compute(bytes, "f", 1 << 16)
    assert(values(f) == (0 until 500).map(i => (i / 4.0).toFloat.toString))
  }

  test("direct (non-dictionary) strings and binary-as-hex; maxVals " +
    "caps but n_values stays exact") {
    val bytes = onePartBytes { dir =>
      spark.range(0, 30).selectExpr(
          "concat('unique-', id, '-', id * id) AS u",
          "cast(concat('b', id) as binary) AS bin")
        .coalesce(1).write.mode("overwrite")
        .option("orc.dictionary.key.threshold", "0.0")
        .option("compression", "zlib").orc(dir)
    }
    val u = OrcColumnValues.compute(bytes, "u", 1 << 16)
    assert(u != null, "u refused")
    assert(u.getUTF8String(2).toString == "direct_v2")
    assert(values(u) == (0 until 30).map(i => s"unique-$i-${i * i}"))
    val bin = OrcColumnValues.compute(bytes, "bin", 1 << 16)
    assert(bin.getUTF8String(0).toString == "binary")
    assert(values(bin) == (0 until 30).map(i =>
      s"b$i".getBytes.map("%02x".format(_)).mkString))
    val capped = OrcColumnValues.compute(bytes, "u", 5)
    assert(values(capped).length == 5 && capped.getLong(3) == 30L)
  }

  test("fail-closed: absent column, nested leaf, bad magic, " +
    "truncation, junk") {
    val bytes = onePartBytes { dir =>
      spark.range(0, 10).selectExpr(
          "id", "named_struct('x', id) as nest", "to_date('2024-01-02') d")
        .coalesce(1).write.mode("overwrite").orc(dir)
    }
    assert(OrcColumnValues.compute(bytes, "nope", 16) == null)
    assert(OrcColumnValues.compute(bytes, "nest", 16) == null) // struct
    assert(OrcColumnValues.compute(bytes, "x", 16) == null) // not top-level
    assert(OrcColumnValues.compute(bytes, "d", 16) == null) // date: refuse
    assert(values(OrcColumnValues.compute(bytes, "id", 16)) ==
      (0 until 10).map(_.toString))
    val bad = bytes.clone(); bad(0) = 'X'
    assert(OrcColumnValues.compute(bad, "id", 16) == null)
    assert(OrcColumnValues.compute(bytes.take(40), "id", 16) == null)
    assert(OrcColumnValues.compute("junk".getBytes, "id", 16) == null)
  }

  test("orc.write.format 0.11 (RLEv1, DIRECT) integers and strings refuse; " +
    "its doubles decode") {
    import org.apache.orc.OrcProto.ColumnEncoding.Kind
    val bytes = onePartBytes { dir =>
      spark.range(0, 40).selectExpr("id", "concat('v', id % 4) AS name",
          "cast(id as double) / 2 AS x")
        .coalesce(1).write.mode("overwrite")
        .option("orc.write.format", "0.11")
        .option("orc.dictionary.key.threshold", "0.0")
        .option("compression", "zlib").orc(dir)
    }
    // the file really carries v1 encodings for both columns
    val kinds = OrcProtos.read[Seq[Kind]](bytes) { f =>
      val sf = f.stripeFooter(f.footer(1 << 24).getStripes(0))
      Seq(sf.getColumns(1).getKind, sf.getColumns(2).getKind)
    }
    assert(kinds == Seq(Kind.DIRECT, Kind.DIRECT))
    assert(OrcColumnValues.compute(bytes, "id", 1 << 16) == null)
    assert(OrcColumnValues.compute(bytes, "name", 1 << 16) == null)
    val x = OrcColumnValues.compute(bytes, "x", 1 << 16)
    assert(x.getUTF8String(2).toString == "direct")
    assert(values(x) == (0 until 40).map(i => (i / 2.0).toString))
  }

  test("a DIRECT run cut short by its stream returns null at once (orc-core " +
    "alone retries the missing bytes about 2^32 times)") {
    import org.apache.orc.OrcProto
    val bytes = onePartBytes { dir =>
      (0 until 500).map(i => (i.toLong, (i * 7919L) % 4096 - 2048))
        .toDF("id", "mix").coalesce(1).write.mode("overwrite")
        .option("compression", "none").orc(dir)
    }
    val psLen = bytes.last & 0xff
    val ps = OrcProto.PostScript.parseFrom(bytes.slice(bytes.length - 1 - psLen,
      bytes.length - 1))
    val footerAt = bytes.length - 1 - psLen - ps.getFooterLength.toInt
    val footer = OrcProto.Footer.parseFrom(bytes.slice(footerAt,
      footerAt + ps.getFooterLength.toInt))
    val st = footer.getStripes(0)
    val sfAt = (st.getOffset + st.getIndexLength + st.getDataLength).toInt
    val sf = OrcProto.StripeFooter.parseFrom(bytes.slice(sfAt,
      sfAt + st.getFooterLength.toInt))
    // mix's DATA stream, the stripe's last, loses its last 20 bytes,
    // inside a DIRECT run
    val i = (0 until sf.getStreamsCount).indexWhere { k =>
      val s = sf.getStreams(k)
      s.getColumn == 2 && s.getKind == OrcProto.Stream.Kind.DATA
    }
    val cut = sf.toBuilder.setStreams(i, sf.getStreams(i).toBuilder
      .setLength(sf.getStreams(i).getLength - 20)).build.toByteArray
    val newFooter = footer.toBuilder.setStripes(0, st.toBuilder
      .setFooterLength(cut.length)).build.toByteArray
    val newPs = ps.toBuilder.setFooterLength(newFooter.length).build.toByteArray
    val file = bytes.take(sfAt) ++ cut ++ newFooter ++ newPs ++
      Array(newPs.length.toByte)
    assert(values(OrcColumnValues.compute(file, "id", 8)) ==
      (0 until 8).map(_.toString), "the rewritten file reads")
    val t0 = System.nanoTime
    assert(OrcColumnValues.compute(file, "mix", 8) == null)
    assert(System.nanoTime - t0 < 5e9, "the cut run took seconds")
  }
}
