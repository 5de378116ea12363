package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

class OrcFooterSpec extends SparkSpec {
  import spark.implicits._

  private def onePartBytes(write: String => Unit): Array[Byte] = {
    val dir = Files.createTempDirectory("graft-orc").toFile
    write(dir.toString)
    val part = dir.listFiles().filter(_.getName.endsWith(".orc")).head
    Files.readAllBytes(part.toPath)
  }

  test("BlockCodecs: hand-encoded snappy and lz4 raw blocks round-trip; " +
    "malformed offsets/truncation fail closed") {
    // snappy: varint len 11, literal "hello " (tag len 6 -> (6-1)<<2),
    // copy1 len 5 offset 6 (tag 01, len-4=1 -> bits 4-2, offset 6)
    val sn = Array[Byte](11, ((6 - 1) << 2).toByte,
      'h', 'e', 'l', 'l', 'o', ' ',
      ((1 << 2) | 1).toByte, 6)
    assert(new String(BlockCodecs.snappy(sn, 0, sn.length, 1 << 10))
      == "hello hello")
    // declared length mismatch fails closed
    val bad = sn.clone(); bad(0) = 12
    assert(BlockCodecs.snappy(bad, 0, bad.length, 1 << 10) == null)
    // offset past the produced output fails closed
    val far = sn.clone(); far(8) = 99
    assert(BlockCodecs.snappy(far, 0, far.length, 1 << 10) == null)
    assert(BlockCodecs.snappy(sn, 0, sn.length - 1, 1 << 10) == null)
    // lz4: token lit=6 match=5-4=1 -> 0x61, literals, offset le16=6,
    // then final literal-only token for "!" (0x10)
    val lz = Array[Byte](0x61, 'h', 'e', 'l', 'l', 'o', ' ',
      6, 0, 0x10, '!')
    assert(new String(BlockCodecs.lz4(lz, 0, lz.length, 1 << 10))
      == "hello hello!")
    // zero offset and truncation fail closed
    val z = lz.clone(); z(7) = 0
    assert(BlockCodecs.lz4(z, 0, z.length, 1 << 10) == null)
    assert(BlockCodecs.lz4(lz, 0, 8, 1 << 10) == null)
  }

  test("orc_meta reads Spark's OWN orc output under zlib, none, snappy, " +
    "lz4 and zstd: exact rows, stripes, top-level columns") {
    for (codec <- Seq("zlib", "none", "snappy", "lz4", "zstd")) {
      val bytes = onePartBytes { dir =>
        spark.range(0, 2000).selectExpr(
            "id", "cast(id as string) as name", "cast(id as double) as x")
          .coalesce(1).write.mode("overwrite")
          .option("compression", codec).orc(dir)
      }
      val r = OrcFooterMeta.compute(bytes, 1 << 24)
      assert(r != null, codec)
      assert(r.getUTF8String(0).toString == codec.replace("none", "none")
        || r.getUTF8String(0).toString == codec)
      assert(r.getLong(2) == 2000L, s"num_rows under $codec")
      assert(r.getInt(3) >= 1)
      val cols = r.getArray(5)
      val got = (0 until cols.numElements()).map { i =>
        val c = cols.getStruct(i, 2)
        c.getUTF8String(0).toString -> c.getUTF8String(1).toString
      }
      assert(got == Seq("id" -> "long", "name" -> "string",
        "x" -> "double"), s"columns under $codec")
      // per-stripe census agrees with the file-level facts: stripe
      // rows sum to num_rows, offsets ascend, lengths positive
      val st = OrcStripeStats.compute(bytes, 1 << 24)
      assert(st != null, s"stripes under $codec")
      assert(st.numElements() == r.getInt(3))
      var rowSum = 0L
      var lastOff = -1L
      (0 until st.numElements()).foreach { i =>
        val s = st.getStruct(i, 5)
        assert(s.getLong(0) > lastOff)
        lastOff = s.getLong(0)
        assert(s.getLong(2) > 0 && s.getLong(3) > 0)
        rowSum += s.getLong(4)
      }
      assert(rowSum == 2000L, s"stripe rows under $codec")
      // truncation fails closed
      assert(OrcStripeStats.compute(bytes.take(bytes.length / 2),
        1 << 24) == null)
      // file-level column stats: type-tree ids 0..3, exact ranges
      val cs = OrcColumnStats.compute(bytes, 1 << 24)
      assert(cs != null && cs.numElements() == 4, s"col stats $codec")
      val idCol = cs.getStruct(1, 10)
      assert(idCol.getLong(1) == 2000L && !idCol.getBoolean(2))
      assert(idCol.getLong(3) == 0L && idCol.getLong(4) == 1999L &&
        idCol.getLong(5) == 1999000L, s"int stats $codec")
      val nameCol = cs.getStruct(2, 10)
      assert(nameCol.getUTF8String(8).toString == "0" &&
        nameCol.getUTF8String(9).toString == "999", s"str stats $codec")
      val xCol = cs.getStruct(3, 10)
      assert(xCol.getDouble(6) == 0.0 && xCol.getDouble(7) == 1999.0,
        s"double stats $codec")
      assert(OrcColumnStats.compute(bytes.take(16), 1 << 24) == null)
    }
  }

  test("orc_meta: unsupported codec (lzo) yields postscript facts with " +
    "null footer fields; corrupt tails fail closed; Column API + sniff") {
    val lzo = onePartBytes { dir =>
      spark.range(0, 10).coalesce(1).write.mode("overwrite")
        .option("compression", "lzo").orc(dir)
    }
    val rz = OrcFooterMeta.compute(lzo, 1 << 24)
    assert(rz != null && rz.getUTF8String(0).toString == "lzo")
    assert(rz.isNullAt(2) && rz.isNullAt(5),
      "codec without a decoder here: explicit refusal, not a guess")
    val ok = onePartBytes { dir =>
      spark.range(0, 10).coalesce(1).write.mode("overwrite")
        .option("compression", "none").orc(dir)
    }
    assert(OrcFooterMeta.compute(ok, 1 << 24) != null)
    val noHead = ok.clone(); noHead(0) = 'X'
    assert(OrcFooterMeta.compute(noHead, 1 << 24) == null)
    val noTailMagic = ok.clone()
    // the postscript's trailing magic sits just before the length byte
    noTailMagic(ok.length - 2) = 'X'
    assert(OrcFooterMeta.compute(noTailMagic, 1 << 24) == null)
    assert(OrcFooterMeta.compute(ok.take(ok.length / 2), 1 << 24) == null)
    assert(OrcFooterMeta.compute("ORCjunk".getBytes, 1 << 24) == null)
    val row = Seq((1L, ok)).toDF("doc_id", "payload")
      .select(graft.ext.Multimodal.sniffFormat(col("payload")).as("fmt"),
        graft.ext.Multimodal.orcMeta(col("payload"))
          .getField("num_rows").as("n")).collect()(0)
    assert(row.getString(0) == "orc" && row.getLong(1) == 10L)
  }

  test("a postscript compression number orc-core does not know (9) reads " +
    "\"unknown\" and every function returns null, never uncompressed") {
    import org.apache.orc.OrcProto
    val ok = onePartBytes { dir =>
      spark.range(0, 10).coalesce(1).write.mode("overwrite")
        .option("compression", "none").orc(dir)
    }
    val psLen = ok.last & 0xff
    val ps = OrcProto.PostScript.parseFrom(ok.slice(ok.length - 1 - psLen,
      ok.length - 1))
    assert(ps.getCompression == OrcProto.CompressionKind.NONE)
    // field 2 (compression), varint 9, in place of NONE
    val ps9 = ps.toBuilder.clearCompression.build.toByteArray ++
      Array[Byte](0x10, 0x09)
    val nine = ok.take(ok.length - 1 - psLen) ++ ps9 ++ Array(ps9.length.toByte)
    // the library reads the unknown number as its default, NONE
    assert(OrcProto.PostScript.parseFrom(ps9).getCompression ==
      OrcProto.CompressionKind.NONE)
    assert(OrcProtos.read[String](nine)(f =>
      OrcProtos.compressionName(f.compression)) == "unknown")
    assert(OrcFooterMeta.compute(nine, 1 << 24) == null)
    assert(OrcStripeStats.compute(nine, 1 << 24) == null)
    assert(OrcColumnStats.compute(nine, 1 << 24) == null)
    assert(OrcColumnValues.compute(nine, "id", 16) == null)
    // the same bytes with NONE spelled out decode
    val ps0 = ps.toBuilder.clearCompression.build.toByteArray ++
      Array[Byte](0x10, 0x00)
    val zero = ok.take(ok.length - 1 - psLen) ++ ps0 ++ Array(ps0.length.toByte)
    assert(OrcFooterMeta.compute(zero, 1 << 24).getLong(2) == 10L)
  }

  test("a footer holding a proto2 group at any depth gives null from " +
    "orc_column_stats and orc_stripes; the undamaged file's answers stay") {
    import org.apache.orc.OrcProto
    import org.apache.orc.protobuf.{Message, UnknownFieldSet}
    val ok = onePartBytes { dir =>
      spark.range(0, 100).selectExpr("id", "cast(id as string) as s")
        .coalesce(1).write.mode("overwrite").option("compression", "none").orc(dir)
    }
    val psLen = ok.last & 0xff
    val ps = OrcProto.PostScript.parseFrom(ok.slice(ok.length - 1 - psLen, ok.length - 1))
    val footerStart = ok.length - 1 - psLen - ps.getFooterLength.toInt
    val footerBytes = ok.slice(footerStart, footerStart + ps.getFooterLength.toInt)
    val footer = OrcProto.Footer.parseFrom(footerBytes)
    // the file with its footer bytes replaced
    def withFooter(fb: Array[Byte]): Array[Byte] = {
      val ps2 = ps.toBuilder.setFooterLength(fb.length.toLong).build.toByteArray
      ok.take(footerStart) ++ fb ++ ps2 ++ Array(ps2.length.toByte)
    }
    def hasGroup(m: Message): Boolean =
      m.getUnknownFields.asMap.values.stream.anyMatch(!_.getGroupList.isEmpty) ||
        m.getAllFields.values.stream.anyMatch {
          case l: java.util.List[_] => l.stream.anyMatch {
            case e: Message => hasGroup(e)
            case _ => false
          }
          case e: Message => hasGroup(e)
          case _ => false
        }
    def answers(bytes: Array[Byte]) =
      (OrcColumnStats.compute(bytes, 1 << 24), OrcStripeStats.compute(bytes, 1 << 24))
    val (stats, stripes) = answers(ok)
    assert(stats != null && stats.numElements() == 3 && stripes != null)
    // the undamaged footer, re-serialized, answers as before
    val (stats0, stripes0) = answers(withFooter(footer.toByteArray))
    assert(stats0.toSeq[AnyRef](null).map(String.valueOf) == stats.toSeq[AnyRef](null).map(String.valueOf))
    assert(stripes0.numElements() == stripes.numElements())

    // one tag byte flipped to wire type 3, where protobuf still parses
    // the footer: the group swallows fields up to a matching end tag
    val flipped = footerBytes.indices.iterator.map { i =>
      val b = footerBytes.clone()
      b(i) = ((b(i) & ~7) | 3).toByte
      b
    }.find { b =>
      try hasGroup(OrcProto.Footer.parseFrom(b))
      catch { case _: org.apache.orc.protobuf.InvalidProtocolBufferException => false }
    }
    // a group nested in a repeated sub-message, and one a level deeper
    val group = UnknownFieldSet.newBuilder().addField(15, UnknownFieldSet.Field.newBuilder()
      .addGroup(UnknownFieldSet.newBuilder().addField(1,
        UnknownFieldSet.Field.newBuilder().addVarint(1).build()).build()).build()).build()
    val inStripe = footer.toBuilder.setStripes(0,
      footer.getStripes(0).toBuilder.setUnknownFields(group)).build
    val s1 = footer.getStatistics(1)
    val inIntStats = footer.toBuilder.setStatistics(1, s1.toBuilder.setIntStatistics(
      s1.getIntStatistics.toBuilder.setUnknownFields(group))).build
    val damaged = flipped.toSeq ++ Seq(inStripe.toByteArray, inIntStats.toByteArray)
    assert(flipped.isDefined)
    damaged.foreach { fb =>
      assert(hasGroup(OrcProto.Footer.parseFrom(fb)))
      assert(answers(withFooter(fb)) == ((null, null)))
    }
  }
}
