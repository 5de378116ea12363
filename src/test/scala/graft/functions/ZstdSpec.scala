package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The zstd decoder graded against the REAL format: every pinned
  * stream below is stock `zstd` CLI (v1.5.7) output embedded as
  * constants, chosen to cover each block/literals/sequence shape the
  * no-dictionary format can emit — raw/RLE/compressed blocks,
  * raw/RLE/Huffman(1-stream FSE-weights, 4-stream)/treeless literals,
  * predefined/RLE/FSE/repeat sequence-table modes, repeat offsets,
  * multi-block frames, content checksums, concatenated + skippable
  * frames — plus hand-built frames for the two shapes the encoder
  * rarely emits (RLE literals, direct Huffman weights) and a
  * fail-closed battery. */
class ZstdSpec extends SparkSpec {
  import spark.implicits._

  private def un(hex: String): Array[Byte] =
    hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString

  // stock-zstd reference streams (level as noted), all single-segment
  private val helloZ = // "hello zstd world", -19, checksum
    "28b52ffd241081000068656c6c6f207a73746420776f726c647f816860"
  private val helloNc = // same, --no-check
    "28b52ffd201081000068656c6c6f207a73746420776f726c64"
  private val wikiZ = // "wiki dump text " * 40, -19: predefined seq modes
    "28b52ffd645801b500007877696b692064756d70207465787420010046a49a751720de86"
  private val runsZ = // "a"*300 + "end", -19
    "28b52ffd642f005d00002061656e640100282a10027542211f"
  private val emptyZ = // empty input
    "28b52ffd240001000099e9d851"
  private val xrunZ = // "x" * 200000, -19: compressed + RLE block, 4-byte FCS
    "28b52ffda4400d03004c000008780100fcff391002036a08786f707a7a"
  private val eightZ = // 600 bytes over alphabet a..h, -12: literals-only
    // compressed block (nbSeq == 0), 1-stream Huffman, FSE weights
    "28b52ffd645801b5070086a53c07f00d9999399f7b390039003900dfaa185c74329f" +
    "33def134281095a1ca71be9c8cb31c2f96913cb1bb3b96ea679a97a622e7c10cbe19" +
    "f370d1b632f7e3941f293c8e6da900070a8954a4490a11d2ccaa98d6d7f2994dafc9" +
    "108b06430f5fbf07ec0870a42e767615a4a2c8528183c6896e46485f14fdbd6ef3a2" +
    "321bd5f005dc902e8a13777c29682e8a6a1ce093ce77b907f10732c23531a0e33ba7" +
    "036b37778b8c287e3ec665454525586a0f660f2e6ce868f2c9c4eb04c819ddb75bb9" +
    "422017dafa17cce86c8bcd419aec34b81f681af84a2c2be66fa74299cfb3433b3e33" +
    "e25d25b4c2f8d473f829d3458e3d8cc106002b4cf17d"
  private val eightSha = // sha-256 of the 600-byte a..h plaintext
    "bcc3c6f1d3abee18a401e7fdc2a8d660f1bbc55bb20f802ec4a9fc8687367a70"
  private val aaabZ = // ("a"*97 + "b") * 200, -1: RLE sequence-table modes
    "28b52ffd64904b6d050016d90f04e00f81510d000d000d005555555555555555555" +
    "5555525aaaaaaaaaaaaaaaaaaaaaaaa2a5555555555555555555555553555555555" +
    "55555555555555550580c854020029ddddddddddddddddddddddddddddddddddddd" +
    "ddddddddddddddddddddddddddddddddddddddddddddddddddddddddddddddddddd" +
    "ddddddddddddddddddddddddddddddddddddddddddddddddddddddddddddddddddd" +
    "dddddddddddddddddddddddddddcd01aed0f49c"
  private val divZ = // 2817 bytes of word-digit text, -19: 4-STREAM Huffman
    // literals (jump table), FSE-compressed LL/OF/ML tables, 270 seqs
    "28b52ffd64010a0d2200f6ba8a1a606dda2f25e041e7ea16a6983308028acd95ddbd" +
    "0d2c8120280e9c0083007600fafbcaf32c0c037935cf290416e4f2a244792228255b" +
    "96e59050242877d11e320dc0417aba30cda3140228eb8105b03816e84ec972603005" +
    "08d2b4bd359ca7117106e8921fa711601e287d17fd3babd33007a4aa4a41d128e8f5" +
    "c5db3a335d0e0c029d623a058f5260a05b3d0b00b13c9c04c2751eca0340654b8069" +
    "349406ed1780f328506d0e1a8780eafc280186831296b3209c0761354bc32904b982" +
    "4641209b15469060d05d15edcfc3abdddb29a139dd369643c0014085e98ab6cabc43" +
    "48280de4bd5141300d4a574cddcbc3bbb3fea9dfcc4dffb79b9cb7969cf613ed5f15" +
    "135acdd1382668bda946acd43ae719d33d0e23b13490bad05633f97e564aa35904c8" +
    "f288c719300907ba2abdbda51585a240796895b7e6d3d2327d790f76d2ca7d5696e2" +
    "2504c944e2aba5546911d75a77a1a6a5719ffac47477b5a9ac6cebceb2162fd77cde" +
    "d4db377dc6bfd216bd96ec684deb5aebe9bd752fe96f6b13af9992e161e1abec16ef" +
    "f6b07e5af9fceb2a6df7d6084723a1d47f85e675e1edaa546baf14ad5c98865579bf" +
    "7bba646a7c3adcf4062959ed6aa62dcdf2adb0f0522fdd651b1e9db6999eb9d644f3" +
    "993dd768ba9ab7b4965a52359666b9f676de195ab2ddf69a6dba454b8b7f3ad47cd5" +
    "fd6869d75af5da4dabee74c4aab4bbfbebed2ea6ad7aa22bd5d6a22d999d87476c2c" +
    "4ce330204dfb1413315d986778f7532ce3d399fee59401810ea82120132612884892" +
    "1425cb18210801c250284eba03210889045b3bc557f23d38f4e0c08ebd58d4ec97e2" +
    "8ae527986980a5043e93d6dbefb398a655f8a2946a39c848f49b6a7a8fd2039bb142" +
    "b1a44ff948ffb77fa203557f821bb7b0ea8f3dbc3666eb4f24f250107b0dc21a531b" +
    "a5511baaac3da3843725dae6f2efc703a4db6d955a6bcc841006edf95099b28e032c" +
    "1c036ded57960c5c409e11b175b1162d36beb103b7248cfb3a7b88752336701a43f1" +
    "f2ebf125221f65264e78e4771f7c39d8f7af904c7c255cf99e643f489e99c06bf851" +
    "e8192f01b67212fae731545ac7a03ca34a579812d6a131b7486d0e2b00eb4fbc4286" +
    "87d6c5e028c32781712278b05d61716406567cd51b0a2c141f7a4fd54f79b9080da0" +
    "d46908d782bc0e216462eac6ba133ec40b7cd974e56be0c74d69f0b07a20f8a969b5" +
    "0d4fee94b8be27f1ac34f3c56303309023e66d681fecb4815b71df1e7f2335fdb302" +
    "9c06667c2be5ff11ab13c1cad7737ac18ae783985ace70660b15b5c534ce82dbf55c" +
    "9dc463a3093ec9fd0f6c6974274137b9b5c40409e0113602921d735b880cc5d27be1" +
    "0222c16178fd5a2e68463a43b7913200089c7cf2cf34bb57d212e5cd770f7a3cab27" +
    "0d2ce8d91cca54c78ffa4fc4d919167af05d800540175159cf2e641fd04ed5fc35b7" +
    "1d2d8c9fcfc5806f0d818f57a1c13a875cd6ac41f7497983ede0a0c24a4e4791479c" +
    "b757eba21c801e02445b059ac48e01"

  test("zstd: stock-CLI reference streams round-trip — raw block, " +
    "predefined sequences, RLE block, empty frame, 1-stream Huffman " +
    "literals-only block, RLE sequence tables, 4-stream Huffman with " +
    "FSE-compressed sequence tables; checksums verified") {
    assert(new String(ZstdPayload.compute(un(helloZ), 1 << 20), "UTF-8")
      == "hello zstd world")
    assert(new String(ZstdPayload.compute(un(helloNc), 1 << 20), "UTF-8")
      == "hello zstd world")
    assert(new String(ZstdPayload.compute(un(wikiZ), 1 << 20), "UTF-8")
      == "wiki dump text " * 40)
    assert(new String(ZstdPayload.compute(un(runsZ), 1 << 20), "UTF-8")
      == "a" * 300 + "end")
    assert(ZstdPayload.compute(un(emptyZ), 1 << 20).length == 0)
    assert(new String(ZstdPayload.compute(un(xrunZ), 1 << 20), "UTF-8")
      == "x" * 200000)
    val eight = ZstdPayload.compute(un(eightZ), 1 << 20)
    assert(eight != null && eight.length == 600 && sha256(eight) == eightSha)
    assert(new String(ZstdPayload.compute(un(aaabZ), 1 << 20), "UTF-8")
      == ("a" * 97 + "b") * 200)
    val div = ZstdPayload.compute(un(divZ), 1 << 20)
    assert(div != null && div.length == 2817)
    assert(sha256(div) ==
      "5374df9e86c5a061abaa44e9cc3852cca0c138e76f2b691b58d8ea8c5d466512")
  }

  test("zstd: a real multi-block -19 frame (270 KB regenerated) decodes " +
    "exactly — treeless literals and repeat sequence-table modes " +
    "across blocks, repeat-offset history carried block to block") {
    def res(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(name)
      assert(in != null, s"missing test resource $name")
      try in.readAllBytes() finally in.close()
    }
    val z = res("/zstd/mbsmall19.zst")
    val want = res("/zstd/mbsmall.txt")
    val got = ZstdPayload.compute(z, 1 << 20)
    assert(got != null, "multi-block frame failed to decode")
    assert(got.length == want.length)
    assert(java.util.Arrays.equals(got, want))
  }

  test("zstd: hand-built frames cover the encoder-rare literal shapes — " +
    "RLE literals and direct (4-bit) Huffman weights") {
    // RLE literals, nbSeq=0: 20 copies of 'z'
    val rleLit = "28b52ffd2014" + // magic, fhd single+fcs1, content 20
      "1d0000" + // block header: last, compressed, size 3
      "a17a00" // lit hdr: type RLE sf0 rs=20; byte 'z'; nbSeq=0
    assert(new String(ZstdPayload.compute(un(rleLit), 1 << 20), "UTF-8")
      == "z" * 20)
    // direct Huffman weights: weights are per BYTE VALUE from 0, so
    // "abcd" needs 100 stored weights (zeros up to 'a'; 'd' = symbol
    // 0x64 carries the implied last weight), literals "abcd", nbSeq=0
    val direct = "28b52ffd0000" + // magic, fhd 0 (no size), window 1 KiB
      "cd0100" + // block header: last, compressed, size 57
      "42400d" + // lit hdr: type Compressed sf0, rs=4 cs=53
      "e3" + "00" * 48 + "01" + "11" + // tree: 100 4-bit weights —
      // w[0x61..0x63]=1, rest 0; w[0x64] implied 1
      "1b01" + // backward Huffman stream: sentinel + 00 01 10 11
      "00" // nbSeq = 0
    assert(new String(ZstdPayload.compute(un(direct), 1 << 20), "UTF-8")
      == "abcd")
  }

  test("zstd: concatenated frames decode back-to-back and skippable " +
    "frames are skipped (the zstdmt/seekable multi-frame shapes)") {
    assert(new String(ZstdPayload.compute(un(helloZ + wikiZ), 1 << 20),
      "UTF-8") == "hello zstd world" + "wiki dump text " * 40)
    // skippable frame (magic 0x184D2A50, 5 junk bytes) between frames
    val skip = "502a4d18" + "05000000" + "deadbeefff"
    assert(new String(
      ZstdPayload.compute(un(helloZ + skip + runsZ), 1 << 20), "UTF-8")
      == "hello zstd world" + "a" * 300 + "end")
    // a skippable-only payload is a valid empty stream
    assert(ZstdPayload.compute(un(skip), 1 << 20).length == 0)
  }

  test("zstd fails closed: bad magic, dictionary reference, reserved " +
    "block type, checksum mismatch, content-size mismatch, truncation " +
    "at every cut, corrupt payload bytes, over-cap, trailing garbage; " +
    "Column API with nulls") {
    val ok = un(wikiZ)
    val badMagic = ok.clone(); badMagic(0) = 'X'.toByte
    assert(ZstdPayload.compute(badMagic, 1 << 20) == null)
    // dictionary id: fhd gains dictFlag=1 + a nonzero id byte — refuse
    val dict = un("28b52ffd2504" + "07" + "0100" + "61616161")
    assert(ZstdPayload.compute(dict, 1 << 20) == null)
    // reserved block type (3)
    assert(ZstdPayload.compute(un("28b52ffd2000" + "070000"), 1 << 20) == null)
    // a compressed block larger than Block_Maximum_Size = min(Window_Size,
    // 128 KiB) (RFC 8878 §3.1.1.2.3): the direct-weights frame above
    // re-headed as single-segment with content size 4, so Window_Size 4
    // against its 57-byte block
    val overBlock = un("28b52ffd2004" + "cd0100" + "42400d" + "e3" +
      "00" * 48 + "01" + "11" + "1b01" + "00")
    assert(ZstdPayload.compute(overBlock, 1 << 20) == null)
    // checksum flip (last byte)
    val badCk = ok.clone(); badCk(ok.length - 1) = (badCk(ok.length - 1) ^ 1).toByte
    assert(ZstdPayload.compute(badCk, 1 << 20) == null)
    // content-size byte doctored on the raw-block frame
    val badCs = un(helloZ); badCs(5) = 0x11
    assert(ZstdPayload.compute(badCs, 1 << 20) == null)
    // truncation at every cut must never return data
    for (cut <- 1 until ok.length)
      assert(ZstdPayload.compute(ok.take(cut), 1 << 20) == null,
        s"truncated at $cut")
    // corrupt each payload byte: checksum (or an inner guard) refuses
    for (i <- 6 until ok.length) {
      val c = ok.clone(); c(i) = (c(i) ^ 0x55).toByte
      assert(ZstdPayload.compute(c, 1 << 20) == null, s"corrupt at $i")
    }
    // over-cap: rejected, never clipped ("x"*200000 under a 64 KB cap)
    assert(ZstdPayload.compute(un(xrunZ), 1 << 16) == null)
    assert(ZstdPayload.compute(un(xrunZ), 200000) != null)
    // trailing garbage after a valid frame
    assert(ZstdPayload.compute(un(helloZ) ++ Array[Byte](1, 2, 3),
      1 << 20) == null)
    val rows = Seq((1L, un(wikiZ)), (2L, null: Array[Byte]),
      (3L, "not zstd".getBytes("UTF-8")))
      .toDF("id", "z")
      .select(col("id"), ZstdPayload(col("z")).cast("string").as("t"))
      .orderBy("id").collect()
    assert(rows(0).getString(1) == "wiki dump text " * 40)
    assert(rows(1).isNullAt(1) && rows(2).isNullAt(1))
  }
}
