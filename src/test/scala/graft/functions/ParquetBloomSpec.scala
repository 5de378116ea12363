package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Parquet bloom-filter probe + census. The pinned fixture was
  * written by Spark's OWN parquet-mr writer
  * (`parquet.bloom.filter.enabled#name`); the cross-engine test
  * below re-writes a fresh file with the same options in THIS suite
  * run and asserts identical kernel behavior, so the provenance is
  * reproducible, not archaeological. */
class ParquetBloomSpec extends SparkSpec {

  private val fixtureHex =
    "50415231150015ac0115ac0115b28bdbbf071c15101500150615080000" +
    "020000001001060000006e616d652d30060000006e616d652d31060000" +
    "006e616d652d32060000006e616d652d33060000006e616d652d340600" +
    "00006e616d652d35060000006e616d652d36060000006e616d652d3715" +
    "0015800115800115839eab6c1c15101500150815080000000000000000" +
    "0000010000000000000002000000000000000300000000000000040000" +
    "0000000000050000000000000006000000000000000700000000000000" +
    "1911021918066e616d652d301918066e616d652d371502191600001911" +
    "0219180800000000000000001918080700000000000000150219160000" +
    "191c160815de0116000019166000191c16e60115b0011600000015401c" +
    "1c00001c1c00001c1c000000004191b021240282088304344518020808" +
    "41080904102464a8122050248180031502193c480c737061726b5f7363" +
    "68656d61150400150c250218046e616d6525004c1c0000001504250018" +
    "026964001610191c192c26001c150c19350800061918046e616d651500" +
    "161016de0116de0126083c360028066e616d652d3718066e616d652d30" +
    "00191c1500150015020016be04155e1c16600000168a04151c16960315" +
    "360026001c15041925080019180269641500161016b00116b00126e601" +
    "3c18080700000000000000180800000000000000001600280807000000" +
    "000000001808000000000000000000191c150015001502003c000016a6" +
    "04151816cc03153e00168e0316102608168e03140000192c18186f7267" +
    "2e6170616368652e737061726b2e76657273696f6e1805342e312e3200" +
    "18296f72672e6170616368652e737061726b2e73716c2e706172717565" +
    "742e726f772e6d657461646174611895017b2274797065223a22737472" +
    "756374222c226669656c6473223a5b7b226e616d65223a226e616d6522" +
    "2c2274797065223a22737472696e67222c226e756c6c61626c65223a74" +
    "7275652c226d65746164617461223a7b7d7d2c7b226e616d65223a2269" +
    "64222c2274797065223a226c6f6e67222c226e756c6c61626c65223a66" +
    "616c73652c226d65746164617461223a7b7d7d5d7d00184a7061727175" +
    "65742d6d722076657273696f6e20312e31362e3020286275696c642034" +
    "3032633338313063333732643239363033653138313737316163656266" +
    "6563633731626566363129192c1c00001c0000002c02000050415231"

  private def hx(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("pinned parquet-mr fixture: all eight written values answer " +
    "true, the next six absent values answer false, info reads the " +
    "header facts") {
    val b = hx(fixtureHex)
    for (i <- 0 until 8)
      assert(ParquetBloom.check(b, "name", s"name-$i".getBytes) ===
        java.lang.Boolean.TRUE, s"name-$i")
    for (i <- 8 until 14)
      assert(ParquetBloom.check(b, "name", s"name-$i".getBytes) ===
        java.lang.Boolean.FALSE, s"name-$i")
    // the id column carries no bloom: null, never a guessed false
    assert(ParquetBloom.check(b, "id", "3".getBytes) == null)
    assert(ParquetBloom.check(b, "missing", "x".getBytes) == null)
    val gi = ParquetBloom.info(b, 64)
    assert(gi != null && gi.numElements() === 1)
    val t = gi.getStruct(0, 7)
    assert(t.getInt(0) === 0 &&
      t.getUTF8String(1).toString === "name" &&
      t.getInt(3) === 32 &&
      t.getUTF8String(4).toString === "block" &&
      t.getUTF8String(5).toString === "xxhash" &&
      t.getUTF8String(6).toString === "uncompressed")
  }

  test("cross-engine, reproducible: a FRESH file from Spark's own " +
    "writer with the same options behaves identically") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bloomfx")
      .toFile.getAbsolutePath
    (0 until 8).map(i => (s"name-$i", i.toLong)).toDF("name", "id")
      .coalesce(1).write
      .option("parquet.bloom.filter.enabled#name", "true")
      .option("parquet.bloom.filter.expected.ndv#name", "8")
      .option("compression", "none")
      .mode("overwrite").parquet(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val b = java.nio.file.Files.readAllBytes(part.toPath)
    for (i <- 0 until 8)
      assert(ParquetBloom.check(b, "name", s"name-$i".getBytes) ===
        java.lang.Boolean.TRUE, s"fresh name-$i")
    // no false NEGATIVES is the bloom guarantee the planner leans on;
    // false positives are allowed, so absent probes are not asserted
    // on the fresh (writer-version-dependent) bitset
    assert(ParquetBloom.info(b, 64) != null)
  }

  test("the column expression distributes the probe per row") {
    import spark.implicits._
    val b = hx(fixtureHex)
    val df = (0 until 14).map(i => (i.toLong, s"name-$i"))
      .toDF("id", "probe")
      .withColumn("payload", lit(b))
      .withColumn("hit",
        ParquetBloom.mightContain(col("payload"), "name", col("probe")))
    val got = df.orderBy("id").collect().map(r => r.getBoolean(3))
    assert(got.take(8).forall(identity) && got.drop(8).forall(!_))
  }

  test("the one-block probe answers as the whole-bitset probe, for hits " +
    "and misses, over the suite's bloom files") {
    import spark.implicits._
    import org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter
    import org.apache.parquet.format.BloomFilterHeader
    import org.apache.parquet.io.api.Binary
    /** Row groups' whole bitsets for `name`, probed as parquet-column
      * reads them. */
    def whole(b: Array[Byte], probe: Array[Byte]): java.lang.Boolean = {
      val refs = ParquetBloom.info(b, 64)
      val hits = (0 until refs.numElements()).map(refs.getStruct(_, 7))
        .filter(_.getUTF8String(1).toString == "name").map { r =>
          val h = new BloomFilterHeader
          val off = r.getLong(2)
          val bs = off.toInt + ParquetThrift.read(h, b, off, b.length - off)
          val f = new BlockSplitBloomFilter(
            java.util.Arrays.copyOfRange(b, bs, bs + h.getNumBytes))
          f.findHash(f.hash(Binary.fromConstantByteArray(probe)))
        }
      if (hits.isEmpty) null else java.lang.Boolean.valueOf(hits.contains(true))
    }
    def written(rows: Int, ndv: Option[Int]): Array[Byte] = {
      val dir = java.nio.file.Files.createTempDirectory("bloomblk")
        .toFile.getAbsolutePath
      val w = (0 until rows).map(i => (s"name-$i", i.toLong)).toDF("name", "id")
        .coalesce(1).write
        .option("parquet.bloom.filter.enabled#name", "true")
        .option("parquet.block.size", "16384")
      ndv.fold(w)(n => w.option("parquet.bloom.filter.expected.ndv#name",
        n.toString)).option("compression", "none").mode("overwrite").parquet(dir)
      val part = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.readAllBytes(part.toPath)
    }
    // the pinned 32-byte bitset, a few-KiB one per row group over
    // several row groups, and Spark's default size (1 MiB)
    val files = Seq(hx(fixtureHex), written(2000, Some(2000)),
      written(8, None))
    val sizes = files.map(ParquetBloom.info(_, 64)).map(a =>
      (0 until a.numElements()).map(a.getStruct(_, 7).getInt(3)).max)
    assert(sizes.head == 32 && sizes(1) > 32 && sizes(2) == (1 << 20), sizes)
    for ((b, k) <- files.zipWithIndex) {
      var hit, miss = 0
      for (i <- 0 until 4000) {
        val p = s"name-$i".getBytes
        val want = whole(b, p)
        assert(want != null)
        assert(ParquetBloom.check(b, "name", p) === want, s"file $k name-$i")
        if (want) hit += 1 else miss += 1
      }
      assert(hit >= 8 && miss > 0, s"file $k: $hit hits, $miss misses")
    }
  }

  test("fail-closed: footer corruption and truncation answer null") {
    val b = hx(fixtureHex)
    val flip = b.clone()
    flip(flip.length - 6) = (flip(flip.length - 6) ^ 1).toByte // footer len
    assert(ParquetBloom.check(flip, "name", "name-0".getBytes) == null)
    assert(ParquetBloom.info(flip, 64) == null)
    assert(ParquetBloom.check(b.take(40), "name", "x".getBytes) == null)
    assert(ParquetBloom.check("junk".getBytes, "name", "x".getBytes) == null)
  }
}
