package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark inputs, made from a source star schema (read only) and a
  * seed. The same source, scale and seed always give the same inputs. */
object Fixture {

  val star: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Columns shifted per copy: each replicated table's key and the
    * foreign keys that point at a replicated table. */
  private val shifted: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"))

  /** Tables written once, whatever the scale: the copies share them. */
  val shared: Set[String] = Set("region", "nation")

  /** Key offset between copies; source keys stay below it. */
  val KeySpan: Long = 1L << 40

  /** Writes `k` copies of the source star schema's `tables` to `dst`.
    * Copy `c` adds `c · KeySpan` to every replicated key and to every
    * foreign key that points at one, so each copy is a disjoint key range
    * and every FK still resolves inside its own copy. `region` and
    * `nation` are written once. */
  def scaleStar(spark: SparkSession, src: String, dst: String, k: Int,
                tables: Seq[String] = star): Unit = {
    tables.foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val out =
        if (shared(t) || k == 1) df
        else shifted(t).foldLeft(df.crossJoin(broadcast(spark.range(k).toDF("__copy")))) {
          (d, c) => d.withColumn(c, col(c) + col("__copy") * lit(KeySpan))
        }.drop("__copy")
      out.write.parquet(s"$dst/$t.parquet")
    }
  }

  /** Deterministic per-seed choice of about `perMille`/1000 of the rows,
    * by a hash of `key` (no dependence on partitioning). */
  def pick(key: String, seed: Long, perMille: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col(key), lit(seed)), lit(1000L)) < perMille

  /** Root customers of a delete-tree: about 1% of them. */
  def deleteRoots(customers: DataFrame, seed: Long): Array[Long] =
    customers.filter(pick("c_custkey", seed ^ 0x5eedL, 10))
      .select("c_custkey").collect().map(_.getLong(0)).sorted

  /** Upsert delta over `orders`: about 10% of the orders with a changed
    * price and status, plus about 1% new orders (a fresh key, above every
    * copy's key range, same customer). Orders of `avoid` customers are
    * left out, so a delete-tree of those customers never meets an
    * upserted child. */
  def upsertDelta(orders: DataFrame, seed: Long, avoid: Array[Long]): DataFrame = {
    val eligible = orders.filter(!col("o_custkey").isin(avoid.toSeq: _*))
    val changed = eligible.filter(pick("o_orderkey", seed, 100))
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .withColumn("o_orderstatus", lit("U"))
    val added = eligible.filter(pick("o_orderkey", seed ^ 0xadd, 10))
      .withColumn("o_orderkey", col("o_orderkey") + lit(KeySpan << 10))
      .withColumn("o_orderstatus", lit("N"))
    changed.unionByName(added)
  }

  /** Root sets of a copy-tree run: `n` sets of customer keys drawn from
    * `keys`, each about 0.1% of them, except the last, about 1%. */
  def rootSets(keys: Array[Long], seed: Long, n: Int): Seq[Seq[Long]] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val size = math.max(1, if (i == n - 1) keys.length / 100 else keys.length / 1000)
      rnd.shuffle(keys.toSeq).take(size).sorted
    }
  }

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** A landing backlog for the curation stream.
    *
    * @param indexed documents of the already-curated corpus
    * @param drops JSONL files, one per micro-batch, in landing order
    * @param exactDups ids of injected exact duplicates (of indexed docs,
    *   of earlier drops' docs or of docs in the same drop); every one
    *   must be dropped by the stream
    */
  final case class Backlog(indexed: Seq[Doc], drops: Seq[Seq[Doc]], exactDups: Set[Long])

  /** Splits `docs` into an indexed part (`indexedShare` of them) and
    * `nDrops` drops of fresh documents, and adds to each drop exact
    * duplicates of indexed and same-drop documents plus near duplicates
    * (one word replaced) of indexed ones. Injected ids start above
    * every source id. */
  def backlog(docs: Seq[Doc], seed: Long, nDrops: Int, indexedShare: Double): Backlog = {
    val rnd = new scala.util.Random(seed)
    val shuffled = rnd.shuffle(docs.sortBy(_.id))
    val nIndexed = (shuffled.length * indexedShare).toInt
    val (indexed, fresh) = shuffled.splitAt(nIndexed)
    // duplicates need text long enough to shingle, or LSH never sees them
    val dupable = indexed.filter(_.text.split(' ').length >= 8).toIndexedSeq
    var nextId = docs.map(_.id).max + 1000000L
    def copyOf(d: Doc, text: String): Doc = { nextId += 1; d.copy(id = nextId, text = text) }
    val perDrop = fresh.length / nDrops
    val exact = Set.newBuilder[Long]
    val drops = (0 until nDrops).map { i =>
      val own = fresh.slice(i * perDrop, (i + 1) * perDrop)
      val exactIndexed = Seq.fill(2) {
        val src = dupable(rnd.nextInt(dupable.length)); copyOf(src, src.text)
      }
      val longOwn = own.filter(_.text.split(' ').length >= 8)
      val exactSame = longOwn.headOption.map(src => copyOf(src, src.text)).toSeq
      val near = Seq.fill(2) {
        val src = dupable(rnd.nextInt(dupable.length))
        val words = src.text.split(' ')
        words(rnd.nextInt(words.length)) = "perfbench"
        copyOf(src, words.mkString(" "))
      }
      exact ++= (exactIndexed ++ exactSame).map(_.id)
      rnd.shuffle(own ++ exactIndexed ++ exactSame ++ near)
    }
    Backlog(indexed, drops, exact.result())
  }

  private def json(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def jsonLine(d: Doc): String =
    s"""{"doc_id":${d.id},"text":${json(d.text)},"lang":${json(d.lang)},""" +
      s""""source":${json(d.source)},"n_chars":${d.text.length}}"""

  /** Writes each drop as one JSONL file with increasing modification
    * times, so a file source picks them up in drop order. */
  def writeDrops(drops: Seq[Seq[Doc]], dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val t0 = System.currentTimeMillis() - drops.length * 1000L
    drops.zipWithIndex.foreach { case (docs, i) =>
      val p = Paths.get(dir, f"drop-$i%05d.jsonl")
      Files.write(p, docs.map(jsonLine).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      Files.setLastModifiedTime(p, FileTime.fromMillis(t0 + i * 1000L))
    }
  }
}
