package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.SchemaCatalog

/** The generated inputs keep the properties the workloads rely on. Runs
  * on a tiny star schema built here, so it needs no source tables:
  * `cd perfbench && sbt test`. */
class FixtureSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  /** 2 regions, 3 nations, 6 customers, 2 suppliers, 3 parts, 12 orders,
    * 30 line items; every foreign key resolves. */
  private def tinyStar(dir: String): Unit = {
    val s = spark
    import s.implicits._
    Seq((0, "r0"), (1, "r1")).toDF("r_regionkey", "r_name").write.parquet(s"$dir/region.parquet")
    Seq((0, "n0", 0), (1, "n1", 1), (2, "n2", 1)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    (0L until 6L).map(c => (c, s"c$c", (c % 3).toInt, c * 1.5, "seg"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment").write.parquet(s"$dir/customer.parquet")
    (0L until 2L).map(x => (x, s"s$x", x.toInt, 1.0)).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$dir/supplier.parquet")
    (0L until 3L).map(p => (p, s"p$p", "b", "t", 1, 9.5)).toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.parquet(s"$dir/part.parquet")
    (0L until 12L).map(o => (o, o % 6, "O", o * 10.0)).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    (0 until 30).map(i => (i % 12L, i % 3L, i % 2L, i, 1.0)).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
  }

  test("the scaled star schema has K times each replicated table and every FK resolves") {
    val root = Files.createTempDirectory("perfbench-fixture").toString
    tinyStar(s"$root/src")
    val k = 3
    Fixture.scaleStar(spark, s"$root/src", s"$root/out", k)
    def rows(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet").count()
    Fixture.star.foreach { t =>
      val factor = if (Fixture.shared(t)) 1 else k
      assert(rows(s"$root/out", t) == factor * rows(s"$root/src", t), t)
    }
    def table(t: String) = spark.read.parquet(s"$root/out/$t.parquet")
    SchemaCatalog.starEdges.foreach { e =>
      val dangling = table(e.childTable)
        .join(table(e.parentTable), col(e.childColumn) === col(e.parentColumn), "left_anti").count()
      assert(dangling == 0, s"${e.name}: $dangling rows without a parent")
    }
    Seq("customer" -> "c_custkey", "orders" -> "o_orderkey", "part" -> "p_partkey", "supplier" -> "s_suppkey")
      .foreach { case (t, key) =>
        assert(table(t).select(key).distinct().count() == table(t).count(), s"$t keys stay unique")
      }
  }

  test("the upsert delta avoids the delete-tree's customers and brings new keys") {
    val root = Files.createTempDirectory("perfbench-delta").toString
    tinyStar(s"$root/src")
    Fixture.scaleStar(spark, s"$root/src", s"$root/out", 200)
    val customers = spark.read.parquet(s"$root/out/customer.parquet")
    val orders = spark.read.parquet(s"$root/out/orders.parquet")
    val gone = Fixture.deleteRoots(customers, 7L)
    assert(gone.nonEmpty)
    val delta = Fixture.upsertDelta(orders, 7L, gone)
    assert(delta.filter(col("o_custkey").isin(gone.toSeq: _*)).count() == 0)
    val fresh = delta.join(orders, Seq("o_orderkey"), "left_anti").count()
    assert(fresh > 0 && fresh < delta.count())
    assert(delta.select("o_orderkey").distinct().count() == delta.count())
    assert(Fixture.upsertDelta(orders, 7L, gone).collect().toSet == delta.collect().toSet, "same seed, same delta")
  }

  test("the landing backlog injects exact duplicates with fresh ids") {
    val words = Seq("spark", "scan", "sort", "hash", "merge", "table", "row", "key", "join", "index")
    val rnd = new scala.util.Random(1)
    val docs = (0L until 400L).map(i => Fixture.Doc(i, Seq.fill(12)(words(rnd.nextInt(words.length))).mkString(" "), "en", "web"))
    val b = Fixture.backlog(docs, 3L, 8, 0.6)
    assert(b.indexed.length == 240 && b.drops.length == 8)
    val byId = (b.indexed ++ b.drops.flatten).groupBy(_.id)
    assert(byId.values.forall(_.length == 1), "ids are unique across the corpus and the drops")
    b.exactDups.foreach { id =>
      val d = byId(id).head
      assert(id > docs.map(_.id).max)
      assert((b.indexed ++ b.drops.flatten).exists(o => o.id != id && o.text == d.text))
    }
    assert(b.exactDups.size >= 2 * 8)
    assert(Fixture.backlog(docs, 3L, 8, 0.6) == b, "same seed, same backlog")
  }
}
