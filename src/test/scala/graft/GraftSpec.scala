package graft

import java.nio.file.Files

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.model.Operation
import graft.model.Operation._
import graft.ops.{DumpStore, Jdbc}

/** End-to-end tests of the user-facing DSL facade: the reference's
  * script verbs against both target kinds. */
class GraftSpec extends SparkSpec {
  import spark.implicits._

  private def freshDb(): String =
    s"jdbc:derby:${Files.createTempDirectory("graft-derby").toString}/db;create=true"

  test("driver entry point returns rows (smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("copyTree → file target: manifest ops + payloads with exact cardinality") {
    val dump = Files.createTempDirectory("graft-dump").toString
    val g = new Graft(spark, sf)
    val target = g.fileTarget(dump)
    val sels = g.copyTree(target, Seq("customer->orders.o_custkey"), "customer", 1L to 10L)
    target.close()
    val ops = DumpStore.readManifest(spark, dump)
    assert(ops.map(_.kind) == Seq("table_load", "table_load"))
    val expectedOrders = load("orders").filter(col("o_custkey").between(1, 10)).count()
    assert(spark.read.parquet(s"$dump/payloads/orders_1").count() == expectedOrders)
    assert(sels.map(_.table) == Seq("customer", "orders"))
  }

  test("copyTree through lineitem's non-unique stand-in key: invariant holds " +
    "on distinct coverage, many rows per key export cleanly") {
    val dump = Files.createTempDirectory("graft-dump").toString
    val g = new Graft(spark, sf)
    val target = g.fileTarget(dump)
    val sels = g.copyTree(target,
      Seq("customer->orders.o_custkey", "orders->lineitem.l_orderkey"),
      "customer", 1L to 10L)
    target.close()
    val expectedRows = load("lineitem").join(
      load("orders").filter(col("o_custkey").between(1, 10)).select("o_orderkey"),
      col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    val got = spark.read.parquet(s"$dump/payloads/lineitem_2")
    assert(got.count() == expectedRows)
    // more rows than keys — the raw-count invariant would have errored
    assert(expectedRows > sels.last.keys.count())
  }

  /** Passes every call to `inner`, first handing each payload frame to
    * `onWrite`. */
  private def spy(inner: Target)(onWrite: (String, DataFrame) => Unit): Target = new Target {
    def writePayload(name: String, df: DataFrame): String = {
      onWrite(name, df)
      inner.writePayload(name, df)
    }
    def apply(op: Operation): Unit = inner.apply(op)
    def close(): Unit = inner.close()
  }

  test("copyTree releases its cached key levels on completion") {
    val dump = Files.createTempDirectory("graft-dump").toString
    val g = new Graft(spark, sf)
    // each payload is a pinned row level; the previous level's rows are
    // released by the time the next payload is written
    val written = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val target = spy(g.fileTarget(dump)) { (name, df) =>
      assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK, s"$name: rows not pinned")
      assert(written.forall(_.storageLevel == StorageLevel.NONE), s"$name: earlier rows still pinned")
      written += df
    }
    val sels = g.copyTree(target, Seq("customer->orders.o_custkey"), "customer", 1L to 5L)
    target.close()
    assert(written.length == 2)
    assert(sels.forall(_.keys.storageLevel == StorageLevel.NONE),
      "persisted key levels must be unpersisted after the walk completes")
    assert(sels.forall(_.rows.storageLevel == StorageLevel.NONE),
      "pinned row levels must be unpersisted after the walk completes")

    // deleteTree pins no row levels: the only cache it builds is its one
    // key level (orders); pinned rows would add one per level
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var built = 0
    val delTarget = spy(g.fileTarget(Files.createTempDirectory("graft-dump").toString)) { (_, df) =>
      df.count()
      built = built max (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    }
    g.deleteTree(delTarget, Seq("customer->orders.o_custkey"), "customer", 1L to 5L)
    delTarget.close()
    assert(built == 1, s"deleteTree built $built caches, expected its one key level")
  }

  test("copyTree reads each walked table once") {
    val walked = Seq("customer", "orders", "lineitem")
    val tableRows = walked.map(t => load(t).count())
    val read = new java.util.concurrent.atomic.LongAdder
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => read.add(m.inputMetrics.recordsRead))
    }
    val g = new Graft(spark, sf)
    val dump = Files.createTempDirectory("graft-dump").toString
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val target = g.fileTarget(dump)
      g.copyTree(target, Seq("customer->orders.o_custkey", "orders->lineitem.l_orderkey"),
        "customer", 1L to 10L)
      target.close()
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // every walked table is scanned in full at least once (the semi-joins
    // read the whole child; the root's id filter skips no row group), and
    // reads of pinned levels count one record per cached batch. So a
    // total below the tables' rows plus the smallest table's rows means
    // no table was scanned twice.
    assert(read.sum() >= tableRows.sum)
    assert(read.sum() < tableRows.sum + tableRows.min,
      s"read ${read.sum()} records; walked tables hold ${walked.zip(tableRows).mkString(", ")}")
  }

  test("copy + update + deleteTree → live database target") {
    val url = freshDb()
    val g = new Graft(spark, sf)
    val target = g.dbTarget(url)

    // full copy of two tables (DDL + data)
    g.copy(target, Seq("customer", "orders"), order = Seq("customer", "orders"))
    assert(Jdbc.read(spark, url, "customer").count() == load("customer").count())
    assert(Jdbc.read(spark, url, "orders").count() == load("orders").count())

    // upsert a delta
    val delta = load("customer").filter($"c_custkey" <= 5)
      .withColumn("c_name", concat(lit("upd_"), $"c_name"))
    g.update(target, "customer", delta, "c_custkey")
    assert(Jdbc.read(spark, url, "customer")
      .filter($"c_name".startsWith("upd_")).count() == delta.count())

    // delete tree: customers 1..3 and their orders, children first
    g.deleteTree(target, Seq("customer->orders.o_custkey"), "customer", 1L to 3L)
    assert(Jdbc.read(spark, url, "customer").filter($"c_custkey".between(1, 3)).count() == 0)
    assert(Jdbc.read(spark, url, "orders").filter($"o_custkey".between(1, 3)).count() == 0)
    val total = load("customer").count() - 3
    assert(Jdbc.read(spark, url, "customer").count() == total)
    target.close()
  }

  test("executeSql routes raw statements through the target") {
    val url = freshDb()
    val g = new Graft(spark, sf)
    val target = g.dbTarget(url)
    g.executeSql(target, Seq("CREATE TABLE raw_t (x INT)", "INSERT INTO raw_t VALUES (42)"))
    val c = java.sql.DriverManager.getConnection(url)
    val rs = c.createStatement().executeQuery("SELECT x FROM raw_t")
    rs.next(); assert(rs.getInt(1) == 42); c.close()
  }

  test("production guard blocks dbTarget construction") {
    val g = new Graft(spark, sf)
    intercept[RuntimeException](g.dbTarget("jdbc:derby://prodhost/db"))
  }
}
