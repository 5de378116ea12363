package graft

import java.nio.file.Files

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.model.Operation
import graft.model.Operation._
import graft.catalog.SchemaCatalog
import graft.ops.{DumpStore, Jdbc, LevelWriter, PathDsl, TreeWalk}

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

    // deleteTree builds no cache at all: its key levels are held on the
    // driver, and its payloads are local frames of those keys
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var built = 0
    val delTarget = spy(g.fileTarget(Files.createTempDirectory("graft-dump").toString)) { (_, df) =>
      df.count()
      built = built max (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    }
    g.deleteTree(delTarget, Seq("customer->orders.o_custkey"), "customer", 1L to 5L)
    delTarget.close()
    assert(built == 0, s"deleteTree built $built caches, expected none")
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

  test("copyTree runs one Spark job per walked level outside its payload writes") {
    val walked = Seq("customer", "orders", "lineitem")
    walked.foreach(t => load(t)) // the loader's plans, and their schema reads, exist already
    val sc = spark.sparkContext
    val phase = "graft.spec.phase"
    val walkJobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(phase) == "walk")) walkJobs.incrementAndGet()
    }
    val g = new Graft(spark, sf)
    val inner = g.fileTarget(Files.createTempDirectory("graft-dump").toString)
    val target = new Target {
      def writePayload(name: String, df: DataFrame): String = {
        sc.setLocalProperty(phase, "write")
        try inner.writePayload(name, df) finally sc.setLocalProperty(phase, "walk")
      }
      def apply(op: Operation): Unit = inner.apply(op)
      def close(): Unit = inner.close()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(phase, "walk")
      val sels = try g.copyTree(target, Seq("customer->orders.o_custkey", "orders->lineitem.l_orderkey"),
          "customer", 1L to 10L)
        finally sc.setLocalProperty(phase, null)
      target.close()
      ListenerBusDrain(sc)
      assert(sels.map(_.table) == walked)
    } finally sc.removeSparkListener(listener)
    assert(walkJobs.get == walked.length,
      s"${walkJobs.get} jobs outside payload writes for ${walked.length} levels")
  }

  /** Row count and the sum of every row's xxhash64, columns in name order. */
  private def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.sorted.toIndexedSeq.map(col): _*).cast("decimal(38,0)"))).head
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Root sets and paths for the driver-held walk against the lazy one:
    * a plain range, absent ids, duplicated ids, none, and a path that
    * reaches lineitem twice (through orders and through supplier), from
    * nations without suppliers and from nations with some. */
  private val treeCases: Seq[(String, Seq[String], String, Seq[Long])] = {
    val toLineitem = Seq("customer->orders.o_custkey", "orders->lineitem.l_orderkey")
    val twice = Seq("nation->customer.c_nationkey", "nation->supplier.s_nationkey",
      "customer->orders.o_custkey", "orders->lineitem.l_orderkey", "supplier->lineitem.l_suppkey")
    Seq(
      ("1..10", toLineitem, "customer", 1L to 10L),
      ("absent ids", toLineitem, "customer", Seq(-7L, 999999999L)),
      ("duplicated ids", toLineitem, "customer", Seq(3L, 3L, 5L, 5L, 5L, 8L)),
      ("no ids", toLineitem, "customer", Nil),
      ("lineitem twice, suppliers", twice, "nation", Seq(1L, 3L)),
      ("lineitem twice", twice, "nation", Seq(1L, 4L)))
  }

  /** The lazy walk as plain joins, the reference for the held one: the
    * root's rows by id, then, per edge, the child `left_semi`-joined to
    * every row its parent table has reached so far. (table, rows) per
    * level. */
  private def lazyWalk(paths: Seq[String], root: String, ids: Seq[Long],
                       pks: Map[String, Seq[String]] = SchemaCatalog.walkPks.map { case (t, c) => t -> Seq(c) })
      : Seq[(String, DataFrame)] = {
    val rootRows = load(root).filter(col(pks(root).head).isin(ids: _*))
    val reached = scala.collection.mutable.Map(root -> rootRows)
    (root -> rootRows) +: PathDsl.parseAllComposite(paths, pks).map { e =>
      val (child, parent) = (load(e.childTable), reached(e.parentTable))
      val rows = child.join(parent, child(e.childColumn) === parent(e.parentColumn), "left_semi")
      reached(e.childTable) = reached.get(e.childTable).fold(rows)(_.union(rows))
      e.childTable -> rows
    }
  }

  /** copyTree into a dump; each payload's digest must equal that of the
    * lazy walk's rows for the same level, and each level's keys the
    * distinct keys of those rows. */
  private def matchesLazyWalk(paths: Seq[String], root: String, ids: Seq[Long]): Unit = {
    val dump = Files.createTempDirectory("graft-dump").toString
    val target = g0.fileTarget(dump)
    val sels = g0.copyTree(target, paths, root, ids)
    target.close()
    val want = lazyWalk(paths, root, ids)
    assert(sels.map(_.table) == want.map(_._1))
    want.zip(sels).zipWithIndex.foreach { case (((table, rows), got), i) =>
      assert(digest(spark.read.parquet(s"$dump/payloads/${table}_$i")) == digest(rows), s"level $i ($table)")
      assert(got.keys.count() == rows.select(got.columns.map(col): _*).distinct().count(), s"level $i ($table) keys")
    }
  }
  private lazy val g0 = new Graft(spark, sf)

  test("copyTree payloads equal the lazy walk's rows: range, absent, duplicated and no ids, a table reached twice") {
    treeCases.foreach { case (name, paths, root, ids) =>
      withClue(s"$name: ")(matchesLazyWalk(paths, root, ids))
    }
  }

  test("copyTree does not depend on the broadcast threshold: off (-1) or tiny, it matches the lazy walk") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    try Seq("-1", "8b").foreach { threshold =>
      spark.conf.set(key, threshold)
      treeCases.foreach { case (name, paths, root, ids) =>
        withClue(s"threshold $threshold, $name: ")(matchesLazyWalk(paths, root, ids))
      }
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the composite walk's lineitem keys are the plain joins' (l_orderkey, l_linenumber) pairs") {
    val (_, paths, root, ids) = treeCases.head
    val pks = SchemaCatalog.compositeWalkPks
    val got = TreeWalk.walkHeld(load, paths, pks, root, ids)(TreeWalk.collectOnly).last
    assert(got.table == "lineitem" && got.columns == Seq("l_orderkey", "l_linenumber"))
    val want = lazyWalk(paths, root, ids, pks).last._2.select("l_orderkey", "l_linenumber").distinct().collect()
    assert(want.nonEmpty && got.keys.size == want.length)
    assert(got.keys.toDF(spark).collect().toSet == want.toSet)
  }

  test("a walked level whose keys outgrow spark.driver.maxResultSize fails loudly, naming the setting") {
    // every customer: their keys fit in 8 KiB, their orders' keys (about
    // 14 serialized bytes each) do not
    val ids = load("customer").select("c_custkey").collect().map(_.getLong(0)).toSeq
    val paths = Seq("customer->orders.o_custkey")
    val done = Seq.newBuilder[String]
    def walk() = g0.copyTree(g0.fileTarget(Files.createTempDirectory("graft-dump").toString), paths, "customer", ids,
      l => done += l.table)
    val e = intercept[org.apache.spark.SparkException] {
      org.apache.spark.DriverConf.withValue(spark.sparkContext, "spark.driver.maxResultSize", "8k")(walk())
    }
    assert(e.getMessage.contains("spark.driver.maxResultSize"), e.getMessage)
    assert(done.result() == Seq("customer"), "the walk must stop at the orders level")
    assert(walk().map(_.table) == Seq("customer", "orders"), "within the setting the walk completes")
  }

  /** Each manifest line of a dump: kind, table, pk, payload and the
    * payload's recorded schema. */
  private def manifestLines(dump: String): Seq[(String, String, String, String, Option[String])] = {
    val (ops, schemas) = DumpStore.readEntries(spark, dump)
    ops.map {
      case TableLoad(t, p) => ("table_load", t, "", p, schemas.get(p).map(_.json))
      case DeleteByPk(t, pk, p) => ("delete_by_pk", t, pk, p, schemas.get(p).map(_.json))
      case op => sys.error(s"unexpected op $op")
    }
  }

  test("copyTree and deleteTree write the ops, order, schemas and payload digests of the sequential walk") {
    // nation → customer/supplier → orders → lineitem reaches lineitem
    // twice; the payload names number the levels as the sequential verbs
    // did: walk order for copy-tree, child-first for delete-tree
    val pks = SchemaCatalog.walkPks
    Seq(
      (treeCases.last._2, "nation", Seq(1L, 3L), Seq("nation", "customer", "supplier", "orders", "lineitem", "lineitem")),
      (Seq("customer->orders.o_custkey"), "customer", 1L to 3L, Seq("customer", "orders"))
    ).foreach { case (paths, root, ids, tables) => withClue(s"${tables.mkString(",")}: ") {
      val want = lazyWalk(paths, root, ids)
      assert(want.map(_._1) == tables)
      val copyDump = Files.createTempDirectory("graft-dump").toString
      val copyTarget = g0.fileTarget(copyDump)
      g0.copyTree(copyTarget, paths, root, ids)
      copyTarget.close()
      assert(manifestLines(copyDump) == tables.zipWithIndex.map { case (t, i) =>
        ("table_load", t, "", s"payloads/${t}_$i", Some(load(t).schema.toNullable.json))
      })
      want.zipWithIndex.foreach { case ((t, rows), i) =>
        assert(digest(spark.read.parquet(s"$copyDump/payloads/${t}_$i")) == digest(rows), s"copy level $i")
      }

      val delDump = Files.createTempDirectory("graft-dump").toString
      val delTarget = g0.fileTarget(delDump)
      g0.deleteTree(delTarget, paths, root, ids)
      delTarget.close()
      assert(manifestLines(delDump) == tables.reverse.zipWithIndex.map { case (t, i) =>
        val pk = pks(t)
        ("delete_by_pk", t, pk, s"payloads/del_${t}_$i",
          Some(org.apache.spark.sql.types.StructType(Seq(load(t).schema(pk))).toNullable.json))
      })
      want.reverse.zipWithIndex.foreach { case ((t, rows), i) =>
        assert(digest(spark.read.parquet(s"$delDump/payloads/del_${t}_$i")) == digest(rows.select(pks(t)).distinct()),
          s"delete level ${tables.length - 1 - i}")
      }
    }}
  }

  test("a payload write that fails at level 1 ends copyTree: rethrown, nothing left pinned, no later op, no writer thread") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val applied = scala.collection.mutable.ArrayBuffer.empty[Operation]
    val boom = new IllegalStateException("payload store is full")
    val inner = g0.fileTarget(Files.createTempDirectory("graft-dump").toString)
    val target = new Target {
      def writePayload(name: String, df: DataFrame): String =
        if (name == "orders_1") throw boom else inner.writePayload(name, df)
      def apply(op: Operation): Unit = applied += op
      def close(): Unit = inner.close()
    }
    val e = intercept[IllegalStateException] {
      g0.copyTree(target, Seq("customer->orders.o_custkey", "orders->lineitem.l_orderkey"), "customer", 1L to 10L)
    }
    assert(e eq boom)
    assert(sc.getPersistentRDDs.keySet -- before == Set.empty, "a pinned level outlived the failed call")
    assert(applied.toSeq == Seq(TableLoad("customer", "payloads/customer_0")))
    val writers = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.getName == LevelWriter.ThreadName && t.isAlive)
    assert(writers.isEmpty, s"${writers.length} writer threads alive")
  }

  test("copyTree pins at most two levels at once: a level's hand-over waits for the previous write") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pinned = scala.collection.mutable.ArrayBuffer.empty[Int]
    val inner = g0.fileTarget(Files.createTempDirectory("graft-dump").toString)
    val target = new Target {
      def writePayload(name: String, df: DataFrame): String = {
        // a slow first write: the walk runs ahead as far as it may
        if (name == "customer_0") Thread.sleep(1500)
        pinned += (sc.getPersistentRDDs.keySet -- before).size
        inner.writePayload(name, df)
      }
      def apply(op: Operation): Unit = inner.apply(op)
      def close(): Unit = inner.close()
    }
    g0.copyTree(target, Seq("customer->orders.o_custkey", "orders->lineitem.l_orderkey"), "customer", 1L to 10L)
    assert(pinned.length == 3)
    assert(pinned.max <= 2, s"levels pinned at each write: ${pinned.mkString(", ")}")
  }

  test("the payload writes carry the caller's job group") {
    val sc = spark.sparkContext
    val group = "graft-spec-copy-tree"
    val writeGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val writeThreads = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val phase = "graft.spec.phase"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(phase) == "write"))
          writeGroups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val inner = g0.fileTarget(Files.createTempDirectory("graft-dump").toString)
    val target = new Target {
      def writePayload(name: String, df: DataFrame): String = {
        writeThreads.add(Thread.currentThread.getName)
        sc.setLocalProperty(phase, "write")
        try inner.writePayload(name, df) finally sc.setLocalProperty(phase, null)
      }
      def apply(op: Operation): Unit = inner.apply(op)
      def close(): Unit = inner.close()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "copy-tree under a caller's job group")
      try g0.copyTree(target, Seq("customer->orders.o_custkey", "orders->lineitem.l_orderkey"), "customer", 1L to 10L)
      finally sc.clearJobGroup()
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(writeThreads.toArray.toSeq == Seq.fill(3)(LevelWriter.ThreadName))
    assert(!writeGroups.isEmpty, "no write job seen")
    assert(writeGroups.toArray.forall(_ == group), s"write jobs in groups ${writeGroups.toArray.distinct.mkString(", ")}")
  }

  /** A three-level copy-tree dump and a Derby database with its tables. */
  private def treeDumpAndDb(): (String, String) = {
    val dump = Files.createTempDirectory("graft-dump").toString
    val target = g0.fileTarget(dump)
    g0.copyTree(target, Seq("customer->orders.o_custkey", "orders->lineitem.l_orderkey"), "customer", 1L to 10L)
    target.close()
    val url = freshDb()
    Jdbc.executeSqlList(url, Seq("customer", "orders", "lineitem").map(t => Jdbc.ddlFor(t, load(t).schema)))
    (dump, url)
  }

  private def payloadRows(dump: String): Map[String, Long] =
    Seq("customer_0", "orders_1", "lineitem_2").map { p =>
      p.takeWhile(_ != '_') -> spark.read.parquet(s"$dump/payloads/$p").count()
    }.toMap

  test("Jdbc.replay of a three-load dump runs three jobs: payloads are read with their recorded schemas") {
    val (dump, url) = treeDumpAndDb()
    val (ops, schemas) = DumpStore.readEntries(spark, dump)
    assert(ops.map(_.kind) == Seq.fill(3)("table_load"))
    assert(schemas.keySet == Set("payloads/customer_0", "payloads/orders_1", "payloads/lineitem_2"))
    assert(schemas("payloads/orders_1") == spark.read.parquet(s"$dump/payloads/orders_1").schema)
    val jobs = replayJobs(dump, url)
    assert(jobs == 3, s"replay ran $jobs jobs for 3 loads")
    payloadRows(dump).foreach { case (t, n) => assert(Jdbc.read(spark, url, t).count() == n, t) }
  }

  /** Spark jobs `Jdbc.replay` of `dump` into `url` runs. */
  private def replayJobs(dump: String, url: String): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      Jdbc.replay(spark, dump, url)
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("a manifest without payload schemas (the older format) replays in three jobs: schemas come from the payload footers") {
    val (dump, url) = treeDumpAndDb()
    DumpStore.writeManifest(spark, dump, DumpStore.readManifest(spark, dump))
    val manifest = new String(Files.readAllBytes(java.nio.file.Paths.get(dump, "manifest.jsonl")), "UTF-8")
    assert(!manifest.contains("\"schema\""))
    val jobs = replayJobs(dump, url)
    assert(jobs == 3, s"replay ran $jobs jobs for 3 loads")
    payloadRows(dump).foreach { case (t, n) => assert(Jdbc.read(spark, url, t).count() == n, t) }
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
