package perfbench

import java.sql.{DriverManager, SQLException}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{DumpTarget, Graft, SparkEntry, Tables, Target}
import graft.catalog.SchemaCatalog
import graft.ext.Dedup
import graft.model.Operation
import graft.ops.{DumpStore, Jdbc, TopoSort, TreeWalk}
import graft.sources.CorpusIO
import graft.streaming.CurationStream

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, source: String, benchDir: String, spans: String)

/** One measured pass: its wall time, the latency of each unit operation
  * and the rows it landed (or returned, or screened). */
final case class Pass(wall: Double, ops: Seq[Double], rows: Long)

/** Passes every call through to the real target inside a span, which
  * separates payload writes, op application and the manifest from the
  * verb's own walk and checks. Off the traced pass it only delegates. */
final class TracedTarget(inner: Target, tracer: Tracer) extends Target {
  def writePayload(name: String, df: DataFrame): String =
    tracer.span("target.write_payload")(inner.writePayload(name, df))
  def apply(op: Operation): Unit = tracer.span("target.apply")(inner.apply(op))
  def close(): Unit = tracer.span("target.close")(inner.close())
}

object Digest {
  /** Row count and an order-independent checksum (the sum of a 64-bit
    * hash of every row, over the columns in name order). */
  def of(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)"))).head
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}

object Derby {
  def url(name: String): String = s"jdbc:derby:memory:$name;create=true"
  /** Drops an in-memory database; Derby reports success as SQL state 08006. */
  def drop(name: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
    catch { case e: SQLException if e.getSQLState == "08006" => () }
}

/** Bytes and files under a directory. */
object Disk {
  def usage(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        val files = s.filter(java.nio.file.Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        (files.map(java.nio.file.Files.size).sum, files.length.toLong)
      } finally s.close()
    }
  }
}

/** A workload: repeated set-ups, a measured pass of fixed work sized by
  * `--seconds`, checks of the pass's outputs, and its per-layer numbers. */
abstract class Workload(val spark: SparkSession, val opts: Opts,
                        val tracer: Tracer, val report: Report) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Duration of each set-up step, one entry per set-up. */
  val setupSteps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  protected def step[T](name: String)(body: => T): T = {
    val (r, s) = Stats.time(body)
    setupSteps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
    r
  }

  /** Fixture generation and target set-up; timed [[Main.SetupRepeats]] times. */
  def setup(dir: String): Unit
  /** One untimed operation of the measured kind, on the last set-up's state. */
  def warmup(dir: String): Unit
  /** The measured work, then its correctness checks (not timed). */
  def measure(dir: String): Pass
  /** Metrics named by the workload's own vocabulary, from a pass. */
  def passMetrics(p: Pass): Unit = ()
  /** Per-layer metrics from the traced pass's spans. */
  def layerMetrics(): Unit = ()

  /** Graft, TreeWalk, dump and JDBC layer metrics; `walkedRows` gives,
    * for verbs that scan the lake, the rows of the tables they walk. */
  protected def verbLayer(verbs: Seq[String], walkedRows: Map[String, Long]): Unit = {
    val calls = verbs.flatMap(tracer.named)
    if (calls.nonEmpty) {
      report.put("graft.verb_s", Stats.mean(calls.map(_.seconds)), "s", s"mean of n=${calls.length} verb calls")
      report.put("graft.check_s", Stats.mean(calls.map(tracer.selfSeconds)), "s",
        "mean verb time outside Target calls: walk plus checks")
      report.put("graft.jobs", Stats.mean(calls.map(_.spark.jobs.toDouble)), "count", "mean jobs per verb call outside Target calls")
      val scans = calls.filter(c => walkedRows.contains(c.name))
      if (scans.nonEmpty)
        report.put("graft.scan_passes",
          scans.map(c => tracer.subtree(c).inputRecords).sum.toDouble / scans.map(c => walkedRows(c.name)).sum,
          "ratio", "rows read by the verb calls / rows of the tables they walk")
    }
    val walks = tracer.named("treewalk.walk")
    if (walks.nonEmpty) {
      val keys = walkKeys.sum
      report.put("treewalk.walk_s", Stats.mean(walks.map(_.seconds)), "s", "mean direct selectAlongPath plus a key count per selection")
      report.put("treewalk.keys", keys.toDouble / walks.length, "count", "mean keys per walk")
      report.put("treewalk.rows_examined_per_key",
        walks.map(w => tracer.subtree(w).inputRecords).sum.toDouble / math.max(1L, keys), "ratio", "")
    }
    val writes = tracer.named("target.write_payload")
    if (writes.nonEmpty) report.put("dump.write_s", Stats.mean(writes.map(_.seconds)), "s", s"mean of n=${writes.length}")
    val closes = tracer.named("target.close")
    if (closes.nonEmpty) report.put("dump.manifest_s", Stats.mean(closes.map(_.seconds)), "s", "mean manifest write (Target.close)")
    if (dumps.nonEmpty) {
      report.put("dump.bytes", Stats.mean(dumps.map(_._1.toDouble)), "bytes", s"mean of n=${dumps.length} dumps")
      report.put("dump.files", Stats.mean(dumps.map(_._2.toDouble)), "count", "mean files per dump")
    }
    val reads = tracer.named("dump.read_manifest")
    if (reads.nonEmpty) report.put("dump.read_manifest_s", Stats.mean(reads.map(_.seconds)), "s", "")
    val replays = tracer.named("jdbc.replay")
    if (replays.nonEmpty) report.put("jdbc.replay_s", Stats.mean(replays.map(_.seconds)), "s", s"mean of n=${replays.length}")
    JdbcProbe.kinds.filter(_ != "query").foreach { k =>
      report.put(s"jdbc.${k}_s", JdbcProbe.seconds(k), "s", "statement time in the database over the pass")
    }
    report.put("jdbc.append_rows_per_s",
      if (JdbcProbe.seconds("append") > 0) JdbcProbe.rows("append") / JdbcProbe.seconds("append") else 0.0, "rows/s", "")
    report.put("jdbc.rows", JdbcProbe.kinds.filter(_ != "query").map(JdbcProbe.rows).sum.toDouble, "count", "")
    report.put("jdbc.connections", JdbcProbe.connections.sum().toDouble, "count", "")
    report.put("jdbc.failed", JdbcProbe.failed.sum().toDouble, "count", "")
  }

  /** Keys counted by the traced pass's direct walks. */
  protected val walkKeys = mutable.ArrayBuffer.empty[Long]
  /** (bytes, files) of each dump written by the traced pass. */
  protected val dumps = mutable.ArrayBuffer.empty[(Long, Long)]

  protected def walkProbe(lake: String, paths: Seq[String], roots: Seq[Long]): Unit =
    if (tracer.on) span("treewalk.walk") {
      val sels = TreeWalk.selectAlongPath(spark, Tables.load(spark, lake, _), paths,
        SchemaCatalog.walkPks, "customer", roots)
      try walkKeys += sels.map(_.keys.count()).sum
      finally TreeWalk.release(sels)
    }

  /** Notes a dump's size; on the traced pass also times reading its manifest. */
  protected def noteDump(dir: String): Long = {
    val (bytes, files) = Disk.usage(dir)
    if (tracer.on) {
      dumps += ((bytes, files))
      span("dump.read_manifest")(DumpStore.readManifest(spark, dir))
    }
    bytes
  }

  protected var dumpBytes = 0L
}

object Workload {
  val copyTreePaths = Seq("customer->orders.o_custkey", "orders->lineitem.l_orderkey")

  def apply(spark: SparkSession, o: Opts, t: Tracer, r: Report): Workload = o.workload match {
    case "tree_subset" => new TreeSubset(spark, o, t, r)
    case "bulk_copy" => new BulkCopy(spark, o, t, r)
    case "query_suite" => new QuerySuite(spark, o, t, r)
    case "curate_stream" => new CurateStream(spark, o, t, r)
    case w => sys.error(s"unknown workload $w")
  }
}

/** Copy-tree of seeded customer root sets out of a scaled lake into a
  * dump, each dump replayed into embedded Derby. */
final class TreeSubset(spark: SparkSession, opts: Opts, tracer: Tracer, report: Report)
    extends Workload(spark, opts, tracer, report) {
  /** Copies of the sf0.01 star schema in the lake. */
  val scale = 2
  private val walked = Seq("customer", "orders", "lineitem")
  private var lake: String = _
  private var url: String = _
  private var custKeys: Array[Long] = _
  private var graft: Graft = _
  private var setups = 0
  /** Root sets replayed into the current Derby database. */
  private val landed = mutable.ArrayBuffer.empty[Seq[Long]]
  private val exportTimes = mutable.ArrayBuffer.empty[Double]
  private val replayTimes = mutable.ArrayBuffer.empty[Double]

  def setup(dir: String): Unit = {
    setups += 1
    lake = s"$dir/lake"
    step("fixture") {
      Fixture.scaleStar(spark, s"${opts.source}/sf0.01", lake, scale, walked)
      custKeys = spark.read.parquet(s"$lake/customer.parquet").select("c_custkey")
        .collect().map(_.getLong(0))
    }
    graft = new Graft(spark, lake)
    step("target") {
      url = Derby.url(s"tree$setups")
      Jdbc.executeSqlList(url, walked.map(t => Jdbc.ddlFor(t, spark.read.parquet(s"$lake/$t.parquet").schema)))
      landed.clear()
    }
  }

  def warmup(dir: String): Unit = {
    round(Fixture.rootSets(custKeys, opts.seed + 7919, 2).head, s"$dir/warmup-dump")
  }

  /** One root set: copy-tree into a dump, then replay it into Derby. */
  private def round(roots: Seq[Long], dump: String): Double = {
    val (_, exportS) = Stats.time(report.attempt("copy_tree") {
      span("graft.copy_tree") {
        val target = new TracedTarget(new DumpTarget(spark, dump), tracer)
        graft.copyTree(target, Workload.copyTreePaths, "customer", roots)
        target.close()
      }
    })
    val (_, replayS) = Stats.time(report.attempt("replay") {
      span("jdbc.replay")(Jdbc.replay(spark, dump, url))
    })
    landed += roots
    exportTimes += exportS
    replayTimes += replayS
    dumpBytes += noteDump(dump)
    walkProbe(lake, Workload.copyTreePaths, roots)
    exportS + replayS
  }

  def measure(dir: String): Pass = {
    Seq(exportTimes, replayTimes).foreach(_.clear())
    dumpBytes = 0L
    val sets = Fixture.rootSets(custKeys, opts.seed, math.max(4, opts.seconds * 2 / 5))
    val first = landed.length
    val lat = sets.zipWithIndex.map { case (r, j) => round(r, s"$dir/dump$j") }
    val perSet = checkDerby()
    Pass(lat.sum, lat, (first until landed.length).map(perSet.getOrElse(_, 0L)).sum)
  }

  /** Derby holds exactly the closure of every landed root set, computed
    * with plain joins rather than TreeWalk. Returns the closure's rows
    * per root set. */
  private def checkDerby(): Map[Int, Long] = {
    import spark.implicits._
    val roots = landed.zipWithIndex.flatMap { case (s, i) => s.map(k => (i, k)) }.toSeq.toDF("set", "c_custkey")
    val cust = spark.read.parquet(s"$lake/customer.parquet").join(roots, "c_custkey")
    val ord = spark.read.parquet(s"$lake/orders.parquet")
      .join(cust.select($"set", $"c_custkey".as("o_custkey")), "o_custkey")
    val li = spark.read.parquet(s"$lake/lineitem.parquet")
      .join(ord.select($"set", $"o_orderkey".as("l_orderkey")), "l_orderkey")
    Seq("customer" -> cust, "orders" -> ord, "lineitem" -> li).map { case (t, df) =>
      val want = Digest.of(df.drop("set"))
      val got = Digest.of(Jdbc.read(spark, url, t))
      report.check(s"derby $t", want == got, s"closure $want, derby $got")
      df.groupBy("set").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }.reduce((a, b) => (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap)
  }

  override def passMetrics(p: Pass): Unit = {
    report.put("export_s", exportTimes.sum, "s", s"copy-tree calls, n=${exportTimes.length}")
    report.put("replay_s", replayTimes.sum, "s", s"Jdbc.replay calls, n=${replayTimes.length}")
    report.put("dump_bytes", dumpBytes.toDouble, "bytes", "payload plus manifest of every dump")
  }

  override def layerMetrics(): Unit = {
    val rows = walked.map(t => spark.read.parquet(s"$lake/$t.parquet").count()).sum
    verbLayer(Seq("graft.copy_tree"), Map("graft.copy_tree" -> rows))
  }
}

/** Full copy of the star schema into a dump, replayed into an empty
  * Derby database and into a Spark parquet catalog; then a seeded upsert
  * and a seeded delete-tree, both replayed into Derby. */
final class BulkCopy(spark: SparkSession, opts: Opts, tracer: Tracer, report: Report)
    extends Workload(spark, opts, tracer, report) {
  private var lake: String = _
  private var deltaPath: String = _
  private var delRoots: Array[Long] = _
  private var setups = 0
  private var cycles = 0
  private var graftStar: Graft = _
  private var graftWalk: Graft = _
  private val order = TopoSort.sort(Fixture.star, SchemaCatalog.starEdges)
  private var want: Map[String, (Long, java.math.BigDecimal)] = Map.empty
  private var wantCatalog: Map[String, (Long, java.math.BigDecimal)] = Map.empty
  private val exportTimes = mutable.ArrayBuffer.empty[Double]
  private val replayTimes = mutable.ArrayBuffer.empty[Double]

  private def table(t: String): DataFrame = spark.read.parquet(s"$lake/$t.parquet")

  def setup(dir: String): Unit = {
    setups += 1
    // one copy of the sf0.01 star schema: the lake is the source, read in place
    lake = s"${opts.source}/sf0.01"
    deltaPath = s"$dir/delta"
    step("fixture") {
      delRoots = Fixture.deleteRoots(table("customer"), opts.seed)
      Fixture.upsertDelta(table("orders"), opts.seed, delRoots).write.parquet(deltaPath)
    }
    // copy and update use the catalog's declared keys (lineitem has none);
    // delete-tree needs a key on every walked table, so it walks with the
    // lineitem stand-in key
    graftStar = new Graft(spark, lake, SchemaCatalog.starPks)
    graftWalk = new Graft(spark, lake)
    want = Map.empty
    step("target") {
      // the empty database the first cycle replays into
      if (setups > 1) Derby.drop(s"bulk${cycles + 1}")
      Jdbc.executeSqlList(Derby.url(s"bulk${cycles + 1}"), Nil)
    }
  }

  def warmup(dir: String): Unit = {
    val warm = "warmup"
    val small = Seq("region", "nation", "supplier")
    val t = new DumpTarget(spark, s"$dir/warmup-dump")
    graftStar.copy(t, small, order, SchemaCatalog.starEdges)
    t.close()
    Jdbc.replay(spark, s"$dir/warmup-dump", Derby.url(warm))
    DumpStore.replay(spark, s"$dir/warmup-dump", Some(warm))
    spark.catalog.setCurrentDatabase("default")
    Derby.drop(warm)
  }

  private def export(verb: String, dump: String)(body: Target => Unit): Unit = {
    val (_, s) = Stats.time(report.attempt(verb)(span(s"graft.$verb") {
      val t = new TracedTarget(new DumpTarget(spark, dump), tracer)
      body(t)
      t.close()
    }))
    exportTimes += s
    dumpBytes += noteDump(dump)
  }

  private def replay(what: String)(body: => Unit): Unit = {
    val (_, s) = Stats.time(report.attempt(what)(body))
    replayTimes += s
  }

  /** copy -> replay (Derby, catalog) -> update -> replay -> delete-tree -> replay */
  private def cycle(dir: String): Double = {
    cycles += 1
    val db = s"bulk$cycles"
    val url = Derby.url(db)
    val t0 = System.nanoTime()
    export("copy", s"$dir/copy")(graftStar.copy(_, Fixture.star, order, SchemaCatalog.starEdges))
    replay("replay")(span("jdbc.replay")(Jdbc.replay(spark, s"$dir/copy", url)))
    replay("catalog_replay")(span("dump.catalog_replay") {
      DumpStore.replay(spark, s"$dir/copy", Some(db))
      spark.catalog.setCurrentDatabase("default")
    })
    export("update", s"$dir/update")(graftStar.update(_, "orders", spark.read.parquet(deltaPath), "o_orderkey"))
    replay("replay")(span("jdbc.replay")(Jdbc.replay(spark, s"$dir/update", url)))
    export("delete_tree", s"$dir/delete")(graftWalk.deleteTree(_, Workload.copyTreePaths, "customer", delRoots))
    replay("replay")(span("jdbc.replay")(Jdbc.replay(spark, s"$dir/delete", url)))
    val s = (System.nanoTime() - t0) / 1e9
    walkProbe(lake, Workload.copyTreePaths, delRoots)
    check(db, url)
    Derby.drop(db)
    s
  }

  /** Expected contents, from plain DataFrame operations over the lake
    * and the delta: upserted orders replace or join the originals, and
    * the delete-tree removes the root customers, their orders and those
    * orders' line items. */
  private def expected(): Map[String, (Long, java.math.BigDecimal)] = {
    if (want.isEmpty) {
      val delta = spark.read.parquet(deltaPath)
      val gone = table("customer").filter(col("c_custkey").isin(delRoots.toSeq: _*))
      val goneOrders = table("orders").join(gone.select(col("c_custkey").as("o_custkey")), Seq("o_custkey"), "left_semi")
        .select("o_orderkey")
      val after = Map(
        "customer" -> table("customer").join(gone.select("c_custkey"), Seq("c_custkey"), "left_anti"),
        "orders" -> table("orders").join(delta.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          .unionByName(delta).join(goneOrders, Seq("o_orderkey"), "left_anti"),
        "lineitem" -> table("lineitem").join(goneOrders.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_anti"))
      want = Fixture.star.map(t => t -> Digest.of(after.getOrElse(t, table(t)))).toMap
      wantCatalog = Fixture.star.map(t => t -> Digest.of(table(t))).toMap
    }
    want
  }

  private def check(db: String, url: String): Unit = {
    val w = expected()
    Fixture.star.foreach { t =>
      val got = Digest.of(Jdbc.read(spark, url, t))
      report.check(s"derby $t", got == w(t), s"expected ${w(t)}, derby $got")
      val cat = Digest.of(spark.table(s"$db.$t"))
      report.check(s"catalog $t", cat == wantCatalog(t), s"expected ${wantCatalog(t)}, catalog $cat")
    }
  }

  def measure(dir: String): Pass = {
    Seq(exportTimes, replayTimes).foreach(_.clear())
    dumpBytes = 0L
    val n = math.max(1, opts.seconds / 8)
    val lat = (0 until n).map(i => cycle(s"$dir/cycle$i"))
    val landed = wantCatalog.values.map(_._1).sum * 2 + spark.read.parquet(deltaPath).count()
    Pass(lat.sum, lat, landed * n)
  }

  override def passMetrics(p: Pass): Unit = {
    report.put("export_s", exportTimes.sum, "s", s"copy, update and delete-tree calls, n=${exportTimes.length}")
    report.put("replay_s", replayTimes.sum, "s", s"Derby and catalog replays, n=${replayTimes.length}")
    report.put("dump_bytes", dumpBytes.toDouble, "bytes", "payload plus manifest of every dump")
  }

  override def layerMetrics(): Unit = {
    val rows = wantCatalog.values.map(_._1).sum
    verbLayer(Seq("graft.copy", "graft.update", "graft.delete_tree"), Map("graft.copy" -> rows))
    val cat = tracer.named("dump.catalog_replay")
    if (cat.nonEmpty) report.put("dump.catalog_replay_s", Stats.mean(cat.map(_.seconds)), "s", s"mean of n=${cat.length}")
  }
}

/** A fixed sample of the driver's query suite, one count() each, in a
  * seed-shuffled order, each query's row count checked. */
final class QuerySuite(spark: SparkSession, opts: Opts, tracer: Tracer, report: Report)
    extends Workload(spark, opts, tracer, report) {
  private var dataDir: String = _
  /** The pinned sample, in file order: each query's name and its row
    * count over the sf0.01 tables, from `query_sample.tsv`. It is every
    * 32nd query of the suite by name as it stood at 372 queries, so it
    * keeps the suite's mix of operator families. */
  private val pinned: Seq[(String, Long)] = {
    val src = scala.io.Source.fromFile(s"${opts.benchDir}/query_sample.tsv")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split('\t')).map(a => a(0) -> a(1).toLong).toVector
    finally src.close()
  }
  private val expected = pinned.toMap
  private val all = SparkEntry.queries
  private val sample = pinned.map(_._1)
  /** Each query's time: the fastest of its warm traversals. */
  private var times: Seq[Double] = Nil
  private val counts = mutable.LinkedHashMap.empty[String, Long]

  def setup(dir: String): Unit = {
    dataDir = s"$dir/tables"
    step("fixture") {
      Tables.all.foreach { t =>
        val to = java.nio.file.Paths.get(s"$dataDir/$t.parquet")
        java.nio.file.Files.createDirectories(to.getParent)
        java.nio.file.Files.copy(java.nio.file.Paths.get(s"${opts.source}/sf0.01/$t.parquet"), to)
      }
    }
    // the queries' table plans, as the first query of a session loads them
    step("target")(Tables.all.foreach(t => Tables.load(spark, dataDir, t)))
  }

  private lazy val order = new scala.util.Random(opts.seed).shuffle(sample)
  private var coldWall = 0.0

  /** One traversal in the pass's order, which compiles every query's
    * generated code in this JVM. As the warm-up it comes before the
    * reference load, which is then timed right before the timed
    * traversals. */
  def warmup(dir: String): Unit = coldWall = traverse(order, "query.cold").sum

  /** Runs every query of `order` once, checking its row count; returns
    * the query times in that order. */
  private def traverse(order: Seq[String], spanName: String): Seq[Double] = order.map { q =>
    val (n, s) = Stats.time(report.attempt(s"query $q")(span(spanName) {
      val n = all.getOrElse(q, sys.error(s"$q is not in SparkEntry.queries"))(spark, dataDir).count()
      // each query builds its own pinned blocks; drop them as graft.Bench does
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      n
    }))
    counts(q) = n
    report.check(s"count $q", expected(q) == n, s"expected ${expected(q)}, got $n")
    s
  }

  /** Warm traversals in the seed's order; each query's time is the
    * fastest of its [[QuerySuite.WarmTraversals]], as the suite harness
    * takes the fastest of its passes. */
  def measure(dir: String): Pass = {
    val warm = (1 to QuerySuite.WarmTraversals).map(_ => traverse(order, "query"))
    times = warm.transpose.map(_.min)
    // the suite's wall time is the sum of its query times
    Pass(times.sum, times, order.map(counts).sum)
  }

  override def passMetrics(p: Pass): Unit = {
    report.put("query_cold_wall_s", coldWall, "s", "first traversal, the untimed warm-up")
    report.putLatencies("query", times, 97)
  }

  override def layerMetrics(): Unit = {
    val qs = tracer.named("query")
    if (qs.nonEmpty) {
      val n = qs.length.toDouble
      val c = new SparkCounters
      qs.foreach(s => c.add(tracer.subtree(s)))
      val wall = qs.map(_.seconds).sum
      report.put("query.plan_s", c.planMs / 1e3 / n, "s", "mean planning time per query")
      report.put("query.exec_s", (wall - c.planMs / 1e3) / n, "s", "mean query time outside planning")
      report.put("query.jobs", c.jobs / n, "count", "mean per query")
      report.put("query.stages", c.stages / n, "count", "mean per query")
      report.put("query.tasks", c.tasks / n, "count", "mean per query")
      report.put("query.task_s", c.taskMs / 1e3 / n, "s", "mean executor task time per query")
      report.put("query.cpu_s", c.cpuNs / 1e9 / n, "s", "mean executor CPU time per query")
      report.put("query.shuffle_bytes", c.shuffleBytes / n, "bytes", "mean per query")
      report.put("query.spill_bytes", c.spillBytes / n, "bytes", "mean per query")
      report.put("query.gc_s", c.gcMs / 1e3 / n, "s", "mean per query")
      report.put("query.core_busy_share", c.taskMs / 1e3 / (wall * QuerySuite.Cores), "ratio",
        "task time / (query time x cores)")
    }
  }
}

object QuerySuite {
  val Cores = 4
  /** Four: with two, and even three, a burst of host load over all of
    * them made the sum of the 12 query times spread by 0.17-0.23 between
    * runs. */
  val WarmTraversals = 4
}

/** A landing backlog of JSONL drops drained by the curation stream, one
  * drop per micro-batch, screened against a persisted band index. */
final class CurateStream(spark: SparkSession, opts: Opts, tracer: Tracer, report: Report)
    extends Workload(spark, opts, tracer, report) {
  private val bands = 3
  private val rowsPerBand = 2
  val drops: Int = math.max(6, opts.seconds * 3 / 5)
  private var root: String = _
  private var backlog: Fixture.Backlog = _
  private var progress: Seq[StreamingQueryProgress] = Nil
  private var indexRows = 0L
  private var corpusRows = 0L

  def setup(dir: String): Unit = {
    root = dir
    val docs = spark.read.parquet(s"${opts.source}/sf0.1/documents.parquet")
    step("fixture") {
      val all = docs.select("doc_id", "text", "lang", "source").collect().toSeq
        .map(r => Fixture.Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      backlog = Fixture.backlog(all, opts.seed, drops, 0.6)
      Fixture.writeDrops(backlog.drops, s"$dir/landing")
      import spark.implicits._
      docs.join(backlog.indexed.map(_.id).toDF("doc_id"), "doc_id").write.parquet(s"$dir/corpus")
    }
    step("target") {
      Dedup.lshBands(Dedup.minhash(spark.read.parquet(s"$dir/corpus"), bands * rowsPerBand), bands, rowsPerBand)
        .write.parquet(s"$dir/index")
    }
  }

  def warmup(dir: String): Unit = {
    // one screened batch against a scratch index, off the measured state
    import spark.implicits._
    val warmDocs = spark.read.parquet(s"$dir/corpus").limit(200)
    Dedup.lshBands(Dedup.minhash(warmDocs, bands * rowsPerBand), bands, rowsPerBand)
      .write.parquet(s"$dir/warm-index")
    val batch = backlog.drops.head.map(d => (d.id + 50000000L, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    CurationStream.screenBatch(batch, s"$dir/warm-index", s"$dir/warm-corpus", bands, rowsPerBand).count()
  }

  def measure(dir: String): Pass = {
    val before = spark.read.parquet(s"$root/corpus").count()
    val (_, wall) = Stats.time(report.attempt("stream drain")(span("stream.drain") {
      val q = CurationStream.curateStream(
        CorpusIO.readJsonlStream(spark, s"$root/landing", maxFilesPerTrigger = 1),
        s"$root/index", s"$root/corpus", s"$root/checkpoint", bands, rowsPerBand)
      try q.awaitTermination() finally q.stop()
      progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    }))
    val corpus = spark.read.parquet(s"$root/corpus")
    val ids = corpus.select("doc_id").collect().map(_.getLong(0))
    corpusRows = ids.length - before
    indexRows = spark.read.parquet(s"$root/index").count()
    report.attempted += progress.length
    report.check("one batch per drop", progress.length == drops, s"${progress.length} batches for $drops drops")
    report.check("no duplicate doc_id", ids.distinct.length == ids.length,
      s"${ids.length - ids.distinct.length} duplicate ids in the curated corpus")
    val kept = backlog.exactDups.intersect(ids.toSet)
    report.check("exact duplicates dropped", kept.isEmpty, s"kept injected exact duplicates ${kept.take(5)}")
    val inputRows = progress.map(_.numInputRows).sum
    Pass(wall, progress.map(p => ms(p, "triggerExecution") / 1e3), inputRows)
  }

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  override def passMetrics(p: Pass): Unit = {
    report.put("batch_p50_s", Stats.quantile(p.ops, 0.5), "s", s"n=${p.ops.length}")
    report.put("batch_p75_s", Stats.quantile(p.ops, 0.75), "s",
      s"n=${p.ops.length} beyond=${p.ops.count(_ > Stats.quantile(p.ops, 0.75))}")
  }

  override def layerMetrics(): Unit = if (progress.nonEmpty) {
    val n = progress.length.toDouble
    def mean(keys: String*): Double = progress.map(p => keys.map(ms(p, _)).sum).sum / 1e3 / n
    val input = progress.map(_.numInputRows).sum
    report.put("stream.batches", n, "count")
    report.put("stream.add_batch_s", mean("addBatch"), "s", "mean per batch")
    report.put("stream.latest_offset_s", mean("latestOffset"), "s", "mean per batch")
    report.put("stream.commit_s", mean("walCommit", "commitOffsets"), "s", "mean per batch")
    report.put("stream.planning_s", mean("queryPlanning"), "s", "mean per batch")
    report.put("stream.input_rows", input.toDouble, "count")
    report.put("stream.dropped_rows", (input - corpusRows).toDouble, "count")
    report.put("stream.survival_ratio", corpusRows.toDouble / math.max(1L, input), "ratio", "rows appended / input rows")
    report.put("stream.index_rows", indexRows.toDouble, "count")
  }
}
