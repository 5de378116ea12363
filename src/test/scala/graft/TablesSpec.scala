package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.catalog.SchemaCatalog

/** `Tables.schemaOf` and `Tables.parquet` against Spark's own schema
  * inference: the same schema, with no Spark job. */
class TablesSpec extends SparkSpec {

  private val testdata = new java.io.File(sf).getParent

  private def inferred(paths: String*) = spark.read.parquet(paths: _*).schema

  private def assertSameAsInference(paths: String*): Unit = {
    val want = inferred(paths: _*)
    assert(Tables.schemaOf(spark, paths: _*) == want, paths.mkString(","))
    assert(Tables.parquet(spark, paths: _*).schema == want, paths.mkString(","))
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("schemaOf equals inference on every fixture table at sf0.001, sf0.01 and sf0.1") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    for (dir <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- Tables.all)
      assertSameAsInference(s"$testdata/$dir/$t.parquet")
  }

  test("schemaOf equals inference on a multi-file directory with _SUCCESS and .crc files") {
    val dir = tmp("graft-tables-multi") + "/t"
    spark.range(200).selectExpr("id", "cast(id % 7 as int) as k", "concat('v', id) as s")
      .repartition(4).write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) == 4)
    assertSameAsInference(dir)
    // two paths at once, as DeltaLog reads checkpoint parts
    val parts = names.filter(_.endsWith(".parquet")).sorted.map(n => s"$dir/$n")
    assertSameAsInference(parts: _*)
  }

  test("summary files: _common_metadata first, then _metadata, as Spark's inference picks") {
    val root = tmp("graft-tables-summary")
    def onePart(dir: String, cols: String*): java.nio.file.Path = {
      spark.range(3).selectExpr(cols: _*).coalesce(1).write.parquet(dir)
      new java.io.File(dir).listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    }
    val dir = s"$root/t"
    onePart(dir, "id", "id * 2 as b")
    Files.copy(onePart(s"$root/m", "id as m"), java.nio.file.Paths.get(s"$dir/_metadata"))
    assertSameAsInference(dir)
    assert(Tables.schemaOf(spark, dir).fieldNames.toSeq == Seq("m"))
    Files.copy(onePart(s"$root/c", "id as c"), java.nio.file.Paths.get(s"$dir/_common_metadata"))
    assertSameAsInference(dir)
    assert(Tables.schemaOf(spark, dir).fieldNames.toSeq == Seq("c"))
  }

  test("schemaOf appends a partitionBy directory's partition column, as inference does") {
    val dir = tmp("graft-tables-part") + "/t"
    spark.range(50).selectExpr("id", "cast(id % 3 as int) as k", "cast(id % 2 as string) as __cell")
      .write.partitionBy("k", "__cell").parquet(dir)
    assertSameAsInference(dir)
    assert(Tables.schemaOf(spark, dir).fieldNames.toSeq == Seq("id", "k", "__cell"))
  }

  test("two appends with different columns: the first file by path wins, as in Spark") {
    val dir = tmp("graft-tables-evolved") + "/t"
    spark.range(5).selectExpr("id", "id * 2 as b").write.mode("append").parquet(dir)
    spark.range(5).selectExpr("id", "concat('c', id) as c").write.mode("append").parquet(dir)
    val first = new java.io.File(dir).list().filter(n => n.startsWith("part-")).min
    assert(inferred(s"$dir/$first") == inferred(dir))
    assertSameAsInference(dir)
  }

  test("with mergeSchema set, schemaOf returns Spark's merged schema") {
    val dir = tmp("graft-tables-merge") + "/t"
    spark.range(5).selectExpr("id", "id * 2 as b").write.mode("append").parquet(dir)
    spark.range(5).selectExpr("id", "concat('c', id) as c").write.mode("append").parquet(dir)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assertSameAsInference(dir)
      assert(Tables.schemaOf(spark, dir).fieldNames.toSet == Set("id", "b", "c"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a streaming sink's output is read through its metadata log, as Spark does") {
    val root = tmp("graft-tables-sink")
    spark.range(10).selectExpr("id", "concat('v', id) as v").write.parquet(s"$root/landing")
    spark.readStream.schema(inferred(s"$root/landing")).parquet(s"$root/landing")
      .writeStream.format("parquet")
      .option("path", s"$root/sink").option("checkpointLocation", s"$root/ck")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    // a file the log never committed, first by path, with other columns
    spark.range(1).selectExpr("id as other").coalesce(1).write.parquet(s"$root/stray")
    val stray = new java.io.File(s"$root/stray").list().find(_.endsWith(".parquet")).get
    Files.copy(java.nio.file.Paths.get(s"$root/stray/$stray"),
      java.nio.file.Paths.get(s"$root/sink/0-stray.parquet"))
    assertSameAsInference(s"$root/sink")
    assert(Tables.schemaOf(spark, s"$root/sink").fieldNames.toSeq == Seq("id", "v"))
  }

  test("a directory without files fails with Spark's own error") {
    val dir = tmp("graft-tables-empty")
    val want = intercept[AnalysisException](spark.read.parquet(dir))
    val got = intercept[AnalysisException](Tables.parquet(spark, dir))
    assert(got.getMessage == want.getMessage)
    assert(intercept[AnalysisException](Tables.schemaOf(spark, dir)).getMessage == want.getMessage)
  }

  test("a cold Tables.load of the ten tables and SchemaCatalog.tableDefs run no Spark job") {
    val dir = s"$testdata/sf0.01"
    // a fresh session: Tables' plan cache is per session, so every load is cold
    val cold: SparkSession = spark.newSession()
    assert(jobsDuring(Tables.all.foreach(Tables.load(cold, dir, _))) == 0)
    var defs = Seq.empty[model.TableDef]
    assert(jobsDuring { defs = new SchemaCatalog(cold, dir).tableDefs } == 0)
    assert(defs.map(_.name) == Tables.all.sorted)
    defs.foreach(d => assert(d.schema == inferred(s"$dir/${d.name}.parquet"), d.name))
    // the counter sees the job a schema-less read runs
    assert(jobsDuring(cold.read.parquet(s"$dir/region.parquet")) == 1)
  }
}
