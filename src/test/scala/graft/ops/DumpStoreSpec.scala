package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.catalog.SchemaCatalog
import graft.model.Operation._

/** Export → manifest → replay round-trip (SURVEY.md §1.4, §3.2/§3.3). */
class DumpStoreSpec extends SparkSpec {

  test("manifest round-trips all operation kinds") {
    val dir = Files.createTempDirectory("graft-dump").toString
    // every character class esc() rewrites, plus non-ASCII text
    val odd = "q\"uote b\\ack\\slash new\nline ret\rurn tab\t ctl\u0001\u001f é 日本 \uD83D\uDE00"
    val ops = Seq(
      CreateOrReplace("t1", "CREATE TABLE t1 (a INT) USING parquet"),
      SqlList(Seq("SELECT 1", "SELECT 2")),
      TableLoad("t1", "payloads/t1"),
      TableUpsert("t1", "a", "payloads/t1_delta"),
      DeleteByPk("t1", "a", "payloads/t1_del"),
      ConstraintDdl(Seq(s"ALTER TABLE \"$odd\" ADD PRIMARY KEY (a)")),
      CreateOrReplace(s"t$odd", s"CREATE TABLE t ($odd INT)"),
      SqlList(Seq(odd, "", "SELECT '\\'")),
      TableLoad(odd, s"payloads/$odd"),
      TableUpsert("t", s"a,$odd", "payloads/u"),
      DeleteByPk(odd, odd, odd))
    DumpStore.writeManifest(spark, dir, ops)
    assert(DumpStore.readManifest(spark, dir) == ops)

    // lines are ordered by seq, not by position in the file
    val manifest = java.nio.file.Paths.get(dir, "manifest.jsonl")
    val lines = Files.readAllLines(manifest).toArray(Array.empty[String]).toSeq
    Files.write(manifest, lines.reverse.mkString("\n").getBytes("UTF-8"))
    Files.deleteIfExists(java.nio.file.Paths.get(dir, ".manifest.jsonl.crc")) // now stale
    assert(DumpStore.readManifest(spark, dir) == ops)
  }

  test("a malformed manifest line or an unknown op kind fails the read loudly") {
    val dir = Files.createTempDirectory("graft-dump").toString
    val manifest = java.nio.file.Paths.get(dir, "manifest.jsonl")
    def readWith(line: String): String = {
      Files.write(manifest, (
        """{"seq":0,"kind":"table_load","table":"t","payload":"p"}""" + "\n" + line + "\n").getBytes("UTF-8"))
      intercept[IllegalArgumentException](DumpStore.readManifest(spark, dir)).getMessage
    }
    assert(readWith("""{"seq":1,"kind":"drop_everything"}""").contains("Unknown operation kind in manifest: drop_everything"))
    assert(readWith("""{"seq":1,"kind":"table_load","table":"t"""").contains("line 2"))
    assert(readWith("""{"seq":1,"kind":"table_load","table":"t"}""").contains("missing field 'payload'"))
    assert(readWith("""{"seq":1,"kind":"sql_list","statements":"DROP"}""").contains("'statements' must be an array"))
    assert(readWith("""{"seq":"1","kind":"sql_list","statements":[]}""").contains("'seq' must be an integer"))
    assert(readWith("""{"seq":1,"kind":"sql_list","statements":[]} trailing""").contains("line 2"))
  }

  test("exportAll → replay reproduces row multisets (export≡identity property)") {
    val dump = Files.createTempDirectory("graft-dump").toString
    val cat = new SchemaCatalog(spark, sf)
    val tables = Seq("region", "nation", "customer").map(cat.tableDef)
    val order = TopoSort.sort(tables.map(_.name), cat.fkEdges)
    DumpStore.exportAll(spark, load, tables, dump, order)

    val db = s"graft_replay_${System.nanoTime()}"
    DumpStore.replay(spark, dump, Some(db))
    try {
      tables.foreach { t =>
        val got = spark.table(s"$db.${t.name}")
        assert(got.count() == load(t.name).count(), t.name)
        assert(got.exceptAll(load(t.name)).isEmpty && load(t.name).exceptAll(got).isEmpty, t.name)
      }
    } finally {
      spark.catalog.setCurrentDatabase("default")
      spark.sql(s"DROP DATABASE $db CASCADE")
    }
  }

  test("copyTree → replay lands the walked rows in the catalog") {
    val dump = Files.createTempDirectory("graft-dump").toString
    val g = new graft.Graft(spark, sf)
    val target = g.fileTarget(dump)
    g.copyTree(target, Seq("customer->orders.o_custkey"), "customer", 1L to 5L)
    target.close()
    assert(DumpStore.readManifest(spark, dump).map(_.kind) == Seq("table_load", "table_load"))
    val want = Map(
      "customer" -> load("customer").filter(col("c_custkey").between(1, 5)),
      "orders" -> load("orders").filter(col("o_custkey").between(1, 5)))
    val db = s"graft_tree_${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $db")
    try {
      want.keys.foreach(t => spark.sql(DumpStore.ddlFor(s"$db.$t", load(t).schema)))
      DumpStore.replay(spark, dump, Some(db))
      want.foreach { case (t, rows) =>
        val got = spark.table(s"$db.$t")
        assert(got.count() == rows.count(), t)
        assert(got.exceptAll(rows).isEmpty && rows.exceptAll(got).isEmpty, t)
      }
    } finally {
      spark.catalog.setCurrentDatabase("default")
      spark.sql(s"DROP DATABASE $db CASCADE")
    }
  }

  test("a manifest rewrite commits in one step: a failed write leaves the old manifest whole, " +
    "a good one leaves no temp file") {
    val dir = Files.createTempDirectory("graft-dump").toString
    def temps = new java.io.File(dir).list().filter(_.contains(".tmp")).toSeq
    val old = Seq(TableLoad("t", "payloads/t"), DeleteByPk("t", "a", "payloads/d"))
    DumpStore.writeManifest(spark, dir, old)
    assert(temps.isEmpty)
    // the temp path cannot be written: a non-empty directory stands there
    val tmp = java.nio.file.Paths.get(dir, "manifest.jsonl.tmp")
    Files.createDirectories(tmp.resolve("occupied"))
    val next = Seq(SqlList(Seq("SELECT 1")))
    intercept[java.io.IOException](DumpStore.writeManifest(spark, dir, next))
    assert(DumpStore.readManifest(spark, dir) == old)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    DumpStore.writeManifest(spark, dir, next)
    assert(DumpStore.readManifest(spark, dir) == next)
    assert(temps.isEmpty, temps.mkString(", "))
  }

  test("replay executes upsert and delete ops against the catalog") {
    import spark.implicits._
    val dump = Files.createTempDirectory("graft-dump").toString
    val db = s"graft_dml_${System.nanoTime()}"
    (1L to 10L).map(i => (i, s"v$i")).toDF("pk", "v")
      .write.mode("overwrite").parquet(s"$dump/payloads/b")
    (8L to 12L).map(i => (i, s"u$i")).toDF("pk", "v")
      .write.mode("overwrite").parquet(s"$dump/payloads/d")
    (1L to 3L).map(i => Tuple1(i)).toDF("pk")
      .write.mode("overwrite").parquet(s"$dump/payloads/del")
    val ops = Seq(
      CreateOrReplace("tbl", "CREATE TABLE tbl (pk BIGINT, v STRING) USING parquet"),
      TableLoad("tbl", "payloads/b"),
      TableUpsert("tbl", "pk", "payloads/d"),
      DeleteByPk("tbl", "pk", "payloads/del"))
    DumpStore.writeManifest(spark, dump, ops)
    DumpStore.replay(spark, dump, Some(db))
    try {
      val got = spark.table(s"$db.tbl").orderBy("pk").as[(Long, String)].collect()
      assert(got.length == 9) // 10 + 2 new - 3 deleted
      assert(got.head == ((4L, "v4")))
      assert(got.last == ((12L, "u12")))
      assert(got.contains((8L, "u8"))) // updated
    } finally {
      spark.catalog.setCurrentDatabase("default")
      spark.sql(s"DROP DATABASE $db CASCADE")
    }
  }
}
