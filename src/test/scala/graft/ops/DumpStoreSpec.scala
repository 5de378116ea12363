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

  test("exportSelections enforces the cardinality invariant and replays") {
    val dump = Files.createTempDirectory("graft-dump").toString
    val sels = TreeWalk.selectAlongPath(
      spark, load, Seq("customer->orders.o_custkey"), SchemaCatalog.walkPks, "customer", 1L to 5L)
    val ops = DumpStore.exportSelections(spark, sels, dump)
    assert(ops.map(_.kind).forall(_ == "table_load"))
    val expected = load("orders").filter(col("o_custkey").between(1, 5)).count()
    assert(spark.read.parquet(s"$dump/payloads/orders_1").count() == expected)
  }

  test("exportSelections: a selected key with no rows raises the invariant before any payload lands") {
    import spark.implicits._
    val dump = Files.createTempDirectory("graft-dump").toString
    val rows = load("orders").filter(col("o_custkey").between(1, 5))
    val n = rows.count()
    val keys = rows.select("o_orderkey").union(Seq(-1L).toDF("o_orderkey"))
    val sel = graft.model.Selection("orders", Seq("o_orderkey"), keys, rows)
    val e = intercept[RuntimeException](DumpStore.exportSelections(spark, Seq(sel), dump))
    assert(e.getMessage.contains(s"Only $n of ${n + 1} keys copied for orders"))
    assert(!Files.exists(java.nio.file.Paths.get(dump, "payloads")))
    assert(!Files.exists(java.nio.file.Paths.get(dump, "manifest.jsonl")))
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
