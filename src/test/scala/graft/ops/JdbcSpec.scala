package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.Operation._

/** JDBC source/sink path against embedded Derby — the live-database
  * half of the reference (ExecuteTarget / import): DDL generation,
  * batched append, update-else-insert upsert, batched delete, S9
  * statement execution, and full dump→database replay.
  */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  private def freshDb(): String = {
    val d = Files.createTempDirectory("graft-derby").toString
    s"jdbc:derby:$d/db;create=true"
  }

  def base = (1L to 100L).map(i => (i, s"a$i", i.toDouble)).toDF("pk", "a", "b")

  test("ddl + append + read round-trip") {
    val url = freshDb()
    Jdbc.executeSqlList(url, Seq(Jdbc.ddlFor("t1", base.schema)))
    Jdbc.append(base, url, "t1")
    val back = Jdbc.read(spark, url, "t1")
    assert(back.count() == 100)
    assert(back.exceptAll(base).isEmpty)
  }

  test("keyed read pushes the predicate to the database") {
    val url = freshDb()
    Jdbc.executeSqlList(url, Seq(Jdbc.ddlFor("t2", base.schema)))
    Jdbc.append(base, url, "t2")
    val got = Jdbc.readKeyed(spark, url, "t2", "pk", Seq(1L, 5L, 7L))
    assert(got.count() == 3)
    val pushed = got.queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters") || pushed.contains("pk"))
  }

  test("partitioned read splits the scan into parallel range cursors") {
    val url = freshDb()
    Jdbc.executeSqlList(url, Seq(Jdbc.ddlFor("tp", base.schema)))
    Jdbc.append(base, url, "tp")
    val got = Jdbc.readPartitioned(spark, url, "tp", "pk", 1L, 100L, 4)
    assert(got.rdd.getNumPartitions == 4)
    assert(got.count() == 100)
    assert(got.exceptAll(base).isEmpty)
  }

  test("upsert: overlap updated, new inserted, 0/1-row invariant holds (FIXTURES.md §C)") {
    val url = freshDb()
    Jdbc.executeSqlList(url, Seq(Jdbc.ddlFor("t3", base.schema)))
    Jdbc.append(base, url, "t3")
    val delta = (51L to 150L).map(i => (i, s"new$i", i * 2.0)).toDF("pk", "a", "b")
    Jdbc.upsert(delta, url, "t3", "pk")
    val back = Jdbc.read(spark, url, "t3").cache()
    assert(back.count() == 150)
    assert(back.filter($"pk" === 60L && $"a" === "new60").count() == 1)
    assert(back.filter($"pk" === 10L && $"a" === "a10").count() == 1)
  }

  test("deleteByPk removes exactly the keyed rows in batches") {
    val url = freshDb()
    Jdbc.executeSqlList(url, Seq(Jdbc.ddlFor("t4", base.schema)))
    Jdbc.append(base, url, "t4")
    Jdbc.deleteByPk((1L to 25L).toDF("pk"), url, "t4", "pk")
    val back = Jdbc.read(spark, url, "t4")
    assert(back.count() == 75)
    assert(back.agg(min($"pk")).as[Long].head() == 26L)
  }

  test("executeFromQuery runs column-1 statements; ignoreExceptions swallows failures (S9)") {
    val url = freshDb()
    Jdbc.executeSqlList(url, Seq(
      "CREATE TABLE stmts (s VARCHAR(200))",
      "INSERT INTO stmts VALUES ('CREATE TABLE made1 (x INT)')",
      "INSERT INTO stmts VALUES ('CREATE TABLE made2 (x INT)')"))
    val n = Jdbc.executeFromQuery(url, "SELECT s FROM stmts", ignoreExceptions = false)
    assert(n == 2)
    Jdbc.executeSqlList(url, Seq("INSERT INTO stmts VALUES ('THIS IS NOT SQL')"))
    // strict mode raises, wrapped with the offending statement
    val e = intercept[RuntimeException](
      Jdbc.executeFromQuery(url, "SELECT s FROM stmts", ignoreExceptions = false))
    assert(e.getMessage.contains("Failed executing"))
    // lenient mode executes the good ones (tables exist now → they fail too,
    // so only count survivors of a fresh statement set)
    val n2 = Jdbc.executeFromQuery(url, "SELECT s FROM stmts WHERE s = 'THIS IS NOT SQL'", ignoreExceptions = true)
    assert(n2 == 0)
  }

  test("production guard refuses prod-looking URLs unless overridden (F6)") {
    val e = intercept[RuntimeException](
      Jdbc.guardProduction("jdbc:derby://prod-db-1/app"))
    assert(e.getMessage.contains("production"))
    Jdbc.guardProduction("jdbc:derby://prod-db-1/app", allowProduction = true)
    Jdbc.guardProduction("jdbc:derby:/tmp/dev/db")
  }

  test("constraints: exportAll emits tables→data→constraints; JDBC replay applies them; " +
    "fromJdbc rediscovers the graph and drives a copy-tree (S5/S6/J2 live path)") {
    import graft.catalog.SchemaCatalog
    import graft.model.{FkEdge, TableDef}
    val url = freshDb()
    val dump = Files.createTempDirectory("graft-dump").toString
    val region = load("region"); val nation = load("nation")
    val defs = Seq(
      TableDef("region", region.schema, Some("r_regionkey")),
      TableDef("nation", nation.schema, Some("n_nationkey")))
    val edge = FkEdge("fk_nation_region", "region", "r_regionkey", "nation", "n_regionkey")
    val ops = DumpStore.exportAll(spark, load, defs, dump,
      order = Seq("region", "nation"), edges = Seq(edge))
    // emission order: all DDL, then all loads, then the constraint tail
    assert(ops.map(_.kind) ==
      Seq("create_or_replace", "create_or_replace", "table_load", "table_load", "constraint_ddl"))
    // manifest round-trip preserves the constraint op
    assert(DumpStore.readManifest(spark, dump).map(_.kind) == ops.map(_.kind))

    Jdbc.replay(spark, dump, url)

    // discovered — not injected — catalog
    val cat = SchemaCatalog.fromJdbc(url)
    assert(cat.tables == Seq("nation", "region"))
    assert(cat.primaryKeys == Map("region" -> "r_regionkey", "nation" -> "n_nationkey"))
    assert(cat.fkEdges == Seq(edge))

    // F3 tail: the FK child column got a secondary index; PK columns
    // did not get a duplicate one (constraint-backed indexes excluded)
    val stmts = ops.collect { case graft.model.Operation.ConstraintDdl(s) => s }.flatten
    assert(stmts.exists(_.startsWith("""CREATE INDEX "ix_nation_n_regionkey"""")))
    assert(!stmts.exists(_.contains("""ix_region_r_regionkey""")))
    // end state: the FK column is indexed (Derby silently dedups our
    // CREATE INDEX against the index it auto-creates for the FK
    // constraint — SQLSTATE 01504 — so assert on the column, not the
    // index name)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getIndexInfo(null, null, "nation", false, false)
      val idxCols = scala.collection.mutable.Set.empty[String]
      while (rs.next()) Option(rs.getString("COLUMN_NAME")).foreach(idxCols += _)
      rs.close()
      assert(idxCols.contains("n_regionkey"), s"indexed columns on nation: $idxCols")
    } finally conn.close()

    // the discovered graph drives the same TreeWalk over the live db
    val loader = (t: String) => Jdbc.read(spark, url, t)
    val rootKeys = load("region").filter($"r_regionkey" <= 1).select("r_regionkey")
    val sels = TreeWalk.walkLinked(loader, cat.fkEdges, cat.primaryKeys,
      Map("region" -> rootKeys), cache = false)
    assert(sels.map(_.table) == Seq("nation"))
    val expected = load("nation").filter($"n_regionkey" <= 1).count()
    assert(expected > 0 && sels.head.keys.count() == expected)
  }

  test("a failed upsert or delete batch surfaces the database's FK error, not a close failure") {
    val url = freshDb()
    Jdbc.executeSqlList(url, Seq(
      """CREATE TABLE "par" ("id" BIGINT NOT NULL PRIMARY KEY)""",
      """CREATE TABLE "kid" ("id" BIGINT NOT NULL PRIMARY KEY, "par_id" BIGINT,
        | CONSTRAINT "fk_kid_par" FOREIGN KEY ("par_id") REFERENCES "par" ("id"))"""
        .stripMargin.replace("\n", "")))
    Jdbc.append(Seq(1L).toDF("id"), url, "par")
    Jdbc.append(Seq((1L, 1L)).toDF("id", "par_id"), url, "kid")
    def causes(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    // insert path of the upsert: kid 2 points at a parent that does not exist
    val up = causes(intercept[Exception] {
      Jdbc.upsert(Seq((2L, 99L)).toDF("id", "par_id"), url, "kid", "id")
    })
    assert(up.contains("foreign key constraint 'fk_kid_par'"), up)
    assert(!up.contains("Cannot close a connection"), up)
    // delete of a referenced parent
    val del = causes(intercept[Exception] {
      Jdbc.deleteByPk(Seq(1L).toDF("id"), url, "par", "id")
    })
    assert(del.contains("foreign key constraint 'fk_kid_par'"), del)
    assert(!del.contains("Cannot close a connection"), del)
    // both batches rolled back: nothing landed, nothing went
    assert(Jdbc.read(spark, url, "kid").count() == 1)
    assert(Jdbc.read(spark, url, "par").count() == 1)
  }

  test("composite-PK upsert and delete: multi-column WHERE, 0/1-row invariant") {
    val url = freshDb()
    val duo = (1L to 10L).flatMap(a => (1 to 3).map(b => (a, b.toLong, s"v$a-$b")))
      .toDF("ka", "kb", "v")
    Jdbc.executeSqlList(url, Seq(
      """CREATE TABLE "cp" ("ka" BIGINT NOT NULL, "kb" BIGINT NOT NULL,
        | "v" VARCHAR(40), PRIMARY KEY ("ka", "kb"))""".stripMargin.replace("\n", "")))
    Jdbc.append(duo, url, "cp")
    // update one existing cell, insert one new composite key
    val delta = Seq((5L, 2L, "updated"), (11L, 1L, "fresh")).toDF("ka", "kb", "v")
    Jdbc.upsert(delta, url, "cp", "ka,kb")
    val back = Jdbc.read(spark, url, "cp").cache()
    assert(back.count() == 31)
    assert(back.filter($"ka" === 5L && $"kb" === 2L && $"v" === "updated").count() == 1)
    assert(back.filter($"ka" === 5L && $"kb" === 1L && $"v" === "v5-1").count() == 1)
    assert(back.filter($"ka" === 11L && $"v" === "fresh").count() == 1)
    // delete two specific composite keys — nothing else
    Jdbc.deleteByPk(Seq((5L, 2L), (1L, 3L)).toDF("ka", "kb"), url, "cp", "ka,kb")
    val after = Jdbc.read(spark, url, "cp")
    assert(after.count() == 29)
    assert(after.filter($"ka" === 5L).count() == 2 && after.filter($"ka" === 1L).count() == 2)
  }

  test("fromJdbc: composite PK discovered as absent (reference's hard-error path), " +
    "composite FK skipped, single-column constraints kept") {
    import graft.catalog.SchemaCatalog
    val url = freshDb()
    Jdbc.executeSqlList(url, Seq(
      """CREATE TABLE "solo" ("id" BIGINT NOT NULL, "x" INT, PRIMARY KEY ("id"))""",
      """CREATE TABLE "duo" ("a" BIGINT NOT NULL, "b" BIGINT NOT NULL, "y" INT,
        | PRIMARY KEY ("a", "b"))""".stripMargin.replace("\n", ""),
      """CREATE TABLE "kid" ("kid_id" BIGINT NOT NULL, "solo_id" BIGINT,
        | "ca" BIGINT NOT NULL, "cb" BIGINT NOT NULL, PRIMARY KEY ("kid_id"),
        | CONSTRAINT "fk_kid_solo" FOREIGN KEY ("solo_id") REFERENCES "solo" ("id"),
        | CONSTRAINT "fk_kid_duo" FOREIGN KEY ("ca", "cb") REFERENCES "duo" ("a", "b"))"""
        .stripMargin.replace("\n", "")))
    val cat = SchemaCatalog.fromJdbc(url)
    assert(cat.tables == Seq("duo", "kid", "solo"))
    // composite PK ("duo") is absent → the walk raises "There is no PK"
    assert(cat.primaryKeys == Map("solo" -> "id", "kid" -> "kid_id"))
    // …but IS discovered in KEY_SEQ order for the composite-aware walk
    assert(cat.pkColumns("duo") == Seq("a", "b"))
    assert(cat.compositePks == Map(
      "solo" -> Seq("id"), "kid" -> Seq("kid_id"), "duo" -> Seq("a", "b")))
    // composite FK skipped; single-column FK kept
    assert(cat.fkEdges.map(_.name) == Seq("fk_kid_solo"))
    val e = intercept[RuntimeException] {
      TreeWalk.walkLinked(
        t => Jdbc.read(spark, url, t),
        Seq(graft.model.FkEdge("x", "solo", "id", "duo", "a")),
        cat.primaryKeys, Map("solo" -> spark.range(1).toDF("id")), cache = false)
    }
    assert(e.getMessage.contains("no PK for duo"))

    // the SAME edge drives the composite walk: the duo selection now
    // carries its full (a, b) key, discovered — not injected
    Jdbc.append(Seq((0L, 10), (1L, 11)).toDF("id", "x"), url, "solo")
    Jdbc.append(Seq((0L, 1L, 5), (0L, 2L, 6), (7L, 1L, 7)).toDF("a", "b", "y"), url, "duo")
    val sels = TreeWalk.walkLinkedComposite(
      t => Jdbc.read(spark, url, t),
      Seq(graft.model.FkEdge("x", "solo", "id", "duo", "a")),
      cat.compositePks,
      Map("solo" -> Seq(0L).toDF("id")), cache = false)
    assert(sels.map(_.table) == Seq("duo"))
    assert(sels.head.columns == Seq("a", "b"))
    assert(sels.head.keys.as[(Long, Long)].collect().toSet == Set((0L, 1L), (0L, 2L)))
  }

  test("dump → JDBC replay: schema + data land in the live database (import path)") {
    val url = freshDb()
    val dump = Files.createTempDirectory("graft-dump").toString
    val nation = load("nation")
    nation.write.parquet(s"$dump/payloads/nation")
    (1L to 3L).map(i => Tuple1(i)).toDF("n_nationkey")
      .write.parquet(s"$dump/payloads/delkeys")
    DumpStore.writeManifest(spark, dump, Seq(
      CreateOrReplace("nation", "ignored — DDL regenerated from payload schema"),
      TableLoad("nation", "payloads/nation"),
      DeleteByPk("nation", "n_nationkey", "payloads/delkeys")))
    Jdbc.replay(spark, dump, url)
    val back = Jdbc.read(spark, url, "nation")
    assert(back.count() == nation.count() - 3)
    assert(back.filter($"n_nationkey".between(1, 3)).count() == 0)
  }

  test("other-objects export: views + sequences extracted from the source dictionary, " +
    "replayed onto a second database (exportSchemaOtherObjects path)") {
    val src = freshDb()
    Jdbc.executeSqlList(src, Seq(
      Jdbc.ddlFor("t1", base.schema),
      """CREATE VIEW "v_big" AS SELECT "pk", "b" FROM "t1" WHERE "b" > 50.0""",
      "CREATE SEQUENCE \"seq_ids\" AS BIGINT START WITH 7 INCREMENT BY 3",
      "CREATE FUNCTION \"f_abs\"(\"x\" INT) RETURNS INT LANGUAGE JAVA " +
        "PARAMETER STYLE JAVA EXTERNAL NAME 'java.lang.Math.abs' NO SQL"))
    Jdbc.append(base, src, "t1")

    val ops = ObjectDdl.exportOtherObjects(src,
      triggerDdl = Seq("CREATE TRIGGER trg BEGIN x; END;\nALTER TRIGGER trg ENABLE"))
    val stmts = ops.collect { case SqlList(s) => s }.flatten
    assert(stmts.exists(s => s.toUpperCase.startsWith("CREATE VIEW") && s.contains("v_big")),
      s"no view DDL in $stmts")
    assert(stmts.exists(s => s.startsWith("CREATE SEQUENCE \"seq_ids\" AS BIGINT START WITH 7")),
      s"no sequence DDL in $stmts")
    // routine DDL reconstructed from SYSALIASES, dblook-style; Derby's
    // own metadata routines (system schemas) are excluded
    assert(stmts.exists(s => s.startsWith("CREATE FUNCTION \"f_abs\"") &&
      s.endsWith("EXTERNAL NAME 'java.lang.Math.abs'")), s"no function DDL in $stmts")
    assert(!stmts.exists(_.contains("SYSCS_")))
    // trigger passthrough got the X3 strip
    assert(stmts.exists(_ == "CREATE TRIGGER trg BEGIN x; END;"))

    // replay everything except the (Derby-invalid) fake trigger onto a
    // fresh database that already has the base table
    val dst = freshDb()
    Jdbc.executeSqlList(dst, Seq(Jdbc.ddlFor("t1", base.schema)))
    Jdbc.append(base, dst, "t1")
    Jdbc.executeSqlList(dst, stmts.filterNot(_.startsWith("CREATE TRIGGER")))
    val viaView = Jdbc.read(spark, dst, "v_big")
    assert(viaView.count() == 50)
    val conn = java.sql.DriverManager.getConnection(dst)
    try {
      val st = conn.createStatement()
      val rs = st.executeQuery("""VALUES NEXT VALUE FOR "seq_ids"""")
      rs.next()
      assert(rs.getLong(1) == 7L)
      val rf = st.executeQuery("""VALUES "f_abs"(-5)""")
      rf.next()
      assert(rf.getInt(1) == 5)
    } finally conn.close()
  }

  test("trigger DDL extracted live from SYSTRIGGERS round-trips and FIRES on a second database") {
    val src = freshDb()
    Jdbc.executeSqlList(src, Seq(
      """CREATE TABLE "evt"("n" INT)""",
      """CREATE TABLE "log"("m" INT)""",
      """CREATE TRIGGER "trg_stmt" AFTER INSERT ON "evt" """ +
        """FOR EACH STATEMENT INSERT INTO "log" VALUES (1)""",
      """CREATE TRIGGER "trg_row" AFTER UPDATE OF "n" ON "evt" """ +
        """REFERENCING OLD AS "o" NEW AS "nw" FOR EACH ROW """ +
        """WHEN ("nw"."n" > 5) INSERT INTO "log" VALUES ("nw"."n")"""))
    val conn = java.sql.DriverManager.getConnection(src)
    val ddl = try ObjectDdl.DerbyDialect.triggerDdl(conn) finally conn.close()
    assert(ddl.length == 2, s"expected both triggers, got $ddl")
    // granularity, firing time, event, OF-columns (resolved from
    // numbers to names), REFERENCING and WHEN all reassembled
    // (Derby stores the action text schema-qualified — "APP"."log" —
    // which exportOtherObjects' srcSchema/dropSchemaName handles when
    // retargeting schemas; same-schema replay keeps it verbatim)
    assert(ddl.exists(s => s.startsWith("CREATE TRIGGER \"trg_row\" AFTER UPDATE OF \"n\" ON \"evt\"") &&
      s.contains("REFERENCING OLD AS \"o\" NEW AS \"nw\" FOR EACH ROW") &&
      s.contains("WHEN (") && s.endsWith("""VALUES ("nw"."n")""")), s"bad row-trigger DDL: $ddl")
    assert(ddl.exists(s => s.startsWith("CREATE TRIGGER \"trg_stmt\" AFTER INSERT ON \"evt\"") &&
      s.contains("FOR EACH STATEMENT")), s"bad statement-trigger DDL: $ddl")

    // replay on a fresh database and prove the triggers actually fire
    val dst = freshDb()
    Jdbc.executeSqlList(dst, Seq(
      """CREATE TABLE "evt"("n" INT)""",
      """CREATE TABLE "log"("m" INT)""") ++ ddl)
    Jdbc.executeSqlList(dst, Seq(
      """INSERT INTO "evt" VALUES (3)""",
      """UPDATE "evt" SET "n" = 9"""))
    val c2 = java.sql.DriverManager.getConnection(dst)
    try {
      val rs = c2.createStatement()
        .executeQuery("""SELECT "m" FROM "log" ORDER BY "m"""")
      val got = Iterator.continually(rs).takeWhile(_.next()).map(_.getInt(1)).toSeq
      // statement trigger on the insert (1), row trigger on the update (9)
      assert(got == Seq(1, 9), s"triggers misfired: $got")
    } finally c2.close()
  }
}

class SqlTextSpec extends graft.SparkSpec {
  test("dropSchemaName strips quoted qualifiers case-insensitively (X2)") {
    assert(SqlText.dropSchemaName("""CREATE VIEW "MYSCHEMA"."V" AS SELECT * FROM "MYSCHEMA"."T"""", "myschema")
      == """CREATE VIEW "V" AS SELECT * FROM "T"""")
  }

  test("stripTrailingAlterTriggerEnable loops until no match (X3)") {
    val ddl = "CREATE TRIGGER trg BEGIN x; END;\nALTER TRIGGER trg ENABLE;\nALTER TRIGGER trg2 ENABLE"
    assert(SqlText.stripTrailingAlterTriggerEnable(ddl) == "CREATE TRIGGER trg BEGIN x; END;")
  }

  test("partition chunks concat back to the input (B1 property)") {
    val xs = (1 to 1234).toList
    val chunks = SqlText.partition(xs, 500)
    assert(chunks.map(_.size).forall(_ <= 500))
    assert(chunks.flatten == xs)
    assert(SqlText.partition(Seq.empty[Int], 500).flatten.isEmpty)
  }

  test("delete-tree ops are emitted child-first (reverse walk order)") {
    import graft.catalog.SchemaCatalog
    val dump = java.nio.file.Files.createTempDirectory("graft-dump").toString
    val sels = TreeWalk.selectAlongPath(
      spark, load, Seq("customer->orders.o_custkey"), SchemaCatalog.walkPks, "customer", 1L to 3L)
    val ops = DumpStore.exportDeleteTree(spark, sels, dump)
    assert(ops.map { case graft.model.Operation.DeleteByPk(t, _, _) => t } == Seq("orders", "customer"))
  }
}
