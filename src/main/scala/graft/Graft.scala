package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.catalog.SchemaCatalog
import graft.model.{Operation, Selection, TableDef}
import graft.model.Operation._
import graft.ops.{DumpStore, Jdbc, ObjectDdl, TreeWalk}

/** Polymorphic sink for Operations — the reference's `Target`
  * (`Target.java:3-8`): `DumpTarget` serializes ops into a portable
  * dump (≅ `OutputStreamTarget`), `JdbcTarget` executes them against a
  * live database (≅ `ExecuteTarget`). Producers stage bulk payloads
  * through [[writePayload]] so the same op stream works for both.
  */
trait Target extends AutoCloseable {
  def writePayload(name: String, df: DataFrame): String
  def apply(op: Operation): Unit
  def close(): Unit
}

/** Dump-file target: payloads as parquet, ops accumulated into
  * `manifest.jsonl` on close (single "commit", mirroring the
  * reference's one-transaction-per-target, `ExecuteTarget.java:26`). */
class DumpTarget(spark: SparkSession, dumpDir: String) extends Target {
  private val ops = scala.collection.mutable.ArrayBuffer.empty[Operation]
  def writePayload(name: String, df: DataFrame): String = {
    val payload = s"payloads/$name"
    df.write.mode(SaveMode.Overwrite).parquet(s"$dumpDir/$payload")
    payload
  }
  def apply(op: Operation): Unit = ops += op
  def close(): Unit = DumpStore.writeManifest(spark, dumpDir, ops.toSeq)
}

/** Live-database target: ops execute immediately over JDBC; payloads
  * stage in a scratch directory. */
class JdbcTarget(spark: SparkSession, url: String,
                 allowProduction: Boolean = false) extends Target {
  Jdbc.guardProduction(url, allowProduction)
  private val staging =
    java.nio.file.Files.createTempDirectory("graft-staging").toString
  def writePayload(name: String, df: DataFrame): String = {
    val payload = s"payloads/$name"
    df.write.mode(SaveMode.Overwrite).parquet(s"$staging/$payload")
    payload
  }
  def apply(op: Operation): Unit = op match {
    case CreateOrReplace(t, _) =>
      val schema = spark.read.parquet(s"$staging/payloads/$t").schema
      val ddl = Jdbc.ddlFor(t, schema)
      try Jdbc.executeSqlList(url, Seq(ddl))
      catch { case _: Exception =>
        Jdbc.executeSqlList(url, Seq(s"""DROP TABLE "$t"""", ddl))
      }
    case TableLoad(t, payload) =>
      Jdbc.append(spark.read.parquet(s"$staging/$payload"), url, t, allowProduction)
    case TableUpsert(t, pk, payload) =>
      Jdbc.upsert(spark.read.parquet(s"$staging/$payload"), url, t, pk, allowProduction)
    case DeleteByPk(t, pk, payload) =>
      val keyCols = pk.split(",").map(_.trim).toSeq
      Jdbc.deleteByPk(
        spark.read.parquet(s"$staging/$payload").selectExpr(keyCols: _*),
        url, t, pk, allowProduction)
    case SqlList(stmts) => Jdbc.executeSqlList(url, stmts)
    case ConstraintDdl(stmts) => Jdbc.executeSqlList(url, stmts)
  }
  def close(): Unit = ()
}

/** The user-facing API — one verb per closure of the reference's Groovy
  * scripting DSL (`Main.java:106-211`): `copyTree`, `deleteTree`,
  * `copy`, `update`, `executeSql`, with file/db targets from
  * [[Graft.fileTarget]]/[[Graft.dbTarget]].
  */
class Graft(spark: SparkSession, dataDir: String,
            pks: Map[String, String] = SchemaCatalog.walkPks) {

  private val loader: String => DataFrame = Tables.load(spark, dataDir, _)

  def fileTarget(dumpDir: String): DumpTarget = new DumpTarget(spark, dumpDir)
  def dbTarget(url: String, allowProduction: Boolean = false): JdbcTarget =
    new JdbcTarget(spark, url, allowProduction)

  /** `copyTree(conn, target, paths, rootIds)` (`Main.java:142-155`):
    * walk the FK graph from root ids, stream each selection's rows to
    * the target; cardinality invariant enforced per selection
    * (`CopyUtils.java:44-46`).
    *
    * One lake scan per walked level: each level's rows (child ⋉ parent
    * keys, all columns) are pinned as it is exported, its keys derived
    * from them, and the invariant and the payload write read the pinned
    * rows, which are released as soon as their payload is written. The
    * key levels are released when the verb returns. */
  def copyTree(target: Target, paths: Seq[String], rootTable: String,
               rootIds: Seq[Long]): Seq[Selection] = {
    // the export pins each level itself (TreeWalk's doc says why)
    val sels = TreeWalk.selectAlongPath(spark, loader, paths, pks, rootTable, rootIds, cache = false)
    try {
      sels.zipWithIndex.foreach { case (sel, i) =>
        DumpStore.exportSelection(target, sel, s"${sel.table}_$i")
      }
      sels
    } finally TreeWalk.release(sels)
  }

  /** `deleteTree` (`Main.java:157-169`): same walk, DeleteByPk ops in
    * child-first order. */
  def deleteTree(target: Target, paths: Seq[String], rootTable: String,
                 rootIds: Seq[Long]): Seq[Selection] = {
    val sels = TreeWalk.selectAlongPath(spark, loader, paths, pks, rootTable, rootIds)
    try {
      sels.reverse.zipWithIndex.foreach { case (sel, i) =>
        val payload = target.writePayload(s"del_${sel.table}_$i",
          sel.keys.toDF(sel.columns: _*))
        target.apply(DeleteByPk(sel.table, sel.columns.mkString(","), payload))
      }
      sels
    } finally TreeWalk.release(sels)
  }

  /** `copy` / full-schema export: DDL then data per table, in
    * FK-dependency order when edges are known (`exportAll`,
    * `CopyUtils.java:966-979`), with PK/FK constraint DDL emitted after
    * all loads (`:981-994`) for targets that can execute it. */
  def copy(target: Target, tables: Seq[String],
           order: Seq[String] = Nil,
           edges: Seq[graft.model.FkEdge] = Nil): Unit = {
    val ordered = if (order.nonEmpty) order.filter(tables.contains) else tables.sorted
    val defs = ordered.map { t =>
      val df = loader(t)
      val payload = target.writePayload(t, df)
      target.apply(CreateOrReplace(t, DumpStore.ddlFor(t, df.schema)))
      target.apply(TableLoad(t, payload))
      TableDef(t, df.schema, pks.get(t))
    }
    val stmts = DumpStore.constraintStatements(defs, edges)
    if (stmts.nonEmpty) target.apply(Operation.ConstraintDdl(stmts))
  }

  /** `update`: upsert a delta frame into a table by pk. */
  def update(target: Target, table: String, delta: DataFrame, pk: String): Unit = {
    val payload = target.writePayload(s"upsert_$table", delta)
    target.apply(TableUpsert(table, pk, payload))
  }

  /** `executeSql`: raw statements through the target. */
  def executeSql(target: Target, statements: Seq[String]): Unit =
    target.apply(SqlList(statements))

  /** The reference's `exportSchemaOtherObjects`
    * (`CopyUtils.java:996-1010`): append the non-table object surface
    * of a live JDBC schema — dictionary-extracted views and sequences,
    * plus caller-supplied opaque DDL for kinds the dialect cannot
    * round-trip — after tables, data and constraints. */
  def copyOtherObjects(target: Target, sourceUrl: String,
                       dialect: ObjectDdl.DdlDialect = ObjectDdl.DerbyDialect,
                       srcSchema: Option[String] = None,
                       procedureDdl: Seq[String] = Nil,
                       functionDdl: Seq[String] = Nil,
                       triggerDdl: Seq[String] = Nil,
                       packageDdl: Seq[String] = Nil): Unit =
    ObjectDdl.exportOtherObjects(sourceUrl, dialect, srcSchema,
      procedureDdl, functionDdl, triggerDdl, packageDdl).foreach(target.apply)
}
