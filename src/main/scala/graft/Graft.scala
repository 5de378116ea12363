package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.catalog.SchemaCatalog
import graft.model.{Operation, Selection, TableDef}
import graft.model.Operation._
import graft.ops.{DumpStore, Jdbc, LevelWriter, ObjectDdl, PathDsl, TreeWalk}

/** Polymorphic sink for Operations — the reference's `Target`
  * (`Target.java:3-8`): `DumpTarget` serializes ops into a portable
  * dump (≅ `OutputStreamTarget`), `JdbcTarget` executes them against a
  * live database (≅ `ExecuteTarget`). Producers stage bulk payloads
  * through [[writePayload]] so the same op stream works for both.
  *
  * [[close]] commits what the target holds; [[abort]] gives it up after
  * a failed verb. [[Target.committing]] calls the one that fits.
  */
trait Target extends AutoCloseable {
  def writePayload(name: String, df: DataFrame): String
  def apply(op: Operation): Unit
  def close(): Unit
  /** Release what the target holds without committing it. */
  def abort(): Unit = ()
}

object Target {
  /** Run `verb` against `target`; commit the target ([[Target.close]])
    * only if it succeeds, and otherwise [[Target.abort]] it and rethrow.
    * A failed copy-tree into a dump so leaves no manifest behind, which
    * would replay its finished levels as if they were the whole tree. */
  def committing[A](target: Target)(verb: => A): A = {
    val out = try verb catch {
      case e: Throwable =>
        try target.abort() catch { case a: Throwable => e.addSuppressed(a) }
        throw e
    }
    target.close()
    out
  }
}

/** Dump-file target: payloads as parquet, ops accumulated into
  * `manifest.jsonl` on close (single "commit", mirroring the
  * reference's one-transaction-per-target, `ExecuteTarget.java:26`);
  * an aborted dump has no manifest.
  * The manifest records each payload's schema, so replay reads the
  * payloads without inferring them. */
class DumpTarget(spark: SparkSession, dumpDir: String) extends Target {
  private val ops = scala.collection.mutable.ArrayBuffer.empty[Operation]
  private val schemas = scala.collection.mutable.Map.empty[String, StructType]
  def writePayload(name: String, df: DataFrame): String = {
    val payload = s"payloads/$name"
    schemas(payload) = DumpStore.writeParquet(df, s"$dumpDir/$payload")
    payload
  }
  def apply(op: Operation): Unit = ops += op
  def close(): Unit = DumpStore.writeManifest(spark, dumpDir, ops.toSeq, schemas.toMap)
  /** The ops applied so far, in order. */
  private[graft] def operations: Seq[Operation] = ops.toSeq
}

/** Live-database target: ops execute immediately over JDBC; payloads
  * stage in a scratch directory and are read back with the schema they
  * were written with. Closing or aborting deletes the staging directory. */
class JdbcTarget(spark: SparkSession, url: String,
                 allowProduction: Boolean = false) extends Target {
  Jdbc.guardProduction(url, allowProduction)
  private val staging =
    java.nio.file.Files.createTempDirectory("graft-staging").toString
  private val schemas = scala.collection.mutable.Map.empty[String, StructType]
  def writePayload(name: String, df: DataFrame): String = {
    val payload = s"payloads/$name"
    schemas(payload) = DumpStore.writeParquet(df, s"$staging/$payload")
    payload
  }
  private def staged(payload: String): DataFrame =
    DumpStore.readPayload(spark, staging, payload, schemas.toMap)
  def apply(op: Operation): Unit = op match {
    case CreateOrReplace(t, _) =>
      val p = s"payloads/$t"
      val ddl = Jdbc.ddlFor(t, schemas.getOrElse(p, staged(p).schema))
      try Jdbc.executeSqlList(url, Seq(ddl))
      catch { case _: Exception =>
        Jdbc.executeSqlList(url, Seq(s"""DROP TABLE "$t"""", ddl))
      }
    case TableLoad(t, payload) =>
      Jdbc.append(staged(payload), url, t, allowProduction)
    case TableUpsert(t, pk, payload) =>
      Jdbc.upsert(staged(payload), url, t, pk, allowProduction)
    case DeleteByPk(t, pk, payload) =>
      val keyCols = pk.split(",").map(_.trim).toSeq
      Jdbc.deleteByPk(staged(payload).selectExpr(keyCols: _*), url, t, pk, allowProduction)
    case SqlList(stmts) => Jdbc.executeSqlList(url, stmts)
    case ConstraintDdl(stmts) => Jdbc.executeSqlList(url, stmts)
  }
  def close(): Unit = org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
  override def abort(): Unit = close()
}

/** The user-facing API — one verb per closure of the reference's Groovy
  * scripting DSL (`Main.java:106-211`): `copyTree`, `deleteTree`,
  * `copy`, `update`, `executeSql`, with file/db targets from
  * [[Graft.fileTarget]]/[[Graft.dbTarget]].
  */
class Graft(spark: SparkSession, dataDir: String,
            pks: Map[String, String] = SchemaCatalog.walkPks) {

  private val loader: String => DataFrame = Tables.load(spark, dataDir, _)
  private val walkPks = pks.map { case (t, c) => t -> Seq(c) }

  def fileTarget(dumpDir: String): DumpTarget = new DumpTarget(spark, dumpDir)
  def dbTarget(url: String, allowProduction: Boolean = false): JdbcTarget =
    new JdbcTarget(spark, url, allowProduction)

  /** `copyTree(conn, target, paths, rootIds)` (`Main.java:142-155`):
    * walk the FK graph from root ids and stream each level's rows to
    * the target, in walk order.
    *
    * The walk keeps each level's keys on the driver
    * ([[TreeWalk.walkHeld]]), so a level costs one Spark job besides its
    * payload write: its rows (the child filtered by the parent's keys,
    * their range pushed down to Parquet; the id-filtered rows for the
    * root) are pinned and their distinct keys collected in one job, on
    * the caller's thread. The level's payload write, the rows' release
    * and its TableLoad then go to one writer thread per call
    * ([[graft.ops.LevelWriter]]), while the walk collects the next
    * level. Every target call runs on that thread, in walk order: a
    * level's write, then its TableLoad. The walk waits for level i's
    * write before it hands over level i+1, so at most two levels are
    * pinned at once (the one being written, the one being collected).
    * One scan of each walked table. A level's keys are bounded as a
    * `collect()` is, by `spark.driver.maxResultSize`; past it the walk
    * fails, naming that setting. The write jobs carry the caller's local
    * properties (job group, pool). The first failure on either side
    * ends the call once the other side has drained; it is rethrown, the
    * other side's failure suppressed, and every pinned level released.
    *
    * Returns one selection per level, its keys as a local DataFrame;
    * `onLevel` sees each level (table, rows, keys, ms) once its keys are
    * collected and its write handed over; `ms` includes the wait for the
    * previous level's write. */
  def copyTree(target: Target, paths: Seq[String], rootTable: String,
               rootIds: Seq[Long],
               onLevel: TreeWalk.HeldLevel => Unit = _ => ()): Seq[Selection] =
    LevelWriter.run(spark) { writer =>
      TreeWalk.walkHeld(loader, paths, walkPks, rootTable, rootIds, onLevel) { (table, pk, rows, i) =>
        DumpStore.exportRows(writer, target, table, pk, rows, s"${table}_$i")
      }
    }.map(_.selection(spark))

  /** `deleteTree` (`Main.java:157-169`): the same driver-held walk and
    * writer thread as [[copyTree]]. Each level's keys payload is written
    * on the writer thread, in walk order, while the walk collects the
    * next level; once the walk ends, the writer applies one DeleteByPk
    * op per level, child-first, so replay never deletes a parent row
    * still referenced by children. A level costs one job (its keys) and
    * pins nothing. */
  def deleteTree(target: Target, paths: Seq[String], rootTable: String,
                 rootIds: Seq[Long],
                 onLevel: TreeWalk.HeldLevel => Unit = _ => ()): Seq[Selection] = {
    // payloads are numbered child-first, as the ops that read them
    val last = PathDsl.parseAll(paths, pks).length
    LevelWriter.run(spark) { writer =>
      val deletes = scala.collection.mutable.ArrayBuffer.empty[DeleteByPk]
      val levels = TreeWalk.walkHeld(loader, paths, walkPks, rootTable, rootIds, onLevel) { (table, pk, rows, i) =>
        val keys = TreeWalk.collectKeys(rows, pk)
        writer.submit {
          deletes += DeleteByPk(table, pk.mkString(","), target.writePayload(s"del_${table}_${last - i}", keys.toDF(spark)))
        }
        keys
      }
      writer.submit(deletes.reverseIterator.foreach(target.apply))
      levels
    }.map(_.selection(spark))
  }

  /** `copy` / full-schema export: DDL then data per table, in `order`
    * (`exportAll`, `CopyUtils.java:966-979`; `TopoSort.sort` over the
    * FK edges puts parents first, and without an order tables go in
    * name order), with PK/FK constraint DDL for `edges` emitted after
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
