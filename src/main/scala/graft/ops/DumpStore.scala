package graft.ops

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.{DumpTarget, Target}
import graft.model.{FkEdge, Operation, Selection, TableDef}
import graft.model.Operation._

/** Portable snapshot ("dump") store — the Spark-native answer to the
  * reference's gzip-of-Java-serialized-Operations file (SURVEY.md §1.4;
  * written `OutputStreamTarget.java:12-37` / `CopyUtils.java:377-391`,
  * read `importSchema` `CopyUtils.java:353-375`).
  *
  * Layout: `<dumpDir>/manifest.jsonl` — one JSON object per Operation,
  * in dependency-safe order (DDL before data, parents before children —
  * the reference's emission ordering, `CopyUtils.java:966-979`) — plus
  * one parquet dataset per bulk payload under `<dumpDir>/payloads/`.
  * Parquet replaces gzip+Java-serialization: columnar, splittable,
  * compressed, schema-carrying.
  *
  * DDL is *generated from* `StructType` (not extracted à la
  * `dbms_metadata`, SURVEY.md §7.4): replay is pure Spark SQL.
  */
object DumpStore {

  /** `CREATE TABLE` DDL from a StructType. */
  def ddlFor(name: String, schema: StructType): String =
    s"CREATE TABLE $name (${schema.toDDL}) USING parquet"

  private def q(id: String): String = "\"" + id + "\""

  /** PK/FK constraint statements for a set of exported tables
    * (reference `CopyUtils.java:981-994`; the `:987-990` filter —
    * constraints referencing tables outside the export are dropped).
    * PK columns are first made NOT NULL (parquet schemas are nullable
    * by default, and SQL primary keys must not be); PKs come before
    * FKs so every REFERENCES target already has its unique constraint.
    * Quoted-identifier ANSI SQL — executable by JDBC targets only. */
  def constraintStatements(tables: Seq[TableDef], edges: Seq[FkEdge]): Seq[String] = {
    val exported = tables.map(_.name).toSet
    val pkStmts = tables.sortBy(_.name).flatMap { t =>
      t.pk.toSeq.flatMap { c =>
        Seq(
          s"ALTER TABLE ${q(t.name)} ALTER COLUMN ${q(c)} NOT NULL",
          s"ALTER TABLE ${q(t.name)} ADD CONSTRAINT ${q(s"pk_${t.name}")} PRIMARY KEY (${q(c)})")
      }
    }
    val fkStmts = edges
      .filter(e => exported.contains(e.parentTable) && exported.contains(e.childTable))
      .map { e =>
        s"ALTER TABLE ${q(e.childTable)} ADD CONSTRAINT ${q(e.name)} " +
          s"FOREIGN KEY (${q(e.childColumn)}) REFERENCES ${q(e.parentTable)} (${q(e.parentColumn)})"
      }
    pkStmts ++ fkStmts ++ indexStatements(tables, edges)
  }

  /** `CREATE INDEX` statements for FK child columns, excluding any
    * column already backed by the table's primary key — the
    * reference's NOT-EXISTS index-export filters (skip indexes backing
    * P/U constraints, `CopyUtils.java:987-990`) re-expressed as a set
    * difference over the catalog model. */
  def indexStatements(tables: Seq[TableDef], edges: Seq[FkEdge]): Seq[String] = {
    val exported = tables.map(_.name).toSet
    val pkBacked = tables.flatMap(t => t.pk.map(c => t.name -> c)).toSet
    edges
      .filter(e => exported.contains(e.childTable) && exported.contains(e.parentTable))
      .map(e => e.childTable -> e.childColumn)
      .distinct
      .filterNot(pkBacked)
      .map { case (t, c) => s"CREATE INDEX ${q(s"ix_${t}_$c")} ON ${q(t)} (${q(c)})" }
  }

  /** Full-schema export (the reference's `exportAll`,
    * `CopyUtils.java:966-979`): DDL ops for every table first, then one
    * bulk-load payload per data table. Tables are ordered
    * topologically when edges are supplied so replay never references
    * a missing parent (O2/O3).
    */
  def exportAll(
      spark: SparkSession,
      loader: String => DataFrame,
      tables: Seq[TableDef],
      dumpDir: String,
      order: Seq[String] = Nil,
      edges: Seq[FkEdge] = Nil): Seq[Operation] = {
    val byName = tables.map(t => t.name -> t).toMap
    val ordered =
      if (order.nonEmpty) order.filter(byName.contains).map(byName)
      else tables.sortBy(_.name)
    val ddlOps = ordered.map(t => CreateOrReplace(t.name, ddlFor(t.name, t.schema)))
    val loadOps = ordered.map { t =>
      val payload = s"payloads/${t.name}"
      loader(t.name).write.mode(SaveMode.Overwrite).parquet(s"$dumpDir/$payload")
      TableLoad(t.name, payload)
    }
    // emission order mirrors the reference stream: tables → data →
    // constraints (CopyUtils.java:966-994)
    val constraintStmts = constraintStatements(ordered, edges)
    val tailOps = if (constraintStmts.isEmpty) Nil else Seq(ConstraintDdl(constraintStmts))
    val ops = ddlOps ++ loadOps ++ tailOps
    writeManifest(spark, dumpDir, ops)
    ops
  }

  /** Keyed export of tree-walk selections (the reference's
    * `copySelections`, `CopyUtils.java:33-47`) into a dump: one
    * [[exportSelection]] per selection, in walk order, then the
    * manifest. Call [[TreeWalk.release]] on the selections afterwards. */
  def exportSelections(
      spark: SparkSession,
      selections: Seq[Selection],
      dumpDir: String): Seq[Operation] = {
    val target = new DumpTarget(spark, dumpDir)
    val ops = selections.zipWithIndex.map { case (sel, i) =>
      exportSelection(target, sel, s"${sel.table}_$i")
    }
    target.close()
    ops
  }

  /** Export one selection. Pins its rows, then its keys (so the keys
    * read the pinned rows; a walk's already-cached key level is kept as
    * is), and enforces the cardinality invariant — rows exported must
    * cover the keys selected (`CopyUtils.java:44-46`) — before any bytes
    * land. The invariant compares distinct key counts, so a non-unique
    * stand-in key (many rows per key) exports cleanly, and it reads the
    * rows handed to the write, never the table. The rows are
    * unpersisted once written; the keys stay pinned for the next
    * level's join, until [[TreeWalk.release]]. */
  private[graft] def exportSelection(target: Target, sel: Selection, name: String): Operation = {
    sel.rows.persist(StorageLevel.MEMORY_AND_DISK)
    val payload = try {
      if (sel.keys.storageLevel == StorageLevel.NONE) sel.keys.persist(StorageLevel.MEMORY_AND_DISK)
      val nKeys = partitionCount(sel.keys)
      val nRowKeys = partitionCount(sel.rows.select(sel.columns.map(col): _*).distinct())
      if (nRowKeys != nKeys)
        sys.error(s"Only $nRowKeys of $nKeys keys copied for ${sel.table} — cardinality invariant violated")
      target.writePayload(name, sel.rows)
    } finally sel.rows.unpersist(blocking = false)
    val op = TableLoad(sel.table, payload)
    target.apply(op)
    op
  }

  /** Rows of `df`, summed over its partitions: one job, without the
    * single-partition shuffle (a job of its own) that `count()` adds. */
  private def partitionCount(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Delete-tree export (`deleteSelections`, `CopyUtils.java:23-31`):
    * one DeleteByPk op per selection, emitted child-first (reverse walk
    * order) so replay never deletes a parent row still referenced by
    * children. */
  def exportDeleteTree(
      spark: SparkSession,
      selections: Seq[Selection],
      dumpDir: String): Seq[Operation] = {
    val ops = selections.reverse.zipWithIndex.map { case (sel, i) =>
      val payload = s"payloads/del_${sel.table}_$i"
      sel.keys.toDF(sel.columns: _*).write.mode(SaveMode.Overwrite).parquet(s"$dumpDir/$payload")
      DeleteByPk(sel.table, sel.columns.mkString(","), payload)
    }
    writeManifest(spark, dumpDir, ops)
    ops
  }

  // ---- manifest serialization (driver-side; metadata-sized) ----

  private def esc(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def toJson(seq: Int, op: Operation): String = op match {
    case SqlList(stmts) =>
      s"""{"seq":$seq,"kind":"sql_list","statements":[${stmts.map(esc).mkString(",")}]}"""
    case ConstraintDdl(stmts) =>
      s"""{"seq":$seq,"kind":"constraint_ddl","statements":[${stmts.map(esc).mkString(",")}]}"""
    case TableLoad(t, p) =>
      s"""{"seq":$seq,"kind":"table_load","table":${esc(t)},"payload":${esc(p)}}"""
    case TableUpsert(t, pk, p) =>
      s"""{"seq":$seq,"kind":"table_upsert","table":${esc(t)},"pk":${esc(pk)},"payload":${esc(p)}}"""
    case DeleteByPk(t, pk, p) =>
      s"""{"seq":$seq,"kind":"delete_by_pk","table":${esc(t)},"pk":${esc(pk)},"payload":${esc(p)}}"""
    case CreateOrReplace(t, ddl) =>
      s"""{"seq":$seq,"kind":"create_or_replace","table":${esc(t)},"ddl":${esc(ddl)}}"""
  }

  def writeManifest(spark: SparkSession, dumpDir: String, ops: Seq[Operation]): Unit = {
    val path = new Path(s"$dumpDir/manifest.jsonl")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try {
      val bytes = ops.zipWithIndex
        .map { case (op, i) => toJson(i, op) }
        .mkString("", "\n", "\n")
        .getBytes("UTF-8")
      out.write(bytes)
    } finally out.close()
  }

  private val json = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** Read the manifest back as Operations in `seq` order. Parsed on the
    * driver, through the same Hadoop FS stream [[writeManifest]] uses:
    * a manifest is a few lines of metadata, not worth a Spark job. A
    * malformed line fails the read, naming the line. */
  def readManifest(spark: SparkSession, dumpDir: String): Seq[Operation] = {
    val path = new Path(s"$dumpDir/manifest.jsonl")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new BufferedReader(new InputStreamReader(fs.open(path), StandardCharsets.UTF_8))
    val lines = try Iterator.continually(in.readLine()).takeWhile(_ != null).toVector
      finally in.close()
    lines.zipWithIndex.filter(_._1.trim.nonEmpty).map { case (line, n) =>
      try parseOp(json.readTree(line))
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(s"Malformed line ${n + 1} of $path: ${e.getMessage}", e)
      }
    }.sortBy(_._1).map(_._2)
  }

  /** One manifest line → (seq, Operation); a missing or mistyped field
    * is an error. */
  private def parseOp(j: JsonNode): (Int, Operation) = {
    def field(name: String): JsonNode =
      Option(j.get(name)).filterNot(_.isNull).getOrElse(sys.error(s"missing field '$name'"))
    def str(node: JsonNode, name: String): String = {
      require(node.isTextual, s"'$name' must be a string, got $node")
      node.textValue
    }
    def text(name: String): String = str(field(name), name)
    def stmts: Seq[String] = {
      val a = field("statements")
      require(a.isArray, s"'statements' must be an array, got $a")
      (0 until a.size).map(i => str(a.get(i), "statements"))
    }
    val seq = field("seq")
    require(seq.isInt, s"'seq' must be an integer, got $seq")
    val op = text("kind") match {
      case "sql_list" => SqlList(stmts)
      case "constraint_ddl" => ConstraintDdl(stmts)
      case "table_load" => TableLoad(text("table"), text("payload"))
      case "table_upsert" => TableUpsert(text("table"), text("pk"), text("payload"))
      case "delete_by_pk" => DeleteByPk(text("table"), text("pk"), text("payload"))
      case "create_or_replace" => CreateOrReplace(text("table"), text("ddl"))
      case k => sys.error(s"Unknown operation kind in manifest: $k")
    }
    seq.intValue -> op
  }

  // ---- replay ----

  /** Replay a dump into the session catalog (the reference's
    * `importSchema`, `CopyUtils.java:353-375`, re-expressed as Spark SQL
    * + DataFrame writes). The reference commits once at stream end; Spark
    * has no cross-table transaction, so atomicity is per-operation with
    * idempotent DDL (`CREATE OR REPLACE` semantics,
    * `CreateOrReplaceTableOperation.java:15-46`) — SURVEY.md §7.4.
    */
  def replay(spark: SparkSession, dumpDir: String, database: Option[String] = None): Unit = {
    database.foreach { db =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      spark.catalog.setCurrentDatabase(db)
    }
    readManifest(spark, dumpDir).foreach(execute(spark, dumpDir, _))
  }

  def execute(spark: SparkSession, dumpDir: String, op: Operation): Unit = op match {
    case SqlList(stmts) =>
      stmts.foreach { s =>
        try spark.sql(s)
        catch { case e: Exception => throw new RuntimeException(s"Failed executing: $s", e) }
      }
    case ConstraintDdl(_) =>
      // Spark's catalog has no PK/FK constraint surface; constraints in
      // the manifest are for JDBC replay targets (Jdbc.replay executes
      // them) and are informational here
      ()
    case CreateOrReplace(t, ddl) =>
      // try CREATE; on failure DROP then CREATE (the reference's
      // create-drop-create, CreateOrReplaceTableOperation.java:30-36)
      try spark.sql(ddl)
      catch {
        case _: Exception =>
          spark.sql(s"DROP TABLE IF EXISTS $t")
          spark.sql(ddl)
      }
    case TableLoad(t, payload) =>
      spark.read.parquet(s"$dumpDir/$payload")
        .write.mode(SaveMode.Append).insertInto(t)
    case TableUpsert(t, pk, payload) =>
      val delta = spark.read.parquet(s"$dumpDir/$payload")
      val merged = Writers.upsert(spark.table(t), delta, pk)
      overwriteTable(spark, t, merged, s"$dumpDir/.staging/$t")
    case DeleteByPk(t, pk, payload) =>
      val keys = spark.read.parquet(s"$dumpDir/$payload").select(pk)
      val remaining = spark.table(t).join(keys, Seq(pk), "left_anti")
      overwriteTable(spark, t, remaining, s"$dumpDir/.staging/$t")
  }

  /** Stage-then-overwrite: materialize the new contents away from the
    * table being rewritten, then overwrite — parquet tables cannot be
    * overwritten from a plan that reads them. */
  private def overwriteTable(spark: SparkSession, table: String, df: DataFrame, staging: String): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(staging)
    spark.read.parquet(staging)
      .write.mode(SaveMode.Overwrite).insertInto(table)
  }
}
