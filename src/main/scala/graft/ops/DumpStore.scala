package graft.ops

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.{Tables, Target}
import graft.model.{FkEdge, Operation, TableDef}
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
    val schemas = Map.newBuilder[String, StructType]
    val loadOps = ordered.map { t =>
      val payload = s"payloads/${t.name}"
      schemas += payload -> writeParquet(loader(t.name), s"$dumpDir/$payload")
      TableLoad(t.name, payload)
    }
    // emission order mirrors the reference stream: tables → data →
    // constraints (CopyUtils.java:966-994)
    val constraintStmts = constraintStatements(ordered, edges)
    val tailOps = if (constraintStmts.isEmpty) Nil else Seq(ConstraintDdl(constraintStmts))
    val ops = ddlOps ++ loadOps ++ tailOps
    writeManifest(spark, dumpDir, ops, schemas.result())
    ops
  }

  /** Export one level's rows: pin them and collect their distinct keys
    * in one job ([[TreeWalk.collectKeys]]). Then hand the rest to
    * `writer`'s thread, which writes the payload from the pinned rows,
    * unpersists them and applies the level's TableLoad. The hand-over
    * first waits for the previous level's write, so this level's
    * collect overlaps it and at most two levels are pinned. One scan of
    * the level's table. Returns the collected keys. */
  private[graft] def exportRows(writer: LevelWriter, target: Target, table: String,
                                columns: Seq[String], rows: DataFrame, name: String): TreeWalk.HeldKeys = {
    rows.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val keys = TreeWalk.collectKeys(rows, columns)
      writer.submit {
        val payload = try target.writePayload(name, rows) finally rows.unpersist(blocking = false)
        target.apply(TableLoad(table, payload))
      }
      keys
    } catch {
      // not handed over: the walk still holds the level
      case e: Throwable =>
        rows.unpersist(blocking = false)
        throw e
    }
  }

  // ---- manifest serialization (driver-side; metadata-sized) ----

  /** `s` as a JSON string literal. */
  private[graft] def esc(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Overwrite `path` with `df` as parquet; returns the schema the files
    * carry (Spark writes every column nullable), for the manifest. */
  private[graft] def writeParquet(df: DataFrame, path: String): StructType = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    df.schema.toNullable
  }

  private def payloadOf(op: Operation): Option[String] = op match {
    case TableLoad(_, p) => Some(p)
    case TableUpsert(_, _, p) => Some(p)
    case DeleteByPk(_, _, p) => Some(p)
    case _ => None
  }

  /** One manifest line; a payload's recorded schema rides along as
    * `"schema"`, the payload's `StructType` JSON. */
  private def toJson(seq: Int, op: Operation, schema: Option[StructType]): String = {
    val line = opJson(seq, op)
    schema.fold(line)(s => line.dropRight(1) + s""","schema":${s.json}}""")
  }

  private def opJson(seq: Int, op: Operation): String = op match {
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

  /** Write `ops` as the dump's manifest, in one step: the bytes go to a
    * sibling temp file, which then replaces the manifest. A crash before
    * the replace leaves the old manifest whole, and one between its
    * delete and rename leaves none, which reads as an uncommitted dump;
    * no crash leaves a cut manifest, which would replay as a silent
    * prefix. `schemas` maps a payload path to the schema its files carry; replay
    * reads a payload recorded with one without Spark's schema-inference
    * job. */
  def writeManifest(spark: SparkSession, dumpDir: String, ops: Seq[Operation],
                    schemas: Map[String, StructType] = Map.empty): Unit = {
    val path = new Path(s"$dumpDir/manifest.jsonl")
    val tmp = new Path(s"$dumpDir/manifest.jsonl.tmp")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = ops.zipWithIndex
      .map { case (op, i) => toJson(i, op, payloadOf(op).flatMap(schemas.get)) }
      .mkString("", "\n", "\n")
      .getBytes("UTF-8")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    fs.delete(path, false)
    if (!fs.rename(tmp, path)) throw new java.io.IOException(s"Could not rename $tmp to $path")
  }

  private val json = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** Read the manifest back as Operations in `seq` order. Parsed on the
    * driver, through the same Hadoop FS stream [[writeManifest]] uses:
    * a manifest is a few lines of metadata, not worth a Spark job. A
    * malformed line fails the read, naming the line. */
  def readManifest(spark: SparkSession, dumpDir: String): Seq[Operation] =
    readEntries(spark, dumpDir)._1

  /** [[readManifest]], plus the schema recorded for each payload (none
    * in a manifest written before schemas were recorded). */
  private[graft] def readEntries(spark: SparkSession, dumpDir: String): (Seq[Operation], Map[String, StructType]) = {
    val path = new Path(s"$dumpDir/manifest.jsonl")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new BufferedReader(new InputStreamReader(fs.open(path), StandardCharsets.UTF_8))
    val lines = try Iterator.continually(in.readLine()).takeWhile(_ != null).toVector
      finally in.close()
    val entries = lines.zipWithIndex.filter(_._1.trim.nonEmpty).map { case (line, n) =>
      try parseOp(json.readTree(line))
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(s"Malformed line ${n + 1} of $path: ${e.getMessage}", e)
      }
    }.sortBy(_._1)
    val ops = entries.map(_._2)
    (ops, entries.flatMap { case (_, op, schema) => payloadOf(op).zip(schema) }.toMap)
  }

  /** A payload under `dumpDir`, read with its recorded schema; a
    * manifest that records none (the older format) has the schema read
    * from the payload's footer ([[Tables.parquet]]). Neither runs Spark's
    * one-task schema-inference job. */
  private[graft] def readPayload(spark: SparkSession, dumpDir: String, payload: String,
                                 schemas: Map[String, StructType]): DataFrame = {
    val path = s"$dumpDir/$payload"
    schemas.get(payload).fold(Tables.parquet(spark, path))(spark.read.schema(_).parquet(path))
  }

  /** One manifest line → (seq, Operation, recorded payload schema); a
    * missing or mistyped field is an error. */
  private def parseOp(j: JsonNode): (Int, Operation, Option[StructType]) = {
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
    val schema = Option(j.get("schema")).filterNot(_.isNull).map { s =>
      DataType.fromJson(s.toString) match {
        case st: StructType => st
        case other => sys.error(s"'schema' must be a struct, got ${other.simpleString}")
      }
    }
    (seq.intValue, op, schema)
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
    val (ops, schemas) = readEntries(spark, dumpDir)
    ops.foreach(execute(spark, dumpDir, _, schemas))
  }

  def execute(spark: SparkSession, dumpDir: String, op: Operation,
              schemas: Map[String, StructType] = Map.empty): Unit = op match {
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
      readPayload(spark, dumpDir, payload, schemas)
        .write.mode(SaveMode.Append).insertInto(t)
    case TableUpsert(t, pk, payload) =>
      val delta = readPayload(spark, dumpDir, payload, schemas)
      val merged = Writers.upsert(spark.table(t), delta, pk)
      overwriteTable(spark, t, merged, s"$dumpDir/.staging/$t")
    case DeleteByPk(t, pk, payload) =>
      val keys = readPayload(spark, dumpDir, payload, schemas).select(pk)
      val remaining = spark.table(t).join(keys, Seq(pk), "left_anti")
      overwriteTable(spark, t, remaining, s"$dumpDir/.staging/$t")
  }

  /** Stage-then-overwrite: materialize the new contents away from the
    * table being rewritten, then overwrite — parquet tables cannot be
    * overwritten from a plan that reads them. */
  private def overwriteTable(spark: SparkSession, table: String, df: DataFrame, staging: String): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(staging)
    Tables.parquet(spark, staging)
      .write.mode(SaveMode.Overwrite).insertInto(table)
  }
}
