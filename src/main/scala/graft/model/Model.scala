package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, StructType}

/** Core data model of the engine, re-expressing the reference's
  * abstractions (SURVEY.md §1.1) Spark-first.
  *
  * Reference shapes: `TableDefinition.java:10-21` (name + ordered column
  * list + per-column LOB flag), `TableSelection.java:12-21` (rows of a
  * table whose column is in a key set), `ForeignKeyRelationship.java:10-31`
  * (FK edge), `Operation.java:9-11` (replayable unit of work).
  */
final case class TableDef(name: String, schema: StructType, pk: Option[String] = None) {
  def columnNames: Seq[String] = schema.fieldNames.toSeq
  /** The reference's only per-column type metadata: LOB-ness
    * (`CopyUtils.java:944-951`). Binary columns play the BLOB role here. */
  def isLob: Seq[Boolean] = schema.fields.toSeq.map(_.dataType == BinaryType)
}

/** FK edge. Mirrors `ForeignKeyRelationship.java:10-31`. */
final case class FkEdge(
    name: String,
    parentTable: String,
    parentColumn: String,
    childTable: String,
    childColumn: String)

/** "The rows of `table` whose key columns ∈ keys" — the unit of
  * subsetting (`TableSelection.java:12-21`). Keys are carried as a
  * DataFrame (not a driver-side List) so a selection scales to key sets
  * that never fit on the driver.
  *
  * `rows` are the selected rows themselves, every column: for a walk
  * level, child ⋉ parent keys; for the root, the id-filtered root rows.
  * `keys` are the distinct key columns of those rows. An export writes
  * `rows` and checks them against `keys`, so neither goes back to the
  * table.
  *
  * The reference models single-column selections only (it hard-errors
  * on composite PKs, `CopyUtils.java:410-412`); this engine extends the
  * shape to multi-column keys — `columns` and the key frame's columns
  * are positionally aligned.
  */
final case class Selection(table: String, columns: Seq[String], keys: DataFrame, rows: DataFrame) {
  require(columns.nonEmpty && keys.columns.length == columns.length,
    s"Selection columns ${columns.mkString(",")} must align with key columns ${keys.columns.mkString(",")}")
  /** The single selection column — most walks; composite selections
    * must go through [[columns]]. */
  def column: String = {
    require(columns.length == 1,
      s"selection on $table has a composite key (${columns.mkString(",")})")
    columns.head
  }
  def keyCols: Seq[String] = keys.columns.toSeq
  def keyCol: String = keyCols.head
}

/** Replayable unit of work — the dump stream is a sequence of these
  * (`Operation.java:9-11`). Payload-bearing ops reference a parquet
  * dataset relative to the dump directory rather than embedding rows
  * (SURVEY.md §1.4: gzip-of-Java-serialization → manifest + parquet).
  */
sealed trait Operation {
  def kind: String
}
object Operation {
  /** Ordered DDL/SQL statements (`ExecuteSqlList.java:11-39`). */
  final case class SqlList(statements: Seq[String]) extends Operation { val kind = "sql_list" }
  /** Bulk append of a parquet payload into a table (`ExecuteTableLoad.java:10-24`). */
  final case class TableLoad(table: String, payload: String) extends Operation { val kind = "table_load" }
  /** Update-else-insert of a payload keyed by pk (`ExecuteTableUpdate.java:10-26`).
    * A composite key travels comma-joined (`"c1,c2"`) so the manifest
    * shape is unchanged. */
  final case class TableUpsert(table: String, pk: String, payload: String) extends Operation { val kind = "table_upsert" }
  /** Batched delete of the pk values in the payload (`DeleteByPk.java:15-43`).
    * Composite keys comma-joined, as in [[TableUpsert]]. */
  final case class DeleteByPk(table: String, pk: String, payload: String) extends Operation { val kind = "delete_by_pk" }
  /** Create, dropping first if present (`CreateOrReplaceTableOperation.java:15-46`). */
  final case class CreateOrReplace(table: String, ddl: String) extends Operation { val kind = "create_or_replace" }
  /** PK/FK constraint DDL emitted AFTER the data loads (the reference
    * exports index + referential-constraint DDL at the tail of the
    * stream, `CopyUtils.java:981-994`). Kept distinct from [[SqlList]]
    * because only JDBC targets can execute it — a Spark-catalog replay
    * has no constraint surface and skips it. */
  final case class ConstraintDdl(statements: Seq[String]) extends Operation { val kind = "constraint_ddl" }
}
