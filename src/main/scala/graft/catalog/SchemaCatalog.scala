package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.model.{FkEdge, TableDef}

/** Catalog over a directory of parquet tables — plays the role of the
  * reference's live Oracle dictionary scans (SURVEY.md §2.1 S3-S6:
  * `getObjectNames` `CopyUtils.java:279-311`, `getTableDefinition`
  * `:931-964`, `getPrimaryKeys` `:393-425`, `getFkRelationships`
  * `:427-458`).
  *
  * Table discovery goes through the Hadoop FileSystem API, so the same
  * code works on local disk, HDFS, or object storage on a cluster;
  * schemas come from parquet footers read on the driver (no data
  * read, no Spark job).
  */
final class SchemaCatalog(spark: SparkSession, dir: String,
                          pks: Map[String, String] = SchemaCatalog.starPks,
                          edges: Seq[FkEdge] = SchemaCatalog.starEdges) {

  /** S3: list table names (basename of each `<name>.parquet`), sorted
    * for a stable layout (mirrors `ExportToFileTask.groovy:32`). */
  def tableNames: Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .sorted
  }

  /** S4: schema from the parquet footer + single-column PK if known. */
  def tableDef(name: String): TableDef =
    TableDef(name, schemaOf(name), pks.get(name))

  /** All table definitions, footer reads fanned out on the driver's
    * thread pool: each read is an independent remote metadata fetch,
    * and a 10k-table lake would crawl through them serially. Each
    * schema is read on the driver ([[Tables.schemaOf]]), with no Spark
    * job per table. */
  def tableDefs: Seq[TableDef] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(tableNames.map(n => Future(tableDef(n)))), Duration.Inf)
  }

  def schemaOf(name: String): StructType =
    Tables.schemaOf(spark, s"$dir/$name.parquet")

  /** S5: single-column PK per table. The reference hard-errors on
    * multi-column PKs (`CopyUtils.java:410-412`); our map encodes only
    * single-column ones, so absence == "no PK" error path. */
  def primaryKeys: Map[String, String] = pks

  /** S6: FK edges of the schema. */
  def fkEdges: Seq[FkEdge] = edges

  /** The edges as a DataFrame — for set-oriented metadata queries
    * (exclusion anti-joins, toposort audits). */
  def fkEdgesDf: DataFrame = {
    import spark.implicits._
    edges.toDF()
  }
}

/** Catalog discovered live from a JDBC database's dictionary — the
  * direct analogue of the reference's `USER_CONSTRAINTS` /
  * `USER_CONS_COLUMNS` scans (`CopyUtils.java:393-425` getPrimaryKeys,
  * `:427-458` getFkRelationships), through the vendor-neutral
  * `java.sql.DatabaseMetaData` surface. Feeds the same TreeWalk as the
  * parquet-directory catalog — no hand-written FK graph needed against
  * a live source. */
final case class JdbcCatalog(
    tables: Seq[String],
    primaryKeys: Map[String, String],
    fkEdges: Seq[FkEdge],
    pkColumns: Map[String, Seq[String]] = Map.empty) {
  /** PKs of every arity, for the composite-aware walk: discovered
    * multi-column keys plus the single-column ones. */
  def compositePks: Map[String, Seq[String]] =
    pkColumns ++ primaryKeys.map { case (t, c) => t -> Seq(c) }
}

object SchemaCatalog {

  /** Introspect tables, PKs and single-column FK edges from a live
    * JDBC source. `primaryKeys` carries the single-column PKs (the
    * reference's shape — it hard-errors on multi-column PKs,
    * `CopyUtils.java:410-412`, so a composite key is "no PK" to the
    * single-column walk); `pkColumns`/`compositePks` carry every
    * discovered key, any arity, for `TreeWalk.walkHeld`, whose leaves may
    * have composite keys.
    * Composite FKs are skipped (the reference models only
    * single-column relationships, `ForeignKeyRelationship.java:10-31`).
    *
    * Driver-side and metadata-sized by construction: one dictionary
    * round-trip per table, no row data touched. */
  def fromJdbc(url: String, schemaPattern: String = null): JdbcCatalog = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val md = conn.getMetaData
      val tables = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        val rs = md.getTables(null, schemaPattern, "%", Array("TABLE"))
        try while (rs.next()) buf += rs.getString("TABLE_NAME") finally rs.close()
        buf.toSeq.sorted
      }
      val pkCols = tables.flatMap { t =>
        // (KEY_SEQ, column) pairs — JDBC does not promise result order,
        // the sequence number defines the key's column order
        val cols = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
        val rs = md.getPrimaryKeys(null, schemaPattern, t)
        try while (rs.next())
          cols += ((rs.getInt("KEY_SEQ"), rs.getString("COLUMN_NAME")))
        finally rs.close()
        if (cols.isEmpty) None else Some(t -> cols.sortBy(_._1).map(_._2).toSeq)
      }.toMap
      val pks = pkCols.collect { case (t, Seq(c)) => t -> c }
      val edges = tables.flatMap { t =>
        val rows = scala.collection.mutable.ArrayBuffer.empty[(String, FkEdge)]
        val rs = md.getImportedKeys(null, schemaPattern, t)
        try while (rs.next()) {
          val fkName = Option(rs.getString("FK_NAME"))
            .getOrElse(s"fk_${rs.getString("FKTABLE_NAME")}_${rs.getString("PKTABLE_NAME")}")
          rows += fkName -> FkEdge(
            name = fkName,
            parentTable = rs.getString("PKTABLE_NAME"),
            parentColumn = rs.getString("PKCOLUMN_NAME"),
            childTable = rs.getString("FKTABLE_NAME"),
            childColumn = rs.getString("FKCOLUMN_NAME"))
        } finally rs.close()
        // one row per (constraint, key column): multi-column FKs show up
        // as >1 rows under one FK_NAME — skip those
        rows.groupBy(_._1).valuesIterator
          .collect { case buf if buf.size == 1 => buf.head._2 }
          .toSeq
      }.sortBy(_.name)
      JdbcCatalog(tables, pks, edges, pkCols)
    } finally conn.close()
  }
  /** PK fixture from FIXTURES.md §B (lineitem deliberately has no
    * single-column PK — the reference's "no PK" negative path,
    * `CopyUtils.java:562-564`). */
  val starPks: Map[String, String] = Map(
    "region" -> "r_regionkey",
    "nation" -> "n_nationkey",
    "customer" -> "c_custkey",
    "supplier" -> "s_suppkey",
    "part" -> "p_partkey",
    "orders" -> "o_orderkey")

  /** Like starPks but with the working stand-in PK for lineitem used by
    * tree-walk tests (FIXTURES.md §B). */
  val walkPks: Map[String, String] = starPks + ("lineitem" -> "l_orderkey")

  /** Composite-aware PK fixture: every starPks table plus lineitem's
    * natural two-column key (l_orderkey, l_linenumber) — the shape the
    * reference hard-errors on (`CopyUtils.java:410-412`) and
    * `TreeWalk.walkHeld` holds as a leaf level's key. */
  val compositeWalkPks: Map[String, Seq[String]] =
    starPks.map { case (t, c) => t -> Seq(c) } +
      ("lineitem" -> Seq("l_orderkey", "l_linenumber"))

  /** FK edges of the star schema (FIXTURES.md §B). */
  val starEdges: Seq[FkEdge] = Seq(
    FkEdge("fk_nation_region", "region", "r_regionkey", "nation", "n_regionkey"),
    FkEdge("fk_customer_nation", "nation", "n_nationkey", "customer", "c_nationkey"),
    FkEdge("fk_supplier_nation", "nation", "n_nationkey", "supplier", "s_nationkey"),
    FkEdge("fk_orders_customer", "customer", "c_custkey", "orders", "o_custkey"),
    FkEdge("fk_lineitem_orders", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    FkEdge("fk_lineitem_part", "part", "p_partkey", "lineitem", "l_partkey"),
    FkEdge("fk_lineitem_supplier", "supplier", "s_suppkey", "lineitem", "l_suppkey"))
}
