package graft.ops

import java.sql.{Connection, DriverManager, PreparedStatement}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** JDBC source/sink operators (SURVEY.md §2.1 S1/S2/S9, §2.2 K1/K3/K4/K5).
  *
  * Reads go through Spark's JDBC source (predicate pushdown, partitioned
  * scans). Writes re-express the reference's batched statement pipeline:
  * appends use the built-in JDBC writer (`batchsize`); upsert and
  * delete — which Spark's writer lacks — run as `foreachPartition`
  * loops with prepared statements batched at [[batchSize]] rows, the
  * distributed form of `performInsertOrUpdate` (`CopyUtils.java:741-779`)
  * and `DeleteByPk.java:15-43`. Each partition owns one connection and
  * one transaction: on a cluster, N partitions write concurrently —
  * per-partition atomicity replaces the reference's single global
  * commit (SURVEY.md §7.4).
  */
object Jdbc {

  /** The reference's statement batch size (`CopyUtils.java:20`). */
  val batchSize = 500

  /** F6: refuse destructive writes to a URL that looks like production
    * unless explicitly allowed (the reference's prod-destination guard,
    * `GradleUtils.groovy:42-51`). */
  def guardProduction(url: String, allowProduction: Boolean = false): Unit =
    if (!allowProduction && url.toLowerCase.contains("prod"))
      sys.error(s"Destination '$url' looks like production — pass allowProduction=true to override")

  /** Quoted identifier — used consistently on BOTH the statement side
    * and Spark's `dbtable` option: an unquoted name would be
    * case-folded by the database into a *different* table than the
    * quoted DDL created. */
  private def quoted(name: String): String = "\"" + name + "\""

  def read(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.format("jdbc").option("url", url)
      .option("dbtable", quoted(table)).load()

  /** Partitioned parallel read: `numPartitions` concurrent range-bounded
    * cursors — the cluster form of a JDBC table scan (each executor
    * pulls its own stride; the reference's single cursor is the
    * numPartitions=1 case). */
  def readPartitioned(spark: SparkSession, url: String, table: String,
                      partitionColumn: String, lower: Long, upper: Long,
                      numPartitions: Int): DataFrame =
    spark.read.format("jdbc").option("url", url)
      .option("dbtable", quoted(table))
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lower).option("upperBound", upper)
      .option("numPartitions", numPartitions)
      .load()

  /** Keyed read (S2): predicate is pushed to the database by Spark's
    * JDBC source — the engine-native form of the reference's batched
    * IN-list SQL. */
  def readKeyed(spark: SparkSession, url: String, table: String,
                keyCol: String, keys: Seq[Any]): DataFrame =
    read(spark, url, table).filter(col(keyCol).isin(keys: _*))

  /** Bulk append (K3): Spark's JDBC writer with the reference's batch
    * granularity. */
  def append(df: DataFrame, url: String, table: String,
             allowProduction: Boolean = false): Unit = {
    guardProduction(url, allowProduction)
    df.write.mode("append").format("jdbc")
      .option("url", url).option("dbtable", quoted(table))
      .option("batchsize", batchSize).save()
  }

  private def bind(ps: PreparedStatement, i: Int, v: Any, dt: DataType): Unit =
    if (v == null) ps.setNull(i, java.sql.Types.NULL)
    else dt match {
      case LongType => ps.setLong(i, v.asInstanceOf[Long])
      case IntegerType => ps.setInt(i, v.asInstanceOf[Int])
      case DoubleType => ps.setDouble(i, v.asInstanceOf[Double])
      case FloatType => ps.setFloat(i, v.asInstanceOf[Float])
      case StringType => ps.setString(i, v.toString)
      case TimestampType => ps.setTimestamp(i, v.asInstanceOf[java.sql.Timestamp])
      case TimestampNTZType =>
        ps.setTimestamp(i, java.sql.Timestamp.valueOf(v.asInstanceOf[java.time.LocalDateTime]))
      case DateType => ps.setDate(i, v.asInstanceOf[java.sql.Date])
      case BooleanType => ps.setBoolean(i, v.asInstanceOf[Boolean])
      case BinaryType => ps.setBytes(i, v.asInstanceOf[Array[Byte]])
      case _ => ps.setObject(i, v)
    }

  /** A manifest key field may carry a composite key comma-joined
    * (`Operation.TableUpsert`/`DeleteByPk` docs). */
  private def pkCols(pk: String): Seq[String] = pk.split(",").map(_.trim).toSeq

  /** Run `body` in one transaction on its own connection: commit on
    * success; on failure roll back before closing, so the statement's
    * own error surfaces — Derby refuses to close a connection with an
    * open transaction, and that refusal would otherwise replace it. */
  private def transaction(url: String)(body: Connection => Unit): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      try { body(conn); conn.commit() }
      catch {
        case e: Throwable =>
          try conn.rollback() catch { case r: Exception => e.addSuppressed(r) }
          throw e
      }
    } finally conn.close()
  }

  /** Upsert (K4): per row UPDATE … WHERE pk=?; 0 rows updated → queue
    * for insert; >1 → hard error (the reference's wrong-pk guard,
    * `CopyUtils.java:763-767`); queued rows bulk-inserted in batches.
    * The delta is pre-deduplicated latest-wins so concurrent partitions
    * never race on a key. `pk` may be comma-joined for a composite key —
    * the WHERE clause then matches every key column. */
  def upsert(df: DataFrame, url: String, table: String, pk: String,
             allowProduction: Boolean = false): Unit = {
    guardProduction(url, allowProduction)
    val pks = pkCols(pk)
    val deduped = Writers.dedupLatest(df, pks, Nil)
    val schema = deduped.schema
    val cols = schema.fieldNames.toSeq
    val nonPk = cols.filterNot(pks.contains)
    val updateSql = s"UPDATE ${quoted(table)} SET ${nonPk.map(c => s"${quoted(c)} = ?").mkString(", ")} " +
      s"WHERE ${pks.map(c => s"${quoted(c)} = ?").mkString(" AND ")}"
    val insertSql = s"INSERT INTO ${quoted(table)} (${cols.map(quoted).mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    deduped.foreachPartition { (rows: Iterator[Row]) =>
      transaction(url) { conn =>
        val upd = conn.prepareStatement(updateSql)
        val ins = conn.prepareStatement(insertSql)
        var pendingInserts = 0
        rows.foreach { r =>
          nonPk.zipWithIndex.foreach { case (c, i) =>
            bind(upd, i + 1, r.get(r.fieldIndex(c)), types(c))
          }
          pks.zipWithIndex.foreach { case (c, i) =>
            bind(upd, nonPk.size + i + 1, r.get(r.fieldIndex(c)), types(c))
          }
          val n = upd.executeUpdate()
          if (n > 1) {
            val kv = pks.map(c => r.get(r.fieldIndex(c))).mkString(", ")
            sys.error(s"Update for ($kv) changed $n rows — was the wrong column given as the primary key?")
          }
          if (n == 0) {
            cols.zipWithIndex.foreach { case (c, i) =>
              bind(ins, i + 1, r.get(r.fieldIndex(c)), types(c))
            }
            ins.addBatch()
            pendingInserts += 1
            if (pendingInserts >= batchSize) { ins.executeBatch(); pendingInserts = 0 }
          }
        }
        if (pendingInserts > 0) ins.executeBatch()
      }
    }
  }

  /** Delete-by-pk (K5): batched prepared deletes over the key frame.
    * `pk` may be comma-joined for a composite key; the key frame's
    * columns align positionally with it. */
  def deleteByPk(keys: DataFrame, url: String, table: String, pk: String,
                 allowProduction: Boolean = false): Unit = {
    guardProduction(url, allowProduction)
    val pks = pkCols(pk)
    require(keys.columns.length == pks.length,
      s"key frame has ${keys.columns.length} columns for a ${pks.length}-column key $pk")
    val dts = keys.schema.fields.map(_.dataType).toSeq
    val sql = s"DELETE FROM ${quoted(table)} WHERE ${pks.map(c => s"${quoted(c)} = ?").mkString(" AND ")}"
    keys.distinct().foreachPartition { (rows: Iterator[Row]) =>
      transaction(url) { conn =>
        val del = conn.prepareStatement(sql)
        var pending = 0
        rows.foreach { r =>
          dts.zipWithIndex.foreach { case (dt, i) => bind(del, i + 1, r.get(i), dt) }
          del.addBatch()
          pending += 1
          if (pending >= batchSize) { del.executeBatch(); pending = 0 }
        }
        if (pending > 0) del.executeBatch()
      }
    }
  }

  /** Execute a list of statements on one connection/transaction (K6,
    * `ExecuteSqlList.java:11-39`): failures are wrapped with the
    * offending statement. Driver-side — DDL is metadata-sized. */
  def executeSqlList(url: String, statements: Seq[String]): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      statements.foreach { s =>
        try { val st = conn.createStatement(); try st.execute(s) finally st.close() }
        catch { case e: Exception => throw new RuntimeException(s"Failed executing: $s", e) }
      }
    } finally conn.close()
  }

  /** S9 (`executeFromQuery`, `CopyUtils.java:313-346`): run `query`,
    * treat column 1 of each row as a SQL statement, execute each —
    * optionally swallowing per-statement errors. Returns the number of
    * statements executed. */
  def executeFromQuery(url: String, query: String, ignoreExceptions: Boolean): Int = {
    val conn = DriverManager.getConnection(url)
    try {
      val stmts = scala.collection.mutable.ArrayBuffer.empty[String]
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(query)
        while (rs.next()) stmts += rs.getString(1)
      } finally st.close()
      var n = 0
      stmts.foreach { s =>
        try {
          val st2 = conn.createStatement()
          try { st2.execute(s); n += 1 } finally st2.close()
        } catch {
          case e: Exception => if (!ignoreExceptions) throw new RuntimeException(s"Failed executing: $s", e)
        }
      }
      n
    } finally conn.close()
  }

  /** DDL generation for a JDBC target from a Spark schema (replaces the
    * reference's `dbms_metadata` extraction — SURVEY.md §7.4). */
  def ddlFor(table: String, schema: StructType): String = {
    def sqlType(dt: DataType): String = dt match {
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case ShortType => "SMALLINT"
      case DoubleType => "DOUBLE"
      case FloatType => "REAL"
      case StringType => "VARCHAR(4000)"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case DateType => "DATE"
      case BooleanType => "BOOLEAN"
      case BinaryType => "BLOB"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case other => sys.error(s"No JDBC DDL mapping for $other")
    }
    val cols = schema.fields.map { f =>
      s"${quoted(f.name)} ${sqlType(f.dataType)}${if (f.nullable) "" else " NOT NULL"}"
    }
    s"CREATE TABLE ${quoted(table)} (${cols.mkString(", ")})"
  }

  /** Replay a dump (SURVEY.md §1.4) into a live JDBC database — the
    * `import <dump> <alias>` path (`Main.java:84-90`) with parquet
    * payloads instead of Java serialization. */
  def replay(spark: SparkSession, dumpDir: String, url: String,
             allowProduction: Boolean = false): Unit = {
    import graft.model.Operation._
    guardProduction(url, allowProduction)
    DumpStore.readManifest(spark, dumpDir).foreach {
      case CreateOrReplace(t, _) =>
        val schema = spark.read.parquet(s"$dumpDir/payloads/$t").schema
        val ddl = ddlFor(t, schema)
        try executeSqlList(url, Seq(ddl))
        catch {
          case _: Exception =>
            executeSqlList(url, Seq(s"DROP TABLE ${quoted(t)}", ddl))
        }
      case TableLoad(t, payload) =>
        append(spark.read.parquet(s"$dumpDir/$payload"), url, t, allowProduction)
      case TableUpsert(t, pk, payload) =>
        upsert(spark.read.parquet(s"$dumpDir/$payload"), url, t, pk, allowProduction)
      case DeleteByPk(t, pk, payload) =>
        deleteByPk(spark.read.parquet(s"$dumpDir/$payload")
          .select(pkCols(pk).map(col): _*), url, t, pk, allowProduction)
      case SqlList(stmts) =>
        executeSqlList(url, stmts)
      case ConstraintDdl(stmts) =>
        // the tail of the dump stream: PK/FK constraints after all data
        // has landed (reference emission order, CopyUtils.java:981-994)
        executeSqlList(url, stmts)
    }
  }
}
