package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, Cast, EvalMode, Expression, GreaterThanOrEqual, LessThanOrEqual,
  Literal, Predicate, UnaryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

import graft.model.Selection

/** FK-graph traversal: the reference's `copyTree`/`deleteTree` core
  * (its linked-rows walk, `CopyUtils.java:533-574`; semi-join J1
  * `findLinkedRows`, `:480-531`), as one walk, [[walkHeld]].
  *
  * The walk keeps each level's keys on the driver, as the reference
  * does with its batched `IN`-lists of 500 parent ids. A level's rows
  * are the child filtered by the range of the parent's keys, which
  * Parquet pushes down, and by membership in the keys, broadcast once
  * ([[InBroadcastKeys]]); the visitor collects the rows' distinct keys
  * in one job ([[collectKeys]]), and the next level filters on them. A
  * level's keys are bounded as a `collect()` is, by
  * `spark.driver.maxResultSize`; a walk past it fails loudly, naming
  * the setting to raise. The walk and its key collects run on the
  * caller's thread. The verbs' visitors hand each level's payload write
  * to a [[LevelWriter]] thread, in walk order, and go on to the next
  * level while it runs; the hand-over waits for the previous level's
  * write, so at most two levels are pinned at once. Queries and probes
  * walk with [[collectOnly]] ([[selectAlongPath]]) and compose on a
  * level's rows or keys, so building one runs a key collect per level.
  *
  * Reference error semantics:
  * - an edge whose parent has no accumulated ids yet → hard error
  *   ("Could not find path to …", `CopyUtils.java:552-555`);
  * - a child table without a PK → hard error ("no PK for …", `:562-564`).
  *
  * The reference also hard-errors on multi-column PKs
  * (`CopyUtils.java:410-412`). Here a child may have a composite PK: its
  * level holds the full key. Such a child is always a leaf, because
  * [[PathDsl.parseAllComposite]] refuses an edge out of a composite-PK
  * parent; the root's PK must be single-column, to seed from scalar ids.
  */
object TreeWalk {

  /** Unpersist the key frames of `selections`, for a caller that pinned them. */
  def release(selections: Seq[Selection]): Unit = selections.foreach(_.keys.unpersist(blocking = false))

  /** The [[walkHeld]] visitor that only collects each level's keys. */
  val collectOnly: (String, Seq[String], DataFrame, Int) => HeldKeys = (_, pk, rows, _) => collectKeys(rows, pk)

  /** `copyTree` (`Main.java:142-155` → `selectAlongPath`,
    * `CopyUtils.java:50-57`) as selections: [[walkHeld]] with
    * [[collectOnly]], the root's selection first. */
  def selectAlongPath(
      spark: SparkSession,
      loader: String => DataFrame,
      paths: Seq[String],
      pks: Map[String, String],
      rootTable: String,
      rootIds: Seq[Long]): Seq[Selection] =
    walkHeld(loader, paths, pks.map { case (t, c) => t -> Seq(c) }, rootTable, rootIds)(collectOnly)
      .map(_.selection(spark))

  /** `deleteTree` in query form (J4): target rows whose key is NOT in
    * the selection — `left_anti` (`CopyUtils.java:23-31`,
    * `DeleteByPk.java:15-43`). */
  def antiRows(loader: String => DataFrame, sel: Selection): DataFrame = {
    val t = loader(sel.table)
    t.join(sel.keys, sel.columns.map(c => t(c) === sel.keys(c)).reduce(_ && _), "left_anti")
  }

  // ---- key sets held on the driver ----

  /** The distinct non-null keys of one walked level, held on the driver,
    * with the number of rows they were read from. A single-column key
    * of a scalar type is held as its Catalyst value; any other key as
    * an [[org.apache.spark.sql.catalyst.expressions.UnsafeRow]] of the
    * key columns. */
  final case class HeldKeys(schema: StructType, values: Set[Any], rows: Long) {
    def size: Long = values.size.toLong
    def ++(other: HeldKeys): HeldKeys =
      HeldKeys(schema, values ++ other.values, rows + other.rows)

    /** `df(column) ∈ keys`: the keys' range, which Parquet pushes down,
      * and a membership test against the keys, broadcast once
      * ([[InBroadcastKeys]]). Keys of another type than the column's are
      * converted to it first ([[as]]), so an `int` column filters on
      * `bigint` keys as the semi-join's coerced equality would. */
    def in(df: DataFrame, column: String): Column = {
      require(HeldKeys.scalar(schema), s"a key set of ${schema.simpleString} cannot filter one column")
      val keys = as(df.schema(column).dataType)
      val dt = keys.schema.head.dataType
      val c = ColumnShim.expression(col(column))
      if (keys.values.isEmpty) lit(false)
      else {
        val order = TypeUtils.getInterpretedOrdering(dt)
        val set = df.sparkSession.sparkContext.broadcast[java.util.Set[Any]](new java.util.HashSet(keys.values.asJava))
        ColumnShim.column(And(
          And(GreaterThanOrEqual(c, Literal(keys.values.min(order), dt)),
            LessThanOrEqual(c, Literal(keys.values.max(order), dt))),
          InBroadcastKeys(c, set)))
      }
    }

    /** These keys as values of `dt`: each key cast to it, keeping those
      * that cast back to themselves, which are the keys a `dt` value can
      * equal (a `bigint` key past the `int` range equals no `int`). */
    private[ops] def as(dt: DataType): HeldKeys = {
      val from = schema.head.dataType
      if (dt == from) this
      else {
        val tz = Option(SQLConf.get.sessionLocalTimeZone)
        def cast(v: Any, a: DataType, b: DataType): Option[Any] =
          Option(Cast(Literal(v, a), b, tz, EvalMode.TRY).eval())
        HeldKeys(StructType(Seq(schema.head.copy(dataType = dt))),
          values.flatMap(v => cast(v, from, dt).filter(w => cast(w, dt, from).contains(v))), rows)
      }
    }

    /** The keys as a DataFrame over the driver's key set: making it runs
      * no job and converts no key until it is read. */
    def toDF(spark: SparkSession): DataFrame = {
      val (s, scalar) = (schema, HeldKeys.scalar(schema))
      val rows = spark.sparkContext.parallelize(values.toSeq).map { v =>
        val r = if (scalar) InternalRow(v) else v.asInstanceOf[InternalRow]
        Row.fromSeq(s.fields.indices.map(i => CatalystTypeConverters.convertToScala(r.get(i, s(i).dataType), s(i).dataType)))
      }
      spark.createDataFrame(rows, schema)
    }
  }

  object HeldKeys {
    /** Root ids, as the caller gave them. */
    def ids(column: String, ids: Seq[Long]): HeldKeys =
      HeldKeys(StructType(Seq(StructField(column, LongType, nullable = false))), ids.toSet[Any], ids.length)

    /** Whether a key of this shape is held as its bare Catalyst value:
      * one column whose values compare by `equals`. */
    private[TreeWalk] def scalar(schema: StructType): Boolean =
      schema.length == 1 && (schema.head.dataType match {
        case BinaryType | _: StructType | _: ArrayType | _: MapType => false
        case _ => true
      })
  }

  /** `child ∈ keys`, with the key set shipped to each executor once, as
    * a broadcast. An `InSet` literal travels inside every task instead:
    * each task that scans the level deserializes the whole set, and so
    * does each task that reads the level's pinned rows, whose lineage
    * carries it — at 600k keys that cost more than the scan. A
    * broadcast `left_semi` join against the keys as a local frame runs
    * broadcast jobs of its own: a three-level copy-tree export took 12
    * jobs that way, against 6 with this predicate. The keys are a
    * `java.util.HashSet`, whose lookup compares boxed keys by `equals`;
    * a Scala `Set` compares them through `BoxesRunTime`'s cross-type
    * numeric equality, about a sixth of an all-roots walk's profile. */
  case class InBroadcastKeys(child: Expression, keys: Broadcast[java.util.Set[Any]])
      extends UnaryExpression with Predicate {
    @transient private lazy val set = keys.value
    def contains(v: Any): Boolean = set.contains(v)
    override protected def nullSafeEval(v: Any): Any = contains(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val keys = ctx.addReferenceObj("keys", this)
      defineCodeGen(ctx, ev, c => s"$keys.contains($c)")
    }
    override protected def withNewChildInternal(c: Expression): InBroadcastKeys = copy(child = c)
    override def toString: String = s"$child IN broadcast keys ${keys.id}"
  }

  /** One level of [[walkHeld]]: the table, its key columns, its rows (as
    * handed to the visitor), the keys the visitor collected from them,
    * and the visit's wall time (for the verbs: the key collect plus the
    * wait for the previous level's write, not the level's own write). */
  final case class HeldLevel(table: String, columns: Seq[String], rows: DataFrame, keys: HeldKeys, ms: Long) {
    def selection(spark: SparkSession): Selection = Selection(table, columns, keys.toDF(spark), rows)
  }

  /** The distinct non-null values of `columns` in `rows`, and the number
    * of rows, in one job. Each task dedupes its partition and returns
    * its keys as its result, so `spark.driver.maxResultSize`, the
    * driver's bound on what a `collect()` brings back, bounds a level's
    * keys by their serialized bytes: past it Spark fails the job,
    * naming the setting. */
  def collectKeys(rows: DataFrame, columns: Seq[String]): HeldKeys = {
    val spark = rows.sparkSession
    val keyed = rows.select(columns.map(col): _*)
    val schema = keyed.schema
    val scalar = HeldKeys.scalar(schema)
    var values = Set.empty[Any]
    var n = 0L
    spark.sparkContext.runJob(keyed.queryExecution.toRdd,
      (it: Iterator[InternalRow]) => partitionKeys(it, schema, scalar),
      (_: Int, part: (Long, Array[Any])) => {
        n += part._1
        values ++= part._2
      })
    HeldKeys(schema, values, n)
  }

  /** One partition's row count and distinct non-null keys. */
  private def partitionKeys(it: Iterator[InternalRow], schema: StructType,
                            scalar: Boolean): (Long, Array[Any]) = {
    val seen = new java.util.HashSet[Any]
    val dt = schema.head.dataType
    val project = UnsafeProjection.create(schema)
    var n = 0L
    it.foreach { r =>
      n += 1
      if (!schema.indices.exists(r.isNullAt))
        seen.add(
          if (!scalar) project(r).copy()
          else r.get(0, dt) match {
            case s: UTF8String => s.clone()
            case v => v
          })
    }
    (n, seen.toArray)
  }

  /** The walk: seed `rootTable` with `rootIds`, then follow `paths` in
    * order, one level per edge, with each level's keys held on the
    * driver. `pks` gives each table's PK columns; only a leaf may have
    * more than one. `visit(table, keyColumns, rows, level)` handles one
    * level's rows and returns their keys, which the next level filters
    * on; a table reached twice filters on the union of its key sets.
    * `onLevel` sees each level as soon as it is visited. Everything here
    * runs on the caller's thread; a visitor that hands work to a
    * [[LevelWriter]] returns before that work is done. */
  def walkHeld(
      loader: String => DataFrame,
      paths: Seq[String],
      pks: Map[String, Seq[String]],
      rootTable: String,
      rootIds: Seq[Long],
      onLevel: HeldLevel => Unit = _ => ())(
      visit: (String, Seq[String], DataFrame, Int) => HeldKeys): Seq[HeldLevel] = {
    val rootPk = pks.getOrElse(rootTable, sys.error(s"There is no PK for $rootTable"))
    require(rootPk.length == 1,
      s"root table $rootTable must have a single-column PK to seed from scalar ids, got ${rootPk.mkString(",")}")
    val edges = PathDsl.parseAllComposite(paths, pks)
    val acc = scala.collection.mutable.Map.empty[String, HeldKeys]
    val out = Seq.newBuilder[HeldLevel]
    def level(table: String, pk: Seq[String], rows: DataFrame, i: Int): Unit = {
      val t0 = System.nanoTime()
      val keys = visit(table, pk, rows, i)
      val l = HeldLevel(table, pk, rows, keys, (System.nanoTime() - t0) / 1000000)
      out += l
      onLevel(l)
      acc(table) = acc.get(table).fold(keys)(_ ++ keys)
    }
    val root = loader(rootTable)
    level(rootTable, rootPk, root.filter(HeldKeys.ids(rootPk.head, rootIds).in(root, rootPk.head)), 0)
    edges.zipWithIndex.foreach { case (edge, i) =>
      val parentKeys = acc.getOrElse(edge.parentTable,
        sys.error(s"Could not find path to ${edge.parentTable} (edge ${edge.name})"))
      val childPk = pks.getOrElse(edge.childTable, sys.error(s"There is no PK for ${edge.childTable}"))
      val child = loader(edge.childTable)
      level(edge.childTable, childPk, child.filter(parentKeys.in(child, edge.childColumn)), i + 1)
    }
    out.result()
  }
}
