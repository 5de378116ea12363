package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.storage.StorageLevel

import graft.model.{FkEdge, Selection}

/** FK-graph traversal: the reference's `copyTree`/`deleteTree` core
  * (`walkLinked`, `CopyUtils.java:533-574`; semi-join J1
  * `findLinkedRows`, `:480-531`).
  *
  * The reference walks edges in user-given path order, issuing one
  * batched `IN`-list SQL per 500 parent ids. Here each step is a single
  * distributed `left_semi` join: child ⋉ accumulated-parent-keys,
  * projecting the child PK. Key sets stay DataFrames end to end, so the
  * walk scales past driver memory; with AQE on, small key sets become
  * broadcast joins automatically, and the explicit `broadcast` hint is
  * applied when the caller marks the roots as small.
  *
  * Reference error semantics kept:
  * - an edge whose parent has no accumulated ids yet → hard error
  *   ("Could not find path to …", `CopyUtils.java:552-555`);
  * - a child table without a PK → hard error ("no PK for …", `:562-564`).
  *
  * Every level keeps its rows (child ⋉ parent keys, all columns; the
  * id-filtered rows for the root) next to its keys, which are derived
  * from them. An export ([[DumpStore.exportSelection]]) pins a level's
  * rows and then its keys, reads the pinned rows for both its invariant
  * and its payload, and unpersists them once written: one scan of each
  * walked table, with the key levels held until [[release]] because the
  * next level joins through them. The exporter pins, level by level,
  * rather than the walk: unpersisting a frame makes Spark re-plan every
  * cached plan built on it that is not materialized yet, and a key
  * level re-planned while its rows are not cached would read the table
  * again.
  *
  * The reference additionally hard-errors on multi-column PKs
  * (`CopyUtils.java:410-412`); the single-column entry points keep that
  * contract, while [[walkLinkedComposite]] extends the walk to composite
  * child keys (selections then carry one key column per PK column).
  */
object TreeWalk {

  /** Walk `edges` in order from `roots` (table → single-column key DF),
    * returning one Selection per edge, in walk order. Single-column-PK
    * form — the reference's shape.
    *
    * @param broadcastKeys hint key sets as broadcastable (small roots —
    *   the common copy-tree case). With false, Catalyst/AQE decides.
    * @param cache persist each key level (MEMORY_AND_DISK). Use when
    *   key levels are consumed more than once (delete-tree: payload
    *   write, then the next level's join) and call [[release]] when the
    *   walk's outputs are no longer needed — persisted levels otherwise
    *   accumulate in the session for its whole lifetime. Pass false for
    *   single-shot query composition, and for an export, which pins
    *   each level itself.
    */
  def walkLinked(
      loader: String => DataFrame,
      edges: Seq[FkEdge],
      pks: Map[String, String],
      roots: Map[String, DataFrame],
      broadcastKeys: Boolean = true,
      cache: Boolean = true): Seq[Selection] = {
    roots.foreach { case (t, keys) =>
      require(keys.columns.length == 1, s"root keys for $t must be single-column")
    }
    val rootsNamed = roots.map { case (t, keys) =>
      val pk = pks.getOrElse(t, sys.error(s"There is no PK for $t"))
      t -> keys.toDF(pk)
    }
    walkLinkedComposite(loader, edges, pks.map { case (t, c) => t -> Seq(c) },
      rootsNamed, broadcastKeys, cache)
  }

  /** [[walkLinked]] generalized to composite (multi-column) child PKs —
    * the extension past the reference's single-column-PK hard error.
    *
    * `pks` maps each table to its ordered PK column list; `roots` key
    * frames must carry the root table's PK columns (names aligned).
    * Each selection's key frame holds the child's full PK; onward edges
    * join through `edge.parentColumn`, which must be one of the parent's
    * accumulated key columns (an FK can only reference what the walk
    * has selected).
    */
  def walkLinkedComposite(
      loader: String => DataFrame,
      edges: Seq[FkEdge],
      pks: Map[String, Seq[String]],
      roots: Map[String, DataFrame],
      broadcastKeys: Boolean = true,
      cache: Boolean = true): Seq[Selection] = {

    val acc = scala.collection.mutable.Map.empty[String, DataFrame]
    roots.foreach { case (t, keys) =>
      val pk = pks.getOrElse(t, sys.error(s"There is no PK for $t"))
      require(keys.columns.toSeq == pk,
        s"root keys for $t must carry its PK columns ${pk.mkString(",")}, got ${keys.columns.mkString(",")}")
      acc(t) = keys.distinct()
    }

    val out = Seq.newBuilder[Selection]
    edges.foreach { edge =>
      val parentKeys = acc.getOrElse(edge.parentTable,
        sys.error(s"Could not find path to ${edge.parentTable} (edge ${edge.name})"))
      require(parentKeys.columns.contains(edge.parentColumn),
        s"edge ${edge.name} leaves ${edge.parentTable} through ${edge.parentColumn}, " +
          s"which is not among its selected key columns ${parentKeys.columns.mkString(",")}")
      val childPk = pks.getOrElse(edge.childTable,
        sys.error(s"There is no PK for ${edge.childTable}"))
      // every accumulated key set is distinct already; only one column
      // of a composite key needs deduplicating before the broadcast
      val parentIds =
        (if (parentKeys.columns.length == 1) parentKeys
         else parentKeys.select(edge.parentColumn).distinct()).toDF("__key")
      val keys = if (broadcastKeys) broadcast(parentIds) else parentIds
      val child = loader(edge.childTable)
      val childRows = child.join(keys, child(edge.childColumn) === keys("__key"), "left_semi")
      val childKeys = childRows.select(childPk.map(col): _*).distinct()
      // persist each level when reused: the Selection keeps the SAME
      // DataFrame that was persisted, so release() can unpersist it
      if (cache) childKeys.persist(StorageLevel.MEMORY_AND_DISK)
      out += Selection(edge.childTable, childPk, childKeys, childRows)
      acc(edge.childTable) = acc.get(edge.childTable) match {
        case Some(prev) => prev.union(childKeys).distinct()
        case None => childKeys
      }
    }
    out.result()
  }

  /** Unpersist every key level a walk or an export cached. Call after
    * the walk's selections have been fully consumed (payloads written)
    * — a long-lived session otherwise leaks one cached level per edge
    * per walk invocation. */
  def release(selections: Seq[Selection]): Unit =
    selections.foreach(_.keys.unpersist(blocking = false))

  /** `copyTree` (`Main.java:142-155` → `selectAlongPath`,
    * `CopyUtils.java:50-57`): parse paths, seed the root table with a
    * literal id list, walk, and prepend the root's own selection. */
  def selectAlongPath(
      spark: SparkSession,
      loader: String => DataFrame,
      paths: Seq[String],
      pks: Map[String, String],
      rootTable: String,
      rootIds: Seq[Long],
      cache: Boolean = true): Seq[Selection] =
    selectAlongPathComposite(spark, loader, paths,
      pks.map { case (t, c) => t -> Seq(c) }, rootTable, rootIds, cache)

  /** [[selectAlongPath]] over a composite-PK catalog. The root table
    * must still have a single-column PK (root ids are scalars); child
    * tables may have composite PKs. */
  def selectAlongPathComposite(
      spark: SparkSession,
      loader: String => DataFrame,
      paths: Seq[String],
      pks: Map[String, Seq[String]],
      rootTable: String,
      rootIds: Seq[Long],
      cache: Boolean = true): Seq[Selection] = {
    val rootPk = pks.getOrElse(rootTable, sys.error(s"There is no PK for $rootTable"))
    require(rootPk.length == 1,
      s"root table $rootTable must have a single-column PK to seed from scalar ids, got ${rootPk.mkString(",")}")
    // keep only root ids that actually exist (the reference selects the
    // root rows by id too — absent ids select nothing)
    val rootRows = loader(rootTable)
      .filter(col(rootPk.head).isin(rootIds.map(x => lit(x)): _*))
    val rootKeys = rootRows.select(col(rootPk.head))
    val edges = PathDsl.parseAllComposite(paths, pks)
    val walked = walkLinkedComposite(loader, edges, pks,
      Map(rootTable -> rootKeys), cache = cache)
    Selection(rootTable, rootPk, rootKeys, rootRows) +: walked
  }

  /** The equi-join condition matching a table's columns to a selection's
    * key columns, pairwise in order. */
  private def keyCondition(t: DataFrame, sel: Selection): Column =
    sel.columns.zip(sel.keyCols)
      .map { case (c, k) => t(c) === sel.keys(k) }
      .reduce(_ && _)

  /** The materialized rows of a selection — child ⋉ keys (J1 in query
    * form). Broadcast of the key side left to AQE. */
  def selectRows(loader: String => DataFrame, sel: Selection): DataFrame = {
    val t = loader(sel.table)
    t.join(sel.keys, keyCondition(t, sel), "left_semi")
  }

  /** `deleteTree` in query form (J4): target rows whose key is NOT in
    * the selection — `left_anti` (`CopyUtils.java:23-31`,
    * `DeleteByPk.java:15-43`). */
  def antiRows(loader: String => DataFrame, sel: Selection): DataFrame = {
    val t = loader(sel.table)
    t.join(sel.keys, keyCondition(t, sel), "left_anti")
  }
}
