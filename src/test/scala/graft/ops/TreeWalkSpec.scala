package graft.ops

import graft.SparkSpec
import graft.catalog.SchemaCatalog

class TreeWalkSpec extends SparkSpec {
  val loader = (name: String) => load(name)
  val paths = Seq("customer->orders.o_custkey", "orders->lineitem.l_orderkey")

  test("copy-tree golden case: selections match direct subqueries (FIXTURES.md §B)") {
    val sels = TreeWalk.selectAlongPath(
      spark, loader, paths, SchemaCatalog.walkPks, "customer", 1L to 10L)
    assert(sels.map(_.table) == Seq("customer", "orders", "lineitem"))

    import org.apache.spark.sql.functions.col
    val expOrders = load("orders").filter(col("o_custkey").between(1, 10)).count()
    val gotOrders = sels(1).keys.count()
    assert(gotOrders == expOrders)

    val orderKeys = load("orders").filter(col("o_custkey").between(1, 10)).select("o_orderkey")
    val expLi = load("lineitem")
      .join(orderKeys, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select("l_orderkey").distinct().count()
    assert(sels(2).keys.count() == expLi)

    // cardinality invariant on the orders selection (CopyUtils.java:44-46)
    assert(TreeWalk.selectRows(loader, sels(1)).count() == gotOrders)
  }

  test("unreachable path errors ('Could not find path to')") {
    val edges = PathDsl.parseAll(Seq("orders->lineitem.l_orderkey"), SchemaCatalog.walkPks)
    val e = intercept[RuntimeException] {
      TreeWalk.walkLinked(loader, edges, SchemaCatalog.walkPks, roots = Map.empty)
    }
    assert(e.getMessage.contains("Could not find path to"))
  }

  test("missing child PK errors ('no PK for')") {
    val edges = PathDsl.parseAll(paths, SchemaCatalog.walkPks)
    import org.apache.spark.sql.functions.col
    val roots = Map("customer" -> load("customer").filter(col("c_custkey") <= 5).select("c_custkey"))
    val e = intercept[RuntimeException] {
      TreeWalk.walkLinked(loader, edges, SchemaCatalog.starPks, roots) // starPks: lineitem has no PK
    }
    assert(e.getMessage.contains("no PK for lineitem"))
  }

  test("multi-parent walk accumulates key unions (part AND supplier into lineitem)") {
    import org.apache.spark.sql.functions.col
    val pks = SchemaCatalog.walkPks + ("lineitem" -> "l_orderkey")
    val edges = PathDsl.parseAll(
      Seq("part->lineitem.l_partkey", "supplier->lineitem.l_suppkey"), pks)
    val roots = Map(
      "part" -> load("part").filter(col("p_partkey") <= 5).select("p_partkey"),
      "supplier" -> load("supplier").filter(col("s_suppkey") <= 2).select("s_suppkey"))
    val sels = TreeWalk.walkLinked(loader, edges, pks, roots)
    assert(sels.map(_.table) == Seq("lineitem", "lineitem"))
    val byPart = load("lineitem").filter(col("l_partkey") <= 5)
      .select("l_orderkey").distinct().count()
    val bySupp = load("lineitem").filter(col("l_suppkey") <= 2)
      .select("l_orderkey").distinct().count()
    assert(sels(0).keys.count() == byPart)
    assert(sels(1).keys.count() == bySupp)
  }

  test("composite walk: lineitem selection carries its full (l_orderkey, l_linenumber) key") {
    import org.apache.spark.sql.functions.col
    val sels = TreeWalk.selectAlongPathComposite(
      spark, loader, paths, SchemaCatalog.compositeWalkPks, "customer", 1L to 10L)
    val li = sels.last
    assert(li.table == "lineitem" && li.columns == Seq("l_orderkey", "l_linenumber"))
    val orderKeys = load("orders").filter(col("o_custkey").between(1, 10)).select("o_orderkey")
    val expPairs = load("lineitem")
      .join(orderKeys, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber").distinct().count()
    assert(li.keys.count() == expPairs)
    // selectRows/antiRows partition the table on the composite key
    val n = TreeWalk.selectRows(loader, li).count() + TreeWalk.antiRows(loader, li).count()
    assert(n == load("lineitem").count())
  }

  test("composite walk refuses to leave a composite-PK parent through a single-column path") {
    val pks = SchemaCatalog.compositeWalkPks
    val e = intercept[IllegalArgumentException] {
      PathDsl.parseAllComposite(Seq("lineitem->orders.o_orderkey"), pks)
    }
    assert(e.getMessage.contains("composite"))
  }

  test("antiRows is the complement of selectRows") {
    val sels = TreeWalk.selectAlongPath(
      spark, loader, Seq("customer->orders.o_custkey"), SchemaCatalog.walkPks, "customer", 1L to 10L)
    val sel = sels.last
    val n = TreeWalk.selectRows(loader, sel).count() + TreeWalk.antiRows(loader, sel).count()
    assert(n == load("orders").count())
  }

  test("held keys filter a column of another integral type by the keys that fit it") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val big = (1L << 32) + 1
    val keys = TreeWalk.HeldKeys.ids("k", Seq(1L, -5L, big, 1L << 40))
    assert(keys.as(IntegerType).values == Set[Any](1, -5))
    assert(keys.as(IntegerType).as(LongType).values == Set[Any](1L, -5L))
    // nation's key is an int: a bigint id past the int range equals no row,
    // where a narrowing cast would have wrapped it onto n_nationkey 1
    val nation = load("nation")
    assert(nation.filter(TreeWalk.HeldKeys.ids("n_nationkey", Seq(big)).in(nation, "n_nationkey")).count() == 0)
    assert(nation.filter(keys.in(nation, "n_nationkey")).select("n_nationkey").collect().map(_.getInt(0)).toSeq == Seq(1))
  }
}
