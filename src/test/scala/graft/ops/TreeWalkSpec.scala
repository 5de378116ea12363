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
    assert(sels(1).rows.count() == gotOrders)
  }

  test("unreachable path errors ('Could not find path to')") {
    val e = intercept[RuntimeException] {
      TreeWalk.selectAlongPath(spark, loader, Seq("orders->lineitem.l_orderkey"),
        SchemaCatalog.walkPks, "customer", 1L to 5L)
    }
    assert(e.getMessage.contains("Could not find path to"))
  }

  test("missing child PK errors ('no PK for')") {
    val e = intercept[RuntimeException] {
      // starPks: lineitem has no PK
      TreeWalk.selectAlongPath(spark, loader, paths, SchemaCatalog.starPks, "customer", 1L to 5L)
    }
    assert(e.getMessage.contains("no PK for lineitem"))
  }

  test("a table reached twice filters onward on the union of its key sets (lineitem through orders and supplier)") {
    import org.apache.spark.sql.functions.col
    val sels = TreeWalk.selectAlongPath(spark, loader,
      Seq("nation->customer.c_nationkey", "nation->supplier.s_nationkey", "customer->orders.o_custkey",
        "orders->lineitem.l_orderkey", "supplier->lineitem.l_suppkey", "lineitem->orders.o_orderkey"),
      SchemaCatalog.walkPks, "nation", Seq(1L, 3L))
    assert(sels.map(_.table) == Seq("nation", "customer", "supplier", "orders", "lineitem", "lineitem", "orders"))
    val custOrders = load("orders").join(load("customer").filter(col("c_nationkey").isin(1, 3)),
      col("o_custkey") === col("c_custkey"), "left_semi").select("o_orderkey")
    val byOrders = load("lineitem").join(custOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select("l_orderkey").distinct()
    val bySupp = load("lineitem").join(load("supplier").filter(col("s_nationkey").isin(1, 3)),
      col("l_suppkey") === col("s_suppkey"), "left_semi").select("l_orderkey").distinct()
    assert(sels(4).keys.count() == byOrders.count())
    assert(sels(5).keys.count() == bySupp.count())
    // the last level walks out of lineitem through both of its key sets
    val union = byOrders.union(bySupp).distinct()
    assert(union.count() > byOrders.count() && union.count() > bySupp.count())
    assert(sels(6).keys.count() == union.count())
  }

  test("composite walk: lineitem selection carries its full (l_orderkey, l_linenumber) key") {
    import org.apache.spark.sql.functions.col
    val li = TreeWalk.walkHeld(loader, paths, SchemaCatalog.compositeWalkPks, "customer", 1L to 10L)(
      TreeWalk.collectOnly).last.selection(spark)
    assert(li.table == "lineitem" && li.columns == Seq("l_orderkey", "l_linenumber"))
    val orderKeys = load("orders").filter(col("o_custkey").between(1, 10)).select("o_orderkey")
    val expPairs = load("lineitem")
      .join(orderKeys, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber").distinct().count()
    assert(li.keys.count() == expPairs)
    // the level's rows and antiRows partition the table on the composite key
    val n = li.rows.count() + TreeWalk.antiRows(loader, li).count()
    assert(n == load("lineitem").count())
  }

  test("composite walk refuses to leave a composite-PK parent through a single-column path") {
    val pks = SchemaCatalog.compositeWalkPks
    val e = intercept[IllegalArgumentException] {
      PathDsl.parseAllComposite(Seq("lineitem->orders.o_orderkey"), pks)
    }
    assert(e.getMessage.contains("composite"))
  }

  test("antiRows is the complement of the walked level's rows") {
    val sels = TreeWalk.selectAlongPath(
      spark, loader, Seq("customer->orders.o_custkey"), SchemaCatalog.walkPks, "customer", 1L to 10L)
    val sel = sels.last
    val n = sel.rows.count() + TreeWalk.antiRows(loader, sel).count()
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
