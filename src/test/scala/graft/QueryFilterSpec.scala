package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_ONLY` matcher shared by Verify and Bench. */
class QueryFilterSpec extends AnyFunSuite {
  private val qs = Seq("q03_copy_tree", "q39_ivf", "q390_x", "q40_y").map(_ -> 0)
  private def names(spec: Option[String]) = QueryFilter(qs, spec).map(_._1)

  test("unset keeps every query, in order") {
    assert(names(None) == qs.map(_._1))
  }

  test("entries match by prefix; blanks and spaces around entries are ignored") {
    assert(names(Some("q39")) == Seq("q39_ivf", "q390_x"))
    assert(names(Some("q39_, q03_copy_tree ,,")) == Seq("q03_copy_tree", "q39_ivf"))
  }

  test("an entry that matches no query, or a blank filter, is an error") {
    val e = intercept[IllegalArgumentException](names(Some("q39,q41,zz")))
    assert(e.getMessage.contains("q41, zz"))
    intercept[IllegalArgumentException](names(Some(" , ")))
  }
}
