package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class PrefDataSpec extends SparkSpec {
  import spark.implicits._

  test("prefValidate: blank/identical/length flags independent; exact " +
    "char counts") {
    val d = Seq(
      (1L, "p", "longer answer", "short"),
      (2L, "p", "same", "same"),
      (3L, " ", "a", "b"),
      (4L, "p", "a", "bb")
    ).toDF("pair_id", "prompt", "chosen", "rejected")
    val out = PrefData.prefValidate(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Boolean]("valid") && r1.getAs[Boolean]("chosen_longer"))
    assert(r1.getAs[Long]("n_chosen_chars") == 13L &&
      r1.getAs[Long]("n_rejected_chars") == 5L)
    assert(!out(2L).getAs[Boolean]("distinct_pair") &&
      !out(2L).getAs[Boolean]("valid"))
    assert(!out(3L).getAs[Boolean]("non_blank") &&
      !out(3L).getAs[Boolean]("valid"))
    assert(out(4L).getAs[Boolean]("valid") &&
      !out(4L).getAs[Boolean]("chosen_longer"))
  }

  test("winRate: both sides counted, ties excluded from win_frac, " +
    "malformed winner dropped entirely") {
    val d = Seq(
      ("x", "y", "a"), ("x", "y", "a"), ("x", "y", "b"),
      ("y", "z", "tie"), ("x", "z", "bogus")
    ).toDF("model_a", "model_b", "winner")
    val out = PrefData.winRate(d).collect()
      .map(r => r.getString(0) -> r).toMap
    val x = out("x")
    assert(x.getAs[Long]("n_wins") == 2L && x.getAs[Long]("n_losses") == 1L &&
      x.getAs[Long]("n_ties") == 0L && x.getAs[Long]("n_comps") == 3L)
    assert(x.getAs[Double]("win_frac") == 2.0 / 3)
    val y = out("y")
    assert(y.getAs[Long]("n_wins") == 1L && y.getAs[Long]("n_losses") == 2L &&
      y.getAs[Long]("n_ties") == 1L && y.getAs[Long]("n_comps") == 4L)
    val z = out("z")  // bogus row contributed nothing
    assert(z.getAs[Long]("n_comps") == 1L && z.getAs[Long]("n_ties") == 1L)
    assert(z.isNullAt(z.fieldIndex("win_frac"))) // 0 decisive comps
  }

  test("bradleyTerry MM round: a strength whose denominator rounds to 0 " +
    "(eff/0) leaves the fit") {
    // a's huge strength rounds every term against it to 0, so a and b
    // (who plays only a) get eff/0 = Infinity: both leave, and c and d
    // renormalize alone — c: den = r9(1/2) + 0 = 0.5, upd 3.0;
    // d: den 0.5, upd 1.0; nm = 2, tot = 4
    val pairs = Seq(("a", "b", 1L), ("b", "a", 1L), ("a", "c", 1L),
      ("c", "a", 1L), ("c", "d", 1L), ("d", "c", 1L))
    val eff = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.5, "d" -> 0.5)
    val p = Map("a" -> 1e12, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0)
    val next = PrefData.mmRound(pairs, eff, p)
    assert(next == Map("c" -> 1.5, "d" -> 0.5))
    // the next round skips every pair through a or b
    assert(PrefData.mmRound(pairs, eff, next) == Map("c" -> 1.5, "d" -> 0.5))
  }

  test("bradleyTerry matches a JVM reference MM fit round for " +
    "round; a stronger model ranks higher; zero-win models are " +
    "excluded with null strength") {
    // a beats everyone, b beats c, c only loses; z never appears
    // with a win or tie
    val comps = Seq(
      ("a", "b", "a"), ("a", "b", "a"), ("a", "c", "a"),
      ("b", "c", "b"), ("b", "a", "tie"), ("c", "a", "b"),
      ("c", "b", "tie"), ("a", "z", "a"), ("b", "z", "a"),
      ("a", "b", "bogus")
    ).toDF("model_a", "model_b", "winner")
    val got = PrefData.bradleyTerry(comps, numIters = 12)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(got("z")._4.isEmpty, "zero-win model keeps null strength")
    assert(got("z")._3 == 2L)
    // JVM reference with the identical 9-dp discipline
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val valid = Seq(
      ("a", "b", "a"), ("a", "b", "a"), ("a", "c", "a"),
      ("b", "c", "b"), ("b", "a", "tie"), ("c", "a", "b"),
      ("c", "b", "tie"), ("a", "z", "a"), ("b", "z", "a"))
    val eff = scala.collection.mutable.Map[String, Double]()
    for ((ma, mb, w) <- valid) {
      eff(ma) = eff.getOrElse(ma, 0.0) +
        (if (w == "a") 1.0 else if (w == "tie") 0.5 else 0.0)
      eff(mb) = eff.getOrElse(mb, 0.0) +
        (if (w == "b") 1.0 else if (w == "tie") 0.5 else 0.0)
    }
    val fitModels = eff.filter(_._2 > 0).keySet.toSeq.sorted
    val pairs = scala.collection.mutable.Map[(String, String), Long]()
    for ((ma, mb, _) <- valid
         if fitModels.contains(ma) && fitModels.contains(mb)) {
      pairs((ma, mb)) = pairs.getOrElse((ma, mb), 0L) + 1
      pairs((mb, ma)) = pairs.getOrElse((mb, ma), 0L) + 1
    }
    var ps = fitModels.map(_ -> 1.0).toMap
    for (_ <- 1 to 12) {
      val upd = fitModels.map { m =>
        // DECIMAL sums are exact, so a plain sum of 9-dp terms is too
        val den = BigDecimal(pairs.collect {
          case ((m1, m2), n) if m1 == m =>
            BigDecimal(r9(n.toDouble / (ps(m1) + ps(m2))))
        }.sum.toDouble)
        m -> r9(eff(m) / den.toDouble)
      }.toMap
      val tot = upd.values.map(v => BigDecimal(v)).sum
      ps = upd.map { case (m, v) =>
        m -> r9(v * fitModels.size / tot.toDouble) }
    }
    for (m <- fitModels)
      assert(got(m)._4.contains(ps(m)), s"$m: ${got(m)._4} vs ${ps(m)}")
    assert(ps("a") > ps("b") && ps("b") > ps("c"))
  }

  test("fleissKappa: exact moments on a known table; off-modal item " +
    "excluded; perfect-agreement single-label kappa null") {
    // 4 items x 3 raters: items 1,2 unanimous L0; item 3 split 2/1;
    // item 4 has only TWO ratings -> excluded from the modal-3 pool
    val d = Seq(
      (1L, "a0", "L0"), (1L, "a1", "L0"), (1L, "a2", "L0"),
      (2L, "a0", "L0"), (2L, "a1", "L0"), (2L, "a2", "L0"),
      (3L, "a0", "L0"), (3L, "a1", "L1"), (3L, "a2", "L1"),
      (4L, "a0", "L0"), (4L, "a1", "L0")
    ).toDF("item_id", "annotator", "label")
    val r = PrefData.fleissKappa(d).collect()(0)
    assert(r.getAs[Long]("n_items") == 3L && r.getAs[Long]("n_raters") == 3L)
    assert(r.getAs[Long]("n_excluded") == 1L)
    // sq: 9 + 9 + (1+4) = 23; po_num = 23 - 9 = 14; po_den = 18
    assert(r.getAs[Long]("po_num") == 14L && r.getAs[Long]("po_den") == 18L)
    // marginals over kept: L0 = 7, L1 = 2 -> pe_num = 49 + 4 = 53
    assert(r.getAs[String]("pe_num") == "53" &&
      r.getAs[String]("pe_den") == "81")
    val po = 14.0 / 18; val pe = 53.0 / 81
    assert(r.getAs[Double]("kappa") == (po - pe) / (1 - pe))
    // all-unanimous single label: pe = 1 -> kappa null
    val u = Seq((1L, "a0", "L0"), (1L, "a1", "L0"),
      (2L, "a0", "L0"), (2L, "a1", "L0")).toDF("item_id", "annotator", "label")
    val ur = PrefData.fleissKappa(u).collect()(0)
    assert(ur.getAs[Long]("po_num") == ur.getAs[Long]("po_den"))
    assert(ur.isNullAt(ur.fieldIndex("kappa")))
  }

  test("tableToMarkdown: header separator, pipe escaping, bare " +
    "single-row table") {
    val html = "<table><tr><th>A</th><th>B|C</th></tr>" +
      "<tr><td>1</td><td>2</td></tr></table>" +
      "<table><tr><td>solo</td></tr></table>"
    val out = TextAnalysis.tableToMarkdown(TextAnalysis.htmlTables(
        Seq((1L, html)).toDF("doc_id", "html")))
      .orderBy("table_idx").collect()
    assert(out(0).getAs[Long]("n_rows") == 2L &&
      out(0).getAs[Long]("n_cols") == 2L)
    assert(out(0).getAs[String]("markdown") ==
      "| A | B\\|C |\n| --- | --- |\n| 1 | 2 |")
    assert(out(1).getAs[String]("markdown") == "| solo |")
  }
}
