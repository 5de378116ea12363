package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Preference/RLHF-data preparation: structural validation of
  * preference pairs, per-model win rates from pairwise comparisons,
  * and multi-rater agreement (Fleiss' kappa) over annotation tables.
  * Validation is a narrow per-row pass; win rate and agreement are
  * exact-integer aggregations whose state is bounded by models ×
  * outcomes and items × labels respectively — nothing corpus-sized
  * is ever collected or re-shuffled.
  */
object PrefData {

  /** Structural validation for preference pairs (prompt, chosen,
    * rejected): independent flags — all three fields non-blank,
    * chosen ≠ rejected (byte-identical pairs carry zero preference
    * signal), plus exact char lengths and the `chosen_longer` bit
    * whose corpus mean IS the length-bias audit (reward models
    * famously overfit to length — a mean far from 0.5 flags it).
    * Narrow, zero shuffle. */
  def prefValidate(pairs: DataFrame, idCol: String = "pair_id",
                   promptCol: String = "prompt", chosenCol: String = "chosen",
                   rejectedCol: String = "rejected"): DataFrame = {
    val nb = length(trim(col(promptCol))) > 0 &&
      length(trim(col(chosenCol))) > 0 && length(trim(col(rejectedCol))) > 0
    val distinct = col(chosenCol) =!= col(rejectedCol)
    pairs.select(col(idCol),
      nb.as("non_blank"),
      distinct.as("distinct_pair"),
      length(col(chosenCol)).cast("long").as("n_chosen_chars"),
      length(col(rejectedCol)).cast("long").as("n_rejected_chars"),
      (length(col(chosenCol)) > length(col(rejectedCol)))
        .as("chosen_longer"),
      (nb && distinct).as("valid"))
  }

  /** Per-model win/loss/tie census from pairwise comparisons
    * (`model_a`, `model_b`, `winner` ∈ a | b | tie — the arena
    * format): each comparison explodes to its two participants with
    * an outcome, then ONE model-keyed exact-integer aggregation.
    * `win_frac` excludes ties from the denominator (the arena
    * convention), emitted as a single double division of exact
    * integers; rows with any other winner value are dropped (counted
    * nowhere — a malformed vote is not a tie). Output state is
    * model-bounded. */
  def winRate(comps: DataFrame, modelACol: String = "model_a",
              modelBCol: String = "model_b",
              winnerCol: String = "winner"): DataFrame = {
    val w = col(winnerCol)
    val perSide = comps.filter(w.isin("a", "b", "tie")).select(explode(array(
      struct(col(modelACol).as("model"),
        when(w === "a", "win").when(w === "b", "loss").otherwise("tie")
          .as("outcome")),
      struct(col(modelBCol).as("model"),
        when(w === "b", "win").when(w === "a", "loss").otherwise("tie")
          .as("outcome")))).as("s"))
      .select(col("s.model").as("model"), col("s.outcome").as("outcome"))
    perSide.groupBy("model").agg(
      count(when(col("outcome") === "win", 1)).as("n_wins"),
      count(when(col("outcome") === "loss", 1)).as("n_losses"),
      count(when(col("outcome") === "tie", 1)).as("n_ties"),
      count(lit(1)).as("n_comps"))
      .withColumn("win_frac",
        when(col("n_wins") + col("n_losses") > 0,
          col("n_wins").cast("double") /
            (col("n_wins") + col("n_losses")).cast("double")))
  }

  /** Bradley–Terry arena strengths (Bradley & Terry 1952; the
    * minorization–maximization iteration of Hunter 2004, the standard
    * fit behind chat-arena leaderboards) — [[winRate]]'s
    * graph-aware sibling: win rate ignores WHO a model beat, while
    * the BT fit solves for strengths `p_i` with
    * `P(i beats j) = p_i / (p_i + p_j)`. Each MM round:
    * `p_i ← W_i / Σ_j n_ij / (p_i + p_j)` (ties count half a win for
    * each side, the arena convention), then strengths renormalize to
    * mean 1. Fixed `numIters` rounds from the all-ones start — fully
    * deterministic.
    *
    * ENGINE-EXACT float discipline (the [[Corpus]] 9-dp contract):
    * every division result rounds to the 9-dp grid and every
    * cross-row SUM runs over `DECIMAL(28,9)` casts of those rounded
    * terms — decimal sums are exact and order-free, scalar IEEE ops
    * replay identically — so the fitted doubles hash-match an
    * independent engine's replay bit for bit.
    *
    * Models with ZERO effective wins have no finite MM fixed point —
    * they (and their comparisons) are EXCLUDED from the fit and
    * emitted with a null strength, never a silent drop. Output per
    * model: (model, n_wins, n_ties, n_comps, strength).
    *
    * Scale shape: one corpus-sized aggregation into a models²-bounded
    * pair table; the MM iterations then run ON THE DRIVER over that
    * collected pair table (the documented model-sized bounded-collect
    * class — the same economics as `pqBuildKMeans`'s Lloyd loop). The
    * old per-iteration DataFrame joins paid Catalyst planning + ~5
    * scheduler jobs per round to move a |models|-row table; the
    * comparison stream is still scanned exactly once, and the driver
    * replay reproduces the decimal contract operation for operation
    * (HALF_UP 9-dp rounds, exact decimal(28,9) sums, double casts). */
  def bradleyTerry(comps: DataFrame, numIters: Int = 20,
                   modelACol: String = "model_a",
                   modelBCol: String = "model_b",
                   winnerCol: String = "winner"): DataFrame = {
    require(numIters > 0, s"numIters must be > 0, got $numIters")
    val w = col(winnerCol)
    val valid = comps.filter(w.isin("a", "b", "tie"))
    // per-model effective wins (tie = half) and totals
    val perSide = valid.select(explode(array(
      struct(col(modelACol).as("model"),
        when(w === "a", 1.0).when(w === "tie", 0.5).otherwise(0.0)
          .as("ew"),
        when(w === "a", 1L).otherwise(0L).as("nw"),
        when(w === "tie", 1L).otherwise(0L).as("nt")),
      struct(col(modelBCol).as("model"),
        when(w === "b", 1.0).when(w === "tie", 0.5).otherwise(0.0)
          .as("ew"),
        when(w === "b", 1L).otherwise(0L).as("nw"),
        when(w === "tie", 1L).otherwise(0L).as("nt")))).as("s"))
      .select(col("s.model").as("model"), col("s.ew").as("ew"),
        col("s.nw").as("nw"), col("s.nt").as("nt"))
    val stats = perSide.groupBy("model").agg(
      sum(col("ew")).as("eff_wins"), // exact: a sum on the 0.5 grid
      sum(col("nw")).as("n_wins"),
      sum(col("nt")).as("n_ties"),
      count(lit(1)).as("n_comps")).localCheckpoint()
    val fitted = stats.filter(col("eff_wins") > 0)
      .select("model", "eff_wins").localCheckpoint()
    // directed pair counts restricted to fitted-vs-fitted comparisons
    val pairRows = valid.select(explode(array(
      struct(col(modelACol).as("m1"), col(modelBCol).as("m2")),
      struct(col(modelBCol).as("m1"), col(modelACol).as("m2")))).as("s"))
      .select(col("s.m1").as("m1"), col("s.m2").as("m2"))
      .join(fitted.select(col("model").as("m1")), Seq("m1"))
      .join(fitted.select(col("model").as("m2")), Seq("m2"))
      .groupBy("m1", "m2").agg(count(lit(1)).as("n"))
      .collect() // models²-bounded
    val effRows = fitted.collect() // |models| rows
    val pairs = pairRows.toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val eff = effRows.map(r => r.getString(0) -> r.getDouble(1)).toMap
    val p = (0 until numIters).foldLeft(eff.map { case (m, _) => m -> 1.0 }) {
      (q, _) => mmRound(pairs, eff, q)
    }
    val strength = map_from_arrays(
      array(p.keys.toSeq.sorted.map(lit(_)): _*),
      array(p.keys.toSeq.sorted.map(m => lit(p(m))): _*))
    stats
      .select(col("model"), col("n_wins"), col("n_ties"), col("n_comps"),
        (if (p.isEmpty) lit(null).cast("double")
         else element_at(strength, col("model"))).as("strength"))
  }

  /** One Bradley-Terry MM round on the driver, replaying the decimal
    * contract of the old per-iteration DataFrame plan and of the
    * oracle's SQL: round-to-9dp is HALF_UP on BigDecimal.valueOf
    * (Spark's Round for doubles, non-finite passed through),
    * per-model denominators are EXACT decimal(28,9) sums of the rounded
    * terms, casts to double are BigDecimal.doubleValue. `pairs` holds
    * the directed (m1, m2, n) comparison counts between fitted models,
    * `eff` each model's effective wins, `p` the current strengths. */
  private[ext] def mmRound(pairs: Seq[(String, String, Long)],
                           eff: Map[String, Double],
                           p: Map[String, Double]): Map[String, Double] = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def round9(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else JBD.valueOf(x).setScale(9, RoundingMode.HALF_UP).doubleValue
    def finite(x: Double): Boolean = !x.isNaN && !x.isInfinite
    val den = scala.collection.mutable.LinkedHashMap.empty[String, JBD]
    pairs.foreach { case (m1, m2, n) =>
      // an endpoint can drop out of the p table mid-fit (no finite
      // denominator or strength in an earlier round) — the old inner
      // joins dropped such pair rows; replicate
      (p.get(m1), p.get(m2)) match {
        case (Some(p1), Some(p2)) =>
          val term = round9(n.toDouble / (p1 + p2))
          if (finite(term))
            den.update(m1, den.getOrElse(m1, JBD.ZERO)
              .add(JBD.valueOf(term).setScale(9, RoundingMode.HALF_UP)))
        case _ => ()
      }
    }
    // a non-finite strength (a denominator that rounded to exactly 0
    // makes eff/0 = Infinity) leaves the fit here, as the old plan's
    // double→decimal(28,9) cast degraded it to null: it neither counts
    // in the renormalization nor reaches the next round's pairs
    val upd = p.keysIterator.flatMap { m =>
      den.get(m).map(d => m -> round9(eff(m) / d.doubleValue))
    }.filter { case (_, v) => finite(v) }.toMap
    val nm = upd.size
    val tot = upd.valuesIterator.foldLeft(JBD.ZERO)((acc, v) =>
      acc.add(JBD.valueOf(v).setScale(9, RoundingMode.HALF_UP)))
    upd.map { case (m, v) => m -> round9(v * nm.toDouble / tot.doubleValue) }
  }

  /** Fleiss' kappa over a rating table (`item`, `annotator`,
    * `label`) — the standard multi-rater chance-corrected agreement
    * for annotation-quality gates. Requires a constant rater count:
    * items whose rating count differs from the MODAL count are
    * EXCLUDED and counted in `n_excluded`, never silently mixed
    * (Fleiss is undefined across varying n). All moments are exact
    * integer sums — per-item label counts n_ij, Σn_ij², label
    * marginals (the marginal squares in DECIMAL(38,0) so huge tables
    * cannot wrap int64) — and kappa is ONE double expression over
    * them at the end: `P̄o = (Σ n_ij² − N·n) / (N·n·(n−1))`,
    * `P̄e = Σ_j (Σ_i n_ij)² / (N·n)²`,
    * `κ = (P̄o − P̄e) / (1 − P̄e)`. Output is ONE row
    * `(n_items, n_raters, n_excluded, po_num, po_den, pe_num,
    * pe_den, kappa)` with the pe fraction emitted as exact decimal
    * STRINGS (the hash contract carries no decimal columns) so a
    * reader can re-derive kappa without floats; kappa is null when
    * P̄e = 1 (a single label — chance correction undefined) or
    * n = 1. Two map-side-combined shuffles (item×label, then item)
    * plus one item-keyed join for the kept marginals; no per-item
    * state beyond its label histogram. */
  def fleissKappa(ratings: DataFrame, itemCol: String = "item_id",
                  annotCol: String = "annotator",
                  labelCol: String = "label"): DataFrame = {
    val cell = ratings.groupBy(col(itemCol).as("item"),
      col(labelCol).as("label")).agg(count(lit(1)).as("nij"))
    val perItem = cell.groupBy("item").agg(
      sum("nij").as("n"), sum(col("nij") * col("nij")).as("sq"))
    // modal rater count decides which items are in-contract; the
    // candidate set is tiny (distinct rating counts), ties break low
    val nMode = perItem.groupBy("n").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("n").asc).limit(1)
      .select(col("n").as("n_raters"))
    val tagged = perItem.join(broadcast(nMode))
    val kept = tagged.filter(col("n") === col("n_raters"))
    val dec = "decimal(38,0)"
    val marg = cell.join(kept.select("item"), "item")
      .groupBy("label").agg(sum("nij").as("mj"))
      .agg(coalesce(sum(col("mj").cast(dec) * col("mj").cast(dec)),
        lit(0L).cast(dec)).as("__pe_num"))
    val agg = kept.groupBy("n_raters").agg(
      count(lit(1)).as("n_items"), sum("sq").as("sumsq"))
    val nExcl = tagged.filter(col("n") =!= col("n_raters"))
      .agg(count(lit(1)).as("n_excluded"))
    val out = agg.join(broadcast(nExcl)).join(broadcast(marg))
    val peDen = (col("n_items").cast(dec) * col("n_raters")) *
      (col("n_items").cast(dec) * col("n_raters"))
    val po = (col("sumsq") - col("n_items") * col("n_raters"))
      .cast("double") /
      (col("n_items") * col("n_raters") * (col("n_raters") - 1L))
        .cast("double")
    val pe = col("__pe_num").cast("double") / peDen.cast("double")
    out.select(col("n_items"), col("n_raters"), col("n_excluded"),
      (col("sumsq") - col("n_items") * col("n_raters")).as("po_num"),
      (col("n_items") * col("n_raters") * (col("n_raters") - 1L))
        .as("po_den"),
      col("__pe_num").cast("string").as("pe_num"),
      peDen.cast("string").as("pe_den"),
      when(col("n_raters") > 1L && col("__pe_num").cast(dec) < peDen,
        (po - pe) / (lit(1.0) - pe)).as("kappa"))
  }
}
