package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Physical-plan regression tests: the properties that make these
  * queries scale (pushdown, pruning, join strategy, top-k operator)
  * asserted so a refactor can't silently regress them.
  */
class PlanSpec extends SparkSpec {

  private def run(name: String): DataFrame = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.count() // force AQE final plan
    df
  }
  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeLike => e }.size

  test("q01: filter pushed to parquet, only the 6 needed columns read") {
    val df = run("q01_pricing_summary")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    val scanCols = """FileScan parquet \[([^\]]*)\]""".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse(fail(s"no FileScan in:\n$p"))
    val names = scanCols.split(",").map(_.trim.takeWhile(_ != '#')).toSet
    assert(names == Set("l_quantity", "l_extendedprice", "l_discount",
      "l_returnflag", "l_linestatus", "l_shipdate"))
  }

  test("q02: IN-list pushed to the scan") {
    val p = plan(run("q02_inlist_scan"))
    assert(p.contains("PushedFilters: [In(l_orderkey"))
  }

  test("q03: copy-tree walk filters lineitem by the held keys: pushed range, broadcast key set, no join") {
    val df = run("q03_copy_tree")
    val p = plan(df)
    assert("""PushedFilters: \[IsNotNull\(l_orderkey\), GreaterThanOrEqual\(l_orderkey,\d+\), LessThanOrEqual\(l_orderkey,\d+\)\]""".r
      .findFirstIn(p).isDefined, p)
    assert(p.contains("IN broadcast keys"), p)
    assert(!p.contains("Join"), p)
    // the orderBy's exchange only
    assert(shuffles(df) <= 1, p)
    assert("""Exchange \w+""".r.findAllIn(p).forall(_ == "Exchange rangepartitioning"), p)
  }

  test("q06: top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(run("q06_topk"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q197: robots rules broadcast into the URL stream; corpus never " +
    "shuffle-joined") {
    val p = plan(run("q197_robots_gate"))
    assert(p.contains("BroadcastHashJoin"),
      s"domain-bounded rules must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"URL stream must not reshuffle for the rules join:\n$p")
  }

  test("q196: outlink extraction stays narrow — the only exchange is the " +
    "presentation sort") {
    val df = run("q196_extract_links")
    assert(shuffles(df) <= 1,
      s"extract+resolve must not shuffle (got ${shuffles(df)}):\n${plan(df)}")
  }

  test("q140: semantic decontamination broadcasts the eval side; corpus never shuffle-joined") {
    val p = plan(run("q140_semantic_decon"))
    assert(p.contains("BroadcastHashJoin"),
      s"eval side must broadcast into the bucket join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-sized shuffle join in the screening stage:\n$p")
  }

  test("q63: estimator joins broadcast the candidate pairs, not the corpus") {
    val p = plan(run("q63_jaccard_estimate"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-sized shuffle join in the screening stage:\n$p")
  }

  test("q62: vocab top-k is TakeOrderedAndProject over a partial-aggregated group-by") {
    val p = plan(run("q62_vocab"))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"expected map-side partial aggregation in:\n$p")
  }

  test("q10: five-way join is all broadcast, single aggregation shuffle") {
    val df = run("q10_join_revenue")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    // agg exchange + orderBy exchange only
    assert(shuffles(df) <= 2, s"expected ≤2 shuffles, got ${shuffles(df)}:\n$p")
  }

  test("q20: text stats are a narrow projection — zero shuffles before ordering") {
    val df = ext.TextAnalysis.tokenStats(load("documents"))
    df.count()
    assert(shuffles(df) == 0, plan(df))
  }

  test("q28: similarity scan uses the codegen'd dot_product, queries broadcast") {
    val df = run("q28_cosine_topk")
    val p = plan(df)
    assert(p.contains("dot_product"))
    assert(p.contains("Broadcast"))
  }

  test("q44: interval join is an equi-join keyed on (user_id, time bucket), " +
    "never a bare per-user join") {
    val df = run("q44_interval_join")
    val p = plan(df)
    // the bucket column must be part of the join key (hash or sort-merge),
    // and no nested-loop/cartesian fallback may appear
    assert(p.contains("__b"), s"bucket key missing from plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    val joinKeys = """(?s)Join [^\n]*\[user_id[^\]]*__b""".r
    assert(joinKeys.findFirstIn(p).isDefined
      || p.contains("keys=[user_id") && p.contains("__b"),
      s"join not keyed on (user_id, __b):\n$p")
  }

  test("q49: near-dup candidates join on the LSH bucket (no cross product)") {
    val df = run("q49_neardup_lsh")
    val p = plan(df)
    assert(p.contains("bucket"), s"no bucket key in plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q56: salted join keys include the salt; no nested-loop fallback") {
    val df = run("q56_salted_join")
    val p = plan(df)
    assert(p.contains("__salt"), s"salt key missing:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q34: multimodal feature extraction is narrow — only the final sort shuffles") {
    val df = run("q34_multimodal_features")
    assert(shuffles(df) <= 1, plan(df))
  }

  test("q53: stratified sample reads only the two projected columns, narrow filter") {
    val df = run("q53_stratified_sample")
    assert(shuffles(df) <= 1, plan(df))
    val p = plan(df)
    val scanCols = """FileScan parquet \[([^\]]*)\]""".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse(fail(s"no FileScan in:\n$p"))
    val names = scanCols.split(",").map(_.trim.takeWhile(_ != '#')).toSet
    assert(names == Set("vec_id", "label"), s"embedding column not pruned: $names")
  }

  test("q54: chunking is a narrow explode — only the final sort shuffles") {
    val df = run("q54_chunking")
    assert(shuffles(df) <= 1, plan(df))
  }

  test("q48 candidate generation: one bucket group-by, no join at all") {
    import graft.ext.Dedup
    val docs = load("documents")
    val pairs = Dedup.candidatePairs(
      Dedup.lshBands(Dedup.minhash(docs, k = 6), bands = 3, rowsPerBand = 2))
    pairs.count()
    val p = plan(pairs)
    assert(p.contains("band_key"), s"no band_key in plan:\n$p")
    // pair expansion is in-bucket array combinatorics after a single
    // aggregation — the plan must contain NO join of any kind
    assert(!p.contains("Join"), s"candidate generation must be join-free:\n$p")
    // full query still free of pathological joins
    val full = run("q48_lsh_candidates")
    val fp = plan(full)
    assert(!fp.contains("BroadcastNestedLoopJoin") && !fp.contains("CartesianProduct"))
  }

  test("q42: repetition score is a narrow array scan — only the final sort shuffles") {
    val df = run("q42_repetition")
    assert(shuffles(df) <= 1, s"expected only the orderBy exchange:\n${plan(df)}")
  }

  test("q52: blocked simhash near-dup is join-free (pigeonhole buckets, in-bucket pairs)") {
    val p = plan(run("q52_simhash_neardup"))
    assert(!p.contains("Join"), s"blocked near-dup must be join-free:\n$p")
  }

  test("q39: deterministic-IVF probe reads the persisted index partition-pruned") {
    val df = run("q39_ann_ivf")
    val p = plan(df)
    // the property that pays at 100 TB: probing nProbe of 2^planes
    // cells must scan only those cells' directories. The probe join
    // broadcasts the (query, cell) set, so Spark prunes via a dynamic
    // partition filter on __cell reusing that broadcast.
    assert(p.contains("PartitionFilters: [isnotnull(__cell"),
      s"probe scan not partition-filtered on cell id:\n$p")
    assert(p.contains("dynamicpruning"),
      s"probe scan lacks dynamic partition pruning:\n$p")
  }

  test("q85: ADC scores the corpus from its codes via a broadcast LUT join") {
    val df = run("q85_pq_adc")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"the (m, code) lookup table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product in plan:\n$p")
  }

  test("q58: IVF probe joins candidates on the cell id; no cartesian product") {
    val df = run("q58_ann_ivf_recall")
    val p = plan(df)
    assert(p.contains("__cell"), s"no cell-keyed join in plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product in plan:\n$p")
  }

  test("q72: random projection is a narrow scan — only the final sort shuffles") {
    val df = run("q72_random_projection")
    assert(shuffles(df) <= 1, s"expected only the orderBy exchange:\n${plan(df)}")
    assert(plan(df).contains("dot_product"), "projection must use the codegen'd dot")
  }

  test("q71: k-NN classify broadcasts the query side; no nested-loop joins") {
    val df = run("q71_knn_classify")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"query side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product in plan:\n$p")
  }

  test("q68: tf-idf df-join is broadcast (vocabulary side), no extra shuffles") {
    val df = run("q68_tfidf")
    val p = plan(df)
    assert(!p.contains("CartesianProduct"))
    // tf (doc,token) shuffle + df (token) shuffle + the 1-row N
    // aggregate (SinglePartition — replaced the driver-side count
    // action) + per-doc window + final sort
    assert(shuffles(df) <= 5, s"tf-idf shuffle count regressed:\n$p")
  }

  test("q80: bm25 is two narrow passes — zero data shuffles, map-side top-k, no driver action") {
    val df = run("q80_bm25")
    val p = plan(df)
    // corpus stats (N, total len, per-term df) are ONE 1-row aggregate
    // broadcast into the scoring scan; no (doc, token) shuffle exists
    assert(!p.contains("Exchange hashpartitioning"),
      s"bm25 should have no keyed shuffle at all:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"ranking should be a map-side top-k:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 2, s"expected stats + scoring scans only, found $scans:\n$p")
  }

  test("q69: sequence packing shuffles only on (source, shard) then the group-by") {
    val df = run("q69_sequence_pack")
    assert(shuffles(df) <= 3, s"packing shuffle count regressed:\n${plan(df)}")
  }

  test("q89: per-source cap aggregates map-side — no Window, no corpus sort") {
    val df = run("q89_cap_per_source")
    val p = plan(df)
    assert(!p.contains("Window"), s"cap must not run as a window row_number:\n$p")
    assert(p.contains("partial_topk") || p.contains("ObjectHashAggregate"),
      s"expected the TopK aggregator's partial aggregation:\n$p")
  }

  test("q91: gopher rules are a narrow scan — only the final sort shuffles") {
    val df = run("q91_gopher_rules")
    assert(shuffles(df) <= 1,
      s"rule audit must stay narrow:\n${plan(df)}")
  }

  test("q103: linear classifier inference is a narrow scan — only the final sort shuffles") {
    val df = run("q103_linear_score")
    assert(shuffles(df) <= 1,
      s"model inference must run at scan speed:\n${plan(df)}")
  }

  test("q104: within-doc sentence dedup is a narrow scan — only the final sort shuffles") {
    val df = run("q104_dedup_sentences")
    assert(shuffles(df) <= 1,
      s"per-row cleaning must not shuffle:\n${plan(df)}")
  }

  test("q105: exact quantile reads the source parquet once — histogram and " +
    "boundary passes re-read the checkpointed projection") {
    val df = run("q105_exact_quantile")
    val p = plan(df)
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans <= 1, s"expected ≤1 parquet scan, the rest from the checkpoint:\n$p")
  }

  test("q106: perplexity filter runs the LM scoring pipeline once — the final " +
    "plan joins checkpoints, not a re-derived corpus") {
    val df = run("q106_perplexity_filter")
    val p = plan(df)
    // documents parquet feeds the ONE scored build (token stream + source
    // attach = up to 2 scans inside bigramLogProb's own checkpointed
    // stage); the cutoff and final filter read materialized state only
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans <= 1, s"expected the final plan to read checkpoints:\n$p")
  }

  test("q107: count-min probe broadcasts the sketch; build partial-aggregates") {
    val df = run("q107_count_min")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"sketch probe must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join in the probe:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"sketch build must map-side combine:\n$p")
  }

  test("q101: trigram occurrence stream is materialized once — the final plan " +
    "re-reads checkpoints, not the corpus") {
    val df = run("q101_trigram_lm")
    val p = plan(df)
    // tris and c123 are localCheckpoint'ed; every lower-order count
    // derives from c123, so the executed plan may touch the documents
    // parquet at most twice (it touches it zero times when both
    // checkpoints hold) — a regression to per-count corpus passes
    // shows up as 4+ scans
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"corpus re-scanned $scans times:\n$p")
  }

  test("q98: token-budget per-document cumsum partitions by (source, bucket) — " +
    "never a whole-stratum sort") {
    val df = run("q98_token_budget")
    val p = plan(df)
    val winSpecs = """windowspecdefinition\(([^)]+)\)""".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(winSpecs.nonEmpty, s"no window in plan:\n$p")
    // every window ordered by the md5 priority (the per-document pass)
    // must also partition on the __b hex-prefix bucket: a mega-source
    // then costs 256 bounded sorts, not one single-task sort
    val perDoc = winSpecs.filter(_.contains("__h"))
    assert(perDoc.nonEmpty && perDoc.forall(_.contains("__b")),
      s"per-document cumsum not bucket-bounded:\n$p")
  }

  test("q87: 64-bit near-dup buckets by (block, value) — no sort-merge join, no window") {
    val df = run("q87_simhash64_neardup")
    val p = plan(df)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"pair generation must be bucket-local, not a join:\n$p")
  }

  test("q96: incremental screen broadcasts the batch bands, never shuffles the corpus side") {
    val df = run("q96_incremental_dedup")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"batch bands must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product in plan:\n$p")
  }

  test("q97: bloom prefilter sits in the scan stage before the exact semi-join") {
    val df = run("q97_decontaminate_bloom")
    val p = plan(df)
    assert(p.contains("bloom_might_contain"),
      s"runtime filter missing from the plan:\n$p")
    assert(p.contains("LeftSemi"), s"exact verification join missing:\n$p")
  }

  test("q225/q227: code-corpus language id and stats stay narrow — the " +
    "only exchange is the presentation sort") {
    for (q <- Seq("q225_code_langid", "q227_code_stats")) {
      val df = run(q)
      assert(shuffles(df) <= 1, s"$q must not shuffle beyond the sort:\n${plan(df)}")
    }
  }

  test("q232: repo packing shuffles ONCE on the repo key (plus the " +
    "presentation sort) — files never reshuffle") {
    val df = run("q232_repo_pack")
    assert(shuffles(df) <= 2,
      s"repoPack is one repo-keyed exchange + sort:\n${plan(df)}")
    assert(!plan(df).contains("SortMergeJoin"))
  }

  test("q240: table-to-markdown is two keyed aggregations — row grain " +
    "then table grain — never a join") {
    val df = run("q240_table_markdown")
    val p = plan(df)
    assert(!p.contains("Join"), s"no join belongs in the render:\n$p")
  }

  test("q245: bitext candidates come from an equi bucket join — no " +
    "cartesian shapes, windows partitioned") {
    val df = run("q245_bitext_mine")
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"bucket join must stay equi:\n$p")
  }

  test("q241: chunking is a narrow explode — the only exchange is the " +
    "presentation sort") {
    val df = run("q241_chunk_text")
    assert(shuffles(df) <= 1, s"chunkText must not shuffle:\n${plan(df)}")
  }

  test("plan hygiene sweep: no cartesian/nested-loop joins anywhere except " +
    "the labeled exact baselines") {
    // q30/q27 are the documented quadratic correctness baselines (their
    // LSH-path twins q49/q48 are asserted join-shape-clean above);
    // q28/q71's neighbor scans broadcast a FILTERED query set against
    // the corpus with a non-equi self-exclusion — the intended
    // broadcast-nested-loop over |Q|·N, not an accidental cross product
    // q39/q58's IVF probe selection is a broadcast cross of the query
    // set against the nLists centroids (|Q|·nLists rows — the coarse
    // quantizer's definition, not a data-sized product)
    // q68/q80/q95/q101's corpus statistics are a ONE-ROW aggregate broadcast
    // cross-joined into the scoring pass (the replacement for a
    // driver-side count()/head() action) — a 1×N join, not a product
    // q94 shares q39/q58's probe-cell selection (|Q|·nLists centroid
    // cross — the coarse quantizer's definition); q102 is q58's
    // harness over IVF-PQ (same brute-force exact side by design)
    // q107's error-band check broadcasts the ONE-ROW corpus total into
    // the estimate-vs-exact comparison (same 1×N class as q68/q101);
    // q109's probe is ivfQuery's |Q|·nLists centroid cross (same coarse
    // quantizer shape already adjudicated for q39/q58/q94); q117's two
    // corpus token totals and q118's N1+(··) distinct-bigram total are
    // 1-row aggregates broadcast into model scoring (the q68/q80
    // class — the replacement for a driver-side count() action);
    // q119's unseen-bigram floor ln(1/(N_in+1)) is the same 1-row
    // aggregate broadcast cross (q68/q117/q118 class); q124's
    // label-inequality mining scan is q28/q71's intended broadcast
    // |Q|·N shape; q125's normalizing total, q126's histogram totals
    // and q128's 1-row cap are the q68 1-row cross; q127's centroid
    // self-pairing is a |labels|² model-sized cross (q39 class)
    val exactBaselines = Set(
      "q30_neardup_cosine", "q27_jaccard_topk", "q28_cosine_topk",
      "q71_knn_classify", "q58_ann_ivf_recall", "q39_ann_ivf",
      "q68_tfidf", "q80_bm25", "q94_ivfpq", "q95_heavy_hitters",
      "q101_trigram_lm", "q102_ivfpq_recall", "q107_count_min",
      "q109_ivf_append", "q117_dsir_sample", "q118_kneser_ney",
      "q119_moore_lewis", "q124_hard_negatives", "q125_temperature_weights",
      "q126_psi_drift", "q127_label_confusion", "q128_source_caps",
      // q130: the PMI N total, q68 1-row cross; q133: the audit-slice
      // quality harness — exact truth side quadratic BY DESIGN (q58's
      // class) and 1-row metric crosses; q134's probe is ivfQuery's
      // |Q|·nLists centroid cross (the q39/q109 coarse-quantizer shape)
      "q130_collocations", "q133_candidate_quality", "q134_ivf_delete",
      // q146-q148: unigramSeedVocab normalizes piece probs against the
      // ONE-ROW kept-vocab total broadcast into the log (the q68/q101
      // replacement-for-a-driver-action class); q147/q148 embed the
      // same vocab build before the (equi-join) Viterbi stages
      "q146_unigram_vocab", "q147_unigram_segment", "q148_unigram_reestimate",
      // q154: psiFromHists folds its 1-row totals in with the same
      // q126 cross — the q68 1-row class over token buckets
      "q154_token_drift",
      // q176: the trigram-KN N1+(··) total is q118's 1-ROW broadcast
      // cross folded into the model-sized continuation table
      "q176_kn_trigram",
      // q153: the six tercile cutpoints and the anchor date are 1-ROW
      // tables folded into the user table (q68 class); the constant
      // join key Catalyst constant-folds into the nested-loop form,
      // but every non-equi side here is a single row
      "q153_rfm_segments",
      // q158: bm25Batch folds the 1-ROW corpus stats (N, total len)
      // into the per-(doc, term) scoring pass — q80's own stats cross,
      // the q68 replacement-for-a-driver-action class
      "q158_bm25_batch",
      // q159: the source × observed-bucket completion grid is a
      // MODEL-sized |S|·B cross (q127's class) plus the 1-row
      // bucket-count/total fold
      "q159_source_divergence",
      // q185: doremiBudgets folds TWO 1-row broadcast aggregates (the
      // best-fit max, the total weight) into the |sources|-row frame —
      // the q68 replacement-for-a-driver-action class
      "q185_doremi_budgets",
      // q239: fleissKappa folds THREE 1-row broadcast aggregates (the
      // modal rater count, the excluded-item count, the label-marginal
      // pe sum) into the one-row kappa frame — the q68/q185
      // replacement-for-a-driver-action class; every cross side is a
      // single row
      "q239_fleiss_kappa")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(exactBaselines)
      .flatMap { name =>
        val df = SparkEntry.queries(name)(spark, sf)
        df.count()
        val p = plan(df)
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
      }
    assert(offenders.isEmpty, s"pathological join shapes in: $offenders")
  }

  test("quarantine guard: the quadratic truth baselines never gain call sites") {
    // jaccardPairs / nearDupPairs are labeled all-pairs TRUTH
    // generators (q27/q30, plus candidateQuality's audit slice).
    // Their contract says they must never be composed into a pipeline
    // entry — this pins the complete call-site map of src/main, so a
    // new composition fails loudly here before it can ship quadratic.
    def callSites(name: String): Map[String, Int] = {
      val root = java.nio.file.Paths.get("src/main/scala/graft")
      val re = ("(?<!def )\\b" + name + "\\(").r
      val it = java.nio.file.Files.walk(root).iterator()
      val out = scala.collection.mutable.Map.empty[String, Int]
      while (it.hasNext) {
        val p = it.next()
        if (p.toString.endsWith(".scala")) {
          val n = re.findAllIn(new String(
            java.nio.file.Files.readAllBytes(p), "UTF-8")).length
          if (n > 0) out(p.getFileName.toString) = n
        }
      }
      out.toMap
    }
    assert(callSites("jaccardPairs") == Map(
      "SparkEntry.scala" -> 1, // q27's truth row
      "Dedup.scala" -> 1),     // candidateQuality's audit slice
      "jaccardPairs gained a call site — quadratic composition?")
    assert(callSites("nearDupPairs") == Map(
      "SparkEntry.scala" -> 1), // q30's truth row
      "nearDupPairs gained a call site — quadratic composition?")
  }

  test("q225: codeLangId's projection runs whole-stage codegen'd — its " +
    "generated Java compiles, so Spark does not fall back to interpreting") {
    val df = SparkEntry.queries("q225_code_langid")(spark, sf)
    df.collect() // finalizes this DataFrame's own adaptive plan
    val stages = Aqe.collect(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec if w.exists {
        case p: ProjectExec => p.output.exists(_.name == "lang_source")
        case _ => false
      } => w
    }
    assert(stages.nonEmpty, s"no codegen stage over the projection:\n${plan(df)}")
    // WholeStageCodegenExec stays in the plan even when Janino refuses
    // its source (it then runs the child interpreted): compile it here
    for (w <- stages) CodeGenerator.compile(w.doCodeGen()._2)
  }
}

private object Aqe extends AdaptiveSparkPlanHelper
