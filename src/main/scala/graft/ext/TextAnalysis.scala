package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (SURVEY.md §2.11): token statistics, quality scoring, language
  * guessing, document fingerprinting.
  *
  * All of these are per-row narrow transformations built from codegen'd
  * array/string functions — no shuffle, no UDFs — so they scale linearly
  * with input splits: on a 100 TB corpus each executor processes its
  * parquet splits independently.
  */
object TextAnalysis {

  /** Non-empty whitespace tokens of a text column. */
  def tokens(text: Column): Column =
    graft.functions.WsTokens(text)

  /** The composable construction of [[tokens]] — kept as the tested
    * reference for the native kernel. */
  private[ext] def tokensComposable(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))

  /** Script-aware tokens: [[tokens]]' space splitting PLUS the
    * per-codepoint fallback for no-space scripts (Han, Kana, Hangul,
    * Thai, Lao, Khmer, Myanmar) — without it a CJK/Thai document is
    * ONE token to the whole token family (vocab, BM25, LMs, token
    * budgets) and CJK prose looks like a high-entropy secret to
    * [[secretScan]]. On space-script text the output is BYTE-IDENTICAL
    * to [[tokens]], so the fallback is opt-in per operator with every
    * existing contract untouched. Native codegen'd kernel
    * ([[graft.functions.ScriptTokens]]; `script_tokens` in SQL). */
  def scriptTokens(text: Column): Column =
    graft.functions.ScriptTokens(text)

  /** Tokens matched by a BPE-ish word/number/punctuation regex — a
    * better proxy for subword tokenizers than whitespace splitting. */
  def regexTokens(text: Column): Column =
    filter(split(text, """(?<=\W)|(?=\W)"""), t => t.rlike("""\S"""))

  /** Corpus vocabulary: token → total count and document frequency —
    * the aggregation a tokenizer-training pass reads. One explode +
    * one group-by on the token; occurrence counts partial-aggregate
    * map-side, so the shuffle carries per-partition token counts, not
    * the token stream. Exact document frequency expands to distinct
    * (token, doc) pairs — for a Zipfian corpus a stopword's pair set is
    * nearly every document, concentrating that token's state on one
    * reducer; `exactDocFreq = false` switches to an HLL sketch
    * (`approx_count_distinct`, bounded state per token), the 100 TB
    * form. `scriptAware = true` switches to [[scriptTokens]] — the
    * multilingual form: CJK/Thai text contributes per-codepoint
    * tokens instead of one document-length blob (identical output on
    * space-script corpora). */
  def vocab(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text", exactDocFreq: Boolean = true,
            scriptAware: Boolean = false): DataFrame = {
    val docFreq = if (exactDocFreq) countDistinct(col(idCol))
                  else approx_count_distinct(col(idCol))
    val toks = if (scriptAware) scriptTokens(col(textCol)) else tokens(col(textCol))
    docs.select(col(idCol), explode(toks).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"), docFreq.as("n_docs"))
  }

  /** Per-document token statistics: counts, distinct counts, mean token
    * length, type-token ratio. Zero-token documents (empty or
    * whitespace-only) are excluded — they have no token statistics, and
    * keeping them would divide by zero (an error under ANSI semantics)
    * and diverge from a SQL oracle's inner join on the token set. */
  def tokenStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    docs.filter(size(toks) > 0).select(
      col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      (aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x).cast("double") /
        size(toks)).as("avg_token_len"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("type_token_ratio"))
  }

  /** Tiny per-language stopword lists for the language-guess heuristic.
    * Deterministic and fixed — the operator contract is the vote
    * formula, not lexicon quality. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我"))

  /** Language-ID heuristic: per-language stopword vote (with
    * multiplicity), highest vote wins, ties broken lexicographically;
    * no votes → "und" (undetermined). */
  def languageGuess(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val voted = docs.select(
      col(idCol) +: stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
        size(filter(toks, t => t.isInCollection(words))).cast("long").as(s"votes_$lang")
      }: _*)
    val langs = stopwords.keys.toSeq.sorted
    val best = langs.map(l => col(s"votes_$l")).reduce((a, b) => greatest(a, b))
    val guess = langs.foldRight(lit("und")) { (l, alt) =>
      when(col(s"votes_$l") === best && best > 0, lit(l)).otherwise(alt)
    }
    voted.withColumn("lang_guess", guess)
  }

  /** Quality score in [0,1]: saturating length credit, type-token
    * ratio, and a penalty for very short tokens (boilerplate/noise
    * proxies — length/stopword/punct ratio family). */
  def qualityScore(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val s = tokenStats(docs, idCol, textCol)
    // no rounding: the arithmetic is already deterministic, and round()
    // tie-breaking differs across engines (half-up vs half-even)
    s.select(
      col(idCol),
      (least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.4
        + col("type_token_ratio") * 0.3
        + least(col("avg_token_len") / 8.0, lit(1.0)) * 0.3).as("quality"))
  }

  /** Score-threshold sweep — the operating-point picker behind
    * [[aucScore]]'s single number: scores in [0, 1] bucket at
    * `buckets` resolution, and for each bucket's lower edge taken as
    * the keep-threshold the sweep reports the exact confusion
    * (tp/fp), precision, and recall of "keep iff score ≥ edge".
    * All counts are exact longs from one aggregation + a window over
    * ≤ `buckets` rows; divisions are the only doubles. Output
    * (bucket, n_pos, n_neg, tp, fp, prec, recall) — `prec`, not
    * `precision`, because the latter is a type keyword in several SQL
    * dialects and would trip the oracle's alias. */
  def thresholdSweep(scored: DataFrame, scoreCol: String, label: Column,
                     buckets: Int = 100): DataFrame = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val b = least(floor(col(scoreCol) * buckets).cast("long"), lit(buckets - 1L))
    val hist = scored.select(b.as("bucket"), label.cast("long").as("__y"))
      .groupBy(col("bucket"))
      .agg(sum(col("__y")).as("n_pos"),
        sum(lit(1L) - col("__y")).as("n_neg"))
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totPos = Window.partitionBy()
    hist
      .withColumn("tp", sum(col("n_pos")).over(w))
      .withColumn("fp", sum(col("n_neg")).over(w))
      // "prec", not "precision": the latter is a type keyword in
      // several SQL dialects and would trip the oracle's alias
      .withColumn("prec",
        col("tp").cast("double") / (col("tp") + col("fp")))
      .withColumn("recall",
        col("tp").cast("double") / sum(col("n_pos")).over(totPos))
  }

  /** Trained char-n-gram language ID — the CLD/fastText-lite upgrade
    * of [[languageGuess]]'s stopword heuristic: per-language character
    * `n`-gram profiles are TRAINED from the corpus's own language
    * labels, each document is scored under every language's
    * Laplace-smoothed profile (`ln((c+1)/(tot_l+V))` per occurrence,
    * unseen n-grams at the `ln(1/(tot_l+V))` floor), and the argmax
    * language wins (exact integer nano-nat scores — each ln rounded
    * once to 9 dp then held as a LONG count of 1e-9 nats, products
    * and sums exact, so the winner is engine-identical; ties to the
    * lexicographically smallest language). Output
    * (idCol, lang_true, lang_pred, score, correct) — the confusion
    * audit a labeled corpus runs on its own labeling.
    *
    * Scale shape: the per-language total/vocab tables are model-sized
    * and broadcast; the corpus n-gram stream is aggregated once per
    * doc and scored once against the profiles — through an in-memory
    * profile index when that index is small enough, plain shuffle join
    * above it (the [[linearScore]] dual-form precedent: a real
    * multilingual corpus has 10⁶–10⁷ distinct char trigrams × ~100
    * languages, far past what an executor can hold). The index holds
    * one weight per distinct n-gram per language, so
    * `maxIndexCells` bounds that product, distinct n-grams ×
    * languages, not the profile's row count: a profile whose n-grams
    * each belong to one language has few rows but a wide index. The
    * two forms are value-identical — exact integer partials sum
    * order-free (ExtSpec pins them equal). */
  def charNgramLangId(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
                      textCol: String = "text",
                      langCol: String = "lang",
                      maxIndexCells: Long = 4L << 20): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val t = col(textCol)
    val base = docs.filter(length(t) >= n)
    // ONE census row per document (the n-gram→count map), pinned once:
    // it feeds the profile build, the per-doc totals and the scoring
    // pass, all of which explode or fold it in memory — an order of
    // magnitude smaller pin than the exploded (doc, ng, k) stream
    // (the pre-trained path, charNgramLangIdWith, skips the pin)
    val census = base.select(col(idCol), col(langCol).as("lang_true"),
        graft.functions.CharNgramCounts(t, n).as("__cn"),
        // the per-doc total is len-(n-1) by construction — record it
        // here so the totals pass needs neither a re-census nor a
        // shuffle
        (length(t) - (n - 1)).cast("long").as("ktot"))
      .localCheckpoint(eager = false)
    // LAZY cuts: the census materializes inside the profile build's
    // job and the profile inside the vocabulary count — same single
    // evaluations, two fewer eager checkpoint jobs
    val prof = census
      .select(col("lang_true").as("lang_cand"),
        explode(col("__cn")).as(Seq("ng", "k")))
      .groupBy(col("lang_cand"), col("ng"))
      .agg(sum(col("k")).as("c"))
      .localCheckpoint(eager = false)
    scoreUnderProfiles(census, prof, idCol, maxIndexCells)
  }

  /** [[charNgramLangId]] with PRE-TRAINED profiles (lang_cand, ng, c)
    * — e.g. [[charNgramProfiles]] persisted from a labeled slice and
    * reused over an unlabeled or much larger corpus. The per-(doc,
    * n-gram) stream has a single consumer here, so it is NOT
    * checkpointed — at corpus scale, materializing a table larger
    * than the corpus to save one re-scan is the wrong trade.
    * `docs` must still carry `langCol` (the confusion-audit output
    * keeps lang_true); pass a constant label for unlabeled scoring. */
  def charNgramLangIdWith(docs: DataFrame, profiles: DataFrame, n: Int = 3,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          langCol: String = "lang",
                          maxIndexCells: Long = 4L << 20): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val t = col(textCol)
    val base = docs.filter(length(t) >= n)
    // census shape without a checkpoint: the kernel path consumes it
    // once; the shuffle-join fallback reads it twice (stream + totals),
    // the documented no-materialize trade of the pre-trained path
    val cens = base.select(col(idCol), col(langCol).as("lang_true"),
      graft.functions.CharNgramCounts(t, n).as("__cn"),
      (length(t) - (n - 1)).cast("long").as("ktot"))
    scoreUnderProfiles(cens, profiles, idCol, maxIndexCells)
  }

  /** Train the per-language char-n-gram profile table (lang_cand, ng,
    * c) from a labeled corpus — the model half of [[charNgramLangId]],
    * exposed so profiles can be persisted once and scored many times
    * ([[charNgramLangIdWith]]). */
  def charNgramProfiles(docs: DataFrame, n: Int = 3,
                        textCol: String = "text",
                        langCol: String = "lang"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val t = col(textCol)
    docs.filter(length(t) >= n)
      .select(col(langCol).as("lang_cand"),
        explode(graft.functions.CharNgramCounts(t, n)).as(Seq("ng", "k")))
      .groupBy(col("lang_cand"), col("ng"))
      .agg(sum(col("k")).as("c"))
  }

  /** Language-ID confidence margin — the curation gate on top of
    * [[charNgramLangId]]'s argmax: how far the winning language's
    * exact nano-nat score sits above the runner-up's. Mixed-language
    * and boilerplate-dominated documents land near zero margin; a
    * pipeline routes them to review instead of trusting the label.
    * Output (idCol, lang_true, lang_pred, runner_up, confident):
    * `confident` compares the margin against `confidenceMargin` nats
    * over the whole document (exact integers both sides), and is true
    * when no competitor language exists. The raw margin is NOT
    * emitted — like q150's contract, ln's last-ulp wobble across
    * engines makes the decision, not the 9th decimal, the portable
    * surface. Same scale shape as [[charNgramLangId]]. */
  def langIdMargin(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
                   textCol: String = "text", langCol: String = "lang",
                   confidenceMargin: Double = 50.0,
                   maxIndexCells: Long = 4L << 20): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val t = col(textCol)
    val base = docs.filter(length(t) >= n)
    // map-level census pin + recorded totals — charNgramLangId's shape
    val census = base.select(col(idCol), col(langCol).as("lang_true"),
        graft.functions.CharNgramCounts(t, n).as("__cn"),
        (length(t) - (n - 1)).cast("long").as("ktot"))
      .localCheckpoint(eager = false)
    // LAZY cuts: the census materializes inside the profile build's
    // job and the profile inside the vocabulary count — same single
    // evaluations, two fewer eager checkpoint jobs
    val prof = census
      .select(col("lang_true").as("lang_cand"),
        explode(col("__cn")).as(Seq("ng", "k")))
      .groupBy(col("lang_cand"), col("ng"))
      .agg(sum(col("k")).as("c"))
      .localCheckpoint(eager = false)
    val scores = scoresUnderProfiles(census, prof, idCol, maxIndexCells)
    // winner AND runner-up from ONE window pass over the |docs|×|langs|
    // score table — (score DESC, lang ASC) makes row 1 exactly the old
    // argmax (max score, ties to min language) and row 2 exactly the
    // old runner-up (max score among langs ≠ lang_pred, ties to min
    // language, including the top-score-tie case where the runner-up
    // shares the winner's score). The old form materialized the score
    // table and re-derived the runner-up through four joins and three
    // aggregations; this is one exchange + one sort, and the score
    // table has a single consumer so it no longer needs a checkpoint.
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("lang_cand").asc)
    scores
      .select(col(idCol), col("lang_true"), col("lang_cand"), col("score"),
        row_number().over(w).as("__rn"),
        lead(col("score"), 1).over(w).as("__s2"),
        lead(col("lang_cand"), 1).over(w).as("__l2"))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("lang_true"),
        col("lang_cand").as("lang_pred"), col("__l2").as("runner_up"),
        coalesce(
          // both sides exact nano-nat longs: the margin gate decision
          // is engine-identical (the threshold itself is rounded once
          // to nano-nat precision, exact for any sane margin)
          col("score") - col("__s2")
            >= lit(math.round(confidenceMargin * 1e9)),
          lit(true)).as("confident"))
  }

  /** The scoring half shared by the trained and pre-trained language-ID
    * entry points: Laplace per-occurrence scores with the unseen floor,
    * exact nano-nat argmax, ties to min language. `cens` is the
    * per-document census table (idCol, lang_true, __cn map, ktot);
    * `prof` is (lang_cand, ng, c). `maxIndexCells` picks the scoring
    * strategy — the per-language constant tables (|langs| rows) stay
    * driver-collected either way. */
  private def scoreUnderProfiles(cens: DataFrame,
                                 prof: DataFrame,
                                 idCol: String,
                                 maxIndexCells: Long): DataFrame =
    argmaxScores(scoresUnderProfiles(cens, prof, idCol, maxIndexCells),
      idCol)

  /** The 9-dp per-occurrence ln score as an exact LONG count of
    * nano-nats. `round(ln·, 9)` is a 9-dp decimal by construction, so
    * scaling by 1e9 lands within 5e-6 of an integer (|ln| ≤ ~40 ⇒
    * |m| ≤ 4e10, double rel-error 2e-16 ⇒ abs error ≤ 1e-5) — the
    * final round recovers it exactly. Long arithmetic on these IS the
    * old decimal(28,9) arithmetic, just in a primitive the hash
    * aggregate can codegen: sums and comparisons are bit-identical
    * decisions, ~5× cheaper per row than BigDecimal. */
  private def lnNano(x: Column): Column =
    round(round(log(x), 9) * 1e9).cast("long")

  /** The (idCol, lang_true, lang_cand, score) table under `prof` —
    * shared by the argmax classifiers and the margin gate. `score` is
    * exact integer NANO-NATS ([[lnNano]]); magnitudes stay below
    * ktot·4e10, so documents up to ~2·10⁸ n-grams fit a long with
    * ANSI overflow as the loud failure mode past that. The kernel path
    * builds a dense index of distinct n-grams × languages weights; it
    * runs when that product is at most `maxIndexCells`, the join path
    * otherwise. */
  private def scoresUnderProfiles(cens: DataFrame,
                                  prof: DataFrame,
                                  idCol: String,
                                  maxIndexCells: Long): DataFrame = {
    // the vocabulary size is ONE number — a driver scalar (the
    // documented bounded-action class), not a 1-row frame attached on
    // a constant key: that join had no real equi-key and planned as a
    // BroadcastNestedLoopJoin, the shape the plan-hygiene sweep forbids
    val vocabV = prof.select("ng").distinct().count()
    // per-language constants: total, and the unseen-n-gram floor —
    // a pure projection of the per-language totals
    val li = prof.groupBy("lang_cand").agg(sum(col("c")).as("tot"))
      .select(col("lang_cand"), col("tot"), lit(vocabV).as("V"),
        lnNano(lit(1.0) / (col("tot") + vocabV).cast("double")).as("fl"))
    // the (lang_cand, unseen-floor) constants are |languages| rows —
    // the documented model-sized bounded-collect class
    val liRows = li.select(col("lang_cand"), col("fl")).collect()
    if (liRows.isEmpty)
      // no trainable language (empty/too-short corpus): empty scores
      // with the contract schema
      return cens.select(col(idCol), col("lang_true"),
        lit(null).cast("string").as("lang_cand"), lit(0L).as("score"))
        .filter(lit(false))
    // the per-(lang, n-gram) Laplace score is a pure function of the
    // PROFILE row — compute it there, ONCE per profile row, instead of
    // per joined (doc, ng, lang) occurrence: Spark's 9-dp Round is a
    // per-row BigDecimal construction, and paying it |docs|·|matches|
    // times dominated the whole scoring stage (measured ~50 s of task
    // time at sf0.1 vs ~0.2 s of real join work). Same lnNano longs
    // per (lang, ng), same exact k·w products, same exact sums —
    // bit-identical scores.
    val profW = prof.join(broadcast(li), Seq("lang_cand"))
      .select(col("lang_cand"), col("ng"), lnNano((col("c") + 1).cast("double")
        / (col("tot") + col("V")).cast("double")).as("__w"))
    if (vocabV * liRows.length <= maxIndexCells) {
      // KERNEL path: the index — one weight slot per distinct n-gram
      // per language — is executor-memory-sized, so it rides
      // as a reference object inside ONE codegen'd expression that
      // scores every language per census row — no (doc, ng, k)
      // explode, no |docs|·|matches|·|langs| join stream, no
      // re-aggregation. Dense per-language (sp, kp) structs (zeros
      // where nothing matched) make the floor attachment a literal-map
      // lookup; sums are exact longs, so the scores are bit-identical
      // to the join fallback under any partitioning (ExtSpec pins the
      // two forms equal).
      val langsArr = liRows.map(_.getString(0)).sorted
      val idx = new graft.functions.LangProfileScores.Index(langsArr)
      profW.collect().foreach(r =>
        idx.add(r.getString(1), r.getString(0), r.getLong(2)))
      val flMap = map(liRows.toIndexedSeq.flatMap(r =>
        Seq(lit(r.getString(0)), lit(r.getLong(1)))): _*)
      cens
        .select(col(idCol), col("lang_true"), col("ktot"),
          explode(graft.functions.LangProfileScores(col("__cn"), idx))
            .as("__s"))
        .select(col(idCol), col("lang_true"),
          col("__s.lang_cand").as("lang_cand"),
          (col("__s.sp") + (col("ktot") - col("__s.kp"))
            * element_at(flMap, col("__s.lang_cand"))).as("score"))
    } else {
      // JOIN fallback — the profile outgrew what an executor should
      // hold as one object (a real multilingual corpus has 10⁶–10⁷
      // distinct char trigrams × ~100 languages): explode the census
      // and shuffle-join the weighted profile
      val dk = cens.select(col(idCol), col("lang_true"),
        explode(col("__cn")).as(Seq("ng", "k")))
      val pres = dk.join(profW, Seq("ng"))
        .groupBy(col(idCol), col("lang_cand"))
        .agg(sum(col("k") * col("__w")).as("sp"),
          sum(col("k")).as("kp"))
      val langLits = array(liRows.toIndexedSeq.map(r =>
        struct(lit(r.get(0)).as("lang_cand"), lit(r.getLong(1)).as("fl"))): _*)
      // per-doc totals arrive precomputed (len-(n-1), recorded at
      // census build). Every consumer (the window argmax / margin
      // pass) reads the score table exactly ONCE, so it is never
      // materialized.
      cens
        .select(col(idCol), col("lang_true"), col("ktot"),
          explode(langLits).as("__lc"))
        .select(col(idCol), col("lang_true"),
          col("__lc.lang_cand").as("lang_cand"), col("ktot"),
          col("__lc.fl").as("fl"))
        .join(pres, Seq(idCol, "lang_cand"), "left")
        .select(col(idCol), col("lang_true"), col("lang_cand"),
          (coalesce(col("sp"), lit(0L))
            + (col("ktot") - coalesce(col("kp"), lit(0L))) * col("fl"))
            .as("score"))
    }
  }

  /** Exact-decimal argmax over a score table: max score per doc, ties
    * to the lexicographically smallest language — ONE window pass
    * ((score DESC, lang ASC) row_number, keep row 1) instead of the
    * old max-aggregate + self-join + re-aggregate: one exchange and
    * one consumer of the score table at any scale. */
  private def argmaxScores(scoresM: DataFrame, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("lang_cand").asc)
    scoresM
      .select(col(idCol), col("lang_true"), col("lang_cand"), col("score"),
        row_number().over(w).as("__rn"))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("lang_true"),
        col("lang_cand").as("lang_pred"), col("score"),
        (col("lang_cand") === col("lang_true")).as("correct"))
  }
  // NOTE on cross-engine determinism: within ONE engine the nano-nat
  // scores are exact and the argmax fully deterministic. ACROSS
  // engines, ln() is correctly-rounded-ish but not bit-specified, so
  // round(ln·,9) can differ by one 9-dp ulp on boundary inputs —
  // observed once in ~4k distinct n-gram probabilities. Predictions
  // only flip if two languages land within that 1e-9, so the oracle
  // contract checks the PREDICTION, not the raw score.

  /** Gopher-style quality rule audit — the rule-based document filter
    * family (word-count window, mean-word-length window, symbol-to-word
    * ratio, alphabetic-word ratio, minimum stopword evidence), reported
    * as one boolean column PER RULE plus the conjunction, so a curation
    * run can say WHY each document was dropped, not just that it was.
    * Complements [[qualityScore]] (a soft score to threshold) with the
    * hard accept/reject rules production corpus filters actually use.
    *
    * All arithmetic is counts and exact double ratios of counts —
    * engine-portable with no rounding. Narrow, one pass, no shuffle;
    * zero-token documents are dropped (no ratios exist).
    *
    * The token array is projected ONCE (`__toks`) and every rule
    * derives from that column: Catalyst does not CSE a non-cheap
    * expression across sibling projections, so inlining `tokens(text)`
    * into each rule re-tokenizes every row 5+ times — the dominant
    * per-row cost. (CollapseProject keeps a multiply-referenced
    * non-cheap alias in its own projection, so the boundary holds.) */
  def gopherRules(docs: DataFrame,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1, minAlphaRatio: Double = 0.8,
                  minStopwords: Int = 2,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = col("__toks")
    val n = size(toks).cast("long")
    val meanLen = aggregate(transform(toks, t => length(t)), lit(0L), (a, x) => a + x)
      .cast("double") / n
    val symbols = size(filter(toks, t =>
      t.contains("#") || t.contains("...") || t.contains("…"))).cast("long")
    val alphaWords = size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("long")
    val stops = size(filter(toks, t =>
      t.isin(stopwords("en"): _*))).cast("long")
    docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(toks) > 0).select(
      col(idCol),
      n.as("n_words"),
      meanLen.as("mean_word_len"),
      (n >= minWords && n <= maxWords).as("r_word_count"),
      (meanLen >= minMeanLen && meanLen <= maxMeanLen).as("r_mean_len"),
      (symbols.cast("double") / n <= maxSymbolRatio).as("r_symbol"),
      (alphaWords.cast("double") / n >= minAlphaRatio).as("r_alpha"),
      (stops >= minStopwords).as("r_stop"))
      .withColumn("keep",
        col("r_word_count") && col("r_mean_len") && col("r_symbol")
          && col("r_alpha") && col("r_stop"))
  }

  /** The [[gopherRules]] conjunction as one boolean expression over a
    * token-array column — false for empty docs (instead of dropping
    * them, the per-doc report's convention), so aggregating callers
    * can fold it without a pre-filter. */
  private def gopherKeepExpr(toks: Column,
                             minWords: Int = 50, maxWords: Int = 100000,
                             minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                             maxSymbolRatio: Double = 0.1,
                             minAlphaRatio: Double = 0.8,
                             minStopwords: Int = 2): Column = {
    val n = size(toks).cast("long")
    val meanLen = aggregate(transform(toks, t => length(t)), lit(0L), (a, x) => a + x)
      .cast("double") / n
    val symbols = size(filter(toks, t =>
      t.contains("#") || t.contains("...") || t.contains("…"))).cast("long")
    val alphaWords = size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("long")
    val stops = size(filter(toks, t => t.isin(stopwords("en"): _*))).cast("long")
    n >= minWords && n <= maxWords &&
      meanLen >= minMeanLen && meanLen <= maxMeanLen &&
      symbols.cast("double") / n <= maxSymbolRatio &&
      alphaWords.cast("double") / n >= minAlphaRatio &&
      stops >= minStopwords
  }

  /** Per-domain reputation roll-up — the crawl-curation stage between
    * URL canonicalization ([[urlDomain]]) and per-domain caps, the
    * C4/RefinedWeb-style gate that drops content farms wholesale
    * instead of doc by doc: group documents by registrable domain and
    * score each domain on size, exact-duplication burden (within-
    * domain md5 groups — content farms repost), and rule-based
    * quality ([[gopherRules]]' conjunction), then decide
    * `drop` (dup_rate/keep_rate over the line) / `cap` (healthy but
    * oversized — feed to per-domain caps) / `keep`.
    *
    * Exactness: dup_rate/keep_rate are single IEEE divisions of exact
    * int64 counts — engine-identical, so thresholds compare stably
    * and the output is fully hashable. Scale shape: one narrow
    * per-doc pass, then two map-side-combined shuffles (domain+md5,
    * then domain) — domain-count-bounded output, corpus never joined
    * or re-shuffled. */
  def domainReputation(docs: DataFrame, urlCol: String = "url",
                       idCol: String = "doc_id", textCol: String = "text",
                       maxDupRate: Double = 0.30, minKeepRate: Double = 0.40,
                       capDocs: Long = 100L): DataFrame = {
    val perDoc = docs.select(
      urlDomain(col(urlCol)).as("domain"),
      md5(col(textCol)).as("__fp"),
      when(gopherKeepExpr(tokens(col(textCol))), 1L).otherwise(0L).as("__keep"))
    val byFp = perDoc.groupBy("domain", "__fp").agg(
      count(lit(1)).as("__c"), sum("__keep").as("__k"))
    val dupRate = col("n_dup").cast("double") / col("n_docs")
    val keepRate = col("n_keep").cast("double") / col("n_docs")
    byFp.groupBy("domain").agg(
        sum("__c").as("n_docs"),
        sum(when(col("__c") > 1, col("__c")).otherwise(0L)).as("n_dup"),
        sum("__k").as("n_keep"))
      .select(col("domain"), col("n_docs"), col("n_dup"), col("n_keep"),
        dupRate.as("dup_rate"), keepRate.as("keep_rate"),
        when(dupRate > maxDupRate || keepRate < minKeepRate, "drop")
          .when(col("n_docs") > capDocs, "cap")
          .otherwise("keep").as("action"))
  }

  /** Page-level word blocklist for [[c4Clean]] — deterministic and
    * fixed, the operator contract is the gate mechanics, not lexicon
    * quality (C4 used the public "dirty words" list; any list slots
    * in via the parameter). */
  val c4Badwords: Seq[String] = Seq("casino", "viagra", "clickbait")

  /** C4's line-level cleaning (Raffel et al. 2020) — the famous
    * crawl-cleaning stage BETWEEN html extraction and doc-level
    * quality rules, at a grain none of the other operators touch:
    * LINE filters (keep only lines that end in a terminal punctuation
    * mark, carry at least `minLineWords` words, and don't mention
    * "javascript"), then PAGE gates over what survives (at least
    * `minTerminalMarks` sentence-ending marks — C4's "three
    * sentences" rule on the exact-countable proxy — and none of `{`,
    * "lorem ipsum", or a blocklisted word anywhere on the ORIGINAL
    * page, C4's drop-the-page-wholesale convention). Emits a per-doc
    * report (line counts, cleaned text, kept
    * flag) rather than filtering, so a curation run can audit what
    * each rule removed; callers drop `kept = false` and train on
    * `cleaned`.
    *
    * Exactness: counts, string membership, and an exact character
    * census (`translate`) only — fully hashable, the oracle replays
    * rule for rule. Scale: narrow codegen'd array/string pass, zero
    * shuffle, linear in input splits. The corpus-level half of C4
    * (removing any three-sentence span occurring twice) is
    * [[removeBoilerplateSentences]] / sentence dedup — compose the
    * two for the full pipeline. */
  def c4Clean(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", minLineWords: Int = 5,
              minTerminalMarks: Int = 3,
              badwords: Seq[String] = c4Badwords): DataFrame = {
    def words(l: Column) = filter(split(l, " "), w => w =!= "")
    val keptLines = filter(split(col(textCol), "\n"), l =>
      rtrim(l).rlike("[.!?\"]$") &&
        size(words(l)) >= minLineWords &&
        !lower(l).contains("javascript"))
    val cleaned = col("cleaned")
    val marks = (length(cleaned) - length(translate(cleaned, ".!?", ""))).cast("long")
    val pageBad = size(filter(transform(tokens(col(textCol)), t => lower(t)),
      t => t.isin(badwords: _*))).cast("long")
    docs.select(
        col(idCol),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"),
        size(keptLines).cast("long").as("n_lines_kept"),
        array_join(keptLines, "\n").as("cleaned"),
        (pageBad === 0L &&
          !col(textCol).contains("{") &&
          !lower(col(textCol)).contains("lorem ipsum")).as("__page_ok"))
      .select(col(idCol), col("n_lines"), col("n_lines_kept"), cleaned,
        (marks >= minTerminalMarks && col("__page_ok")).as("kept"))
  }

  /** Linear text-classifier inference — the fastText-style quality/
    * domain scorer every curation pipeline runs after rule filters:
    * `score = (Σ_t w[h(t)]) / n + bias` over a hashed bag of tokens
    * (bucket `h(t)` = 16-bit md5 token hash mod `|weights|` — the same
    * engine-portable nibble hash as SimHash, so a SQL oracle reproduces
    * it exactly). The weights are a BROADCAST-LITERAL vector (a trained
    * model's coefficients); inference is one narrow pass at scan
    * speed — zero shuffles, the shape model-inference must have at
    * 100 TB.
    *
    * Reproducibility: when every weight is a multiple of 2^-k (quantize
    * a trained model onto a binary grid — standard for shipping), the
    * token sum is EXACT in double for any summation order, and the
    * final divide/add are correctly-rounded IEEE ops — scores are
    * bit-identical across engines and partitionings with NO rounding
    * step (see the in-body comment on why rounding would hurt).
    * Zero-token docs are dropped (no mean exists). */
  def linearScore(docs: DataFrame, weights: Seq[Double], bias: Double = 0.0,
                  idCol: String = "doc_id", textCol: String = "text",
                  maxLiteralBuckets: Int = 4096): DataFrame =
    if (weights.size <= maxLiteralBuckets)
      linearScoreLiteral(docs, weights, bias, idCol, textCol)
    else
      linearScoreJoin(docs, weights, bias, idCol, textCol)

  /** The literal-array form of [[linearScore]] — right for
    * oracle-sized models (the whole weight vector rides inside one
    * codegen'd fold; zero shuffles), wrong past a few thousand
    * buckets where a giant `array(lit…)` blows up codegen /
    * constant-pool limits. */
  private[ext] def linearScoreLiteral(docs: DataFrame, weights: Seq[Double],
                                      bias: Double = 0.0,
                                      idCol: String = "doc_id",
                                      textCol: String = "text"): DataFrame = {
    require(weights.nonEmpty, "empty weight vector")
    val b = weights.size
    val wLit = array(weights.map(lit): _*)
    val toks = tokens(col(textCol))
    def bucket(t: Column): Column = pmod(Dedup.hash16(t), lit(b.toLong))
    val logit = aggregate(toks, lit(0.0),
      (acc, t) => acc + element_at(wLit, (bucket(t) + 1).cast("int")))
    docs.filter(size(toks) > 0).select(
      col(idCol),
      size(toks).cast("long").as("n_tokens"),
      // NO rounding: binary-grid weights make every partial sum exact
      // (order-free), and IEEE division/addition are correctly rounded
      // identically in any engine — the raw double is bit-reproducible.
      // round(·, 9) would BREAK parity: a dyadic score landing exactly
      // on a half boundary (logit/2^k) rounds differently across
      // engines' round() implementations (seen at sf0.1: …3125 went
      // half-up in Spark, half-even in DuckDB)
      (logit / size(toks) + bias).as("score"))
  }

  /** The broadcast-table form of [[linearScore]] — a real fastText
    * scorer has 10⁵–10⁶ hashed buckets, far past what a literal array
    * survives. The token bag explodes to (doc, bucket) rows and
    * broadcast-hash-joins the weights table on the bucket id, then
    * re-aggregates per document (map-side-combined partial sums, so
    * the shuffle carries per-task per-doc partials, not the token
    * stream). VALUE-IDENTICAL to the literal form: binary-grid
    * weights make the token sum exact in every summation order, so
    * fold vs partial-aggregate cannot differ (ExtSpec pins the two
    * forms equal at 100k buckets). */
  private[ext] def linearScoreJoin(docs: DataFrame, weights: Seq[Double],
                                   bias: Double = 0.0,
                                   idCol: String = "doc_id",
                                   textCol: String = "text"): DataFrame = {
    require(weights.nonEmpty, "empty weight vector")
    val spark = docs.sparkSession
    import spark.implicits._
    val b = weights.size
    val wTab = weights.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("__bucket", "__w")
    val toks = tokens(col(textCol))
    val bag = docs.filter(size(toks) > 0)
      .select(col(idCol), size(toks).cast("long").as("n_tokens"),
        explode(toks).as("__t"))
      .select(col(idCol), col("n_tokens"),
        pmod(Dedup.hash16(col("__t")), lit(b.toLong)).as("__bucket"))
    bag.join(broadcast(wTab), Seq("__bucket"))
      .groupBy(col(idCol), col("n_tokens"))
      .agg(sum(col("__w")).as("__logit"))
      .select(col(idCol), col("n_tokens"),
        (col("__logit") / col("n_tokens") + bias).as("score"))
  }

  /** Hashed-bag logistic-regression TRAINING — the training half of
    * [[linearScore]]'s inference: full-batch gradient descent
    * `w ← w − η·(1/N)·Σ_d (σ(w·x_d) − y_d)·x_d` over the same mean-bag
    * features (`x_b = count_b / n_tokens`, bucket = the portable
    * 16-bit md5 hash mod `buckets`). Output (bucket, weight) feeds
    * [[linearScore]] directly — train on yesterday's labels, score
    * today's crawl.
    *
    * Scale shape: the feature table (doc, bucket, x) is built ONCE
    * (one keyed aggregation over the token stream) and checkpointed;
    * each GD step is two keyed aggregations against it (per-doc
    * margin, per-bucket gradient) with the model-sized weight table
    * broadcast in — the driver-loop-over-DataFrames pattern of
    * `connectedComponents`/`bpeTrain`. One bounded driver action for
    * N (a single long).
    *
    * Engine-reproducible by the repo's standard recipe: every per-row
    * product is rounded (12 dp) and summed as DECIMAL so partition
    * order cannot change a sum; σ is rounded to 9 dp before the
    * residual so a 1-ulp `exp` divergence between engines' libm
    * cannot propagate into the weights; every downstream op is a
    * correctly-rounded IEEE op on identical inputs. Zero-token docs
    * are dropped (no features), matching [[linearScore]]. */
  def logregTrain(docs: DataFrame, label: Column, buckets: Int = 64,
                  steps: Int = 3, lr: Double = 0.5,
                  idCol: String = "doc_id", textCol: String = "text",
                  checkpointEvery: Int = 1): DataFrame = {
    require(buckets > 0 && steps >= 1 && lr > 0, "need buckets/steps/lr > 0")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val spark = docs.sparkSession
    val toks = tokens(col(textCol))
    // NARROW feature build: the native HashBucketCounts kernel
    // computes each document's per-bucket token counts in one
    // codegen'd pass (same md5 16-bit hash, same pmod bucket — the
    // kernel doc pins the equivalence, KernelProperties asserts it),
    // replacing the exploded per-occurrence md5 chain AND its
    // corpus-sized (doc, bucket) aggregation exchange. Counts are
    // identical integers, so __x = c/n is the identical double.
    val feat = docs.filter(size(toks) > 0)
      .select(col(idCol), label.cast("double").as("__y"),
        size(toks).cast("double").as("__n"),
        graft.functions.HashBucketCounts(toks, buckets).as("__bc"))
      .select(col(idCol), col("__y"), col("__n"),
        posexplode(col("__bc")).as(Seq("__bkt", "__c")))
      .filter(col("__c") > 0)
      .select(col(idCol), col("__y"), col("__bkt").cast("bigint").as("__bkt"),
        (col("__c") / col("__n")).as("__x"))
      // hash-partition the feature table by doc ONCE: localCheckpoint
      // preserves the partitioning, so every step's per-doc margin
      // aggregation and residual join reuse it instead of re-shuffling
      // the features — 2 exchanges per GD step become the one
      // bucket-sized gradient shuffle
      .repartition(col(idCol))
      .localCheckpoint()
    val nDocs = feat.select(col(idCol)).distinct().count()
    // the weight vector is MODEL-SIZED (`buckets` doubles) — it lives
    // on the driver and enters each step's plan as a LITERAL array
    // indexed by bucket, and each step's gradient comes back as one
    // bounded collect (≤ buckets rows — the documented model-sized
    // bounded-collect class, the bradleyTerry/pqBuildKMeans
    // economics). The old loop kept w as a 64-row DataFrame: per step
    // that cost a broadcast build, a join, an eager localCheckpoint
    // and their AQE sub-jobs (~9 scheduler jobs/step measured); now a
    // step is ONE job — the gradient aggregation over the checkpointed
    // feature table — and the plan depth no longer grows, so no
    // per-step lineage cut is needed at all. Arithmetic is replayed
    // op-for-op (same literal doubles into the same rounded decimal
    // sums; the update is the same lr·g/N IEEE chain; the final 9-dp
    // round is Spark's own HALF_UP-on-BigDecimal rule), so the weights
    // are bit-identical to the DataFrame loop's.
    var w = Array.fill(buckets)(0.0)
    for (_ <- 1 to steps) {
      val wLit = array(w.toIndexedSeq.map(lit(_)): _*)
      val z = feat
        .select(col(idCol), col("__y"), col("__x"),
          element_at(wLit, (col("__bkt") + 1).cast("int")).as("__w"))
        .groupBy(col(idCol), col("__y"))
        .agg(sum(round(col("__w") * col("__x"), 12).cast("decimal(30,12)"))
          .cast("double").as("__z"))
      val r = z.select(col(idCol),
        (round(lit(1.0) / (lit(1.0) + exp(-col("__z"))), 9) - col("__y")).as("__r"))
      val g = feat.join(r, Seq(idCol))
        .groupBy(col("__bkt"))
        .agg(sum(round(col("__r") * col("__x"), 12).cast("decimal(30,12)"))
          .cast("double").as("__g"))
        .collect()
      val gm = g.map(row => row.getLong(0) -> row.getDouble(1)).toMap
      w = Array.tabulate(buckets)(b =>
        w(b) - lr * gm.getOrElse(b.toLong, 0.0) / nDocs)
    }
    // Spark's Round(double, 9): HALF_UP on BigDecimal.valueOf,
    // non-finite passed through
    def round9(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    val wOut = array(w.toIndexedSeq.map(v => lit(round9(v))): _*)
    spark.range(buckets).select(col("id").as("bucket"),
      element_at(wOut, (col("id") + 1).cast("int")).as("weight"))
  }

  /** Text normalization for training corpora: lowercase, strip
    * non-alphanumerics, collapse whitespace. Narrow, codegen'd.
    * ASCII-ONLY: the `[^a-z0-9 ]` class ERASES all CJK, Cyrillic and
    * accented text — right for English-only corpora and the legacy
    * oracle contract, wrong for anything multilingual. Use
    * [[scrubUnicode]] for a corpus with non-Latin documents. */
  def scrub(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Unicode-safe [[scrub]] — the multilingual-corpus table stake:
    * NFC-normalize (composed and decomposed accents unify —
    * `functions.NfcNormalize`, codegen'd), lowercase, keep letters
    * `\p{L}` and decimal digits `\p{Nd}` from EVERY script, collapse
    * whitespace. CJK, Cyrillic, Arabic, accented Latin all survive;
    * punctuation, symbols, emoji and format controls become spaces.
    * Same narrow zero-shuffle shape as [[scrub]]; DuckDB expresses
    * the identical chain (`nfc_normalize` + `regexp_replace`), so the
    * output is oracle-checked. */
  def scrubUnicode(text: Column): Column =
    trim(regexp_replace(regexp_replace(
      lower(graft.functions.NfcNormalize(text)),
      "[^\\p{L}\\p{Nd} ]", " "), " +", " "))

  /** Mojibake repair over a corpus — the ftfy core case every web
    * crawl hits: UTF-8 text mis-decoded as Windows-1252/Latin-1
    * somewhere upstream ("café" shipped as "cafÃ©"), sometimes
    * twice. Emits the repaired text plus the unwind-round count
    * (0 = clean or unrepairable, 1 = single mojibake, 2 = double-
    * encoded) for corpus-health roll-ups. The kernel
    * ([[graft.functions.FixMojibake]], codegen'd) only rewrites when
    * the CP1252-byte image strictly decodes as UTF-8 AND collapses —
    * genuine Latin-1/CP1252 prose and all-ASCII text pass through
    * byte-identical (the ASCII fast path is one scan, no
    * allocation). Narrow, zero shuffle — crawl-scan speed. */
  def mojibakeRepair(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
      graft.functions.MojibakeRounds(col(textCol)).as("rounds"),
      graft.functions.FixMojibake(col(textCol)).as("repaired"))

  /** Per-document script census — the multilingual routing signal
    * language-ID, tokenizer fallback and per-script pipelines key on:
    * codepoint counts per major Unicode script (Latin/Han/Cyrillic/
    * Arabic/Hangul/Kana/Thai/Greek) plus the dominant script
    * (first-in-order tiebreak, `none` when no scripted letter
    * appears). Counts are exact integers, so the output hashes
    * cleanly; the oracle replays the same script classes in RE2.
    * Narrow codegen'd regexp pass, zero shuffle — scan speed. BMP
    * scripts only: counts are UTF-16 units on the Spark side, so
    * supplementary-plane scripts (rare in crawls) are out of the
    * census contract. */
  def scriptCensus(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val classes = Seq(
      "latin" -> "\\p{IsLatin}", "han" -> "\\p{IsHan}",
      "cyrillic" -> "\\p{IsCyrillic}", "arabic" -> "\\p{IsArabic}",
      "hangul" -> "\\p{IsHangul}",
      "kana" -> "[\\p{IsHiragana}\\p{IsKatakana}]",
      "thai" -> "\\p{IsThai}", "greek" -> "\\p{IsGreek}")
    val names = classes.map(_._1)
    val counts = classes.map { case (n, re) =>
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), re, ""))).cast("long").as(s"n_$n")
    }
    val top = greatest(names.map(n => col(s"n_$n")): _*)
    val dominant = classes.foldRight(lit("none")) { case ((n, _), acc) =>
      when(col(s"n_$n") === top && top > 0, lit(n)).otherwise(acc)
    }
    docs.select(col(idCol) +: counts: _*)
      .withColumn("dominant", dominant)
  }

  /** The combined single-pass HTML entity pattern: the five ubiquitous
    * named entities plus decimal/hex numeric character references.
    * One alternation, matched left-to-right exactly once — so escaped
    * entities never double-decode (`&amp;#39;` stays `&#39;`,
    * `&#38;lt;` stays `&lt;`), the property a sequential replace
    * chain cannot give. */
  private val EntityPat =
    "&(lt|gt|quot|nbsp|amp);|&#[0-9]{1,7};|&#[xX][0-9a-fA-F]{1,6};"

  /** Decode HTML character references in ONE left-to-right pass: the
    * named `&lt; &gt; &quot; &nbsp; &amp;` plus numeric decimal
    * (`&#8217;`) and hex (`&#x27;`) references for the BMP —
    * out-of-BMP codepoints, surrogates and NUL keep their literal
    * entity text (a documented BMP-only contract, like scriptCensus).
    * Mechanics: split on the entity pattern, map each matched entity,
    * stitch back — `split` and `regexp_extract_all` agree on match
    * boundaries and both engines keep trailing empty split parts, so
    * `parts.length == ents.length + 1` always holds. The numeric char
    * materializes via `decode(unhex(...), 'UTF-16BE')` on the Spark
    * side and `chr()` in the DuckDB oracle — identical strings for
    * every BMP codepoint. Narrow, zero-shuffle, RE2-replayable. */
  def decodeEntities(text: Column): Column = {
    val parts = split(text, EntityPat)
    val ents = regexp_extract_all(text, lit(EntityPat), lit(0))
    def bmp(code: Column, orig: Column): Column =
      when(code >= 1L && code <= 65535L &&
          !(code >= 55296L && code <= 57343L),
        decode(unhex(lpad(hex(code), 4, "0")), "UTF-16BE"))
        .otherwise(orig)
    def dec(e: Column): Column =
      when(e === "&lt;", lit("<")).when(e === "&gt;", lit(">"))
        .when(e === "&quot;", lit("\"")).when(e === "&nbsp;", lit(" "))
        .when(e === "&amp;", lit("&"))
        .when(e.rlike("^&#[0-9]"),
          bmp(regexp_extract(e, "^&#([0-9]+);$", 1).cast("long"), e))
        .otherwise(
          bmp(conv(regexp_extract(e, "^&#[xX]([0-9a-fA-F]+);$", 1), 16, 10)
            .cast("long"), e))
    val rebuilt = concat(element_at(parts, 1),
      aggregate(sequence(lit(1), size(ents)), lit(""),
        (acc, i) => concat(acc, dec(element_at(ents, i)),
          element_at(parts, i + 1))))
    when(size(ents) === 0, text).otherwise(rebuilt)
  }

  /** HTML → text extraction — the step BEFORE every other text
    * operator on a web crawl (the trafilatura/jusText class, reduced
    * to its deterministic core): drop `<script>`/`<style>` elements
    * WITH their content even when the tag is uppercase or the block
    * spans lines (`(?is)` inline flags — identical semantics in
    * Java's engine and RE2; code and CSS are not prose), strip every
    * remaining tag to a space (so `<p>a</p><p>b</p>` keeps its word
    * boundary), decode entities in one pass ([[decodeEntities]]:
    * named + numeric decimal/hex for the BMP), collapse runs of
    * spaces. RE2-safe patterns only (non-greedy `.*?`, character
    * classes — no lookaround), so DuckDB replays the identical chain
    * and the output is oracle-checked. Narrow zero-shuffle
    * regexp_replace chain — scan speed over a 100 TB crawl. */
  /** SRT / WebVTT subtitle cues — the caption-corpus onboarding step
    * ([[graft.functions.SubtitleCues]]): format auto-detected, VTT
    * NOTE/STYLE blocks skipped, markup tags stripped, times in ms;
    * malformed timing fails the row closed to null, a cue-less file
    * is an EMPTY array. */
  def subtitleCues(text: Column, maxCues: Int = 1 << 16): Column =
    graft.functions.SubtitleCues(text, maxCues)

  /** ASS/SSA subtitle events — the fansub/anime caption tier
    * ([[graft.functions.AssCues]]): `[Events]` `Format:`-declared
    * field order, centisecond timecodes, `{\...}` override tags
    * stripped, `\N` newlines; per-event layer/style/speaker surface.
    * Malformed declarations or timecodes fail the row closed. */
  def assCues(text: Column, maxCues: Int = 1 << 16): Column =
    graft.functions.AssCues(text, maxCues)

  def htmlToText(html: Column): Column = {
    val noBlocks = regexp_replace(html,
      "(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    trim(regexp_replace(decodeEntities(noTags), " +", " "))
  }

  /** MediaWiki markup cleaner — the post-XML pass for the standard
    * Wikipedia pretraining corpus (dump extraction yields wikitext,
    * not prose). Deterministic single-pass chain of simple regexes
    * (no backreferences/lookbehind), in dependency order:
    *
    *  0. HTML comments (`&lt;!-- … --&gt;`, ubiquitous in real dumps
    *     and routinely carrying braces that would poison the
    *     innermost-first template loop) drop FIRST; `<nowiki>` spans
    *     (the spec's markup-escape) have their bodies MASKED behind a
    *     sentinel before the chain and re-substituted verbatim after
    *     it — the body stays literal text even when it is itself
    *     wiki markup (`<nowiki>{{not a template}}</nowiki>` keeps its
    *     braces); self-closing `<nowiki/>` just drops;
    *  1. `<ref>…</ref>` citations and self-closing `<ref …/>` drop
    *     (next — refs contain templates);
    *  2. `{{templates}}` and `{|wiki tables|}` drop via ITERATED
    *     INNERMOST-FIRST replacement, `maxNest` rounds — one nesting
    *     level per round, so structures nested deeper than `maxNest`
    *     leave their outer braces unresolved BY CONTRACT (bounded
    *     work beats unbounded recursion on adversarial dumps; pinned
    *     both ways in the unit, the removeRepeatedSpans style);
    *  3. `[[target|label]]` → label (last pipe segment — File/Image
    *     links keep their caption), `[[target]]` → target;
    *  4. `[http://… label]` → label, bare `[http://…]` drops;
    *  5. `== headings ==` keep their title text;
    *  6. `''`/`'''` emphasis apostrophes drop (2–5 run);
    *  7. leading `* # : ;` list/indent markers drop per line;
    *
    * then space/tab runs collapse and the result trims — newlines
    * survive (paragraph structure is signal downstream). Narrow
    * zero-shuffle scan. */
  def wikitextClean(text: Column, maxNest: Int = 4): Column = {
    // the sentinel masking nowiki bodies; pre-stripped from the input
    // so adversarial text cannot forge a substitution point
    val sent = 1.toChar.toString
    val noComment = regexp_replace(
      regexp_replace(text, sent, ""), "(?s)<!--.*?-->", "")
    val nowikiBodies = regexp_extract_all(noComment,
      lit("(?is)<nowiki[^>]*>(.*?)</nowiki>"), lit(1))
    val masked = regexp_replace(
      regexp_replace(noComment, "(?is)<nowiki[^>]*/>", ""),
      "(?is)<nowiki[^>]*>.*?</nowiki>", sent)
    // every DELETING pattern excludes the sentinel, so a masked
    // nowiki body can never vanish with the span that contains it —
    // the re-substitution below stays aligned by construction (a
    // template/ref wrapping a nowiki keeps its outer markup
    // unresolved, the bounded-contract maxNest style)
    val noRef = regexp_replace(masked,
      s"(?is)<ref[^>]*/>|<ref[^>]*>[^$sent]*?</ref>", "")
    var cur = noRef
    var i = 0
    while (i < maxNest) {
      cur = regexp_replace(cur, s"(?s)\\{\\{[^{}$sent]*\\}\\}", "")
      cur = regexp_replace(cur, s"(?s)\\{\\|[^{}$sent]*\\|\\}", "")
      i += 1
    }
    val piped = regexp_replace(cur,
      s"\\[\\[[^\\[\\]$sent]*\\|([^\\[\\]|]*)\\]\\]", "$1")
    val plain = regexp_replace(piped, "\\[\\[([^\\[\\]|]*)\\]\\]", "$1")
    val extLabeled = regexp_replace(plain,
      "\\[https?://[^ \\]]+ ([^\\]]*)\\]", "$1")
    val extBare = regexp_replace(extLabeled,
      s"\\[https?://[^\\]$sent]*\\]", "")
    val heads = regexp_replace(extBare, "(?m)^=+ *(.*?) *=+ *$", "$1")
    val emph = regexp_replace(heads, "'{2,5}", "")
    val lists = regexp_replace(emph, "(?m)^[*#:;]+ *", "")
    val cleaned = trim(regexp_replace(lists, "[ \\t]+", " "))
    // re-substitute the literal nowiki bodies at their sentinels
    when(size(nowikiBodies) === 0, cleaned).otherwise(
      array_join(zip_with(split(cleaned, sent),
        concat(nowikiBodies, array(lit(""))),
        (s, b) => concat(s, coalesce(b, lit("")))), ""))
  }

  /** RFC 3986 §5.2 reference resolution, the deterministic core in
    * pure string ops: absolute `http(s)`/`ftp` refs pass through
    * (the generic any-scheme branch would accept `javascript://…` /
    * `data://…` pseudo-URLs — an explicit web-scheme whitelist
    * instead), `//cdn…` protocol-relative refs take the base scheme,
    * `/path` root-relative refs take scheme+host, `?query` refs keep
    * the full base path, and PATH-RELATIVE refs (`page2.html`,
    * `../x` — the majority of real-page hrefs) merge against the
    * base path's directory (§5.2.3) with dot-segment removal
    * (§5.2.4) replayed as a bounded iterated replace: `maxDepth`
    * rounds each of `/./`-collapse and leftmost `/seg/../`-collapse
    * plus root `/../`-drop — deeper dot chains than `maxDepth` stay
    * unresolved by contract. Fragment-only refs, any other scheme
    * (`javascript:`, `mailto:`, `data:`, `tel:`…) and empty refs
    * yield null. Dot-segment removal applies to the ref's PATH only
    * — its `?query`/`#fragment` tail is carried verbatim. Every
    * pattern is RE2-safe (no lookaround), so the DuckDB oracle
    * replays the chain byte-for-byte. Narrow, zero-shuffle. */
  def resolveUrl(base: Column, href: Column, maxDepth: Int = 8): Column = {
    val scheme = regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    val host = regexp_extract(base, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    val basePath = regexp_extract(base,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val hasBase = scheme =!= "" && host =!= ""
    val baseDir = when(basePath === "", lit("/"))
      .otherwise(regexp_replace(basePath, "/[^/]*$", "/"))
    val relPath = regexp_extract(href, "^([^?#]*)", 1)
    val relTail = when(href.rlike("[?#]"),
      regexp_extract(href, "([?#].*)$", 1)).otherwise(lit(""))
    def dedot(p: Column): Column = {
      val p1 = (1 to maxDepth).foldLeft(p)((c, _) =>
        regexp_replace(c, "/\\.(?:/|$)", "/"))
      (1 to maxDepth).foldLeft(p1)((c, _) =>
        regexp_replace(regexp_replace(c, "^/\\.\\.(?:/|$)", "/"),
          "/[^/]+/\\.\\.(?:/|$)", "/"))
    }
    when(href.rlike("(?i)^(https?|ftp)://"), href)
      .when(hasBase && href.startsWith("//"), concat(scheme, lit(":"), href))
      .when(hasBase && href.startsWith("/"),
        concat(scheme, lit("://"), host, dedot(relPath), relTail))
      .when(hasBase && href.startsWith("?"),
        concat(scheme, lit("://"), host, basePath, href))
      .when(hasBase && href =!= "" && !href.startsWith("#") &&
          !href.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:"),
        concat(scheme, lit("://"), host, dedot(concat(baseDir, relPath)), relTail))
      .otherwise(lit(null).cast("string"))
  }

  /** Outlink extraction — the web-graph edge builder that connects
    * the HTML pipeline ([[htmlToText]]) to the graph operators
    * ([[graft.ext.Dedup.pagerankCentrality]] consumes the edges after
    * a (src,dst) roll-up): pull every double-quoted `href` from the
    * page (case-insensitive attribute name), resolve it against the
    * page's own URL — absolute `http(s)`/`ftp` links pass through
    * (never `javascript://…`/`data://…` pseudo-URLs), `//cdn…`
    * protocol-relative links take the base scheme, `/path` root-
    * relative links take scheme+host — and emit one edge per mention
    * (multiplicities kept: they're the edge weights). Fragment-only
    * and other-scheme (`javascript:`/`mailto:`/`data:`) links are
    * dropped. With `resolveRelative`, PATH-relative links
    * (`page2.html`, `../x` — the majority of edges on a real crawl)
    * also resolve via the full RFC 3986 merge ([[resolveUrl]]);
    * without it they are dropped (the historical contract). Output
    * is UNnormalized resolved URLs: pipe `dst_url` through
    * [[urlNormalize]] / [[urlDedup]] to get canonical graph keys,
    * exactly like any other crawled URL.
    *
    * Scale: one narrow regexp pass + explode — no shuffle; the edge
    * stream is link-count-bounded, and the downstream (src,dst)
    * roll-up is the only exchange. */
  def extractLinks(docs: DataFrame, idCol: String = "doc_id",
                   urlCol: String = "url", htmlCol: String = "html",
                   resolveRelative: Boolean = false): DataFrame = {
    val scheme = regexp_extract(col(urlCol), "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    val host = regexp_extract(col(urlCol), "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    val links = regexp_extract_all(col(htmlCol),
      lit("[hH][rR][eE][fF]=\"([^\"]*)\""), lit(1))
    val hasBase = col("__scheme") =!= "" && col("__host") =!= ""
    val resolved =
      if (resolveRelative) resolveUrl(col("__url"), col("__l"))
      else when(col("__l").rlike("(?i)^(https?|ftp)://"), col("__l"))
        .when(hasBase && col("__l").startsWith("//"),
          concat(col("__scheme"), lit(":"), col("__l")))
        .when(hasBase && col("__l").startsWith("/"),
          concat(col("__scheme"), lit("://"), col("__host"), col("__l")))
        .otherwise(lit(null).cast("string"))
    docs.select(col(idCol), col(urlCol).as("__url"),
        scheme.as("__scheme"), host.as("__host"),
        explode(links).as("__l"))
      .select(col(idCol), lower(col("__host")).as("src_domain"),
        resolved.as("dst_url"))
      .filter(col("dst_url").isNotNull)
      .withColumn("dst_domain", urlDomain(col("dst_url")))
  }

  /** Page-metadata extraction — the `<head>` fields every crawl
    * pipeline keys on: the first `<title>` (entity-decoded via
    * [[decodeEntities]], whitespace-collapsed), the meta description
    * (both attribute orders), `rel=canonical` RESOLVED against the
    * page's own URL via [[resolveUrl]] — the canonical link is the
    * publisher-declared dedup key, fed to [[urlDedup]] ahead of any
    * content-level dedup — and the declared `<meta charset>`
    * (lowercased). Deterministic core: double-quoted attributes,
    * first match wins, `(?is)` so tag case and line breaks don't
    * matter; absent fields are null. One narrow regexp pass, zero
    * shuffle — head-of-page scan speed on a 100 TB crawl. */
  def pageMeta(docs: DataFrame, idCol: String = "doc_id",
               urlCol: String = "url", htmlCol: String = "html"): DataFrame = {
    val h = col(htmlCol)
    def nonEmpty(c: Column): Column = when(c =!= "", c)
    val title = nonEmpty(regexp_extract(h, "(?is)<title[^>]*>(.*?)</title>", 1))
    val titleClean = trim(regexp_replace(decodeEntities(title),
      "[ \\t\\n\\r]+", " "))
    val desc = coalesce(
      nonEmpty(regexp_extract(h,
        "(?is)<meta\\s+name=\"description\"\\s+content=\"([^\"]*)\"", 1)),
      nonEmpty(regexp_extract(h,
        "(?is)<meta\\s+content=\"([^\"]*)\"\\s+name=\"description\"", 1)))
    val charset = nonEmpty(lower(regexp_extract(h,
      "(?i)<meta\\s+charset=\"?([a-zA-Z0-9_-]+)", 1)))
    docs.select(col(idCol), col(urlCol).as("url"),
      titleClean.as("title"), desc.as("description"),
      canonicalUrl(col(urlCol), h).as("canonical_url"),
      charset.as("charset"))
  }

  /** The publisher-declared canonical URL of a page: the first
    * `rel=canonical` link (either attribute order), resolved against
    * the page's own URL via [[resolveUrl]]; null when absent or
    * unresolvable. The extraction half of [[pageMeta]], shared with
    * [[canonicalDedup]]. */
  def canonicalUrl(url: Column, html: Column): Column = {
    def nonEmpty(c: Column): Column = when(c =!= "", c)
    val canonRaw = coalesce(
      nonEmpty(regexp_extract(html,
        "(?is)<link\\s+rel=\"canonical\"\\s+href=\"([^\"]*)\"", 1)),
      nonEmpty(regexp_extract(html,
        "(?is)<link\\s+href=\"([^\"]*)\"\\s+rel=\"canonical\"", 1)))
    resolveUrl(url, canonRaw)
  }

  /** Canonical-aware recrawl collapse — [[urlDedup]] keyed on the
    * page's own `rel=canonical` declaration when present (resolved,
    * falling back to the crawl URL otherwise): the dedup real
    * pipelines run FIRST, because publishers already tell the crawler
    * that `/page?v=2`, `/page?ref=feed` and `/amp/page` are the same
    * document — collapsing them here is free row reduction before any
    * content hashing. Same output contract and same single url-keyed
    * shuffle as [[urlDedup]]; the canonical extraction is one narrow
    * regexp pass over the page head. */
  def canonicalDedup(docs: DataFrame, idCol: String = "doc_id",
                     urlCol: String = "url", htmlCol: String = "html",
                     tsCol: String = "ts", textCol: String = "text"): DataFrame =
    urlDedup(
      docs.select(
        coalesce(canonicalUrl(col(urlCol), col(htmlCol)), col(urlCol)).as(urlCol),
        col(idCol), col(tsCol), col(textCol)),
      urlCol, tsCol, idCol, textCol)

  /** Sitemap parsing (the sitemaps.org protocol) — the crawl-frontier
    * feed: explode each `<url>` entry AND each `<sitemap>` entry (the
    * `<sitemapindex>` form large sites ship — an index file used to
    * parse to zero rows, a silent frontier loss), pull `loc`/
    * `lastmod`/`changefreq`/`priority` with null for absent optional
    * fields, keep entry order as `pos` (frontier scheduling is
    * order-sensitive), and label each row `kind` = `url` | `sitemap`
    * so the frontier knows which rows are pages and which are MORE
    * sitemaps to fetch. Deterministic core: tag-delimited extraction
    * with `(?s)` lowercase-exact tags (XML is case-sensitive, unlike
    * HTML), alternation instead of a backreference (RE2-replayable)
    * and whitespace-trimmed values; `changefreq`/`priority` are
    * url-entry fields and stay null on index rows per the protocol.
    * One regexp pass + posexplode — narrow, output bounded by
    * frontier size, never a shuffle. */
  def sitemapParse(sitemaps: DataFrame, domainCol: String = "domain",
                   xmlCol: String = "xml"): DataFrame = {
    def field(e: Column, tag: String): Column = {
      val v = regexp_extract(e,
        s"(?s)<$tag>[ \\t\\n\\r]*(.*?)[ \\t\\n\\r]*</$tag>", 1)
      when(v =!= "", v)
    }
    sitemaps.select(col(domainCol).as("domain"),
        posexplode(regexp_extract_all(col(xmlCol),
          lit("(?s)<url>.*?</url>|<sitemap>.*?</sitemap>"), lit(0)))
          .as(Seq("pos", "e")))
      .select(col("domain"), col("pos").cast("long").as("pos"),
        when(col("e").startsWith("<sitemap>"), lit("sitemap"))
          .otherwise(lit("url")).as("kind"),
        field(col("e"), "loc").as("loc"),
        field(col("e"), "lastmod").as("lastmod"),
        field(col("e"), "changefreq").as("changefreq"),
        field(col("e"), "priority").cast("double").as("priority"))
  }

  /** WebVTT subtitle parsing — the transcript feed of a video
    * training pipeline: split the file into blank-line-separated
    * blocks, keep cue blocks (first line `HH:MM:SS.mmm -->
    * HH:MM:SS.mmm`, the full-hours form; the WEBVTT header, NOTE and
    * STYLE blocks simply don't match), convert both timestamps to
    * exact integer milliseconds, and carry the remaining lines as
    * the cue text. Output (id, block_pos, start_ms, end_ms,
    * duration_ms, text) — block_pos preserves file order. Narrow
    * regexp arithmetic, zero shuffle, oracle-replayable. */
  def vttParse(docs: DataFrame, idCol: String = "doc_id",
               vttCol: String = "vtt"): DataFrame = {
    val timing = "^([0-9]{2}):([0-9]{2}):([0-9]{2})\\.([0-9]{3})" +
      " --> ([0-9]{2}):([0-9]{2}):([0-9]{2})\\.([0-9]{3})"
    def ms(b: Column, g0: Int): Column =
      regexp_extract(b, timing, g0).cast("long") * 3600000L +
        regexp_extract(b, timing, g0 + 1).cast("long") * 60000L +
        regexp_extract(b, timing, g0 + 2).cast("long") * 1000L +
        regexp_extract(b, timing, g0 + 3).cast("long")
    val b = col("block")
    // subtitle dumps are frequently CRLF — normalize once up front so
    // the block split and the cue text both come out \n-clean
    docs.select(col(idCol),
        posexplode(split(regexp_replace(col(vttCol), "\r\n", "\n"),
          "\n\n")).as(Seq("block_pos", "block")))
      .filter(b.rlike(timing))
      .select(col(idCol), col("block_pos").cast("long").as("block_pos"),
        ms(b, 1).as("start_ms"), ms(b, 5).as("end_ms"),
        (ms(b, 5) - ms(b, 1)).as("duration_ms"),
        regexp_replace(b, "^[^\n]*\n?", "").as("text"))
  }

  /** SRT subtitle parsing — [[vttParse]]'s older sibling (the format
    * most scraped subtitle dumps actually use): blank-line-separated
    * blocks shaped `index \n HH:MM:SS,mmm --> HH:MM:SS,mmm \n text…`
    * (COMMA millisecond separator, unlike VTT's dot), the declared
    * cue index kept alongside the block position (real files skip and
    * repeat indices — both surface), timestamps as exact integer
    * milliseconds, remaining lines as the cue text. Non-cue blocks
    * (BOM headers, ads without a timing line) simply don't match.
    * Narrow regexp arithmetic, zero shuffle, oracle-replayable. */
  def srtParse(docs: DataFrame, idCol: String = "doc_id",
               srtCol: String = "srt"): DataFrame = {
    val pat = "^([0-9]+)\r?\n([0-9]{2}):([0-9]{2}):([0-9]{2}),([0-9]{3})" +
      " --> ([0-9]{2}):([0-9]{2}):([0-9]{2}),([0-9]{3})"
    def ms(b: Column, g0: Int): Column =
      regexp_extract(b, pat, g0).cast("long") * 3600000L +
        regexp_extract(b, pat, g0 + 1).cast("long") * 60000L +
        regexp_extract(b, pat, g0 + 2).cast("long") * 1000L +
        regexp_extract(b, pat, g0 + 3).cast("long")
    val b = col("block")
    // CRLF-normalized like vttParse (SRT dumps are mostly Windows)
    docs.select(col(idCol),
        posexplode(split(regexp_replace(col(srtCol), "\r\n", "\n"),
          "\n\n")).as(Seq("block_pos", "block")))
      .filter(b.rlike(pat))
      .select(col(idCol), col("block_pos").cast("long").as("block_pos"),
        regexp_extract(b, pat, 1).cast("long").as("cue_idx"),
        ms(b, 2).as("start_ms"), ms(b, 6).as("end_ms"),
        (ms(b, 6) - ms(b, 2)).as("duration_ms"),
        regexp_replace(b, "^[^\n]*\n[^\n]*\n?", "").as("text"))
  }

  /** Speaker-turn extraction — the conversational-data prep every
    * dialogue corpus runs: lines shaped `Speaker: utterance` become
    * one turn each (line order kept as `turn_pos`), narrative lines
    * without a speaker tag are skipped. The speaker label is 1-40
    * chars of letters/digits/space/dot/dash/underscore before the
    * first colon; the utterance is whitespace-trimmed; `n_words`
    * counts its space-separated words. Per-speaker roll-ups
    * (turn counts, word budgets, balance checks) are one groupBy
    * away. Narrow split + regexp pass, zero shuffle. */
  def dialogueTurns(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val pat = "^([A-Za-z][A-Za-z0-9 ._-]{0,39}): (.*)$"
    val l = col("line")
    docs.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("turn_pos", "line")))
      .filter(l.rlike(pat))
      .select(col(idCol), col("turn_pos").cast("long").as("turn_pos"),
        regexp_extract(l, pat, 1).as("speaker"),
        trim(regexp_extract(l, pat, 2)).as("utterance"))
      .withColumn("n_words",
        size(filter(split(col("utterance"), " "), x => x =!= "")).cast("long"))
  }

  /** Markdown structure census — the quality/routing signal for
    * code-and-docs corpora: ATX header count (`#{1,6} ` lines),
    * fenced code-block count (``` fence pairs), markdown link count
    * (`[label](target)`), and the fraction of characters inside
    * fenced code (split on the fence — odd-indexed segments are
    * code, the standard parity trick; an unterminated trailing fence
    * counts to end-of-file, CommonMark's own rule). Exact integer
    * counts + one IEEE division — hashable; narrow, zero shuffle. */
  def markdownStats(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val parts = split(t, "```")
    val codeChars = aggregate(
      sequence(lit(0), size(parts) - 1), lit(0L),
      (acc, i) => acc + when(pmod(i, lit(2)) === 1,
        length(element_at(parts, i + 1)).cast("long")).otherwise(0L))
    docs.select(col(idCol),
      size(filter(split(t, "\n"), l => l.rlike("^#{1,6} ")))
        .cast("long").as("n_headers"),
      (size(parts) / 2).cast("long").as("n_code_blocks"),
      size(regexp_extract_all(t, lit("\\[[^\\]]*\\]\\([^)]*\\)"), lit(0)))
        .cast("long").as("n_links"),
      codeChars.as("code_chars"),
      length(t).cast("long").as("n_chars"),
      when(length(t) > 0, codeChars.cast("double") / length(t))
        .as("code_fraction"))
  }

  /** HTML table extraction — the structured-data mining step (web
    * tables are a classic KB/training source): explode each
    * `<table>`, its `<tr>` rows and `<td>`/`<th>` cells with
    * position indices at every level, a header flag, and cell text
    * that is tag-stripped, entity-decoded ([[decodeEntities]]) and
    * whitespace-collapsed. `(?is)` non-greedy core — this is regexp
    * extraction, not a DOM: a nested inner table's cells surface
    * under the OUTER table's first cell and again as their own
    * top-level match (documented; real miners drop nested-table
    * pages by the census anyway). Three chained narrow
    * posexplodes, zero shuffle. */
  def htmlTables(docs: DataFrame, idCol: String = "doc_id",
                 htmlCol: String = "html"): DataFrame =
    docs.select(col(idCol),
        posexplode(regexp_extract_all(col(htmlCol),
          lit("(?is)<table[^>]*>(.*?)</table>"), lit(1)))
          .as(Seq("table_idx", "__t")))
      .select(col(idCol), col("table_idx"),
        posexplode(regexp_extract_all(col("__t"),
          lit("(?is)<tr[^>]*>(.*?)</tr>"), lit(1)))
          .as(Seq("row_idx", "__r")))
      .select(col(idCol), col("table_idx"), col("row_idx"),
        posexplode(regexp_extract_all(col("__r"),
          lit("(?is)<t[dh][^>]*>.*?</t[dh]>"), lit(0)))
          .as(Seq("col_idx", "__c")))
      .select(col(idCol),
        col("table_idx").cast("long").as("table_idx"),
        col("row_idx").cast("long").as("row_idx"),
        col("col_idx").cast("long").as("col_idx"),
        (lower(substring(col("__c"), 1, 3)) === "<th").as("is_header"),
        trim(regexp_replace(decodeEntities(
          regexp_replace(col("__c"), "<[^>]*>", " ")),
          "[ \\t\\n\\r]+", " ")).as("cell"))

  /** Render extracted table cells ([[htmlTables]]' output shape:
    * doc/table/row/col indices, header flag, clean cell text) to
    * GitHub-flavored Markdown — the table-to-text form web-table
    * mining pipelines feed to models: cells pipe-escaped and joined
    * `| a | b |` in column order, a `| --- |` separator after the
    * first row when it is a header row, rows joined by newline in
    * row order. Output (doc_id, table_idx, n_rows, n_cols,
    * markdown). Two keyed shuffles (row grain, then table grain);
    * per-table state is that table's cells only. */
  def tableToMarkdown(cells: DataFrame): DataFrame = {
    val rowLines = cells
      .groupBy(col("doc_id"), col("table_idx"), col("row_idx"))
      .agg(
        array_sort(collect_list(struct(col("col_idx"),
          regexp_replace(col("cell"), "\\|", "\\\\|").as("cell"))))
          .as("__cs"),
        max(col("is_header")).as("__hdr"))
      .select(col("doc_id"), col("table_idx"), col("row_idx"),
        concat(lit("| "), array_join(
          transform(col("__cs"), c => c.getField("cell")), " | "),
          lit(" |")).as("__line"),
        size(col("__cs")).cast("long").as("__nc"), col("__hdr"))
    rowLines.groupBy(col("doc_id"), col("table_idx"))
      .agg(array_sort(collect_list(struct(col("row_idx"),
        col("__line").as("line"), col("__nc").as("nc"),
        col("__hdr").as("hdr")))).as("__rs"))
      .select(col("doc_id"), col("table_idx"),
        size(col("__rs")).cast("long").as("n_rows"),
        array_max(transform(col("__rs"), r => r.getField("nc")))
          .as("n_cols"),
        {
          val rs = col("__rs")
          val first = element_at(rs, 1)
          val lines = transform(rs, r => r.getField("line"))
          val sep = concat(lit("| "), array_join(
            transform(sequence(lit(1), first.getField("nc")),
              _ => lit("---")), " | "), lit(" |"))
          val tail = when(size(rs) > 1, concat(lit("\n"), array_join(
            slice(lines, lit(2), size(rs) - 1), "\n"))).otherwise(lit(""))
          when(first.getField("hdr"),
            concat(first.getField("line"), lit("\n"), sep, tail))
            .otherwise(array_join(lines, "\n")).as("markdown")
        })
  }

  /** Fixed-size chunking with overlap — the RAG/retrieval prep step:
    * windows of `size` chars starting every `size − overlap` chars,
    * the last chunk shorter but never empty; empty documents emit
    * ZERO chunks. Output (idCol, chunk_idx, chunk_start — 1-based,
    * n_chunk_chars, chunk). Pure integer arithmetic + one
    * posexplode; the `(n − size + stride − 1)/stride` ceil stays
    * exact in doubles far beyond any document length. Narrow, zero
    * shuffle. */
  def chunkText(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", size: Int = 512,
                overlap: Int = 64): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    val n = length(col(textCol)).cast("long")
    val nChunks = when(n === 0L, lit(0L))
      .when(n <= size.toLong, lit(1L))
      .otherwise(lit(1L) +
        floor((n - size.toLong + (stride - 1).toLong) / lit(stride)))
    // guard: sequence(0, -1) DESCENDS in Spark — empty docs must map
    // to an empty index array, not [0, -1]
    val idxs = when(nChunks === 0L,
      array().cast("array<bigint>"))
      .otherwise(sequence(lit(0L), nChunks - 1L))
    docs.select(col(idCol), col(textCol).as("__t"),
        posexplode(idxs).as(Seq("chunk_idx", "__i")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        (col("__i") * stride.toLong + 1L).as("chunk_start"),
        length(col("__t").substr((col("__i") * stride.toLong + 1L).cast("int"),
          lit(size))).cast("long").as("n_chunk_chars"),
        col("__t").substr((col("__i") * stride.toLong + 1L).cast("int"),
          lit(size)).as("chunk"))
  }

  /** Robots meta directives — the in-page half of the crawl-politeness
    * contract ([[robotsGate]] is the robots.txt half): the first
    * `<meta name="robots" content="...">` in either attribute order,
    * case-insensitive, and its noindex / nofollow / noarchive flags
    * (comma-separated token match, whitespace-tolerant). Pages
    * without the tag are fully indexable (all flags false, content
    * null). One regexp pass, zero shuffle. */
  def robotsMeta(docs: DataFrame, idCol: String = "doc_id",
                 htmlCol: String = "html"): DataFrame = {
    val c1 = regexp_extract(col(htmlCol),
      "(?is)<meta[^>]*name[ \\t]*=[ \\t]*\"robots\"[^>]*" +
        "content[ \\t]*=[ \\t]*\"([^\"]*)\"", 1)
    val c2 = regexp_extract(col(htmlCol),
      "(?is)<meta[^>]*content[ \\t]*=[ \\t]*\"([^\"]*)\"[^>]*" +
        "name[ \\t]*=[ \\t]*\"robots\"", 1)
    val content = when(c1 =!= "", c1).when(c2 =!= "", c2)
    def flag(tok: String): Column = coalesce(
      exists(split(lower(content), ","), t => trim(t) === tok), lit(false))
    docs.select(col(idCol), content.as("robots_content"),
      flag("noindex").as("noindex"), flag("nofollow").as("nofollow"),
      flag("noarchive").as("noarchive"))
  }

  /** Invisible-character and bidi-control census — the SEO-cloaking /
    * spoofing hygiene signal a crawl pipeline gates on: zero-width
    * characters (ZWSP/ZWNJ/ZWJ/WJ/BOM — invisible dedup-key poison),
    * bidi control characters (LRM/RLM, the LRE..RLO embedding block,
    * the LRI..PDI isolate block — the Trojan-Source vector), and
    * words mixing Cyrillic with Latin letters (the confusable-spoof
    * shape: "pаypal" with a Cyrillic а). Exact integer counts via
    * replace-diff and an in-row token scan; narrow, zero shuffle. */
  def invisibleChars(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def cnt(cls: String): Column =
      (length(t) - length(regexp_replace(t, cls, ""))).cast("long")
    val zw = "[\\x{200B}\\x{200C}\\x{200D}\\x{2060}\\x{FEFF}]"
    val bidi = "[\\x{200E}\\x{200F}\\x{202A}-\\x{202E}\\x{2066}-\\x{2069}]"
    val mixed = size(filter(split(t, " "), w =>
      w.rlike("[\\x{0400}-\\x{04FF}]") && w.rlike("[A-Za-z]")))
      .cast("long")
    docs.select(col(idCol),
      cnt(zw).as("n_zero_width"),
      cnt(bidi).as("n_bidi_controls"),
      mixed.as("n_mixed_script_words"),
      (cnt(zw) > 0 || cnt(bidi) > 0 || mixed > 0).as("suspicious"))
  }

  /** Homoglyph normalization for dedup/spoof-detection keys: the 22
    * highest-frequency Cyrillic letters that render identically to
    * Latin in most fonts map to their Latin lookalikes (both cases
    * where the glyphs coincide), via one per-char `translate` — so
    * "pаypal.com" and "paypal.com" collapse to one key. This is the
    * DEDUP-KEY form, not a linguistic conversion: genuine Cyrillic
    * prose should be routed by script census first, not fed here.
    * Output (idCol, normalized, n_mapped, changed); narrow, zero
    * shuffle. */
  def homoglyphNormalize(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val from = "аеорсхуіј" +
      "АВЕКМНОРСТ" +
      "ХІЈ"
    val to = "aeopcxyij" + "ABEKMHOPCTXIJ"
    val norm = translate(col(textCol), from, to)
    val mapped = (length(col(textCol)) -
      length(regexp_replace(col(textCol),
        "[\\x{0430}\\x{0435}\\x{043E}\\x{0440}\\x{0441}\\x{0445}" +
        "\\x{0443}\\x{0456}\\x{0458}\\x{0410}\\x{0412}\\x{0415}" +
        "\\x{041A}\\x{041C}\\x{041D}\\x{041E}\\x{0420}\\x{0421}" +
        "\\x{0422}\\x{0425}\\x{0406}\\x{0408}]", ""))).cast("long")
    docs.select(col(idCol), norm.as("normalized"),
      mapped.as("n_mapped"), (mapped > 0L).as("changed"))
  }

  /** CSV dialect sniffing — the ingestion-time dialect guess for a
    * lake of unlabeled delimited files: over the first `maxLines`
    * non-empty lines, a candidate delimiter (comma, semicolon, tab,
    * pipe) is CONSISTENT when every sampled line splits into the
    * same field count > 1; the winner is the consistent delimiter
    * with the highest field count (ties break in the fixed candidate
    * order). Fields are counted by the native RFC 4180 kernel
    * (`functions.CsvFields`), so QUOTED fields with embedded
    * delimiters count correctly — a regex split cannot express the
    * quote state machine. Header detection (the classic csv.Sniffer
    * heuristic): the first line carries no purely-numeric field
    * while the second carries at least one — evaluated under the
    * winning delimiter. Output (idCol, delimiter — null when nothing
    * is consistent, n_cols, has_header, n_lines_sampled); one narrow
    * codegen'd pass, zero shuffle. */
  def csvSniff(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", maxLines: Int = 20): DataFrame = {
    import graft.functions.CsvFields
    // RFC 4180 lines are CRLF-delimited; split on either ending so a
    // real Windows-written lake file doesn't drag \r into its fields
    val linesExpr = slice(filter(split(col(textCol), "\r?\n"),
      l => l =!= ""), lit(1), lit(maxLines))
    val lines = col("__lines")
    val l1 = coalesce(try_element_at(lines, lit(1)), lit(""))
    val l2 = try_element_at(lines, lit(2))
    val numeric = "^-?[0-9]+(\\.[0-9]+)?$"
    val cands = Seq(",", ";", "\t", "|")
    // ONE struct per candidate, computed once behind an alias
    // boundary: the old form inlined every candidate's kernel chain
    // into each of the three output trees (delimiter, n_cols,
    // has_header evaluated it all 3x per row)
    val scoredArr = array(cands.map { name =>
      val counts = transform(lines, l => size(CsvFields(l, lit(name))))
      val first = try_element_at(counts, lit(1))
      val ok = first.isNotNull && first > 1 &&
        forall(counts, x => x === first)
      val hdr = l2.isNotNull &&
        !exists(CsvFields(l1, lit(name)), f => trim(f).rlike(numeric)) &&
        coalesce(exists(CsvFields(l2, lit(name)),
          f => trim(f).rlike(numeric)), lit(false))
      struct(lit(name).as("d"), when(ok, first).as("nc"), hdr.as("hdr"))
    }: _*)
    // max-columns winner with fixed-order ties: strict > keeps the
    // earlier candidate on equal counts, exactly the old fold
    val bestExpr = aggregate(col("__s"),
      struct(lit(null).cast("string").as("d"),
        lit(null).cast("int").as("nc"), lit(false).as("hdr")),
      (acc, x) => when(x.getField("nc").isNotNull &&
        (acc.getField("nc").isNull ||
          x.getField("nc") > acc.getField("nc")), x).otherwise(acc))
    docs.select(col(idCol), linesExpr.as("__lines"))
      .select(col(idCol), lines, scoredArr.as("__s"))
      .select(col(idCol), lines, bestExpr.as("__b"))
      .select(col(idCol), col("__b.d").as("delimiter"),
        col("__b.nc").cast("long").as("n_cols"),
        col("__b.hdr").as("has_header"),
        size(lines).cast("long").as("n_lines_sampled"))
  }

  /** RFC 4180 CSV parsing to positioned fields: lines explode with
    * their index, each line splits through the quote-aware
    * `functions.CsvFields` kernel, fields explode with their column
    * index — the text-lake ingest for delimited files the schemaless
    * census tiers feed on. Pair with [[csvSniff]] for the delimiter.
    * Output (idCol, line_idx, col_idx, field); two narrow
    * posexplodes, zero shuffle. */
  def csvParse(docs: DataFrame, delimiter: String,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    import graft.functions.CsvFields
    docs
      .select(col(idCol), posexplode(
        // CRLF-tolerant per RFC 4180, like csvSniff
        filter(split(col(textCol), "\r?\n"), l => l =!= ""))
        .as(Seq("line_idx", "__l")))
      .select(col(idCol), col("line_idx").cast("long").as("line_idx"),
        posexplode(CsvFields(col("__l"), lit(delimiter)))
          .as(Seq("col_idx", "field")))
      .select(col(idCol), col("line_idx"),
        col("col_idx").cast("long").as("col_idx"), col("field"))
  }

  /** Per-column type census under a sniffed dialect — the step that
    * turns a [[csvSniff]]ed lake file into an explicit schema: every
    * DATA field (the header line excluded when `headerCol` says the
    * file has one) classifies into exactly one of
    * empty/int/double/bool/date/str (priority order; `double` means
    * numeric-but-not-integer, RE2-safe anchored patterns only), the
    * counts roll up per (file, column), and `inferred_type` applies
    * the standard promotion — all-int ⇒ bigint, int+double ⇒ double,
    * all-bool ⇒ boolean, all-date ⇒ date, anything else (or all
    * empty) ⇒ string, with empties tolerated as nulls-to-be.
    * `col_name` comes from the header when present (null otherwise —
    * [[csvInferSchema]] falls back to `c<idx>`). `delimCol`/
    * `headerCol` are per-file COLUMNS (feed [[csvSniff]]'s output
    * straight in — dialects differ per file in a real lake).
    *
    * Scale shape: ONE scan — lines and fields posexplode through the
    * RFC 4180 kernel with the header row kept IN the stream (tagged,
    * not a second branch: a separate header pass would re-run the
    * whole upstream sniff lineage), then one (file, column)-keyed
    * map-side-combined aggregation pulls the name out of the header
    * tag and the counts out of the data rows — state bounded by
    * files × columns, never by cell count. A header-only file yields
    * named columns with zero values (inferred string). Output
    * (idCol, col_idx, col_name, n_values, n_int, n_double, n_bool,
    * n_date, n_empty, inferred_type). */
  def csvTypeCensus(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    delimCol: String = "delimiter",
                    headerCol: String = "has_header"): DataFrame = {
    import graft.functions.CsvFields
    // CRLF-tolerant, like csvSniff/csvParse
    val lines = filter(split(col(textCol), "\r?\n"), l => l =!= "")
    val f = trim(col("__f"))
    val isHdr = col("__h") && col("__li") === 0
    val cls = when(isHdr, "header")
      .when(col("__f") === "", "empty")
      .when(f.rlike("^-?[0-9]+$"), "int")
      .when(f.rlike("^-?[0-9]+(\\.[0-9]+)?([eE][+-]?[0-9]+)?$"), "double")
      .when(f.rlike("(?i)^(true|false)$"), "bool")
      .when(f.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"), "date")
      .otherwise("str")
    def cnt(t: String): Column =
      sum(when(col("__cls") === t, 1L).otherwise(0L)).as(s"n_$t")
    val census = docs
      .select(col(idCol), col(delimCol).as("__dl"),
        col(headerCol).as("__h"), posexplode(lines).as(Seq("__li", "__l")))
      .select(col(idCol), col("__h"), col("__li"),
        posexplode(CsvFields(col("__l"), col("__dl")))
          .as(Seq("col_idx", "__f")))
      .select(col(idCol), col("col_idx").cast("long").as("col_idx"),
        cls.as("__cls"), when(isHdr, col("__f")).as("__hname"))
      .groupBy(col(idCol), col("col_idx"))
      .agg(max(col("__hname")).as("col_name"),
        sum(when(col("__cls") =!= "header", 1L).otherwise(0L))
          .as("n_values"),
        cnt("int"), cnt("double"), cnt("bool"), cnt("date"), cnt("empty"))
    val nonEmpty = col("n_values") - col("n_empty")
    census
      .select(col(idCol), col("col_idx"), col("col_name"),
        col("n_values"), col("n_int"), col("n_double"), col("n_bool"),
        col("n_date"), col("n_empty"),
        when(nonEmpty === 0L, "string")
          .when(col("n_int") === nonEmpty, "bigint")
          .when(col("n_int") + col("n_double") === nonEmpty, "double")
          .when(col("n_bool") === nonEmpty, "boolean")
          .when(col("n_date") === nonEmpty, "date")
          .otherwise("string").as("inferred_type"))
  }

  /** Collapse a [[csvTypeCensus]] into ONE Spark-DDL schema string
    * per file (`"id bigint, amount double, when date"` —
    * `StructType.fromDDL`-parseable for identifier-safe names;
    * headerless columns fall back to `c<idx>`): the artifact the
    * sniff → parse → census loop exists to produce, handed to an
    * explicit-schema reader. One file-keyed aggregation over the
    * already file×column-bounded census. */
  def csvInferSchema(census: DataFrame, idCol: String = "doc_id"): DataFrame =
    census.groupBy(col(idCol)).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("col_idx").as("i"),
          concat(coalesce(col("col_name"),
            concat(lit("c"), col("col_idx"))), lit(" "),
            col("inferred_type")).as("s")))),
        x => x.getField("s")), ", ").as("schema"))

  /** Top-level JSON key census over a JSONL corpus — the
    * schema-discovery pass before an explicit-schema ingest: every
    * parseable object contributes its top-level keys once, ONE
    * map-side-combined count per key (state bounded by the key
    * vocabulary, never the corpus); malformed rows contribute
    * nothing (fail-closed, the CorpusIO DROPMALFORMED convention).
    * Output (key, n_docs). */
  def jsonKeyCensus(docs: DataFrame, jsonCol: String = "json"): DataFrame = {
    docs.select(explode(coalesce(json_object_keys(col(jsonCol)),
        array().cast("array<string>"))).as("key"))
      .groupBy("key").agg(count(lit(1)).as("n_docs"))
  }

  /** Nested JSON path census — [[jsonKeyCensus]] taken to the depth
    * real JSONL lakes actually have: every dotted key path down to
    * `maxDepth` levels with a per-path TYPE census
    * (object/array/string/number/bool/null occurrence counts), the
    * numbers an explicit-schema reader is written from (`meta.lang:
    * 98% string, 2% null → nullable string column`). Powered by the
    * one-pass [[graft.functions.JsonPathTypes]] kernel — malformed
    * rows fail closed and contribute nothing, arrays are leaf-typed
    * (element schemas are the reader's job), objects past the depth
    * bound still count as `object` at their own path. ONE
    * map-side-combined aggregation keyed by path — state bounded by
    * the path vocabulary, never the corpus. Output (path, n_total,
    * n_object, n_array, n_string, n_number, n_bool, n_null). */
  def jsonPathCensus(docs: DataFrame, jsonCol: String = "json",
                     maxDepth: Int = 3): DataFrame = {
    def cnt(t: String): Column =
      sum(when(col("jtype") === t, 1L).otherwise(0L)).as(s"n_$t")
    docs.select(explode(
        graft.functions.JsonPathTypes(col(jsonCol), maxDepth)).as("e"))
      .select(col("e.path").as("path"), col("e.jtype").as("jtype"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_total"), cnt("object"), cnt("array"),
        cnt("string"), cnt("number"), cnt("bool"), cnt("null"))
  }

  /** CDXJ crawl-index parsing — the lookup side of the WARC tier
    * (Common Crawl publishes a CDXJ index per crawl; range-fetching
    * a record means reading its `(filename, offset, length)` from
    * here, never scanning archives): each line is
    * `SURT timestamp {json}` — the SURT key and 14-digit timestamp
    * split off positionally, the JSON block's standard fields pulled
    * with `get_json_object` and the numeric ones through `try_cast`
    * (CDXJ stores them as strings). Lines without a JSON block or
    * with unparseable JSON yield null fields, not dropped rows (the
    * index censuses its own malformation rate). Output (idCol, pos,
    * surt, ts, url, status, mime, digest, length, offset, filename);
    * one narrow explode over the line split, zero shuffle. */
  def cdxjParse(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val line = col("__line")
    val json = regexp_extract(line, "^[^ ]+ [0-9]+ (\\{.*\\})$", 1)
    def js(field: String): Column =
      get_json_object(col("__json"), "$." + field)
    docs.select(col(idCol),
        posexplode(filter(split(col(textCol), "\n"),
          l => trim(l) =!= "")).as(Seq("pos", "__line")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        regexp_extract(line, "^([^ ]+) ", 1).as("surt"),
        regexp_extract(line, "^[^ ]+ ([0-9]+) ", 1).as("ts"),
        when(json =!= "", json).as("__json"))
      .select(col(idCol), col("pos"),
        when(col("surt") =!= "", col("surt")).as("surt"),
        when(col("ts") =!= "", col("ts")).as("ts"),
        js("url").as("url"),
        expr("try_cast(get_json_object(__json, '$.status') AS int)")
          .as("status"),
        js("mime").as("mime"),
        js("digest").as("digest"),
        expr("try_cast(get_json_object(__json, '$.length') AS bigint)")
          .as("length"),
        expr("try_cast(get_json_object(__json, '$.offset') AS bigint)")
          .as("offset"),
        js("filename").as("filename"))
  }

  /** MediaWiki dump PAGE extraction — the step between a Wikipedia
    * export XML and [[wikitextClean]]: every `<page>` block explodes
    * with its dump order, `title` and `text` entity-decoded (dumps
    * XML-escape the wikitext), the namespace number, the page's own
    * `<id>` (the first id — revision ids come later in the block),
    * and the `<redirect title>` target when the page is one (the
    * filter rule for a text corpus: `ns = 0 AND redirect IS NULL`).
    * Pages missing a field yield null there, not a dropped row.
    * Output (idCol, pos, title, ns, page_id, redirect, text); one
    * regexp pass + posexplode, zero shuffle. */
  def wikiDumpPages(docs: DataFrame, idCol: String = "doc_id",
                    xmlCol: String = "xml"): DataFrame = {
    val p = col("__pg")
    def opt(c: Column): Column = when(c =!= "", c)
    docs.select(col(idCol),
        posexplode(regexp_extract_all(col(xmlCol),
          lit("(?s)<page>(.*?)</page>"), lit(1))).as(Seq("pos", "__pg")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        opt(decodeEntities(regexp_extract(p,
          "(?s)<title>(.*?)</title>", 1))).as("title"),
        opt(regexp_extract(p, "<ns>([0-9]+)</ns>", 1)).cast("int").as("ns"),
        opt(regexp_extract(p, "<id>([0-9]+)</id>", 1)).cast("long")
          .as("page_id"),
        opt(decodeEntities(regexp_extract(p,
          "<redirect title=\"([^\"]*)\"", 1))).as("redirect"),
        opt(decodeEntities(regexp_extract(p,
          "(?s)<text[^>]*>(.*?)</text>", 1))).as("text"))
  }

  /** Collapse a [[jsonPathCensus]] into ONE Spark-DDL struct string
    * for the corpus — the JSONL half of the sniff → census →
    * explicit-read loop ([[csvInferSchema]] is the CSV half):
    *
    *  - each path's KIND is the majority of its type census, ties
    *    resolved widest-first (string > number > bool > array >
    *    object — the CSV promotion-ladder discipline: when in doubt,
    *    the type that loses no data);
    *  - leaves map `string→string`, `number→double`, `bool→boolean`,
    *    `array→array<string>` (element types are not in the census —
    *    the reader widens explicitly), all-null paths → `string`;
    *  - OBJECT paths fold bottom-up into `struct<name:type,…>` with
    *    fields in name order; objects whose children the census never
    *    enumerated (the `maxDepth` bound) become `map<string,string>`
    *    — the honest type for an object of unknown keys;
    *  - a top-level field is `NOT NULL` only when its census saw no
    *    nulls AND it appeared in every parsed document (presence =
    *    the top-level maximum `n_total`); nested nullability is not
    *    expressible in `struct<>` DDL and stays nullable.
    *
    * `StructType.fromDDL`-parseable for identifier-safe names
    * (round-trip pinned in the unit). The fold is `maxDepth` tiny
    * aggregations over the path-vocabulary-bounded census — never
    * the corpus. Output: one row, one `schema` string. */
  def jsonInferSchema(census: DataFrame, maxDepth: Int = 3): DataFrame = {
    val mx = greatest(col("n_string"), col("n_number"), col("n_bool"),
      col("n_array"), col("n_object"))
    val kind = when(col("n_total") === col("n_null"), lit("null"))
      .when(col("n_string") === mx, lit("string"))
      .when(col("n_number") === mx, lit("number"))
      .when(col("n_bool") === mx, lit("bool"))
      .when(col("n_array") === mx, lit("array"))
      .otherwise(lit("object"))
    var cur = census.select(col("path"),
      size(split(col("path"), "\\.")).as("depth"),
      kind.as("kind"), col("n_total"), col("n_null"))
      .withColumn("dtype",
        when(col("kind") === "string", "string")
          .when(col("kind") === "number", "double")
          .when(col("kind") === "bool", "boolean")
          .when(col("kind") === "array", "array<string>")
          .when(col("kind") === "null", "string")
          .otherwise(lit(null).cast("string")))
    var lvl = maxDepth
    while (lvl >= 2) {
      val kids = cur.filter(col("depth") === lvl)
        .select(regexp_extract(col("path"), "^(.*)\\.[^.]*$", 1)
          .as("__ppath"),
          regexp_extract(col("path"), "([^.]*)$", 1).as("__fname"),
          coalesce(col("dtype"), lit("map<string,string>")).as("__ftype"))
        .groupBy("__ppath").agg(
          concat(lit("struct<"), array_join(transform(
            array_sort(collect_list(struct(col("__fname").as("n"),
              col("__ftype").as("t")))),
            x => concat(x.getField("n"), lit(":"), x.getField("t"))),
            ","), lit(">")).as("__stype"))
      cur = cur.join(kids, cur("path") === kids("__ppath"), "left")
        .select(cur("path"), cur("depth"), cur("kind"), cur("n_total"),
          cur("n_null"), coalesce(cur("dtype"), col("__stype")).as("dtype"))
      lvl -= 1
    }
    cur.filter(col("depth") === 1)
      .select(col("path"), col("n_total"), col("n_null"),
        coalesce(col("dtype"), lit("map<string,string>")).as("dtype"))
      .groupBy().agg(max(col("n_total")).as("__mx"),
        collect_list(struct(col("path").as("p"), col("dtype").as("t"),
          col("n_total").as("nt"), col("n_null").as("nn"))).as("__fs"))
      .select(array_join(transform(array_sort(col("__fs")),
        f => concat(f.getField("p"), lit(" "), f.getField("t"),
          when(f.getField("nn") === 0L && f.getField("nt") === col("__mx"),
            lit(" NOT NULL")).otherwise(lit("")))), ", ").as("schema"))
  }

  /** RSS 2.0 / Atom feed parsing — the incremental-discovery feed of
    * a crawl (what changed since the last visit, without recrawling
    * the site): explode `<item>` (RSS) and `<entry>` (Atom) blocks
    * with a kind tag, pulling title, link (RSS `<link>text</link>`
    * or Atom `<link href="..."/>`) and the published stamp
    * (`pubDate`/`updated`). Lowercase-exact tags (XML), `(?s)`
    * values, whitespace-trimmed, absent fields null; a feed is one
    * kind, so `pos` is its natural entry order. One regexp pass +
    * posexplode, feed-bounded. */
  def feedParse(feeds: DataFrame, domainCol: String = "domain",
                xmlCol: String = "xml"): DataFrame = {
    def field(e: Column, tag: String): Column = {
      val v = regexp_extract(e,
        s"(?s)<$tag>[ \\t\\n\\r]*(.*?)[ \\t\\n\\r]*</$tag>", 1)
      when(v =!= "", v)
    }
    def tagged(pat: String, kind: String) =
      transform(regexp_extract_all(col(xmlCol), lit(pat), lit(1)),
        e => struct(lit(kind).as("k"), e.as("e")))
    val e = col("x.e")
    feeds.select(col(domainCol).as("domain"),
        posexplode(concat(
          tagged("(?s)<item>(.*?)</item>", "rss"),
          tagged("(?s)<entry>(.*?)</entry>", "atom"))).as(Seq("pos", "x")))
      .select(col("domain"), col("pos").cast("long").as("pos"),
        col("x.k").as("kind"),
        field(e, "title").as("title"),
        coalesce(field(e, "link"),
          when(regexp_extract(e, "(?s)<link[^>]*href=\"([^\"]*)\"", 1) =!= "",
            regexp_extract(e, "(?s)<link[^>]*href=\"([^\"]*)\"", 1)))
          .as("link"),
        coalesce(field(e, "pubDate"), field(e, "updated")).as("published"))
  }

  /** Open Graph tag extraction — the social-card metadata layer
    * ([[pageMeta]] covers the classic head fields): every
    * `<meta property="og:…" content="…">` pair (either attribute
    * order) as exploded (property, content) rows — property-first
    * matches in page order, then content-first matches in page order
    * (two extraction passes; `pos` is that combined order).
    * Double-quoted deterministic core, `(?is)`. One narrow pass. */
  def ogTags(docs: DataFrame, idCol: String = "doc_id",
             htmlCol: String = "html"): DataFrame = {
    val p1 = "(?is)<meta\\s+property=\"og:[^\"]*\"\\s+content=\"[^\"]*\""
    val p2 = "(?is)<meta\\s+content=\"[^\"]*\"\\s+property=\"og:[^\"]*\""
    val m = col("m")
    docs.select(col(idCol),
        posexplode(concat(
          regexp_extract_all(col(htmlCol), lit(p1), lit(0)),
          regexp_extract_all(col(htmlCol), lit(p2), lit(0))))
          .as(Seq("pos", "m")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        regexp_extract(m, "(?is)property=\"og:([^\"]*)\"", 1).as("og_property"),
        regexp_extract(m, "(?is)content=\"([^\"]*)\"", 1).as("og_content"))
  }

  /** Quoted-reply and signature stripping — the mailing-list/forum
    * cleaning pass (reply chains quote the whole thread; training on
    * them over-weights every upthread message): cut everything from
    * the first `--` signature delimiter line (trimmed match, the
    * RFC 3676 convention), then drop `>`-quoted lines and
    * `On … wrote:` attribution lines. Output (idCol, cleaned,
    * n_lines, n_quoted, n_signature) with exact counts — quoted
    * counted AFTER the signature cut. `array_position` finds the
    * delimiter, `slice`/`filter`/`array_join` do the rest — narrow,
    * zero shuffle, oracle-replayable. */
  def stripQuotedReply(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text",
                       carryCols: Seq[String] = Seq.empty): DataFrame = {
    val lines = split(col(textCol), "\n")
    val sigIdx = array_position(
      transform(lines, l => trim(l) === "--"), lit(true))
    val body = when(sigIdx > 0, slice(lines, lit(1), (sigIdx - 1).cast("int")))
      .otherwise(lines)
    val kept = filter(body, l =>
      !l.startsWith(">") && !l.rlike("^On .* wrote:$"))
    docs.select((col(idCol) +: carryCols.map(col)) ++ Seq(
      array_join(kept, "\n").as("cleaned"),
      size(lines).cast("long").as("n_lines"),
      size(filter(body, l => l.startsWith(">"))).cast("long").as("n_quoted"),
      (size(lines) - size(body)).cast("long").as("n_signature")): _*)
  }

  /** Main-content extraction — the jusText/trafilatura-class
    * boilerplate remover, reduced to its deterministic core: split
    * the page into blocks at block-level tags (div/p/section/li/
    * table/headings/nav/aside/footer…), strip and whitespace-collapse
    * each block's text, measure its LINK DENSITY (characters inside
    * `<a>` anchors over block characters), and keep blocks that are
    * long enough (`minChars`) and not link-dominated
    * (`link_chars * 100 <= txt_chars * maxLinkPct` — an exact
    * integer comparison, no division). Navigation bars, footers and
    * tag clouds are short-or-link-dense, article prose is neither —
    * the two thresholds are the whole heuristic. Output (idCol,
    * n_blocks, n_kept, content) with kept blocks joined by newline
    * in page order; compose with [[decodeEntities]]/quality ops
    * downstream. Narrow HOF pass, zero shuffle. */
  def mainContent(docs: DataFrame, idCol: String = "doc_id",
                  htmlCol: String = "html", minChars: Int = 25,
                  maxLinkPct: Int = 50): DataFrame = {
    val blockSplit = "(?is)</?(?:div|p|section|article|aside|nav|footer|" +
      "header|li|ul|ol|table|h[1-6])[^>]*>"
    def clean(c: Column): Column =
      trim(regexp_replace(regexp_replace(c, "<[^>]*>", " "),
        "[ \\t\\n\\r]+", " "))
    val scored = transform(split(col(htmlCol), blockSplit), b =>
      struct(clean(b).as("txt"),
        aggregate(regexp_extract_all(b, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)),
          lit(0L), (a, x) => a + length(clean(x))).as("link_chars")))
    val present = filter(scored, x => x.getField("txt") =!= "")
    val kept = filter(present, x =>
      length(x.getField("txt")) >= minChars &&
        x.getField("link_chars") * 100L <=
          length(x.getField("txt")).cast("long") * maxLinkPct.toLong)
    docs.select(col(idCol),
      size(present).cast("long").as("n_blocks"),
      size(kept).cast("long").as("n_kept"),
      array_join(transform(kept, x => x.getField("txt")), "\n").as("content"))
  }

  /** URL normalization for per-site analysis and dedup keys: scheme
    * and host lowercased, default ports and fragments dropped,
    * `utm_*` tracking parameters removed (empty `?` dropped with
    * them), trailing slash trimmed off non-root paths. The canonical
    * form per-domain caps, crawl-frontier dedup and source-mix
    * reports key on. Pure string/array functions — narrow, RE2-safe,
    * oracle-checked. */
  def urlNormalize(url: Column): Column = {
    val noFrag = regexp_replace(url, "#[^#]*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val host = lower(regexp_extract(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    val hostNoPort = regexp_replace(host, ":(80|443)$", "")
    val rest = regexp_extract(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$", 1)
    val path = regexp_extract(rest, "^([^?]*)", 1)
    val query = regexp_extract(rest, "[?](.*)$", 1)
    val keptQ = array_join(filter(split(query, "&"),
      p => !p.rlike("^utm_")), "&")
    val normPath = when(path.rlike("^.+/$"),
        regexp_replace(path, "/$", "")).otherwise(path)
    when(scheme === "" || host === "", url) // not a URL: pass through
      .otherwise(concat(scheme, lit("://"), hostNoPort, normPath,
        when(keptQ === "", lit("")).otherwise(concat(lit("?"), keptQ))))
  }

  /** Registrable host of a URL (lowercased) — the per-site key for
    * domain caps ([[graft.ext.Corpus]]'s capPerSource at crawl
    * grain), domain-mix reports and robots bookkeeping; null for
    * non-URLs. */
  def urlDomain(url: Column): Column = {
    val h = lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)", 1))
    when(h === "", lit(null).cast("string")).otherwise(h)
  }

  /** Recrawl collapse — keep exactly ONE document per canonical URL
    * (the Common-Crawl-style snapshot dedup every multi-crawl corpus
    * runs before any content-level dedup): canonicalize with
    * [[urlNormalize]], then per URL keep the newest crawl by `tsCol`,
    * ties broken by longer text then smaller id — fully deterministic.
    * Also reports `n_snapshots` (crawls collapsed) and
    * `n_distinct_texts` (recrawl churn — 1 means the page never
    * changed, the common case that makes this the single biggest
    * row-count reducer on a multi-snapshot crawl).
    *
    * Scale: ONE shuffle on the canonical URL; the `max_by` struct
    * ordering partial-aggregates map-side (each mapper forwards one
    * candidate per URL), unlike a `row_number` window which would
    * materialize and sort every snapshot group. Distinct-text counts
    * are exact at snapshot-group grain (bounded by crawl count) and
    * counted over `md5(text)` — the distinct state then carries
    * 16-byte digests instead of full page bodies, halving the
    * shuffle width (collision odds ~2⁻¹²⁸ per pair; both engines
    * hash identically so the oracle cannot diverge). The length
    * tie-break uses `octet_length` — a unit-stable measure (UTF-8
    * bytes on both engines), where `length` counts UTF-16 units in
    * Spark but codepoints in DuckDB and diverges on
    * supplementary-plane text. */
  def urlDedup(docs: DataFrame, urlCol: String = "url",
               tsCol: String = "ts", idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    docs.select(urlNormalize(col(urlCol)).as("url"),
        col(idCol), col(tsCol), col(textCol))
      .groupBy("url")
      .agg(
        max_by(
          struct(col(idCol).as("doc_id"), col(tsCol).as("ts"),
            col(textCol).as("text")),
          struct(col(tsCol).as("ts"), octet_length(col(textCol)).as("len"),
            (-col(idCol)).as("negid"))).as("__rep"),
        count(lit(1)).as("n_snapshots"),
        countDistinct(md5(col(textCol))).as("n_distinct_texts"))
      .select(col("url"), col("__rep.doc_id").as(idCol),
        col("__rep.ts").as(tsCol), col("__rep.text").as(textCol),
        col("n_snapshots"), col("n_distinct_texts"))

  /** robots.txt compliance gate — the crawl-side legitimacy filter:
    * per RFC 9309 §2.2.2, a URL's verdict is decided by the LONGEST
    * `Allow:`/`Disallow:` prefix (in octets) of the wildcard
    * `User-agent: *` section that matches the URL's path, with
    * `Allow` winning exact-length ties — so `Disallow: /` +
    * `Allow: /public/` admits exactly the public tree. The parse is
    * the deterministic core of the RFC: case-insensitive directive
    * names, a rule binds to the most recent User-agent line above it
    * (window `last` with ignoreNulls over line position —
    * per-robots-file partitions, so the window state is bounded by
    * file length), empty rule values ignored (so `Disallow:` alone =
    * allow-all), non-`*` sections ignored (single-agent contract).
    * URLs with no robots row, a null domain, or no matching rule
    * pass. The winning rule is encoded as ONE integer
    * `octet_length(prefix) * 2 + is_allow` — `max` then IS the
    * longest-match-allow-wins-ties resolution, and the oracle
    * replays it as a plain `max(CASE…)`.
    *
    * Scale: the rules table is domain-count-bounded → BROADCAST into
    * the URL stream; the prefix check fans each URL out only by its
    * own domain's rule count, then folds back with one aggregation —
    * the corpus is never reshuffled. */
  def robotsGate(urls: DataFrame, robots: DataFrame,
                 idCol: String = "doc_id", urlCol: String = "url",
                 domainCol: String = "domain",
                 robotsCol: String = "robots"): DataFrame = {
    val lt = trim(col("line"))
    val ll = lower(lt)
    val big = 1 << 20
    val w = Window.partitionBy("domain").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rules = robots
      .select(col(domainCol).as("domain"),
        posexplode(split(col(robotsCol), "\n")).as(Seq("pos", "line")))
      .select(col("domain"), col("pos"),
        when(ll.startsWith("user-agent:"),
          trim(substring(lt, 12, big))).as("__ua"),
        when(ll.startsWith("disallow:"),
          trim(substring(lt, 10, big))).as("__dis"),
        when(ll.startsWith("allow:"),
          trim(substring(lt, 7, big))).as("__alw"))
      .withColumn("__gov", last(col("__ua"), ignoreNulls = true).over(w))
      .filter(col("__gov") === "*" &&
        coalesce(col("__dis"), col("__alw")).isNotNull &&
        coalesce(col("__dis"), col("__alw")) =!= "")
      .select(col("domain"), coalesce(col("__dis"), col("__alw")).as("prefix"),
        when(col("__alw").isNotNull, 1L).otherwise(0L).as("__ia"))
    urls
      .select(col(idCol), col(urlCol), urlDomain(col(urlCol)).as("domain"),
        regexp_extract(col(urlCol),
          "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$", 1).as("__path"))
      .join(broadcast(rules), Seq("domain"), "left")
      .groupBy(col(idCol), col(urlCol), col("domain"))
      .agg(max(when(col("prefix").isNotNull &&
          col("__path").startsWith(col("prefix")),
        octet_length(col("prefix")).cast("long") * 2L + col("__ia")))
        .as("__win"))
      .select(col(idCol), col(urlCol), col("domain"),
        (col("__win").isNull || pmod(col("__win"), lit(2L)) === 1L).as("allowed"))
  }

  /** Crawl-delay politeness extraction — the third robots.txt
    * directive a frontier scheduler consumes ([[robotsGate]] resolves
    * Allow/Disallow): the FIRST `Crawl-delay:` value bound to the
    * wildcard `User-agent: *` section, seconds as double (fractional
    * values are common in the wild; non-numeric values ignored).
    * Domains without one are absent — the scheduler's default
    * applies. Same bounded per-file window parse as the gate; output
    * is domain-count-bounded, broadcast-sized. */
  def robotsCrawlDelay(robots: DataFrame, domainCol: String = "domain",
                       robotsCol: String = "robots"): DataFrame = {
    val lt = trim(col("line"))
    val ll = lower(lt)
    val big = 1 << 20
    val w = Window.partitionBy("domain").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    robots
      .select(col(domainCol).as("domain"),
        posexplode(split(col(robotsCol), "\n")).as(Seq("pos", "line")))
      .select(col("domain"), col("pos"),
        when(ll.startsWith("user-agent:"),
          trim(substring(lt, 12, big))).as("__ua"),
        when(ll.startsWith("crawl-delay:"),
          trim(substring(lt, 13, big))).as("__cd"))
      .withColumn("__gov", last(col("__ua"), ignoreNulls = true).over(w))
      .withColumn("__cdv", expr("try_cast(__cd AS double)"))
      .filter(col("__gov") === "*" && col("__cdv").isNotNull)
      .groupBy(col("domain"))
      .agg(min(struct(col("pos").as("pos"),
        col("__cdv").as("cd"))).as("__m"))
      .select(col("domain"), col("__m.cd").as("crawl_delay"))
  }

  /** WARC record parsing — Common Crawl's native container, the very
    * first step of a web-corpus pipeline: WARC named headers
    * (`WARC-Type`, `WARC-Target-URI`, `WARC-Date`, `Content-Length`),
    * and for `response` records the embedded HTTP status line +
    * `Content-Type` header, with the body carried verbatim after the
    * second CRLFCRLF. Non-HTTP records (warcinfo, metadata…) treat
    * their whole block after the WARC headers as the body and leave
    * the HTTP fields null. Header names match case-insensitively
    * (RFC-style); a missing header is null; `try_element_at` keeps
    * truncated records null-safe under ANSI. One narrow
    * split + regexp pass per record, zero shuffle — WARC ingest is
    * pure scan work at 100 TB. */
  def warcParse(docs: DataFrame, idCol: String = "doc_id",
                warcCol: String = "warc",
                carryCols: Seq[String] = Nil): DataFrame = {
    val rec = col(warcCol)
    def nonEmpty(c: Column): Column = when(c =!= "", c)
    def whdr(name: String): Column =
      nonEmpty(regexp_extract(rec, s"(?i)\\r\\n$name: *([^\\r\\n]*)", 1))
    val parts = split(rec, "\\r\\n\\r\\n", 3)
    val httpPart = try_element_at(parts, lit(2))
    val isHttp = httpPart.startsWith("HTTP/")
    val status = nonEmpty(regexp_extract(httpPart,
      "^HTTP/[0-9.]+ ([0-9]{3})", 1))
    val ctype = nonEmpty(regexp_extract(httpPart,
      "(?i)\\r\\nContent-Type: *([^\\r\\n]*)", 1))
    docs.select((col(idCol) +: carryCols.map(col)) ++ Seq(
      whdr("WARC-Type").as("warc_type"),
      whdr("WARC-Target-URI").as("target_uri"),
      whdr("WARC-Date").as("warc_date"),
      when(whdr("Content-Length").rlike("^[0-9]+$"),
        whdr("Content-Length").cast("long")).as("content_length"),
      when(isHttp, status.cast("int")).as("http_status"),
      when(isHttp, ctype).as("content_type"),
      when(isHttp, try_element_at(parts, lit(3)))
        .otherwise(httpPart).as("body")): _*)
  }

  /** A whole `.warc.gz` ARCHIVE parsed to records — the file shape
    * Common Crawl actually distributes (one gzip member per record,
    * concatenated): [[graft.functions.GunzipMembers]] walks and
    * CRC-verifies every member (whole-archive fail-closed null — a
    * corrupt archive surfaces as an absent file, not silent partial
    * rows), each record decodes as UTF-8 and parses through
    * [[warcParse]] carrying its in-archive `rec_idx`. The aggregate
    * inflated cap `maxTotalOut` defaults to 8 GiB here (not the
    * kernel's generic 256 MiB) because real Common Crawl archives
    * legitimately inflate to several GiB; lower it for hostile
    * lakes, raise it for fatter archives. At cluster
    * scale each task takes one archive (or one member range) — the
    * per-record work is this same narrow pipeline. */
  def warcParseGzFile(docs: DataFrame, idCol: String = "doc_id",
                      gzCol: String = "warc_gz",
                      maxMembers: Int = 1 << 16,
                      maxOut: Int = 1 << 24,
                      maxTotalOut: Long = 1L << 33): DataFrame = {
    val recs = docs.select(col(idCol),
        posexplode(graft.functions.GunzipMembers(col(gzCol), maxMembers,
          maxOut, maxTotalOut)).as(Seq("rec_idx", "__b")))
      .select(col(idCol), col("rec_idx").cast("long").as("rec_idx"),
        // binary record bodies (images in a real crawl) degrade to
        // latin1 instead of throwing — headers stay parseable
        coalesce(graft.functions.Utf8Text(col("__b")),
          decode(col("__b"), "ISO-8859-1")).as("__warc"))
    warcParse(recs, idCol, "__warc", carryCols = Seq("rec_idx"))
  }

  /** [[warcParse]] over gzip-compressed records — the shape Common
    * Crawl actually ships (one RFC 1952 member per record): the
    * bounded [[graft.functions.GunzipPayload]] kernel inflates each
    * member (CRC-checked, `maxOut`-capped, fail-closed null), the
    * bytes decode as UTF-8, and the text parser runs unchanged.
    * Malformed/bomb members surface as all-null parse rows — the
    * record stays visible for audit instead of vanishing. The decoded
    * text is aliased in its own projection so the parser's several
    * header probes share ONE inflate per row (CollapseProject keeps a
    * multiply-referenced non-cheap alias in place, the gopherRules
    * boundary). Narrow per-row work, zero shuffle. */
  def warcParseGzip(docs: DataFrame, idCol: String = "doc_id",
                    gzCol: String = "warc_gz",
                    maxOut: Int = 1 << 24): DataFrame =
    warcParse(docs.select(col(idCol),
      coalesce(
        graft.functions.Utf8Text(
          graft.functions.GunzipPayload(col(gzCol), maxOut)),
        decode(graft.functions.GunzipPayload(col(gzCol), maxOut),
          "ISO-8859-1")).as("__warc")), idCol, "__warc")

  /** `Sitemap:` discovery from robots.txt — per RFC 9309 the
    * directive is GLOBAL (never bound to a User-agent section, unlike
    * Disallow/Allow/Crawl-delay), so this is a plain line scan: every
    * sitemap URL with its line position, feeding [[sitemapParse]].
    * Domain-bounded output. */
  def robotsSitemaps(robots: DataFrame, domainCol: String = "domain",
                     robotsCol: String = "robots"): DataFrame = {
    val lt = trim(col("line"))
    val v = when(lower(lt).startsWith("sitemap:"),
      trim(substring(lt, 9, 1 << 20)))
    robots
      .select(col(domainCol).as("domain"),
        posexplode(split(col(robotsCol), "\n")).as(Seq("pos", "line")))
      .select(col("domain"), col("pos").cast("long").as("pos"),
        v.as("sitemap_url"))
      .filter(col("sitemap_url").isNotNull && col("sitemap_url") =!= "")
  }

  /** PII patterns — the redaction pass every shipped training corpus
    * runs. Deliberately restricted to the regex subset with identical
    * semantics in Java's engine and RE2 (DuckDB): character classes,
    * counted repetition, alternation-free groups; no lookaround, no
    * backreferences — so detection counts and redacted text reproduce
    * bit-for-bit cross-engine. */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+\\d{1,3}[- ]\\d{2,4}([- ]\\d{2,4}){1,3}"

  /** Redact PII in place: emails, then IPv4 literals, then
    * international-format phone numbers, each replaced by a typed
    * placeholder. Order matters (an email's host can contain digits
    * and dots). Narrow per-row regexp_replace chain — zero shuffles,
    * runs at scan speed over a 100 TB corpus. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Per-document PII audit: occurrence counts per category plus the
    * md5 of the redacted text (pins the full redaction output while
    * keeping the comparator's columns scalar). The filter/report stage
    * of a redaction pipeline — narrow, no shuffle. */
  def piiStats(docs: DataFrame,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      md5(redactPii(col(textCol))).as("redacted_hash"))

  /** Per-document compressibility proxy — the Gopher-family
    * "compresses too well" filter without a codec: character-bigram
    * Shannon entropy, emitted division-free as the exact decimal
    * `score = Σ_bg cnt·round(ln(n/cnt), 9)` (= n·H nats, the
    * [[secretScan]] recipe at document scope). Template/boilerplate
    * pages and stutter-corrupted text repeat the same few character
    * transitions, so their per-char score collapses; random noise
    * maxes it. Threshold on `score` vs `k·n` (both exact) or rank by
    * `score/n` downstream. Output (idCol, n_bigrams, score).
    *
    * Scale shape: fully narrow — the native [[graft.functions.CharNgramCounts]]
    * census yields the per-doc (bigram, count) map in one compiled
    * pass and the entropy folds in-row over its entries. No shuffle,
    * no windows, nothing corpus-wide. */
  def compressibility(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val dec = "decimal(28,9)"
    // the native census pre-aggregates the bigram counts per document,
    // so the total is just len-1 and the entropy folds IN-ROW over the
    // (bigram, count) entries: zero shuffles where the composable form
    // paid two groupBys and a join. Decimal addition is exact, so the
    // in-row fold order and the old shuffle-sum agree bit for bit.
    val n = (length(t) - 1).cast("long")
    val score = aggregate(
      map_entries(graft.functions.CharNgramCounts(t, 2)),
      lit(BigDecimal(0)).cast(dec),
      (acc: Column, e: Column) => {
        val c = e.getField("value")
        (acc + c.cast("decimal(10,0)")
          * round(log(n.cast("double") / c), 9).cast("decimal(18,9)"))
          .cast(dec)
      })
    docs.filter(length(t) >= 2)
      // exact decimal internally, DOUBLE in the output: hashed
      // contracts carry no decimal columns (driver-hash rule); n·H
      // here stays well inside double's 15-sig-digit exact range.
      .select(col(idCol), n.as("n_bigrams"),
        score.cast("double").as("score"))
  }

  /** Credential/secret candidate scan — the redaction tier [[piiStats]]'
    * fixed patterns can't reach: leaked API keys, tokens and hashes are
    * high-ENTROPY strings, not format-matched ones. Every token of at
    * least `minLen` chars is scored by its character Shannon entropy in
    * nats, kept DIVISION-FREE for cross-engine exactness: the emitted
    * `score` is `Σ_c cnt_c · round(ln(n/cnt_c), 9)` (an exact decimal =
    * n·H), and the flag compares it against `entropyPerChar · n` — both
    * sides exact decimals, so the threshold decision is engine-identical
    * (the DSIR/PSI ln recipe; no double division anywhere). Alongside,
    * two structural tells with RE2-safe regexes (anchored classes +
    * counted repetition only): hex-blob and base64-ish runs.
    *
    * Scale shape: narrow — per-token char counts come from an O(k²)
    * in-row fold over the token's own ≤k distinct chars (no char-level
    * explode, no shuffle); the only movement is whatever the caller
    * does with the flagged rows. Output
    * (idCol, pos, token, n, score, high_entropy, looks_hex, looks_b64).
    *
    * Tokenization is SCRIPT-AWARE ([[scriptTokens]]): a no-space-script
    * run (Han/Kana/Hangul/Thai…) fragments into 1-codepoint tokens
    * that never reach `minLen` — without this gate a whitespace
    * tokenizer hands the scorer entire CJK sentences, whose many
    * distinct chars score n·H ≈ n·ln n and would be redacted wholesale
    * as "high-entropy secrets". On space-script text [[scriptTokens]]
    * ≡ [[tokens]], so the contract is unchanged there; positions are
    * script-aware token positions. */
  /** Scholarly-identifier scan — the dedup/linking keys of an
    * academic corpus (two crawls of one paper share its DOI long
    * before they share bytes): every DOI (`10.NNNN+/suffix` — the
    * Crossref-documented shape, suffix stopped at whitespace/quotes/
    * angle brackets with trailing sentence punctuation stripped) and
    * every arXiv id (new `2301.01234(v2)` form with the explicit
    * `arXiv:` prefix, old `math.GT/0309136` form) exploded with its
    * kind and order of first appearance. RE2-safe patterns (anchored
    * classes, counted repetition, no lookaround), so the oracle
    * replays them; dedup downstream is one `groupBy(ident)` away
    * ([[urlDedup]]'s keep-first semantics apply unchanged). Narrow
    * regexp pass, zero shuffle. */
  def citationScan(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val doi = "\\b10\\.[0-9]{4,9}/[^ \\t\\n\\r\"<>]+"
    val arx = "\\barXiv:([0-9]{4}\\.[0-9]{4,5}(v[0-9]+)?" +
      "|[a-z-]+(\\.[A-Z]{2})?/[0-9]{7})"
    def tagged(pat: String, kind: String, group: Int) =
      transform(regexp_extract_all(col(textCol), lit(pat), lit(group)),
        m => struct(lit(kind).as("k"),
          // DOIs in prose drag sentence punctuation — strip it
          regexp_replace(m, "[.,;)\\]]+$", "").as("m")))
    docs.select(col(idCol),
        posexplode(concat(tagged(doi, "doi", 0), tagged(arx, "arxiv", 1)))
          .as(Seq("pos", "x")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        col("x.k").as("kind"), col("x.m").as("ident"))
  }

  def secretScan(docs: DataFrame, minLen: Int = 16,
                 entropyPerChar: Double = 3.0,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    val dec = "decimal(28,9)"
    val tok = col("token")
    val chars = transform(sequence(lit(1), length(tok)), i => tok.substr(i, lit(1)))
    val n = length(tok)
    val score = aggregate(
      array_distinct(chars), lit(BigDecimal(0)).cast(dec),
      (acc: Column, c: Column) => {
        val cnt = size(filter(chars, x => x === c))
        (acc + cnt.cast("decimal(10,0)")
          * round(log(n.cast("double") / cnt), 9).cast("decimal(18,9)")).cast(dec)
      })
    docs
      .select(col(idCol),
        posexplode(scriptTokens(col(textCol))).as(Seq("pos0", "token")))
      .select(col(idCol), (col("pos0") + 1).cast("long").as("pos"), tok)
      .filter(length(tok) >= minLen)
      .select(col(idCol), col("pos"), tok,
        n.cast("long").as("n"), score.as("score"))
      .withColumn("high_entropy",
        col("score") > (lit(entropyPerChar).cast("decimal(18,9)")
          * col("n")).cast("decimal(28,9)"))
      .withColumn("looks_hex", tok.rlike(s"^[0-9a-fA-F]{$minLen,}$$"))
      .withColumn("looks_b64", tok.rlike(s"^[A-Za-z0-9+/=]{$minLen,}$$"))
      // the threshold decision above is made on exact decimals; the
      // emitted score is DOUBLE — hashed contracts carry no decimal
      // columns (driver-hash rule), and n·H is <= 15 sig digits here.
      .withColumn("score", col("score").cast("double"))
  }

  /** Luhn checksum validity of a digit string — the mod-10 check that
    * separates real card/account numbers from arbitrary digit runs:
    * from the RIGHT, every second digit doubles (minus 9 past 9) and
    * the total must divide by 10. Pure integer fold over the digits —
    * exact in any engine. */
  def luhnValid(s: Column): Column = {
    val n = length(s)
    val total = aggregate(sequence(lit(1), n), lit(0L), (acc, i) => {
      val d = (ascii(s.substr(i, lit(1))) - 48).cast("long")
      val dd = when(pmod(n - i, lit(2)) === 1, d * 2).otherwise(d)
      acc + when(dd > 9L, dd - 9L).otherwise(dd)
    })
    pmod(total, lit(10L)) === 0L
  }

  /** Payment-card candidate scan — the CHECKSUMMED tier of PII
    * detection [[redactPii]]'s format patterns can't reach: 13–19
    * digit runs are everywhere (ids, timestamps, hashes), but only
    * ~1 in 10 random runs passes [[luhnValid]], so the checksum cuts
    * the false-positive rate an order of magnitude before a human or
    * redactor sees the hit. Word-boundary extraction with the
    * RE2-safe `\b\d{13,19}\b` (identical semantics in Java and RE2).
    * Narrow, scan-speed; emits every candidate with its verdict so
    * the redaction policy chooses (drop doc / mask run / ignore
    * invalid). Output (idCol, candidate, luhn_valid). */
  def cardScan(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        explode(regexp_extract_all(col(textCol), lit("\\b\\d{13,19}\\b"), lit(0)))
          .as("candidate"))
      .select(col(idCol), col("candidate"),
        luhnValid(col("candidate")).as("luhn_valid"))

  /** Deterministic hash-based train/test assignment: first md5 nibble of
    * the id string < `trainNibbles` (of 16) → "train". Stable across
    * runs/engines — the property a 100 TB split must have (no RNG, no
    * reshuffling on re-run). trainNibbles=13 ≈ 81% train. */
  def trainTestSplit(df: DataFrame, idCol: String, trainNibbles: Int = 13): DataFrame = {
    val firstNibble =
      instr(lit("0123456789abcdef"), substring(md5(col(idCol).cast("string")), 1, 1)) - 1
    df.withColumn("split",
      when(firstNibble < trainNibbles, lit("train")).otherwise(lit("test")))
  }

  /** Deterministic hash-stratified sampling: a row is kept iff the
    * first two md5 nibbles of `"<strata>|<id>"` — a uniform value in
    * [0, 256) — fall below `floor(fraction(strata) * 256)`. No RNG:
    * the sample is reproducible across runs, engines and partitionings,
    * which is the property a 100 TB training pipeline needs (an
    * RNG-based sample drawn again on retry would silently reshuffle
    * the training set). Per-stratum fraction granularity is 1/256. */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 0.0): DataFrame = {
    val hx = md5(concat(col(strataCol).cast("string"), lit("|"), col(idCol).cast("string")))
    def nibAt(i: Int) = instr(lit("0123456789abcdef"), substring(hx, i, 1)) - 1
    val v = nibAt(1) * 16 + nibAt(2)
    val thr = fractions.toSeq.sortBy(_._1).foldLeft(lit(math.floor(defaultFraction * 256))) {
      case (acc, (k, f)) =>
        when(col(strataCol).cast("string") === k, lit(math.floor(f * 256))).otherwise(acc)
    }
    df.filter(v < thr)
  }

  /** Heavy-hitter tokens: every token whose count exceeds
    * `total_tokens / k`, found with BOUNDED state. Pass 1 runs the
    * Misra–Gries sketch (`functions/HeavyHitters`, capacity 4k) as a
    * map-side-mergeable Aggregator — the shuffle carries ≤ 4k counters
    * per partition instead of one row per distinct token (a web
    * corpus's distinct-token count is dominated by singleton junk the
    * question throws away). Pass 2 re-counts ONLY the ≤ 4k candidates
    * exactly (semi-join, bounded group-by) and keeps those above the
    * threshold, so the emitted set and counts are EXACT — the sketch's
    * ≤ n/(4k+1) error guarantees no true heavy hitter is missed.
    * Output (token, cnt), the same rows the exact group-by would give. */
  def heavyHitterTokens(docs: DataFrame, k: Int,
                        textCol: String = "text"): DataFrame = {
    require(k > 1, "need a threshold fraction 1/k below 1")
    val toks = docs.select(explode(tokens(col(textCol))).as("token"))
    val cands = toks
      .agg(graft.functions.HeavyHitters.sketch(4 * k, col("token")).as("c"))
      .select(explode(col("c")).as("token"))
    val exact = toks.join(broadcast(cands), Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("__n"))
    exact.crossJoin(broadcast(total))
      .filter(col("cnt") * k > col("__n"))
      .select(col("token"), col("cnt"))
  }

  /** Deterministic weighted sample WITHOUT replacement (Efraimidis–
    * Spirakis A-ES): per stratum, keep the k rows with the largest
    * log-priority `ln(u)/w`, where `u ∈ (0,1)` derives from the first
    * 52 md5 bits of (stratum|id) — `(v + 0.5)/2^52` is exactly
    * representable, never 0 or 1 — and `w` is the row's weight.
    * Equivalent to sampling k items with inclusion probability
    * proportional to weight, but RNG-FREE: the same rows on every run
    * and engine (a retry must not reshuffle the training mix), and
    * oracle-checkable because the priority is `round(·, 9)` exact.
    * Rows with non-positive weight are excluded (they have zero
    * selection mass).
    *
    * Scale: the bounded [[graft.functions.TopK]] aggregator — each map
    * task keeps ≤ k rows per stratum, the shuffle carries the sample,
    * not the corpus; no window sort (same contract as [[exactSample]],
    * which is the unweighted special case). Output
    * (strataCol, rnk, idCol, log_priority). */
  def weightedSample(df: DataFrame, k: Int, weightCol: Column,
                     strataCol: String = "source",
                     idCol: String = "doc_id"): DataFrame = {
    val hx = md5(concat(col(strataCol).cast("string"), lit("|"), col(idCol).cast("string")))
    def nibAt(i: Int) = instr(lit("0123456789abcdef"), substring(hx, i, 1)) - 1
    val v = (1 to 13).foldLeft(lit(0L)) { (acc, i) => acc * 16 + nibAt(i).cast("long") }
    val u = (v.cast("double") + lit(0.5)) / lit(4503599627370496.0) // 2^52
    val pri = round(log(u) / weightCol.cast("double"), 9)
    df.filter(weightCol.cast("double") > 0)
      .groupBy(col(strataCol))
      .agg(graft.functions.TopK.topK(k, pri, col(idCol)).as("top"))
      .select(col(strataCol), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col(strataCol), (col("pos") + 1).cast("long").as("rnk"),
        col("s.id").as(idCol), col("s.ord").as("log_priority"))
  }

  /** Count-min sketch over the corpus token stream, as a TABLE
    * `(row, bucket, cnt)` of `depth × width` counters — the
    * Spark-native sketch layout: building it is ONE keyed group-by
    * whose map-side partial collapses each scan task to ≤ depth·width
    * rows (the shuffle carries the sketch, never the distinct-token
    * set — same contract as the Misra–Gries and Bloom members of this
    * sketch family), and the finished sketch is a model-sized table a
    * probe broadcasts. Hash family: `xxhash64(row_index, token)` —
    * codegen'd, deterministic, the same expression on build and probe
    * sides by construction. */
  def cmsSketch(docs: DataFrame, depth: Int = 4, width: Int = 8192,
                textCol: String = "text"): DataFrame = {
    require(depth > 0 && width > 0)
    val rows = explode(sequence(lit(0), lit(depth - 1))).as("__r")
    docs.select(explode(tokens(col(textCol))).as("token"))
      .select(col("token"), rows)
      .select(col("__r"),
        pmod(xxhash64(col("__r"), col("token")), lit(width.toLong)).as("__b"))
      .groupBy(col("__r"), col("__b")).agg(count(lit(1)).as("__cnt"))
  }

  /** Point-estimate tokens against a [[cmsSketch]]: `est(t) = min over
    * rows r of cnt[r][h_r(t)]` — the classic CM upper bound, never
    * below the true count. `tokenDf` needs a `token` column; the
    * sketch (≤ depth·width rows) is broadcast, the probe is `depth`
    * hash lookups per token via one equi-join. Returns (token, est) —
    * callers join it back rather than this re-evaluating their
    * DataFrame (which may hide a corpus-scale aggregation). */
  def cmsEstimate(tokenDf: DataFrame, sketch: DataFrame,
                  depth: Int = 4, width: Int = 8192): DataFrame = {
    val rows = explode(sequence(lit(0), lit(depth - 1))).as("__r")
    tokenDf.select(col("token"), rows)
      .select(col("token"), col("__r"),
        pmod(xxhash64(col("__r"), col("token")), lit(width.toLong)).as("__b"))
      .join(broadcast(sketch), Seq("__r", "__b"), "left")
      .groupBy(col("token"))
      // an untouched bucket means count 0 (possible only for tokens
      // absent from the build corpus)
      .agg(min(coalesce(col("__cnt"), lit(0L))).as("est"))
  }

  /** Deterministic EXACT-size sample: exactly min(k, |stratum|) rows
    * per stratum — the fixed-size eval/holdout sets a training run
    * needs, where [[stratifiedSample]]'s rate-based thresholding gives
    * only an expected size. Rows are ranked by the 52-bit value of the
    * first 13 md5 nibbles of (stratum|id) — exact in a double, so the
    * bounded TopK aggregator reproduces the md5 order with its map-side
    * partial (shuffle carries k rows per stratum per task, never the
    * corpus; no window sort). RNG-free: the same rows are sampled on
    * every run and every engine. Returns (strataCol, rnk, idCol). */
  def exactSample(df: DataFrame, k: Int, strataCol: String = "source",
                  idCol: String = "doc_id"): DataFrame = {
    val hx = md5(concat(col(strataCol).cast("string"), lit("|"), col(idCol).cast("string")))
    def nibAt(i: Int) = instr(lit("0123456789abcdef"), substring(hx, i, 1)) - 1
    val v = (1 to 13).foldLeft(lit(0L)) { (acc, i) => acc * 16 + nibAt(i).cast("long") }
    df.groupBy(col(strataCol))
      .agg(graft.functions.TopK.topK(k, -v.cast("double"), col(idCol)).as("top"))
      .select(col(strataCol), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col(strataCol), (col("pos") + 1).cast("long").as("rnk"),
        col("s.id").as(idCol))
  }

  /** Sentence segmentation: maximal runs of non-terminator characters
    * plus their trailing `[.!?]` run, trimmed, empties dropped —
    * deliberately the regex subset (`[^.!?]+[.!?]*`, no lookaround)
    * with identical semantics in Java's engine and RE2, so
    * segmentation reproduces bit-for-bit cross-engine. The unit of
    * paragraph/sentence-level dedup and of context-window packing that
    * must not split mid-sentence. Narrow (one regexp pass + explode),
    * no shuffle. Returns (idCol, sent_id, sentence). */
  def sentences(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val parts = filter(
      transform(regexp_extract_all(col(textCol), lit("[^.!?]+[.!?]*"), lit(0)),
        s => trim(s)),
      s => s =!= lit(""))
    docs.select(col(idCol), posexplode(parts).as(Seq("sent_id", "sentence")))
      .select(col(idCol), col("sent_id").cast("long").as("sent_id"), col("sentence"))
  }

  /** Flesch reading-ease scoring (Flesch 1948; the readability
    * feature curation classifiers actually use):
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`,
    * with the standard machine heuristic for syllables — the number
    * of `[aeiouy]+` vowel groups per lowercased word, floored at 1 so
    * a vowel-less token still counts as one syllable. Sentences are
    * the q99 terminator-run segmentation. Documents with no words or
    * no sentences are dropped (the score is undefined there).
    *
    * Narrow per-row regex/array expressions, zero shuffles — runs at
    * scan speed over a 100 TB corpus. All arithmetic is
    * correctly-rounded double ops on exact integer counts in a fixed
    * association, rounded once to 9 dp — identical cross-engine.
    * Output: (idCol, n_words, n_sents, n_syllables, flesch). */
  def readability(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val sents = filter(
      transform(regexp_extract_all(col(textCol), lit("[^.!?]+[.!?]*"), lit(0)),
        s => trim(s)),
      s => s =!= lit(""))
    val sylls = aggregate(toks, lit(0L), (acc, t) =>
      acc + greatest(lit(1L),
        size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0))).cast("long")))
    docs.select(col(idCol),
        size(toks).cast("long").as("n_words"),
        size(sents).cast("long").as("n_sents"),
        sylls.as("n_syllables"))
      .filter(col("n_words") > 0 && col("n_sents") > 0)
      .withColumn("flesch",
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sents"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 9))
  }

  /** Bucketed Mann–Whitney AUC of a [0,1] score against a boolean
    * label — how well a quality/domain scorer separates the classes,
    * the metric to report next to [[logregTrain]]'s weights. Exact
    * rank-sum AUC computed at `nBuckets` score resolution with
    * mid-rank tie handling (ties WITHIN a bucket contribute 1/2, the
    * standard correction): AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻).
    *
    * Shape at scale: one map-side-combined aggregation collapses the
    * corpus to ≤ nBuckets rows; the rank prefix-sum runs over THAT.
    * Mid-ranks are exact multiples of 1/2, carried as DECIMAL so the
    * rank-sum is partition-order-free; the one division is a
    * correctly-rounded double over exact inputs. Output: one row
    * (n_pos, n_neg, auc). */
  def aucScore(scored: DataFrame, scoreCol: String, label: Column,
               nBuckets: Int = 1000): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val b = least(floor(col(scoreCol) * nBuckets).cast("long"), lit(nBuckets - 1L))
    val g = scored.select(b.as("__b"), label.cast("long").as("__y"))
      .groupBy(col("__b"))
      .agg(sum(col("__y")).as("__np"), count(lit(1)).as("__n"))
    val ranked = g.withColumn("__below",
      sum(col("__n")).over(Window.orderBy(col("__b"))) - col("__n"))
    ranked
      .agg(sum(col("__np")).as("n_pos"),
        sum(col("__n") - col("__np")).as("n_neg"),
        // 2·rank-sum stays integral (midrank = below + (n+1)/2), so
        // the whole accumulation is exact associative long arithmetic
        sum(col("__np") * (col("__below") * 2 + col("__n") + 1)).as("__rp2"))
      .select(col("n_pos"), col("n_neg"),
        ((col("__rp2").cast("double") / 2.0
          - col("n_pos").cast("double") * (col("n_pos") + 1) / 2.0)
          / (col("n_pos").cast("double") * col("n_neg"))).as("auc"))
  }

  /** Truncate each document to its first `maxTokens` whitespace
    * tokens — context-length capping before packing/training. Pure
    * per-row array ops, zero shuffles. Output
    * (idCol, clean_text, n_kept, n_dropped). */
  def truncateTokens(docs: DataFrame, maxTokens: Int,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(maxTokens > 0)
    val toks = tokens(col(textCol))
    docs.select(col(idCol),
      concat_ws(" ", slice(toks, 1, maxTokens)).as("clean_text"),
      least(size(toks), lit(maxTokens)).cast("long").as("n_kept"),
      greatest(size(toks) - maxTokens, lit(0)).cast("long").as("n_dropped"))
  }

  /** Overlapping sentence-window chunking — the retrieval-corpus prep
    * shape (each chunk carries `windowSize` consecutive sentences,
    * consecutive chunks share `windowSize - stride` of them, so no
    * fact straddling a boundary is lost to both chunks). Window count
    * is `1 + max(0, ceil((n - windowSize)/stride))` — the final window
    * always reaches the document's end, and a short document yields
    * one (short) window. Pure per-row array ops, zero shuffles.
    * Output (idCol, chunk_id, chunk_text). */
  def sentenceWindows(docs: DataFrame, windowSize: Int, stride: Int,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(windowSize > 0 && stride > 0 && stride <= windowSize,
      s"need 0 < stride <= windowSize, got stride=$stride window=$windowSize")
    val parts = filter(
      transform(regexp_extract_all(col(textCol), lit("[^.!?]+[.!?]*"), lit(0)),
        s => trim(s)),
      s => s =!= lit(""))
    val base = docs.select(col(idCol), parts.as("__ls"))
      .filter(size(col("__ls")) > 0)
    val nWin = lit(1) + greatest(lit(0),
      floor((size(col("__ls")) - windowSize + stride - 1)
        .cast("double") / stride).cast("int"))
    base.select(col(idCol),
        posexplode(transform(sequence(lit(0), nWin - 1),
          i => concat_ws(" ", slice(col("__ls"), i * stride + 1, lit(windowSize)))))
          .as(Seq("chunk_id", "chunk_text")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_text"))
  }

  /** Boilerplate-sentence removal — the nav-bar/footer/cookie-banner
    * cleaning pass: segment every document ([[sentences]]), find
    * sentences occurring in ≥ `minDocs` DISTINCT documents (in-doc
    * repetition counts once), drop those from every document, and
    * reassemble the survivors in original order. Documents left with
    * no sentences disappear (nothing but boilerplate). Returns
    * (idCol, clean_text, n_kept).
    *
    * Scale shape: one distinct + one count group-by keyed by sentence
    * text (map-side partials), an anti-join on the same key, and a
    * per-document reassembly group-by; reassembly sorts each doc's
    * sentence list in-row (array_sort), not via a window. */
  def removeBoilerplateSentences(docs: DataFrame, minDocs: Long = 2,
                                 idCol: String = "doc_id",
                                 textCol: String = "text"): DataFrame = {
    val sent = sentences(docs, idCol, textCol)
    val frequent = sent.select(col("sentence"), col(idCol)).distinct()
      .groupBy(col("sentence")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minDocs)
      .select("sentence")
    sent.join(frequent, Seq("sentence"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        transform(array_sort(collect_list(struct(col("sent_id"), col("sentence")))),
          s => s.getField("sentence")).as("__ss"),
        count(lit(1)).as("n_kept"))
      .select(col(idCol), concat_ws(" ", col("__ss")).as("clean_text"), col("n_kept"))
  }

  /** WITHIN-document duplicate-sentence removal — the C4-style
    * cleaning rule ([[removeBoilerplateSentences]] drops sentences
    * shared ACROSS documents; this drops repeats inside one): keep the
    * first occurrence of each sentence, reassemble in original order.
    * Templated pages repeat their own nav/footer text several times —
    * corpus-level frequency can't catch a sentence that is unique to
    * the document yet duplicated within it.
    *
    * Purely per-row array expressions (`array_distinct` keeps first
    * occurrences in order) — ZERO shuffles, runs at scan speed over
    * 100 TB, unlike the cross-document form which must aggregate
    * corpus-wide sentence frequencies. Documents with no sentences
    * disappear. Returns (idCol, clean_text, n_kept, n_total). */
  def dedupSentencesWithinDoc(docs: DataFrame, idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    val parts = filter(
      transform(regexp_extract_all(col(textCol), lit("[^.!?]+[.!?]*"), lit(0)),
        s => trim(s)),
      s => s =!= lit(""))
    docs.select(col(idCol), parts.as("__ps"))
      .filter(size(col("__ps")) > 0)
      .select(col(idCol),
        concat_ws(" ", array_distinct(col("__ps"))).as("clean_text"),
        size(array_distinct(col("__ps"))).cast("long").as("n_kept"),
        size(col("__ps")).cast("long").as("n_total"))
  }

  /** Overlapping token-window chunks — the standard corpus-prep step
    * before embedding or training on long documents. Chunk `k` starts
    * at token `1 + k·stride` and spans up to `size` tokens; the last
    * chunk may be shorter. Narrow (per-row array expressions + one
    * explode), no shuffle; deterministic, so chunk ids are stable
    * across runs. Returns (idCol, chunk_id, chunk, n_tokens). */
  def chunk(docs: DataFrame, size: Int, stride: Int,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(size > 0 && stride > 0, "size and stride must be positive")
    val toks = tokens(col(textCol))
    val chunks = when(size_(toks) > 0,
      transform(sequence(lit(1), size_(toks), lit(stride)), s =>
        struct(
          ((s - 1) / stride).cast("long").as("chunk_id"),
          concat_ws(" ", slice(toks, s, lit(size))).as("chunk"),
          least(lit(size), size_(toks) - s + 1).cast("long").as("n_tokens"))))
      .otherwise(array().cast("array<struct<chunk_id:bigint,chunk:string,n_tokens:bigint>>"))
    docs.select(col(idCol), explode(chunks).as("c"))
      .select(col(idCol), col("c.chunk_id"), col("c.chunk"), col("c.n_tokens"))
  }

  // functions.size, locally aliased so `chunk`'s size parameter can't
  // shadow it
  private def size_(c: Column): Column = org.apache.spark.sql.functions.size(c)

  /** Content-defined chunking (Rabin-style): a chunk boundary falls
    * after token `i` when the md5 of the `shingleN`-token window
    * ending at `i` starts with a nibble below `boundaryNibbles`
    * (boundary probability `boundaryNibbles`/16 ⇒ expected chunk
    * length 16/`boundaryNibbles` tokens). Unlike fixed-grid [[chunk]],
    * boundaries are content-addressed: editing a document only moves
    * the boundaries inside the edited neighborhood, so unchanged spans
    * keep their chunk hashes — the property chunk-level dedup needs
    * (a one-token insertion shifts EVERY fixed-grid chunk but only one
    * CDC chunk). The final token always closes the last chunk.
    *
    * Computed per row by the native `graft.functions.CdcChunks`
    * expression — one compiled boundary-scan-and-hash loop inside
    * whole-stage codegen (the composable `filter(sequence)`/`zip_with`
    * form, kept below as [[contentChunksComposable]] and pinned
    * value-identical by test, runs interpreted: a lambda frame and a
    * joined-string + hex allocation per token position — ~20× slower
    * at bench scale). Zero shuffles; md5-addressed boundaries are
    * RNG-free and engine-portable. Returns
    * (idCol, chunk_idx, first_pos, n_tokens, chunk_hash). */
  def contentChunks(docs: DataFrame, shingleN: Int = 3, boundaryNibbles: Int = 1,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        posexplode(graft.functions.CdcChunks(tokens(col(textCol)),
          shingleN, boundaryNibbles)).as(Seq("chunk_idx", "c")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.first_pos"), col("c.n_tokens"), col("c.chunk_hash"))

  /** The composable-builtins construction of [[contentChunks]] — the
    * reference implementation the native expression is tested against. */
  private[ext] def contentChunksComposable(docs: DataFrame, shingleN: Int = 3,
                                           boundaryNibbles: Int = 1,
                                           idCol: String = "doc_id",
                                           textCol: String = "text"): DataFrame = {
    require(shingleN >= 1 && boundaryNibbles >= 1 && boundaryNibbles <= 16,
      "need a positive window and a boundary probability in (0, 1]")
    val toks = tokens(col(textCol))
    val n = size_(toks)
    // chunk END positions (1-based, inclusive): content-addressed
    // boundaries, plus n to close the final chunk
    val ends0 = when(n >= shingleN,
      filter(sequence(lit(shingleN), n), i =>
        instr(lit("0123456789abcdef"),
          substring(md5(concat_ws(" ", slice(toks, i - (shingleN - 1), lit(shingleN)))), 1, 1))
          - 1 < boundaryNibbles))
      .otherwise(array().cast("array<int>"))
    val ends = when(n === 0, array().cast("array<int>"))
      .otherwise(when(size_(ends0) > 0 && element_at(ends0, -1) === n, ends0)
        .otherwise(concat(ends0, array(n))))
    val starts = concat(array(lit(1)),
      transform(slice(ends, lit(1), greatest(size_(ends) - 1, lit(0))), e => e + 1))
    val chunks = zip_with(starts, ends, (s, e) => struct(
      s.cast("long").as("first_pos"),
      (e - s + 1).cast("long").as("n_tokens"),
      md5(concat_ws(" ", slice(toks, s, e - s + 1))).as("chunk_hash")))
    docs.select(col(idCol), posexplode(chunks).as(Seq("chunk_idx", "c")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.first_pos"), col("c.n_tokens"), col("c.chunk_hash"))
  }

  /** Document-length histogram: docs per `width`-char bucket. */
  def lengthHistogram(docs: DataFrame, width: Int = 200, charsCol: String = "n_chars"): DataFrame =
    docs.groupBy(floor(col(charsCol) / width).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))

  /** The full Gopher repetition-signal suite (Rae et al. 2021 §A1.1)
    * at line/paragraph/n-gram grain — [[repetitionScore]] gives the
    * single top-shingle frequency; this emits the seven signals the
    * paper actually thresholds: duplicate-line and duplicate-
    * paragraph fractions (occurrences beyond the first over total),
    * the character-weighted versions of both, and the fraction of
    * characters covered by the most frequent 2/3/4-gram (count ×
    * gram length over doc length; count ties broken by
    * lexicographically smallest gram). Lines split on newline,
    * paragraphs on blank line, empties dropped; docs with no
    * non-empty line are omitted; docs too short for an n-gram get
    * 0.0 for that signal. N-grams are computed over WHITESPACE-split
    * words (explicit `[ \t\n\r]+` class — identical under Java regex
    * and RE2, so the oracle replays it byte-for-byte), per Gopher's
    * definition of a word; this deliberately differs from the
    * engine-wide space-only [[tokens]], whose tokens straddle
    * newlines. Every ratio is one IEEE division of exact
    * int64 counts — engine-identical, fully hashable.
    *
    * Scale: TWO map-side-combined explode→group passes (down from
    * five): lines and paragraphs ride one explode under a grain tag,
    * the three n-gram widths ride another under a width tag — each
    * keyed by (doc, tag, unit), so per-doc state only, no corpus-wide
    * key ever concentrates; a conditional-max pivot folds each pass
    * to doc grain and the two doc-grain frames join narrowly on the
    * id. A doc with any non-empty line necessarily has a paragraph
    * too, so both grains are always present together and the pivoted
    * line/paragraph fields are never null for an emitted doc.
    */
  def repetitionSignals(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    def tagged(sep: String, tag: Int) =
      transform(filter(split(col(textCol), sep), x => x =!= ""),
        u => struct(lit(tag).as("t"), u.as("u")))
    val units = docs.select(col(idCol),
        explode(concat(tagged("\n", 0), tagged("\n\n", 1))).as("x"))
      .select(col(idCol), col("x.t").as("t"), col("x.u").as("u"))
      .groupBy(col(idCol), col("t"), col("u")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol), col("t")).agg(
        sum("c").as("n"),
        (sum(col("c") - 1).cast("double") / sum(col("c"))).as("fd"),
        (sum((col("c") - 1) * length(col("u"))).cast("double") /
          sum(col("c") * length(col("u")))).as("fc"))
      .groupBy(col(idCol)).agg(
        max(when(col("t") === 0, col("n"))).as("n_lines"),
        max(when(col("t") === 0, col("fd"))).as("frac_dup_lines"),
        max(when(col("t") === 0, col("fc"))).as("frac_chars_dup_lines"),
        max(when(col("t") === 1, col("n"))).as("n_paras"),
        max(when(col("t") === 1, col("fd"))).as("frac_dup_paras"),
        max(when(col("t") === 1, col("fc"))).as("frac_chars_dup_paras"))
    val toks = filter(split(col(textCol), "[ \\t\\n\\r]+"), x => x =!= "")
    val grams = docs.select(col(idCol),
        length(col(textCol)).cast("long").as("__len"),
        explode(concat(Seq(2, 3, 4).map(n =>
          transform(graft.functions.TokenNgrams(toks, n),
            g => struct(lit(n).as("n"), g.as("g")))): _*)).as("x"))
      .select(col(idCol), col("__len"), col("x.n").as("n"), col("x.g").as("g"))
      .groupBy(col(idCol), col("__len"), col("n"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol), col("__len"), col("n")).agg(
        min(struct((-col("c")).as("negc"), col("g").as("g"))).as("m"))
      .select(col(idCol), col("n"),
        (((-col("m.negc")) * length(col("m.g")).cast("long")).cast("double") /
          col("__len")).as("f"))
      .groupBy(col(idCol)).agg(
        max(when(col("n") === 2, col("f"))).as("top2_frac"),
        max(when(col("n") === 3, col("f"))).as("top3_frac"),
        max(when(col("n") === 4, col("f"))).as("top4_frac"))
    units.join(grams, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"), col("frac_dup_lines"),
        col("frac_chars_dup_lines"), col("n_paras"), col("frac_dup_paras"),
        col("frac_chars_dup_paras"),
        coalesce(col("top2_frac"), lit(0.0)).as("top2_frac"),
        coalesce(col("top3_frac"), lit(0.0)).as("top3_frac"),
        coalesce(col("top4_frac"), lit(0.0)).as("top4_frac"))
  }

  /** Repetition score: frequency of the most common `n`-token shingle
    * over the total shingle count — near 1.0 flags boilerplate/looping
    * text (a standard pretraining quality filter). Computed per row by
    * the native `graft.functions.RepetitionStats` expression (one
    * compiled hash-count loop) — explode + two keyed group-bys would
    * shuffle the full shingle stream (a 10–100× amplification of the
    * corpus) for a per-document score; this form is a narrow map, zero
    * shuffles. Docs with no shingles produce no row (explode semantics
    * kept). */
  def repetitionScore(docs: DataFrame, shingleN: Int = 3,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        graft.functions.RepetitionStats(tokens(col(textCol)), shingleN).as("__s"))
      .filter(col("__s").isNotNull)
      .select(col(idCol),
        (col("__s.best").cast("double") / col("__s.n")).as("repetition"),
        col("__s.n").as("n_shingles"))

  /** Boilerplate n-gram detection: the `n`-token shingles that occur in
    * at least `minDocs` DISTINCT documents. Repeated across many
    * documents = template/navigation/license text — the corpus-level
    * complement of the per-document [[repetitionScore]], and the input
    * to a boilerplate-stripping pass.
    *
    * Shape: per-row distinct shingling (narrow) then ONE group-by on
    * the shingle — exploding already-distinct per-doc shingles makes
    * `count(*)` the document frequency with no `countDistinct` state,
    * and the count partial-aggregates map-side, so the shuffle carries
    * per-partition (shingle, count) rows, not the shingle stream. */
  def boilerplateNgrams(docs: DataFrame, shingleN: Int = 3, minDocs: Long = 2,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(explode(graft.functions.ShingleSet(tokens(col(textCol)), shingleN)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Corpus-level paragraph dedup — RefinedWeb/C4-style boilerplate
    * stripping at paragraph grain: a paragraph that appears (exact,
    * post-split, empties dropped) in at least `minDocs` DISTINCT
    * documents is navigation/template/legal text and is removed from
    * every document; each doc reassembles from its surviving
    * paragraphs in original order. Output (idCol, n_paras,
    * n_dropped, cleaned) — a doc whose paragraphs all drop survives
    * with an empty string (the doc-level length filter downstream
    * decides its fate); docs with no non-empty paragraph are absent
    * (explode semantics, same contract as [[repetitionSignals]]).
    *
    * Scale: paragraphs explode narrowly; document frequency is ONE
    * md5-keyed shuffle over distinct (doc, hash) pairs — 16-byte
    * keys, never the text, map-side combined; the keep/drop join
    * rides the same hash key; reassembly is one doc-keyed shuffle
    * whose collect_list is bounded by the document's own paragraph
    * count, made deterministic by array_sort over the carried
    * position. */
  def paragraphDedup(docs: DataFrame, minDocs: Long = 2,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val paras = docs.select(col(idCol),
        posexplode(filter(split(col(textCol), "\n\n"), x => x =!= ""))
          .as(Seq("pos", "para")))
      .withColumn("__h", md5(col("para")))
    val df = paras.select(col(idCol), col("__h")).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__df"))
    paras.join(df, Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("__df") >= minDocs, 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("__df") < minDocs,
            struct(col("pos").as("pos"), col("para").as("para"))))),
          x => x.getField("para")), "\n\n").as("cleaned"))
  }

  /** Per-document n-gram novelty — the memorization / redundancy-risk
    * audit: for each document, the fraction of its DISTINCT
    * `shingleN`-gram shingles that occur in NO other document. A
    * novelty near 1 marks unique content worth keeping; near 0 marks
    * a document assembled from corpus-common spans (mirrors, quote
    * farms, templates) that mostly restates what the corpus already
    * says. Output (idCol, n_shingles, n_novel, novelty); documents too
    * short to shingle carry no evidence and are absent.
    *
    * Scale shape: distinct shingles per doc come from the one-pass
    * native ShingleSet kernel; the document-frequency table is keyed
    * by the shingle (never the text) and joins back to the per-doc
    * stream on that key — two keyed shuffles total, both
    * map-side-combined. */
  def ngramNovelty(docs: DataFrame, shingleN: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val dsh = docs.select(col(idCol),
      explode(graft.functions.ShingleSet(tokens(col(textCol)), shingleN)).as("__sh"))
    val df = dsh.groupBy(col("__sh")).agg(count(lit(1)).as("__df"))
    dsh.join(df, Seq("__sh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_shingles"))
  }

  /** Train/test decontamination: test-split documents that share at
    * least one `n`-token shingle with ANY train-split document — the
    * benchmark-leakage check every training pipeline runs before
    * holding out an eval set. Returns one row per contaminated test
    * document with the count of its leaked (distinct) shingles.
    *
    * Shape at 100 TB: both sides reduce to distinct (doc, shingle)
    * pairs via a narrow per-row pass; the train side collapses to a
    * distinct shingle set (uniform hash shuffle), and the test side
    * left-semi joins against it on the shingle — candidate work scales
    * with shingle overlap, never test × train. */
  def decontaminate(docs: DataFrame, shingleN: Int = 5, trainNibbles: Int = 13,
                    idCol: String = "doc_id", textCol: String = "text",
                    hashShingles: Boolean = true): DataFrame = {
    val labeled = trainTestSplit(docs, idCol, trainNibbles)
    // the distinct/join key: with hashShingles, a 64-bit md5 prefix
    // replaces the raw n-gram — the shuffles carry 16-byte keys
    // instead of arbitrary-length text (the dominant cost at corpus
    // scale), at the price of counting two same-doc shingles as one on
    // a hash collision (~2^-64 per pair; both engines hash identically
    // so the oracle cannot diverge)
    // native one-pass distinct-shingle kernel (ShingleSet) — the
    // composable transform/substring(md5)/array_distinct chain runs
    // interpreted and is pinned value-identical by test
    val sh = labeled.select(col(idCol), col("split"),
      explode(graft.functions.ShingleSet(tokens(col(textCol)), shingleN,
        if (hashShingles) 16 else 0)).as("sh"))
    val trainShingles = sh.filter(col("split") === "train").select("sh").distinct()
    sh.filter(col("split") === "test")
      .join(trainShingles, Seq("sh"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_contaminated"))
  }

  /** [[decontaminate]] with a Bloom runtime filter: the train-side
    * distinct shingle keys build ONE broadcast-sized bit array
    * (`functions/Bloom`, OR-mergeable partials), and the test side is
    * pre-filtered map-side by `bloom_might_contain` BEFORE the exact
    * semi-join — at 100 TB the semi-join's shuffle then carries only
    * near-hits instead of every test shingle, while the exact join
    * over the survivors removes the false positives, so the result is
    * IDENTICAL to [[decontaminate]] (Bloom filters have no false
    * negatives — q97 hash-checks this against the plain oracle).
    * The one `Bloom.build` driver action is an index build, the same
    * action class as fitting the IVF quantizer. */
  def decontaminateBloom(docs: DataFrame, shingleN: Int = 5, trainNibbles: Int = 13,
                         numBits: Int = 1 << 20, numHashes: Int = 5,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val labeled = trainTestSplit(docs, idCol, trainNibbles)
    val sh = labeled.select(col(idCol), col("split"),
      explode(graft.functions.ShingleSet(tokens(col(textCol)), shingleN, 16)).as("sh"))
    val trainShingles = sh.filter(col("split") === "train").select("sh").distinct()
    val bloom = graft.functions.Bloom.build(trainShingles, col("sh"), numBits, numHashes)
    sh.filter(col("split") === "test")
      .filter(graft.functions.Bloom.mightContain(bloom, numBits, numHashes, col("sh")))
      .join(trainShingles, Seq("sh"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_contaminated"))
  }

  // =================================================================
  // email / mbox tier — mailing-list and newsgroup archives are a
  // standard corpus source; this is the MIME feeder stripQuotedReply
  // was waiting for
  // =================================================================

  /** mbox archive → messages: records split on the `From ` envelope
    * lines that START messages (RFC 4155), each message yielding its
    * envelope (sender + asctime date as the writer stamped it) and
    * the raw RFC 5322 text with mboxrd `>From ` quoting UNDONE (one
    * `>` stripped from every `^>+From ` body line — the reversible
    * quoting convention; mboxo archives written without quoting can
    * split on an unquoted body `From `, an ambiguity inherent to the
    * format itself). Text before the first envelope line is not a
    * message and contributes no rows. Output (idCol, msg_idx,
    * envelope, raw); narrow explode, zero shuffle. */
  def mboxMessages(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        posexplode(filter(split(col(textCol), "(?m)(?=^From )"),
          m => m.startsWith("From "))).as(Seq("msg_idx", "__m")))
      .select(col(idCol), col("msg_idx").cast("long").as("msg_idx"),
        regexp_extract(col("__m"), "^From ([^\r\n]*)", 1).as("envelope"),
        regexp_replace(
          regexp_replace(col("__m"), "^From [^\n]*\n?", ""),
          "(?m)^>(>*From )", "$1").as("raw"))

  /** RFC 2047 encoded-word header decoding — real Subject/From
    * headers arrive as `=?charset?B|Q?data?=` tokens: B tokens are
    * base64, Q tokens quoted-printable with `_` as space; UTF-8 and
    * ISO-8859-1/latin1 charsets decode (the two that cover real
    * archives), anything else falls back to UTF-8 bytes. A token
    * whose base64 is malformed stays verbatim (lenient, like real
    * mail clients). The RFC's adjacent-encoded-words space-eliding
    * nicety is not applied. */
  def decodeMimeHeader(header: Column): Column = {
    val tokRe = "=\\?[A-Za-z0-9_-]+\\?[BbQq]\\?[^?]*\\?="
    val segs = split(header, tokRe)
    val toks = regexp_extract_all(header, lit("(" + tokRe + ")"), lit(1))
    def decodeTok(t: Column): Column = {
      val cs = lower(regexp_extract(t, "^=\\?([A-Za-z0-9_-]+)\\?", 1))
      val enc = lower(regexp_extract(t,
        "^=\\?[A-Za-z0-9_-]+\\?([BbQq])\\?", 1))
      val dat = regexp_extract(t, "\\?[BbQq]\\?([^?]*)\\?=$", 1)
      val b64 = regexp_replace(dat, "[^A-Za-z0-9+/=]", "")
      val bin = when(enc === "b", when(b64.rlike(
          "^([A-Za-z0-9+/]{4})*([A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"),
          unbase64(b64)))
        .otherwise(graft.functions.QpDecode(
          regexp_replace(dat, "_", " ")))
      val dec = when(cs === "iso-8859-1" || cs === "latin1",
        decode(bin, "ISO-8859-1")).otherwise(coalesce(
        graft.functions.Utf8Text(bin), decode(bin, "ISO-8859-1")))
      coalesce(dec, t) // malformed token: keep verbatim
    }
    array_join(zip_with(segs,
      concat(transform(toks, decodeTok(_)), array(lit(""))),
      (s, t) => concat(s, coalesce(t, lit("")))), "")
  }

  /** RFC 5322 message parse — headers unfolded (continuation lines
    * rejoined), the census fields extracted: subject/from/to (RFC
    * 2047 encoded-words decoded), date, message-id, the Content-Type
    * split into mime type + charset + multipart boundary (quoted and
    * unquoted forms), the transfer encoding, and the raw body (after
    * the first blank line; a message with no blank line is all
    * headers per the RFC). Absent headers are null, never guessed.
    * Output (idCol, carry..., subject, from_addr, to_addr, date_raw,
    * message_id, mime_type, charset, boundary, cte, body). */
  def emailParse(docs: DataFrame, idCol: String = "doc_id",
                 rawCol: String = "raw",
                 carryCols: Seq[String] = Seq.empty): DataFrame = {
    def nonEmpty(c: Column): Column = when(c =!= "", c)
    val headerRaw = regexp_extract(col(rawCol), "(?s)^(.*?)\r?\n\r?\n.*", 1)
    val hdrBlock = when(headerRaw === "", col(rawCol)).otherwise(headerRaw)
    docs.select((col(idCol) +: carryCols.map(col)) :+
        regexp_replace(hdrBlock, "\r?\n[ \t]+", " ").as("__h") :+
        when(headerRaw === "", lit("")).otherwise(
          regexp_replace(col(rawCol), "(?s)^.*?\r?\n\r?\n", "")).as("body"): _*)
      .select((col(idCol) +: carryCols.map(col)) ++ {
        def h(name: String): Column = nonEmpty(regexp_extract(col("__h"),
          "(?im)^" + name + ": *([^\r\n]*)", 1))
        val ct = h("Content-Type")
        val bq = regexp_extract(ct, "(?i)boundary=\"([^\"]*)\"", 1)
        val bu = regexp_extract(ct, "(?i)boundary=([^\";\\s]+)", 1)
        Seq(
          when(h("Subject").isNotNull,
            decodeMimeHeader(h("Subject"))).as("subject"),
          when(h("From").isNotNull,
            decodeMimeHeader(h("From"))).as("from_addr"),
          when(h("To").isNotNull, decodeMimeHeader(h("To"))).as("to_addr"),
          h("Date").as("date_raw"),
          h("Message-ID").as("message_id"),
          nonEmpty(lower(trim(regexp_extract(ct, "^([^;]+)", 1))))
            .as("mime_type"),
          nonEmpty(lower(regexp_extract(ct,
            "(?i)charset=\"?([A-Za-z0-9_-]+)", 1))).as("charset"),
          nonEmpty(when(bq =!= "", bq).otherwise(bu)).as("boundary"),
          nonEmpty(lower(trim(coalesce(
            h("Content-Transfer-Encoding"), lit(""))))).as("cte"),
          col("body"))
      }: _*)
  }

  /** One part's transfer decoding: base64 (well-formed or the part
    * fails closed to null) and quoted-printable through the
    * [[graft.functions.QpDecode]] kernel, bytes decoded per the
    * declared charset (UTF-8 default, ISO-8859-1/latin1 honored);
    * 7bit/8bit/binary/absent pass through. */
  private def transferDecode(bodyTxt: Column, cte: Column,
                             charset: Column): Column = {
    def cs(bin: Column): Column =
      when(charset === "iso-8859-1" || charset === "latin1",
        decode(bin, "ISO-8859-1")).otherwise(coalesce(
        graft.functions.Utf8Text(bin), decode(bin, "ISO-8859-1")))
    val b64 = regexp_replace(bodyTxt, "[^A-Za-z0-9+/=]", "")
    when(cte === "base64", when(b64.rlike(
        "^([A-Za-z0-9+/]{4})*([A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"),
        cs(unbase64(b64))))
      .when(cte === "quoted-printable",
        cs(graft.functions.QpDecode(bodyTxt)))
      .otherwise(bodyTxt)
  }

  /** [[emailParse]] output → the message's TEXT: single-part bodies
    * transfer-decode directly (text/html through [[htmlToText]]);
    * multipart bodies split on their boundary (regex-quoted —
    * boundaries may carry regex metacharacters), each part's OWN
    * headers read for type/charset/encoding, and the text/plain part
    * is preferred over text/html (the multipart/alternative rule;
    * for multipart/mixed this keeps the message text and drops
    * attachments, exactly what a corpus wants). One nesting level —
    * a nested multipart part contributes its raw text; document-type
    * attachments belong to the documentText tier. Adds `text`
    * (null when every decode fails closed). */
  def emailText(parsed: DataFrame): DataFrame = {
    val isMulti = col("mime_type").startsWith("multipart/") &&
      col("boundary").isNotNull
    val rawParts = call_function("split", col("body"),
      concat(lit("\\Q--"), col("boundary"), lit("\\E")))
    // element 1 is the preamble; terminator chunks start with "--"
    val partArr = filter(
      slice(rawParts, lit(2), greatest(size(rawParts) - 1, lit(0))),
      p => !p.startsWith("--"))
    val info = transform(partArr, p => {
      val phdr = regexp_extract(p, "(?s)^\r?\n?(.*?)\r?\n\r?\n.*", 1)
      val uh = regexp_replace(phdr, "\r?\n[ \t]+", " ")
      val pct = regexp_extract(uh, "(?im)^Content-Type: *([^\r\n]*)", 1)
      struct(
        lower(trim(regexp_extract(pct, "^([^;]+)", 1))).as("ptype"),
        lower(trim(regexp_extract(uh,
          "(?im)^Content-Transfer-Encoding: *([^;\r\n]*)", 1))).as("pcte"),
        lower(regexp_extract(pct, "(?i)charset=\"?([A-Za-z0-9_-]+)", 1))
          .as("pcs"),
        regexp_replace(regexp_extract(p, "(?s)\r?\n\r?\n(.*)$", 1),
          "\r?\n$", "").as("pbody"))
    }).cast("array<struct<ptype:string,pcte:string,pcs:string," +
      "pbody:string>>")
    def firstOf(tpe: String): Column =
      try_element_at(filter(col("__parts"),
        i => i.getField("ptype") === tpe), lit(1))
    def partText(part: Column, html: Boolean): Column = {
      val dec = transferDecode(part.getField("pbody"),
        part.getField("pcte"), part.getField("pcs"))
      if (html) htmlToText(dec) else dec
    }
    val plain = firstOf("text/plain")
    val htmlP = firstOf("text/html")
    val multiText = when(plain.isNotNull, partText(plain, html = false))
      .when(htmlP.isNotNull, partText(htmlP, html = true))
    val singleDec = transferDecode(col("body"), col("cte"), col("charset"))
    val singleText = when(col("mime_type") === "text/html",
      htmlToText(singleDec)).otherwise(singleDec)
    parsed
      .withColumn("__parts", when(isMulti, info))
      .withColumn("text",
        when(col("__parts").isNotNull, multiText).otherwise(singleText))
      .drop("__parts")
  }

  /** The whole tier composed — mbox archive in, reply-stripped corpus
    * text out: [[mboxMessages]] → [[emailParse]] → [[emailText]] →
    * [[stripQuotedReply]], subject/sender/date carried per message.
    * Output (idCol, msg_idx, subject, from_addr, date_raw, cleaned,
    * n_lines, n_quoted, n_signature). */
  def mboxToCorpus(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    stripQuotedReply(
      emailText(emailParse(mboxMessages(docs, idCol, textCol), idCol,
        "raw", carryCols = Seq("msg_idx"))),
      idCol, "text",
      carryCols = Seq("msg_idx", "subject", "from_addr", "date_raw"))

  /** Content fingerprint: md5 over the sorted distinct token set —
    * stable under token reordering/duplication, the hash form of the
    * reference's DDL-normalization idea (SURVEY.md §2.8 X2/X3). */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      md5(concat_ws(" ", array_sort(array_distinct(tokens(col(textCol)))))).as("fingerprint"))
}
