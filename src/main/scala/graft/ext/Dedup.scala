package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2.11): exact, MinHash+LSH,
  * SimHash, n-gram Jaccard. Each is built from codegen'd built-ins
  * with deterministic (md5-seeded) hash families — no RNG, so results
  * are reproducible run-to-run and portable to the SQL oracle.
  *
  * Scale notes: signatures/fingerprints are per-row narrow ops; the
  * only shuffles are the final group-bys/joins on hash keys, which
  * partition evenly by construction (hash keys are uniform). The LSH
  * band join is the 100 TB path — candidate pairs are generated per
  * bucket instead of the quadratic all-pairs product.
  */
object Dedup {

  private lazy val log = org.apache.logging.log4j.LogManager.getLogger(getClass)

  /** Exact dedup: keep one row (smallest id) per identical content
    * hash. `dropDuplicates` on the raw columns is the narrow form;
    * this form also reports multiplicity. */
  def exactByContent(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame =
    df.groupBy(md5(concat_ws("\u0000", contentCols.map(col): _*)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** `n`-token shingles of a text column (non-empty whitespace tokens,
    * space-joined windows). Per-row, no shuffle. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    // NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not an
    // empty array — short docs must be special-cased.
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash signature over shingles: component `i` is
    * `min(md5(shingle || "#i"))` — a deterministic permutation family
    * via salted hashing; min taken lexicographically over hex strings.
    * One row per doc with `k` signature columns `mh0..mh{k-1}`.
    *
    * Pure per-row array expressions — ZERO shuffle: at 100 TB the
    * signature pass is a narrow map over the corpus, unlike an
    * explode→groupBy formulation that would shuffle every (doc,
    * shingle) row. Downstream consumers that reuse signatures more
    * than once (the candidate self-join family) must avoid duplicating
    * this expression lineage — see [[candidatePairs]]. */
  def minhash(docs: DataFrame, k: Int, shingleN: Int = 3,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && k <= 32, "k minhash functions are sliced from one 32-hex md5")
    // one md5 per shingle, k functions as disjoint hex slices of the
    // digest (k× less hashing than salting the shingle per function),
    // all in the native MinhashSig expression — a single compiled
    // shingle-digest-min loop per row inside whole-stage codegen. The
    // signature array is materialized once (Catalyst keeps non-cheap
    // expressions single-evaluation across the unpacking projection).
    val sigged = docs.select(col(idCol),
      graft.functions.MinhashSig(TextAnalysis.tokens(col(textCol)), shingleN, k).as("__sig"))
    sigged.select(col(idCol) +:
      (0 until k).map(i => col("__sig")(i).as(s"mh$i")): _*)
  }

  /** LSH banding of a minhash signature: band `b` key =
    * md5(mh[b*r] || .. || mh[b*r+r-1]). Docs sharing any band key are
    * near-dup candidates. Returns (idCol, band, band_key).
    *
    * Docs too short to shingle carry a NULL signature ([[minhash]]),
    * and `concat_ws` skips nulls — unfiltered they would all collide
    * on md5('') in every band: spurious candidate pairs, and at corpus
    * scale one global mega-bucket whose pair expansion is quadratic
    * inside a single task. A shingle-less doc has no similarity
    * evidence, so it is excluded here (the exact-Jaccard verify stage
    * likewise sees no shingles for it). */
  def lshBands(sigs: DataFrame, bands: Int, rowsPerBand: Int, idCol: String = "doc_id"): DataFrame = {
    val bandRows = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("band_key"))
    }
    sigs.filter(col("mh0").isNotNull)
      .select(col(idCol), explode(array(bandRows: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.band_key"))
  }

  /** Candidate pairs from LSH bands: group ids per (band, band_key)
    * bucket and expand the in-bucket `a < b` combinations with array
    * expressions, then distinct. The scale path — pair generation is
    * local to each bucket, never the full cross product, and there is
    * exactly ONE shuffle (the bucket group-by; pair expansion is a
    * narrow map). Deliberately NOT a self-join: joining a frame to
    * itself duplicates the whole upstream expression lineage (here the
    * per-row minhash trees) and Catalyst re-plans both copies — the
    * join form took tens of seconds in planning for a 15k-row input.
    * (A chained posexplode+slice expansion bounding per-row memory to
    * O(m) was measured 3-4× slower at bench scale — every generated
    * row re-copies the bucket array — so the single-pass pair-array
    * build stays.)
    *
    * MEGA-BUCKET GUARD: a pathological bucket (a million identical
    * short docs — common in real crawls) expands O(n²) pairs inside
    * one task and OOMs/straggles at 100 TB. [[exactByContent]] is the
    * MANDATORY pre-stage — byte-identical docs must be collapsed
    * before LSH, which removes such buckets at the source. `maxBucket`
    * is the in-operator defense when they slip through anyway
    * (near-identical, not byte-identical): buckets larger than it are
    * STAR-expanded — every member pairs with the bucket minimum only,
    * n−1 pairs instead of n(n−1)/2. The star preserves exactly what
    * transitive dedup ([[connectedComponents]] → one representative
    * per cluster) consumes: all members stay connected through the
    * minimum. Pairwise-similarity consumers lose non-minimum pairs in
    * oversized buckets, so the cap is opt-in (default: no cap). */
  def candidatePairs(bands: DataFrame, idCol: String = "doc_id",
                     maxBucket: Int = Int.MaxValue): DataFrame = {
    // materialize the sorted bucket ONCE per row (inlining array_sort
    // into the expansion lambda re-sorts per outer element — O(n²·log n)
    // on the skewed buckets near-identical docs collapse into)
    val buckets = bands.groupBy(col("band"), col("band_key"))
      .agg(collect_list(col(idCol)).as("__raw"))
      .filter(size(col("__raw")) > 1)
      .select(array_sort(col("__raw")).as("__ids"))
    val sorted = col("__ids")
    val full = flatten(transform(sorted, (a, i) =>
      transform(slice(sorted, i + lit(2), size(sorted) - i - 1),
        b => struct(a.as("doc_a"), b.as("doc_b")))))
    val star = transform(slice(sorted, lit(2), size(sorted) - 1),
      b => struct(element_at(sorted, 1).as("doc_a"), b.as("doc_b")))
    val pairs =
      if (maxBucket == Int.MaxValue) full
      else when(size(sorted) > maxBucket, star).otherwise(full)
    buckets.select(explode(pairs).as("__p"))
      .select(col("__p.doc_a"), col("__p.doc_b"))
      .distinct()
  }

  /** Incremental near-dup screening — the production ingest pattern: a
    * NEW batch (today's crawl) is screened against the EXISTING
    * corpus's persisted band index, returning only cross pairs
    * (existing `doc_a`, new `doc_b`); existing↔existing pairs were
    * resolved when the corpus was built, and new↔new pairs come from
    * the ordinary [[candidatePairs]] over the batch alone.
    *
    * Scale shape: the batch's bands are tiny next to the corpus, so
    * they BROADCAST into the band join — the 100 TB band index is
    * never shuffled, each scan task probes the broadcast map. Persist
    * `existingBands` once ([[lshBands]] output written as parquet) and
    * append each batch's bands after screening; nothing is ever
    * re-shingled. Id spaces must be disjoint (enforce upstream).
    *
    * The broadcast is a HARD driver/executor memory commitment of
    * `bands × |batch|` rows: right for the steady-state ingest batch
    * (a day's crawl vs the accumulated corpus), wrong for a bulk
    * backfill approaching corpus size. Pass `broadcastBatch = false`
    * for oversized batches — the join falls back to a shuffle on
    * (band, band_key), which is exactly [[candidatePairs]]' shuffle
    * shape and never OOMs. */
  def incrementalCandidatePairs(existingBands: DataFrame, newDocs: DataFrame,
                                bands: Int, rowsPerBand: Int, shingleN: Int = 3,
                                idCol: String = "doc_id",
                                textCol: String = "text",
                                broadcastBatch: Boolean = true): DataFrame =
    incrementalCandidatePairsFromBands(existingBands,
      lshBands(
        minhash(newDocs, k = bands * rowsPerBand, shingleN, idCol, textCol),
        bands, rowsPerBand, idCol),
      idCol, broadcastBatch)

  /** [[incrementalCandidatePairs]] over ALREADY-COMPUTED batch bands —
    * for callers (the curation stream) that reuse one band build for
    * within-batch pair generation, the index probe, and the index
    * append. */
  def incrementalCandidatePairsFromBands(existingBands: DataFrame,
                                         newBands: DataFrame,
                                         idCol: String = "doc_id",
                                         broadcastBatch: Boolean = true): DataFrame = {
    val nb = newBands.select(col(idCol).as("doc_b"), col("band"), col("band_key"))
    existingBands
      .select(col(idCol).as("doc_a"), col("band"), col("band_key"))
      .join(if (broadcastBatch) broadcast(nb) else nb, Seq("band", "band_key"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** MinHash Jaccard ESTIMATE for candidate pairs: the fraction of
    * agreeing signature components (the textbook unbiased estimator,
    * E[match fraction] = J). No shingling, no shingle join — the
    * screening stage that lets a pipeline discard most candidates
    * before paying [[jaccardForPairs]]'s exact verification; per pair
    * it reads 2k signature values and nothing else. `sigs` is the
    * [[minhash]] output; pass it checkpointed/cached if candidate
    * generation shares its lineage. */
  def jaccardEstimate(sigs: DataFrame, pairs: DataFrame, k: Int,
                      idCol: String = "doc_id"): DataFrame = {
    val a = sigs.toDF("doc_a" +: (0 until k).map(i => s"__a$i"): _*)
    val b = sigs.toDF("doc_b" +: (0 until k).map(i => s"__b$i"): _*)
    val matches = (0 until k)
      .map(i => when(col(s"__a$i") === col(s"__b$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (matches.cast("double") / k).as("jaccard_est"))
  }

  /** Exact Jaccard similarity over distinct `n`-token shingles for
    * given candidate pairs. shape: (doc_a, doc_b, n_a, n_b, n_shared,
    * jaccard).
    *
    * Only candidate documents are shingled: the corpus is first
    * semi-joined to the pair ids, so verification cost scales with the
    * candidate set (LSH output), not the corpus — the property that
    * makes the dedup pipeline's verify stage cheap at 100 TB. */
  def jaccardForPairs(docs: DataFrame, pairs: DataFrame, shingleN: Int = 3,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // single consumption of `pairs` (not a two-select union): each
    // consumer of an uncached frame re-executes the candidate
    // generation upstream of it
    val candIds = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as(idCol))
      .distinct()
    val candDocs = docs.join(candIds, Seq(idCol), "left_semi")
    // materialized ONCE: three consumers (both join sides + the size
    // table) would otherwise re-run the shingle kernel over the
    // candidate docs three times; the stream is candidate-bounded, the
    // documented verify-stage persist point. LAZY checkpoint: the
    // blocks are stored by the first stage that consumes them inside
    // the query's own job — an EAGER checkpoint here ran a separate
    // up-front materialization job whose fixed cost exceeded the
    // triple-evaluation it saved at bench scale (q82 +41%, q75 +15%),
    // while the lazy form keeps single evaluation at every scale
    val docShingles = candDocs
      .select(col(idCol), explode(graft.functions.ShingleSet(TextAnalysis.tokens(col(textCol)), shingleN)).as("sh"))
      .localCheckpoint(eager = false)
    val sizes = docShingles.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val a = docShingles.toDF("doc_a", "sh")
    val b = docShingles.toDF("doc_b", "sh")
    val shared = pairs
      .join(a, "doc_a").join(b, Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.toDF("doc_a", "n_a"), "doc_a")
      .join(sizes.toDF("doc_b", "n_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("n_shared"),
        (col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
  }

  /** Asymmetric shingle CONTAINMENT for candidate pairs:
    * `|A∩B| / min(|A|, |B|)` — the near-containment detector symmetric
    * Jaccard cannot be: a 10-line notice quoted verbatim inside a
    * 1000-line page has J ≈ 0.01 but containment 1.0. The standard
    * companion check in crawl dedup (drop/flag the contained doc, keep
    * the superset). Same verify-stage shape as [[jaccardForPairs]]:
    * cost ∝ candidate set, never the corpus. */
  def containmentForPairs(docs: DataFrame, pairs: DataFrame, shingleN: Int = 3,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    jaccardForPairs(docs, pairs, shingleN, idCol, textCol)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared").cast("double") / least(col("n_a"), col("n_b")))
          .as("containment"))

  /** All-pairs n-gram Jaccard restricted to pairs sharing ≥1 shingle
    * (the exact small-scale baseline; use minhash+LSH above at scale).
    *
    * QUARANTINED QUADRATIC BASELINE: exists ONLY as the ground-truth
    * generator for the LSH paths (q48/q49) and the audit-slice
    * harness ([[candidateQuality]]) — never compose it into a
    * pipeline entry (PlanSpec's quarantine guard pins the call
    * sites).
    *
    * Single-pass shape: group doc ids per shingle and expand the
    * in-bucket `a < b` combinations ([[candidatePairs]]' expansion) —
    * each bucket row contributes 1 to `|A∩B|` for every pair it holds,
    * so n_shared falls out of one groupBy over the expanded pairs.
    * This replaces the old self-join form with ONE keyed shuffle of
    * the (doc, shingle) stream instead of two (the join shuffled both
    * copies), and the stream itself is materialized ONCE: the shingle
    * kernel used to be re-evaluated per join branch plus a third time
    * for the size table. */
  def jaccardPairs(docs: DataFrame, shingleN: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val docShingles = docs
      .select(col(idCol), explode(graft.functions.ShingleSet(TextAnalysis.tokens(col(textCol)), shingleN)).as("sh"))
      .localCheckpoint(eager = false)
    val sizes = docShingles.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val buckets = docShingles.groupBy(col("sh"))
      .agg(collect_list(col(idCol)).as("__raw"))
      .filter(size(col("__raw")) > 1)
      .select(array_sort(col("__raw")).as("__ids"))
    // hot-shingle safety: expand each sorted bucket as one generator
    // row per LEFT endpoint (a, tail-slice) and explode the slice,
    // instead of flattening all n(n-1)/2 pair structs into a SINGLE
    // array value — a boilerplate shingle shared by 100k docs would
    // materialize billions of structs in one row (executor OOM) under
    // the flatten form; here no value outgrows the bucket itself.
    // The pair multiset is identical: (a at 0-based i) × (every id
    // after it), once per bucket row, exactly as before.
    val shared = buckets
      .select(col("__ids"), posexplode(col("__ids")).as(Seq("__i", "__a")))
      .select(col("__a").as("doc_a"),
        explode(slice(col("__ids"), col("__i") + lit(2),
          size(col("__ids")) - col("__i") - 1)).as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.toDF("doc_a", "n_a")), "doc_a")
      .join(broadcast(sizes.toDF("doc_b", "n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("n_shared"),
        (col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
  }

  /** Connected components over an undirected pair list
    * `(doc_a, doc_b)` — the step that turns near-duplicate PAIRS into
    * duplicate CLUSTERS, so a dedup pipeline can keep exactly one
    * representative (the minimum id) per transitive group. Returns
    * (doc_id, comp) where comp = min id in the component, ids kept in
    * the input's own integral type.
    *
    * Iterative min-label propagation with pointer jumping, run as a
    * RAW RDD loop over co-partitioned (long, long) pair RDDs — NOT as
    * per-round DataFrame plans. The loop body is the one place in the
    * library where Catalyst's per-round fixed costs dominate at every
    * scale: each round as a DataFrame pays analysis + optimization +
    * whole-stage-codegen + one AQE sub-job per exchange (measured
    * ~8-10 scheduler jobs per round), and Spark 4's localCheckpoint
    * additionally carries the origin plan's ESTIMATED statistics onto
    * the checkpointed state, whose join-product estimate compounds
    * exponentially across rounds (by round ~12 the driver was pinned
    * multiplying million-digit BigInts inside
    * SizeInBytesOnlyStatsPlanVisitor). The RDD loop plans nothing per
    * round and runs ONE scheduler job per round.
    *
    * Round structure (edges hash-partitioned by label-source node ONCE
    * and cached; labels co-partitioned by the same partitioner, so the
    * only per-round shuffles are the min-combine and the two bounded
    * jump exchanges):
    *  1. neighbor-min propagation: co-partitioned edges⋈labels is a
    *     NARROW join; the (src ← neighbor label) stream reduces by key
    *     with map-side combiners — skew-free even when one component
    *     dominates the graph.
    *  2. pointer jump, request/response form: each partition emits its
    *     DISTINCT wanted labels (c1, partition) — so a hot label (the
    *     min of a giant component, requested by millions of rows) is
    *     at most #partitions request rows, never a per-row shuffle of
    *     the hot key — the response (c1 → label(c1)) maps are routed
    *     back by partition id and applied map-side via zipPartitions.
    *     Jumping keeps chain-shaped components (mutual-kNN graphs
    *     produce them routinely) at O(log diameter) rounds instead of
    *     diameter rounds.
    *  3. convergence: labels only ever DECREASE, so the loop is done
    *     exactly when a round changes nothing — counted by a zero-test
    *     accumulator inside the same job (a retried/speculated task
    *     can only over-count, and only the == 0 decision is consumed,
    *     which over-counting cannot flip).
    * State is one cached node-sized RDD per round (predecessor dropped
    * as soon as its successor materializes) — nothing driver-sized. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.storage.StorageLevel
    val spark = pairs.sparkSession
    val idType = pairs.schema("doc_a").dataType
    require(Seq("tinyint", "smallint", "int", "bigint")
        .contains(idType.simpleString),
      s"connectedComponents needs integral ids; doc_a is " +
        s"${idType.simpleString} — rank a numeric surrogate and join back")
    // symmetric (label-source, label-target) edge RDD: (a,b) produces
    // a→b and b→a, keyed by the node whose label the round READS
    val symRaw = pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long")).rdd
      .flatMap { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        Iterator((a, b), (b, a))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    // scale the loop's parallelism to the graph, not the session: the
    // label/edge state is bounded by the pair list, and running a tiny
    // graph's rounds at full shuffle width is pure empty-task
    // overhead, while a billion-edge graph needs the full width
    // (~1M symmetric edges per partition).
    val m = symRaw.count()
    val sessionParts = spark.sessionState.conf.numShufflePartitions
    val loopParts = math.max(2, math.min(sessionParts, (m / 1000000L).toInt))
    val part = new HashPartitioner(loopParts)
    val pidPart = new org.apache.spark.Partitioner {
      override def numPartitions: Int = loopParts
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }
    val edges = symRaw.partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // seed each node with min(id, min direct neighbor): the symmetric
    // edge list contains every node as a key, so one co-partitioned
    // (narrow) reduce both enumerates the nodes AND folds what used to
    // be the first propagation round into initialization
    var labels = edges.reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      .mapPartitions(_.map { case (id, mn) => (id, math.min(id, mn)) },
        preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    labels.count()
    symRaw.unpersist(blocking = false)
    val sc = spark.sparkContext
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val changed = sc.longAccumulator(s"cc-changed-$i")
      // 1. neighbor minima: narrow co-partitioned join, combined reduce
      val nbr = edges.join(labels, part)
        .map { case (_, (dst, srcComp)) => (dst, srcComp) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      // carry (old, proposed) per node for the change count
      val prop = labels.leftOuterJoin(nbr, part)
        .mapValues { case (c, nc) =>
          (c, math.min(c, nc.getOrElse(c)))
        }
      // 2. pointer jump: per-partition DISTINCT label requests →
      //    bounded-key lookup join → responses routed back by pid
      val requests = prop.mapPartitionsWithIndex { (pid, it) =>
        val want = new java.util.HashSet[Long]()
        it.foreach { case (_, (_, c1)) => want.add(c1) }
        val b = Iterator.newBuilder[(Long, Int)]
        want.forEach(c1 => b += ((c1, pid)))
        b.result()
      }
      val responses = requests.join(labels, part)
        .map { case (c1, (pid, l1)) => (pid, (c1, l1)) }
        .partitionBy(pidPart)
      val next = prop.zipPartitions(responses,
          preservesPartitioning = true) { (propIt, respIt) =>
        val m = new java.util.HashMap[Long, Long]()
        respIt.foreach { case (_, (c1, l1)) => m.put(c1, l1) }
        propIt.map { case (id, (old, c1)) =>
          val l1 = m.getOrDefault(c1, c1)
          val c2 = math.min(c1, l1)
          if (c2 != old) changed.add(1L)
          (id, c2)
        }
      }.persist(StorageLevel.MEMORY_AND_DISK)
      next.count()
      log.debug("connected components round {}: {} labels changed", i, changed.value)
      labels.unpersist(blocking = false)
      labels = next
      converged = changed.value == 0L
      i += 1
    }
    log.debug("connected components: {} rounds, converged {}", i, converged)
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    edges.unpersist(blocking = false)
    val out = spark.createDataFrame(
      labels.map { case (id, comp) => org.apache.spark.sql.Row(id, comp) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("__comp", org.apache.spark.sql.types.LongType, nullable = false))))
    out.select(col("__id").cast(idType).as(idCol),
      col("__comp").cast(idType).as("comp"))
  }

  /** Duplicate-cluster source census — the mirror/aggregator report
    * at CLUSTER grain ([[dedupBurden]]'s source-grain sibling): for
    * every connected component of the near-dup graph, its size, how
    * many distinct sources its members span, and the representative.
    * A large cluster spanning many sources is a cross-site mirror; a
    * large single-source cluster is internal boilerplate — the two
    * need different curation responses. Distinct-source counting is a
    * two-level exact aggregation (comp, source) → comp, never
    * countDistinct state. Output (comp, n_docs, n_sources).
    *
    * Scale shape: CC state bounded by the pair list; membership joins
    * the docs table once; both roll-ups are map-side-combined. */
  def clusterSourceCensus(docs: DataFrame, pairs: DataFrame,
                          idCol: String = "doc_id",
                          sourceCol: String = "source"): DataFrame = {
    val comps = connectedComponents(pairs, idCol = idCol)
    val members = comps.join(
      docs.select(col(idCol), col(sourceCol).as("source")), Seq(idCol))
    members.groupBy(col("comp"), col("source"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("comp"))
      .agg(sum(col("__n")).as("n_docs"), count(lit(1)).as("n_sources"))
  }

  /** Exact-integer lazy PageRank over an undirected pair list —
    * graph centrality for corpus curation: in the near-dup candidate
    * graph, high-mass nodes are the template/mirror HUBS (the page
    * every boilerplate variant links to); in a mutual-kNN graph they
    * are cluster centers worth keeping as representatives. The
    * variant is LAZY PageRank: per step each node distributes
    * `(mass·dampNum) div 100` across its neighbors by integer
    * division and RETAINS the rest (teleport-to-self instead of
    * uniform teleport) plus the division remainders — so every step
    * is pure int64 arithmetic, mass is conserved exactly, and the
    * result is bit-identical in any engine, under any partitioning
    * (the connectedComponents determinism bar; float PR sums would
    * be order-dependent). Ranking quality matches standard PR to
    * within 1/startMass. Isolated nodes keep their full mass.
    *
    * Scale shape: state is one (node, mass) table; each of the fixed
    * `iters` rounds is a degree join + an edge join + one keyed
    * roll-up, lineage cut per round (the CC driver-loop contract).
    * Output (idCol, mass). */
  def pagerankCentrality(pairs: DataFrame, nodes: DataFrame,
                         iters: Int = 5, dampNum: Int = 85,
                         startMass: Long = 1000000000L,
                         idCol: String = "doc_id"): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampNum <= 100 && startMass > 0,
      s"bad pagerank params (iters=$iters, dampNum=$dampNum, startMass=$startMass)")
    // RAW RDD loop, [[connectedComponents]]' argument verbatim: a
    // per-iteration DataFrame plan pays analysis + codegen + one AQE
    // sub-job per exchange, and Spark 4's localCheckpoint carries
    // compounding size ESTIMATES across rounds; the RDD loop plans
    // nothing per round, keeps ranks/degrees/edges co-partitioned (the
    // only per-round shuffle is the inflow reduce, map-side combined
    // and therefore hub-skew-free), and runs one scheduler job per
    // iteration. All arithmetic is the same exact integer div/mul —
    // bit-identical masses on any engine and any partitioning.
    import org.apache.spark.HashPartitioner
    import org.apache.spark.storage.StorageLevel
    val spark = pairs.sparkSession
    val idType = nodes.schema(idCol).dataType
    require(Seq("tinyint", "smallint", "int", "bigint")
        .contains(idType.simpleString),
      s"pagerankCentrality needs integral ids; $idCol is " +
        s"${idType.simpleString} — rank a numeric surrogate and join back")
    val dirRaw = pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long")).rdd
      .flatMap { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        Iterator((a, b), (b, a))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    val m = dirRaw.count()
    val sessionParts = spark.sessionState.conf.numShufflePartitions
    val loopParts = math.max(2, math.min(sessionParts, (m / 1000000L).toInt))
    val part = new HashPartitioner(loopParts)
    val dir = dirRaw.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    val deg = dir.mapValues(_ => 1L)
      .reduceByKey(part, (a: Long, b: Long) => a + b)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // pair endpoints UNION nodes: an edge referencing an id absent
    // from `nodes` would otherwise route inflow to a row the
    // ranks-keyed join drops — silently losing mass and breaking the
    // exact-conservation invariant this operator documents
    var ranks = nodes.select(col(idCol).cast("long")).rdd
      .map(r => (r.getLong(0), ()))
      .union(dirRaw.map { case (src, _) => (src, ()) })
      .reduceByKey(part, (a: Unit, _: Unit) => a)
      .mapValues(_ => startMass)
      .persist(StorageLevel.MEMORY_AND_DISK)
    ranks.count()
    // materialize dir/deg BEFORE dropping their source: deg pulls dir
    // which pulls dirRaw — unpersisting first made iteration 1 re-run
    // the full pairs lineage (DataFrame scan + flatMap) from source
    // (connectedComponents gets the same ordering right via
    // labels.count() ahead of symRaw.unpersist)
    deg.count()
    dirRaw.unpersist(blocking = false)
    for (_ <- 1 to iters) {
      // (id, (mass, deg, dist, share)) — co-partitioned narrow join
      val st = ranks.leftOuterJoin(deg, part).mapValues { case (mass, d) =>
        val dg = d.getOrElse(0L)
        val dist = if (dg > 0) (mass * dampNum) / 100 else 0L
        val share = if (dg > 0) dist / dg else 0L
        (mass, dg, dist, share)
      }
      val inflow = dir
        .join(st.mapValues(_._4), part) // (src, (dst, share)) narrow
        .map { case (_, (dst, share)) => (dst, share) }
        .reduceByKey(part, (a: Long, b: Long) => a + b)
      val next = st.leftOuterJoin(inflow, part)
        .mapValues { case ((mass, dg, dist, share), in) =>
          mass - dist + (dist - share * dg) + in.getOrElse(0L)
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      next.count()
      ranks.unpersist(blocking = false)
      ranks = next
    }
    val out = spark.createDataFrame(
      ranks.map { case (id, mass) => org.apache.spark.sql.Row(id, mass) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("mass",
          org.apache.spark.sql.types.LongType, nullable = false))))
    out.select(col("__id").cast(idType).as(idCol), col("mass"))
  }

  /** HITS hub/authority centrality (Kleinberg 1999) on a DIRECTED
    * edge stream (one row per link — multiplicities become edge
    * weights) — the complement of [[pagerankCentrality]] for
    * web-graph curation: authorities are pages many good hubs point
    * to (worth crawling deeper), hubs are index/link-farm pages
    * (worth down-weighting as content). `iters` UNnormalized integer
    * rounds: auth = Σ_in w·hub, then hub = Σ_out w·auth over the
    * fresh auths — weighted path counts, exact int64 and therefore
    * engine-identical/hashable; callers needing a [0,1] score divide
    * by the max once (the q150 raw-score rule: keep the division out
    * of the hashed contract). Values grow like (total weighted
    * degree)^(2·iters), so iters is require()d ≤ 3 — the operator
    * runs on the domain graph (domain-count-bounded), never the
    * corpus.
    *
    * Scale: edges roll up to (src, dst, w) once; each half-round is
    * one keyed join + one keyed sum over that table — 4·iters
    * edge-bounded shuffles, localCheckpoint per round keeps the plan
    * linear. Endpoint-union seeding keeps every referenced node
    * present (the pagerank mass-guard rule). */
  def hitsScores(edges: DataFrame, iters: Int = 2,
                 srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1 && iters <= 3, s"iters must be in [1,3], got $iters")
    // LAZY cuts throughout (here and in the loop): the plan boundary
    // bounds depth immediately; blocks materialize inside the final
    // action's job — same single evaluation, no per-round eager jobs
    val w = edges.groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
      .agg(count(lit(1)).as("w")).localCheckpoint(eager = false)
    val nodes = w.select(col("src").as("id"))
      .unionByName(w.select(col("dst").as("id"))).distinct()
    var scores = nodes.select(col("id"), lit(1L).as("hub"), lit(1L).as("auth"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to iters) {
      val auth = w.join(scores.select(col("id").as("src"), col("hub")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("w") * col("hub")).as("a"))
      val s1 = scores.join(auth, Seq("id"), "left")
        .select(col("id"), col("hub"), coalesce(col("a"), lit(0L)).as("auth"))
      val hub = w.join(s1.select(col("id").as("dst"), col("auth")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("w") * col("auth")).as("h"))
      scores = s1.join(hub, Seq("id"), "left")
        .select(col("id"), coalesce(col("h"), lit(0L)).as("hub"), col("auth"))
        .localCheckpoint(eager = false)
    }
    scores
  }

  /** Exact edit-distance verification of candidate pairs — the last
    * filter before declaring two documents duplicates when Jaccard is
    * too coarse (small edits inside shared shingles). Levenshtein is
    * O(|a|·|b|) per pair, so it is only ever run on the LSH-bounded
    * candidate set, never all-pairs; the thresholded form stops a
    * pair's DP early once the distance provably exceeds `maxDist`.
    * The (tiny) pair list is broadcast into both text joins — the
    * corpus side streams. */
  def editDistancePairs(docs: DataFrame, pairs: DataFrame, maxDist: Int,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val a = docs.select(col(idCol).as("doc_a"), col(textCol).as("__ta"))
    val b = docs.select(col(idCol).as("doc_b"), col(textCol).as("__tb"))
    a.join(broadcast(pairs), Seq("doc_a"))
      .join(b, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long").as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }

  /** The dedup pipeline's last stage: given the corpus and its
    * near-duplicate PAIRS, keep exactly one representative (minimum id)
    * per transitive duplicate group and every unpaired document.
    * The non-representatives are the component members whose label is
    * not their own id — a set bounded by the DUPLICATE count, usually a
    * small fraction of the corpus, so the anti-join's build side stays
    * broadcast-sized even when the corpus is 100 TB. */
  /** Source-overlap matrix — pairwise shingle Jaccard between
    * SOURCES: the corpus-redundancy map that surfaces mirror sites,
    * scraped aggregators, and re-crawled hosts BEFORE doc-level dedup
    * runs (a high-overlap source pair is a candidate for dropping one
    * side wholesale). Shingles are md5-hashed to 16 hex chars before
    * the distinct/join ([[TextAnalysis.decontaminate]]'s key trick —
    * shuffles carry fixed-size keys, never text). Only pairs sharing
    * at least one shingle appear (absent pair = zero overlap). Output
    * (source_a, source_b, n_a, n_b, n_shared, jaccard), a < b.
    *
    * Scale shape: one narrow shingle pass → distinct (source, shingle)
    * keyed shuffle; the pair expansion joins on the SHINGLE key, so
    * candidate work scales with shared shingles, never |S|²·corpus;
    * the output is |S|²-bounded. */
  def sourceOverlap(docs: DataFrame, shingleN: Int = 3,
                    sourceCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    val ss = docs.select(col(sourceCol).as("source"),
        explode(graft.functions.ShingleSet(
          TextAnalysis.tokens(col(textCol)), shingleN, 16)).as("sh"))
      .distinct()
      // lazy: feeds sizes AND both sides of the pair join, evaluated
      // once, materialized inside the consuming job
      .localCheckpoint(eager = false)
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = ss.join(ss.select(col("sh"), col("source").as("source_b")), Seq("sh"))
      .filter(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("source").as("source_a"), col("n").as("n_a")), Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("n").as("n_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        (col("n_shared").cast("double")
          / (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
  }

  def dedupCorpus(docs: DataFrame, pairs: DataFrame,
                  idCol: String = "doc_id"): DataFrame = {
    val losers = connectedComponents(pairs, idCol = idCol)
      .filter(col("comp") =!= col(idCol))
      .select(idCol)
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Per-source dedup burden — which sources the duplicate clusters
    * actually tax: for every source, its doc count, how many of its
    * docs the [[dedupCorpus]] policy would drop (non-representative
    * cluster members), and the drop rate. A source with an outlier
    * rate is a mirror/aggregator candidate ([[sourceOverlap]]'s
    * doc-level confirmation). Output
    * (source, n_docs, n_dropped, drop_rate).
    *
    * Scale shape: the loser set is bounded by the duplicate count;
    * the attribution is one left join + a source-keyed roll-up. */
  def dedupBurden(docs: DataFrame, pairs: DataFrame,
                  idCol: String = "doc_id",
                  sourceCol: String = "source"): DataFrame = {
    val losers = connectedComponents(pairs, idCol = idCol)
      .filter(col("comp") =!= col(idCol))
      .select(col(idCol)).withColumn("__d", lit(1L))
    docs.select(col(idCol), col(sourceCol).as("source"))
      .join(losers, Seq(idCol), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__d"), lit(0L))).as("n_dropped"))
      .withColumn("drop_rate", col("n_dropped").cast("double") / col("n_docs"))
  }

  /** [[dedupCorpus]] with a QUALITY-AWARE representative: per
    * duplicate cluster keep the member maximizing `scoreCol` (ties to
    * the smallest id), not the arbitrary minimum id — the
    * RefinedWeb/FineWeb policy, where dedup is also a chance to keep
    * the best-scored copy (cleanest mirror, least boilerplate-wrapped
    * crawl) of each duplicated page. `docs` must carry `scoreCol`.
    *
    * Scale shape: identical to [[dedupCorpus]] plus one aggregation
    * over the PAIRED membership only — the winner table is bounded by
    * the duplicate count, never corpus-sized, and joins back left-anti
    * (unpaired docs pass through untouched). The exact max-then-min-id
    * selection is two integer/double-exact steps, so it hash-checks
    * cross-engine. */
  def dedupCorpusBest(docs: DataFrame, pairs: DataFrame, scoreCol: String,
                      idCol: String = "doc_id"): DataFrame = {
    val comps = connectedComponents(pairs, idCol = idCol)
    val members = comps.join(docs.select(col(idCol), col(scoreCol)), Seq(idCol))
    val bestScore = members.groupBy(col("comp"))
      .agg(max(col(scoreCol)).as("__best"))
    val winners = members.join(bestScore, Seq("comp"))
      .filter(col(scoreCol) === col("__best"))
      .groupBy(col("comp")).agg(min(col(idCol)).as("__keep"))
    val losers = comps.join(winners, Seq("comp"))
      .filter(col(idCol) =!= col("__keep"))
      .select(idCol)
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Leakage-safe train/test split: hash-split by near-duplicate
    * CLUSTER, not by document, so two near-identical documents can
    * never straddle the train/test boundary (the contamination path a
    * plain per-id split leaves open — a test document whose near-dup
    * sits in train is a leaked answer, the reason eval decontamination
    * exists at all). Every document gets its component label (its own
    * id when unpaired), and [[TextAnalysis.trainTestSplit]]'s
    * deterministic md5-nibble rule is applied to the LABEL — same
    * stability contract (no RNG, re-runs and engines agree), same
    * ≈ trainNibbles/16 expected train share, but cluster-atomic.
    *
    * Shape at scale: the component map is bounded by the PAIRED
    * document count (broadcast-able when duplicates are a small
    * fraction of the corpus); the split itself is a narrow projection.
    * Output: docs' columns + (comp, split). */
  def clusterSafeSplit(docs: DataFrame, pairs: DataFrame,
                       trainNibbles: Int = 13,
                       idCol: String = "doc_id"): DataFrame = {
    val comp = connectedComponents(pairs, idCol = idCol)
    val labeled = docs.join(comp, Seq(idCol), "left")
      .withColumn("comp", coalesce(col("comp"), col(idCol)))
    TextAnalysis.trainTestSplit(labeled, "comp", trainNibbles)
  }

  /** Candidate-generation quality harness: precision/recall of the
    * two bucketed near-dup detectors (MinHash-LSH bands, SimHash
    * pigeonhole) against EXACT all-pairs Jaccard ground truth at
    * `threshold` — the measurement that says whether the band/bit
    * parameters are tuned for the corpus at hand, before a 100 TB run
    * silently over- or under-collapses it. The exact side is
    * quadratic BY DESIGN (the q27/q58 harness class): run it on a
    * bounded audit slice, never the production corpus.
    *
    * Output: one row per method —
    * (method, n_candidates, n_truth, tp, precision, recall), where
    * precision = tp/candidates (how much verification work is
    * wasted) and recall = tp/truth (what the buckets miss). Exact
    * longs; ratios are correctly-rounded doubles of exact counts. */
  def candidateQuality(docs: DataFrame, threshold: Double = 0.5,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val truth = jaccardPairs(docs, shingleN = 3, idCol, textCol)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b")).localCheckpoint(eager = false)
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    def metrics(cand: DataFrame, name: String) = {
      val c = cand.select(col("doc_a"), col("doc_b"))
        .localCheckpoint(eager = false)
      val nC = c.agg(count(lit(1)).as("n_candidates"))
      val nTp = c.join(truth, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("tp"))
      nC.crossJoin(broadcast(nTp)).crossJoin(broadcast(nT))
        .select(lit(name).as("method"), col("n_candidates"), col("n_truth"),
          col("tp"),
          // empty-set conventions, identical on both engines (Spark's
          // non-ANSI x/0 is NULL, DuckDB's is inf — neither compares):
          // no candidates → nothing falsely flagged → precision 1;
          // empty truth → nothing to find → recall 1
          when(col("n_candidates") === 0, lit(1.0))
            .otherwise(col("tp").cast("double") / col("n_candidates"))
            .as("precision"),
          when(col("n_truth") === 0, lit(1.0))
            .otherwise(col("tp").cast("double") / col("n_truth"))
            .as("recall"))
    }
    metrics(candidatePairs(lshBands(minhash(docs, k = 6, idCol = idCol,
        textCol = textCol), bands = 3, rowsPerBand = 2, idCol), idCol), "minhash_lsh")
      .unionByName(metrics(
        simhashNearDup(docs, maxHamming = 1, idCol, textCol), "simhash16"))
      .unionByName(metrics(
        simhashNearDup64(docs, maxHamming = 3, idCol, textCol), "simhash64"))
  }

  /** Duplicate-cluster size distribution — the dedup run's report
    * card: how many clusters of each size the pair set produced, and
    * how many documents each size class removes (`(size−1)·n` — every
    * cluster keeps one representative). A heavy tail here means a
    * boilerplate/mirror problem upstream; a spike at one size usually
    * means a template. Unpaired documents are excluded (size-1
    * clusters are the corpus minus the paired set).
    *
    * Two model-sized aggregations over the component labels (bounded
    * by the PAIRED document count, not the corpus). Output:
    * (cluster_size, n_clusters, docs_removed), exact longs. */
  def clusterSizeStats(pairs: DataFrame, idCol: String = "doc_id"): DataFrame =
    connectedComponents(pairs, idCol = idCol)
      .groupBy(col("comp")).agg(count(lit(1)).as("__size"))
      .groupBy(col("__size").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("docs_removed"))

  /** Portable 16-bit token hash: value of the first 4 hex nibbles of
    * md5(token), via position lookup — expressible identically in
    * ANSI SQL (no engine-specific hash function). */
  private[ext] def hash16(t: Column): Column =
    // conv(hex-prefix, 16, 10) computes exactly the old four-nibble
    // positional sum (md5 hex is lowercase [0-9a-f], so the base-16
    // parse is the same number) in ONE codegen'd call instead of four
    // instr+substring probes per token occurrence — this hash runs per
    // TOKEN in the logreg/DSIR/PSI feature paths, so its constant
    // factor is corpus-sized
    conv(substring(md5(t), 1, 4), 16, 10).cast("long")

  /** 16-bit SimHash over tokens: bit k of the fingerprint is set iff
    * the sum over tokens of ±1 (by bit k of the token hash, see
    * [[hash16]]) is ≥ 0. Computed per row by the native
    * `graft.functions.SimhashPack` expression — one compiled
    * digest-vote-pack loop inside whole-stage codegen (the composable
    * `aggregate`/`transform` form runs interpreted with a lambda frame
    * and 16 CASE branches per token). Narrow, zero shuffles; exploding
    * the token stream through a keyed group-by would shuffle many
    * times the corpus size for a per-document fingerprint. */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // zero-token docs produce no row (matching the explode-then-group
    // form and the GROUP BY oracle)
    docs.filter(size(TextAnalysis.tokens(col(textCol))) > 0)
      .select(col(idCol),
        graft.functions.SimhashPack(TextAnalysis.tokens(col(textCol)), 16).as("simhash"))
  }

  /** 64-bit SimHash — the production width (the 16-bit form has only
    * 65k distinct fingerprints, so unrelated documents collide once a
    * corpus passes ~10^5 docs; crawl-scale dedup literature uses
    * 64-bit fingerprints). Same token hash family (first 16 md5
    * nibbles, big-endian) and the same native codegen'd vote-pack
    * kernel; bit 63 set makes the value negative — two's complement,
    * so `bit_count(xor)` hamming is unaffected in Spark and in any
    * ANSI engine. */
  def simhash64(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.filter(size(TextAnalysis.tokens(col(textCol))) > 0)
      .select(col(idCol),
        graft.functions.SimhashPack(TextAnalysis.tokens(col(textCol)), 64).as("simhash"))

  /** Hamming distance between two simhash values (for near-dup
    * pairing): population count of the XOR — a single codegen'd
    * builtin. Width-agnostic: two's-complement bit counting makes it
    * correct for the 64-bit fingerprint's negative values too. */
  def hamming16(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** [[hamming16]] under its production-width name. */
  def hamming64(a: Column, b: Column): Column = hamming16(a, b)

  /** SimHash near-duplicate pairs within `maxHamming` bits, via bit
    * blocking (the classic simhash dedup construction): the 16-bit
    * fingerprint splits into `maxHamming + 1` contiguous blocks, and
    * two fingerprints within `maxHamming` differing bits must agree on
    * at least one whole block (pigeonhole). Candidates are generated
    * per (block index, block value) bucket — same join-free
    * bucket-expansion shape as [[candidatePairs]] — and the exact
    * hamming filter runs only within buckets, so the result is EXACT,
    * never all-pairs. Fewer blocks ⇒ wider blocks ⇒ more selective
    * buckets: maxHamming=1 gives 2 blocks × 8 bits = 256 bucket values
    * per block, quadratically fewer in-bucket candidates than nibble
    * blocking. (A production-size 64-bit simhash would use wider
    * blocks again; 16 bits keeps the fingerprint oracle-portable via
    * md5 nibbles.)
    *
    * `maxBucket` is the same mega-bucket guard as [[candidatePairs]]:
    * oversized (blk, v) buckets star-expand against the bucket minimum
    * (n−1 pairs, connectivity preserved for transitive dedup) instead
    * of the full n(n−1)/2. [[exactByContent]] remains the mandatory
    * pre-stage — identical docs share a fingerprint and belong in ONE
    * row before any similarity bucketing. With a cap the result is no
    * longer exhaustive within oversized buckets (pairs not involving
    * the minimum are dropped), so it stays opt-in. */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 1,
                     idCol: String = "doc_id", textCol: String = "text",
                     maxBucket: Int = Int.MaxValue): DataFrame =
    blockedNearDup(simhash(docs, idCol, textCol), 16, maxHamming, maxBucket)

  /** [[simhashNearDup]] at the production 64-bit width: pigeonhole
    * blocks over the [[simhash64]] fingerprint. maxHamming=3 gives 4
    * blocks × 16 bits — 65k bucket values per block, selective enough
    * that real-corpus buckets stay tiny (the Manku-Jain-Sarma
    * table-splitting construction, expressed as one explode +
    * group-by). Same exactness guarantee (pigeonhole: ≤ maxHamming
    * differing bits ⇒ some block agrees) and the same opt-in
    * mega-bucket star guard. */
  def simhashNearDup64(docs: DataFrame, maxHamming: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text",
                       maxBucket: Int = Int.MaxValue): DataFrame =
    blockedNearDup(simhash64(docs, idCol, textCol), 64, maxHamming, maxBucket)

  /** [[simhashNearDup64]]'s pigeonhole machinery over an ARBITRARY
    * precomputed 64-bit fingerprint frame (id, fingerprint) — the
    * text-free entry point: image dHashes
    * (`Multimodal.bmpDhash`), audio chroma hashes, any 64-bit
    * locality-sensitive fingerprint dedups through the same blocked
    * construction with the same exactness guarantee.
    *
    * Identical fingerprints are collapsed BEFORE banding (the
    * [[exactByContent]] pre-stage, applied at hash grain): exact-dup
    * media share a hash, and banding the raw rows would put every
    * copy of a popular image into the same (block, value) buckets —
    * a 10⁶-copy meme becomes a 10¹²-pair bucket expansion. Instead
    * the DISTINCT hashes band (bucket size = genuine hash
    * collisions, not copy counts), identical-hash groups emit their
    * hamming-0 pairs directly, and cross-hash matches expand back to
    * id pairs join-side — output-sized work, same exact pair set. */
  def hash64NearDupPairs(fp: DataFrame, maxHamming: Int = 3,
                         maxBucket: Int = Int.MaxValue): DataFrame = {
    val idC = fp.columns.head
    val f = fp.select(col(idC).as("id"), col(fp.columns(1)).as("simhash"))
    val groups = f.groupBy(col("simhash"))
      .agg(sort_array(collect_list(col("id"))).as("ids"),
        min(col("id")).as("rep"))
      // lazy: feeds within-pairs, banding AND the expand — one
      // evaluation, stored at first use
      .localCheckpoint(eager = false)
    val ids = col("ids")
    val within = groups.filter(size(ids) > 1)
      .select(explode(flatten(transform(ids, (a, i) =>
        transform(slice(ids, i + lit(2), size(ids) - i - 1),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("__p"))
      .select(col("__p.doc_a"), col("__p.doc_b"), lit(0L).as("hamming"))
    val hashPairs = blockedNearDup(
      groups.select(col("rep").as("id"), col("simhash")),
      64, maxHamming, maxBucket)
    val cross = hashPairs
      .join(groups.select(col("rep").as("doc_a"), col("ids").as("__ia")), Seq("doc_a"))
      .join(groups.select(col("rep").as("doc_b"), col("ids").as("__ib")), Seq("doc_b"))
      .select(col("hamming"), explode(col("__ia")).as("__a"), col("__ib"))
      .select(col("hamming"), col("__a"), explode(col("__ib")).as("__b"))
      .select(least(col("__a"), col("__b")).as("doc_a"),
        greatest(col("__a"), col("__b")).as("doc_b"), col("hamming"))
    within.unionByName(cross)
  }

  /** Shared pigeonhole-blocked near-dup core over a
    * (id, simhash) frame: split the `fpBits`-bit fingerprint into
    * `maxHamming + 1` contiguous blocks, bucket by (block index, block
    * value), expand candidate pairs inside buckets only, then run the
    * exact hamming filter. Block values are extracted with an unsigned
    * shift + mask so bit 63 of a 64-bit fingerprint (sign bit) needs
    * no special casing. */
  private def blockedNearDup(sh: DataFrame, fpBits: Int, maxHamming: Int,
                             maxBucket: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < fpBits,
      s"need 1..$fpBits blocks over $fpBits bits")
    val idCol = sh.columns.head
    val nBlocks = maxHamming + 1
    val widths = Array.fill(nBlocks)(fpBits / nBlocks)
    for (i <- 0 until fpBits % nBlocks) widths(i) += 1
    val offsets = widths.scanLeft(0)(_ + _)
    val blockCols = (0 until nBlocks).map { b =>
      struct(lit(b).as("blk"),
        shiftrightunsigned(col("simhash"), offsets(b))
          .bitwiseAND(lit((1L << widths(b)) - 1L)).as("v"))
    }
    val blocks = sh
      .select(col(idCol).as("id"), col("simhash"), explode(array(blockCols: _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.blk").as("blk"), col("bk.v").as("v"))
    // materialize the sorted bucket ONCE per row: inlining array_sort
    // into the pair-expansion lambda re-evaluates the sort for every
    // outer element (O(n²·log n) per bucket — ruinous on the skewed
    // buckets short/templated docs hash into)
    val buckets = blocks.groupBy(col("blk"), col("v"))
      .agg(collect_list(struct(col("id"), col("simhash").as("h"))).as("__raw"))
      .filter(size(col("__raw")) > 1)
      .select(array_sort(col("__raw")).as("__xs"))
    val sorted = col("__xs")
    def pairStruct(a: Column, b: Column): Column =
      struct(a.getField("id").as("doc_a"), a.getField("h").as("h_a"),
        b.getField("id").as("doc_b"), b.getField("h").as("h_b"))
    val full = flatten(transform(sorted, (a, i) =>
      transform(slice(sorted, i + lit(2), size(sorted) - i - 1),
        b => pairStruct(a, b))))
    val star = transform(slice(sorted, lit(2), size(sorted) - 1),
      b => pairStruct(element_at(sorted, 1), b))
    val pairs =
      if (maxBucket == Int.MaxValue) full
      else when(size(sorted) > maxBucket, star).otherwise(full)
    // hamming filter BEFORE the dedup shuffle: the pigeonhole blocks
    // produce each qualifying pair up to nBlocks times, so distinct is
    // required — but only pairs that survive the radius need to travel
    buckets.select(explode(pairs).as("__p"))
      .select(col("__p.doc_a"), col("__p.doc_b"),
        hamming16(col("__p.h_a"), col("__p.h_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact substring-level cross-document deduplication at CDC-chunk
    * granularity — the "deduplicating training data makes language
    * models better" operator (Lee et al. 2022, arXiv:2107.06499):
    * long EXACT token spans repeated across documents (license
    * blocks, syndicated paragraphs, quoted templates) are removed
    * from every occurrence but the first, while the surrounding
    * unique text is kept. Span discovery rides on content-defined
    * chunking (`TextAnalysis.contentChunks`): chunk boundaries are
    * content-addressed, so a span shared by two documents yields the
    * same interior chunks (hence the same md5 chunk hashes) in both,
    * regardless of position — the suffix-array machinery of the paper
    * replaced by a hash join.
    *
    * A chunk occurrence is removed when its hash (over ≥ `minTokens`
    * tokens) appears in ≥ `minDocs` DISTINCT documents and the
    * occurrence is not the canonical first one (minimum
    * (doc id, first_pos) — "keep first occurrence"). Documents
    * reassemble from their surviving token positions.
    *
    * **Granularity bound (the contract's deliberate deviation from
    * the paper's suffix-array exactness):** removal happens at whole
    * CDC chunks, so a repeated span is caught EXACTLY where it
    * contains at least one complete content-defined chunk of
    * ≥ `minTokens` tokens. Three consequences, all by design: (1) a
    * repeat shorter than `minTokens` can never be removed; (2) a
    * repeat that straddles chunk boundaries sheds only its complete
    * interior chunks — the partial head/tail fragments (each shorter
    * than one chunk interval) survive in the text; (3) a repeat lying
    * strictly inside one long chunk (no interior boundary) is missed
    * entirely. Because boundaries are content-addressed, the expected
    * uncaught fragment per occurrence is O(chunk interval) =
    * O(16^`boundaryNibbles`) tokens regardless of repeat length — the
    * bulk of any long repeat is always removed. Exact-span refinement
    * would need pairwise doc alignment (the paper's suffix array), a
    * different cost class than this hash join.
    *
    * Scale shape: the frequency table is keyed by the 32-hex chunk
    * hash, NEVER by text — the shuffle carries (hash, id, pos) rows.
    * One group-by on the hash, one join back on the hash, one keyed
    * collapse of removed spans per doc; reassembly is a narrow
    * per-row mask over token positions (O(tokens · removed spans per
    * doc), and docs with nothing removed pay an empty-array probe).
    * Returns (idCol, clean_text, n_removed) — `clean_text` is the
    * space-rejoined surviving tokens, `n_removed` the count of
    * removed tokens. */
  def removeRepeatedSpans(docs: DataFrame, minTokens: Int = 8, minDocs: Long = 2,
                          shingleN: Int = 3, boundaryNibbles: Int = 1,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val occ = TextAnalysis.contentChunks(docs, shingleN, boundaryNibbles,
        idCol, textCol)
      .filter(col("n_tokens") >= minTokens)
    val repeated = occ.groupBy(col("chunk_hash"))
      .agg(countDistinct(col(idCol)).as("__nd"),
        min(struct(col(idCol).as("__d"), col("first_pos").as("__p"))).as("__first"))
      .filter(col("__nd") >= minDocs)
    val removedSpans = occ.join(repeated, Seq("chunk_hash"))
      .filter(!(col(idCol) === col("__first.__d") &&
        col("first_pos") === col("__first.__p")))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("first_pos"), col("n_tokens"))).as("__rm"))
    val toks = TextAnalysis.tokens(col(textCol))
    val rm = coalesce(col("__rm"),
      array().cast("array<struct<first_pos:bigint,n_tokens:bigint>>"))
    // NB: sequence(1, 0) yields a DESCENDING [1, 0] — empty docs must
    // be special-cased (same guard as `shingles`)
    val keptPos = when(size(toks) === 0, array().cast("array<int>"))
      .otherwise(filter(sequence(lit(1), size(toks)), p =>
        !exists(rm, s => p >= s.getField("first_pos") &&
          p < s.getField("first_pos") + s.getField("n_tokens"))))
    docs.join(removedSpans, Seq(idCol), "left")
      .select(col(idCol),
        concat_ws(" ", transform(keptPos, p => element_at(toks, p)))
          .as("clean_text"),
        coalesce(aggregate(rm, lit(0L), (acc, s) =>
          acc + s.getField("n_tokens")), lit(0L)).as("n_removed"))
  }
}
