package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`ArrayType(FloatType)`) — SURVEY.md §2.11.
  *
  * - `cosineTopK` is the exact baseline: broadcast the (small) query
  *   set, compute the dot product per (query, candidate) with a
  *   sequential double fold (deterministic, bit-identical to a scalar
  *   loop), rank per query. Cost O(|Q|·N) — fine when |Q| is small,
  *   the 100 TB scan is embarrassingly parallel.
  * - `signBuckets`/`annTopK` is the scale path: random-hyperplane LSH
  *   with a hash-seeded (RNG-free, reproducible) plane family; only
  *   same-bucket candidates are scored, turning O(|Q|·N) into
  *   O(|Q|·N/2^planes) per probe.
  */
object Similarity {

  /** Dot product of two array columns in double precision — the native
    * codegen'd expression (graft.functions.DotProduct). Sequential
    * left-fold evaluation order: deterministic and engine-portable. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** The composable higher-order-function form (interpreted; kept as
    * the reference implementation [[dot]] is tested against). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; equals `dot` when embeddings are pre-normalized. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Exact top-k neighbors for each query vector. `queries` and
    * `candidates` both carry (idCol, vecCol); output
    * (query_id, neighbor_id, sim, rank). Ties broken by neighbor id —
    * fully deterministic. */
  def cosineTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 normalized: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val simCol = if (normalized) dot(col("q_vec"), col("c_vec"))
                 else cosine(col("q_vec"), col("c_vec"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), simCol.as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for retrieval/contrastive training
    * (Karpukhin et al. 2020, DPR): for each query vector, the top-k
    * most-COSINE-SIMILAR vectors carrying a DIFFERENT label — the
    * near-misses that teach a bi-encoder its decision boundary, where
    * random negatives teach it nothing. The query set is the batch
    * being mined (bounded, broadcast); the label-inequality join is
    * the same intended broadcast-nested-loop scan as [[cosineTopK]]
    * (|Q|·N, query side broadcast, corpus side streams) — swap the
    * corpus side for an [[ivfQuery]] shortlist when N stops fitting a
    * scan. Output: (query_id, neighbor_id, neg_label, sim, rank). */
  def hardNegatives(emb: DataFrame, queryIds: Seq[Long], k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val q = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        col(labelCol).as("__ql"))
    val c = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      col(labelCol).as("neg_label"))
    val scored = c.join(broadcast(q), col("__ql") =!= col("neg_label"))
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        cosine(col("__qv"), col("__cv")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Symmetric int8 quantization of an embedding column — the storage
    * form a 100 TB vector corpus actually ships (4× smaller than
    * float32, dot products in integer SIMD). Per vector: `scale =
    * max(|v|)/127`, `q_i = floor(v_i / scale)` ∈ [-127, 127] (floor,
    * not round: round's half-up/half-even tie-break differs across
    * engines, floor cannot tie). All-zero vectors quantize to zeros
    * with scale 0.
    *
    * Narrow per-row array expressions, zero shuffles. Output is
    * comparator-friendly scalars per vector: the scale, the component
    * sum, a position-weighted checksum (pins every component), and the
    * worst reconstruction error `max |v_i − q_i·scale|`. */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val scale = (array_max(transform(v, x => abs(x))) / 127.0).as("scale")
    emb.select(col(idCol), v.as("__v"), scale)
      .select(col(idCol), col("scale"), col("__v"),
        when(col("scale") === 0.0, transform(col("__v"), _ => lit(0L)))
          .otherwise(transform(col("__v"), x => floor(x / col("scale")).cast("long")))
          .as("__q"))
      .select(col(idCol), col("scale"),
        aggregate(col("__q"), lit(0L), (a, x) => a + x).as("q_sum"),
        aggregate(zip_with(col("__q"),
            sequence(lit(1L), size(col("__q")).cast("long")), (q, i) => q * i),
          lit(0L), (a, x) => a + x).as("q_checksum"),
        aggregate(zip_with(col("__v"), col("__q"),
            (x, q) => abs(x - q.cast("double") * col("scale"))),
          lit(0.0), (a, x) => greatest(a, x)).as("max_err"))
  }

  /** Label-centroid outlier detection — the embedding-space data
    * cleaner: for every vector, the cosine to its OWN label's mean
    * vector; vectors below `minCosine` are flagged as likely
    * mislabeled/noisy (the filter CLIP-style pipelines run before
    * contrastive training — a caption whose embedding sits far from
    * its class center is more often wrong than informative).
    *
    * The centroid is the q46 exact-integer mean (per-(label, pos)
    * `sum(floor(v·2²⁴))` over a count — partition-order-free, so the
    * same centroid bit-for-bit in any engine), reassembled into an
    * ordered array and joined back broadcast (the centroid table is
    * labels × dim, KB-sized at any corpus scale). The cosine itself is
    * the codegen'd [[dot]] over doubles in array order — one narrow
    * pass over the vectors, one shuffle total (the centroid group-by).
    *
    * Output: (idCol, labelCol, cos_centroid, is_outlier). */
  /** Per-label exact-integer mean centroids assembled into ordered
    * arrays — the q46 construction ([[CentroidGrid]] sums keep it
    * partition-order-free; the array_sort on (pos, m) structs makes
    * the collect_list assembly deterministic). Shared by
    * [[centroidOutliers]] and [[labelConfusion]]. */
  private def labelCentroids(emb: DataFrame, vecCol: String,
                             labelCol: String): DataFrame =
    emb
      .select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(labelCol), col("pos"))
      .agg((sum(floor(col("v").cast("double") * CentroidGrid).cast("long"))
        .cast("double") / count(lit(1)) / CentroidGrid).as("m"))
      .groupBy(col(labelCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x("m")).as("__cent"))

  def centroidOutliers(emb: DataFrame, minCosine: Double,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       labelCol: String = "label"): DataFrame = {
    val cent = labelCentroids(emb, vecCol, labelCol)
    val v = transform(col(vecCol), x => x.cast("double"))
    emb.select(col(idCol), col(labelCol), v.as("__v"))
      .join(broadcast(cent), Seq(labelCol))
      .select(col(idCol), col(labelCol),
        cosine(col("__v"), col("__cent")).as("cos_centroid"))
      .withColumn("is_outlier", col("cos_centroid") < minCosine)
  }

  /** Label-confusion diagnostics: pairwise cosine between LABEL
    * CENTROIDS — which classes sit close in embedding space (and will
    * therefore confuse a classifier / pollute [[hardNegatives]] with
    * false negatives). The companion report to [[centroidOutliers]]:
    * that one finds bad VECTORS, this one finds entangled LABELS.
    *
    * Everything after the one centroid aggregation is labels² rows —
    * KB-sized at any corpus scale; the pairing is a broadcast cross of
    * the centroid table against itself filtered to a < b (the
    * model-sized q39-class cross, |labels|², never data-sized).
    * Output: (label_a, label_b, cos) — the q46 exact-integer
    * centroids, cosine in array order. */
  def labelConfusion(emb: DataFrame, vecCol: String = "embedding",
                     labelCol: String = "label"): DataFrame = {
    val cent = labelCentroids(emb, vecCol, labelCol)
    cent.select(col(labelCol).as("label_a"), col("__cent").as("__ca"))
      .crossJoin(broadcast(cent.select(col(labelCol).as("label_b"),
        col("__cent").as("__cb"))))
      .filter(col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        cosine(col("__ca"), col("__cb")).as("cos"))
  }

  /** Deterministic pseudo-random hyperplane component: plane `p`,
    * dimension `d` → a value in [-7.5, 7.5] derived from md5 — no RNG,
    * identical across runs/executors. */
  private def planeComponent(p: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane:$p:$d".getBytes("UTF-8"))
    ((hex(0) & 0xff) % 16) - 7.5
  }

  /** The full deterministic plane family as plain doubles — public so a
    * SQL oracle can inline the identical literals and reproduce
    * [[signBuckets]] exactly. */
  def planeFamily(planes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until planes).map(p => (0 until dim).map(d => planeComponent(p, d)))

  /** Sign-pattern LSH bucket id for each vector: bit `p` = sign of
    * ⟨v, plane_p⟩. 2^planes buckets; cosine-similar vectors collide
    * with high probability. */
  def signBuckets(df: DataFrame, planes: Int, dim: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planeLits = (0 until planes).map { p =>
      array((0 until dim).map(d => lit(planeComponent(p, d))): _*)
    }
    val bucket = (0 until planes).map { p =>
      when(dot(col(vecCol), planeLits(p)) >= 0, math.pow(2, p).toLong).otherwise(0L)
    }.reduce(_ + _)
    df.withColumn("bucket", bucket)
  }

  /** ANN top-k: score only same-bucket candidates. Recall < 1 by
    * construction (LSH); increase `planes` for selectivity, or probe
    * multiple buckets for recall. */
  def annTopK(df: DataFrame, queryIds: Seq[Long], k: Int, planes: Int, dim: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucketed = signBuckets(df, planes, dim, idCol, vecCol)
    val q = bucketed.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), col("bucket"))
    val c = bucketed.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), col("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("q_vec"), col("c_vec")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Margin-based bitext mining (the LASER/CCMatrix criterion):
    * candidate translation pairs from SHARED sign-LSH buckets (both
    * sides bucketed with the same deterministic plane family —
    * cross-lingual encoders map translations nearby, so bucket
    * collision is the recall knob), cosine-scored, then the margin
    * criterion `cos(x,y) / ((avgTopK(x) + avgTopK(y))/2)` de-biases
    * hubness (a vector globally close to everything must beat its
    * own neighborhood, not just a flat threshold). Output is ONE row
    * per source — its best target by margin (ties break on target
    * id), the bucket-bounded candidate count, and the `accepted`
    * decision — DECISIONS, not raw margins, keep the hashed contract
    * float-wobble-free (the q150/q163 rule); margins live only
    * inside the ranking. Never all-pairs: the candidate set is
    * bucket-bounded exactly like [[annTopK]]; two keyed window
    * passes (src grain, tgt grain), no global sort. */
  def bitextMine(src: DataFrame, tgt: DataFrame, planes: Int, dim: Int,
                 k: Int = 4, threshold: Double = 1.05,
                 srcIdCol: String = "src_id", tgtIdCol: String = "tgt_id",
                 vecCol: String = "embedding"): DataFrame = {
    val sb = signBuckets(src, planes, dim, srcIdCol, vecCol)
      .select(col(srcIdCol), col(vecCol).as("__sv"), col("bucket"))
    val tb = signBuckets(tgt, planes, dim, tgtIdCol, vecCol)
      .select(col(tgtIdCol), col(vecCol).as("__tv"), col("bucket"))
    val cand = sb.join(tb, "bucket")
      .select(col(srcIdCol), col(tgtIdCol),
        cosine(col("__sv"), col("__tv")).as("__sim"))
    val wS = Window.partitionBy(col(srcIdCol))
      .orderBy(col("__sim").desc, col(tgtIdCol).asc)
    val wT = Window.partitionBy(col(tgtIdCol))
      .orderBy(col("__sim").desc, col(srcIdCol).asc)
    val ranked = cand.withColumn("__rs", row_number().over(wS))
      .withColumn("__rt", row_number().over(wT))
    val denS = ranked.filter(col("__rs") <= k)
      .groupBy(srcIdCol).agg(avg("__sim").as("__ds"))
    val denT = ranked.filter(col("__rt") <= k)
      .groupBy(tgtIdCol).agg(avg("__sim").as("__dt"))
    val margins = ranked
      .join(denS, Seq(srcIdCol)).join(denT, Seq(tgtIdCol))
      .withColumn("__margin",
        col("__sim") / ((col("__ds") + col("__dt")) / 2.0))
    val wBest = Window.partitionBy(col(srcIdCol))
      .orderBy(col("__margin").desc, col(tgtIdCol).asc)
    margins
      .withColumn("__nc", count(lit(1)).over(
        Window.partitionBy(col(srcIdCol))))
      .withColumn("__rb", row_number().over(wBest))
      .filter(col("__rb") === 1)
      .select(col(srcIdCol), col(tgtIdCol).as("best_tgt_id"),
        col("__nc").as("n_cands"),
        (col("__margin") >= threshold).as("accepted"))
  }

  /** A built IVF index: the corpus with its coarse-quantizer cell id
    * (`__cell`) attached, plus the centroid table
    * `(__cell, __centroid)`. Build once, query many — and persist with
    * [[ivfWrite]] so probed-cell reads become partition-pruned scans. */
  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame,
                            quantizer: String = IvfIndex.Trained)

  object IvfIndex {
    /** Quantizer kinds — persisted as a marker so the append paths
      * cannot silently mix refresh semantics (a deterministic append
      * would REPLACE trained centroids with grid means; a trained add
      * would freeze a quantizer that expects exact refresh). */
    val Trained = "trained"
    val Deterministic = "deterministic"
  }

  /** Deterministic bounded training sample for the KMeans quantizer:
    * the `cap` hash-smallest rows (a pseudo-random-but-reproducible
    * subset, computed as a map-side partial top-k — never a full
    * sort). An ABSOLUTE row bound, not a fraction: a fraction of a
    * 100 TB corpus is still terabytes into `KMeans.fit`, while
    * centroid quality saturates at a few hundred rows per cell. */
  private[ext] def ivfTrainSample(vecs: DataFrame, cap: Int,
                                  idCol: String): DataFrame =
    vecs.orderBy(pmod(hash(col(idCol)), lit(1000000007)), col(idCol)).limit(cap)

  /** Build the IVF coarse quantizer: KMeans (fixed seed —
    * reproducible) partitions vectors into `nLists` cells. The
    * quantizer trains on a deterministic hash-sample bounded to
    * `maxTrainRows` rows (0 ⇒ max(10000, 256·nLists)): centroid
    * quality needs only a representative subset, not the full corpus
    * (at 100 TB, training on everything would dominate the build).
    * Cell assignment is a narrow map over the corpus. */
  def ivfBuild(df: DataFrame, nLists: Int,
               idCol: String = "vec_id", vecCol: String = "embedding",
               maxTrainRows: Int = 0): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = df.select(col(idCol), col(vecCol),
      array_to_vector(col(vecCol)).as("__features"))
    val cap = if (maxTrainRows > 0) maxTrainRows else math.max(10000, 256 * nLists)
    val trainSet = ivfTrainSample(vecs, cap, idCol)
    // random init, not kmeans||: the parallel init costs several extra
    // distributed passes over the sample and a coarse quantizer's cells
    // converge the same under Lloyd iterations (FAISS trains its IVF
    // quantizer exactly this way); seed is fixed either way
    val model = new KMeans().setK(nLists).setSeed(42L)
      .setFeaturesCol("__features").setPredictionCol("__cell")
      .setInitMode("random")
      .setMaxIter(10)
      .fit(trainSet)
    val assigned = model.transform(vecs).drop("__features")
    val spark = df.sparkSession
    import spark.implicits._
    val centDf = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("__cell", "__centroid")
    IvfIndex(assigned, centDf, IvfIndex.Trained)
  }

  /** Build an IVF index with a DETERMINISTIC coarse quantizer: cells
    * are the sign-LSH bucket ids of [[signBuckets]] (md5-derived plane
    * literals — engine-portable), and centroids are per-cell
    * 2^24-grid-quantized means (exact integer sums: partition-order
    * independent and bit-reproducible in any SQL engine — the q46
    * centroid trick). Unlike the KMeans quantizer ([[ivfBuild]]),
    * every stage of this pipeline — build → [[ivfWrite]] (partitioned
    * by cell) → [[ivfRead]] → partition-pruned [[ivfQuery]] probe — is
    * hash-checkable against a SQL oracle.
    *
    * Trade: 2^planes halfspace-intersection cells instead of learned
    * Voronoi cells, so recall per probe is lower than a trained
    * quantizer. Use it when auditability outranks recall, or as the
    * bootstrap quantizer while KMeans trains; [[ivfBuild]] remains the
    * quality path (its contract is the recall harness, q58). */
  def ivfBuildDeterministic(df: DataFrame, planes: Int, dim: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): IvfIndex = {
    val assigned = signBuckets(df, planes, dim, idCol, vecCol)
      .withColumn("__cell", col("bucket").cast("int")).drop("bucket")
    IvfIndex(assigned, deterministicCentroids(assigned, vecCol),
      IvfIndex.Deterministic)
  }

  /** 2^24 grid: full float mantissa — per-component long sums of
    * `floor(x·2^24)` stay exact for any corpus that fits in a long. */
  private val CentroidGrid = 16777216.0

  /** Per-(cell, position) exact-integer centroid partials: the grid
    * long sums and row counts [[centroidsFromPartials]] divides at the
    * end. Long sums are associative and exact, so partials computed
    * over disjoint row sets MERGE BY ADDITION into exactly the
    * partials of the union — the property that makes persisted-index
    * centroid maintenance O(batch) instead of O(corpus)
    * ([[ivfAppendWrite]] merges the batch's partials into a persisted
    * side table rather than re-aggregating the corpus). */
  private[ext] def centroidPartials(assigned: DataFrame,
                               vecCol: String): DataFrame =
    assigned
      .select(col("__cell"), posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .groupBy(col("__cell"), col("__pos"))
      .agg(sum(floor(col("__x").cast("double") * CentroidGrid).cast("long"))
        .as("__sum"),
        count(lit(1)).as("__cnt"))

  /** Divide partials into per-cell mean-centroid arrays. The division
    * happens ONCE, over total sums — so centroids derived from merged
    * partials are bit-identical to a full re-aggregation. */
  private def centroidsFromPartials(partials: DataFrame): DataFrame =
    partials
      .select(col("__cell"), col("__pos"),
        (col("__sum").cast("double") / col("__cnt") / CentroidGrid).as("__m"))
      .groupBy(col("__cell"))
      .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__m")))),
        s => s.getField("__m")).as("__centroid"))

  /** Per-cell 2^24-grid-quantized mean centroids over an assigned
    * corpus — a pure exact-integer aggregate of the rows, so the same
    * rows give the same centroids no matter how they were accumulated
    * (one build or build + appends). */
  private def deterministicCentroids(assigned: DataFrame,
                                     vecCol: String): DataFrame =
    centroidsFromPartials(centroidPartials(assigned, vecCol))

  /** Append a batch to a deterministic-quantizer IVF index WITHOUT
    * touching existing assignments: sign-plane cell assignment is
    * per-row and corpus-independent, so the batch's cells are exactly
    * what a full rebuild would give, and the refreshed centroids are
    * the same exact-integer aggregate — `ivfAppendDeterministic(
    * build(A), B) ≡ build(A ∪ B)`, bit for bit (the contract the spec
    * asserts). This is the ANN side of the incremental-ingest story
    * (`Dedup.incrementalCandidatePairs` for text): the serving index
    * absorbs tomorrow's crawl without re-reading, re-assigning, or
    * re-writing today's corpus. */
  def ivfAppendDeterministic(index: IvfIndex, batch: DataFrame,
                             planes: Int, dim: Int,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): IvfIndex = {
    val newAssigned = signBuckets(batch, planes, dim, idCol, vecCol)
      .withColumn("__cell", col("bucket").cast("int")).drop("bucket")
    require(index.quantizer == IvfIndex.Deterministic,
      s"ivfAppendDeterministic needs a deterministic-quantizer index, got '${index.quantizer}' — use ivfAppendTrained")
    val assigned = index.assigned.unionByName(newAssigned)
    IvfIndex(assigned, deterministicCentroids(assigned, vecCol),
      IvfIndex.Deterministic)
  }

  // ------------------------------------------------------------------
  // Persisted side-table layout: the index-metadata tables — centroid
  // PARTIALS (nLists·dim rows), CENTROIDS (nLists rows) and the
  // QUANTIZER-KIND marker (1 row) — ride in ONE parquet dataset,
  // `$path/meta`, discriminated by a `side` column. The old layout
  // wrote them as three separate datasets, paying three commit rounds
  // (job + task + output-commit rename) per lifecycle operation for
  // kilobyte tables (guide §6: small-file/commit cost). Tombstones
  // stay their own APPEND-ONLY dataset: ivfDeleteWrite must be
  // O(batch) and must not rewrite anything. The on-disk layout is
  // internal — the read-back query results are the contract.
  // ------------------------------------------------------------------

  private def hPath(spark: org.apache.spark.sql.SparkSession,
                    path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pathExists(spark: org.apache.spark.sql.SparkSession,
                     path: String): Boolean =
    hPath(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** Does `path` hold a persisted index? A torn one — a corpus whose
    * `meta` is gone — counts, so an append to it fails loudly in
    * [[requireMeta]] instead of overwriting the corpus with a fresh
    * build. */
  private[graft] def ivfIndexExists(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    pathExists(spark, s"$path/meta") || pathExists(spark, s"$path/meta.prev") ||
      pathExists(spark, s"$path/assigned")

  /** The index's `meta` dataset — or `meta.prev`, where a crash between
    * [[writeMeta]]'s two renames left the committed one. With neither,
    * the index is torn: its quantizer kind is unknown, so nothing may
    * guess it and rewrite the centroids. */
  private def requireMeta(spark: org.apache.spark.sql.SparkSession,
                          path: String): String = {
    val meta = s"$path/meta"
    if (pathExists(spark, meta)) meta
    else if (pathExists(spark, s"$meta.prev")) s"$meta.prev"
    else throw new IllegalStateException(s"IVF index at $path has no meta " +
      s"dataset ($meta): its partials, centroids and quantizer kind are " +
      "lost; rebuild the index")
  }

  /** The three side tables as one meta-row stream (side, __cell,
    * __pos, __sum, __cnt, __centroid, q). */
  private def metaRows(partials: DataFrame, cents: DataFrame,
                       kind: String): DataFrame = {
    val spark = partials.sparkSession
    partials.select(lit("partials").as("side"),
        col("__cell").cast("int").as("__cell"),
        col("__pos").cast("int").as("__pos"),
        col("__sum").cast("bigint").as("__sum"),
        col("__cnt").cast("bigint").as("__cnt"),
        lit(null).cast("array<double>").as("__centroid"),
        lit(null).cast("string").as("q"))
      .unionByName(cents.select(lit("centroid").as("side"),
        col("__cell").cast("int").as("__cell"),
        lit(null).cast("int").as("__pos"),
        lit(null).cast("bigint").as("__sum"),
        lit(null).cast("bigint").as("__cnt"),
        col("__centroid").cast("array<double>").as("__centroid"),
        lit(null).cast("string").as("q")))
      .unionByName(spark.range(1).select(lit("quantizer").as("side"),
        lit(null).cast("int").as("__cell"),
        lit(null).cast("int").as("__pos"),
        lit(null).cast("bigint").as("__sum"),
        lit(null).cast("bigint").as("__cnt"),
        lit(null).cast("array<double>").as("__centroid"),
        lit(kind).as("q")))
  }

  /** Called with the step number after each step of [[writeMeta]]
    * but the last; tests throw from it to crash the write there. */
  @volatile private[ext] var afterMetaStep: Int => Unit = _ => ()

  /** ONE commit for all three side tables, swapped in by renames so
    * that a crash at any step leaves the old or the new `meta`
    * readable, never neither:
    *  1. the rows land in `meta.next`; the current `meta` stays in
    *     place, so rows read from it need no materializing first;
    *  2. a stale `meta.prev` (a crash after step 4 left it) goes;
    *  3. `meta` moves to `meta.prev`, where [[requireMeta]] finds it;
    *  4. `meta.next` moves to `meta`;
    *  5. `meta.prev` goes.
    * After a crash between 3 and 4, `meta` is missing and `meta.prev`
    * holds the committed rows; the next write skips 2 and 3. */
  private def writeMeta(path: String, partials: DataFrame,
                        cents: DataFrame, kind: String): Unit = {
    val fs = hPath(partials.sparkSession, path)
    def at(name: String) = new org.apache.hadoop.fs.Path(s"$path/$name")
    def rename(from: String, to: String): Unit =
      if (!fs.rename(at(from), at(to)))
        throw new java.io.IOException(s"cannot rename $path/$from to $path/$to")
    metaRows(partials, cents, kind).coalesce(1).write.mode("overwrite")
      .parquet(s"$path/meta.next")
    afterMetaStep(1)
    if (fs.exists(at("meta"))) {
      fs.delete(at("meta.prev"), true)
      afterMetaStep(2)
      rename("meta", "meta.prev")
      afterMetaStep(3)
    }
    rename("meta.next", "meta")
    afterMetaStep(4)
    fs.delete(at("meta.prev"), true)
  }

  /** Persisted centroid partials. */
  private[graft] def readPartials(spark: org.apache.spark.sql.SparkSession,
                                  path: String): DataFrame =
    Tables.parquet(spark, requireMeta(spark, path))
      .filter(col("side") === "partials")
      .select(col("__cell"), col("__pos"), col("__sum"), col("__cnt"))

  /** Persisted centroids. */
  private[graft] def readCentroids(spark: org.apache.spark.sql.SparkSession,
                                   path: String): DataFrame =
    Tables.parquet(spark, requireMeta(spark, path))
      .filter(col("side") === "centroid")
      .select(col("__cell"), col("__centroid"))

  /** Append a batch to a PERSISTED deterministic IVF index: the batch
    * rows land in their cell partitions via parquet append (existing
    * cell files are untouched), and the centroid refresh MERGES the
    * batch's exact-integer partials into the persisted partials side
    * table — every step is O(batch); the pre-existing corpus under
    * `path/assigned` is never read or rewritten. Because the partials
    * are associative long sums ([[centroidPartials]]) and the mean
    * division happens once over the merged totals
    * ([[centroidsFromPartials]]), the refreshed centroids are
    * bit-identical to a full rebuild's. After the call, [[ivfRead]]
    * sees exactly what [[ivfWrite]] of a full rebuild would have
    * produced. */
  def ivfAppendWrite(path: String, batch: DataFrame, planes: Int, dim: Int,
                     filesPerCell: Int = 1, idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    val kind = quantizerKind(spark, path)
    require(kind == IvfIndex.Deterministic,
      s"ivfAppendWrite refreshes centroids as exact grid means — calling it on a " +
        s"'$kind'-quantizer index would replace the trained centroids; " +
        "use ivfAppendWriteTrained")
    val newAssigned = signBuckets(batch, planes, dim, idCol, vecCol)
      .withColumn("__cell", col("bucket").cast("int")).drop("bucket")
    val clustered =
      if (filesPerCell <= 1) newAssigned.repartition(col("__cell"))
      else newAssigned.repartition(col("__cell"),
        pmod(hash(newAssigned.columns.map(col): _*), lit(filesPerCell)))
    clustered.write.mode("append").partitionBy("__cell")
      .parquet(s"$path/assigned")
    val base = readPartials(spark, path)
    // merged is nLists·dim rows, consumed twice in the meta write (as
    // rows + the centroid derivation) — the lazy checkpoint evaluates
    // it once
    val merged = base.unionByName(centroidPartials(newAssigned, vecCol))
      .groupBy(col("__cell"), col("__pos"))
      .agg(sum(col("__sum")).as("__sum"), sum(col("__cnt")).as("__cnt"))
      .localCheckpoint(eager = false)
    writeMeta(path, merged, centroidsFromPartials(merged), kind)
  }

  /** Persist an IVF index: the assigned corpus lands PARTITIONED BY
    * cell id, so a query probing `nProbe` of `nLists` cells reads only
    * those directories (partition pruning) — the property that makes
    * IVF pay at 100 TB. Centroids are a small side table.
    *
    * The corpus is clustered on the cell id before the write:
    * unclustered, every write task emits a sliver into every cell
    * directory (tasks × cells tiny files — a file-listing and
    * open-cost tax on every probe). `filesPerCell` > 1 splays each
    * cell over that many deterministic (content-hashed) subfiles —
    * raise it when cells outgrow a single task's comfortable output
    * (at 100 TB each cell holds corpus/nLists bytes).
    *
    * Also persists the per-(cell, pos) exact-integer centroid
    * partials (nLists·dim rows, in `path/meta`) so
    * [[ivfAppendWrite]]'s centroid refresh merges the batch's
    * partials instead of re-scanning the corpus. */
  def ivfWrite(index: IvfIndex, path: String, filesPerCell: Int = 1,
               vecCol: String = "embedding"): Unit = {
    val a = index.assigned
    val clustered =
      if (filesPerCell <= 1) a.repartition(col("__cell"))
      else a.repartition(col("__cell"),
        pmod(hash(a.columns.map(col): _*), lit(filesPerCell)))
    clustered.write.mode("overwrite")
      .partitionBy("__cell").parquet(s"$path/assigned")
    // ONE partials aggregation serves both side tables: a
    // deterministic index's centroids ARE centroidsFromPartials of
    // exactly these partials (the associativity contract
    // ivfCompactDeletes relies on), so deriving them from the
    // checkpointed nLists·dim partials saves a full posexplode
    // re-aggregation of the corpus at any scale — the old form
    // scanned the assigned lineage three times (write, centroids,
    // partials). A trained index keeps its KMeans centers verbatim.
    // The checkpoint is LAZY: the partials materialize inside the
    // single meta-write job (no separate up-front job) and the
    // centroid subtree reuses the stored blocks.
    val partials = centroidPartials(a, vecCol).localCheckpoint(eager = false)
    val cents =
      if (index.quantizer == IvfIndex.Deterministic)
        centroidsFromPartials(partials)
      else index.centroids
    writeMeta(path, partials, cents, index.quantizer)
  }

  /** Tombstone-delete vectors from a persisted IVF index: the ids
    * land in a `path/tombstones` side table under the index's id
    * column name — O(batch), no corpus read, no file rewrite (the
    * FAISS `remove_ids` economics, made lazy). [[ivfRead]] anti-joins
    * tombstones into every probe, so deleted vectors stop being
    * served IMMEDIATELY; the physical rewrite is deferred to
    * [[ivfCompactDeletes]], which touches only the affected cells.
    * Centroids are left as built until compaction (FAISS semantics:
    * removal does not retrain the quantizer).
    *
    * `idCol` must be the assigned table's id column — every delete
    * batch is renamed to it, so mixed callers cannot splinter the
    * tombstone schema. */
  def ivfDeleteWrite(path: String, ids: DataFrame,
                     idCol: String = "vec_id"): Unit =
    ids.select(col(ids.columns.head).as(idCol)).distinct().coalesce(1)
      .write.mode("append").parquet(s"$path/tombstones")

  /** Apply accumulated tombstones physically: rewrite ONLY the cell
    * partitions that contain deleted rows (dynamic partition
    * overwrite; untouched cells' files are never read or written),
    * SUBTRACT the deleted rows' exact-integer centroid partials from
    * the persisted side table, and clear the tombstones. Long sums
    * are associative, so partials-of-survivors = partials-of-all −
    * partials-of-deleted EXACTLY — for a DETERMINISTIC-quantizer
    * index the refreshed centroids are bit-identical to a full
    * rebuild on the surviving corpus (the delete mirror of
    * [[ivfAppendWrite]]'s contract; the spec asserts it). A
    * TRAINED-quantizer index keeps its centroids untouched — FAISS
    * `remove_ids` semantics, deletion never retrains the quantizer —
    * and only the partials invariant is maintained.
    *
    * Crash recovery: the normal path is O(affected cells). If a prior
    * compaction crashed between the assigned rewrite and the partials
    * write (detected as live tombstones whose rows are all gone), the
    * rerun rebuilds the partials from the rewritten corpus — a
    * one-time O(corpus) repair that restores the exact invariant
    * instead of silently keeping stale centroids. The affected-cell
    * list is collected to the driver — bounded by nLists, the
    * documented bounded-action class. */
  def ivfCompactDeletes(spark: org.apache.spark.sql.SparkSession,
                        path: String, vecCol: String = "embedding"): Unit = {
    val fs = hPath(spark, path)
    val tPath = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    requireMeta(spark, path)
    if (!fs.exists(tPath)) return
    val kind = quantizerKind(spark, path)
    val tomb = Tables.parquet(spark, s"$path/tombstones")
      .localCheckpoint(eager = false)
    val tCol = tomb.columns.head
    val assigned = Tables.parquet(spark, s"$path/assigned")
      .withColumn("__cell", col("__cell").cast("int"))
    require(assigned.columns.contains(tCol),
      s"tombstone column '$tCol' is not a column of the assigned table " +
        s"(${assigned.columns.mkString(", ")}) — ivfDeleteWrite was called " +
        "with the wrong idCol")
    // the dead rows are needed only as their (bounded, nLists·dim)
    // NEGATED PARTIALS and the affected-cell list — aggregating them
    // here, BEFORE the rewrite consumes their source files, replaces
    // the old corpus-sized checkpoint of the dead rows themselves
    val dead = assigned.join(tomb, Seq(tCol), "left_semi")
    val sub = centroidPartials(dead, vecCol)
      .select(col("__cell"), col("__pos"),
        (-col("__sum")).as("__sum"), (-col("__cnt")).as("__cnt"))
      .localCheckpoint()
    // from the dead rows themselves, not their partials: a dead row
    // with a null or empty embedding has no partials, and its cell
    // must still be rewritten or the row outlives its tombstone
    val affected = dead.select(col("__cell")).distinct()
      .collect().map(_.getInt(0))
    // read from the meta file, which the final writeMeta leaves in
    // place until its new rows are written
    val base = readPartials(spark, path)
    val refreshed =
      if (affected.nonEmpty) {
        val survivors = assigned
          .filter(col("__cell").isin(affected.map(Integer.valueOf): _*))
          .join(tomb, Seq(tCol), "left_anti")
          .repartition(col("__cell")).localCheckpoint()
        val liveCells = survivors.select(col("__cell")).distinct()
          .collect().map(_.getInt(0)).toSet
        survivors.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__cell").parquet(s"$path/assigned")
        // a cell whose every row died has no survivors, so dynamic
        // overwrite never touches its directory — drop it explicitly
        affected.filterNot(liveCells).foreach { c =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/assigned/__cell=$c"), true)
        }
        base.unionByName(sub)
          .groupBy(col("__cell"), col("__pos"))
          .agg(sum(col("__sum")).as("__sum"), sum(col("__cnt")).as("__cnt"))
          .filter(col("__cnt") > 0)
          .localCheckpoint(eager = false)
      } else {
        // live tombstones but no matching rows: either ids that never
        // existed (partials already correct) or a crashed prior
        // compaction that rewrote assigned without refreshing partials
        // — rebuilding from the corpus is correct in both cases and
        // the only way to restore the exact invariant after a crash
        centroidPartials(assigned, vecCol).localCheckpoint(eager = false)
      }
    // partials + centroids + kind land in ONE commit; the trained
    // path carries the stored centroid rows forward byte-identical
    // (FAISS remove_ids semantics — deletion never retrains), the
    // deterministic path re-derives them from the refreshed partials.
    val cents =
      if (kind == IvfIndex.Deterministic) centroidsFromPartials(refreshed)
      else readCentroids(spark, path)
    writeMeta(path, refreshed, cents, kind)
    fs.delete(tPath, true)
  }

  /** The persisted quantizer-kind marker; a torn index (no `meta`)
    * raises rather than defaulting to a kind. */
  private[graft] def quantizerKind(spark: org.apache.spark.sql.SparkSession,
                            path: String): String =
    Tables.parquet(spark, requireMeta(spark, path))
      .filter(col("side") === "quantizer")
      .select(col("q")).head().getString(0)

  /** Reload a persisted IVF index. Pending [[ivfDeleteWrite]]
    * tombstones are anti-joined into the assigned view (a broadcast
    * anti-join against the small tombstone table), so deleted vectors
    * never reach a probe even before [[ivfCompactDeletes]] runs. */
  def ivfRead(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val assigned0 = Tables.parquet(spark, s"$path/assigned")
    val assigned =
      if (pathExists(spark, s"$path/tombstones")) {
        val tomb = Tables.parquet(spark, s"$path/tombstones")
        assigned0.join(broadcast(tomb), Seq(tomb.columns.head), "left_anti")
      } else assigned0
    IvfIndex(assigned, readCentroids(spark, path), quantizerKind(spark, path))
  }

  /** Assign vectors to their nearest centroid from a centroid TABLE
    * (squared L2, ties to the lowest cell id — KMeans' own
    * convention): the quantizer-as-data form that works on a
    * persisted index with no model object. |B|·nLists broadcast cross
    * then a per-row argmin — the coarse quantizer's definitional
    * shape (the ivfQuery probe's whitelisted class). ||x||² is
    * row-constant, so only `-2x·c + ||c||²` competes. */
  private def assignToCentroids(batch: DataFrame, centroids: DataFrame,
                                idCol: String, vecCol: String): DataFrame = {
    val d2 = dot(col("__centroid"), col("__centroid")) -
      lit(2.0) * dot(col(vecCol), col("__centroid"))
    batch.crossJoin(broadcast(centroids))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(d2.asc, col("__cell").asc)))
      .filter(col("__r") === 1)
      .drop("__r", "__centroid")
  }

  /** Append a batch to a TRAINED-quantizer IVF index — FAISS `add()`
    * semantics: the batch is assigned to the EXISTING centroids and
    * the centroids are NOT refreshed. A trained quantizer is a model;
    * silently re-fitting it on every append would invalidate any
    * recall contract measured against it (and make probe results
    * depend on ingest order). Re-run [[ivfBuild]] when drift
    * accumulates — the standard reindex cadence.
    *
    * Near-equidistant caveat: assignment here is exact arithmetic
    * over the centroid table; MLlib's `transform` uses a
    * norm-precomputed fast distance, so a vector lying within
    * float-ulp of two cell boundaries could assign differently than
    * the original build pass would have — harmless for ANN (either
    * cell is a correct nearest-centroid answer). */
  def ivfAppendTrained(index: IvfIndex, batch: DataFrame,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): IvfIndex = {
    require(index.quantizer == IvfIndex.Trained,
      s"ivfAppendTrained assigns by centroid argmin — on a '${index.quantizer}'" +
        "-quantizer index cells are sign buckets; use ivfAppendDeterministic")
    IvfIndex(
      index.assigned.unionByName(
        assignToCentroids(batch, index.centroids, idCol, vecCol)
          .select(index.assigned.columns.map(col).toIndexedSeq: _*)),
      index.centroids, IvfIndex.Trained)
  }

  /** Persisted form of [[ivfAppendTrained]]: batch rows are assigned
    * against the stored centroid table and appended into their cell
    * partitions (existing cell files untouched); `centroids` is left
    * byte-identical. The `partials` side table is still merged with
    * the batch's exact-integer partials so the
    * `partials ≡ centroidPartials(assigned)` invariant survives mixed
    * use — but for a trained index the partials are bookkeeping, not
    * the quantizer. */
  def ivfAppendWriteTrained(path: String, batch: DataFrame,
                            filesPerCell: Int = 1,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    require(quantizerKind(spark, path) == IvfIndex.Trained,
      "ivfAppendWriteTrained freezes the centroids — on a deterministic-quantizer " +
        "index that would silently stop the exact refresh; use ivfAppendWrite")
    val cents = readCentroids(spark, path)
    val newAssigned = assignToCentroids(batch, cents, idCol, vecCol)
    val clustered =
      if (filesPerCell <= 1) newAssigned.repartition(col("__cell"))
      else newAssigned.repartition(col("__cell"),
        pmod(hash(newAssigned.columns.map(col): _*), lit(filesPerCell)))
    clustered.write.mode("append").partitionBy("__cell")
      .parquet(s"$path/assigned")
    val merged = readPartials(spark, path)
      .unionByName(centroidPartials(newAssigned, vecCol))
      .groupBy(col("__cell"), col("__pos"))
      .agg(sum(col("__sum")).as("__sum"), sum(col("__cnt")).as("__cnt"))
    // centroid ROWS ride along byte-identical (FAISS add semantics:
    // the quantizer never retrains)
    writeMeta(path, merged, cents, IvfIndex.Trained)
  }

  /** Query an IVF index: each query vector is scored only against its
    * `nProbe` nearest cells (by centroid dot product). The classic
    * trade — `nProbe/nLists` of the corpus scanned per query, recall
    * grows with `nProbe`. Per-query work is a broadcast join on cell
    * id against the (pruned) assigned corpus. */
  def ivfQuery(index: IvfIndex, queryIds: Seq[Long], k: Int, nProbe: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = index.assigned.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val qCells = q.crossJoin(broadcast(index.centroids))
      .select(col("query_id"), col("q_vec"), col("__cell"),
        dot(col("q_vec"), col("__centroid")).as("__cd"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__cd").desc, col("__cell"))))
      .filter(col("__r") <= nProbe)
      .select("query_id", "q_vec", "__cell")
    val scored = index.assigned
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), col("__cell"))
      .join(broadcast(qCells), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("q_vec"), col("c_vec")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN in one shot: [[ivfBuild]] + [[ivfQuery]].
    * Production callers should build (and [[ivfWrite]]) once and query
    * many times. */
  def ivfTopK(df: DataFrame, queryIds: Seq[Long], k: Int,
              nLists: Int, nProbe: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfQuery(ivfBuild(df, nLists, idCol, vecCol), queryIds, k, nProbe, idCol, vecCol)

  /** A product-quantization index: `codes` is the compressed corpus —
    * one (id, m, code) row per vector per subspace (M small codes
    * instead of the raw floats: with M=8 subspaces and 16 codes each,
    * 4 bytes per vector vs 256 — the compression that lets a 100 TB
    * embedding corpus be scanned from a few TB) — and `centroids` is
    * the (m, code, centroid) codebook. */
  final case class PqIndex(codes: DataFrame, centroids: DataFrame)

  /** Per-(subspace, plane) deterministic hyperplane literals: global
    * plane id `m·planes + p` over the subspace's `d` dims, so a SQL
    * oracle can inline the identical values via [[planeFamily]]. */
  private def subPlane(m: Int, p: Int, planes: Int, d: Int): Column =
    array((0 until d).map(i => lit(planeComponent(m * planes + p, i))): _*)

  /** Build a DETERMINISTIC product-quantization codebook: the vector
    * splits into `m` subspaces of `dim/m` dims; each subspace gets a
    * sign-LSH code (`planes` md5-derived hyperplanes ⇒ 2^planes codes)
    * and a per-(subspace, code) centroid as the 2^24-grid-quantized
    * mean of member subvectors — the same engine-portable construction
    * as [[ivfBuildDeterministic]], per subspace. (Production PQ trains
    * per-subspace KMeans; the deterministic form trades a little
    * quantization error for a bit-reproducible, SQL-checkable
    * codebook.) Code assignment is a narrow map; the codebook
    * aggregation is one (m, code, pos) group-by of bounded size. */
  def pqBuild(df: DataFrame, m: Int = 8, planes: Int = 4, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding"): PqIndex = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val d = dim / m
    val subRows = (0 until m).map { mi =>
      val sub = slice(col(vecCol), mi * d + 1, d)
      val code = (0 until planes).map { p =>
        when(dot(sub, subPlane(mi, p, planes, d)) >= 0, lit(1 << p)).otherwise(lit(0))
      }.reduce(_ + _)
      struct(lit(mi).as("m"), code.cast("int").as("code"), sub.as("sub"))
    }
    val exploded = df.select(col(idCol), explode(array(subRows: _*)).as("s"))
      .select(col(idCol), col("s.m").as("m"), col("s.code").as("code"),
        col("s.sub").as("__sub"))
    val codes = exploded.select(col(idCol), col("m"), col("code"))
    val q = 16777216.0
    val cents = exploded
      .select(col("m"), col("code"), posexplode(col("__sub")).as(Seq("__pos", "__x")))
      .groupBy(col("m"), col("code"), col("__pos"))
      .agg((sum(floor(col("__x").cast("double") * q).cast("long")).cast("double")
        / count(lit(1)) / q).as("__m"))
      .groupBy(col("m"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__m")))),
        s => s.getField("__m")).as("centroid"))
    PqIndex(codes, cents)
  }

  /** Build a PQ codebook by per-subspace KMeans — the production
    * quality path, completing the dual-quantizer pattern PQ shares with
    * IVF ([[ivfBuild]] trained / [[ivfBuildDeterministic]] auditable):
    * [[pqBuild]]'s sign-LSH codebook stays the oracle-checkable path,
    * this one minimizes reconstruction error (learned Voronoi cells fit
    * the data; fixed halfspace intersections don't), audited by the
    * same [[pqReconstructionError]] contract.
    *
    * Each of the `m` subspaces trains its own `k`-center quantizer on
    * ONE deterministic bounded sample ([[ivfTrainSample]] — at 100 TB
    * training must see a representative subset, never the corpus). The
    * sample is cap-bounded — MODEL-sized by construction — so the
    * Lloyd iterations run on the driver over the collected sample: the
    * same one-bounded-collect action class as fitting any quantizer
    * (cf. the Bloom index build); running m separate distributed ML
    * fits for the identical arithmetic was measured as ~10 s of pure
    * job-scheduling overhead. Initialization is k evenly-strided
    * points of the lexicographically sorted sample — no RNG, so a
    * rebuild assigns identical codes.
    *
    * Code assignment is a single narrow corpus pass: the m·k centers
    * become literals, so the nearest-center argmin runs inside
    * whole-stage codegen with no per-subspace corpus scans and no ML
    * runtime on the hot path. Ties break toward the smaller code id
    * (struct min on (distance, code)) — deterministic. */
  def pqBuildKMeans(df: DataFrame, m: Int = 8, k: Int = 16, dim: Int = 64,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    maxTrainRows: Int = 0, maxIter: Int = 15): PqIndex = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val d = dim / m
    val cap = if (maxTrainRows > 0) maxTrainRows else math.max(10000, 256 * k)
    val sampled = ivfTrainSample(df.select(col(idCol), col(vecCol)), cap, idCol)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val centers: Seq[(Int, Int, Seq[Double])] = (0 until m).flatMap { mi =>
      val pts = sampled.map(v => java.util.Arrays.copyOfRange(v, mi * d, mi * d + d))
      lloyd(pts, k, maxIter).zipWithIndex.map {
        case (c, ci) => (mi, ci, c.toSeq)
      }
    }
    val bysub = centers.groupBy(_._1)
    val codeCols = (0 until m).map { mi =>
      val sub = transform(slice(col(vecCol), mi * d + 1, d), x => x.cast("double"))
      val best = array_min(array(bysub(mi).map { case (_, ci, c) =>
        val cLit = array(c.map(lit): _*)
        struct(
          aggregate(zip_with(sub, cLit, (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, x) => a + x).as("d"),
          lit(ci).as("code"))
      }: _*))
      struct(lit(mi).as("m"), best.getField("code").cast("int").as("code"))
    }
    val codes = df.select(col(idCol), explode(array(codeCols: _*)).as("s"))
      .select(col(idCol), col("s.m").as("m"), col("s.code").as("code"))
    val spark = df.sparkSession
    import spark.implicits._
    val cents = centers.toDF("m", "code", "centroid")
    PqIndex(codes, cents)
  }

  /** Deterministic Lloyd's iterations over a (bounded, driver-sized)
    * point set: strided-sorted init, nearest-center assignment with
    * ties toward the lower index, empty clusters keep their previous
    * center. */
  private def lloyd(pts: Array[Array[Double]], k: Int,
                    iters: Int): Array[Array[Double]] = {
    require(pts.nonEmpty, "empty training sample")
    val n = pts.length
    val dims = pts(0).length
    val sorted = pts.clone().sortWith { (a, b) =>
      var i = 0
      while (i < dims && a(i) == b(i)) i += 1
      i < dims && a(i) < b(i)
    }
    var centers = Array.tabulate(k)(i => sorted(((i.toLong * n) / k).toInt).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < k) {
          var s = 0.0
          var j = 0
          while (j < dims) { val t = p(j) - centers(c)(j); s += t * t; j += 1 }
          if (s < bd) { bd = s; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dims) { sums(best)(j) += p(j); j += 1 }
      }
      centers = Array.tabulate(k) { c =>
        if (counts(c) == 0) centers(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centers
  }

  /** Persist a PQ index: codes are the corpus-sized (but 64× smaller)
    * table ADC scans — kept in their natural partitioning; the
    * codebook is one tiny file. */
  def pqWrite(index: PqIndex, path: String): Unit = {
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
    index.centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/centroids")
  }

  /** Reload a persisted PQ index. */
  def pqRead(spark: org.apache.spark.sql.SparkSession, path: String): PqIndex =
    PqIndex(Tables.parquet(spark, s"$path/codes"),
      Tables.parquet(spark, s"$path/centroids"))

  /** Per-(vector, subspace) quantization audit: the assigned code and
    * the exact squared reconstruction error of that subspace,
    * `‖sub − centroid‖² = ⟨sub,sub⟩ − 2⟨sub,cent⟩ + ⟨cent,cent⟩` —
    * three sequential-fold dot products combined in fixed order, so
    * the doubles reproduce in any engine. */
  def pqReconstructionError(df: DataFrame, index: PqIndex,
                            m: Int = 8, dim: Int = 64,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val d = dim / m
    val subRows = (0 until m).map { mi =>
      struct(lit(mi).as("m"), slice(col(vecCol), mi * d + 1, d).as("sub"))
    }
    val subs = df.select(col(idCol), explode(array(subRows: _*)).as("s"))
      .select(col(idCol), col("s.m").as("m"), col("s.sub").as("__sub"))
    subs.join(index.codes, Seq(idCol, "m"))
      .join(broadcast(index.centroids), Seq("m", "code"))
      .select(col(idCol), col("m"), col("code"),
        (dot(col("__sub"), col("__sub"))
          - lit(2.0) * dot(col("__sub"), col("centroid"))
          + dot(col("centroid"), col("centroid"))).as("sq_err"))
  }

  /** PQ asymmetric-distance (ADC) approximate top-k: each query
    * precomputes an (m, code) → ⟨q_sub, centroid⟩ lookup table (M·2^planes
    * rows — broadcast-tiny), and the corpus is scored by JOINING ITS
    * CODES against the table and summing the M partials per vector:
    * the scan touches 4-byte codes, never the raw floats — the read
    * shape that makes PQ pay at 100 TB. Partials are rounded to 9
    * decimals and summed as DECIMAL, so neither partition order nor
    * subspace order can change a score or a rank. */
  def pqAdcTopK(df: DataFrame, index: PqIndex, queryIds: Seq[Long], k: Int,
                m: Int = 8, dim: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val d = dim / m
    val subRows = (0 until m).map { mi =>
      struct(lit(mi).as("m"), slice(col(vecCol), mi * d + 1, d).as("sub"))
    }
    val lut = df.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), explode(array(subRows: _*)).as("s"))
      .select(col("query_id"), col("s.m").as("m"), col("s.sub").as("__qsub"))
      .join(index.centroids, Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        round(dot(col("__qsub"), col("centroid")), 9)
          .cast("decimal(28,9)").as("__partial"))
    val scored = index.codes
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("query_id") =!= col(idCol))
      .groupBy(col("query_id"), col(idCol).as("neighbor_id"))
      .agg(sum(col("__partial")).cast("double").as("adc_score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** FAISS-style IVF-PQ search — the two index structures composed the
    * way production ANN serves 100 TB: the IVF coarse quantizer
    * restricts each query to its `nProbe` best cells, and ADC scores
    * ONLY the PQ codes of vectors in those cells. The corpus read is
    * therefore cell-pruned AND codes-only — `nProbe/nLists` of a
    * ~64×-compressed table; raw floats are touched just once per query
    * for the (m, code) lookup table (M·2^planes rows, broadcast).
    * Same determinism contract as both parents: decimal-rounded
    * partials, rank ties toward the smaller id.
    *
    * `refine` > 0 adds the production REFINE stage (the FAISS
    * refine-flat serving shape): ADC keeps a per-query shortlist of
    * that many candidates, and the final top-k is their EXACT dot
    * product — recall then tracks the coarse probe (q58's band), not
    * the code quantization error, at the cost of one raw-vector fetch
    * per shortlisted candidate (|Q|·refine rows broadcast into a
    * single corpus-side join — the compressed scan still did all the
    * heavy elimination). Output carries `sim` instead of `adc_score`. */
  def ivfPqTopK(df: DataFrame, ivf: IvfIndex, pq: PqIndex,
                queryIds: Seq[Long], k: Int, nProbe: Int,
                m: Int = 8, dim: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding",
                refine: Int = 0): DataFrame = {
    // probe-cell selection per query (the ivfQuery first stage)
    val q = df.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val qCells = q.crossJoin(broadcast(ivf.centroids))
      .select(col("query_id"), col("__cell"),
        dot(col("q_vec"), col("__centroid")).as("__cd"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__cd").desc, col("__cell"))))
      .filter(col("__r") <= nProbe)
      .select("query_id", "__cell")
    // per-query ADC lookup table (the pqAdcTopK first stage)
    val d = dim / m
    val subRows = (0 until m).map { mi =>
      struct(lit(mi).as("m"), slice(col(vecCol), mi * d + 1, d).as("sub"))
    }
    val lut = df.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), explode(array(subRows: _*)).as("s"))
      .select(col("query_id"), col("s.m").as("m"), col("s.sub").as("__qsub"))
      .join(pq.centroids, Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        round(dot(col("__qsub"), col("centroid")), 9)
          .cast("decimal(28,9)").as("__partial"))
    // candidates = vectors in each query's probed cells (self excluded)
    val cands = ivf.assigned.select(col(idCol).as("neighbor_id"), col("__cell"))
      .join(broadcast(qCells), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    // ADC over candidate codes only
    val scored = pq.codes.select(col(idCol).as("neighbor_id"), col("m"), col("code"))
      .join(cands, Seq("neighbor_id"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__partial")).cast("double").as("adc_score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_score").desc, col("neighbor_id").asc)
    val adcRanked = scored.withColumn("rank", row_number().over(w).cast("long"))
    if (refine <= 0) adcRanked.filter(col("rank") <= k)
    else {
      // exact rerank of the ADC shortlist: the (query, shortlist)
      // pairs with their query vectors broadcast into ONE corpus-side
      // join that fetches just the shortlisted raw vectors
      val shortlist = adcRanked.filter(col("rank") <= refine)
        .select(col("query_id"), col("neighbor_id"))
        .join(q, Seq("query_id"))
      val rescored = df
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"))
        .join(broadcast(shortlist), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          dot(col("q_vec"), col("n_vec")).as("sim"))
      val wr = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id").asc)
      rescored.withColumn("rank", row_number().over(wr).cast("long"))
        .filter(col("rank") <= k)
    }
  }

  /** Deterministic random-projection dimensionality reduction
    * (Johnson–Lindenstrauss): each output dimension is the dot product
    * with one plane from the md5-derived family ([[planeFamily]] — no
    * RNG, identical on every executor and inlinable into a SQL
    * oracle). Output is comparator-friendly scalar rows
    * `(id, dim, value)` via posexplode rather than an array column.
    *
    * A narrow per-row map — zero shuffles; at 100 TB this runs at
    * parquet-scan speed and cuts downstream vector bytes by
    * `outDim/dim`. */
  def randomProject(df: DataFrame, outDim: Int, dim: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val projections = array((0 until outDim).map { p =>
      dot(col(vecCol), array((0 until dim).map(d => lit(planeComponent(p, d))): _*))
    }: _*)
    df.select(col(idCol), posexplode(projections).as(Seq("dim", "value")))
      .select(col(idCol), col("dim").cast("long").as("dim"), col("value"))
  }

  /** k-NN label classification: predict each query vector's label by
    * majority vote of its k nearest neighbors (exact cosine top-k,
    * self excluded), ties broken toward the smallest label. Output
    * `(query_id, true_label, pred_label, n_votes)`.
    *
    * The neighbor search is [[cosineTopK]] (broadcast query side ×
    * corpus scan); the vote is a tiny aggregation keyed by query. */
  def knnClassify(emb: DataFrame, queryIds: Seq[Long], k: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame = {
    val queries = emb.filter(col(idCol).isin(queryIds: _*))
    val nn = cosineTopK(queries, emb, k, idCol, vecCol)
    val labels = emb.select(col(idCol).as("neighbor_id"), col(labelCol).as("__nl"))
    val votes = nn.join(labels, "neighbor_id")
      .groupBy(col("query_id"), col("__nl"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("__nl").asc)
    val pred = votes.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col("query_id"), col("__nl").as("pred_label"), col("n_votes"))
    pred.join(
        emb.select(col(idCol).as("query_id"), col(labelCol).as("true_label")),
        "query_id")
      .select(col("query_id"), col("true_label"), col("pred_label"), col("n_votes"))
  }

  /** Brute-force near-duplicate pairs by cosine ≥ threshold (exact,
    * quadratic — the correctness baseline for the LSH path).
    *
    * QUARANTINED QUADRATIC BASELINE: exists ONLY as the ground-truth
    * side of the LSH twin ([[nearDupPairsLsh]], q49) — never compose
    * it into a pipeline entry (PlanSpec's quarantine guard pins the
    * call sites). */
  def nearDupPairs(df: DataFrame, threshold: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), dot(col("vec_a"), col("vec_b")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Sign-bucketed near-duplicate pairs — the 100 TB form of
    * [[nearDupPairs]]: candidate pairs are generated per LSH bucket
    * (an equi-join on bucket id, shuffle partitioned by bucket), never
    * the full cross product. Recall < 1 by construction: only pairs
    * whose sign patterns agree on every plane are compared. */
  def nearDupPairsLsh(df: DataFrame, threshold: Double, planes: Int, dim: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = signBuckets(df, planes, dim, idCol, vecCol)
    val l = b.select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val r = b.select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), dot(col("vec_a"), col("vec_b")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Embedding-space (semantic) deduplication — the SemDeDup shape:
    * bucket vectors by the deterministic sign-plane family, pair only
    * within buckets, keep pairs with COSINE ≥ `threshold` (normalized
    * explicitly, so unnormalized embeddings are safe), resolve
    * transitive duplicate groups by connected components, and keep the
    * minimum-id representative per group plus every unpaired vector.
    * Returns the KEPT rows of `df`.
    *
    * Approximate like any LSH method (cross-bucket near-dups are
    * missed — raise `planes` for selectivity or lower for recall), but
    * every stage is deterministic and the whole pipeline is
    * SQL-expressible, so it hash-checks end to end. Scale shape: one
    * bucket shuffle, in-bucket pair expansion, CC state bounded by the
    * duplicate-pair count, anti-join build side bounded by the
    * duplicate count — the same 100 TB contract as the text-side
    * `Dedup.dedupCorpus`. */
  def semanticDedup(df: DataFrame, threshold: Double, planes: Int, dim: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms are per-ROW facts: computed ONCE in the bucketed projection
    // and carried into the pair join. Inlining cosine() in the pair
    // filter would recompute both vectors' norms per candidate pair —
    // in a bucket of n members each norm would be evaluated ~n times,
    // tripling the per-pair flops. The quotient below is the exact
    // expression cosine() expands to (dot / (norm_a · norm_b)), so the
    // kept set is bit-identical.
    val b = signBuckets(df, planes, dim, idCol, vecCol)
      .withColumn("__norm", l2Norm(col(vecCol)))
    val l = b.select(col("bucket"), col(idCol).as("doc_a"),
      col(vecCol).as("vec_a"), col("__norm").as("__na"))
    val r = b.select(col("bucket"), col(idCol).as("doc_b"),
      col(vecCol).as("vec_b"), col("__norm").as("__nb"))
    val pairs = l.join(r, Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(dot(col("vec_a"), col("vec_b")) / (col("__na") * col("__nb")) >= threshold)
      .select("doc_a", "doc_b")
    Dedup.dedupCorpus(df, pairs, idCol)
  }

  /** Per-dimension corpus moments on the 2²⁴ exact-integer grid — the
    * feature-prep statistics pass before standardization, whitening,
    * or dead-dimension pruning. Sums are quantized to longs BEFORE
    * aggregation ([[centroidPartials]]' argument), so the moments are
    * identical under any partitioning, accumulation order, or engine.
    * `variance` is the grid moments' E[x²] − mean² clamped at 0 (the
    * clamp matters only for near-constant dimensions, where the
    * quantization could otherwise go a hair negative). One narrow
    * posexplode + ONE dim-keyed aggregation (64–4096 output rows). */
  def dimStats(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val x = col("__x").cast("double")
    val m = col("__s1").cast("double") / col("n") / CentroidGrid
    emb.select(posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(floor(x * CentroidGrid).cast("long")).as("__s1"),
        sum(floor(x * x * CentroidGrid).cast("long")).as("__s2"))
      .select(col("dim").cast("long").as("dim"), col("n"),
        m.as("mean"),
        greatest(col("__s2").cast("double") / col("n") / CentroidGrid - m * m,
          lit(0.0)).as("variance"))
  }

  /** Exact-integer covariance matrix of the embedding column — the
    * input to PCA/whitening: the upper triangle (p ≤ q) of
    * `cov[p,q] = E[x_p·x_q] − mean_p·mean_q`, every sum quantized to
    * the 2²⁴ grid BEFORE aggregation so the matrix is identical under
    * any partitioning, accumulation order, or engine ([[dimStats]]'
    * argument; the diagonal equals its unclamped variance exactly).
    *
    * Scale shape: one corpus scan; the pair expansion is TWO CHAINED
    * generators — posexplode the vector for `p`, then explode
    * `sequence(p, d−1)` for `q` — so the per-row buffer is O(d), not
    * the d(d+1)/2 five-field struct array a single flattened
    * transform would materialize (~8.4M structs per row at the
    * documented d=4096 bound — an executor OOM long before the
    * aggregation sees a row). The d(d+1)/2 pairs still stream through
    * the same map-side-combined aggregation onto the MODEL-sized
    * output. */
  def covarianceMatrix(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    emb.select(v.as("__v"), posexplode(v).as(Seq("p", "__xpf")))
      .select(col("__v"), col("p"), col("__xpf").cast("double").as("xp"),
        explode(sequence(col("p"), size(col("__v")) - 1)).as("q"))
      .select(col("p"), col("q"),
        (col("xp") * element_at(col("__v"), col("q") + 1).cast("double")).as("xy"),
        col("xp"),
        element_at(col("__v"), col("q") + 1).cast("double").as("xq"))
      .groupBy("p", "q")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("xy") * CentroidGrid).cast("long")).as("sxy"),
        sum(floor(col("xp") * CentroidGrid).cast("long")).as("sxp"),
        sum(floor(col("xq") * CentroidGrid).cast("long")).as("sxq"))
      .select(col("p").cast("long").as("p"), col("q").cast("long").as("q"),
        (col("sxy").cast("double") / col("n") / CentroidGrid
          - (col("sxp").cast("double") / col("n") / CentroidGrid)
            * (col("sxq").cast("double") / col("n") / CentroidGrid)).as("cov"))
  }

  /** Winsorize the embedding corpus: clip every dimension at its
    * exact [pLo, pHi] corpus order statistics ([[dimQuantiles]]'
    * machinery) — the robust-scaling companion to [[whiten]]:
    * heavy-tailed activation dims (a handful of huge outliers are the
    * norm in transformer embeddings) otherwise dominate covariance,
    * centroids and quantization ranges. Clipping SELECTS existing
    * float-exact values (no arithmetic), so the output is
    * engine-identical by construction. Output exploded
    * (idCol, dim, x, x_clipped) — reassemble with `collect_list` over
    * a position sort when an array column is needed downstream.
    *
    * Scale shape: the (dim, value) stream feeds ONE multi-quantile
    * histogram pass (both cuts share the stats scan and histogram —
    * the per-cut form ran the machinery twice), and the d-row cut
    * table broadcasts into the clip projection — the corpus is never
    * shuffled. */
  def winsorizeEmbeddings(emb: DataFrame, pLo: Double = 0.05,
                          pHi: Double = 0.95,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(pLo > 0.0 && pHi <= 1.0 && pLo <= pHi,
      s"need 0 < pLo <= pHi <= 1, got ($pLo, $pHi)")
    val x = emb.select(col(idCol), posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .select(col(idCol), col("dim").cast("long").as("dim"),
        col("__x").cast("double").as("x"))
    val q = graft.ops.Scale.kthSmallestByKeyMulti(x, "x", "dim",
      Seq(pLo, pHi).distinct)
    val cuts = q.groupBy(col("dim")).agg(
      max(when(col("p") === pLo, col("quantile"))).as("__lo"),
      max(when(col("p") === pHi, col("quantile"))).as("__hi"))
    x.join(broadcast(cuts), Seq("dim"))
      .select(col(idCol), col("dim"), col("x"),
        greatest(least(col("x"), col("__hi")), col("__lo")).as("x_clipped"))
  }

  /** Robust per-dimension standardization — the outlier-immune
    * alternative to [[standardizeEmbeddings]]' z-score: center on the
    * exact per-dim MEDIAN and scale by the exact IQR (q3 − q1), both
    * discrete order statistics ([[dimQuantiles]]), so a handful of
    * huge activations cannot drag the transform the way they drag a
    * mean/variance. Constant dims (IQR 0) pin to 0, the
    * [[dimStats]]/standardize dead-dim convention. Arithmetic is two
    * correctly-rounded double ops on exact selected values — engine-
    * identical. Output exploded (idCol, dim, x, x_robust).
    *
    * Scale shape: the (dim, value) stream feeds ONE multi-quantile
    * histogram pass (median, q1 and q3 share the stats scan and
    * histogram — the per-cut form ran the machinery three times); the
    * d-row cut table broadcasts into the final narrow projection — the
    * corpus never shuffles. */
  def robustStandardize(emb: DataFrame,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val x = emb.select(col(idCol), posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .select(col(idCol), col("dim").cast("long").as("dim"),
        col("__x").cast("double").as("x"))
    val q = graft.ops.Scale.kthSmallestByKeyMulti(x, "x", "dim",
      Seq(0.25, 0.5, 0.75))
    val cuts = q.groupBy(col("dim")).agg(
      max(when(col("p") === 0.5, col("quantile"))).as("__med"),
      max(when(col("p") === 0.25, col("quantile"))).as("__q1"),
      max(when(col("p") === 0.75, col("quantile"))).as("__q3"))
    x.join(broadcast(cuts), Seq("dim"))
      .select(col(idCol), col("dim"), col("x"),
        when(col("__q3") === col("__q1"), lit(0.0))
          .otherwise((col("x") - col("__med")) / (col("__q3") - col("__q1")))
          .as("x_robust"))
  }

  /** Per-dimension exact discrete quantile of the embedding corpus —
    * the robust-scaling statistic (median / IQR bounds) that
    * [[dimStats]]' moments cannot give: one posexplode into the
    * two-pass histogram quantile (`ops.Scale.kthSmallestByKey`) keyed
    * by dimension. No summation is involved — the kth order statistic
    * of exact float→double values — so the result is engine-identical
    * by construction. Output (dim, n, k, quantile). */
  def dimQuantiles(emb: DataFrame, p: Double,
                   vecCol: String = "embedding"): DataFrame =
    graft.ops.Scale.kthSmallestByKey(
      emb.select(posexplode(col(vecCol)).as(Seq("dim", "__x")))
        .select(col("dim").cast("long").as("dim"),
          col("__x").cast("double").as("x")),
      "x", "dim", p)

  /** Top-`k` principal components by power iteration with deflation —
    * the whitening/compression basis a 100 TB embedding lake fits
    * once. The eigen-solve runs on the DRIVER over the collected
    * [[covarianceMatrix]] (d² doubles — the same bounded-action class
    * as `pqBuildKMeans`' Lloyd's loop; the corpus itself is never
    * collected). Deterministic: init is the basis vector of the
    * largest remaining diagonal (ties to lowest dim), a fixed `iters`
    * multiply-normalize rounds, sign fixed so the largest-|entry|
    * coordinate is positive (ties to lowest dim). Returns
    * (component, dim, value, eigenvalue), components orthonormal. */
  def pcaTopK(emb: DataFrame, k: Int, iters: Int = 50,
              vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val covRows = covarianceMatrix(emb, vecCol).collect()
    val d = covRows.map(_.getLong(1)).max.toInt + 1
    require(k >= 1 && k <= d, s"need 1 <= k <= $d, got $k")
    val a = Array.ofDim[Double](d, d)
    covRows.foreach { r =>
      val (p, q, c) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2))
      a(p)(q) = c; a(q)(p) = c
    }
    val out = Seq.newBuilder[(Long, Long, Double, Double)]
    for (comp <- 0 until k) {
      val seed = (0 until d).maxBy(i => (a(i)(i), -i))
      var vct = Array.tabulate(d)(i => if (i == seed) 1.0 else 0.0)
      var lambda = 0.0
      for (_ <- 1 to iters) {
        val av = Array.tabulate(d)(i => (0 until d).map(j => a(i)(j) * vct(j)).sum)
        val nrm = math.sqrt(av.map(x => x * x).sum)
        if (nrm > 0) vct = av.map(_ / nrm)
        lambda = nrm
      }
      val top = (0 until d).maxBy(i => (math.abs(vct(i)), -i))
      if (vct(top) < 0) vct = vct.map(-_)
      lambda = (0 until d).map(i => (0 until d).map(j => vct(i) * a(i)(j) * vct(j)).sum).sum
      for (i <- 0 until d) out += ((comp.toLong, i.toLong, vct(i), lambda))
      for (i <- 0 until d; j <- 0 until d) a(i)(j) -= lambda * vct(i) * vct(j)
    }
    out.result().toDF("component", "dim", "value", "eigenvalue")
  }

  /** Project the corpus onto [[pcaTopK]] components: per vector one
    * row per component, `proj = v · c` — a k-dim reduced
    * representation. The component table is model-sized and folds in
    * as a 1-row broadcast; the projection is a narrow per-row k-dot
    * pass, no shuffle. */
  def pcaProject(emb: DataFrame, components: DataFrame,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val packed = components.groupBy(col("component"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("value")))),
        s => s.getField("value")).as("cv"))
      .agg(array_sort(collect_list(struct(col("component").as("comp"),
        col("cv").as("cv")))).as("__comps"))
    emb.join(broadcast(packed))
      .select(col(idCol), explode(transform(col("__comps"), c =>
        struct(c.getField("comp").as("component"),
          dotFold(col(vecCol), c.getField("cv")).as("proj")))).as("pc"))
      .select(col(idCol), col("pc.component").as("component"),
        col("pc.proj").as("proj"))
  }

  /** PCA whitening: center on the [[dimStats]] means, project onto
    * the top-`k` [[pcaTopK]] components, and scale each coordinate by
    * `1/sqrt(eigenvalue)` — decorrelated unit-variance embedding
    * coordinates, the preprocessing step OPQ-style quantizers and
    * several SemDeDup variants assume. Degenerate directions
    * (eigenvalue ≤ 0 after deflation noise) pin to 0 rather than NaN.
    * Returns (idCol, vecCol) with a k-double array.
    *
    * Scale shape: the mean array and the component/eigenvalue tables
    * are model-sized 1-row/broadcast folds; the corpus is scanned
    * once for the stats, once for the covariance, once for the
    * projection — every per-row step narrow. */
  def whiten(emb: DataFrame, k: Int, iters: Int = 50,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val mu = dimStats(emb, vecCol)
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean")))),
        s => s.getField("mean")).as("__mu"))
    val centered = emb.join(broadcast(mu))
      .select(col(idCol),
        zip_with(col(vecCol), col("__mu"), (x, m) => x.cast("double") - m).as(vecCol))
    val comps = pcaTopK(emb, k, iters, vecCol).localCheckpoint()
    val scale = comps.select(col("component"), col("eigenvalue")).distinct()
    pcaProject(centered, comps, idCol, vecCol)
      .join(broadcast(scale), Seq("component"))
      .select(col(idCol), col("component"),
        when(col("eigenvalue") <= 0, lit(0.0))
          .otherwise(col("proj") / sqrt(col("eigenvalue"))).as("__z"))
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("component"), col("__z")))),
        s => s.getField("__z")).as(vecCol))
  }

  /** Standardize an embedding column against [[dimStats]] moments:
    * `z_d = (x_d − mean_d)/sqrt(var_d)`, dead dimensions (variance 0)
    * pinned to 0 rather than NaN. The stats are a dim-count-sized
    * 1-row broadcast folded into a narrow per-row transform — the
    * corpus is scanned once, no shuffle. */
  def standardizeEmbeddings(emb: DataFrame, stats: DataFrame,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val packed = stats
      .agg(transform(array_sort(collect_list(
          struct(col("dim"), col("mean"), col("variance")))),
        s => struct(s.getField("mean").as("m"), s.getField("variance").as("v")))
        .as("__stats"))
    emb.join(broadcast(packed))
      .select(col(idCol),
        zip_with(col(vecCol), col("__stats"), (x, s) =>
          when(s.getField("v") === 0d, lit(0.0))
            .otherwise((x.cast("double") - s.getField("m"))
              / sqrt(s.getField("v")))).as(vecCol))
  }

  /** Embedding-space decontamination — the semantic analog of the
    * n-gram leakage check (`TextAnalysis.decontaminate`): corpus
    * vectors whose cosine similarity to ANY eval-set vector reaches
    * `threshold` are flagged, paraphrase-level benchmark leakage the
    * token-overlap check cannot see. Output one row per contaminated
    * corpus vector: (corpus_id, eval_id of the best match — min eval
    * id on exact sim ties, best_sim, n_matches).
    *
    * Scale shape: the eval set is benchmark-sized, so its bucketed
    * projection BROADCASTS into the sign-bucket equi-join — the corpus
    * is scanned once and never shuffled; candidate work is bucket-
    * bounded. Recall < 1 like any LSH screen (cross-bucket pairs are
    * unseen) — lower `planes` for recall, raise for selectivity. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                            threshold: Double, planes: Int, dim: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val cb = signBuckets(corpus, planes, dim, idCol, vecCol)
      .withColumn("__norm", l2Norm(col(vecCol)))
      .select(col("bucket"), col(idCol).as("corpus_id"),
        col(vecCol).as("__vc"), col("__norm").as("__nc"))
    val eb = signBuckets(evalSet, planes, dim, idCol, vecCol)
      .withColumn("__norm", l2Norm(col(vecCol)))
      .select(col("bucket"), col(idCol).as("eval_id"),
        col(vecCol).as("__ve"), col("__norm").as("__ne"))
    val hits = cb.join(broadcast(eb), Seq("bucket"))
      .select(col("corpus_id"), col("eval_id"),
        (dot(col("__vc"), col("__ve")) / (col("__nc") * col("__ne"))).as("sim"))
      .filter(col("sim") >= threshold)
    // best match in ONE aggregation: lexicographic struct max picks
    // the max sim, then (via the negated id) the min eval id among
    // exact-sim ties — no second pass over the hits, no re-join. Both
    // engines compute identical doubles from the same dot/sqrt
    // recipe, so the tie set (and therefore the pick) is identical.
    hits.groupBy(col("corpus_id"))
      .agg(max(struct(col("sim").as("s"), (-col("eval_id")).as("ni"))).as("__m"),
        count(lit(1)).as("n_matches"))
      .select(col("corpus_id"), (-col("__m.ni")).as("eval_id"),
        col("__m.s").as("best_sim"), col("n_matches"))
  }

  /** Bucketed k-NN graph: for each vector, the top-`k`
    * most-cosine-similar vectors sharing its sign-LSH bucket —
    * (src, dst, sim, rank). The scale form of an all-pairs k-NN graph:
    * candidates come from an equi-join on the bucket id (one keyed
    * shuffle, never the cross product), norms are hoisted into the
    * bucketed projection ([[semanticDedup]]'s argument), and the
    * per-src ranking runs through the bounded
    * [[graft.functions.TopK]] Aggregator — map-side partials keep ≤ k
    * candidates per src, so the post-join shuffle carries ≤ k·N rows
    * and one hot sign-bucket (a dense embedding cluster — the norm in
    * near-dup-heavy corpora) cannot become a |bucket|²-row sort task
    * the way a `row_number` window would. Ties break (sim DESC, dst
    * ASC), identical to the window form. Recall < 1 like any
    * LSH method: neighbors in other buckets are unseen — fewer
    * `planes` trades selectivity for recall. */
  def knnGraphLsh(emb: DataFrame, k: Int, planes: Int, dim: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // the bounded TopK aggregator ranks (sim, dst-as-long) pairs; a
    // non-numeric id would cast to null and be SILENTLY skipped,
    // returning a partial graph — fail fast instead (rank over a
    // numeric surrogate joined back if string ids are ever needed)
    val idType = emb.schema(idCol).dataType
    require(Seq("tinyint", "smallint", "int", "bigint")
        .contains(idType.simpleString),
      s"knnGraphLsh needs an integral id column; '$idCol' is " +
        s"${idType.simpleString} — rank over a numeric surrogate and join back")
    val b = signBuckets(emb, planes, dim, idCol, vecCol)
      .withColumn("__norm", l2Norm(col(vecCol)))
    val l = b.select(col("bucket"), col(idCol).as("src"),
      col(vecCol).as("__va"), col("__norm").as("__na"))
    val r = b.select(col("bucket"), col(idCol).as("dst"),
      col(vecCol).as("__vb"), col("__norm").as("__nb"))
    val scored = l.join(r, Seq("bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        (dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("sim"))
    scored.groupBy(col("src"))
      .agg(graft.functions.TopK.topK(k, col("sim"), col("dst").cast("long")).as("__top"))
      .select(col("src"), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col("src"), col("__t.id").as("dst"), col("__t.ord").as("sim"),
        (col("__pos") + 1).cast("long").as("rank"))
  }

  /** Mutual-k-NN semantic clustering — the corpus domain-discovery /
    * cluster-balanced-sampling operator: vectors `a` and `b` are
    * linked iff each is in the OTHER's bucketed top-`k`
    * ([[knnGraphLsh]]); connected components over those mutual edges
    * label the clusters. Mutuality is the standard density filter — a
    * hub appearing in thousands of one-way top-k lists links only to
    * the k it reciprocates, so clusters cannot collapse through hub
    * vectors. Returns every vector: (idCol, cluster), singletons
    * labeled by their own id.
    *
    * Scale shape: the graph is bucket-bounded ([[knnGraphLsh]]), the
    * mutuality check is a self-semi-join on the ≤ k·N edge table, and
    * the component state is bounded by the mutual-edge count — the
    * same contract as `Dedup.connectedComponents`. */
  def mutualKnnClusters(emb: DataFrame, k: Int, planes: Int, dim: Int,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val g = knnGraphLsh(emb, k, planes, dim, idCol, vecCol)
      .select("src", "dst").localCheckpoint()
    val mutual = g
      .join(g.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .filter(col("src") < col("dst"))
      .select(col("src").as("doc_a"), col("dst").as("doc_b"))
    val comps = Dedup.connectedComponents(mutual)
    emb.select(col(idCol))
      .join(comps.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("cluster"))
  }

  /** Int8 scalar quantization (the FAISS SQ8 serving format — 4×
    * smaller than float32 with per-vector range coding):
    * `code = floor((x − min)·255/(max − min))` clamped to 255 (only
    * the max element hits the clamp), constant vectors code to all
    * zeros. floor, not round: floor is tie-free, so the codes are
    * bit-identical on every engine. Emits the exact code array plus
    * the (min, max) dequantization range and the worst absolute
    * reconstruction error bound `(max−min)/255`. Narrow, zero
    * shuffle. */
  def sq8Quantize(emb: DataFrame, idCol: String = "emb_id",
                  vecCol: String = "vec"): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val mn = array_min(v)
    val mx = array_max(v)
    val codes = when(mx === mn, transform(v, _ => lit(0)))
      .otherwise(transform(v, x => least(
        floor((x - mn) * 255.0 / (mx - mn)).cast("int"), lit(255))))
    emb.select(col(idCol), codes.as("codes"), mn.as("q_min"), mx.as("q_max"),
      when(mx === mn, lit(0.0)).otherwise((mx - mn) / 255.0)
        .as("max_abs_err"))
  }
}
