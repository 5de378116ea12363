package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.Tables
import graft.ext.Dedup

/** The continuous-curation loop — the production composition of
  * streaming JSONL ingestion (`sources.CorpusIO.readJsonlStream`) with
  * incremental near-dup screening (`ext.Dedup.incrementalCandidatePairs`):
  * a landing directory is tailed as a Structured Streaming source, and
  * each micro-batch (today's crawl drop) is screened against the
  * PERSISTED band index of everything accepted so far; batch documents
  * that near-dup an indexed document are dropped, and the survivors'
  * bands are appended to the index so the NEXT batch screens against
  * them too.
  *
  * Scale contract (inherited from the batch form, q96): the accumulated
  * corpus is never re-shingled and its band index is never reshuffled —
  * per batch, the only per-corpus work is the band-index scan probing
  * the broadcast batch bands. Everything batch-sized (content hashes,
  * band keys, exact and within-batch near-dup collapse, the dropped
  * ids) is screened on the driver: the broadcast probe already commits
  * the driver to `bands × |batch|` band rows, and these facts add one
  * hash per doc to it, so a micro-batch costs a fixed handful of Spark
  * jobs however many docs collapse. State lives entirely in two parquet
  * tables (the band index and the curated corpus); the streaming
  * checkpoint holds only source offsets, so the loop resumes after a
  * crash without rescreening delivered batches.
  *
  * Reference analogue: the incremental-ingest shape is this engine's
  * flagship extension of the reference's one-shot copy pipeline
  * (`CopyUtils.java:712-733`'s scan→filter→sink loop, run forever).
  */
object CurationStream {

  /** Screen ONE batch against the band index at `indexPath`, then
    * append the survivors to `corpusPath` and their bands to the
    * index. Returns the (existing, batch) candidate pairs that caused
    * drops — callers audit or sink them (`pairsPath` appends them as
    * parquet when set).
    *
    * Bootstrap: initialize `indexPath` once with the existing corpus's
    * bands (`Dedup.lshBands(Dedup.minhash(corpus, bands·rowsPerBand))`)
    * — or an empty frame of the same schema for a from-scratch corpus.
    * Id spaces of batches and corpus must be disjoint (enforce
    * upstream; crawl ids are content-addressed or monotone in
    * practice).
    *
    * In-batch duplicates: `dedupWithinBatch` additionally collapses
    * (a) byte-identical docs (keep smallest id) and (b) NEAR-dup
    * docs that entered in the same micro-batch — candidate pairs
    * among the batch's own bands, components collapsed to their
    * min-id representative (the same `Dedup.dedupCorpus` semantics as
    * the batch corpus-dedup pipeline). Same-day mirrors in one crawl
    * drop are caught here, not admitted. Within-batch drops are
    * audited in the returned pairs as (representative, dropped) rows,
    * so the pairs sink lists EVERY dropped doc as a `doc_b`.
    * Remaining greedy gap (inherent to incremental screening): a
    * transitive chain batch₁→batch₂→index where batch₁ near-dups only
    * batch₂ (itself index-dropped) keeps batch₁, where a full-corpus
    * rebuild's connected components would drop it too. The cure is
    * periodic [[compact]]: pass `droppedBandsPath` so dropped docs'
    * bands accumulate, and compaction replays the full component
    * structure to evict such admissions.
    *
    * Scale: one job pins the batch, one collects its screening facts
    * (per doc its id and content hash, per band its key) to the
    * driver, where exact dedup and the within-batch union-find run;
    * the index probe is a scan joined against the broadcast kept
    * bands (the index is never shuffled), and the dropped ids come
    * back to the driver deduplicated per partition. Driver memory is
    * bounded like the broadcast probe's, `bands × |batch|` rows, so
    * size batches with `maxFilesPerTrigger` upstream. The index and
    * graveyard appends are written from the driver's rows, the corpus
    * append is the pinned batch minus the dropped ids. */
  def screenBatch(batch: DataFrame, indexPath: String, corpusPath: String,
                  bands: Int, rowsPerBand: Int, shingleN: Int = 3,
                  idCol: String = "doc_id", textCol: String = "text",
                  pairsPath: Option[String] = None,
                  dedupWithinBatch: Boolean = true,
                  driftPath: Option[String] = None,
                  driftTokensPath: Option[String] = None,
                  batchId: Long = -1L,
                  droppedBandsPath: Option[String] = None,
                  qualityGate: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    // materialize the batch once: it feeds exact dedup, screening, the
    // band build and the corpus sink (micro-batch-sized, bounded by
    // maxFilesPerTrigger upstream)
    val incoming = batch.localCheckpoint()
    // drift monitoring (opt-in): compare the INCOMING drop's length
    // distribution against the accumulated corpus's PERSISTED
    // histogram — the alarm that today's crawl looks different. The
    // histograms merge by addition (associative long counts), so each
    // batch costs O(batch): the corpus is never re-scanned for drift.
    // Idempotency: foreachBatch is at-least-once, and double-merging a
    // replayed batch would poison the baseline PERMANENTLY — so every
    // batch (including the bootstrap, whose psi is null: no baseline
    // to compare against) writes its psi row FIRST as the processed
    // marker, and a batchId already present skips the whole block. A
    // crash between the marker and the histogram merge loses that one
    // batch's counts from the baseline — a bounded undercount, chosen
    // over the unbounded double-count the reverse order would allow
    // (the same non-transactional-appends trade the loop's corpus and
    // index sinks document). Callers invoking screenBatch directly
    // must pass distinct batchIds for drift to accumulate.
    driftPath.foreach { dp =>
      driftTick(dp, batchId,
        graft.ext.Corpus.lengthHist(
          incoming.withColumn("__len", length(col(textCol))), lenCol = "__len"))
    }
    // token-distribution drift (opt-in, same machinery): hashed-token
    // buckets catch the topic/language shifts a length histogram
    // cannot — run both monitors side by side under different paths
    driftTokensPath.foreach { dp =>
      driftTick(dp, batchId,
        graft.ext.Corpus.tokenHist(incoming, textCol = textCol))
    }
    // quality gate (opt-in): Gopher rule filter BEFORE any dedup work —
    // the production order, since the rule audit is a narrow scan while
    // shingling/banding is the expensive stage, and a rejected doc must
    // not poison the band index. Drift monitors stay on the RAW drop
    // (they watch what arrives, not what survives).
    val raw =
      if (!qualityGate) incoming
      else incoming.join(
        graft.ext.TextAnalysis.gopherRules(incoming, idCol = idCol, textCol = textCol)
          .filter(col("keep")).select(idCol),
        Seq(idCol), "left_semi").localCheckpoint()
    val idType = raw.schema(idCol).dataType
    val bandSchema = StructType(Seq(StructField(idCol, idType),
      StructField("band", IntegerType), StructField("band_key", StringType)))
    val pairSchema = StructType(Seq(StructField("doc_a", idType),
      StructField("doc_b", idType)))
    def local(rows: Iterable[Row], schema: StructType): DataFrame =
      spark.createDataFrame(rows.toSeq.asJava, schema)
    // the screening facts, collected in ONE job: a (id, content hash)
    // row per doc and an (id, band, band_key) row per band of each
    // shingleable doc — the exact expressions of `Dedup.exactByContent`
    // and `Dedup.lshBands(Dedup.minhash(…))`, so every key is
    // bit-identical to the distributed form's
    val docFacts = raw.select(col(idCol),
      md5(concat_ws("\u0000", col(textCol))).as("content_hash"),
      lit(null).cast(IntegerType).as("band"), lit(null).cast(StringType).as("band_key"))
    val bandFacts = Dedup.lshBands(
        Dedup.minhash(raw, bands * rowsPerBand, shingleN, idCol, textCol),
        bands, rowsPerBand, idCol)
      .select(col(idCol), lit(null).cast(StringType).as("content_hash"),
        col("band"), col("band_key"))
    val (docRows, bandFactRows) = docFacts.unionByName(bandFacts).collect()
      .toSeq.partition(_.isNullAt(2))
    val bandRows = bandFactRows.map(r => Row(r.get(0), r.getInt(2), r.getString(3)))
    val ord = idOrdering(idType)
    // exact dedup: the batch keeps the docs whose id is the minimum
    // (SQL `min`, nulls never win) of some content-hash group — by id,
    // as the old `raw ⋉ keep_id` semi-join did, so a null id never
    // survives it and a repeated id survives whole
    val kept: Any => Boolean =
      if (!dedupWithinBatch) _ => true
      else {
        val minId = mutable.HashMap.empty[String, Any]
        docRows.filterNot(_.isNullAt(0)).foreach { r =>
          val id = r.get(0)
          minId.updateWith(r.getString(1)) {
            case Some(m) if ord.lteq(m, id) => Some(m)
            case _ => Some(id)
          }
        }
        val keep = minId.valuesIterator.toSet
        id => id != null && keep(id)
      }
    // the batch's bands, one row per kept doc row and band: they feed
    // the within-batch collapse, the index probe and the index append
    val bBands = bandRows.filter(r => kept(r.get(0)))
    // within-batch near-dup collapse: (rep, dropped) per non-rep member
    // of every component of the shared-bucket graph, rep = min id —
    // the `candidatePairs` → `connectedComponents` result, with each
    // bucket star-linked through one member (O(bucket), not the O(n²)
    // pair expansion) into a driver union-find whose roots are minima
    val selfDrops: Seq[Row] =
      if (!dedupWithinBatch) Nil
      else {
        val parent = mutable.HashMap.empty[Any, Any]
        def find(x: Any): Any = {
          var r = x
          while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
          var y = x
          while (y != r) { val next = parent(y); parent(y) = r; y = next }
          r
        }
        bBands.groupBy(r => (r.getInt(1), r.getString(2))).valuesIterator
          .filter(_.length > 1)
          .foreach { members =>
            val first = members.head.get(0)
            members.tail.foreach { m =>
              val (ra, rb) = (find(first), find(m.get(0)))
              if (ra != rb) {
                if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
              }
            }
          }
        parent.keysIterator.toSeq.flatMap { id =>
          val rep = find(id)
          if (rep == id) None else Some(Row(rep, id))
        }
      }
    // the index probe: the one per-corpus scan, read with the known
    // band schema (no per-batch inference job) and joined against the
    // broadcast kept bands
    val existing = spark.read.schema(bandSchema).parquet(indexPath)
    val pairs = Dedup.incrementalCandidatePairsFromBands(existing,
        local(bBands.distinct, bandSchema), idCol)
      .unionByName(local(selfDrops, pairSchema))
      .localCheckpoint(eager = false)
    // every dropped doc_b, deduplicated per partition: bounded by the
    // batch, like the probe's broadcast side; this job also pins the
    // pairs. Null ids (possible only with `dedupWithinBatch = false`)
    // match no join key: such docs are never dropped and never indexed.
    val dupIds = pairs.select(col("doc_b")).rdd
      .mapPartitions(_.map(_.get(0)).filter(_ != null).toSet.iterator)
      .collect().toSet
    pairsPath.foreach(p => pairs.write.mode("append").parquet(p))
    // band graveyard (opt-in, feeds `compact`): the DROPPED docs'
    // bands, persisted so a periodic compaction can replay transitive
    // chains that route through a dropped doc — batch₁→batch₂→index
    // where batch₂ was index-dropped leaves batch₁ with no index match
    // today, but its link to batch₂'s graveyard bands convicts it at
    // compaction time. Exact-dup drops need no graveyard rows: their
    // bands are identical to the kept twin's, so any chain through
    // them also runs through the twin. Bounded by the duplicate mass.
    droppedBandsPath.foreach { gp =>
      local(bBands.filter(r => dupIds(r.get(0))), bandSchema)
        .write.mode("append").parquet(gp)
    }
    // append order: bands first, corpus second — a crash between the
    // two over-screens (a future near-dup of an unrecorded survivor is
    // dropped against its bands) rather than letting a duplicate in;
    // re-running the batch after restart is idempotent for screening
    // (same pairs) though the sinks append — dedupe downstream readers
    // on idCol or use a transactional table format in production
    // one file per batch: every later batch's probe scans these files
    local(bBands.filter(r => r.get(0) != null && !dupIds(r.get(0))), bandSchema)
      .coalesce(1).write.mode("append").parquet(indexPath)
    // the corpus keeps the batch's kept rows minus the drops, as the old
    // `b ⋉anti dupIds` did; the dropped ids filter as an in-set literal
    // (a broadcast of a driver-local frame would cost one more job)
    val droppedIds = (dupIds ++ docRows.iterator.map(_.get(0))
      .filter(id => id != null && !kept(id))).toSeq
    val notDropped = !col(idCol).isin(droppedIds: _*)
    raw.filter(
        if (dedupWithinBatch) col(idCol).isNotNull && notDropped
        else col(idCol).isNull || notDropped)
      .write.mode("append").parquet(corpusPath)
    pairs
  }

  /** Spark's own ordering of `t` over external (Row) values, so a
    * driver-side minimum picks the id SQL `min` would. */
  private def idOrdering(t: DataType): Ordering[Any] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(t)
    val ord = TypeUtils.getInterpretedOrdering(t)
    (a, b) => ord.compare(toCatalyst(a), toCatalyst(b))
  }

  /** The committed baseline-histogram versions under `dp/hist_v`:
    * (version, path), committed = the writer finished (`_SUCCESS`
    * present). Versions are the batch ids that merged them, so the
    * max committed version is always the most complete baseline. */
  private def histVersions(fs: org.apache.hadoop.fs.FileSystem,
                           dp: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val base = new org.apache.hadoop.fs.Path(s"$dp/hist_v")
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .flatMap(st => st.getPath.getName.toLongOption.map(_ -> st.getPath))
      .filter { case (_, p) =>
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) }
      .sortBy(_._1)
  }

  /** The current drift baseline histogram at monitor dir `dp`, if one
    * has been committed: the max committed version under `dp/hist_v`.
    * Public so dashboards/tests read the same baseline the monitor
    * compares against. */
  def driftBaseline(spark: org.apache.spark.sql.SparkSession,
                    dp: String): Option[DataFrame] = {
    val fs = new org.apache.hadoop.fs.Path(dp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    histVersions(fs, dp).lastOption
      .map { case (_, p) => Tables.parquet(spark, p.toString) }
  }

  /** One drift-monitor tick for one micro-batch: write the psi row
    * (the processed marker — idempotency under at-least-once replay),
    * then merge the batch histogram into the persisted baseline by
    * exact addition. Shared by the length and token monitors; the
    * count column is `n_obs` — observations in the monitored unit
    * (documents for the length monitor, tokens for the token
    * monitor), deliberately NOT `n_docs`.
    *
    * Crash atomicity: the merged baseline is written as a NEW version
    * `dp/hist_v/<batchId>` and readers take the max version with a
    * `_SUCCESS` marker — a crash mid-write leaves an uncommitted dir
    * and the previous baseline intact (the old in-place overwrite
    * could lose the ENTIRE baseline between delete and rewrite, an
    * unbounded loss where the documented trade is a one-batch
    * undercount). Older committed versions are pruned AFTER the new
    * commit; a crash mid-prune leaves extra versions, never fewer. */
  private def driftTick(dp: String, batchId: Long,
                        batchHist: org.apache.spark.sql.DataFrame): Unit = {
    val spark = batchHist.sparkSession
    val fs = new org.apache.hadoop.fs.Path(dp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val psiP = s"$dp/psi"
    val seen = fs.exists(new org.apache.hadoop.fs.Path(psiP)) &&
      !Tables.parquet(spark, psiP).filter(col("batch_id") === batchId).isEmpty
    if (!seen) {
      val bHist = batchHist.localCheckpoint()
      val versions = histVersions(fs, dp)
      val baseline = versions.lastOption
        .map { case (_, p) => Tables.parquet(spark, p.toString) }
      val psiRow = baseline match {
        case Some(hist) =>
          graft.ext.Corpus.psiFromHists(hist, bHist)
            .agg(sum(col("contrib")).as("psi"), sum(col("n_cur")).as("n_obs"))
        case None => bHist.agg(lit(null).cast("double").as("psi"),
          sum(col("n")).as("n_obs"))
      }
      psiRow.select(lit(batchId).as("batch_id"), col("psi"), col("n_obs"))
        .coalesce(1).write.mode("append").parquet(psiP)
      val merged = baseline match {
        case Some(hist) => hist.unionByName(bHist)
          .groupBy(col("bucket")).agg(sum(col("n")).as("n"))
        case None => bHist
      }
      // overwrite handles a replayed batch id whose psi marker was
      // lost: the rewrite is version-local, never the live baseline
      merged.coalesce(1).write.mode("overwrite")
        .parquet(s"$dp/hist_v/$batchId")
      versions.filter(_._1 != batchId)
        .foreach { case (_, p) => fs.delete(p, true) }
    }
  }

  /** Periodic full-index compaction — the cure for incremental
    * screening's transitive-chain gap ([[screenBatch]]'s documented
    * admission: batch₁→batch₂→index keeps batch₁ when batch₂ was
    * index-dropped, where a full-corpus rebuild's connected components
    * would drop it too). Re-runs `Dedup.candidatePairs` over the
    * WHOLE band universe — the live index plus the dropped-bands
    * graveyard [[screenBatch]] accumulates — takes connected
    * components, and removes every corpus doc that is not its
    * component's representative (min id — with the loop's monotone id
    * contract the representative is always an already-admitted doc,
    * so compacted stream output ≡ the batch `dedupCorpus` pipeline on
    * the union of all drops; CurationStreamSpec pins both).
    *
    * Writes compacted state OUT-OF-PLACE under `outDir`
    * (`index`/`corpus`/`dropped`): the operator swaps directories
    * after the job commits — in-place overwrite of a 100 TB corpus
    * behind a localCheckpoint is both an executor-storage commitment
    * and a crash-loses-everything window (the driftTick argument).
    * The compacted graveyard gains the newly-evicted docs' bands, so
    * future chains through THEM still convict.
    *
    * Scale shape: one bucket-bounded candidate generation over the
    * band universe (the q48 shape), CC state bounded by the duplicate
    * mass, two anti-joins; the corpus is scanned once and never
    * shuffled. Returns the evicted corpus ids. */
  def compact(spark: org.apache.spark.sql.SparkSession,
              indexPath: String, corpusPath: String,
              droppedBandsPath: String, outDir: String,
              idCol: String = "doc_id",
              maxBucket: Int = Int.MaxValue): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(droppedBandsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = Tables.parquet(spark, indexPath)
    val dead =
      if (fs.exists(new org.apache.hadoop.fs.Path(droppedBandsPath)))
        Tables.parquet(spark, droppedBandsPath)
      else live.limit(0)
    // .distinct(): at-least-once appends can duplicate graveyard rows;
    // duplicate ids in one bucket would only add self-pairs, but the
    // dedup keeps the bucket arrays honest
    val allBands = live.unionByName(dead).distinct()
    val pairs = Dedup.candidatePairs(allBands, idCol, maxBucket)
      .localCheckpoint()
    val losers = Dedup.connectedComponents(pairs, idCol = idCol)
      .filter(col("comp") =!= col(idCol))
      .select(col(idCol))
      .localCheckpoint() // bounded by the duplicate mass
    val corpus = Tables.parquet(spark, corpusPath)
    val evicted = corpus.select(col(idCol))
      .join(losers, Seq(idCol), "left_semi")
      .localCheckpoint()
    corpus.join(losers, Seq(idCol), "left_anti")
      .write.mode("overwrite").parquet(s"$outDir/corpus")
    live.join(losers, Seq(idCol), "left_anti")
      .write.mode("overwrite").parquet(s"$outDir/index")
    dead.unionByName(live.join(evicted, Seq(idCol), "left_semi"))
      .distinct()
      .write.mode("overwrite").parquet(s"$outDir/dropped")
    evicted
  }

  /** Wire [[screenBatch]] under a streaming source: every micro-batch
    * of `landing` (use `CorpusIO.readJsonlStream` — its
    * `maxFilesPerTrigger` bounds batch size) is screened against the
    * index accumulated by all prior batches, stream- and
    * restart-ordered by the Structured Streaming checkpoint at
    * `checkpointDir`. */
  /** Streaming `.warc.gz` ingest — the crawl-drop front end of the
    * curation loop: a landing directory of archive payloads
    * (doc_id, warc_gz) is tailed as a stream, each archive explodes
    * to records through the bounded CRC-verified kernel pipeline
    * ([[graft.ext.TextAnalysis.warcParseGzFile]] — corrupt archives
    * vanish whole, the audit row stays in the landing table), the
    * HTTP-200 gate keeps real pages, and the extracted text appends
    * to `corpusPath` as (doc_id, rec_idx, url, text). Every
    * transform is narrow and stream-safe, so this is a PLAIN
    * streaming sink — no foreachBatch state: the checkpoint holds
    * source offsets only, exactly-once into the parquet sink. The
    * appended corpus feeds [[curateStream]]'s dedup loop next. */
  def warcGzIngestStream(landing: DataFrame, corpusPath: String,
                         checkpointDir: String,
                         trigger: Trigger = Trigger.AvailableNow(),
                         maxTotalOut: Long = 1L << 33): StreamingQuery =
    graft.ext.TextAnalysis.warcParseGzFile(landing, maxTotalOut = maxTotalOut)
      .filter(col("http_status") === 200)
      .select(col("doc_id"), col("rec_idx"),
        col("target_uri").as("url"),
        graft.ext.TextAnalysis.htmlToText(col("body")).as("text"))
      .writeStream
      .format("parquet")
      .option("path", corpusPath)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  def curateStream(landing: DataFrame, indexPath: String, corpusPath: String,
                   checkpointDir: String, bands: Int, rowsPerBand: Int,
                   shingleN: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   pairsPath: Option[String] = None,
                   trigger: Trigger = Trigger.AvailableNow(),
                   driftPath: Option[String] = None,
                   driftTokensPath: Option[String] = None,
                   droppedBandsPath: Option[String] = None,
                   qualityGate: Boolean = false): StreamingQuery =
    landing.writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        screenBatch(b, indexPath, corpusPath, bands, rowsPerBand, shingleN,
          idCol, textCol, pairsPath, dedupWithinBatch = true,
          driftPath = driftPath, driftTokensPath = driftTokensPath,
          batchId = batchId, droppedBandsPath = droppedBandsPath,
          qualityGate = qualityGate)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
