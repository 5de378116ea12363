package graft.streaming

import java.nio.file.Files

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.ext.Dedup
import graft.sources.CorpusIO

/** The continuous-curation loop end to end: JSONL landing directory →
  * micro-batch screening against the persisted band index → survivors
  * appended to the corpus, their bands to the index. The contract: the
  * stream-accumulated screening equals the one-shot batch form (q96)
  * on the same inputs, and the corpus sink holds exactly the
  * un-dropped batch documents. */
class CurationStreamSpec extends SparkSpec {
  import spark.implicits._

  test("stream-accumulated screening ≡ batch incremental screening; " +
    "corpus sink = batch minus drops") {
    val docs = load("documents")
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val batchDocs = docs.filter(col("doc_id") % 10 === 0)
    val root = Files.createTempDirectory("graft-curate").toString
    val (landing, index, corpus, pairsDir, ckpt) =
      (s"$root/landing", s"$root/index", s"$root/corpus", s"$root/pairs", s"$root/ckpt")

    // bootstrap: the accepted corpus's band index, persisted once
    Dedup.lshBands(Dedup.minhash(existing, k = 6), bands = 3, rowsPerBand = 2)
      .write.parquet(index)
    // land the batch as several JSONL files; maxFilesPerTrigger=1
    // forces MULTIPLE micro-batches, so later batches must screen
    // against earlier batches' appended bands too
    CorpusIO.writeJsonl(batchDocs.repartition(3), landing)

    val q = CurationStream.curateStream(
      CorpusIO.readJsonlStream(spark, landing, maxFilesPerTrigger = 1),
      index, corpus, ckpt, bands = 3, rowsPerBand = 2,
      pairsPath = Some(pairsDir))
    assert(q.awaitTermination(180000), "stream did not drain in time")

    val gotPairs = spark.read.parquet(pairsDir)
      .as[(Long, Long)].collect().toSet
    // the batch-mode reference (q96's shape) over the same inputs:
    // every (existing, batch) cross pair must be found by the stream
    // regardless of which micro-batch the new doc arrived in
    val eb = Dedup.lshBands(Dedup.minhash(existing, k = 6), bands = 3, rowsPerBand = 2)
    val wantCross = Dedup.incrementalCandidatePairs(eb, batchDocs,
      bands = 3, rowsPerBand = 2).as[(Long, Long)].collect().toSet
    val existingIds = existing.select("doc_id").as[Long].collect().toSet
    assert(wantCross.nonEmpty)
    assert(gotPairs.filter(p => existingIds(p._1)) == wantCross)

    // corpus sink: exactly the batch docs that were never a doc_b of a
    // screening pair (cross-batch drops included), each exactly once
    val sunk = spark.read.parquet(corpus).select("doc_id").as[Long].collect()
    val batchIds = batchDocs.select("doc_id").as[Long].collect().toSet
    val dropped = gotPairs.map(_._2)
    assert(sunk.length == sunk.distinct.length, "a survivor landed twice")
    assert(sunk.toSet == batchIds -- dropped)

    // and the index grew by exactly the survivors' bands: a fresh
    // batch screening against it sees existing + survivors
    val idxIds = spark.read.parquet(index)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(idxIds == existingIds ++ (batchIds -- dropped))
  }

  test("drift monitoring: per-batch PSI vs the accumulated histogram, O(batch) state") {
    import graft.ext.Corpus
    val docs = load("documents")
    val d1 = docs.filter(col("doc_id") % 3 === 0)
    val d2 = docs.filter(col("doc_id") % 3 === 1)
    val root = Files.createTempDirectory("graft-drift").toString
    val (landing, index, corpus, ckpt, drift) =
      (s"$root/landing", s"$root/index", s"$root/corpus", s"$root/ckpt", s"$root/drift")
    // empty band index bootstrap
    Dedup.lshBands(Dedup.minhash(docs.limit(0), k = 6), bands = 3, rowsPerBand = 2)
      .write.parquet(index)
    // two drops → two micro-batches (one file each)
    CorpusIO.writeJsonl(d1.coalesce(1), landing)
    val q1 = CurationStream.curateStream(
      CorpusIO.readJsonlStream(spark, landing, maxFilesPerTrigger = 1),
      index, corpus, ckpt, bands = 3, rowsPerBand = 2, driftPath = Some(drift))
    assert(q1.awaitTermination(180000))
    CorpusIO.writeJsonl(d2.coalesce(1), s"$root/landing2")
    // same landing dir contract as the resume test: move the new drop's
    // part files (".json") into the watched directory
    new java.io.File(s"$root/landing2").listFiles().filter(_.getName.endsWith(".json"))
      .foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(landing, "drop2-" + f.getName))
      }
    val q2 = CurationStream.curateStream(
      CorpusIO.readJsonlStream(spark, landing, maxFilesPerTrigger = 1),
      index, corpus, ckpt, bands = 3, rowsPerBand = 2, driftPath = Some(drift))
    assert(q2.awaitTermination(180000))
    // every batch writes its marker row: the bootstrap with a null psi
    // (no baseline yet), the second with the real comparison
    val psi = spark.read.parquet(s"$drift/psi")
      .orderBy("batch_id")
      .select("psi", "n_obs").as[(Option[Double], Long)].collect()
    assert(psi.length == 2, s"expected two psi rows, got ${psi.toSeq}")
    assert(psi(0)._1.isEmpty && psi(0)._2 == d1.count())
    assert(psi(1)._2 == d2.count())
    // the streamed psi equals the batch computation on the same frames
    val want = Corpus.psiDrift(
        d1.withColumn("n_chars", length(col("text"))),
        d2.withColumn("n_chars", length(col("text"))))
      .agg(sum(col("contrib"))).as[Double].head()
    assert(psi(1)._1.contains(want), s"stream psi ${psi(1)._1} != batch psi $want")
    // the persisted histogram is the SUM of both drops' histograms
    val hist = CurationStream.driftBaseline(spark, drift).get
      .as[(Long, Long)].collect().toMap
    val wantHist = Corpus.lengthHist(
        d1.unionByName(d2).withColumn("__len", length(col("text"))), lenCol = "__len")
      .as[(Long, Long)].collect().toMap
    assert(hist == wantHist)

    // crash atomicity: a writer that died mid-write leaves an
    // UNCOMMITTED version dir (no _SUCCESS) — the baseline must still
    // read the last committed version, never zero out
    val dead = new java.io.File(s"$drift/hist_v/999")
    dead.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dead.getPath, "part-00000.parquet"),
      Array[Byte](0, 1, 2)) // torn write: garbage, no _SUCCESS marker
    val after = CurationStream.driftBaseline(spark, drift).get
      .as[(Long, Long)].collect().toMap
    assert(after == wantHist,
      "an uncommitted hist version must not shadow the committed baseline")
  }

  test("token-level drift monitor: stream psi ≡ batch tokenDrift; hist ≡ merged sum") {
    import graft.ext.Corpus
    val docs = load("documents")
    val d1 = docs.filter(col("doc_id") % 3 === 0)
    val d2 = docs.filter(col("doc_id") % 3 === 1)
    val root = Files.createTempDirectory("graft-tokdrift").toString
    val (landing, index, corpus, ckpt, drift) =
      (s"$root/landing", s"$root/index", s"$root/corpus", s"$root/ckpt", s"$root/tdrift")
    Dedup.lshBands(Dedup.minhash(docs.limit(0), k = 6), bands = 3, rowsPerBand = 2)
      .write.parquet(index)
    CorpusIO.writeJsonl(d1.coalesce(1), landing)
    val q1 = CurationStream.curateStream(
      CorpusIO.readJsonlStream(spark, landing, maxFilesPerTrigger = 1),
      index, corpus, ckpt, bands = 3, rowsPerBand = 2,
      driftTokensPath = Some(drift))
    assert(q1.awaitTermination(180000))
    CorpusIO.writeJsonl(d2.coalesce(1), s"$root/landing2")
    new java.io.File(s"$root/landing2").listFiles().filter(_.getName.endsWith(".json"))
      .foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(landing, "drop2-" + f.getName))
      }
    val q2 = CurationStream.curateStream(
      CorpusIO.readJsonlStream(spark, landing, maxFilesPerTrigger = 1),
      index, corpus, ckpt, bands = 3, rowsPerBand = 2,
      driftTokensPath = Some(drift))
    assert(q2.awaitTermination(180000))
    val psi = spark.read.parquet(s"$drift/psi")
      .orderBy("batch_id")
      .select("psi", "n_obs").as[(Option[Double], Long)].collect()
    assert(psi.length == 2 && psi(0)._1.isEmpty)
    val want = Corpus.tokenDrift(d1, d2)
      .agg(sum(col("contrib"))).as[Double].head()
    assert(psi(1)._1.contains(want), s"stream psi ${psi(1)._1} != batch psi $want")
    val hist = CurationStream.driftBaseline(spark, drift).get
      .as[(Long, Long)].collect().toMap
    val wantHist = Corpus.tokenHist(d1.unionByName(d2))
      .as[(Long, Long)].collect().toMap
    assert(hist == wantHist)
  }

  test("same-batch NEAR-dup (not byte-identical) docs collapse to one survivor; " +
    "stream ≡ the batch pipeline on the same drop") {
    val docs = load("documents")
    val existing = docs.filter(col("doc_id") < 100)
    // two near-dups sharing 48 of 49 shingles (J ≈ 0.98 — a same-day
    // mirror), plus an unrelated doc; all land in ONE micro-batch
    val base = (0 until 50).map(i => s"tok$i").mkString(" ")
    val batchDocs = Seq(
      (1000L, base, "en", "synth", base.length.toLong),
      (1001L, base + " zzz", "en", "synth", base.length + 4L),
      (1002L, (0 until 50).map(i => s"other$i").mkString(" "), "en", "synth", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val root = Files.createTempDirectory("graft-curate-self").toString
    val (landing, index, corpus, pairsDir, ckpt) =
      (s"$root/landing", s"$root/index", s"$root/corpus", s"$root/pairs", s"$root/ckpt")
    Dedup.lshBands(Dedup.minhash(existing, k = 6), bands = 3, rowsPerBand = 2)
      .write.parquet(index)
    CorpusIO.writeJsonl(batchDocs.coalesce(1), landing)

    val q = CurationStream.curateStream(
      CorpusIO.readJsonlStream(spark, landing),
      index, corpus, ckpt, bands = 3, rowsPerBand = 2,
      pairsPath = Some(pairsDir))
    assert(q.awaitTermination(180000), "stream did not drain in time")

    val sunk = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(sunk(1000L) && !sunk(1001L),
      "a same-batch near-dup pair must collapse to its min-id representative")
    assert(sunk(1002L), "the unrelated doc must survive")
    // the drop is audited as a (representative, dropped) pair
    val gotPairs = spark.read.parquet(pairsDir).as[(Long, Long)].collect().toSet
    assert(gotPairs((1000L, 1001L)))

    // stream result ≡ the batch pipeline on the same drop: within-batch
    // corpus dedup (CC, min-id rep) then incremental screen vs existing
    val selfP = Dedup.candidatePairs(
      Dedup.lshBands(Dedup.minhash(batchDocs, k = 6), bands = 3, rowsPerBand = 2))
    val d2 = Dedup.dedupCorpus(batchDocs, selfP)
    val eb = Dedup.lshBands(Dedup.minhash(existing, k = 6), bands = 3, rowsPerBand = 2)
    val crossDup = Dedup.incrementalCandidatePairs(eb, d2, bands = 3, rowsPerBand = 2)
      .select(col("doc_b").as("doc_id")).distinct()
    val want = d2.join(crossDup, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(sunk == want, "stream survivors must equal the batch pipeline's")
  }

  test("checkpoint resume: delivered batches are never rescreened; new drops are") {
    val docs = load("documents")
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val wave1 = docs.filter(col("doc_id") % 20 === 0)
    val wave2 = docs.filter(col("doc_id") % 20 === 10)
    val root = Files.createTempDirectory("graft-curate-resume").toString
    val (landing, index, corpus, ckpt) =
      (s"$root/landing", s"$root/index", s"$root/corpus", s"$root/ckpt")
    Dedup.lshBands(Dedup.minhash(existing, k = 6), bands = 3, rowsPerBand = 2)
      .write.parquet(index)

    def drain(): Unit = {
      val q = CurationStream.curateStream(
        CorpusIO.readJsonlStream(spark, landing),
        index, corpus, ckpt, bands = 3, rowsPerBand = 2)
      assert(q.awaitTermination(180000))
    }
    // wave 1 lands and drains; restarting on the SAME checkpoint with no
    // new files must process nothing (sink unchanged — exactly-once)
    CorpusIO.writeJsonl(wave1, landing)
    drain()
    val afterWave1 = spark.read.parquet(corpus).count()
    drain()
    assert(spark.read.parquet(corpus).count() == afterWave1,
      "restart rescreened already-delivered batches")
    // wave 2 arrives as EXTRA files in the landing dir; a restarted
    // stream picks up only the new files
    val tmp = s"$root/wave2"
    CorpusIO.writeJsonl(wave2, tmp)
    import java.nio.file.{Files => JFiles, Paths}
    JFiles.list(Paths.get(tmp)).forEach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".json")) // spark json part files
        JFiles.move(p, Paths.get(landing, "w2-" + name))
    }
    drain()
    val ids = spark.read.parquet(corpus).select("doc_id").as[Long].collect()
    assert(ids.length == ids.distinct.length, "a doc landed twice across restarts")
    val idSet = ids.toSet
    val w1 = wave1.select("doc_id").as[Long].collect().toSet
    val w2 = wave2.select("doc_id").as[Long].collect().toSet
    // every sunk doc came from exactly one wave, and wave 2 contributed
    assert(idSet.subsetOf(w1 ++ w2) && (idSet & w2).nonEmpty)
  }

  test("quality gate: stream with gate ≡ gopherRules-then-screen batch composition") {
    val docs = load("documents")
    val existing = docs.filter(col("doc_id") < 200)
    val batchDocs = docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
      // plant rule-violating docs: too short, and symbol soup
      .unionByName(Seq(
        (9001L, "tiny", "en", "synth", 4L),
        (9002L, ("@#$%! " * 60).trim, "en", "synth", 300L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val root = Files.createTempDirectory("graft-qgate").toString
    val (landing, index, corpus, ckpt) =
      (s"$root/landing", s"$root/index", s"$root/corpus", s"$root/ckpt")
    Dedup.lshBands(Dedup.minhash(existing, k = 6), bands = 3, rowsPerBand = 2)
      .write.parquet(index)
    CorpusIO.writeJsonl(batchDocs.coalesce(1), landing)
    val q = CurationStream.curateStream(
      CorpusIO.readJsonlStream(spark, landing),
      index, corpus, ckpt, bands = 3, rowsPerBand = 2, qualityGate = true)
    assert(q.awaitTermination(180000))
    val sunk = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(!sunk(9001L) && !sunk(9002L), "rule-violating docs must be gated out")
    // equivalence: batch composition = gopher filter, then the same
    // exact+near dedup screen against the existing index
    val gated = batchDocs.join(
      graft.ext.TextAnalysis.gopherRules(batchDocs).filter(col("keep"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
    val keep = Dedup.exactByContent(gated, "doc_id", Seq("text"))
      .select(col("keep_id").as("doc_id"))
    val d1 = gated.join(keep, Seq("doc_id"), "left_semi")
    val selfP = Dedup.candidatePairs(
      Dedup.lshBands(Dedup.minhash(d1, k = 6), bands = 3, rowsPerBand = 2))
    val d2 = Dedup.dedupCorpus(d1, selfP)
    val eb = Dedup.lshBands(Dedup.minhash(existing, k = 6), bands = 3, rowsPerBand = 2)
    val crossDup = Dedup.incrementalCandidatePairs(eb, d2, bands = 3, rowsPerBand = 2)
      .select(col("doc_b").as("doc_id")).distinct()
    val want = d2.join(crossDup, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(sunk == want, s"extra=${sunk -- want} missing=${want -- sunk}")
    // the gated docs' bands must NOT have entered the index
    val idx = spark.read.parquet(index).select("doc_id").as[Long].collect().toSet
    assert(!idx(9001L) && !idx(9002L))
  }

  test("compact evicts a transitive-chain admission routed through a dropped doc") {
    // chain X (indexed) ← Y (batch 1, dropped vs X) ← Z (batch 2):
    // Z near-dups only Y, so incremental screening admits Z; the
    // band graveyard + compact must evict it. The fixture is found by
    // a deterministic search over mutation sizes: minhash is seeded,
    // so the first (a, b) whose band structure gives EXACTLY the
    // chain pairs is stable across runs.
    val base = (0 until 60).map(i => s"w$i")
    def doc(id: Long, toks: Seq[String]) = {
      val t = toks.mkString(" ")
      (id, t, "en", "synth", t.length.toLong)
    }
    def fixture(a: Int, b: Int) = {
      val y = base.indices.map(i => if (i < a) s"y$i" else base(i))
      val z = y.indices.map(i => if (i >= 60 - b) s"z$i" else y(i))
      (doc(10L, base), doc(1001L, y), doc(2001L, z))
    }
    val found = (for {
      a <- 5 to 30 by 5; b <- 5 to 30 by 5
      (x, y, z) = fixture(a, b)
      pairs = Dedup.candidatePairs(
        Dedup.lshBands(Dedup.minhash(
          Seq(x, y, z).toDF("doc_id", "text", "lang", "source", "n_chars"),
          k = 6), bands = 3, rowsPerBand = 2))
        .as[(Long, Long)].collect().toSet
      if pairs == Set((10L, 1001L), (1001L, 2001L))
    } yield (x, y, z)).headOption
    assert(found.isDefined, "no mutation size gives the X←Y←Z chain band structure")
    val (x, y, z) = found.get

    val root = Files.createTempDirectory("graft-compact").toString
    val (landing, index, corpus, dropped, ckpt, out) =
      (s"$root/landing", s"$root/index", s"$root/corpus",
        s"$root/dropped", s"$root/ckpt", s"$root/out")
    val xDf = Seq(x).toDF("doc_id", "text", "lang", "source", "n_chars")
    Dedup.lshBands(Dedup.minhash(xDf, k = 6), bands = 3, rowsPerBand = 2)
      .write.parquet(index)
    xDf.write.parquet(corpus) // the pre-existing accepted corpus

    def drain(): Unit = {
      val q = CurationStream.curateStream(
        CorpusIO.readJsonlStream(spark, landing),
        index, corpus, ckpt, bands = 3, rowsPerBand = 2,
        droppedBandsPath = Some(dropped))
      assert(q.awaitTermination(180000))
    }
    CorpusIO.writeJsonl(Seq(y).toDF("doc_id", "text", "lang", "source", "n_chars"), landing)
    drain() // Y dropped vs X; its bands land in the graveyard
    val tmp = s"$root/b2"
    CorpusIO.writeJsonl(Seq(z).toDF("doc_id", "text", "lang", "source", "n_chars"), tmp)
    import java.nio.file.{Files => JFiles, Paths}
    JFiles.list(Paths.get(tmp)).forEach { p =>
      if (p.getFileName.toString.endsWith(".json"))
        JFiles.move(p, Paths.get(landing, "b2-" + p.getFileName.toString))
    }
    drain() // Z screens clean (Y is not in the index) — the greedy gap
    val streamed = spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet
    assert(streamed == Set(10L, 2001L),
      s"premise: Y dropped, Z admitted through the gap; got $streamed")

    val evicted = CurationStream.compact(spark, index, corpus, dropped, out)
      .as[Long].collect().toSet
    assert(evicted == Set(2001L), s"compact must evict exactly Z, got $evicted")
    val compacted = spark.read.parquet(s"$out/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(compacted == Set(10L))
    // the compacted index holds only live docs' bands; the graveyard
    // gained Z's bands so future chains through Z still convict
    val idxIds = spark.read.parquet(s"$out/index")
      .select("doc_id").as[Long].collect().toSet
    assert(idxIds == Set(10L))
    val deadIds = spark.read.parquet(s"$out/dropped")
      .select("doc_id").as[Long].collect().toSet
    assert(deadIds == Set(1001L, 2001L))
  }

  test("stream + compact ≡ the batch dedup pipeline on the union of all drops") {
    val docs = load("documents")
    // monotone id spaces: existing < wave1 < wave2 (the loop's id
    // contract, and what makes min-id representatives always live)
    val existing = docs.filter(col("doc_id") < 300)
    val wave1 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 600)
      .withColumn("doc_id", col("doc_id") + 10000L)
    val wave2 = docs.filter(col("doc_id") >= 600 && col("doc_id") < 900)
      .withColumn("doc_id", col("doc_id") + 20000L)
    val root = Files.createTempDirectory("graft-compact-eq").toString
    val (landing, index, corpus, dropped, ckpt, out) =
      (s"$root/landing", s"$root/index", s"$root/corpus",
        s"$root/dropped", s"$root/ckpt", s"$root/out")
    Dedup.lshBands(Dedup.minhash(existing, k = 6), bands = 3, rowsPerBand = 2)
      .write.parquet(index)
    existing.write.parquet(corpus)
    def drain(): Unit = {
      val q = CurationStream.curateStream(
        CorpusIO.readJsonlStream(spark, landing),
        index, corpus, ckpt, bands = 3, rowsPerBand = 2,
        droppedBandsPath = Some(dropped))
      assert(q.awaitTermination(180000))
    }
    CorpusIO.writeJsonl(wave1.coalesce(1), landing)
    drain()
    val tmp = s"$root/w2"
    CorpusIO.writeJsonl(wave2.coalesce(1), tmp)
    import java.nio.file.{Files => JFiles, Paths}
    JFiles.list(Paths.get(tmp)).forEach { p =>
      if (p.getFileName.toString.endsWith(".json"))
        JFiles.move(p, Paths.get(landing, "w2-" + p.getFileName.toString))
    }
    drain()
    CurationStream.compact(spark, index, corpus, dropped, out)
    val got = spark.read.parquet(s"$out/corpus")
      .select("doc_id").as[Long].collect().toSet

    val union = existing.unionByName(wave1).unionByName(wave2)
    val want = Dedup.dedupCorpus(union,
        Dedup.candidatePairs(Dedup.lshBands(
          Dedup.minhash(union, k = 6), bands = 3, rowsPerBand = 2)))
      .select("doc_id").as[Long].collect().toSet
    assert(got == want,
      s"compacted stream corpus diverges from the full rebuild: " +
        s"extra=${got -- want} missing=${want -- got}")
  }

  /** The distributed composition `screenBatch` replaced, built from the
    * unchanged `Dedup` primitives: exact dedup by content hash, bands,
    * within-batch candidate pairs collapsed by `connectedComponents`,
    * the broadcast index probe, then the graveyard, index and corpus
    * appends. The equivalence tests hold the driver-side form to it. */
  private def referenceScreen(raw: DataFrame, indexPath: String, corpusPath: String,
                              pairsPath: String, droppedBandsPath: String,
                              dedupWithinBatch: Boolean): DataFrame = {
    val (bands, rowsPerBand, idCol) = (3, 2, "doc_id")
    val b =
      if (!dedupWithinBatch) raw
      else raw.join(Dedup.exactByContent(raw, idCol, Seq("text"))
        .select(col("keep_id").as(idCol)), Seq(idCol), "left_semi")
    val bBands = Dedup.lshBands(Dedup.minhash(b, bands * rowsPerBand), bands, rowsPerBand)
      .localCheckpoint()
    val selfPairs =
      if (dedupWithinBatch) Dedup.candidatePairs(bBands, idCol).localCheckpoint()
      else Dedup.candidatePairs(bBands.limit(0), idCol)
    val selfDrops =
      if (selfPairs.isEmpty) selfPairs.select(col("doc_a"), col("doc_b"))
      else Dedup.connectedComponents(selfPairs, idCol = idCol)
        .filter(col("comp") =!= col(idCol))
        .select(col("comp").as("doc_a"), col(idCol).as("doc_b"))
    val pairs = Dedup.incrementalCandidatePairsFromBands(
        spark.read.parquet(indexPath), bBands, idCol)
      .unionByName(selfDrops)
      .localCheckpoint()
    pairs.write.mode("append").parquet(pairsPath)
    val dupIds = pairs.select(col("doc_b").as(idCol)).distinct()
    val survivors = b.join(dupIds, Seq(idCol), "left_anti").localCheckpoint()
    bBands.join(dupIds, Seq(idCol), "left_semi")
      .write.mode("append").parquet(droppedBandsPath)
    bBands.join(survivors.select(idCol), Seq(idCol), "left_semi")
      .write.mode("append").parquet(indexPath)
    survivors.write.mode("append").parquet(corpusPath)
    pairs
  }

  /** Rows as a sorted multiset, nulls included. */
  private def bag(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  /** A drop with every case the screen must keep apart: exact twins (of
    * each other and of an indexed doc), a bucket of 220 near-identical
    * docs, a near-dup of an indexed doc, docs too short to shingle, a
    * null text, a repeated doc_id (same and different text), and null
    * doc_ids (one an exact copy of an indexed doc). */
  private def edgeBatch(existing: DataFrame): DataFrame = {
    val indexed = existing.orderBy("doc_id").select("text").as[String].take(2)
    val base = (0 until 60).map(i => s"base$i").mkString(" ")
    val other = (0 until 40).map(i => s"other$i").mkString(" ")
    val near = indexed(1).split(' ').updated(0, "perturbed").mkString(" ")
    val rows: Seq[(java.lang.Long, String)] =
      Seq[(java.lang.Long, String)](
        (100001L, other), (100002L, other), (100003L, indexed(0)),
        (100004L, near),
        (100005L, "too short"), (100006L, "too short"), (100007L, ""),
        (100008L, null), (100009L, null),
        (100010L, other + " again"), (100010L, other + " again"),
        (100011L, "word " * 3 + "x"), (100011L, other),
        (null, indexed(1)), (null, "a lone null id doc with enough words"),
        (100012L, other + " once more")) ++
      (0 until 220).map(i => (java.lang.Long.valueOf(100100L + i), s"$base tail$i"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromTuple), 3),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
  }

  private def equivalence(idType: DataType, dedupWithinBatch: Boolean): Unit = {
    val docs = load("documents").select(col("doc_id").cast(idType).as("doc_id"), col("text"))
    val existing = docs.filter(col("doc_id") < 300)
    val batch = edgeBatch(existing).select(col("doc_id").cast(idType).as("doc_id"), col("text"))
      .localCheckpoint()
    val root = Files.createTempDirectory("graft-screen-eq").toString
    val bootIndex = Dedup.lshBands(Dedup.minhash(existing, k = 6), bands = 3, rowsPerBand = 2)
    Seq("got", "want").foreach { side =>
      bootIndex.write.parquet(s"$root/$side/index")
      existing.limit(10).write.parquet(s"$root/$side/corpus")
    }
    def dir(side: String, t: String) = s"$root/$side/$t"
    val got = CurationStream.screenBatch(batch, dir("got", "index"), dir("got", "corpus"),
      bands = 3, rowsPerBand = 2, pairsPath = Some(dir("got", "pairs")),
      dedupWithinBatch = dedupWithinBatch,
      droppedBandsPath = Some(dir("got", "dropped")))
    val want = referenceScreen(batch, dir("want", "index"), dir("want", "corpus"),
      dir("want", "pairs"), dir("want", "dropped"), dedupWithinBatch)
    assert(got.schema.map(_.dataType) == Seq(idType, idType))
    assert(bag(got) == bag(want), "returned pairs")
    // premise: the drop reaches the index probe and, when on, the
    // within-batch collapse of the near-identical bucket; without it a
    // null-id doc near-dups the index
    val drops = want.collect().map(_.get(1))
    if (dedupWithinBatch) assert(drops.length > 200, s"${drops.length} drops")
    else assert(drops.contains(null), "no null-id drop")
    Seq("pairs", "dropped", "index", "corpus").foreach { t =>
      val (g, w) = (spark.read.parquet(dir("got", t)), spark.read.parquet(dir("want", t)))
      assert(g.schema == w.schema, s"$t schema")
      assert(bag(g) == bag(w), s"$t rows")
    }
  }

  test("screenBatch ≡ the distributed Dedup composition: exact twins, a 220-doc " +
    "near-dup bucket, short, null-text, repeated-id and null-id docs") {
    equivalence(LongType, dedupWithinBatch = true)
  }

  test("screenBatch ≡ the distributed Dedup composition with dedupWithinBatch = false") {
    equivalence(LongType, dedupWithinBatch = false)
  }

  test("screenBatch ≡ the distributed Dedup composition on Int ids") {
    equivalence(IntegerType, dedupWithinBatch = true)
    equivalence(IntegerType, dedupWithinBatch = false)
  }

  test("screenBatch screens a micro-batch in at most 8 Spark jobs") {
    val docs = load("documents")
    val existing = docs.filter(col("doc_id") < 300)
    val batch = edgeBatch(existing).localCheckpoint()
    val root = Files.createTempDirectory("graft-screen-jobs").toString
    Dedup.lshBands(Dedup.minhash(existing, k = 6), bands = 3, rowsPerBand = 2)
      .write.parquet(s"$root/index")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      CurationStream.screenBatch(batch, s"$root/index", s"$root/corpus",
        bands = 3, rowsPerBand = 2)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() <= 8, s"screenBatch ran ${jobs.get()} jobs")
    // and it screened: the twins, the bucket and the index near-dups went
    val sunk = spark.read.parquet(s"$root/corpus").select("doc_id").as[Long].collect().toSet
    assert(sunk(100001L) && !sunk(100002L) && !sunk(100003L) && sunk(100100L) &&
      !sunk(100101L))
  }
}
