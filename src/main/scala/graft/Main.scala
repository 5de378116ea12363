package graft

import org.apache.spark.sql.SparkSession

/** Command-line entry point — the parity counterpart of the
  * reference's script-binding main (`Main.java:61-211`, which wires a
  * Groovy DSL's `copyTree`/`deleteTree`/`copy` closures to live
  * connections). Here the same verbs wire argv to the [[Graft]] API;
  * a target argument starting with `jdbc:` executes live, anything
  * else is a dump directory.
  *
  * {{{
  * graft.Main copy-tree   --data DIR --target (DIR|jdbc:URL)
  *                        --path "PARENT->CHILD.FK" [--path …]
  *                        --root TABLE --ids 1,2,3
  * graft.Main delete-tree (same flags as copy-tree)
  * graft.Main copy        --data DIR --target (DIR|jdbc:URL) --tables a,b,c
  * graft.Main update      --data DIR --target (DIR|jdbc:URL)
  *                        --table T --delta PARQUET_DIR --pk COL
  * graft.Main replay      --dump DIR --url jdbc:URL
  * graft.Main other-objects --source-url jdbc:URL --target (DIR|jdbc:URL)
  *                          [--src-schema S]
  * graft.Main curate-stream --landing DIR --index DIR --corpus DIR
  *                          --checkpoint DIR [--bands 3 --rows-per-band 2]
  *                          [--pairs DIR] [--follow true]
  * }}}
  *
  * Writes against a production-looking JDBC URL require
  * `--allow-production true` (the reference's guard,
  * `CopyUtils.java:34-39`).
  */
object Main {

  private val usageText = """usage:
    |  copy-tree   --data DIR --target (DIR|jdbc:URL) --path P [--path P…] --root T --ids 1,2,3
    |  delete-tree --data DIR --target (DIR|jdbc:URL) --path P [--path P…] --root T --ids 1,2,3
    |  copy        --data DIR --target (DIR|jdbc:URL) --tables a,b,c
    |  update      --data DIR --target (DIR|jdbc:URL) --table T --delta PARQUET_DIR --pk COL
    |  replay      --dump DIR --url jdbc:URL
    |  other-objects --source-url jdbc:URL --target (DIR|jdbc:URL) [--src-schema S]
    |  ingest-jsonl --path DIR --target DIR
    |  export-jsonl --path DIR --target DIR
    |  curate-stream --landing DIR --index DIR --corpus DIR --checkpoint DIR
    |                [--bands 3 --rows-per-band 2] [--pairs DIR] [--follow true]
    |                [--drift DIR] [--drift-tokens DIR] [--dropped-bands DIR]
    |                [--quality-gate true]
    |  compact       --index DIR --corpus DIR --dropped DIR --target DIR
    |  ingest-embeddings --landing DIR --index DIR --checkpoint DIR
    |                [--planes 4 --dim 64] [--follow true]
    |  bpe-train     --corpus PARQUET_DIR --merges N --target DIR
    |  unigram-train --corpus PARQUET_DIR --target DIR [--rounds 2 --vocab-size 20]
    |                [--prune-to N]
    |  encode-corpus --corpus PARQUET_DIR --vocab DIR --method bpe|unigram --target DIR
    |  train-quality --corpus PARQUET_DIR --label-source-prefix P --target DIR
    |                [--buckets 64 --steps 3 --lr 0.5]
    |  prepare-corpus --corpus PARQUET_DIR --target DIR
    |                [--bands 3 --rows-per-band 2] [--max-docs-per-source N]
    |                [--scrub unicode|ascii] [--drop-secrets MINLEN]
    |  select-data   --corpus PARQUET_DIR --target-source-prefix P --k N --target DIR
    |                [--method moore-lewis|dsir]
    |  snapshot-diff --prev PARQUET_DIR --next PARQUET_DIR --id COL --cols a,b,c --target DIR
    |  prepare-code  --files PARQUET_DIR --target DIR
    |  chunk-corpus  --corpus PARQUET_DIR --target DIR [--size 512 --overlap 64]
    |  score-eval    --preds PARQUET_DIR --target DIR
    |  mine-bitext   --src PARQUET_DIR --tgt PARQUET_DIR --target DIR
    |                [--planes 4 --dim 64 --k 4 --threshold 1.05]
    |  ingest-warc   --landing DIR --corpus DIR --checkpoint DIR [--follow true]
    |  extract-archive --payloads PARQUET_DIR --format F --target DIR
    |                F: warc-gz|tar|tar-gz|tar-xz|tar-zst|tar-bz2|tar-lz4|tar-sz|docx|pptx|xlsx|xlsx-cells|xls-cells
    |                   |doc|ppt|rtf|odf|ods-cells|docx-full
    |                   |zip-list|7z-list|7z-members|pdf|id3|epub|epub-chapters|avro-schema
    |                   |avro-blocks|avro-records|bson|msgpack|cbor|proto-fields
    |                   |bz2|zstd|xz|lz4|sz|mbox|cfb-meta|wiki-pages|wiki-corpus
    |                   |parquet-meta|parquet-stats|parquet-page-index|parquet-bloom|orc-meta|orc-stripes|orc-column-stats|arrow-meta
    |                   |mp3-duration|image-dhash|gif-frames|webp-frames|xlsx-sheets|ico|tiff-dhash|flac-tags|wav-info
    |                   |tar-z|unlzw|lzma|ar-list|deb-control|cpio-list|rpm-info|rpm-files
    |                   |aiff|binary-meta|font-meta|woff-font|midi|subtitles
    |                   |ass-subtitles|rar-list|wasm-meta|png-meta|mp4-tracks
    |                (payloads: doc_id + the format's payload column)
    |  ingest-avro  --path DIR --target DIR [--ddl "a BIGINT, b STRING"]
    |  ingest-bson/-msgpack/-cbor --path DIR --ddl "a BIGINT, t STRING" --target DIR
    |  ingest-jsonl-zst --path DIR --target DIR
    |                (.jsonl.zst shards via the bounded zstd kernel)
    |  delta-snapshot --table DIR --target DIR   (live-file census)
    |  delta-history  --table DIR --target DIR   (per-commit audit)
    |  delta-meta     --table DIR --target DIR   (schema/protocol/size)
    |  delta-tail     --table DIR --target DIR --checkpoint DIR
    |                 [--follow true]           (streaming commit tail)
    |  iceberg-snapshot --table DIR --target DIR  (live data files)
    |  iceberg-meta   --table DIR --target DIR    (uuid/version/row total)
    |  iceberg-deletes --table DIR --target DIR   (v2 delete-file census)
    |  iceberg-tail   --table DIR --target DIR --checkpoint DIR
    |                 [--follow true]           (streaming metadata tail)
    |  hudi-timeline  --table DIR --target DIR    (instant states)
    |  hudi-tail      --table DIR --target DIR --checkpoint DIR
    |                 [--follow true]           (streaming commit tail)
    |  hudi-commits   --table DIR --target DIR    (per-file write stats)
    |  hudi-meta      --table DIR --target DIR    (properties + census)
    |""".stripMargin

  /** `--flag value` pairs; repeatable flags accumulate in order. */
  private[graft] def parseFlags(args: Seq[String]): (String, Map[String, Seq[String]]) = {
    if (args.isEmpty) sys.error(usageText)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    var rest = args.tail
    while (rest.nonEmpty) {
      if (!rest.head.startsWith("--") || rest.length < 2)
        sys.error(s"malformed flag '${rest.head}'\n$usageText")
      val k = rest.head.drop(2)
      m(k) = m.getOrElse(k, Vector()) :+ rest(1)
      rest = rest.drop(2)
    }
    (args.head, m.toMap.withDefaultValue(Vector()))
  }

  def main(args: Array[String]): Unit = {
    val (verb, f) = parseFlags(args.toSeq)
    def one(k: String): String =
      f(k).headOption.getOrElse(sys.error(s"missing --$k\n$usageText"))
    // bad flag VALUES fail through the same usage-text path as missing
    // flags — a raw NumberFormatException helps nobody at a terminal
    def parsed[A](flag: String, raw: String)(convert: String => A): A =
      try convert(raw)
      catch {
        case _: IllegalArgumentException =>
          sys.error(s"bad value '$raw' for --$flag\n$usageText")
      }
    def ids(k: String): Seq[Long] =
      f(k).flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        .map(v => parsed(k, v)(_.toLong))
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    val allowProd = f("allow-production").headOption
      .exists(v => parsed("allow-production", v)(_.toBoolean))
    def graft(): Graft = new Graft(spark, one("data"))
    def target(g: Graft, t: String): Target =
      if (t.startsWith("jdbc:")) g.dbTarget(t, allowProd) else g.fileTarget(t)

    verb match {
      case "copy-tree" =>
        val g = graft(); val t = target(g, one("target"))
        try g.copyTree(t, f("path"), one("root"), ids("ids"))
        finally t.close()
      case "delete-tree" =>
        val g = graft(); val t = target(g, one("target"))
        try g.deleteTree(t, f("path"), one("root"), ids("ids"))
        finally t.close()
      case "copy" =>
        // constraints come from the declared PKs: the walk's stand-in
        // key for lineitem is not unique and cannot be a PRIMARY KEY
        val g = new Graft(spark, one("data"), catalog.SchemaCatalog.starPks)
        val t = target(g, one("target"))
        try g.copy(t, f("tables").flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
        finally t.close()
      case "update" =>
        // upsert a parquet delta into a table by pk (the reference's
        // `update` script closure, Main.java:181-191)
        val g = graft(); val t = target(g, one("target"))
        try g.update(t, one("table"), spark.read.parquet(one("delta")), one("pk"))
        finally t.close()
      case "replay" =>
        ops.Jdbc.replay(spark, one("dump"), one("url"), allowProd)
      case "ingest-jsonl" =>
        // corpus landing: JSONL drop directory → parquet table, with
        // the explicit-schema DROPMALFORMED contract of CorpusIO
        sources.CorpusIO.readJsonlClean(spark, one("path"))
          .write.mode("overwrite").parquet(one("target"))
      case "ingest-avro" =>
        // .avro corpus shards via the engine's own datum decoder; the
        // schema comes from the shard's own header unless --ddl given
        sources.CorpusIO.readAvro(spark, one("path"),
          ddl = f("ddl").headOption.orNull)
          .write.mode("overwrite").parquet(one("target"))
      case "ingest-bson" =>
        sources.CorpusIO.readBson(spark, one("path"), one("ddl"))
          .write.mode("overwrite").parquet(one("target"))
      case "ingest-msgpack" =>
        sources.CorpusIO.readMsgpack(spark, one("path"), one("ddl"))
          .write.mode("overwrite").parquet(one("target"))
      case "ingest-cbor" =>
        sources.CorpusIO.readCbor(spark, one("path"), one("ddl"))
          .write.mode("overwrite").parquet(one("target"))
      case "ingest-jsonl-zst" =>
        // the .jsonl.zst interchange shape, decoded by the bounded
        // fail-closed kernel; malformed lines keep their quarantine
        sources.CorpusIO.readJsonlZst(spark, one("path"))
          .write.mode("overwrite").parquet(one("target"))
      case "delta-snapshot" =>
        // the Delta log's live-file census — log-proportional work,
        // no data file opened
        sources.DeltaLog.snapshot(spark, one("table"))
          .write.mode("overwrite").parquet(one("target"))
      case "delta-history" =>
        sources.DeltaLog.history(spark, one("table"))
          .write.mode("overwrite").parquet(one("target"))
      case "delta-tail" =>
        // live commit tail: every new commit becomes a micro-batch of
        // newly added files appended to the target
        val q = sources.DeltaLog.commitStream(spark, one("table"))
          .filter(org.apache.spark.sql.functions.col("add").isNotNull)
          .select(org.apache.spark.sql.functions.col("version"),
            org.apache.spark.sql.functions.col("add.path").as("path"),
            org.apache.spark.sql.functions.col("add.size").as("size"))
          .writeStream.format("parquet")
          .option("path", one("target"))
          .option("checkpointLocation", one("checkpoint"))
          .outputMode("append").start()
        if (f("follow").headOption.exists(_.toBoolean)) q.awaitTermination()
        else { q.processAllAvailable(); q.stop() }
      case "delta-meta" =>
        sources.DeltaLog.tableMeta(spark, one("table"))
          .write.mode("overwrite").parquet(one("target"))
      case "iceberg-tail" =>
        // live metadata tail: every new metadata document becomes a
        // micro-batch row of snapshot facts appended to the target
        val q = sources.IcebergTable.metadataStream(spark, one("table"))
          .select(org.apache.spark.sql.functions.col("version"),
            org.apache.spark.sql.functions.col("`current-snapshot-id`")
              .as("current_snapshot_id"),
            org.apache.spark.sql.functions.col("`format-version`")
              .as("format_version"))
          .writeStream.format("parquet")
          .option("path", one("target"))
          .option("checkpointLocation", one("checkpoint"))
          .outputMode("append").start()
        if (f("follow").headOption.exists(_.toBoolean)) q.awaitTermination()
        else { q.processAllAvailable(); q.stop() }
      case "iceberg-snapshot" =>
        // the current snapshot's live data files via the engine's own
        // avro kernel — no data file opened
        sources.IcebergTable.snapshot(spark, one("table"))
          .write.mode("overwrite").parquet(one("target"))
      case "iceberg-meta" =>
        sources.IcebergTable.tableMeta(spark, one("table"))
          .write.mode("overwrite").parquet(one("target"))
      case "iceberg-deletes" =>
        // v2 merge-on-read delete files: the census that marks data
        // row counts as upper bounds
        sources.IcebergTable.deleteFiles(spark, one("table"))
          .write.mode("overwrite").parquet(one("target"))
      case "hudi-tail" =>
        // live instant tail: each completed commit's write stats
        // append to the target as a micro-batch
        val q = sources.HudiTimeline.commitStream(spark, one("table"))
          .writeStream.format("parquet")
          .option("path", one("target"))
          .option("checkpointLocation", one("checkpoint"))
          .outputMode("append").start()
        if (f("follow").headOption.exists(_.toBoolean)) q.awaitTermination()
        else { q.processAllAvailable(); q.stop() }
      case "hudi-timeline" =>
        sources.HudiTimeline.timeline(spark, one("table"))
          .write.mode("overwrite").parquet(one("target"))
      case "hudi-commits" =>
        sources.HudiTimeline.commitStats(spark, one("table"))
          .write.mode("overwrite").parquet(one("target"))
      case "hudi-meta" =>
        sources.HudiTimeline.tableMeta(spark, one("table"))
          .write.mode("overwrite").parquet(one("target"))
      case "export-jsonl" =>
        sources.CorpusIO.writeJsonl(
          spark.read.parquet(one("path")), one("target"))
      case "curate-stream" =>
        // the continuous-curation loop: tail a JSONL landing directory,
        // screen each micro-batch against the persisted band index,
        // append survivors (streaming/CurationStream.scala). Default is
        // drain-and-exit (AvailableNow — cron-friendly); --follow true
        // runs until killed, resuming from the checkpoint either way
        val bands = f("bands").headOption.map(v => parsed("bands", v)(_.toInt)).getOrElse(3)
        val rpb = f("rows-per-band").headOption
          .map(v => parsed("rows-per-band", v)(_.toInt)).getOrElse(2)
        val follow = f("follow").headOption.exists(v => parsed("follow", v)(_.toBoolean))
        val trigger =
          if (follow) org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds")
          else org.apache.spark.sql.streaming.Trigger.AvailableNow()
        val q = streaming.CurationStream.curateStream(
          sources.CorpusIO.readJsonlStream(spark, one("landing")),
          one("index"), one("corpus"), one("checkpoint"), bands, rpb,
          pairsPath = f("pairs").headOption, trigger = trigger,
          driftPath = f("drift").headOption,
          driftTokensPath = f("drift-tokens").headOption,
          droppedBandsPath = f("dropped-bands").headOption,
          qualityGate = f("quality-gate").headOption
            .exists(v => parsed("quality-gate", v)(_.toBoolean)))
        q.awaitTermination()
      case "ingest-warc" =>
        // streaming .warc.gz ingest: tail a parquet landing directory
        // of (doc_id, warc_gz) archives, explode CRC-verified records,
        // gate on HTTP 200, append extracted page text to the corpus
        // (streaming/CurationStream.warcGzIngestStream). Same trigger
        // contract as curate-stream
        val follow = f("follow").headOption.exists(v => parsed("follow", v)(_.toBoolean))
        val trigger =
          if (follow) org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds")
          else org.apache.spark.sql.streaming.Trigger.AvailableNow()
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("warc_gz",
            org.apache.spark.sql.types.BinaryType)))
        streaming.CurationStream.warcGzIngestStream(
            spark.readStream.schema(schema).parquet(one("landing")),
            one("corpus"), one("checkpoint"), trigger)
          .awaitTermination()
      case "compact" =>
        // periodic full-index compaction of the curation loop: replay
        // candidate pairs over the live band index plus the dropped-
        // bands graveyard, evict transitive-chain admissions, write
        // compacted index/corpus/dropped under --target (out-of-place;
        // swap directories after the job commits)
        val evicted = streaming.CurationStream.compact(spark,
          one("index"), one("corpus"), one("dropped"), one("target"))
        println(s"[graft] compact evicted ${evicted.count()} corpus docs")
      case "ingest-embeddings" =>
        // continuous embedding ingestion: tail a parquet landing
        // directory of (vec_id, embedding) rows into the persisted IVF
        // index — first batch bootstraps, later batches are O(batch)
        // appends (streaming/IndexStream.scala). Same trigger contract
        // as curate-stream: drain-and-exit unless --follow true
        val planes = f("planes").headOption.map(v => parsed("planes", v)(_.toInt)).getOrElse(4)
        val dim = f("dim").headOption.map(v => parsed("dim", v)(_.toInt)).getOrElse(64)
        val follow = f("follow").headOption.exists(v => parsed("follow", v)(_.toBoolean))
        val trigger =
          if (follow) org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds")
          else org.apache.spark.sql.streaming.Trigger.AvailableNow()
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType))))
        val q = streaming.IndexStream.ingestStream(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(one("landing")),
          one("index"), one("checkpoint"), planes, dim, trigger = trigger)
        q.awaitTermination()
      case "bpe-train" =>
        // tokenizer training from the command line: corpus parquet in,
        // ordered merges table out (ext/Corpus.bpeTrain)
        val n = parsed("merges", one("merges"))(_.toInt)
        ext.Corpus.bpeTrain(spark.read.parquet(one("corpus")), numMerges = n)
          .coalesce(1).write.mode("overwrite").parquet(one("target"))
      case "unigram-train" =>
        // the other tokenizer family from the command line: seed +
        // EM rounds (ext/Corpus.unigramTrain), final vocab out
        val r = f("rounds").headOption.map(v => parsed("rounds", v)(_.toInt)).getOrElse(2)
        val vs = f("vocab-size").headOption
          .map(v => parsed("vocab-size", v)(_.toInt)).getOrElse(20)
        val pr = f("prune-to").headOption.map(v => parsed("prune-to", v)(_.toInt))
        ext.Corpus.unigramTrain(spark.read.parquet(one("corpus")),
            rounds = r, vocabSize = vs, pruneTo = pr)
          .coalesce(1).write.mode("overwrite").parquet(one("target"))
      case "encode-corpus" =>
        // the inference half of the tokenizer lifecycle: apply a
        // PERSISTED tokenizer (bpe-train merges / unigram-train vocab)
        // to a corpus — the merges/vocab tables are model-sized, so
        // the bpe collect is a bounded driver action
        val corpus = spark.read.parquet(one("corpus"))
        val encoded = one("method") match {
          case "bpe" =>
            val merges = spark.read.parquet(one("vocab"))
              .orderBy("rank").select("left_sym", "right_sym")
              .collect().map(r => (r.getString(0), r.getString(1))).toSeq
            ext.Corpus.bpeEncode(corpus, merges)
          case "unigram" =>
            ext.Corpus.unigramEncode(corpus, spark.read.parquet(one("vocab")))
          case other => sys.error(s"unknown --method '$other' (bpe|unigram)\n$usageText")
        }
        encoded.write.mode("overwrite").parquet(one("target"))
      case "train-quality" =>
        // quality-classifier training: logistic regression on hashed
        // bags, label = source starts with the given prefix; weights
        // parquet feeds linearScore (ext/TextAnalysis.logregTrain)
        val buckets = f("buckets").headOption
          .map(v => parsed("buckets", v)(_.toInt)).getOrElse(64)
        val steps = f("steps").headOption
          .map(v => parsed("steps", v)(_.toInt)).getOrElse(3)
        val lr = f("lr").headOption
          .map(v => parsed("lr", v)(_.toDouble)).getOrElse(0.5)
        ext.TextAnalysis.logregTrain(spark.read.parquet(one("corpus")),
            label = org.apache.spark.sql.functions.col("source")
              .startsWith(one("label-source-prefix")),
            buckets = buckets, steps = steps, lr = lr)
          .coalesce(1).write.mode("overwrite").parquet(one("target"))
      case "prepare-corpus" =>
        // the q92 curation pipeline as a product command: LSH near-dup
        // removal -> Gopher keep-rules -> PII redaction -> optional
        // per-source cap, one lazy plan into the target, with a stage
        // funnel written next to it (how many docs each stage cost)
        import org.apache.spark.sql.functions.{col, lit}
        val bands = f("bands").headOption.map(v => parsed("bands", v)(_.toInt)).getOrElse(3)
        val rpb = f("rows-per-band").headOption
          .map(v => parsed("rows-per-band", v)(_.toInt)).getOrElse(2)
        val docs = spark.read.parquet(one("corpus")).localCheckpoint()
        val pairs = ext.Dedup.candidatePairs(ext.Dedup.lshBands(
          ext.Dedup.minhash(docs, bands * rpb), bands, rpb)).localCheckpoint()
        val deduped = ext.Dedup.dedupCorpus(docs, pairs).localCheckpoint()
        // --scrub unicode: NFC + all-script letter/digit normalize
        // (multilingual corpora); --scrub ascii: the legacy [a-z0-9]
        // scrub (destroys non-Latin text); default: no scrub
        val scrubbed = f("scrub").headOption match {
          case Some("unicode") => (c: org.apache.spark.sql.Column) =>
            ext.TextAnalysis.scrubUnicode(c)
          case Some("ascii") => (c: org.apache.spark.sql.Column) =>
            ext.TextAnalysis.scrub(c)
          case Some(other) => sys.error(s"unknown --scrub '$other' (unicode|ascii)\n$usageText")
          case None => (c: org.apache.spark.sql.Column) => c
        }
        // --drop-secrets N: drop any doc carrying a candidate secret
        // (high-entropy token of >= N chars at 3.0 nats/char, or a
        // hex/base64 blob) — the leak gate BEFORE redaction publishes
        // the rest of the doc
        val secretsSafe = f("drop-secrets").headOption match {
          case Some(m) =>
            val minLen = parsed("drop-secrets", m)(_.toInt)
            deduped.join(
              ext.TextAnalysis.secretScan(deduped, minLen = minLen)
                .filter(col("high_entropy") || col("looks_hex") || col("looks_b64"))
                .select("doc_id").distinct(),
              Seq("doc_id"), "left_anti")
          case None => deduped
        }
        val kept = secretsSafe.join(
            ext.TextAnalysis.gopherRules(secretsSafe).filter(col("keep"))
              .select("doc_id"), Seq("doc_id"))
          .withColumn("text", scrubbed(ext.TextAnalysis.redactPii(col("text"))))
        val capped = f("max-docs-per-source").headOption match {
          case Some(m) => kept.join(
            ext.Corpus.capPerSource(kept,
                parsed("max-docs-per-source", m)(_.toInt), col("n_chars"))
              .select("doc_id"), Seq("doc_id"))
          case None => kept
        }
        val out = capped.localCheckpoint()
        out.write.mode("overwrite").parquet(one("target"))
        docs.agg(org.apache.spark.sql.functions.count(lit(1)).as("n_in"))
          .crossJoin(deduped.agg(
            org.apache.spark.sql.functions.count(lit(1)).as("n_after_dedup")))
          .crossJoin(out.agg(
            org.apache.spark.sql.functions.count(lit(1)).as("n_out")))
          .coalesce(1).write.mode("overwrite").parquet(one("target") + "_stats")
      case "select-data" =>
        // targeted data selection from the command line: split the
        // corpus on the source prefix (in-domain/target vs raw), rank
        // raw docs toward the target with Moore-Lewis (LM likelihood
        // ratio) or DSIR (hashed-distribution importance), keep top-k
        val method = f("method").headOption.getOrElse("moore-lewis")
        val k = parsed("k", one("k"))(_.toInt)
        val corpus = spark.read.parquet(one("corpus"))
        val prefix = one("target-source-prefix")
        val inDom = corpus.filter(
          org.apache.spark.sql.functions.col("source").startsWith(prefix))
        val raw = corpus.filter(
          !org.apache.spark.sql.functions.col("source").startsWith(prefix))
        val sel = method match {
          case "moore-lewis" => ext.Corpus.mooreLewisSelect(raw, inDom, k)
          case "dsir"        => ext.Corpus.dsirSample(raw, inDom, k)
          case other => sys.error(s"unknown --method '$other'\n$usageText")
        }
        sel.coalesce(1).write.mode("overwrite").parquet(one("target"))
      case "snapshot-diff" =>
        // churn set between two corpus snapshots (ops/SnapshotDiff):
        // added/removed/changed by id, content compared over --cols
        val cols = f("cols").flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        if (cols.isEmpty) sys.error(s"missing --cols\n$usageText")
        ops.SnapshotDiff.diff(
            spark.read.parquet(one("prev")), spark.read.parquet(one("next")),
            one("id"), cols)
          .coalesce(1).write.mode("overwrite").parquet(one("target"))
      case "prepare-code" =>
        // code-corpus prep: language id + license + quality stats
        // joined on the file id — one pass each, no corpus reshuffle
        val files = spark.read.parquet(one("files"))
        val lang = ext.CodeCorpus.codeLangId(files)
        val out = lang
          .join(ext.CodeCorpus.licenseScan(files), "file_id")
          .join(ext.CodeCorpus.codeStats(
            files.join(lang.select("file_id", "lang"), "file_id")), "file_id")
        out.write.mode("overwrite").parquet(one("target"))
      case "chunk-corpus" =>
        val size = f("size").headOption.map(_.toInt).getOrElse(512)
        val ov = f("overlap").headOption.map(_.toInt).getOrElse(64)
        ext.TextAnalysis.chunkText(spark.read.parquet(one("corpus")),
            size = size, overlap = ov)
          .write.mode("overwrite").parquet(one("target"))
      case "score-eval" =>
        ext.Eval.evalScores(spark.read.parquet(one("preds")))
          .write.mode("overwrite").parquet(one("target"))
      case "mine-bitext" =>
        val planes = f("planes").headOption.map(_.toInt).getOrElse(4)
        val dim = f("dim").headOption.map(_.toInt).getOrElse(64)
        val k = f("k").headOption.map(_.toInt).getOrElse(4)
        val th = f("threshold").headOption.map(_.toDouble).getOrElse(1.05)
        ext.Similarity.bitextMine(spark.read.parquet(one("src")),
            spark.read.parquet(one("tgt")), planes = planes, dim = dim,
            k = k, threshold = th)
          .write.mode("overwrite").parquet(one("target"))
      case "extract-archive" =>
        // the crawl-container tier behind one verb: each format is
        // the narrow kernel pipeline documented on its operator
        import org.apache.spark.sql.functions.{col, posexplode}
        val docs = spark.read.parquet(one("payloads"))
        val out = one("format") match {
          case "warc-gz" =>
            ext.TextAnalysis.warcParseGzFile(docs)
          case "tar" => ext.Multimodal.tarList(docs)
          case "tar-gz" => ext.Multimodal.tarGzList(docs)
          case "odf" => docs.select(col("doc_id"),
            ext.Multimodal.odfText(col("payload")).as("text"),
            ext.Multimodal.odfKind(col("payload")).as("kind"))
          case "docx" => docs.select(col("doc_id"),
            ext.Multimodal.docxText(col("payload")).as("text"))
          case "pptx" => docs.select(col("doc_id"),
            ext.Multimodal.pptxSlideText(col("payload")).as("text"))
          case "xlsx" => ext.Multimodal.xlsxSharedStrings(docs)
          case "xlsx-cells" => ext.Multimodal.xlsxCells(docs)
          case "xls-cells" => ext.Multimodal.xlsCells(docs)
          case "doc" => docs.select(col("doc_id"),
            functions.DocTextExtract(col("payload")).as("text"))
          case "ppt" => docs.select(col("doc_id"),
            functions.PptText(col("payload")).as("text"))
          case "rtf" => docs.select(col("doc_id"),
            functions.RtfText(col("payload")).as("text"))
          case "zip-list" => ext.Multimodal.zipList(docs)
          case "7z-list" => ext.Multimodal.sevenZipList(docs)
          case "7z-members" => ext.Multimodal.sevenZipMembers(docs)
          case "ods-cells" => ext.Multimodal.odfCells(docs)
          case "mp3-duration" => docs.select(col("doc_id"),
            ext.Multimodal.mp3Duration(col("payload")).as("__d"))
            .select(col("doc_id"), col("__d.frames").as("frames"),
              col("__d.duration_ms").as("duration_ms"),
              col("__d.method").as("method"))
          case "docx-full" => docs.select(col("doc_id"),
            ext.Multimodal.docxFullText(col("payload")).as("text"))
          case "image-dhash" => docs.select(col("doc_id"),
            ext.Multimodal.imageDhash(col("payload")).as("dhash"))
          case "webp-frames" => docs.select(col("doc_id"),
            ext.Multimodal.webpFrames(col("payload")).as("__w"))
            .select(col("doc_id"), col("__w.n_frames").as("n_frames"),
              col("__w.total_duration_ms").as("total_duration_ms"),
              col("__w.loop_count").as("loop_count"),
              col("__w.variant").as("variant"))
          case "gif-frames" => docs.select(col("doc_id"),
            ext.Multimodal.gifFrames(col("payload")).as("__g"))
            .select(col("doc_id"), col("__g.n_frames").as("n_frames"),
              col("__g.total_delay_cs").as("total_delay_cs"),
              col("__g.loop_count").as("loop_count"),
              col("__g.version").as("version"))
          case "xlsx-sheets" => ext.Multimodal.xlsxSheets(docs)
          case "ico" => ext.Multimodal.icoEntries(docs)
          case "tiff-dhash" => docs.select(col("doc_id"),
            ext.Multimodal.tiffDhash(col("payload")).as("dhash"))
          case "epub-chapters" => ext.Multimodal.epubChapters(docs)
          case "bz2" => docs.select(col("doc_id"),
            functions.Bunzip2(col("payload")).as("data"))
          case "zstd" => docs.select(col("doc_id"),
            functions.ZstdPayload(col("payload")).as("data"))
          case "xz" => docs.select(col("doc_id"),
            functions.XzPayload(col("payload")).as("data"))
          case "lz4" => docs.select(col("doc_id"),
            functions.Lz4FramePayload(col("payload")).as("data"))
          case "sz" => docs.select(col("doc_id"),
            functions.SnappyFramePayload(col("payload")).as("data"))
          case "tar-xz" => ext.Multimodal.tarXzList(docs)
          case "tar-zst" => ext.Multimodal.tarZstList(docs)
          case "tar-bz2" => ext.Multimodal.tarBz2List(docs)
          case "tar-lz4" => ext.Multimodal.tarLz4List(docs)
          case "tar-sz" => ext.Multimodal.tarSzList(docs)
          case "tar-z" => ext.Multimodal.tarZList(docs)
          case "unlzw" => docs.select(col("doc_id"),
            functions.LzwUncompress(col("payload"), 1 << 26).as("data"))
          case "lzma" => docs.select(col("doc_id"),
            functions.LzmaAlonePayload(col("payload"), 1 << 26).as("data"))
          case "ar-list" => docs.select(col("doc_id"),
            posexplode(ext.Multimodal.arEntries(col("payload")))
              .as(Seq("pos", "e")))
            .select(col("doc_id"), col("pos"), col("e.name"),
              col("e.offset"), col("e.size"), col("e.mtime"))
          case "deb-control" => ext.Multimodal.debControl(docs)
          case "cpio-list" => docs.select(col("doc_id"),
            posexplode(ext.Multimodal.cpioEntries(col("payload")))
              .as(Seq("pos", "e")))
            .select(col("doc_id"), col("pos"), col("e.name"),
              col("e.offset"), col("e.size"), col("e.mode"),
              col("e.mtime"))
          case "rpm-info" => docs.select(col("doc_id"),
            ext.Multimodal.rpmInfo(col("payload")).as("__r"))
            .select(col("doc_id"), col("__r.name"), col("__r.version"),
              col("__r.release"), col("__r.arch"),
              col("__r.payload_compressor"))
          case "rpm-files" => ext.Multimodal.rpmFiles(docs)
          case "aiff" => docs.select(col("doc_id"),
            ext.Multimodal.aiffMeta(col("payload")).as("__a"))
            .select(col("doc_id"), col("__a.form"), col("__a.channels"),
              col("__a.sample_rate"), col("__a.duration_ms"),
              col("__a.codec"))
          case "binary-meta" => docs.select(col("doc_id"),
            ext.Multimodal.binaryMeta(col("payload")).as("__b"))
            .select(col("doc_id"), col("__b.format"), col("__b.arch"),
              col("__b.bits"), col("__b.kind"), col("__b.n_sections"))
          case "font-meta" => docs.select(col("doc_id"),
            ext.Multimodal.fontMeta(col("payload")).as("__f"))
            .select(col("doc_id"), col("__f.format"), col("__f.family"),
              col("__f.full_name"), col("__f.n_glyphs"))
          case "woff-font" => docs.select(col("doc_id"),
            ext.Multimodal.fontMeta(
              ext.Multimodal.woffSfnt(col("payload"))).as("__f"))
            .select(col("doc_id"), col("__f.format"), col("__f.family"),
              col("__f.full_name"), col("__f.n_glyphs"))
          case "midi" => docs.select(col("doc_id"),
            ext.Multimodal.midiMeta(col("payload")).as("__m"))
            .select(col("doc_id"), col("__m.format"), col("__m.n_tracks"),
              col("__m.duration_ms"), col("__m.n_notes"))
          case "subtitles" => docs.select(col("doc_id"),
            posexplode(ext.TextAnalysis.subtitleCues(
              functions.Utf8Text(col("payload")))).as(Seq("pos", "c")))
            .select(col("doc_id"), col("pos"), col("c.cue_id"),
              col("c.start_ms"), col("c.end_ms"), col("c.text"))
          case "ass-subtitles" => docs.select(col("doc_id"),
            posexplode(ext.TextAnalysis.assCues(
              functions.Utf8Text(col("payload")))).as(Seq("pos", "c")))
            .select(col("doc_id"), col("pos"), col("c.layer"),
              col("c.style"), col("c.speaker"),
              col("c.start_ms"), col("c.end_ms"), col("c.text"))
          case "rar-list" => docs.select(col("doc_id"),
            ext.Multimodal.rarEntries(col("payload")).as("__r"))
            .select(col("doc_id"), col("__r.format").as("format"),
              col("__r.solid_archive").as("solid_archive"),
              posexplode(col("__r.entries")))
            .select(col("doc_id"), col("format"), col("solid_archive"),
              col("pos"), col("col.name"), col("col.unpacked_size"),
              col("col.packed_size"), col("col.method"),
              col("col.encrypted"))
          case "wasm-meta" => docs.select(col("doc_id"),
            ext.Multimodal.wasmMeta(col("payload")).as("__w"))
            .select(col("doc_id"), col("__w.version"),
              col("__w.n_sections"), col("__w.n_types"),
              col("__w.n_imports"), col("__w.n_exports"),
              col("__w.n_functions"), col("__w.import_names"),
              col("__w.export_names"))
          case "cfb-meta" => docs
            .select(col("doc_id"),
              ext.Multimodal.cfbMeta(col("payload")).as("__m"))
            .select(col("doc_id"),
              ext.Multimodal.cfbKind(col("__m")).as("kind"),
              col("__m.major").as("major"),
              col("__m.sector_size").as("sector_size"),
              col("__m.entries").as("entries"))
          case "mbox" => ext.TextAnalysis.mboxToCorpus(
            docs.select(col("doc_id"),
              col("payload").cast("string").as("text")))
          case "parquet-stats" => docs
            .select(col("doc_id"), org.apache.spark.sql.functions
              .explode(ext.Multimodal.parquetStats(col("payload")))
              .as("c"))
            .select(col("doc_id"), col("c.*"))
          case "mp4-tracks" => docs
            .select(col("doc_id"), org.apache.spark.sql.functions
              .explode(ext.Multimodal.mp4Tracks(col("payload")))
              .as("t"))
            .select(col("doc_id"), col("t.*"))
          case "png-meta" => docs
            .select(col("doc_id"),
              ext.Multimodal.pngMeta(col("payload")).as("__p"))
            .select(col("doc_id"), col("__p.width"), col("__p.height"),
              col("__p.bit_depth"), col("__p.color_type"),
              col("__p.gamma"), col("__p.exif_len"),
              col("__p.n_chunks"), col("__p.texts"))
          case "parquet-bloom" => docs
            .select(col("doc_id"), org.apache.spark.sql.functions
              .explode(ext.Multimodal.parquetBloomInfo(col("payload")))
              .as("b"))
            .select(col("doc_id"), col("b.*"))
          case "parquet-page-index" => docs
            .select(col("doc_id"), org.apache.spark.sql.functions
              .explode(ext.Multimodal.parquetPageIndex(col("payload")))
              .as("p"))
            .select(col("doc_id"), col("p.*"))
          case "wiki-pages" => ext.TextAnalysis.wikiDumpPages(
            docs.select(col("doc_id"),
              col("payload").cast("string").as("xml")))
          case "wiki-corpus" => ext.TextAnalysis.wikiDumpPages(
              docs.select(col("doc_id"),
                col("payload").cast("string").as("xml")))
            .filter(col("ns") === 0 && col("redirect").isNull)
            .select(col("doc_id"), col("page_id"), col("title"),
              ext.TextAnalysis.wikitextClean(col("text")).as("text"))
          case "pdf" => docs
            .select(col("doc_id"),
              ext.Multimodal.pdfText(col("payload")).as("__p"))
            .select(col("doc_id"), col("__p.text").as("text"),
              col("__p.n_streams").as("n_streams"),
              col("__p.n_decoded").as("n_decoded"))
          case "id3" => ext.Multimodal.id3Tags(docs, idCol = "doc_id")
          case "flac-tags" =>
            ext.Multimodal.flacTags(docs, idCol = "doc_id")
          case "wav-info" =>
            ext.Multimodal.wavInfoTags(docs, idCol = "doc_id")
          case "epub" => ext.Multimodal.epubMeta(docs)
          case "avro-schema" => docs.select(col("doc_id"),
            ext.Multimodal.avroSchema(col("payload")).as("avro_schema"))
          case "avro-blocks" => docs
            .select(col("doc_id"),
              ext.Multimodal.avroBlocks(col("payload")).as("__b"))
            .select(col("doc_id"), col("__b.codec").as("codec"),
              col("__b.n_blocks").as("n_blocks"),
              col("__b.n_records").as("n_records"),
              col("__b.data_bytes").as("data_bytes"))
          case "avro-records" => docs.select(col("doc_id"),
            org.apache.spark.sql.functions.explode(
              functions.AvroRecordsJson(col("payload"))).as("rec"))
          case "bson" => docs.select(col("doc_id"),
            org.apache.spark.sql.functions.explode(
              functions.BsonRecords(col("payload"))).as("rec"))
          case "msgpack" => docs.select(col("doc_id"),
            org.apache.spark.sql.functions.explode(
              functions.MsgpackRecords(col("payload"))).as("rec"))
          case "cbor" => docs.select(col("doc_id"),
            org.apache.spark.sql.functions.explode(
              functions.CborRecords(col("payload"))).as("rec"))
          case "proto-fields" => docs.select(col("doc_id"),
            org.apache.spark.sql.functions.explode(
              functions.ProtoFields(col("payload"))).as("f"))
            .select(col("doc_id"), col("f.*"))
          case "orc-column-stats" => docs
            .select(col("doc_id"), org.apache.spark.sql.functions
              .explode(functions.OrcColumnStats(col("payload")))
              .as("c"))
            .select(col("doc_id"), col("c.*"))
          case "orc-stripes" => docs
            .select(col("doc_id"), org.apache.spark.sql.functions
              .posexplode(ext.Multimodal.orcStripes(col("payload")))
              .as(Seq("stripe_idx", "s")))
            .select(col("doc_id"), col("stripe_idx"), col("s.*"))
          case "orc-meta" => docs
            .select(col("doc_id"),
              ext.Multimodal.orcMeta(col("payload")).as("__m"))
            .select(col("doc_id"),
              col("__m.compression").as("compression"),
              col("__m.num_rows").as("num_rows"),
              col("__m.n_stripes").as("n_stripes"),
              col("__m.columns").as("columns"))
          case "arrow-meta" => docs
            .select(col("doc_id"),
              ext.Multimodal.arrowMeta(col("payload")).as("__m"))
            .select(col("doc_id"), col("__m.version").as("version"),
              col("__m.n_dictionaries").as("n_dictionaries"),
              col("__m.n_record_batches").as("n_record_batches"),
              col("__m.total_body_bytes").as("total_body_bytes"),
              col("__m.columns").as("columns"))
          case "parquet-meta" => docs
            .select(col("doc_id"),
              ext.Multimodal.parquetMeta(col("payload")).as("__m"))
            .select(col("doc_id"), col("__m.version").as("version"),
              col("__m.num_rows").as("num_rows"),
              col("__m.n_row_groups").as("n_row_groups"),
              col("__m.created_by").as("created_by"),
              col("__m.columns").as("columns"))
          case other => sys.error(
            s"unknown archive format '$other'\n$usageText")
        }
        out.write.mode("overwrite").parquet(one("target"))
      case "other-objects" =>
        val g = new Graft(spark, f("data").headOption.getOrElse("."))
        val t = target(g, one("target"))
        try g.copyOtherObjects(t, one("source-url"),
          srcSchema = f("src-schema").headOption)
        finally t.close()
      case other => sys.error(s"unknown verb '$other'\n$usageText")
    }
    // no spark.stop(): the session may be shared (tests, notebooks);
    // process exit runs Spark's own shutdown hook
  }
}
