package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus ingestion/egress in the interchange formats LLM-corpus
  * tooling actually ships: JSONL (one JSON object per line — the
  * de-facto standard for web-crawl and instruction datasets) and CSV.
  *
  * Scale rules baked in rather than documented:
  *  - ALWAYS an explicit schema. Schema inference is a second full
  *    pass over the input — a 100 TB read becomes two — and a single
  *    malformed line can silently widen a column to string corpus-wide.
  *  - PERMISSIVE parsing with a corrupt-record column: crawl-scale
  *    JSONL always contains broken lines, and a FAILFAST job that dies
  *    four hours in is worse than a quarantine column. Callers split on
  *    `_corrupt IS NULL` and route the rest to a reject sink.
  *  - JSONL is the preferred format: line-delimited text splits on
  *    newlines, so a 1 GB file still fans out across executors. CSV
  *    with embedded newlines needs `multiLine`, which makes each file
  *    one task — reader provided, but keep files small or convert.
  */
object CorpusIO {

  /** The documents-table interchange schema (TESTDATA.md shape). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Name of the quarantine column carrying unparseable lines. */
  val corruptCol = "_corrupt"

  private def withCorrupt(schema: StructType): StructType =
    if (schema.fieldNames.contains(corruptCol)) schema
    else schema.add(StructField(corruptCol, StringType))

  /** Read line-delimited JSON with an explicit schema; bad lines land
    * in `_corrupt` instead of killing the job or poisoning the schema.
    * Spark caveat: a query whose referenced columns are ONLY `_corrupt`
    * (e.g. counting rejects) is refused on raw file scans — cache the
    * parsed frame first, per Spark's documented pattern. */
  def readJsonl(spark: SparkSession, path: String,
                schema: StructType = documentsSchema): DataFrame =
    spark.read
      .schema(withCorrupt(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)

  /** Only the clean rows: DROPMALFORMED discards unparseable lines at
    * the scan instead of quarantining them. Use when rejects are not
    * worth keeping — unlike filtering [[readJsonl]] on `_corrupt`,
    * this form stays valid under aggressive column pruning (a bare
    * `count()` over the quarantine filter trips Spark's
    * QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction). */
  def readJsonlClean(spark: SparkSession, path: String,
                     schema: StructType = documentsSchema): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "DROPMALFORMED")
      .json(path)

  /** Write a corpus as JSONL (one object per line, splittable). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Streaming JSONL ingestion: tail a landing directory as a
    * Structured Streaming source — the continuous-ingest form of
    * [[readJsonlClean]] (same explicit schema, same DROPMALFORMED
    * discard). `maxFilesPerTrigger` bounds micro-batch size so a
    * backlog of crawl drops doesn't become one giant batch. */
  def readJsonlStream(spark: SparkSession, path: String,
                      schema: StructType = documentsSchema,
                      maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .schema(schema)
      .option("mode", "DROPMALFORMED")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .json(path)

  /** Read `.jsonl.zst` — the de-facto interchange shape public LLM
    * corpora actually ship (one zstd frame per shard file, JSONL
    * inside). Spark's JSON scan cannot split or even read zstd
    * without native libraries, so this path is explicit about the
    * real distribution unit: `binaryFile` scan (one task per shard —
    * the format is not splittable, and corpora ship thousands of
    * shards, so parallelism comes from file count exactly as it does
    * on a real cluster) → the bounded fail-closed
    * [[graft.functions.ZstdPayload]] (libzstd through zstd-jni) → line
    * split → `from_json` under the same explicit-schema + `_corrupt`
    * quarantine contract as [[readJsonl]]. A corrupt or truncated
    * archive vanishes WHOLE (the decoder nulls it), never as silent
    * partial rows; a malformed line inside a healthy archive lands in
    * `_corrupt`. Decode-only: writing zstd would need an encoder —
    * egress stays [[writeJsonl]]. */
  def readJsonlZst(spark: SparkSession, path: String,
                   schema: StructType = documentsSchema,
                   maxOut: Int = 1 << 28): DataFrame = {
    val full = withCorrupt(schema)
    spark.read.format("binaryFile").load(path)
      .select(graft.functions.ZstdPayload(col("content"), maxOut).as("__b"))
      .select(explode(split(graft.functions.Utf8Text(col("__b")),
        "\n")).as("__line"))
      .filter(col("__line") =!= "")
      .select(from_json(col("__line"), full, Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> corruptCol)).as("__r"))
      .select(col("__r.*"))
  }

  /** `.avro` corpus ingestion with ZERO library probe: a binaryFile
    * scan (one task per shard — parallelism from file count, exactly
    * as on a real cluster) feeds the engine's own
    * [[graft.functions.AvroRecordsJson]] datum decoder (all six spec
    * codecs), whose per-record JSON parses under `from_json`. The
    * Spark schema comes from `ddl` when given; otherwise ONE shard's
    * avro header is read driver-side (a bounded header read, not an
    * inference pass over the data) and its embedded schema converts
    * via [[graft.functions.AvroRecordsJson.sparkDdl]] — avro files
    * CARRY their schema, so "inference" here is exact, not sampled.
    * Corrupt shards vanish whole (the kernel's fail-closed null);
    * per-record parse problems quarantine in `_corrupt`. */
  def readAvro(spark: SparkSession, path: String,
               ddl: String = null,
               maxRecords: Int = 1 << 20,
               maxOut: Int = 1 << 26): DataFrame = {
    val resolvedDdl =
      if (ddl != null) ddl
      else {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        val first = {
          val st = fs.getFileStatus(p)
          if (st.isFile) p
          else fs.listStatus(p).filter(_.isFile).map(_.getPath)
            .filter(_.getName.endsWith(".avro")).sortBy(_.getName)
            .headOption.getOrElse(throw new IllegalArgumentException(
              s"no .avro shard under $path to derive the schema from"))
        }
        val in = fs.open(first)
        // the OCF header is KB-sized; 1 MiB covers any real schema
        val head = try in.readNBytes(1 << 20) finally in.close()
        val schemaJson = graft.functions.AvroSchemaJson.compute(head, 1 << 20)
        if (schemaJson == null) throw new IllegalArgumentException(
          s"$first carries no readable avro schema")
        val d = graft.functions.AvroRecordsJson.sparkDdl(schemaJson.toString)
        if (d == null) throw new IllegalArgumentException(
          s"avro schema of $first does not convert to a Spark schema")
        d
      }
    val schema = StructType.fromDDL(resolvedDdl)
    spark.read.format("binaryFile").load(path)
      .select(explode(graft.functions.AvroRecordsJson(col("content"),
        maxRecords, maxOut)).as("__j"))
      .select(from_json(col("__j"), withCorrupt(schema), Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> corruptCol)).as("__r"))
      .select(col("__r.*"))
  }

  /** BSON / MessagePack / CBOR dump ingestion — the same shape as
    * [[readAvro]] for the self-describing binaries that do NOT carry
    * a schema: a binaryFile scan per shard feeds the engine's decode
    * kernel, each record's JSON parses under `from_json` with the
    * caller's EXPLICIT `ddl` (derive one with the engine's
    * `jsonInferSchema` over a sample if needed — deliberately not
    * automatic here: these formats have no authoritative schema to
    * read, so the caller owns the contract). Corrupt shards vanish
    * whole; per-record parse problems quarantine in `_corrupt`. */
  def readBson(spark: SparkSession, path: String, ddl: String,
               maxRecords: Int = 1 << 20,
               maxOut: Int = 1 << 26): DataFrame =
    readDecoded(spark, path, ddl)(
      graft.functions.BsonRecords(_, maxRecords, maxOut))

  /** See [[readBson]]. */
  def readMsgpack(spark: SparkSession, path: String, ddl: String,
                  maxRecords: Int = 1 << 20,
                  maxOut: Int = 1 << 26): DataFrame =
    readDecoded(spark, path, ddl)(
      graft.functions.MsgpackRecords(_, maxRecords, maxOut))

  /** See [[readBson]]. */
  def readCbor(spark: SparkSession, path: String, ddl: String,
               maxRecords: Int = 1 << 20,
               maxOut: Int = 1 << 26): DataFrame =
    readDecoded(spark, path, ddl)(
      graft.functions.CborRecords(_, maxRecords, maxOut))

  private def readDecoded(spark: SparkSession, path: String, ddl: String)
                         (decode: org.apache.spark.sql.Column =>
                           org.apache.spark.sql.Column): DataFrame = {
    val schema = StructType.fromDDL(ddl)
    spark.read.format("binaryFile").load(path)
      .select(explode(decode(col("content"))).as("__j"))
      .select(from_json(col("__j"), withCorrupt(schema), Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> corruptCol)).as("__r"))
      .select(col("__r.*"))
  }

  /** CSV reader with the same explicit-schema + quarantine contract.
    * `multiLine` only if values embed newlines — it serializes each
    * file into one task, so prefer JSONL for anything large. */
  def readCsv(spark: SparkSession, path: String,
              schema: StructType = documentsSchema,
              multiLine: Boolean = false): DataFrame =
    spark.read
      .schema(withCorrupt(schema))
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .option("multiLine", multiLine.toString)
      .option("escape", "\"")
      .csv(path)

  /** Write a corpus as quoted CSV with a header. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("escape", "\"")
      .csv(path)
}
