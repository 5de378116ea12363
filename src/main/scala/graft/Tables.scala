package graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType

import graft.streaming.EventStreams

/** Loading helpers for the fixture star schema (TESTDATA.md).
  * One parquet dataset per table under `$dir/<name>.parquet`.
  *
  * Every parquet read without a caller-given schema goes through
  * [[parquet]]: the schema is read on the driver from one footer, so no
  * Spark job runs per table (a bare `spark.read.parquet` runs Spark's
  * one-task schema-inference job).
  *
  * `events.ts` arrives as TIMESTAMP_NTZ (the fixtures store micros) or,
  * from a TIMESTAMP(NANOS) file, as a long (with
  * `spark.sql.legacy.parquet.nanosAsLong=true`, set by all graft
  * sessions); [[load]] normalizes either to a microsecond timestamp.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // PLAN cache, not a data cache: a parquet read lists the path and
  // reads a footer for the schema — pure driver metadata work repeated
  // identically for every one of the hundreds of queries touching the
  // same fixture tables in one session. The cached object is the LAZY
  // DataFrame (a logical plan); every action still scans the parquet
  // input — this is what a catalog does for a real table's schema at
  // any scale. Keyed per session
  // (weakly, so a stopped session's entries are collectable).
  // INVARIANT: fixture dirs are immutable for a session's lifetime —
  // the cached plan pins the file listing captured at first load, so
  // a tool that regenerates testdata in-session must use a fresh
  // session (or this cache would serve stale file lists).
  private val planCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val bySession = planCache.synchronized {
      var m = planCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        planCache.put(spark, m)
      }
      m
    }
    bySession.computeIfAbsent(s"$dir/$name.parquet", { path =>
      val df = parquet(spark, path)
      if (name == "events") EventStreams.withEventTime(df) else df
    })
  }

  /** Spark's parquet read of `paths`, given [[schemaOf]]'s schema. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths).fold(spark.read)(spark.read.schema(_)).parquet(paths: _*)

  /** The schema Spark's schema-less parquet read of `paths` has,
    * without the job Spark runs to infer it. Spark's inference with
    * `mergeSchema` off (`ParquetUtils.inferSchema`) reads one footer:
    * of the files its file index lists, sorted by path,
    * `_common_metadata`, else `_metadata`, else the first data file.
    * This reads that footer on the driver, converts it with Spark's own
    * `readSchemaFromFooter`, makes it nullable as a read does and
    * appends the index's partition columns.
    * With `mergeSchema` on, with no file listed, or when the footer read
    * fails, Spark infers the schema itself, so its errors and its
    * `ignoreCorruptFiles` outcome stay its own. */
  def schemaOf(spark: SparkSession, paths: String*): StructType =
    footerSchema(spark, paths).getOrElse(spark.read.parquet(paths: _*).schema)

  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (new ParquetOptions(Map.empty[String, String], conf).mergeSchema) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      // the file index DataSource would build: a streaming sink's
      // output is listed from its metadata log, anything else by
      // listing with Spark's hidden-file and partition-directory rules
      val index: PartitioningAwareFileIndex =
        if (FileStreamSink.hasMetadata(paths, hadoopConf, conf))
          new MetadataLogFileIndex(spark, new Path(paths.head), Map.empty, None)
        else new InMemoryFileIndex(spark, paths.map { s =>
          val p = new Path(s)
          p.getFileSystem(hadoopConf).makeQualified(p)
        }, Map.empty, None)
      val files = index.allFiles().sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(files.find(f => !summaries(f.getPath.getName)))
        .flatMap { file =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(file, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
          val data = ParquetFileFormat.readSchemaFromFooter(
            new Footer(file.getPath, footer), new ParquetToSparkSchemaConverter(conf))
          val partitions = index.partitionSchema
          // a partition column also stored in the files keeps the data
          // column's place in Spark's schema; a given schema would move
          // it last, so leave that shape to Spark
          if (partitions.exists(p => data.exists(d => conf.resolver(p.name, d.name)))) None
          else Some(StructType(data.toNullable ++ partitions))
        }
    } catch { case NonFatal(_) => None }
  }
}
