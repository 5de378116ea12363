package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on
  * `$SPARK_GRAFT_SF_DIR` and prints one JSON line.
  *
  * Measurement hygiene: the host shows double-digit hypervisor CPU
  * steal, so single runs are dominated by noise. Each query is timed
  * once per pass, with three full *interleaved* passes over the whole
  * suite (a steal burst then inflates different queries in different
  * passes instead of every sample of one query), and the per-query
  * minimum is reported.
  *
  * Failures are loud: the stack trace goes to stderr, the query is
  * reported in an `errors` object, and the process exits non-zero —
  * a broken query must never silently improve the total.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ONLY=q48,q27 — iterate on a subset without paying for
    // the whole suite
    val names = QueryFilter(SparkEntry.queries.toSeq.sortBy(_._1),
      sys.env.get("SPARK_GRAFT_ONLY"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // fixture files are single-digit MB: at the default 128 MB split
      // bound every scan is ONE partition and the narrow pipelines run
      // on one core. 4 MB ≈ 3-5 tasks for the big tables, still one for
      // the dims — the local stand-in for a cluster's many-file layout
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"))
      // the generated-class cache defaults to ONE HUNDRED entries; a
      // single complex query compiles more codegen units than that, so
      // a many-query session recompiles every ordering/projection on
      // every use — thread dumps showed executor tasks BLOCKED on the
      // classloader lock inside Janino for seconds per stage
      // (GenerateOrdering.create). Sized for a session that runs the
      // whole suite; the same setting is what a long-lived production
      // driver/executor wants at any scale, not a local-mode trick.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // absorb session/codegen warm-up before any timed work
    spark.range(1000000).selectExpr("sum(id)").collect()

    val errors = scala.collection.mutable.Map.empty[String, String]
    def timeOnce(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e")
          e.printStackTrace()
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          return Double.NaN
      }
      // drop EVERY block a query pinned — persisted levels AND
      // locally-checkpointed RDDs: all of them are dead once the count
      // returns (each query builds its own), and letting them
      // accumulate across 3 passes × the whole suite turned the run
      // into uniform ~25-30% inflation once the suite grew past ~200
      // queries (round 10: fixture-payload localCheckpoints are
      // MB-sized, not the KB loop states the old keep-checkpoints
      // rationale assumed). The truncated-lineage unpersist warning is
      // stderr noise only.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      (System.nanoTime() - t0) / 1e9
    }

    val passes = 3
    val samples = (1 to passes).map { _ =>
      names.map { case (name, fn) => name -> timeOnce(name, fn) }.toMap
    }
    val results = names.map { case (name, _) =>
      val xs = samples.map(_(name)).filterNot(_.isNaN)
      name -> (if (xs.isEmpty) -1.0 else xs.min)
    }

    // 3-decimal values keep the single JSON line short enough that a
    // tail capture cannot truncate away the total (r4 lost q01-q15 and
    // the "metric" key to exactly that)
    // Locale.ROOT: the default-locale formatter writes "57,117" on
    // comma-decimal locales — invalid JSON in the artifact
    def jnum(v: Double): String =
      if (v.isNaN || v.isInfinite) "-1"
      else "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + jnum(v) }
      .mkString("{", ",", "}")
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, m) => "\"" + k + "\":\"" + m.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir"}"""
    println(line)
    // tail-capture safety: a 372-query suite makes the line above
    // ~11 KB, and a harness that keeps only the last ~2 KB of stdout
    // truncates away its head — including the total (r15 and r16 both
    // lost it exactly that way). A complete SHORT summary line printed
    // LAST survives any tail window; the full per-query line and the
    // on-disk artifact below stay unchanged for full-width consumers.
    println(s"""{"metric":"total","value":${jnum(total)},"unit":"sec","n":${results.size},"errors":${errors.size},"sf":"$sfDir"}""")
    // belt-and-braces artifact: the full line on disk, immune to any
    // stdout capture window
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
