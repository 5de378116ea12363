package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: time individual SparkEntry queries at an arbitrary SF
  * (`runMain graft.TimeQ q139_knn_clusters q150_langid_trained`) —
  * the single-query loop Bench's three-pass sweep is too heavy for.
  * Same session config as Bench. NOTE: `.count()` lets Catalyst prune
  * projection-only work, so pure-projection queries under-measure
  * here exactly as they do in Bench. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // suite-sized codegen-class cache (default 100 thrashes; see Bench)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    for (q <- args) {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sfDir).count()
      println(f"[timeq] $q ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
