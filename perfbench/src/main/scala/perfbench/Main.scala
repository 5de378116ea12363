package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in one JVM with `local[4]`.
  *
  * Order: start the session; set the workload up [[SetupRepeats]] times
  * (the median is `setup_s`); time the reference load; run one measured
  * pass. With `--trace 1` the pass runs with spans, listeners and the JDBC
  * probe on; the tracing overhead is its wall time minus that of an
  * untraced run of the same seed.
  * Every operation is closed-loop with a single client: the next verb,
  * query or micro-batch starts when the previous one has finished.
  *
  * Writes its metrics, one JSON object per line, to `--out`, then a line
  * `{"attempted":..,"failed":..,"errors":[..]}`. Exits non-zero when
  * any operation or correctness check failed.
  */
object Main {
  val SetupRepeats = 5

  private def parse(args: Array[String]): (Opts, String) = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    (Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("source"), need("bench-dir"), need("spans")), need("out"))
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      // the same session settings as graft.Bench, the suite harness
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val (opts, out) = parse(args)
    val report = new Report
    val (spark, sessionS) = Stats.time(session(opts.work))
    val tracer = new Tracer(spark, s"${opts.workload}-${opts.seed}-${System.currentTimeMillis()}")
    var ok = true
    try {
      val wl = Workload(spark, opts, tracer, report)
      val setups = (1 to SetupRepeats).map(i => Stats.time(wl.setup(s"${opts.work}/setup$i"))._2)
      report.put("setup.warmup_s", Stats.time(wl.warmup(s"${opts.work}/setup$SetupRepeats"))._2, "s",
        "one untimed operation before the pass")
      // the host's speed, taken before the pass only, so that nothing the
      // pass leaves behind (heap, pinned blocks) weighs on it
      val (cal, calSamples) = Calibration.measure(spark, Calibration.Repeats)
      if (opts.trace) {
        JdbcProbe.install()
        JdbcProbe.recording = true
        tracer.enable()
      }
      val pass = tracer.span("pass")(wl.measure(s"${opts.work}/pass"))
      tracer.on = false
      JdbcProbe.recording = false
      val speed = Calibration.ReferenceS / cal
      report.put("calibration_s", cal, "s",
        s"reference load before the pass, median of n=${calSamples.length}: ${calSamples.map(x => f"$x%.4f").mkString(" ")}")
      report.put("setup_s", Stats.median(setups) * speed, "s", s"median of n=${setups.length} set-ups, at reference speed")
      report.put("wall_s", pass.wall * speed, "s", "at reference speed")
      report.put("op_p50_s", Stats.median(pass.ops) * speed, "s", s"n=${pass.ops.length}, at reference speed")
      report.put("setup_raw_s", Stats.median(setups), "s", "as measured")
      report.put("wall_raw_s", pass.wall, "s", "as measured")
      report.put("op_p50_raw_s", Stats.median(pass.ops), "s", "as measured")
      report.put("rows_per_s", pass.rows / pass.wall, "rows/s", s"rows=${pass.rows}, as measured")
      wl.passMetrics(pass)
      report.put("setup.session_s", sessionS, "s", "session start, once per run")
      wl.setupSteps.foreach { case (k, xs) =>
        report.put(s"setup.${k}_s", Stats.median(xs.toSeq), "s", s"median of n=${xs.length}")
      }
      if (opts.trace) {
        val whole = tracer.named("pass").head
        val c = tracer.subtree(whole)
        report.put("trace.wall_s", pass.wall * speed, "s", "wall_s of the traced pass, at reference speed")
        report.put("spark.jobs", c.jobs.toDouble, "count", "jobs of the traced pass")
        report.put("spark.task_s", c.taskMs / 1e3, "s", "executor task time of the traced pass")
        report.put("spark.core_busy_share", c.taskMs / 1e3 / (whole.seconds * QuerySuite.Cores), "ratio", "")
        wl.layerMetrics()
        tracer.write(opts.spans)
      }
    } catch {
      case e: Throwable =>
        ok = false
        report.errors += e.toString
        e.printStackTrace()
    }
    val errs = report.errors.map(e => "\"" + e.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(300) + "\"")
    val lines = report.metricLines :+
      s"""{"attempted":${report.attempted},"failed":${report.failed},"errors":[${errs.mkString(",")}]}"""
    Files.write(Paths.get(out), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    try spark.stop() catch { case _: Throwable => () }
    sys.exit(if (ok && report.failed == 0) 0 else 1)
  }
}
