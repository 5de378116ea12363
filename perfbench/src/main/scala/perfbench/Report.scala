package perfbench

import scala.collection.mutable

/** Outcome counts, correctness checks and metrics of one run. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Every metric, in the order measured: name -> (value, unit, note). */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String, String)]

  /** Runs one operation (a verb call, a replay, a query, a stream drain),
    * counting it as attempted, and as failed if it throws. */
  def attempt[T](what: String)(body: => T): T = {
    attempted += 1
    try body
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"$what: $e"
        throw e
    }
  }

  /** One correctness check: counted like an operation. */
  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      errors += s"check $what failed: $detail"
    }
  }

  def put(name: String, value: Double, unit: String, note: String = ""): Unit =
    metrics(name) = (value, unit, note)

  /** Puts `<prefix>_p50_s` and `<prefix>_p<q>_s` for a list of latencies,
    * noting how many samples each rests on and how many lie beyond it. */
  def putLatencies(prefix: String, xs: Seq[Double], tail: Int): Unit = {
    val n = xs.length
    put(s"${prefix}_p50_s", Stats.quantile(xs, 0.5), "s", s"n=$n")
    put(s"${prefix}_p${tail}_s", Stats.quantile(xs, tail / 100.0), "s",
      s"n=$n beyond=${xs.count(_ > Stats.quantile(xs, tail / 100.0))}")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** One JSON line per metric. */
  def metricLines: Seq[String] = metrics.toSeq.map { case (k, (v, u, note)) =>
    val n = if (note.isEmpty) "" else s""","note":"$note""""
    s"""{"metric":"$k","value":${num(v)},"unit":"$u"$n}"""
  }
}

object Stats {
  /** Quantile with linear interpolation between closest ranks. */
  def quantile(xs: Iterable[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toVector.sorted
      val pos = q * (s.length - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** How fast this host is at the moment of a run.
  *
  * Other tenants of the machine change its speed by up to a factor of two
  * within minutes, for every workload alike. The reference load is fixed
  * and uses no graft code: small Spark jobs of built-in expressions over
  * `spark.range` on the run's own session — the same scheduling and
  * generated-code CPU work the workloads are made of. The end-to-end
  * times are reported at the speed the host had when the reference load
  * took [[ReferenceS]]; the raw times are printed next to them. */
object Calibration {
  val ReferenceS = 0.25
  val Repeats = 5

  private def load(spark: org.apache.spark.sql.SparkSession): Unit =
    (0 until 2).foreach { _ =>
      spark.range(0, 400000, 1, 4).selectExpr("sum(hash(id))").collect()
      spark.range(0, 100000, 1, 4).selectExpr("id % 64 AS k").groupBy("k").count().collect()
    }

  /** Median of `n` timed reference loads, after two untimed ones that
    * compile the load's code. */
  def measure(spark: org.apache.spark.sql.SparkSession, n: Int): (Double, Seq[Double]) = {
    load(spark)
    load(spark)
    val xs = (1 to n).map(_ => Stats.time(load(spark))._2)
    (Stats.median(xs), xs)
  }
}
