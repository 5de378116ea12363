package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s output contract: short, self-contained JSON lines,
  * the per-query map last. */
class BenchSpec extends AnyFunSuite {

  test("every stdout line is at most 2 KB and parses on its own; the " +
    "queries_part lines come last and carry every query's min and max") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val timings = names.zipWithIndex.map { case (n, i) =>
      n -> Bench.Timing(0.1 + i * 0.01, 0.2 + i * 0.01)
    } :+ ("q999_all_passes_failed" -> Bench.Timing(Double.NaN, Double.NaN))
    val errors = Seq("q999_all_passes_failed" -> ("boom \"quoted\"\n" * 40).take(200),
      "q998_other" -> "x" * 200)
    val (lines, artifact) = Bench.report(timings, errors,
      "/data/sf0.1", "4", 3, "0123456789abcdef0123456789abcdef01234567")
    val json = new ObjectMapper()
    val parsed = lines.map { l =>
      assert(l.getBytes("UTF-8").length <= Bench.MaxLine, s"${l.length} B: ${l.take(80)}")
      json.readTree(l)
    }
    val metrics = parsed.map(_.get("metric").asText)
    assert(metrics.head == "total")
    val firstPart = metrics.indexOf("queries_part")
    assert(firstPart > 0 && metrics.drop(firstPart).forall(_ == "queries_part"),
      metrics.mkString(","))
    val total = parsed.head
    assert(total.get("n").asInt == timings.size && total.get("errors").asInt == 2)
    assert(total.get("cores").asText == "4" && total.get("passes").asInt == 3 &&
      total.get("git_sha").asText.startsWith("0123"))
    val parts = parsed.drop(firstPart)
    assert(parts.map(_.get("i").asInt) == parts.indices)
    assert(parts.forall(_.get("of").asInt == parts.size))
    def entries(field: String) =
      parts.flatMap(_.get(field).fields.asScala.map(e => e.getKey -> e.getValue.asDouble))
    val mins = entries("queries")
    val maxs = entries("max").toMap
    assert(mins.map(_._1) == timings.map(_._1))
    assert(mins.forall { case (k, v) => v == -1.0 || v <= maxs(k) })
    assert(mins.toMap.apply(names.head) == 0.1 && maxs(names.head) == 0.2)
    val errs = parsed.filter(_.get("metric").asText == "errors_part")
      .flatMap(_.get("errors").fieldNames.asScala)
    assert(errs.toSet == Set("q999_all_passes_failed", "q998_other"))
    // the artifact holds the same facts on one line
    val a = json.readTree(artifact)
    assert(a.get("queries").size == timings.size && a.get("max").size == timings.size)
    assert(a.get("errors").size == 2 && a.get("git_sha").asText.startsWith("0123"))
  }
}
