package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The result line carries exactly the metrics BENCHMARK.json lists,
  * with the same units. */
class MetricNamesSpec extends AnyFunSuite {
  private val spec = new ObjectMapper().readTree(new File("../BENCHMARK.json"))

  private def declared(key: String): Set[(String, String)] =
    spec.get(key).asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSet

  /** The (name, unit) pairs of a result line, parsed back from its JSON. */
  private def emitted(metrics: Seq[(String, Double, String)]): Set[(String, String)] = {
    assert(metrics.map(_._1).distinct.size == metrics.size, "a metric name is used twice")
    val line = new ObjectMapper().readTree(Json.result(true, 1, 0, metrics))
    line.get("metrics").properties().asScala.map(e => e.getKey -> e.getValue.get("unit").asText).toSet
  }

  test("--trace 0 prints every end-to-end metric") {
    assert(emitted(Main.endToEndMetrics(1, 1, 1, 1, 1)) == declared("end_to_end"))
  }

  test("--trace 1 prints every per-layer metric") {
    val m = LayerMetrics(Seq(Span(1, 0, 1, "pipelines.chain", 0, 1)), Nil, 1, 1, 0, 0, 0)
    assert(emitted(m.values) == declared("per_layer"))
  }

  test("the workloads BENCHMARK.json names are the benchmark's") {
    val names = spec.get("workloads").asScala.map(_.get("name").asText).toSeq
    assert(names == Workloads.all.map(_.name))
  }
}
