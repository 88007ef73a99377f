package perfbench

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json at the checkout root names exactly the workloads and
  * metrics the harness reports, with the same units and directions. */
class BenchmarkJsonSpec extends AnyFunSuite {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File("../BENCHMARK.json"))

  private def metrics(key: String) = json.get(key).elements().asScala.map { m =>
    (m.get("name").asText, m.get("unit").asText, m.get("better").asText)
  }.toSeq

  test("workloads") {
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Main.Workloads)
  }

  test("end-to-end and per-layer metrics") {
    assert(metrics("end_to_end") == Metrics.EndToEnd.map(m => (m.name, m.unit, m.better)))
    assert(metrics("per_layer") == Metrics.PerLayer.map(m => (m.name, m.unit, m.better)))
  }
}
