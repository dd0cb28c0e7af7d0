package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import scala.jdk.CollectionConverters._

/** Every metric the benchmark prints is declared in BENCHMARK.json, with
  * the same unit, and every declared metric is printed.
  */
class MetricNamesSpec extends AnyFunSuite {

  private val spec = new ObjectMapper().readTree(new File("../BENCHMARK.json"))

  private def declared(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("end-to-end metrics match BENCHMARK.json") {
    assert(Main.EndToEnd.sorted == declared("end_to_end").sorted)
  }

  test("per-layer metrics match BENCHMARK.json") {
    assert(Layers.Names.sorted == declared("per_layer").sorted)
  }

  test("the workloads match BENCHMARK.json") {
    val names = spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq
    assert(Workloads.Names.sorted == names.sorted)
  }
}
