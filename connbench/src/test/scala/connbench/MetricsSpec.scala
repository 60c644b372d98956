package connbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class MetricsSpec extends AnyFunSuite {
  private val path = Paths.get("..", "BENCHMARK.json")
  private val spec = Spec.load(path)

  test("BENCHMARK.json lists the workloads the benchmark runs") {
    val listed = new ObjectMapper().readTree(path.toFile).get("workloads")
      .elements().asScala.map(_.get("name").asText).toSet
    assert(listed == Main.Workloads.keySet)
  }

  test("results follow the result contract, with units from BENCHMARK.json") {
    val line = Json.result(spec, correct = true, 3, 0,
      spec.endToEnd.map(_ -> 1.5).toMap + ("ops.verify_s" -> 2.0))
    val r = new ObjectMapper().readTree(line)
    assert(r.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(r.get("metrics").get("setup_s").get("unit").asText == "s")
    assert(r.get("metrics").get("ops.verify_s").get("value").asDouble == 2.0)
    intercept[IllegalArgumentException](Json.result(spec, true, 1, 0, Map("setup_s" -> Double.NaN)))
  }

  test("a result refuses a metric BENCHMARK.json does not declare") {
    val e = intercept[IllegalArgumentException](
      Json.result(spec, true, 1, 0, Map("exec.spill_mb" -> 1.0)))
    assert(e.getMessage.contains("exec.spill_mb"))
  }
}
