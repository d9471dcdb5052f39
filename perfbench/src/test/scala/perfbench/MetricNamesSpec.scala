package perfbench

import java.io.File
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class MetricNamesSpec extends AnyFunSuite {

  private val spec = new ObjectMapper().readTree(new File("../BENCHMARK.json"))

  private def listed(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.toSeq
      .map(m => m.get("name").asText() -> m.get("unit").asText())

  test("every end-to-end metric printed is in BENCHMARK.json, and the reverse") {
    assert(Metrics.endToEnd == listed("end_to_end"))
  }

  test("every per-layer metric printed is in BENCHMARK.json, and the reverse") {
    assert(Metrics.perLayer == listed("per_layer"))
  }

  test("every query_mix program exists in the engine") {
    val names = graft.GraftQuery.all.map(_.name).toSet
    assert(Metrics.queries.forall(names))
  }
}
