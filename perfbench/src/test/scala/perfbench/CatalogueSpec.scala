package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json declares the metrics the runs print; the two must agree. */
class CatalogueSpec extends AnyFunSuite {

  private val json = new ObjectMapper().readTree(
    new java.io.File(sys.props.getOrElse("user.dir", "."), "../BENCHMARK.json"))

  private def declared(key: String): Seq[(String, String)] =
    json.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("end-to-end and per-layer metrics match the declaration") {
    assert(declared("end_to_end") == Report.EndToEnd)
    assert(declared("per_layer") == Report.PerLayer)
  }

  test("workloads match the runner's list") {
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Main.Workloads)
  }
}
