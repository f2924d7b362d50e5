package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json and the metrics the benchmark prints must name the
  * same workloads and metrics with the same units. */
class CatalogueSpec extends AnyFunSuite {

  private val json = {
    val p = Seq(Paths.get("..", "BENCHMARK.json"), Paths.get("BENCHMARK.json")).find(Files.exists(_))
      .getOrElse(fail("BENCHMARK.json not found next to the benchmark"))
    new ObjectMapper().readTree(p.toFile)
  }

  private def metrics(key: String): Seq[(String, String, String)] =
    json.get(key).elements().asScala.map { m =>
      (m.get("name").asText, m.get("unit").asText, m.get("better").asText)
    }.toSeq

  test("workloads match") {
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Workloads.all.map(_.name))
  }

  test("end-to-end metrics match") {
    assert(metrics("end_to_end") == Main.EndToEnd.map(m => (m.name, m.unit, m.better)))
  }

  test("per-layer metrics match") {
    assert(metrics("per_layer") == Main.PerLayer.map(m => (m.name, m.unit, m.better)))
  }
}
