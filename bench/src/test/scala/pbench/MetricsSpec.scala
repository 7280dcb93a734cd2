package pbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json must name exactly the workloads and metrics the
  * benchmark prints.
  */
class MetricsSpec extends AnyFunSuite {

  private val spec = {
    val path = Seq(Paths.get("..", "BENCHMARK.json"), Paths.get("BENCHMARK.json"))
      .find(Files.exists(_)).getOrElse(fail("BENCHMARK.json not found"))
    new ObjectMapper().readTree(Files.readString(path))
  }

  private def names(key: String) = spec.get(key).elements().asScala.map(_.get("name").textValue).toSeq
  private def units(key: String) =
    spec.get(key).elements().asScala.map(n => n.get("name").textValue -> n.get("unit").textValue).toMap

  test("workloads match") {
    assert(names("workloads") == Workloads.All)
  }

  test("end-to-end and per-layer metrics match, with their units") {
    assert(names("end_to_end") == Metrics.EndToEnd.keys.toSeq)
    assert(names("per_layer") == Metrics.PerLayer.keys.toSeq)
    assert(units("end_to_end") == Metrics.EndToEnd.toMap)
    assert(units("per_layer") == Metrics.PerLayer.toMap)
  }

  test("throughput counts every timed op; percentiles are over the latencies given") {
    // curation_lineage: 4 executions of 2 queries, reduced to their medians
    val e = Metrics.endToEnd(1.0, 100.0, Seq(10.0, 30.0), ops = 4, opSeconds = 0.08)
    assert(e("ops_per_s") == 50.0)
    assert(e("op_p50_ms") == 20.0 && e("op_p90_ms") == 28.0)
    assert(Metrics.endToEnd(1.0, 100.0, Nil, 0, 0.0).keySet == Set("setup_s", "mem_peak_mb"))
  }

  test("every run prints every metric") {
    val m = Metrics.complete(Metrics.PerLayer, Map("core.contar_ns" -> 0.1))
    assert(m.keys.toSeq == Metrics.PerLayer.keys.toSeq)
    assert(m("core.contar_ns") == (0.1, "ns") && m("sched.jobs") == (0.0, "count"))
  }
}
