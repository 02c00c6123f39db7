package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

class MetricsSuite extends Suite {

  private val spec = {
    val f = Seq(new File("../BENCHMARK.json"), new File("BENCHMARK.json"))
      .find(_.isFile).getOrElse(fail("BENCHMARK.json not found"))
    new ObjectMapper().readTree(f)
  }

  private def listed(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.toSeq
      .map(m => m.get("name").asText() -> m.get("unit").asText())

  test("metric names and units match BENCHMARK.json") {
    assert(listed("end_to_end") == Metrics.EndToEnd.map(m => m.name -> m.unit))
    assert(listed("per_layer") == Metrics.PerLayer.map(m => m.name -> m.unit))
  }

  test("workload names match BENCHMARK.json") {
    val names = spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSet
    assert(names == Main.Workloads.keySet)
  }

  private def outcome(layers: Map[String, Double]) =
    Outcome(attempted = 5, failed = 0, opSeconds = Seq(1.0, 1.2, 1.1, 0.9, 1.3),
      itemsPerS = 42.0, setupS = Seq(3.0, 2.0, 2.5), warmupS = 1.0, layers = layers,
      inputChecksum = "x", ops = Nil, notes = Nil, spans = Nil)

  private def args(trace: Boolean) = Main.Args("incremental_runs", 1, 20, trace,
    new File("r"), new File("p"))

  private def emitted(line: String): Seq[String] = {
    val n = new ObjectMapper().readTree(line)
    assert(n.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    n.get("metrics").fieldNames().asScala.toSeq
  }

  test("an untraced result line carries exactly the end-to-end metrics") {
    val (line, _) = Main.result(args(trace = false), outcome(Map.empty), 4.0, 4)
    assert(emitted(line) == listed("end_to_end").map(_._1))
  }

  test("a traced result line carries exactly the per-layer metrics") {
    val (line, _) = Main.result(args(trace = true),
      outcome(Map("spark.jobs" -> 7.0)), 4.0, 4)
    assert(emitted(line) == listed("per_layer").map(_._1))
  }

  test("setup_s counts session start, the median set-up and the warm-up") {
    assert(Main.setupSeconds(outcome(Map.empty), 4.0) == 4.0 + 2.5 + 1.0)
  }

  test("a failed run is not correct and still names every metric") {
    val (line, _) = Main.result(args(trace = false),
      outcome(Map.empty).copy(failed = 1), 4.0, 4)
    assert(new ObjectMapper().readTree(line).get("correct").asBoolean() == false)
    assert(emitted(line) == listed("end_to_end").map(_._1))
  }
}
