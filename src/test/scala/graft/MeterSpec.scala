package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.metrics.{Counters, Meter, Metered}

class MeterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("meter counts a known shuffle job") {
    val m = Meter.measure(spark)(spark.range(0, 10000, 1, 4).repartition(4).count())
    assert(m.result == 10000L)
    assert(m.wallS > 0)
    val c = m.counters
    assert(c.jobs >= 1, c)
    assert(c.tasks >= 4, c)
    assert(c.stages >= 1, c)
    assert(c.shuffleWriteB > 0, c)
    assert(c.cpuNs > 0, c)
  }

  test("back-to-back measure calls do not bleed counters") {
    val meter = Meter(spark)
    try {
      val shuffled = meter.measure(spark.range(0, 10000, 1, 4).repartition(4).count())
      val idle = meter.measure(())
      val again = meter.measure(spark.range(0, 10000, 1, 4).repartition(4).count())
      assert(shuffled.counters.shuffleWriteB > 0)
      assert(idle.counters == Counters(), idle.counters)
      assert(again.counters.jobs == shuffled.counters.jobs, (shuffled, again))
      assert(again.counters.tasks == shuffled.counters.tasks, (shuffled, again))
    } finally meter.close()
  }

  private def keys(line: String): Seq[String] =
    new ObjectMapper().readTree(line).fieldNames().asScala.toSeq

  private val counters = Counters(cpuNs = 4000, runMs = 3, shuffleReadB = 2,
    shuffleWriteB = 1, jobs = 1, stages = 1, tasks = 4)
  private def stage(wall: Double, cpuNs: Long) =
    Metered((), wall, Counters(cpuNs = cpuNs))

  test("Bench line: protocol keys, then meter counters per query") {
    val results = ("qf_pipeline" -> Metered((), 2.0, counters)) +:
      Bench.Headline.map(_ -> Metered((), 1.0, counters))
    val line = Bench.json(results, "/data/sf0.01", 1000L, "4")
    assert(keys(line) == Seq("metric", "value", "unit", "queries", "sf", "turns",
      "turns_per_sec", "cpus", "meter"))
    val tree = new ObjectMapper().readTree(line)
    assert(tree.get("queries").fieldNames().asScala.toSeq == results.map(_._1))
    assert(tree.get("meter").fieldNames().asScala.toSeq == results.map(_._1))
    assert(keys(counters.toJson) == Seq("cpu_ns", "run_ms", "shuffle_read_b",
      "shuffle_write_b", "spill_b", "jobs", "stages", "tasks"))
    assert(tree.get("value").asDouble == 2.0 + Bench.Headline.size)
    assert(tree.get("turns_per_sec").asDouble == 500.0)
  }

  test("qf scaling line keys; CPU is the min-wall run's") {
    def run(wall: Double) = ScalingBench.Run(1000L,
      Map("qf" -> stage(wall, 50000L)), Map.empty, Seq("qf"))
    val line = ScalingBench.json(1, "/data/sf0.01", run(4.0), run(1.0))
    assert(keys(line) == Seq("metric", "value", "unit", "n_cores", "turns",
      "secs_localN", "secs_local4N", "turns_per_sec_localN",
      "turns_per_sec_local4N", "cpu_ns_per_turn_localN",
      "cpu_ns_per_turn_local4N", "sf"))
    val tree = new ObjectMapper().readTree(line)
    assert(tree.get("value").asDouble == 1.0)
    assert(tree.get("cpu_ns_per_turn_localN").asDouble == 50.0)
  }

  test("dedup scaling line keys; doc CPU sums exactly the pairs, cc and keep stages") {
    def run(scale: Double) = ScalingBench.Run(100L, Map(
      "pairs" -> stage(1.0 * scale, 1000L), "cc" -> stage(2.0 * scale, 2000L),
      "cc_nogate" -> stage(3.0 * scale, 30000L), "keep" -> stage(0.5 * scale, 500L)),
      Map("pairs" -> 7L, "clusters" -> 3L, "survivors" -> 95L),
      DedupScalingBench.workload("/data/sf0.01", 2).counted)
    val line = DedupScalingBench.json(1, "/data/sf0.01", 2, run(1.0), run(0.5))
    assert(keys(line) == Seq("metric", "value", "unit", "value_nogate", "n_cores",
      "docs", "pairs", "clusters", "survivors", "secs_localN", "secs_local4N",
      "secs_nogate_localN", "secs_nogate_local4N", "docs_per_sec_localN",
      "docs_per_sec_local4N", "cpu_ns_per_doc_localN", "cpu_ns_per_doc_local4N",
      "stages_localN", "stages_local4N", "stage_cpu_ns_per_doc_localN",
      "stage_cpu_ns_per_doc_local4N", "sf", "rep"))
    val tree = new ObjectMapper().readTree(line)
    assert(tree.get("cpu_ns_per_doc_localN").asDouble == 35.0)
    assert(tree.get("secs_localN").asDouble == 3.5)
    assert(tree.get("secs_nogate_localN").asDouble == 4.5)
    assert(tree.get("value").asDouble == 0.5)
    assert(tree.get("stages_localN").fieldNames().asScala.toSeq ==
      Seq("cc", "cc_nogate", "keep", "pairs"))
    assert(tree.get("stage_cpu_ns_per_doc_localN").get("cc_nogate").asDouble == 300.0)
  }
}
