package graft

import scala.collection.mutable
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.metrics.{Meter, Metered}
import graft.transcripts.QualityFilter

/** The N→4N scaling runner, and its quality-filter workload (one stage:
  * the full quality filter over transcripts replicated SPARK_GRAFT_REP×).
  * A workload runs identically at local[N] and local[4N], 3 shuffle
  * partitions per core. Each session warms up, persists the input outside
  * the measured region and keeps the min-total pass of `runs` (shared host:
  * single runs vary ±2×). Each stage runs inside the session's [[Meter]],
  * so CPU comes from the same pass as wall and covers exactly the stages of
  * the wall total. Efficiency = thr(4N) / (4 · thr(N)), acceptance ≥ 0.8.
  * Run: SPARK_GRAFT_N=8 sbt "runMain graft.ScalingBench [sfDir]". */
object ScalingBench {

  /** A scaling workload. `input` warms up and returns the persisted input;
    * `pass` runs one pass over it, each stage inside `stage`, and returns
    * its result counts; `counted` names the stages of a pass's total. */
  final case class Workload(counted: Seq[String], input: SparkSession => DataFrame,
      pass: (DataFrame, Stage) => Map[String, Long])

  /** Runs the named stages of one pass under the session's meter. */
  final class Stage(meter: Meter) {
    val measured = mutable.Map.empty[String, Metered[Any]]
    def apply[A](name: String)(f: => A): A = meter.measure(f).tap(measured(name) = _).result
  }

  /** One pass: input size, measured stages, result counts. */
  final case class Run(units: Long, stages: Map[String, Metered[Any]],
      counts: Map[String, Long], counted: Seq[String]) {
    def wall(stage: String): Double = stages(stage).wallS
    def total: Double = counted.map(wall).sum
    def cpuTotal: Long = counted.map(stages(_).counters.cpuNs).sum
    def throughput: Double = units / total
  }

  /** The min-total pass of `runs` at local[cpus]. */
  def run(w: Workload, cpus: Int, runs: Int): Run = {
    val spark = Bench.session(cpus.toString)
    spark.conf.set("spark.sql.shuffle.partitions", (cpus * 3).toString)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val input = w.input(spark)
      val units = input.count()
      val meter = Meter(spark)
      val best = (1 to runs).map { _ =>
        val stage = new Stage(meter)
        val counts = w.pass(input, stage)
        Run(units, stage.measured.toMap, counts, w.counted)
      }.minBy(_.total)
      meter.close()
      input.unpersist()
      best
    } finally spark.stop()
  }

  def efficiency(rN: Run, r4N: Run): Double = r4N.throughput / (4 * rN.throughput)

  def qf(sfDir: String, rep: Int): Workload = Workload(Seq("qf"),
    spark => {
      Bench.consume(QualityFilter(Bench.replicatedTranscripts(spark, sfDir, 1)))
      Bench.replicatedTranscripts(spark, sfDir, rep).persist(StorageLevel.MEMORY_ONLY)
    },
    (input, stage) => { stage("qf")(Bench.consume(QualityFilter(input))); Map.empty })

  def json(n: Int, sfDir: String, rN: Run, r4N: Run): String = {
    val (thrN, thr4N) = (rN.throughput, r4N.throughput)
    val (cpuN, cpu4N) = (rN.cpuTotal.toDouble / rN.units, r4N.cpuTotal.toDouble / r4N.units)
    f"""{"metric":"scaling_efficiency","value":${efficiency(rN, r4N)}%.4f,"unit":"ratio","n_cores":$n,"turns":${rN.units},"secs_localN":${rN.total}%.3f,"secs_local4N":${r4N.total}%.3f,"turns_per_sec_localN":$thrN%.1f,"turns_per_sec_local4N":$thr4N%.1f,"cpu_ns_per_turn_localN":$cpuN%.1f,"cpu_ns_per_turn_local4N":$cpu4N%.1f,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val rep = sys.env.getOrElse("SPARK_GRAFT_REP", "100").toInt
    val n = sys.env.getOrElse("SPARK_GRAFT_N", "8").toInt
    println(json(n, sfDir, run(qf(sfDir, rep), n, 5), run(qf(sfDir, rep), n * 4, 5)))
  }
}
