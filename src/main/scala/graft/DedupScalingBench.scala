package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.metrics.Metered
import graft.operators.Dedup

/** N→4N scaling workload for the full near-dup dedup composition
  * (MinHash-LSH pairs → connected components → canonical keep-min-id,
  * q90's production shape), run by [[ScalingBench.run]] with per-stage
  * wall and executor CPU.
  *
  * Corpus: documents.parquet replicated `rep`× into INDEPENDENT copies of
  * its near-dup structure — every word gets a replica-unique suffix, so no
  * shingle (hence no band key) collides across replicas — plus a planted
  * near-dup of every 50th doc, so pairs, CC and keep all have real work.
  * Naive replication would instead build rep-sized clusters whose
  * candidate joins are quadratic in rep: a skew artifact, not a workload.
  *
  * Run: SPARK_GRAFT_DOC_REP=2000 SPARK_DRIVER_MEM=64g \
  *   sbt "runMain graft.DedupScalingBench [sfDir]"   (≥10M docs at sf0.1)
  */
object DedupScalingBench {

  /** Salted replicated corpus (see class doc). Built OUTSIDE the measured
    * region, like the table write a deployment pays once. */
  def corpus(spark: SparkSession, sfDir: String, rep: Int): DataFrame = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val mx = base.agg(max("doc_id")).head().getLong(0)
    require(mx < 500000L, s"replication offsets too small for doc_id=$mx")
    val planted = base.unionByName(base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 500000L).as("doc_id"),
        concat(col("text"), lit(" extra tail words")).as("text")))
    // the sf documents table is ONE small parquet file → one input
    // partition; without an explicit spread the explode+salt (and every
    // map-side stage over the cached corpus) would run as a single task.
    // Repartitioning the 5k base rows BEFORE the explode keeps the
    // shuffle tiny (5k rows, not 10M) while giving every core replicas.
    val par = spark.sparkContext.defaultParallelism * 3
    planted.repartition(par, col("doc_id"))
      .withColumn("rep", explode(sequence(lit(0), lit(rep - 1))))
      .select((col("doc_id") + col("rep") * 1000000L).as("doc_id"),
        regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1r"), col("rep").cast("string"))).as("text"))
  }

  /** The composition at `rep`×; `counted` is the default (size-gated) CC
    * operating point. Each stage is materialized (persist + count) so its
    * cost cannot leak into the next stage's measurement. */
  def workload(sfDir: String, rep: Int): ScalingBench.Workload =
    ScalingBench.Workload(Seq("pairs", "cc", "keep"), spark => {
      // warmup: JIT + codegen caches on the unreplicated corpus
      Dedup.minhashLshPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text").count()
      corpus(spark, sfDir, rep).persist(StorageLevel.MEMORY_AND_DISK_SER)
    }, pass)

  private def pass(docs: DataFrame, stage: ScalingBench.Stage): Map[String, Long] = {
    // stage 1: banded-LSH candidate generation + exact Jaccard verification
    // the pairs come back pinned (a local checkpoint), so no persist here
    val pairsDf = stage("pairs")(Dedup.minhashLshPairs(docs, "doc_id", "text"))
    val nPairs = pairsDf.count()
    // stage 2: connected components over the verified pair list, with the
    // default size-gated CC; stage 2b: the fully distributed path
    // (driverEdgeLimit = 0, what runs at 100-TB edge counts) on the same pairs
    val ccDf = stage("cc") {
      val c = Dedup.connectedComponents(pairsDf, "doc_a", "doc_b").persist(StorageLevel.MEMORY_AND_DISK)
      c.count(); c
    }
    stage("cc_nogate")(Dedup.connectedComponents(pairsDf, "doc_a", "doc_b",
      driverEdgeLimit = 0).count())
    val nClusters = ccDf.select("cluster").distinct().count()
    // stage 3: canonical keep — min id survives per cluster, unpaired docs
    // pass through (the q90 contract, with CC precomputed above so the
    // stage measures only the id join + filter)
    val nSurv = stage("keep") {
      val clusters = ccDf.select(col("id").as("__cc_id"),
        col("cluster").as("__cc_cluster"))
      docs.select("doc_id")
        .join(clusters, col("doc_id") === col("__cc_id"), "left")
        .filter(col("__cc_cluster").isNull || col("__cc_cluster") === col("doc_id"))
        .count()
    }
    ccDf.unpersist()
    Map("pairs" -> nPairs, "clusters" -> nClusters, "survivors" -> nSurv)
  }

  /** Composition wall with the fully distributed CC (driverEdgeLimit=0) —
    * the operating point that runs at 100-TB edge counts. */
  def totalNoGate(r: ScalingBench.Run): Double =
    r.wall("pairs") + r.wall("cc_nogate") + r.wall("keep")

  private def stages(r: ScalingBench.Run)(f: Metered[Any] => String): String =
    Bench.jsonObj(r.stages.toSeq.sortBy(_._1))(f)

  def json(n: Int, sfDir: String, rep: Int, rN: ScalingBench.Run,
      r4N: ScalingBench.Run): String = {
    val (thrN, thr4N) = (rN.throughput, r4N.throughput)
    val eff = ScalingBench.efficiency(rN, r4N)
    // the fully distributed operating point (driverEdgeLimit = 0), from
    // the same invocation — the number that matters at 100-TB edge counts
    val effNg = (r4N.units / totalNoGate(r4N)) / (4 * (rN.units / totalNoGate(rN)))
    f"""{"metric":"dedup_scaling_efficiency","value":$eff%.4f,"unit":"ratio","value_nogate":$effNg%.4f,"n_cores":$n,"docs":${rN.units},"pairs":${rN.counts("pairs")},"clusters":${rN.counts("clusters")},"survivors":${rN.counts("survivors")},"secs_localN":${rN.total}%.3f,"secs_local4N":${r4N.total}%.3f,"secs_nogate_localN":${totalNoGate(rN)}%.3f,"secs_nogate_local4N":${totalNoGate(r4N)}%.3f,"docs_per_sec_localN":$thrN%.1f,"docs_per_sec_local4N":$thr4N%.1f,"cpu_ns_per_doc_localN":${rN.cpuTotal.toDouble / rN.units}%.1f,"cpu_ns_per_doc_local4N":${r4N.cpuTotal.toDouble / r4N.units}%.1f,"stages_localN":${stages(rN)(m => f"${m.wallS}%.3f")},"stages_local4N":${stages(r4N)(m => f"${m.wallS}%.3f")},"stage_cpu_ns_per_doc_localN":${stages(rN)(m => f"${m.counters.cpuNs.toDouble / rN.units}%.1f")},"stage_cpu_ns_per_doc_local4N":${stages(r4N)(m => f"${m.counters.cpuNs.toDouble / r4N.units}%.1f")},"sf":"$sfDir","rep":$rep}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val rep = sys.env.getOrElse("SPARK_GRAFT_DOC_REP", "2000").toInt
    val n = sys.env.getOrElse("SPARK_GRAFT_N", "8").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_DEDUP_RUNS", "2").toInt
    val json = this.json(n, sfDir, rep, ScalingBench.run(workload(sfDir, rep), n, runs),
      ScalingBench.run(workload(sfDir, rep), n * 4, runs))
    Bench.write(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_DEDUP_OUT", "dedup_scaling_out.json")), json + "\n")
    println(json)
  }
}
