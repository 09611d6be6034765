package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** North-rule scaling evidence for the full near-dup dedup COMPOSITION
  * (MinHash-LSH pair generation → connected components → canonical
  * keep-min-id — q90's production shape), complementing ScalingBench's
  * quality-filter measurement: the identical job on the identical input at
  * local[N] vs local[4N], reporting per-stage wall + executor-CPU
  * attribution and scaling efficiency = thr(4N) / (4 · thr(N)).
  *
  * Corpus: documents.parquet replicated `rep`× into INDEPENDENT copies of
  * the corpus's near-dup structure — every word gets a replica-unique
  * suffix, so no shingle (hence no MinHash band key) ever collides across
  * replicas, while within-replica relations are isomorphic to the
  * original; every 50th doc also gets a planted near-dup copy (3-word
  * tail) so pair generation, CC and canonical keep all have real work.
  * This is the honest way to scale a dedup benchmark: naive replication
  * would create rep-sized artificial clusters whose candidate joins are
  * quadratic in rep — a skew artifact, not a workload.
  *
  * Run: SPARK_GRAFT_DOC_REP=2000 SPARK_DRIVER_MEM=64g \
  *   sbt "runMain graft.DedupScalingBench [sfDir]"   (≥10M docs at sf0.1)
  */
object DedupScalingBench {

  final case class StageTimes(wall: Map[String, Double], cpu: Map[String, Long],
    docs: Long, pairs: Long, clusters: Long, survivors: Long) {
    /** Composition wall with the DEFAULT (size-gated) CC operating point. */
    def total: Double =
      wall("pairs") + wall("cc") + wall("keep")
    /** Composition wall with the fully distributed CC (driverEdgeLimit=0) —
      * the operating point that runs at 100-TB edge counts. */
    def totalNoGate: Double =
      wall("pairs") + wall.getOrElse("cc_nogate", wall("cc")) + wall("keep")
    /** Executor CPU over the same stages as [[total]] (cc_nogate re-runs
      * CC on the same pairs, so summing every stage counts CC twice). */
    def cpuTotal: Long = cpu("pairs") + cpu("cc") + cpu("keep")
  }

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

  /** One full composition pass with per-stage wall + CPU attribution.
    * Each stage is materialized (persist + count) so its cost cannot leak
    * into the next stage's measurement; the listener-bus drain sleeps
    * bracket every stage because task-metric delivery is async. */
  def runOnce(docs: DataFrame, nDocs: Long, cpuNs: AtomicLong): StageTimes = {
    def drain(): Unit = Thread.sleep(1500)
    def stage[A](f: => (A, Long)): (A, Double, Long) = {
      drain(); val c0 = cpuNs.get()
      val t0 = System.nanoTime()
      val (a, _) = f
      val wall = (System.nanoTime() - t0) / 1e9
      drain()
      (a, wall, cpuNs.get() - c0)
    }
    // stage 1: banded-LSH candidate generation + exact Jaccard verification
    val (pairsDf, wPairs, cPairs) = stage {
      val p = Dedup.minhashLshPairs(docs, "doc_id", "text")
        .persist(StorageLevel.MEMORY_AND_DISK)
      (p, p.count())
    }
    val nPairs = pairsDf.count()
    // stage 2: connected components over the verified pair list — BOTH
    // operating points in one pass (round-5 verdict: the artifact carried
    // only the driver-gated number; at 100-TB edge counts the gate
    // auto-disables and the distributed figure is the one that matters)
    val (ccDf, wCc, cCc) = stage {
      val c = Dedup.connectedComponents(pairsDf, "doc_a", "doc_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
      (c, c.count())
    }
    // stage 2b: the fully distributed path (driverEdgeLimit = 0) over the
    // SAME persisted pair list; spec-identical labeling, timed separately
    val (_, wCcNoGate, cCcNoGate) = stage {
      val n = Dedup.connectedComponents(pairsDf, "doc_a", "doc_b",
        driverEdgeLimit = 0).count()
      (n, n)
    }
    val nClusters = ccDf.select("cluster").distinct().count()
    // stage 3: canonical keep — min id survives per cluster, unpaired docs
    // pass through (the q90 contract, with CC precomputed above so the
    // stage measures only the id join + filter)
    val (nSurv, wKeep, cKeep) = stage {
      val clusters = ccDf.select(col("id").as("__cc_id"),
        col("cluster").as("__cc_cluster"))
      val surv = docs.select("doc_id")
        .join(clusters, col("doc_id") === col("__cc_id"), "left")
        .filter(col("__cc_cluster").isNull || col("__cc_cluster") === col("doc_id"))
        .count()
      (surv, surv)
    }
    pairsDf.unpersist(); ccDf.unpersist()
    StageTimes(
      wall = Map("pairs" -> wPairs, "cc" -> wCc, "cc_nogate" -> wCcNoGate,
        "keep" -> wKeep),
      cpu = Map("pairs" -> cPairs, "cc" -> cCc, "cc_nogate" -> cCcNoGate,
        "keep" -> cKeep),
      docs = nDocs, pairs = nPairs, clusters = nClusters, survivors = nSurv)
  }

  def run(cpus: Int, sfDir: String, rep: Int, runs: Int): StageTimes = {
    val spark = Bench.session(cpus.toString)
    spark.conf.set("spark.sql.shuffle.partitions", (cpus * 3).toString)
    spark.sparkContext.setLogLevel("WARN")
    try {
      // warmup: JIT + codegen caches on the unreplicated corpus
      Dedup.minhashLshPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
        .count()
      val docs = corpus(spark, sfDir, rep).persist(StorageLevel.MEMORY_AND_DISK_SER)
      val nDocs = docs.count()
      val cpuNs = new AtomicLong(0L)
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
      }
      spark.sparkContext.addSparkListener(listener)
      // min-of-runs by TOTAL wall (shared host): report the best run's
      // per-stage breakdown so stages are from one coherent pass
      val best = (1 to runs).map(_ => runOnce(docs, nDocs, cpuNs))
        .minBy(_.total)
      Thread.sleep(2000)
      spark.sparkContext.removeSparkListener(listener)
      docs.unpersist()
      best
    } finally spark.stop()
  }

  private def fmtStages(wall: Map[String, Double]): String =
    wall.toSeq.sortBy(_._1).map { case (k, v) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
  private def fmtCpu(cpu: Map[String, Long], docs: Long): String =
    cpu.toSeq.sortBy(_._1).map { case (k, v) =>
      f""""$k":${v.toDouble / docs}%.1f""" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val rep = sys.env.getOrElse("SPARK_GRAFT_DOC_REP", "2000").toInt
    val n = sys.env.getOrElse("SPARK_GRAFT_N", "8").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_DEDUP_RUNS", "2").toInt
    val rN = run(n, sfDir, rep, runs)
    val r4N = run(n * 4, sfDir, rep, runs)
    val thrN = rN.docs / rN.total
    val thr4N = r4N.docs / r4N.total
    val eff = thr4N / (4 * thrN)
    // the fully distributed operating point (driverEdgeLimit = 0), from
    // the same invocation — the number that matters at 100-TB edge counts
    val thrNg = rN.docs / rN.totalNoGate
    val thr4Ng = r4N.docs / r4N.totalNoGate
    val effNg = thr4Ng / (4 * thrNg)
    val json = f"""{"metric":"dedup_scaling_efficiency","value":$eff%.4f,"unit":"ratio","value_nogate":$effNg%.4f,"n_cores":$n,"docs":${rN.docs},"pairs":${rN.pairs},"clusters":${rN.clusters},"survivors":${rN.survivors},"secs_localN":${rN.total}%.3f,"secs_local4N":${r4N.total}%.3f,"secs_nogate_localN":${rN.totalNoGate}%.3f,"secs_nogate_local4N":${r4N.totalNoGate}%.3f,"docs_per_sec_localN":$thrN%.1f,"docs_per_sec_local4N":$thr4N%.1f,"cpu_ns_per_doc_localN":${rN.cpuTotal.toDouble / rN.docs}%.1f,"cpu_ns_per_doc_local4N":${r4N.cpuTotal.toDouble / r4N.docs}%.1f,"stages_localN":${fmtStages(rN.wall)},"stages_local4N":${fmtStages(r4N.wall)},"stage_cpu_ns_per_doc_localN":${fmtCpu(rN.cpu, rN.docs)},"stage_cpu_ns_per_doc_local4N":${fmtCpu(r4N.cpu, r4N.docs)},"sf":"$sfDir","rep":$rep}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_DEDUP_OUT", "dedup_scaling_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    println(json)
  }
}
