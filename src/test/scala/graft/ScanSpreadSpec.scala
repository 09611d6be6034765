package graft

import java.nio.file.Files

import org.apache.spark.GraftSparkShim
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

/** The query layer spreads a scan only when it cannot split: q01 over a
  * one-file lineitem spreads it, q01 over the same rows stored as several
  * files scans them in place, with the same result rows. */
class ScanSpreadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  /** q01's rows, and every plan it executed. */
  private def q01(dir: String): (Seq[String], List[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    GraftSparkShim.drainListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val rows = SparkEntry.queries("q01_suite_lineitem")(spark, dir)
        .collect().map(_.toString).toSeq
      GraftSparkShim.drainListeners(spark.sparkContext)
      (rows, plans.toArray(Array.empty[SparkPlan]).toList)
    } finally spark.listenerManager.unregister(listener)
  }

  private def spreads(plans: List[SparkPlan]): Int = {
    object Aqe extends AdaptiveSparkPlanHelper
    plans.map(p => Aqe.collect(p) {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }.size).sum
  }

  test("q01 spreads a one-file lineitem and scans a multi-file one in place") {
    val n = spark.sparkContext.defaultParallelism
    val tmp = Files.createTempDirectory("graft-spread").toFile
    try {
      spark.read.parquet(s"$sf/lineitem.parquet").repartition(n)
        .write.parquet(s"$tmp/lineitem.parquet")
      assert(spark.read.parquet(s"$tmp/lineitem.parquet").inputFiles.length >= n)
      val (single, singlePlans) = q01(sf)
      val (multi, multiPlans) = q01(tmp.toString)
      assert(spreads(singlePlans) > 0, s"no spread on the one-file table: $singlePlans")
      assert(spreads(multiPlans) == 0, s"the multi-file table was spread: $multiPlans")
      assert(multi == single)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }
}
