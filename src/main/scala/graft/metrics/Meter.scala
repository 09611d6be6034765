package graft.metrics

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.{GraftSparkShim, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark work of one interval: executor CPU and run time, shuffle bytes,
  * disk spill, and the number of jobs, stages and tasks. */
final case class Counters(cpuNs: Long = 0, runMs: Long = 0,
    shuffleReadB: Long = 0, shuffleWriteB: Long = 0, spillB: Long = 0,
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0) {
  def -(o: Counters): Counters = Counters(cpuNs - o.cpuNs, runMs - o.runMs,
    shuffleReadB - o.shuffleReadB, shuffleWriteB - o.shuffleWriteB,
    spillB - o.spillB, jobs - o.jobs, stages - o.stages, tasks - o.tasks)
  def toJson: String =
    s"""{"cpu_ns":$cpuNs,"run_ms":$runMs,"shuffle_read_b":$shuffleReadB,""" +
      s""""shuffle_write_b":$shuffleWriteB,"spill_b":$spillB,"jobs":$jobs,""" +
      s""""stages":$stages,"tasks":$tasks}"""
}

/** `f`'s result with its wall time and the Spark work it caused. */
final case class Metered[+A](result: A, wallS: Double, counters: Counters)

/** The engine's metering listener: sums task metrics and counts jobs,
  * stages and tasks on one SparkContext. Delivery is asynchronous, so
  * [[counters]] first drains the listener bus; [[measure]] thus drains
  * before and after `f`, outside the timed interval. Counters are per
  * context: an interval also charges jobs other threads run meanwhile. */
final class Meter private (sc: SparkContext) extends SparkListener {
  private val cpuNs, runMs, shuffleReadB, shuffleWriteB, spillB, jobs, stages,
    tasks = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.add(m.executorCpuTime)
      runMs.add(m.executorRunTime)
      shuffleReadB.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
      spillB.add(m.diskBytesSpilled)
    }
  }

  /** Totals since the meter was attached, over every event posted so far. */
  def counters: Counters = {
    GraftSparkShim.drainListeners(sc)
    Counters(cpuNs.sum, runMs.sum, shuffleReadB.sum, shuffleWriteB.sum,
      spillB.sum, jobs.sum, stages.sum, tasks.sum)
  }

  def measure[A](f: => A): Metered[A] = {
    val before = counters
    val t0 = System.nanoTime()
    val a = f
    val wall = (System.nanoTime() - t0) / 1e9
    Metered(a, wall, counters - before)
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object Meter {
  /** A meter attached to the session's context; [[Meter.close]] detaches it. */
  def apply(spark: SparkSession): Meter = {
    val m = new Meter(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** Measure `f` with a meter that lives for this one call. */
  def measure[A](spark: SparkSession)(f: => A): Metered[A] = {
    val m = Meter(spark)
    try m.measure(f) finally m.close()
  }
}
