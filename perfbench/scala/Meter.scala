package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Task, stage and job counters of one span. */
final class Counters {
  val cpuNs, runMs, shuffleWriteB, shuffleReadB, fetchWaitMs, spillB, gcMs,
    tasks, taskFailures, stages, jobs, jobFailures, staleGroupJobs = new LongAdder
  @volatile var lastJobEndMs: Long = 0L

  def toMap: Map[String, Any] = Map(
    "cpu_ns" -> cpuNs.sum, "run_ms" -> runMs.sum,
    "shuffle_write_b" -> shuffleWriteB.sum, "shuffle_read_b" -> shuffleReadB.sum,
    "fetch_wait_ms" -> fetchWaitMs.sum, "spill_b" -> spillB.sum,
    "gc_ms" -> gcMs.sum, "tasks" -> tasks.sum,
    "task_failures" -> taskFailures.sum, "stages" -> stages.sum, "jobs" -> jobs.sum,
    "job_failures" -> jobFailures.sum, "stale_group_jobs" -> staleGroupJobs.sum,
    "last_job_end_ms" -> lastJobEndMs)
}

/** Listener that charges every job, stage and task to the span that was
  * open when the job started.
  *
  * The benchmark runs one call at a time and drains the listener bus before
  * it opens or closes a span, so `current` is exact when a job-start event is
  * delivered; stages and tasks follow their job. The job group that the
  * benchmark sets names the same span, but it is not a reliable key on its
  * own: SuiteRunner submits metric jobs from a cached thread pool whose
  * threads keep the job group they inherited when they were created. Such
  * jobs are counted in `stale_group_jobs`. */
final class Meter extends SparkListener {
  @volatile var current: String = "setup"
  val counters = new ConcurrentHashMap[String, Counters]()
  private val stageOwner = new ConcurrentHashMap[Int, String]()
  private val jobOwner = new ConcurrentHashMap[Int, String]()

  def of(key: String): Counters = counters.computeIfAbsent(key, _ => new Counters)
  private def owner(stageId: Int): Counters =
    of(stageOwner.getOrDefault(stageId, current))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = current
    jobOwner.put(e.jobId, key)
    e.stageIds.foreach(stageOwner.put(_, key))
    val c = of(key)
    c.jobs.increment()
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != key) c.staleGroupJobs.increment()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val c = of(jobOwner.getOrDefault(e.jobId, current))
    c.synchronized { c.lastJobEndMs = math.max(c.lastJobEndMs, e.time) }
    if (e.jobResult != JobSucceeded) c.jobFailures.increment()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    owner(e.stageInfo.stageId).stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = owner(e.stageId)
    c.tasks.increment()
    if (e.reason != org.apache.spark.Success) c.taskFailures.increment()
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs.add(m.executorCpuTime)
      c.runMs.add(m.executorRunTime)
      c.shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleReadB.add(m.shuffleReadMetrics.totalBytesRead)
      c.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
      c.spillB.add(m.diskBytesSpilled)
      c.gcMs.add(m.jvmGCTime)
    }
  }
}

final case class SpanRec(id: Int, parent: Int, pass: Int, name: String,
    key: String, startNs: Long, endNs: Long, endMs: Long)

/** Spans kept in memory and written out when the run ends. A span's key is
  * the path of names from its pass (`p3/Dedup.cc`); the meter charges Spark
  * work to that key and the job group carries it into the event log. */
final class Tracer(sc: SparkContext, meter: Meter, val originNs: Long) {
  val spans = ArrayBuffer.empty[SpanRec]
  private var nextId = 0
  private var stack: List[(Int, String)] = Nil

  def drain(): Unit = PerfbenchBus.drain(sc)

  private def enter(key: String, name: String): Unit = {
    meter.current = key
    if (stack.isEmpty && key == "setup") sc.clearJobGroup()
    else sc.setJobGroup(key, name, interruptOnCancel = false)
  }

  /** Time `f` as span `name`. Bus drains sit outside the span's own
    * interval, so an untraced pass pays none inside its wall time. */
  def span[A](pass: Int, name: String)(f: => A): A = {
    drain()
    val (parentId, parentKey) = stack.headOption.getOrElse((-1, "setup"))
    val key = if (parentId < 0) name else s"$parentKey/$name"
    val id = nextId
    nextId += 1
    enter(key, name)
    stack = (id, key) :: stack
    val start = System.nanoTime()
    try f
    finally {
      val end = System.nanoTime()
      val endMs = System.currentTimeMillis()
      drain()
      stack = stack.tail
      enter(parentKey, parentKey)
      spans += SpanRec(id, parentId, pass, name, key, start, end, endMs)
    }
  }
}
