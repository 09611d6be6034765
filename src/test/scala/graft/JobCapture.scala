package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftSparkShim, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** A job's `spark.job.description` and `spark.jobGroup.id` (null if unset),
  * its call site: the name of its last stage, e.g. `count at X.scala:9`
  * for a job an action runs on the caller's thread (the stage jobs of an
  * adaptive plan are submitted from a pool thread and carry its call
  * site), and the number of tasks of that last stage. */
final case class CapturedJob(description: String, group: String, callSite: String,
    tasks: Int)

/** Records the properties of every job that starts on a context while `f`
  * runs. The listener bus is drained before the listener attaches and
  * after `f`, so the capture holds the jobs started during `f` and none
  * from before it. */
object JobCapture {
  def apply(sc: SparkContext)(f: => Unit): List[CapturedJob] = {
    val jobs = new ConcurrentLinkedQueue[CapturedJob]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).map(_.getProperty(k)).orNull
        val last = e.stageInfos.maxByOption(_.stageId)
        jobs.add(CapturedJob(prop("spark.job.description"), prop("spark.jobGroup.id"),
          last.map(_.name).orNull, last.fold(0)(_.numTasks)))
      }
    }
    GraftSparkShim.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      f
      GraftSparkShim.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toList
  }
}
