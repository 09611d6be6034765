package graft.metrics

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs an operator starts, so the event log and the UI
  * attribute them to the operator (`qf:write`, `suite:<names>/domains`)
  * instead of to an anonymous call site. */
object JobLabel {
  /** Runs `f` with Spark job description `label`, then restores the
    * caller's description. */
  def apply[T](spark: SparkSession, label: String)(f: => T): T = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try f finally sc.setLocalProperty("spark.job.description", caller)
  }
}
