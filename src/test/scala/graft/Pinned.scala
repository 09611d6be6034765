package graft

import org.apache.spark.SparkContext

/** The ids of the RDDs that `f` left pinned on a context: those in
  * `getPersistentRDDs` after `f` that were not there before it. A local
  * checkpoint stays in that map until its RDD is unpersisted (or its last
  * reference is collected), so a superseded checkpoint shows up here. */
object Pinned {
  def apply(sc: SparkContext)(f: => Unit): Set[Int] = {
    val before = sc.getPersistentRDDs.keySet
    f
    sc.getPersistentRDDs.keySet.toSet -- before
  }
}
