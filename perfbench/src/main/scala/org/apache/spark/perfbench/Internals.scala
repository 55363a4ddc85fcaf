package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to two `private[spark]` parts of the context, which is why
  * this lives in Spark's package. */
object Internals {

  /** Waits until every listener has seen every event posted so far, so
    * a traced operation's numbers are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Submission times (epoch ms) of the jobs the status store holds,
    * whichever thread started them. */
  def jobStarts(sc: SparkContext): Seq[Long] =
    sc.statusStore.jobsList(null).flatMap(_.submissionTime.map(_.getTime))
}
