package org.apache.spark

/** Lets the traced run wait until every listener event posted so far has been
  * delivered, so an operation's jobs, stages and tasks are all counted before
  * its per-layer record is closed. The wait happens outside the timed window. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
