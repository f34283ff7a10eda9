package org.apache.spark

/** `private[spark]` access for the benchmark's traced runs: block until
  * the listener bus has delivered every queued event, so the job and
  * progress records read after a run are complete.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
