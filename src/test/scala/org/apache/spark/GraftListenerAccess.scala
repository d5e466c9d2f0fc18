package org.apache.spark

/** Test-only bridge into `private[spark]`: block until every posted
  * listener event has been delivered, so a SparkListener's counts are
  * complete when a spec reads them. Lives in the Spark package
  * namespace purely to satisfy the access check; test classpath only. */
object GraftListenerAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
