package org.apache.spark

/** Access to the `private[spark]` listener bus: the traced run reads its
  * job and task totals only after every posted event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
