package org.apache.spark

/** `waitUntilEmpty` is `private[spark]`: the benchmark drains the listener
  * bus before it reads its counters, so that job and task events still in
  * flight are not lost. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
