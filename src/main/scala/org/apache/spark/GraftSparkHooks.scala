package org.apache.spark

/** Package-private Spark hooks the diagnostics need (r14 ADVICE): the
  * listener bus is asynchronous, so a profiler that reads its buffers
  * right after an action returns can miss job-end events still in
  * flight. `waitUntilEmpty` is `private[spark]` — this shim exposes it
  * to the graft profiler (`graft.Prof`) and to the specs that count jobs;
  * nothing on the bench or query path uses it. */
object GraftSparkHooks {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
