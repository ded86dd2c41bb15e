package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run attributes each job to the call that ran it. Lives in
  * Spark's package only because `listenerBus` is `private[spark]`. */
object PerfBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
