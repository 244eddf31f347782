package org.apache.spark

/** The live listener bus is package-private; the benchmark's tracer needs
  * to wait for it so that every job, task and query event of a traced pass
  * has been delivered before the pass is summarised. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
