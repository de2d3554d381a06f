package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * counter read after an action sees that action's jobs and tasks. The
  * bus is `private[spark]`, hence this one-method shim in Spark's
  * package. */
object BenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
