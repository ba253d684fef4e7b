package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners have seen all of a call's jobs, tasks and
  * micro-batches before their counters are read. The bus is Spark-internal,
  * hence this one object in Spark's package. */
object BusDrain {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
