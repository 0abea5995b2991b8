package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far. The bus is private to Spark, hence this object's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
