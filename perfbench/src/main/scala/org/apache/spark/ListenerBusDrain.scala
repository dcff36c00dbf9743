package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark waits for
  * it to empty so that each event is attributed to the query that caused
  * it. The bus is private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
