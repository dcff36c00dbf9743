package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private. */
object GraftListenerBus {

  /** Block until every event posted so far has reached its listeners,
    * so a test can read what a `QueryExecutionListener` recorded. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
