package org.apache.spark

/** Listener-bus access for specs that count a request's Spark jobs: the
  * count is read only after every event has reached the listener, and the
  * bus's drain call is Spark-internal. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
