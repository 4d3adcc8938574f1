package org.apache.spark

/** Listener-bus access for the benchmark's tracer: per-request Spark
  * figures are read only after every event of the request has reached the
  * listener, and the bus's drain call is Spark-internal. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
