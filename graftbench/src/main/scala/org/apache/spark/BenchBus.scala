package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private, so
  * the benchmark can read its listeners only after every event arrived.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
