package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private, so
  * a spec can read its listeners only after every event arrived.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
