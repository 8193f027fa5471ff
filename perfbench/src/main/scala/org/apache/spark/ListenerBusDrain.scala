package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so a
  * span closed after this call owns all of the Spark events it caused.
  * Lives in this package because the bus is private to Spark.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
