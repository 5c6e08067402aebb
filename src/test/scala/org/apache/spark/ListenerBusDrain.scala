package org.apache.spark

/** Test access to the driver's listener bus, which is `private[spark]`. */
object ListenerBusDrain {

  /** Block until every event posted so far has reached the listeners. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
