package org.apache.spark

/** Test access to the driver's listener bus, which delivers events
  * asynchronously: a census of jobs waits here until every event posted so
  * far has reached the listeners. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
