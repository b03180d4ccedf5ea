package org.apache.spark

/** Test access to the listener bus's drain, which Spark keeps
  * package-private: tests that read listener events must wait until every
  * posted event has been delivered. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
