package org.apache.spark

/** Test access to the listener bus drain, which Spark keeps
  * package-private: after `drain`, every event of the jobs that have
  * finished has reached the registered listeners.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
