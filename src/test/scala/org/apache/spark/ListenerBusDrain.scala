package org.apache.spark

/** Waits until the asynchronous listener bus has delivered every event
  * posted so far, so a test's `SparkListener` sees every job and stage of
  * the actions it just ran. Lives in Spark's package because the bus is
  * package-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = { sc.listenerBus.waitUntilEmpty(30000L); () }
}
