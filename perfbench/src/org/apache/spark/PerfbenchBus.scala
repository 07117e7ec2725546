package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every event
  * posted so far, so a traced run reads complete job, stage and progress
  * records. Lives in Spark's package because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = { sc.listenerBus.waitUntilEmpty(30000L); () }
}
