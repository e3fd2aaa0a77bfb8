package org.apache.spark

/** The listener bus is private to Spark; the harness needs to wait until
  * every task-end event of a finished operation has reached its listener
  * before it reads the operation's task CPU. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
