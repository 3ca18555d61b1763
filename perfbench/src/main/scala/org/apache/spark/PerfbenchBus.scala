package org.apache.spark

/** The listener bus delivers Spark's job, task and SQL events on its own
  * thread. Reading a counter at an op boundary without draining the bus
  * first would charge one op's tasks to the next. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
