package org.apache.spark

/** The listener bus delivers events on its own thread; the tracer must
  * see all of an operation's events before it stops listening. Spark
  * keeps the wait to itself, so it is reached from Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
