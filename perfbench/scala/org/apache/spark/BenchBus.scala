package org.apache.spark

/** Listener events arrive asynchronously; the benchmark drains the bus
  * before reading its counters so that every task of a finished operation
  * is counted in that operation's window. `listenerBus` is package-private
  * to Spark, hence this one-method bridge.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
