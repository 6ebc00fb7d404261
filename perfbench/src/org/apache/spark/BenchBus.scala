package org.apache.spark

/** Reaches the listener bus drain, which Spark keeps package-private. The
  * benchmark drains after every operation so that the events of one
  * operation are all delivered before the next one starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
