package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run must see every event of its jobs before it sums them.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
