package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event posted so
  * far (the bus is asynchronous and `waitUntilEmpty` is Spark-private).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
