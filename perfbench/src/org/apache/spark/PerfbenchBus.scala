package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its listener's counts only after every event posted so far has been
  * delivered. `waitUntilEmpty` is package-private to Spark, hence this
  * one-method bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
