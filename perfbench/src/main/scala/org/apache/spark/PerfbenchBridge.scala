package org.apache.spark

/** The listener bus is package-private; the benchmark waits on it so a
  * traced span's task metrics have all arrived before they are read. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
