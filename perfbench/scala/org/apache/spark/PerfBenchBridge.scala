package org.apache.spark

/** The one package-private hook the benchmark needs: listener events are
  * delivered asynchronously, so a traced span must drain the bus before it
  * reads the counts its jobs produced.
  */
object PerfBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
