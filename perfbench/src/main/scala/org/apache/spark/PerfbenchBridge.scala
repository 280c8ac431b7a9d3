package org.apache.spark

/** The one package-private Spark call the benchmark needs: block until
  * every posted listener event (jobs, tasks, streaming progress) has been
  * delivered, so a traced call's listener data is complete. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
