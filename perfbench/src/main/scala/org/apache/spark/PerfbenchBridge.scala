package org.apache.spark

/** Reaches the one `private[spark]` call the benchmark needs: waiting until
  * the listener bus has delivered every queued event, so that per-query
  * counts read after a query are complete.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
