package org.apache.spark

/** The one engine internal the benchmark needs: waiting until every posted
  * listener event has been delivered, so trace aggregation after a timed
  * region sees all jobs, stages and tasks of that region. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
