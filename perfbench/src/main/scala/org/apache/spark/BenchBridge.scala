package org.apache.spark

/** The one private Spark hook the benchmark needs: block until every
  * queued listener event has been delivered, so the trace read after a
  * timed call sees all of that call's jobs, stages and tasks. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
