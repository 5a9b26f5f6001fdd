package org.apache.spark

/** The private Spark hook the job-count specs need: block until every
  * queued listener event has been delivered, so a listener read after an
  * action has seen all of that action's jobs. */
object TestListeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
