package org.apache.spark

/** The one `private[spark]` call the benchmark needs: block until every
  * posted listener event has been delivered, so job/stage/task facts are
  * complete before they are read (no sleeps). */
object LoadBenchHooks {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
