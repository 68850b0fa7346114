package org.apache.spark

/** The one engine-internal call the benchmark needs: block until every
  * listener event posted so far has been delivered, so a collector read
  * right after a timed call sees all of that call's jobs and tasks.
  * `listenerBus` is `private[spark]`, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
