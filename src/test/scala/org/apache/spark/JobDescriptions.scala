package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Listener helpers for specs. Live in `org.apache.spark` to drain the
  * listener bus before reading (`listenerBus` is `private[spark]`).
  */
object JobDescriptions {

  /** The job description (`spark.job.description`) of every Spark job
    * started while `body` runs, in start order.
    */
  def during[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val out = listening(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    })(body)
    (out, scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator()).asScala.toSeq)
  }

  /** Run `body` with `listener` attached; every event `body` posts has
    * reached the listener when this returns.
    */
  def listening[T](sc: SparkContext, listener: SparkListener)(body: => T): T = {
    sc.listenerBus.waitUntilEmpty(60000L)
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(60000L)
      out
    } finally sc.removeSparkListener(listener)
  }
}
