package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The job description (`spark.job.description`) of every Spark job
  * started while `body` runs, in start order. Lives in
  * `org.apache.spark` to drain the listener bus before reading
  * (`listenerBus` is `private[spark]`).
  */
object JobDescriptions {
  def during[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.listenerBus.waitUntilEmpty(60000L)
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(60000L)
      (out, scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator()).asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
