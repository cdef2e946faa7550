package org.apache.spark

/** The listener bus drain is `private[spark]`; the traced run waits on it
  * at every span boundary so that job, task and query-execution events
  * are attributed to the span that caused them.
  */
object BenchBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
