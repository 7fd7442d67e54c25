package org.apache.spark

/** The listener bus's drain is `private[spark]`; the traced run uses it to
  * wait until every event posted so far has reached the listeners before
  * reading their state.
  */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
