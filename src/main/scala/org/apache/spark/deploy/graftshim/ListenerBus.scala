package org.apache.spark.deploy.graftshim

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; this is the one call
  * [[graft.JobStats]] needs from it.
  */
object ListenerBus {

  /** Block until every event posted so far has reached every listener
    * (at most 10 s, then `TimeoutException`).
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
