package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the one `private[spark]` call the tracer needs; lives in the
  * `org.apache.spark` namespace only to satisfy the access qualifier. */
object Bridge {

  /** Block until every queued listener event has been delivered, so the
    * events of one operation are attributed before the next one starts. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
