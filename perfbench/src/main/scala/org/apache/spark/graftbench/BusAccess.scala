package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus. The traced run drains the
  * asynchronous bus after every query, so each job, stage, task, execution
  * and micro-batch event is attributed to the query that caused it before
  * the next one starts. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
