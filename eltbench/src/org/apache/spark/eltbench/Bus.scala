package org.apache.spark.eltbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so counts
  * read afterwards are final. The bus's drain call is Spark-internal; this
  * package is inside `org.apache.spark` only to reach it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
