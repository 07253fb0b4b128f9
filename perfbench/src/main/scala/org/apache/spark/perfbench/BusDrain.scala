package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far reached every listener, so the
  * listener counters are complete when a timed section is read out.
  * (`listenerBus` is private to the `org.apache.spark` package.)
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
