package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * rollup read after an action sees all of that action's task events.
  * (`listenerBus` is package-private to Spark.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
