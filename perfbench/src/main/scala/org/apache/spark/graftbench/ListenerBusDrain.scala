package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously. The traced run waits
  * for it to empty at every query boundary, so each event is charged to
  * the query that caused it. `listenerBus` is private to the spark
  * package, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
