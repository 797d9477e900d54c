package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is delivered asynchronously; the traced run must
  * read per-span task metrics only after every event up to now has been
  * handled. `waitUntilEmpty` is package-private to Spark, hence this
  * one-line accessor in Spark's package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
