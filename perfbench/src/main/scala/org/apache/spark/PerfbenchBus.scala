package org.apache.spark

/** The one Spark-internal hook the traced run needs: wait until the listener
  * bus has delivered every queued event, so a span's task and stage metrics
  * are complete before they are read. `SparkContext.listenerBus` is
  * package-private, hence this object's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
