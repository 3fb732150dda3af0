package org.apache.spark

/** Wait until the listener bus has delivered every queued event, so a spec's
  * SparkListener has seen all of a finished action's jobs and stages.
  * `SparkContext.listenerBus` is package-private, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
