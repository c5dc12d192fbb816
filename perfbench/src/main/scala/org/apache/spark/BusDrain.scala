package org.apache.spark

/** Waits until the SparkContext's listener bus has delivered every
  * posted event. The bus is asynchronous, so a trace read straight
  * after an action could miss that action's task and query events.
  * `listenerBus` is private to the spark package, hence this file's
  * package. Called only outside timed regions.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
