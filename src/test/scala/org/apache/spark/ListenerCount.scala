package org.apache.spark

/** The number of listeners on a context's bus (`listenerBus` is
  * `private[spark]`), for specs that pin how many a component registers. */
object ListenerCount {
  def of(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
