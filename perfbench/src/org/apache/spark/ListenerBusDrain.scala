package org.apache.spark

/** The listener bus delivers events on its own thread; the benchmark waits
  * for it to empty before it reads what its listeners recorded. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
