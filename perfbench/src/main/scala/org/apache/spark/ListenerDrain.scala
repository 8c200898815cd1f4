package org.apache.spark

/** The listener bus delivers job events asynchronously; the traced run
  * drains it before reading the recorded jobs of a finished operation. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
