package org.apache.spark

/** The listener bus delivers events on its own thread. A traced span must
  * see every event of its jobs before it closes, so the tracer drains the
  * bus at span boundaries; `waitUntilEmpty` is package-private, hence this
  * one-line bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
