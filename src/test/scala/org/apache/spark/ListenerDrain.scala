package org.apache.spark

/** Test access to the driver's listener bus, which is `private[spark]`:
  * a listener sees every event of finished jobs only once the bus has
  * been drained. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
