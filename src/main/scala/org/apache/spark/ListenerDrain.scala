package org.apache.spark

/** Block until the listener bus has delivered every event posted so
  * far, so a listener read (or reset) after an action sees all of that
  * action's task ends and none arrive late. `waitUntilEmpty` is
  * `private[spark]`, hence the package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
