package org.apache.spark

/** Test access to the listener bus (`private[spark]`): wait until every
  * event posted so far has reached the listeners, so a spec can read
  * counts a listener took during an action that has returned.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
