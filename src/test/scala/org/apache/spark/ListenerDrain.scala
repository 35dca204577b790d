package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private: a spec that
  * counts listener events reads them only after every queued one arrived.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
