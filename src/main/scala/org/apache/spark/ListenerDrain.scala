package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private: whoever
  * counts listener events (`graft.Harness.meter`) reads them only after
  * every queued one arrived.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
