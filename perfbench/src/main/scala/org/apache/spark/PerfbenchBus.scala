package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run reads its event records only after every queued event
  * was delivered.
  */
object PerfbenchBus {
  def drain(): Unit =
    SparkContext.getActive.foreach(_.listenerBus.waitUntilEmpty())
}
