package org.apache.spark

/** The one scheduler call the job-counting specs need that Spark keeps
  * package-private: block until the listener bus has delivered every
  * posted event, so a listener's counts are complete when read.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
