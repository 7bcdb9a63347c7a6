package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the run record is rendered only after every job and stage event of
  * the run has been delivered to the harness's listener.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
