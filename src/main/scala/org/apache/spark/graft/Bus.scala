package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private:
  * [[graft.obs.Collector]] drains it after each traced operation, so every
  * event of that operation has been delivered before its record is read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
