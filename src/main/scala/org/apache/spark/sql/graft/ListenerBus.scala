package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which is Spark-private. */
object ListenerBus {
  /** Blocks until every event posted so far has reached every listener
    * (the status tracker's store included).
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
