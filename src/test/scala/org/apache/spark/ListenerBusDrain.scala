package org.apache.spark

/** Test access to the driver's listener bus, which is Spark-private. */
object ListenerBusDrain {
  /** Blocks until every event posted so far has reached every listener
    * (the status tracker's store included).
    */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
