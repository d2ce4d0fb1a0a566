package org.apache.spark

/** The one Spark internal a listener-counting spec needs. */
object TestBus {

  /** Waits until the listener bus has delivered every event posted so far,
    * so counters read after it are complete without sleeping.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
