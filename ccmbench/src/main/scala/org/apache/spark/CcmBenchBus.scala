package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two Spark internals the benchmark's listener needs. */
object CcmBenchBus {

  /** Waits until the listener bus has delivered every event posted so far,
    * so per-span counters are complete without sleeping.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether the stage writes shuffle output (else it is a result stage). */
  def isShuffleMap(i: StageInfo): Boolean = i.shuffleDepId.isDefined
}
