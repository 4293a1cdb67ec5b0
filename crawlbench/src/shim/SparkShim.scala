package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two `private[spark]` facts the benchmark's tracer needs; it lives in
  * Spark's package to reach them. */
object SparkShim {
  /** Waits until the listener bus has delivered every posted event, so a
    * tracer read right after an action sees that action's jobs and tasks. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A map stage: the final stage of a job that adaptive query execution
    * submits to materialize one query stage. */
  def isMapStage(s: StageInfo): Boolean = s.shuffleDepId.isDefined
}
