package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches. Lives under `org.apache.spark`
  * for the listener bus's drain, so the count covers every job-start event
  * the block posted, not only those delivered before it returned. */
object JobCounter {
  def apply(sc: SparkContext)(body: => Unit): Int = {
    sc.listenerBus.waitUntilEmpty()
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    n.get
  }
}
