package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the tracer needs: listener events are
  * delivered asynchronously, so spans are only attributed after every
  * event posted so far has reached the listeners. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
