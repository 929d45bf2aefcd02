package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the tracer needs: drain the asynchronous
  * listener bus, so that every event an operation caused has been
  * delivered before the operation's span is closed. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
