package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext

/** The one Spark internal the benchmark reads from outside the program;
  * it is package-private in Spark. */
object Internals {

  /** Wait until the listener bus delivered every queued event: task-end
    * events arrive asynchronously, and a traced pass must read its
    * counters only after all of its events. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
