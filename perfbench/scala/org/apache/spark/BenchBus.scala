package org.apache.spark

/** The benchmark's one reach into Spark internals: block until the
  * listener bus has delivered every posted event, so a traced call's
  * jobs, stages and micro-batches are all recorded before it is read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
