package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * span that closes has seen all the jobs, tasks and progress events its
  * body caused. The bus is `private[spark]`, hence the package. */
object PerfBenchBus {
  def drain(): Unit = SparkContext.getActive.foreach { sc =>
    try sc.listenerBus.waitUntilEmpty(30000L) catch { case _: Throwable => () }
  }
}
