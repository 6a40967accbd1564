package org.apache.spark

/** Listener-bus and accumulator lookups the benchmark's traced run needs
  * from Spark-internal objects.
  */
object PerfbenchBus {
  /** Waits until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The registered name of a live accumulator. */
  def accumName(id: Long): Option[String] =
    org.apache.spark.util.AccumulatorContext.get(id).flatMap(_.name)
}
