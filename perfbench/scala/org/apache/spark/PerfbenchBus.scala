package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.SparkListenerInterface

/** The two listener-bus calls the benchmark's tracer needs that Spark
  * keeps package-private: membership (so a listener is added only when
  * absent) and draining (so every event of a traced window has been
  * delivered before the counters are read).
  */
object PerfbenchBus {
  def copies(sc: SparkContext, l: SparkListenerInterface): Int =
    sc.listenerBus.listeners.asScala.count(_ eq l)

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
