package org.apache.spark.perfbench

import org.apache.spark.SparkContext

import scala.jdk.CollectionConverters._

/** The listener bus is private[spark]; the traced run needs to drain it
  * before reading its listeners and to read the bus's own count of
  * events it dropped because a queue was full. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Events dropped so far, summed over every listener queue. */
  def droppedEvents(sc: SparkContext): Long =
    sc.listenerBus.metrics.metricRegistry.getCounters.asScala
      .collect { case (name, c) if name.endsWith("numDroppedEvents") => c.getCount }
      .sum
}
