package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The package-private Spark members the benchmark's trace collector reads.
  * Spark delivers listener events on an async bus, so a span is closed only
  * after the bus has drained; the planning phases of every SQL execution,
  * from any session, ride on its end event; and the block manager's storage
  * memory counts every block still held, cached or checkpointed. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def storageMemoryUsed(sc: SparkContext): Long = sc.env.memoryManager.storageMemoryUsed

  /** Summed analysis + optimization + planning time of the execution. */
  def planningMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum)
      .getOrElse(0L)
}
