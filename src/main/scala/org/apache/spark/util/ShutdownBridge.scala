package org.apache.spark.util

/** Spark keeps its shutdown-hook manager `private[spark]`; this bridge
  * re-exports its delete-at-exit registry, the same pattern as
  * `StatusBridge`. */
object ShutdownBridge {
  /** Delete `dir` recursively when the JVM exits, in Spark's temp-dir
    * hook, which runs after every SparkContext has stopped. */
  def deleteOnExit(dir: java.io.File): Unit =
    ShutdownHookManager.registerShutdownDeleteDir(dir)
}
