package org.apache.spark.sql.graft

import java.io.File

import org.apache.spark.util.ShutdownHookManager

/** Test-side view of Spark's `private[spark]` exit-time cleanup
  * registry, for specs outside this package. */
object ExitCleanupProbe {
  /** Whether `dir` is itself registered for deletion at exit. */
  def registered(dir: File): Boolean = ShutdownHookManager.hasShutdownDeleteDir(dir)
}
