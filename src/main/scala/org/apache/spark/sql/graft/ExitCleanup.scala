package org.apache.spark.sql.graft

import java.io.File

import org.apache.spark.util.Utils

/** Package bridge to Spark's `private[spark]` exit-time directory
  * cleanup. [[tempDir]] makes a fresh directory that Spark's shutdown
  * hook deletes recursively at `TEMP_DIR_SHUTDOWN_PRIORITY`, which
  * runs after the SparkContext's own hook
  * (`SPARK_CONTEXT_SHUTDOWN_PRIORITY`) has stopped it — so nothing
  * still executing can lose its files. */
object ExitCleanup {
  def tempDir(prefix: String): File = Utils.createTempDir(namePrefix = prefix)
}
