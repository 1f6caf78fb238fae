package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskContext

/** Accessor for the `private[spark]` task output-metric setters, for files
  * written outside Spark's SQL writer. Same rationale as [[ColumnBridge]]. */
object WriteBridge {
  /** Add one written object's rows and bytes to the running task's output metrics. */
  def addOutput(rows: Long, bytes: Long): Unit = Option(TaskContext.get()).map(_.taskMetrics().outputMetrics).foreach { m =>
    m.setRecordsWritten(m.recordsWritten + rows)
    m.setBytesWritten(m.bytesWritten + bytes)
  }
}
