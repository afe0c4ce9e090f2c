package org.apache.spark.sql

import org.apache.spark.TaskContext

/** Bridge to the `private[spark]` setters of a task's output metrics, for
  * graft's own V2 writers: Spark's file-commit protocol fills these in for
  * its file sources, but a DataSource V2 writer has to record its own. */
object GraftOutputMetrics {

  /** Adds `bytes` and `records` written to the running task's output
    * metrics; a no-op outside a task. */
  def add(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { tc =>
      val m = tc.taskMetrics().outputMetrics
      m.setBytesWritten(m.bytesWritten + bytes)
      m.setRecordsWritten(m.recordsWritten + records)
    }
}
