package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The streaming micro-batch execution an SQL-execution-end event
  * carries, if any. The field is internal to Spark SQL, hence this shim in
  * its package. Micro-batches reach listeners only through this event:
  * they run unnamed, so `QueryExecutionListener` never sees them. */
object SqlEnd {
  def microBatch(e: SparkListenerSQLExecutionEnd): Option[IncrementalExecution] =
    Option(e.qe).collect { case ie: IncrementalExecution => ie }
}
