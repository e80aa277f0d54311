// Package-private Spark internals the tracer reads, exposed from inside
// Spark's own packages.
package org.apache.spark {
  /** Waits until every posted listener event has been delivered, so the
    * tracer reads complete job, task and SQL records. */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  /** The query execution an SQL execution-end event belongs to: its
    * planning phases and the physical plan whose metrics the run read. */
  object PerfbenchSql {
    def queryExecution(e: execution.ui.SparkListenerSQLExecutionEnd): execution.QueryExecution = e.qe
  }
}
