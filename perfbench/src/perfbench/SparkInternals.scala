// Two package-private Spark hooks the benchmark's listener needs.

package org.apache.spark {
  /** Waits until Spark's listener bus has delivered every posted event,
    * so the benchmark's listener holds the complete job record before
    * the layer breakdown is computed. */
  object BusDrain {
    def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql.execution.ui {
  /** The action name ("count", "save", …) of a finished SQL execution. */
  object ExecutionName {
    def of(e: SparkListenerSQLExecutionEnd): String = e.executionName.getOrElse("")
  }
}
