// Two package-private calls the runner needs, opened from inside the
// packages that own them. Neither changes what the engine does.

package org.apache.spark {
  /** Waits until the listener bus has delivered every posted event. */
  object QBenchDrain {
    def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft {
  /** Drops the query memos that the engine's own bench clears between
    * queries. */
  object QBenchMemos {
    def clear(): Unit = {
      queries.Relational.clearShared()
      queries.PipelineOps.clearShared()
    }
  }
}
