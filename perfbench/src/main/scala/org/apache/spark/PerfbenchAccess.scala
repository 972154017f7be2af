package org.apache.spark

/** The few runtime readings the benchmark needs that Spark keeps
  * package-private. Read-only: nothing here changes engine state.
  */
object PerfbenchAccess {

  /** Block until every queued listener event has been delivered, so
    * per-pass counters read after a pass include all of that pass's
    * task, stage, job and query-execution events.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes the block manager holds in memory: cached relations,
    * checkpoints and broadcast blocks.
    */
  def storageMemoryUsed: Long = SparkEnv.get.memoryManager.storageMemoryUsed

  /** Bytes currently granted to running tasks (aggregation maps, sort
    * buffers, shuffle writers).
    */
  def executionMemoryUsed: Long = SparkEnv.get.memoryManager.executionMemoryUsed
}
