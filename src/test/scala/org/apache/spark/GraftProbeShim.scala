package org.apache.spark

/** TEST-HARNESS-ONLY shim (used by [[graft.StreamLossProbe]] and the
  * job budget of [[graft.PipelineSpec]]): `SparkContext.killAndReplaceExecutor`
  * is `private[spark]`, but it is precisely the fault-injection
  * primitive an executor-loss rehearsal needs — it kills an executor
  * WITHOUT lowering the app's desired executor total, so the Master
  * spawns a replacement (the real "executor died" shape). The public
  * `killExecutors` instead shrinks the target; repeated kill attempts
  * starve the app to zero executors and a streaming drain hangs
  * forever in awaitTermination (observed in the round-12 probe).
  * Nothing in the shipped library's operators touches this. */
object GraftProbeShim {
  def killAndReplace(sc: SparkContext, executorId: String): Boolean =
    sc.killAndReplaceExecutor(executorId)

  /** Waits until the listener bus has delivered every queued event, so
    * the status store (`statusTracker`) knows every finished job. The
    * drain is `private[spark]`. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
