package org.apache.spark.graftbridge

import org.apache.spark.{MapOutputTrackerMaster, SparkEnv, TaskContext}
import org.apache.spark.shuffle.FetchFailedException

/** Test-side shim: fail the running task the way a lost shuffle output
  * fails it. FetchFailedException and the map-output tracker are
  * private[spark]; only a local-mode test may call this (its tasks see
  * the tracker master). */
object LostShuffle {
  /** Drop every map output of the newest registered shuffle, then throw
    * the fetch failure a reader of it would. The scheduler re-runs that
    * shuffle's map stage and then the failed task's stage — a stage
    * retry, which `local[N]`'s one task attempt does not forbid. */
  def fail(): Nothing = {
    val tracker = SparkEnv.get.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
    val shuffleId = tracker.shuffleStatuses.keys.max
    tracker.unregisterAllMapAndMergeOutput(shuffleId)
    throw new FetchFailedException(null, shuffleId, -1L, -1, TaskContext.getPartitionId(),
      "injected: shuffle output lost", null)
  }
}
