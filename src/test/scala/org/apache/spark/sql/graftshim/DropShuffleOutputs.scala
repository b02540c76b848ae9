package org.apache.spark.sql.graftshim

import org.apache.spark.{MapOutputTrackerMaster, SparkEnv}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** Lost-shuffle-output fault on demand: after every job that READS a
  * shuffle (a result stage over a map stage), unregister that
  * shuffle's map outputs, so the next job over it recomputes the map
  * stage instead of reusing the files. Attach with
  * `sparkContext.addSparkListener` around the code under test. Lives
  * in the `org.apache.spark` namespace because the map-output tracker
  * is `private[spark]`.
  */
class DropShuffleOutputs extends SparkListener {
  private val reads =
    new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val shuffles = e.stageInfos.flatMap(_.shuffleDepId)
    if (shuffles.nonEmpty && e.stageInfos.exists(_.shuffleDepId.isEmpty))
      reads.put(e.jobId, shuffles)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(reads.remove(e.jobId)).foreach { shuffles =>
      val tracker = SparkEnv.get.mapOutputTracker
        .asInstanceOf[MapOutputTrackerMaster]
      shuffles.filter(tracker.containsShuffle)
        .foreach(tracker.unregisterAllMapAndMergeOutput)
    }
}
