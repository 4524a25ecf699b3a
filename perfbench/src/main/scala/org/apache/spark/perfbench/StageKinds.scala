package org.apache.spark.perfbench

import org.apache.spark.scheduler.StageInfo

/** Accessor for the `private[spark]` shuffle id of a stage: a job whose
  * final stage has one only materializes a shuffle (no action result).
  */
object StageKinds {
  def isShuffleMap(s: StageInfo): Boolean = s.shuffleDepId.isDefined
}
